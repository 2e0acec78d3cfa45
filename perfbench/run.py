"""Seeded end-to-end benchmark of the spatial engine.

    python3 perfbench/run.py --workload pip_overlay --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process drives a ``local[N]``
session, N = the CPUs this process may use. The run writes its inputs
(from ``--seed``) and oracles, sets the session up three times, times
the first pass of the last session (cold), runs one warm-up pass, then
times the pass for ``--seconds`` and checks every pass against the
oracles. Times are wall times less the hypervisor's steal. The last line
of stdout is one JSON object; ``--trace 1`` prints per-layer metrics
from spans around each public call instead of the end-to-end ones.
See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

from spans import COUNTERS, NoTracer, SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "workstealing_spatial_join_spark"
FIXTURES = os.path.join(ROOT, "bench_data", "concave")
SETUPS = 3
# steady passes run even when one pass outlasts --seconds; a traced run
# needs an untraced and a traced one to price the tracing
MIN_STEADY = {0: 1, 1: 2}
DRIVER_MEM = "1g"
# C1 only: with the default tiered C2 JIT, passes kept speeding up for
# six or more passes after the cold one, and each JVM settled at its own
# speed (CPU per pass varied about 2.5 times as much between runs as
# with C1), so pass times measured the JIT rather than the engine
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"

WORKLOADS = ("pip_overlay", "knn_tiles_write")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight() -> None:
    """Refuse to run outside a full checkout: no engine, no fixture."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"engine package {PACKAGE!r} not found under {ROOT}")
    for name in ("a", "b", "c", "d"):
        if not os.path.isfile(os.path.join(FIXTURES, f"layer_{name}.parquet")):
            fail(f"concave fixture layer_{name} not found under {FIXTURES}")


def process_table() -> dict[int, int]:
    """Parent pid of every process, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def resident_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with each page shared by
    n processes counted 1/n in each. Summed over a tree it counts the
    pages forked children share with their parent once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants(me: int, parent: dict[int, int]) -> set[int]:
    out = set()
    for pid in parent:
        p = parent.get(pid, 0)
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.add(pid)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, the Python workers), sampled from /proc.
    Summing each process's RSS instead would count the pages a forked
    Python worker shares with its daemon, or a short-lived child of the
    JVM with the JVM, twice; that made the peak jump by up to 1 GB from
    one run to the next."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            tree = descendants(me, process_table()) | {me}
            self.peak = max(self.peak, sum(resident_bytes(p) for p in tree))
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait until every process this
    run started (the JVM, its Python worker daemon and workers) ends."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants(os.getpid(), process_table())
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    print(f"perfbench: processes still running: {alive}", file=sys.stderr)


def cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class Timer:
    """Times a block. ``wall`` is its wall time; ``seconds`` is that
    less the hypervisor's steal: on a shared virtual machine the host
    takes CPU away from busy vCPUs at times, which made the same pass
    up to 25% longer from one run to the next. ``seconds`` scales the
    wall time by the share of the vCPUs' busy time the host did not
    steal, from /proc/stat; with no steal the two are equal."""

    def __enter__(self) -> "Timer":
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.seconds = self.wall * busy / (busy + steal) if busy + steal else self.wall


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def new_session(E, cores: int, work: str):
    return E.get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"{JVM_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


class Runner:
    """Runs passes in one session and keeps a record of each."""

    def __init__(self, spark, E, data, work: str):
        self.spark, self.E, self.data, self.work = spark, E, data, work
        self.n = 0
        self.passes: list[dict] = []
        self.table = None

    def one(self, kind: str, tr, pass_type: str) -> dict:
        """Run, time, then check one pass; the check is not timed."""
        from workloads import PASSES, Check

        run, check = PASSES[kind]
        self.n += 1
        pid = f"{kind}-{self.n}"
        # the probes resume the table the last write pass wrote
        table = self.table if kind == "probes" else os.path.join(self.work, "tables", pid)
        timer = Timer()
        try:
            with timer, tr.run_pass(pid, kind) as root:
                got = run(self.spark, self.E, self.data, tr, table)
            chk, extra = check(self.spark, self.data, got, table)
        except Exception:
            # a pass that raises counts as failed; the run goes on
            traceback.print_exc()
            chk, extra, root = Check(), {}, {}
            chk.errors.append(f"raised {sys.exc_info()[0].__name__}")
        if kind == "knn_tiles_write":
            self.table = table
        rec = {
            "id": pid, "kind": kind, "seconds": timer.seconds, "wall": timer.wall,
            "errors": chk.errors,
            "extra": extra, "type": pass_type, "jobs": root.get("jobs"),
        }
        for e in chk.errors:
            print(f"perfbench: {pid} oracle mismatch: {e}", file=sys.stderr)
        self.passes.append(rec)
        return rec


def end_to_end(runner: Runner, setups, rows: int, rss: int) -> dict:
    cold = runner.passes[0]["seconds"]
    p50 = median([p["seconds"] for p in runner.passes if p["type"] == "untraced"])
    return {
        "setup_s": median(setups),
        "cold_s": cold,
        "pass_p50_s": p50,
        "rows_per_s": rows / p50,
        "peak_rss_mb": rss / 2**20,
    }


# span name -> per-layer metric: the median span duration
SPAN_METRICS = {
    "ingest.exec": "ingest.s",
    "prepare": "prepare.s",
    "pip.plan": "pip.plan_s",
    "pip.exec": "pip.exec_s",
    "pip.pairs_plan": "pip.pairs_plan_s",
    "pip.pairs_exec": "pip.pairs_exec_s",
    "salt.plan": "salt.plan_s",
    "salt.exec": "salt.exec_s",
    "filter.exec": "filter.exec_s",
    "skew.cost": "skew.cost_s",
    "overlay.int_plan": "overlay.plan_s",
    "overlay.int_exec": "overlay.int_exec_s",
    "overlay.union_exec": "overlay.union_exec_s",
    "knn.plan": "knn.plan_s",
    "knn.exec": "knn.exec_s",
    "tiles.exec": "tiles.exec_s",
    "write": "write.s",
    "resume": "resume.s",
    "lineage.verify": "lineage.verify_s",
}
# pass types whose spans feed per-layer metrics (never a cold pass)
MEASURED = ("traced", "traced_noreads", "other", "probes")


def per_layer(runner: Runner, tracer, own: str) -> dict:
    """Per-layer values from the spans, counters and check extras of the
    traced steady passes, the other workload's pass and the probes."""
    kinds = {p["id"]: (p["kind"], p["type"]) for p in runner.passes if p["type"] in MEASURED}
    spans = [s for s in tracer.spans if s["pass_id"] in kinds and s["parent"] is not None]
    out: dict[str, float] = {}
    for name, metric in SPAN_METRICS.items():
        out[metric] = median([s["end"] - s["start"] for s in spans if s["name"] == name])
    extra: dict[str, list] = {}
    for p in runner.passes:
        if p["id"] in kinds:
            for k, v in p["extra"].items():
                extra.setdefault(k, []).append(v)
    out.update({k: median(v) for k, v in extra.items()})

    def per_pass(wanted) -> list[dict]:
        """Spark counters summed over each read-on pass whose
        (kind, type) is in ``wanted``."""
        totals: dict[str, dict] = {}
        for s in spans:
            if kinds[s["pass_id"]] in wanted:
                t = totals.setdefault(s["pass_id"], dict.fromkeys(COUNTERS[1:], 0.0))
                for k in t:
                    t[k] += s.get(k, 0.0)
        return list(totals.values())

    mine = per_pass({(own, "traced")})
    for k in ("shuffle_bytes", "broadcast_bytes"):
        out[f"spark.{k}"] = median([t[k] for t in mine])
    # only pip_overlay runs Python UDFs, so its passes give the Python time
    # in both traced runs; a knn_tiles_write pass has none by construction
    refine = per_pass({("pip_overlay", "traced"), ("pip_overlay", "other")})
    out["spark.python_s"] = median([t["python_s"] for t in refine])
    out["spark.jobs"] = median([
        p["jobs"] for p in runner.passes
        if p["kind"] == own and p["type"] in ("traced", "traced_noreads")
    ])
    out["overlay.candidates"] = median([
        s.get("python_rows", 0.0) for s in spans
        if s["name"] == "overlay.int_exec" and kinds[s["pass_id"]][1] in ("traced", "other")
    ])

    nan = float("nan")
    kernel = {s["name"]: s["end"] - s["start"] for s in spans if s["name"].endswith(".kernel")}
    out["ingest.rows_per_s"] = out.pop("polygons", nan) / out["ingest.s"]
    out["refine.kernel_pairs_per_s"] = out.pop("kernel.candidates", nan) / kernel.get("refine.kernel", nan)
    out["overlay.kernel_pairs_per_s"] = out.pop("kernel.overlay_pairs", nan) / kernel.get("overlay.kernel", nan)
    out["refine.useful_ratio"] = out.get("pip.results", nan) / out.get("filter.candidates", nan)
    traced = [p["seconds"] for p in runner.passes if p["kind"] == own and p["type"] == "traced"]
    plain = [p["seconds"] for p in runner.passes if p["kind"] == own and p["type"] == "untraced"]
    out["trace.overhead_frac"] = median(traced) / median(plain) - 1.0
    return out


def declared(values: dict, trace: int) -> dict:
    """The metrics BENCHMARK.json declares for this mode, with its units;
    a declared metric the run did not produce is a bug here."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def reads_add_jobs(runner: Runner) -> list[str]:
    """Passes traced with counter reads on and off must run the same
    Spark jobs: the reads themselves must start none."""
    on = {p["jobs"] for p in runner.passes if p["type"] == "traced"}
    off = {p["jobs"] for p in runner.passes if p["type"] in ("cold", "traced_noreads")}
    if on and on != off:
        return [f"jobs per pass with reads on {sorted(on)} != off {sorted(off)}"]
    return []


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    preflight()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # before the engine import: session.py reads SPARK_GRAFT_CPUS at import
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    os.chdir(work)
    try:
        result = run(args, cores, work, out_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(args, cores: int, work: str, out_dir: str) -> dict:
    import tempfile

    tempfile.tempdir = None  # pick up TMPDIR
    load_before = os.getloadavg()
    import workloads as W

    import workstealing_spatial_join_spark as E

    data = W.Data(args.seed, work, FIXTURES, files=cores)
    own = args.workload
    rows = W.N_POINTS + (data.overlay_mbr_pairs if own == "pip_overlay" else 0)

    sampler = RssSampler()
    sampler.start()
    # a traced run reports no setup_s, so it sets up once
    n_setups = 1 if args.trace else SETUPS
    setups, setup_walls = [], []
    try:
        for i in range(n_setups):
            with Timer() as t:
                spark = new_session(E, cores, work)
            setups.append(t.seconds)
            setup_walls.append(t.wall)
            if i < n_setups - 1:
                spark.stop()
    except BaseException:
        stop_jvm()
        raise

    runner = Runner(spark, E, data, work)
    plain = NoTracer()
    tracer = Tracer()
    try:
        if args.trace:
            tracer.counters = SparkCounters(spark)
            tracer.read_counters = False
            runner.one(own, tracer, "cold")
            # passes still speed up after the cold one, so whichever kind
            # runs first is slower: alternate the order with the seed
            cycle = ("untraced", "traced") if args.seed % 2 else ("traced", "untraced")
            cycle += ("traced_noreads",)
        else:
            runner.one(own, plain, "cold")
            # the first pass after the cold one still runs up to 17% slow,
            # by an amount that varies between runs: check it, do not time it
            runner.one(own, plain, "warmup")
            cycle = ("untraced",)
        deadline = time.perf_counter() + args.seconds
        k = 0
        while time.perf_counter() < deadline or k < MIN_STEADY[args.trace]:
            kind = cycle[k % len(cycle)]
            tracer.read_counters = kind == "traced"
            runner.one(own, plain if kind == "untraced" else tracer, kind)
            k += 1
        if args.trace:
            # one pass of the other workload, so every layer gets a value
            tracer.read_counters = True
            runner.one([w for w in WORKLOADS if w != own][0], tracer, "other")
            runner.one("probes", tracer, "probes")
            harness = reads_add_jobs(runner)
            for e in harness:
                print(f"perfbench: status reads changed job counts: {e}", file=sys.stderr)
    finally:
        spark.stop()
        stop_jvm()
        rss = sampler.stop()

    failed = sum(1 for p in runner.passes if p["errors"])
    correct = failed == 0
    if args.trace:
        correct = correct and not harness
        metrics = per_layer(runner, tracer, own)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        selfs = {k: round(median(v), 4) for k, v in tracer.self_times().items()}
        print(json.dumps({"self_time_s": selfs}), file=sys.stderr)
    else:
        metrics = end_to_end(runner, setups, rows, rss)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "load_before": load_before, "load_after": os.getloadavg(),
        "input_s": round(data.seconds, 3), "setups_s": setups, "setup_walls_s": setup_walls,
        "passes": [
            (p["type"], round(p["seconds"], 4), round(p["wall"], 4), len(p["errors"]))
            for p in runner.passes
        ],
        "fail_frac": failed / len(runner.passes),
    }
    print(json.dumps(record), file=sys.stderr)
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    return {
        "correct": bool(correct),
        "attempted": len(runner.passes),
        "failed": failed,
        "metrics": declared(metrics, args.trace),
    }


if __name__ == "__main__":
    main()
