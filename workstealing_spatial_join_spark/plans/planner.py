"""Spatial planner: pick the physical strategy for a spatial join from
table statistics, and audit that the produced plan has the shape the
engine promises (SURVEY.md §4).

The reference hard-codes one pipeline and one optimization set; here
the planner is a thin Python layer that inspects sizes and emits
DataFrame-plan OPTIONS — Catalyst/AQE still owns the physical plan.

Strategy matrix (mirrors §4's physical-execution decisions):
  polygons small (≤ broadcast_rows)        → broadcast the exploded
      polygon side (J4 fragment-and-replicate rebirth); load balance
      is a hash spread of the probe on point_id, never salting
  both large, skewed cells (cost table)    → salted cell join (LB1)
  both large, uniform                      → plain cell equi-join;
      AQE skew-split as backstop
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class JoinPlan:
    broadcast: bool | str
    salt: bool
    reason: str
    strategy: str = "catalyst"  # catalyst (cell join + UDF refine) | cogroup


def choose_pip_strategy(
    n_points: int,
    n_polygons: int,
    max_cell_share: float = 0.0,
    broadcast_rows: int = 2_000_000,
    skew_share_threshold: float = 0.05,
    est_candidates_per_point: float = 0.0,
    cogroup_density_threshold: float = 3.0,
) -> JoinPlan:
    """Decide strategy/broadcast/salt for a point-in-polygon join.

    ``max_cell_share``: fraction of points in the densest cell (from a
    stats pass or prior cost table; 0 = unknown/uniform).

    ``n_polygons`` is measured in the unit that actually gets
    replicated — EXPLODED polygon-cell rows (a polygon covering c
    cells counts c times), matching
    operators.spatial_join.BROADCAST_ROW_THRESHOLD.

    ``est_candidates_per_point``: expected MBR-candidate polygons per
    point (from the cell cost table: Σ est_pairs / n_points; 0 =
    unknown/sparse). MEASURED crossover (jobs/run_crossover.py, 2M
    points, 32 cores): at ~5 candidates/point the cell-bucketed
    cogroup beat the broadcast-dict refine 4.1× at 20k polygons and
    the WKB transport 3.7× at 800k — candidate-dense workloads pay
    per-candidate Arrow transport in the catalyst path, while cogroup
    refines each cell in one dense vectorized kernel call. The driver
    tables sit at ~2.6 candidates/point, where broadcast-dict wins.
    """
    if est_candidates_per_point >= cogroup_density_threshold:
        return JoinPlan(
            broadcast=False,
            salt=max_cell_share > skew_share_threshold,
            reason=f"~{est_candidates_per_point:.1f} candidates/point ≥ "
            f"{cogroup_density_threshold}: per-cell cogroup kernel "
            "(measured 3.7-4.1× over per-candidate Arrow transport at "
            "density ~5, jobs/crossover_runs.jsonl)",
            strategy="cogroup",
        )
    if n_polygons <= broadcast_rows:
        return JoinPlan(
            broadcast=True,
            salt=False,
            reason=f"polygon side {n_polygons} rows ≤ {broadcast_rows}: "
            "replicate build side (no shuffle on points)",
        )
    if max_cell_share > skew_share_threshold:
        return JoinPlan(
            broadcast=False,
            salt=True,
            reason=f"hot cell holds {max_cell_share:.1%} of points: "
            "salted cell join",
            strategy="cogroup",
        )
    return JoinPlan(
        broadcast=False,
        salt=False,
        reason="both sides large, no measured skew: cogroup cell join "
        "(the dict transport is capped and WKB-per-candidate measured "
        "3.7× slower at 800k polygons)",
        strategy="cogroup",
    )


def plan_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    poly_id: str = "polygon_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float | None = None,
    mode: str = "pairs",
    target_pairs_per_task: int = 100_000,
    **strategy_kwargs,
) -> tuple[DataFrame, JoinPlan]:
    """Measure, decide, dispatch — the planner made executable.

    ONE stats pass (the cell cost table both strategies would build
    anyway, plus a 5-value aggregate over it) yields n_points,
    n_polygon_cells, candidate density, and the hottest cell's share;
    ``choose_pip_strategy`` picks the physical strategy from the
    MEASURED crossover (jobs/crossover_runs.jsonl) and the join runs
    it. Returns (result DataFrame, the JoinPlan with its reason) so
    callers can log why the plan was chosen.

    At 10^12 rows this stats pass is two map-side-combined aggregates
    over (cell_id) — tiny vs the join it steers."""
    from pyspark.sql import functions as F

    from workstealing_spatial_join_spark.functions import grid as GRID
    from workstealing_spatial_join_spark.operators.cogroup_join import (
        point_in_polygon_join_cogrouped,
    )
    from workstealing_spatial_join_spark.operators.skew import cell_cost_table
    from workstealing_spatial_join_spark.operators.spatial_join import (
        point_in_polygon_join,
        tessellate_bbox,
        tessellate_points,
    )

    cell_deg = cell_deg or GRID.DEFAULT_CELL_DEG
    pts = tessellate_points(
        points.select(
            F.col(point_id).alias("point_id"),
            F.col(lon).alias("px"),
            F.col(lat).alias("py"),
        ),
        lon="px", lat="py", cell_deg=cell_deg,
    )
    pls = tessellate_bbox(
        polygons.select("minx", "miny", "maxx", "maxy"), cell_deg
    )
    cost = cell_cost_table(pts, pls, target_pairs=target_pairs_per_task)
    stats = cost.agg(
        F.sum("n_left").alias("np_in_joined_cells"),
        F.sum("est_pairs").alias("est_candidates"),
        F.max("n_left").alias("hottest_cell_points"),
    ).collect()[0]
    # the broadcast cap is defined in EXPLODED CELL ROWS (what the
    # engine actually replicates — BROADCAST_ROW_THRESHOLD), counted
    # over the WHOLE layer, not just cells that also contain points
    n_poly_cells = pls.count()
    n_points = stats["np_in_joined_cells"] or 0
    est_cand = stats["est_candidates"] or 0
    plan = choose_pip_strategy(
        n_points=int(n_points),
        n_polygons=int(n_poly_cells),
        max_cell_share=(
            (stats["hottest_cell_points"] or 0) / n_points if n_points else 0.0
        ),
        est_candidates_per_point=(est_cand / n_points if n_points else 0.0),
        **strategy_kwargs,
    )
    if plan.strategy == "cogroup":
        out = point_in_polygon_join_cogrouped(
            points, polygons, point_id=point_id, poly_id=poly_id,
            lon=lon, lat=lat, cell_deg=cell_deg, mode=mode,
            salt=plan.salt, target_pairs_per_task=target_pairs_per_task,
        )
    else:
        out = point_in_polygon_join(
            points, polygons, point_id=point_id, poly_id=poly_id,
            lon=lon, lat=lat, cell_deg=cell_deg, mode=mode,
            broadcast=plan.broadcast, salt=plan.salt,
            target_pairs_per_task=target_pairs_per_task,
        )
    return out, plan


# ------------------------------------------------------------- audit

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def audit_plan(df: DataFrame) -> dict:
    """Parse the formatted physical plan into the quality counters the
    engine cares about: Python nodes in the hot path, exchanges,
    broadcast usage, codegen coverage, pushed filters."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    jvm = df._sc._jvm  # noqa: SLF001
    plan = jvm.PythonSQLUtils.explainString(qe, "formatted")
    simple = jvm.PythonSQLUtils.explainString(qe, "simple")
    # a cached AdaptiveSparkPlan prints BOTH its final and its initial
    # physical plan; counting the initial one double-counts every
    # operator materialized behind an InMemoryRelation. Drop each
    # "== Initial Plan ==" SUBTREE (lines more indented than its
    # marker) from the tree section, then count operators by DISTINCT
    # node id — repeated prints of a shared cached relation collapse
    # to one.
    tree_lines = []
    skip_indent = None
    for line in plan.splitlines():
        stripped = line.lstrip()
        indent = len(line) - len(stripped)
        if skip_indent is not None:
            if stripped and indent <= skip_indent:
                skip_indent = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        tree_lines.append(line)
    tree = "\n".join(tree_lines)
    # tree section only (the detail section repeats every node and its
    # argument lines can contain incidental "(N)" patterns)
    split = re.search(r"\n\s*\n\(\d+\) ", tree)
    if split:
        tree = tree[: split.start()]
    name_by_id: dict[str, str] = {}
    for line in tree.splitlines():
        m = re.match(r"^[\s:+|*-]*([A-Za-z]\w*)", line)
        i = re.search(r"\((\d+)\)", line)
        if m and i:
            name_by_id.setdefault(i.group(1), m.group(1))

    def count_nodes(name: str) -> int:
        return sum(1 for nm in name_by_id.values() if nm == name)

    return {
        "python_nodes": {node: count_nodes(node) for node in _PY_NODES},
        "exchanges": count_nodes("Exchange") + count_nodes("BroadcastExchange"),
        "broadcast_joins": count_nodes("BroadcastHashJoin"),
        "sortmerge_joins": count_nodes("SortMergeJoin"),
        "shuffledhash_joins": count_nodes("ShuffledHashJoin"),
        "codegen_stages": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", simple))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "plan": plan,
    }


def assert_plan_quality(
    df: DataFrame, max_python_nodes: int, require_join: bool = True
) -> dict:
    """Raise if the plan regressed: more Python nodes than promised or
    no join operator where one is expected. Used by tests as the
    'explain and iterate' gate."""
    a = audit_plan(df)
    n_py = sum(a["python_nodes"].values())
    if n_py > max_python_nodes:
        raise AssertionError(
            f"plan has {n_py} Python nodes (max {max_python_nodes}):\n"
            + a["plan"][:4000]
        )
    if require_join and not (
        a["broadcast_joins"] or a["sortmerge_joins"] or a["shuffledhash_joins"]
    ):
        raise AssertionError("plan has no join operator:\n" + a["plan"][:4000])
    return a
