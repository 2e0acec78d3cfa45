"""The benchmark's passes and layer probes, through the public API only.

A pass is one user batch job: the same call sequence every time, timed
from reading its inputs to the last result, then checked against the
oracles in ``oracles.py``. Traced runs add one probe pass. Each public
call sits in a tracer span: ``*.plan`` spans build the DataFrame
(driver-side work such as layer collects happens here), ``*.exec``
spans run the action.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import inputs as I
import oracles as O

N_POINTS = 50_000
N_POLYGONS = 3_000
OVERLAY_COPIES = 2
KNN_QUERIES = 1_000
KNN_K = 5
TILE_ZOOM = 6
KERNEL_STRIDE = 4  # the overlay kernel probe times every 4th fixture pair


class Data:
    """Inputs written under ``workdir`` plus their oracles."""

    def __init__(self, seed: int, workdir: str, fixture_dir: str, files: int):
        t0 = time.perf_counter()
        self.dir = workdir
        self.points = I.make_points(seed, N_POINTS)
        self.rings = I.make_polygons(seed, N_POLYGONS)
        I.write_parquet(self.points, self.path("points"), files)
        I.write_parquet(I.polygons_wkt(self.rings), self.path("polygons"), 1)
        rng = np.random.default_rng([seed, 5])
        self.query_ids = np.sort(rng.choice(N_POINTS, KNN_QUERIES, replace=False))
        I.write_parquet(self.points.iloc[self.query_ids], self.path("queries"), 1)
        offsets = I.copy_offsets(seed, OVERLAY_COPIES)
        for name in "abcd":
            src = pd.read_parquet(os.path.join(fixture_dir, f"layer_{name}.parquet"))
            I.write_parquet(I.overlay_layer(src, offsets), self.path(f"layer_{name}"), 1)
        exp_int = pd.read_parquet(os.path.join(fixture_dir, "expected_int.parquet"))
        exp_union = pd.read_parquet(os.path.join(fixture_dir, "expected_union.parquet"))
        self.overlay_base = {"int": exp_int, "union": exp_union}
        self.overlay_mbr_pairs = OVERLAY_COPIES * len(exp_int)
        # intersection pairs come back only when the shapes meet; every
        # union candidate comes back
        self.want_int = O.overlay_expectation(exp_int, OVERLAY_COPIES, I.ID_STRIDE, True)
        self.want_union = O.overlay_expectation(exp_union, OVERLAY_COPIES, I.ID_STRIDE, False)
        self.pip = O.pip_oracle(self.points, self.rings)
        self.knn = O.knn_oracle(self.points, self.query_ids, KNN_K)
        self.tiles = O.tile_histogram(self.points, TILE_ZOOM)
        self.seconds = time.perf_counter() - t0

    def path(self, name: str) -> str:
        return os.path.join(self.dir, "inputs", name)


class Check:
    """Collects oracle disagreements for one pass."""

    def __init__(self):
        self.errors: list[str] = []

    def equal(self, what: str, got, want) -> None:
        if got != want:
            self.errors.append(f"{what}: got {got!r}, want {want!r}")

    def frames(self, what: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
        got = got.sort_values(list(want.columns[:2])).reset_index(drop=True)
        if len(got) != len(want) or not (got[want.columns].to_numpy() == want.to_numpy()).all():
            self.errors.append(f"{what}: {len(got)} rows differ from the {len(want)} expected")


def refine_pass(spark, E, data: Data, tr, table: str) -> dict:
    """Ingest WKT polygons, prepare the layer, count the points in it,
    count again with salting, then overlay the concave copies
    (intersection numPoints of a x b, pairs mode)."""
    from workstealing_spatial_join_spark.operators.ingest import ingest_geometry

    polys = spark.read.parquet(data.path("polygons"))
    pts = spark.read.parquet(data.path("points"))
    a, b = (spark.read.parquet(data.path(f"layer_{n}")) for n in "ab")
    with tr.span("ingest.plan"):
        layer = ingest_geometry(polys, "wkt", keep_cols=["polygon_id"])
    with tr.span("prepare"):
        prepared = E.PreparedPolygonLayer(layer)
    with tr.span("pip.plan"):
        q = E.point_in_polygon_join(pts, prepared, point_id="id", mode="count")
    with tr.span("pip.exec"):
        n_count = q.collect()[0][0]
    with tr.span("salt.plan"):
        q = E.point_in_polygon_join(pts, prepared, point_id="id", mode="count", salt=True)
    with tr.span("salt.exec"):
        n_salt = q.collect()[0][0]
    prepared.release()
    with tr.span("overlay.int_plan"):
        q = E.polygon_join(a, b, "poly_id", "poly_id", predicate="intersection_numpoints")
    with tr.span("overlay.int_exec"):
        got_int = q.toPandas()
    return {"count": n_count, "salted": n_salt, "cells": prepared.n_rows, "int": got_int}


def check_refine(spark, data: Data, got: dict, table: str) -> tuple[Check, dict]:
    chk = Check()
    chk.equal("prepared count", got["count"], data.pip["count"])
    chk.equal("salted count", got["salted"], data.pip["count"])
    chk.frames("intersection numPoints", got["int"], data.want_int)
    return chk, {
        "pip.results": got["count"], "prepare.cells": got["cells"],
        "overlay.pairs": len(got["int"]),
    }


def write_pass(spark, E, data: Data, tr, table: str) -> dict:
    """kNN over the points, then tile assignment written resumably."""
    pts = spark.read.parquet(data.path("points"))
    queries = spark.read.parquet(data.path("queries"))
    stats: dict = {}
    with tr.span("knn.plan"):
        q = E.knn_join(
            queries, pts, k=KNN_K, query_id="id", cand_id="id",
            exclude_self=True, stats=stats,
        )
    with tr.span("knn.exec"):
        got_knn = q.toPandas()
    with tr.span("tiles.plan"):
        tiles = E.assign_tiles(pts, zoom=TILE_ZOOM, point_id="id")
    with tr.span("write"):
        wrote = E.write_resumable(tiles, table)
    return {"knn": got_knn, "stats": stats, "wrote": wrote}


def check_write(spark, data: Data, got: dict, table: str) -> tuple[Check, dict]:
    """Besides the returned values, reads the written table back with
    pyarrow and compares its rows per tile with the oracle's."""
    chk = Check()
    knn = got["knn"].sort_values(["query_id", "rank"])
    chk.equal("knn rows", len(knn), KNN_QUERIES * KNN_K)
    if len(knn) == KNN_QUERIES * KNN_K:
        chk.equal("knn queries", bool((knn["query_id"].to_numpy()[::KNN_K] == data.query_ids).all()), True)
        chk.equal("knn neighbours", bool((knn["neighbor_id"].to_numpy().reshape(-1, KNN_K) == data.knn).all()), True)
    chk.equal("rows written", got["wrote"]["rows"], N_POINTS)
    chk.equal("tile histogram", tile_counts(table), data.tiles.to_dict())
    return chk, {
        "knn.rounds": got["stats"].get("rounds"),
        "knn.initial_ring": got["stats"].get("initial_ring"),
        "write.partitions": got["wrote"]["written_partitions"],
        "write.bytes_per_row": dir_bytes(f"{table}/data") / max(got["wrote"]["rows"], 1),
    }


def tile_counts(table: str) -> dict:
    data = ds.dataset(f"{table}/data", format="parquet", partitioning="hive")
    return data.to_table(columns=["tile_id"]).to_pandas()["tile_id"].value_counts().sort_index().to_dict()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def probe_pass(spark, E, data: Data, tr, table: str) -> dict:
    """Traced runs only. Calls that isolate one layer, and the calls the
    two timed passes leave out: the ingest alone, the filter without
    refine, the cost estimator, the tile projection, pairs on the plain
    DataFrame layer, the union overlay, a resume of the table ``table``
    that the last write pass wrote and a lineage check on it,
    and the refine and overlay kernels run in this process on one core
    through each pandas UDF's ``.func``."""
    from pyspark.sql import functions as F

    from workstealing_spatial_join_spark.functions import predicates as P
    from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
    from workstealing_spatial_join_spark.operators.skew import cell_cost_table
    from workstealing_spatial_join_spark.operators.spatial_join import tessellate_points
    from workstealing_spatial_join_spark.sources.writer import verify_lineage

    out = {}
    polys = spark.read.parquet(data.path("polygons"))
    pts = spark.read.parquet(data.path("points"))
    c, d = (spark.read.parquet(data.path(f"layer_{n}")) for n in "cd")
    layer = ingest_geometry(polys, "wkt", keep_cols=["polygon_id"])
    with tr.span("ingest.exec"):
        out["ingested"] = layer.count()
    prepared = E.PreparedPolygonLayer(layer)
    with tr.span("filter.exec"):
        q = E.point_in_polygon_join(pts, prepared, point_id="id", mode="count", refine=False)
        out["candidates"] = q.collect()[0][0]
    with tr.span("skew.cost"):
        cells = tessellate_points(pts.select(F.col("id").alias("point_id"), "lon", "lat"))
        out["hot"] = cell_cost_table(
            cells, prepared.exploded, right_cell_counts=prepared.cell_counts
        ).where(F.col("n_salt") > 1).collect()
    prepared.release()
    with tr.span("pip.pairs_plan"):
        q = E.point_in_polygon_join(pts, layer, point_id="id")
    with tr.span("pip.pairs_exec"):
        out["pairs"] = q.toPandas()
    with tr.span("overlay.union_plan"):
        q = E.polygon_join(c, d, "poly_id", "poly_id", predicate="union_numpoints")
    with tr.span("overlay.union_exec"):
        out["union"] = q.toPandas()
    tiles = E.assign_tiles(pts, zoom=TILE_ZOOM, point_id="id")
    with tr.span("tiles.exec"):
        tiles.write.format("noop").mode("overwrite").save()
    with tr.span("resume"):
        out["resumed"] = E.write_resumable(tiles, table)
    with tr.span("lineage.verify"):
        out["bad"] = verify_lineage(spark, table).count()

    # refine kernel: every MBR candidate pair, polygon WKB as ingested
    wkb = layer.select("polygon_id", "geom_wkb").toPandas().set_index("polygon_id")["geom_wkb"]
    pt_idx, poly_idx = data.pip["cand_pts"], data.pip["cand_polys"]
    batch = pd.Series(wkb.loc[poly_idx].to_numpy())
    xs = pd.Series(data.points["lon"].to_numpy()[pt_idx])
    ys = pd.Series(data.points["lat"].to_numpy()[pt_idx])
    with tr.span("refine.kernel"):
        out["inside"] = P.st_contains_xy.func(batch, xs, ys)

    # overlay kernels on every KERNEL_STRIDE-th pair of the committed fixture
    args = []
    for kind, left, right in (("int", "a", "b"), ("union", "c", "d")):
        exp = data.overlay_base[kind].iloc[::KERNEL_STRIDE]
        wa = pd.Series(_base_layer(data, left).loc[exp["a_id"]].to_numpy())
        wb = pd.Series(_base_layer(data, right).loc[exp["b_id"]].to_numpy())
        args.append((wa, wb))
    with tr.span("overlay.kernel"):
        out["kernel_int"] = P.st_intersection_num_points.func(*args[0])
        out["kernel_union"] = P.st_union_num_points.func(*args[1])
    return out


def check_probes(spark, data: Data, got: dict, table: str) -> tuple[Check, dict]:
    chk = Check()
    chk.equal("ingested polygons", got["ingested"], len(data.rings))
    chk.equal("filter candidates", got["candidates"], data.pip["candidates"])
    keys = np.sort(O.pair_key(got["pairs"]["point_id"], got["pairs"]["poly_id"]))
    same = len(keys) == len(data.pip["pairs"]) and bool((keys == data.pip["pairs"]).all())
    chk.equal("pairs on the DataFrame layer", same, True)
    chk.frames("union numPoints", got["union"], data.want_union)
    chk.equal("resume writes", got["resumed"]["written_partitions"], 0)
    partitions = sum(e.is_dir() for e in os.scandir(f"{table}/data"))
    chk.equal("resume skips", got["resumed"]["skipped_partitions"], partitions)
    chk.equal("lineage mismatches", got["bad"], 0)
    chk.equal("kernel contains", int(got["inside"].sum()), data.pip["count"])
    n_overlay = 0
    for kind in ("int", "union"):
        want = data.overlay_base[kind]["expected"].iloc[::KERNEL_STRIDE].tolist()
        chk.equal(f"kernel {kind} numPoints", got[f"kernel_{kind}"].tolist(), want)
        n_overlay += len(want)
    return chk, {
        "filter.candidates": got["candidates"],
        "skew.hot_cells": len(got["hot"]),
        "resume.skipped": got["resumed"]["skipped_partitions"],
        "polygons": got["ingested"],
        "kernel.candidates": len(got["inside"]),
        "kernel.overlay_pairs": n_overlay,
    }


def _base_layer(data: Data, name: str) -> pd.Series:
    """Copy 0 of an overlay layer, indexed by the fixture's own ids."""
    df = pd.read_parquet(data.path(f"layer_{name}"))
    df = df[df["poly_id"] < I.ID_STRIDE]
    return df.set_index("poly_id")["geom_wkb"]


# pass kind -> (run it, check its results)
PASSES = {
    "pip_overlay": (refine_pass, check_refine),
    "knn_tiles_write": (write_pass, check_write),
    "probes": (probe_pass, check_probes),
}
