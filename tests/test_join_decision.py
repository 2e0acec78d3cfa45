"""The PIP join's one decision — is the build side broadcast? — and the
load balance derived from it.

Fixture: geocoded-to-centroid points. Most points sit on ONE coordinate
(a town centroid, as geocoders emit for coarse addresses), under a stack
of overlapping polygons, so that centroid's cell is a hot cell for the
salting cost table. Under a broadcast build side, ``salt=True`` spreads
the probe on ``point_id`` instead of salting the key; a shuffled cell
join keeps the cost-table salting.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.operators.ingest import ingest_geometry
from workstealing_spatial_join_spark.operators.skew import cell_cost_table
from workstealing_spatial_join_spark.operators.spatial_join import (
    PreparedPolygonLayer,
    point_in_polygon_join,
    polygon_join,
    tessellate_points,
)
from workstealing_spatial_join_spark.plans.planner import audit_plan
from workstealing_spatial_join_spark.sources import fixtures as FX

CENTROID = (10.5, 45.5)
TARGET = 100  # pairs per task: the centroid cell's est_pairs is far above it


def _job_counter(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _poly_row(pid: str, ring: list[tuple[float, float]]) -> dict:
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    wkt = ", ".join(f"{x} {y}" for x, y in ring + ring[:1])
    return {
        "polygon_id": pid, "wkt": f"POLYGON (({wkt}))",
        "minx": min(xs), "miny": min(ys), "maxx": max(xs), "maxy": max(ys),
    }


@pytest.fixture(scope="module")
def centroid_layers(spark):
    cx, cy = CENTROID
    rows = [
        # diamonds of growing radius, all containing the centroid
        _poly_row(f"d{k}", [(cx - r, cy), (cx, cy - r), (cx + r, cy), (cx, cy + r)])
        for k, r in enumerate((0.1, 0.2, 0.3, 0.45, 0.7, 1.2))
    ] + [
        # MBR covers the centroid, the triangle does not: refine rejects
        _poly_row("miss", [(cx - 0.4, cy + 0.05), (cx + 0.4, cy + 0.4), (cx - 0.4, cy + 0.4)]),
        # elsewhere, for the scattered points
        _poly_row("far", [(12.0, 41.0), (14.5, 41.5), (13.0, 44.0)]),
    ]
    polys = ingest_geometry(
        spark.createDataFrame(pd.DataFrame(rows)), "wkt", keep_cols=["polygon_id"]
    )
    rng = np.random.default_rng(11)
    n_hot, n_spread = 900, 300
    points = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [f"p{i:05d}" for i in range(n_hot + n_spread)],
                "lon": np.r_[np.full(n_hot, cx), rng.uniform(8.0, 15.0, n_spread)],
                "lat": np.r_[np.full(n_hot, cy), rng.uniform(40.0, 47.0, n_spread)],
            }
        )
    )
    prepared = PreparedPolygonLayer(polys)
    yield points, polys, prepared
    prepared.release()


def _pairs(df) -> set:
    return {(r.point_id, r.poly_id) for r in df.collect()}


def _plain(points, polys) -> set:
    return _pairs(point_in_polygon_join(points, polys))


def _has_salt_explode(plan: str) -> bool:
    return re.search(r"explode\(sequence\(0, \(n_salt", plan) is not None


def test_fixture_has_a_hot_cell(spark, centroid_layers):
    points, _, prepared = centroid_layers
    cells = tessellate_points(points.select(F.col("image_id").alias("point_id"), "lon", "lat"))
    hot = cell_cost_table(
        cells, prepared.exploded, target_pairs=TARGET,
        right_cell_counts=prepared.cell_counts,
    ).where(F.col("n_salt") > 1)
    assert hot.count() >= 1


@pytest.mark.parametrize("layer", ["prepared", "dataframe"])
def test_salted_broadcast_pip_returns_unsalted_pairs(centroid_layers, layer):
    points, polys, prepared = centroid_layers
    side = prepared if layer == "prepared" else polys
    want = _plain(points, polys)
    got = _pairs(
        point_in_polygon_join(points, side, salt=True, target_pairs_per_task=TARGET)
    )
    assert got == want and len(want) > 900  # every centroid point is in 6 diamonds


def test_salted_broadcast_build_runs_no_job_and_no_salt(spark, centroid_layers):
    points, _, prepared = centroid_layers
    before = _job_counter(spark)
    df = point_in_polygon_join(
        points, prepared, mode="count", salt=True, target_pairs_per_task=TARGET
    )
    assert _job_counter(spark) == before, "salted broadcast query build ran a job"
    audit = audit_plan(df)
    assert "n_salt" not in audit["plan"] and not _has_salt_explode(audit["plan"])
    assert audit["broadcast_joins"] >= 1


@pytest.mark.parametrize("salt", [False, True])
def test_compact_probe_spreads_on_point_id(centroid_layers, salt):
    """A probe scan with fewer partitions than cores is hashed on the
    unique point_id, so the centroid's points do not share one task."""
    points, _, prepared = centroid_layers
    df = point_in_polygon_join(
        points.coalesce(1), prepared, mode="count", salt=salt,
        target_pairs_per_task=TARGET,
    )
    plan = audit_plan(df)["plan"]
    assert "hashpartitioning(point_id" in plan and "hashpartitioning(px" not in plan
    assert not _has_salt_explode(plan)


@pytest.mark.parametrize(
    "kw", [{"broadcast": False}, {"refine_transport": "wkb"}], ids=["no-broadcast", "wkb"]
)
def test_shuffled_cell_join_keeps_cost_table_salting(centroid_layers, kw):
    points, polys, _ = centroid_layers
    df = point_in_polygon_join(points, polys, salt=True, target_pairs_per_task=TARGET, **kw)
    assert _has_salt_explode(audit_plan(df)["plan"])
    assert _pairs(df) == _plain(points, polys)


@pytest.mark.parametrize("layer", ["prepared", "dataframe"])
def test_broadcast_false_is_honoured(centroid_layers, layer):
    """broadcast=False used to be overridden by the forced broadcast of
    a known-small build side."""
    points, polys, prepared = centroid_layers
    side = prepared if layer == "prepared" else polys
    df = point_in_polygon_join(points, side, broadcast=False)
    got = _pairs(df)
    audit = audit_plan(df)
    assert audit["broadcast_joins"] == 0, audit["plan"][:3000]
    assert got == _plain(points, polys)


def test_closed_form_cell_counts_match_the_explode_on_odd_bounds(spark):
    """NULL, NaN, infinite and inverted bounds: the driver-side closed
    form must count what the Catalyst tessellation emits."""
    layer = ingest_geometry(
        spark.createDataFrame(FX.polygons_pdf(30)), "wkt", keep_cols=["polygon_id"]
    )
    one = layer.limit(1)

    def odd(name, **bounds):
        d = one.withColumn("polygon_id", F.lit(name))
        for col, v in bounds.items():
            d = d.withColumn(col, F.lit(v).cast("double"))
        return d

    odd_layer = (
        layer.unionByName(odd("null_minx", minx=None))
        .unionByName(odd("all_null", minx=None, miny=None, maxx=None, maxy=None))
        .unionByName(odd("nan_maxy", maxy=float("nan")))
        .unionByName(odd("inf_maxx", maxx=float("inf")))
        .unionByName(odd("inverted", minx=10.0, maxx=-10.0))
    )
    prepared = PreparedPolygonLayer(odd_layer)
    try:
        assert prepared.n_rows == prepared.exploded.count()
        per_cell = sorted(
            (r[0], r[1]) for r in prepared.exploded.groupBy("cell_id").count().collect()
        )
        assert per_cell == prepared.cell_counts
    finally:
        prepared.release()


def test_salted_polygon_join_forces_no_broadcast_on_replicated_side(spark, monkeypatch):
    """Under salt=True the right side is replicated across salts; a
    forced broadcast hint would apply before that replication."""
    ppdf = FX.polygons_pdf(300)
    da = ingest_geometry(
        spark.createDataFrame(ppdf.iloc[:150].rename(columns={"polygon_id": "a_id"})),
        "wkt", keep_cols=["a_id"],
    )
    db = ingest_geometry(
        spark.createDataFrame(ppdf.iloc[150:].rename(columns={"polygon_id": "b_id"})),
        "wkt", keep_cols=["b_id"],
    )
    plain = {(r.lid, r.rid) for r in polygon_join(da, db, "a_id", "b_id").collect()}

    hinted = []
    real = F.broadcast

    def spy(df):
        hinted.append(df.columns)
        return real(df)

    monkeypatch.setattr(F, "broadcast", spy)
    salted = polygon_join(da, db, "a_id", "b_id", salt=True, target_pairs_per_task=10)
    monkeypatch.undo()
    assert not any("rid" in cols for cols in hinted), hinted
    assert {(r.lid, r.rid) for r in salted.collect()} == plain and plain
