"""Filter-then-refine spatial joins — the heart of the engine.

Re-creates the reference's join family (SURVEY.md §2.3):

* J2 point-in-polygon / intersects join  → ``point_in_polygon_join``
* J1/J3/J5 polygon×polygon with runtime predicate → ``polygon_join``
* J4 fragment-and-replicate             → ``broadcast`` path here
* F3 MBR pre-filter / F4 same-cell scope → cell equi-join + Catalyst
  residual bounds predicate (no UDF in the filter phase)

Physical plan (all declared via DataFrame API; Catalyst + AQE pick
broadcast vs shuffled-hash vs SMJ and split skewed partitions):

    scan → cell tessellation (floor/sequence/explode, codegen'd)
         → equi-join on cell_id  (+ salt on a shuffled join, per cost table)
         → residual MBR predicate (Catalyst, pushed into the join)
         → pandas-UDF exact refine (the only Python, Arrow-batched)
         → dedup (reference-point rule, Catalyst) / parity multiplicity
         → agg or pair materialization

Duplicate semantics: a pair whose geometries co-occupy k cells appears
k times in the reference (no reference-point dedup anywhere in that
repo — src/thread_util.cpp:317, SURVEY.md §3.2). ``dedup='parity'``
reproduces that; the default ``dedup='refpoint'`` reports each pair
exactly once, in the cell containing the top-left corner of the MBR
intersection — a pure-Catalyst filter, no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workstealing_spatial_join_spark.functions import grid as GRID
from workstealing_spatial_join_spark.functions.predicates import PREDICATES

BROADCAST_ROW_THRESHOLD = 2_000_000  # exploded cell-rows; ~tens of MB

# collected layers up to this many rows are REPLAYED as a local frame
# instead of re-scanning (and re-deriving) the source per action: the
# dictionary collect already paid for these bytes once, and the replay
# removes a scan + any ingest Python stage from every downstream job.
# Larger collected layers (up to the 500k dict cap) keep the
# distributed scan — parallelizing hundreds of MB from the driver is
# slower than re-reading parquet.
LOCAL_BUILD_MAX_ROWS = 100_000


def tessellate_points(
    df: DataFrame, lon: str = "lon", lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
) -> DataFrame:
    """Point layer → + cell_id (exactly one cell per point; pure
    Catalyst arithmetic, so PIP pairs are duplicate-free by
    construction)."""
    return df.withColumn("cell_id", GRID.cell_id_named(lon, lat, cell_deg))


def tessellate_bbox(
    df: DataFrame, cell_deg: float = GRID.DEFAULT_CELL_DEG
) -> DataFrame:
    """MBR layer (minx/miny/maxx/maxy columns) → one row per covering
    cell (F.explode over a Catalyst-computed sequence×sequence)."""
    return df.withColumn(
        "cell_id",
        F.explode(
            GRID.covering_cells_named("minx", "miny", "maxx", "maxy", cell_deg)
        ),
    )


def _collect_geom_dict(layer: DataFrame, id_col: str, max_rows: int | None):
    """Collect (id, wkb, minx, miny, maxx, maxy) rows for the
    broadcast dictionary in ONE action. ``max_rows`` None =
    unconditional; otherwise returns None when the layer exceeds the
    cap (caller falls back to another transport)."""
    sel = layer.select(id_col, "geom_wkb", "minx", "miny", "maxx", "maxy")
    if max_rows is None:
        return sel.collect()
    rows = sel.limit(max_rows + 1).collect()
    return None if len(rows) > max_rows else rows


def _local_geom_frame(layer: DataFrame, id_col: str, rows) -> DataFrame:
    """Replay already-collected (id, wkb, bounds) rows as a LOCAL
    DataFrame with the source's exact schema: downstream tessellation
    then costs zero scans and zero ingest Python — the collect that
    built the broadcast dictionary already moved these bytes to the
    driver once (guide §2.4: don't recompute what a previous action
    materialized). Only used for layers ≤ LOCAL_BUILD_MAX_ROWS."""
    import pandas as pd

    schema = layer.select(
        id_col, "geom_wkb", "minx", "miny", "maxx", "maxy"
    ).schema
    pdf = pd.DataFrame(
        {
            schema.names[0]: [r[0] for r in rows],
            "geom_wkb": [
                bytes(r[1]) if r[1] is not None else None for r in rows
            ],
            "minx": [r[2] for r in rows],
            "miny": [r[3] for r in rows],
            "maxx": [r[4] for r in rows],
            "maxy": [r[5] for r in rows],
        }
    )
    return layer.sparkSession.createDataFrame(pdf, schema=schema)


def _cell_ranges(rows, cell_deg: float):
    """Per-row covering-cell index ranges ``(x0, x1, y0, y1)`` from the
    collected bounds — the driver-side closed form of
    ``tessellate_bbox``'s clamped floor arithmetic, edge cases
    included: Catalyst's GREATEST skips a NULL and FLOOR casts NaN to
    0, so a NULL/NaN bound lands on index 0 (NumPy would cast the NaN
    to an arbitrary int64), ±inf clamps, and an inverted range counts
    like Spark's descending ``sequence``."""
    import numpy as np

    nx, ny = GRID.grid_dims(cell_deg)
    b = np.array(
        [[r[2], r[3], r[4], r[5]] for r in rows], dtype=np.float64
    ).reshape(-1, 4)

    def idx(v, off, n):
        f = np.nan_to_num(np.floor((v + off) / cell_deg), nan=0.0)
        return np.clip(f, 0, n - 1).astype(np.int64)

    x0, x1 = idx(b[:, 0], 180.0, nx), idx(b[:, 2], 180.0, nx)
    y0, y1 = idx(b[:, 1], 90.0, ny), idx(b[:, 3], 90.0, ny)
    return (
        np.minimum(x0, x1), np.maximum(x0, x1),
        np.minimum(y0, y1), np.maximum(y0, y1),
    )


def _covering_cell_counts(rows, cell_deg: float):
    """Per-row covering-cell counts, so Σ equals exploded.count()
    exactly without running a job."""
    x0, x1, y0, y1 = _cell_ranges(rows, cell_deg)
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def _cell_count_pairs(rows, cell_deg: float):
    """Per-cell build-side row counts ``[(cell_id, n), ...]`` computed
    driver-side from the collected bounds — the closed form of
    ``exploded.groupBy(cell_id).count()``, so the salting cost table
    skips one distributed aggregate entirely (guide §2.4). Fully
    vectorized (a per-row Python loop over cells_covering_bbox
    measured 0.6 s on the 10k-polygon bench layer; this is ~10 ms)."""
    import numpy as np

    x0, x1, y0, y1 = _cell_ranges(rows, cell_deg)
    h = y1 - y0 + 1
    ncell = (x1 - x0 + 1) * h
    total = int(ncell.sum())
    starts = np.cumsum(ncell) - ncell
    off = np.arange(total, dtype=np.int64) - np.repeat(starts, ncell)
    h_r = np.repeat(h, ncell)
    cx = np.repeat(x0, ncell) + off // h_r
    cy = np.repeat(y0, ncell) + off % h_r
    cid = cx * np.int64(4294967296) + cy
    uniq, cnt = np.unique(cid, return_counts=True)
    return [(int(c), int(n)) for c, n in zip(uniq, cnt)]


_RECT_WKB_HDR_BYTES = (
    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"
)


def _all_rects_matching_bounds(rows) -> bool:
    """True iff EVERY collected geometry is a single axis-aligned
    rectangle whose ring equals the row's declared bounds exactly.
    When a layer passes this check, the Catalyst MBR predicate IS the
    exact geometry predicate — refine needs no Python at all. This is
    verified per row (driver-side decode), never assumed from
    metadata.

    Fast path: a 5-point single-ring polygon WKB is exactly 93 bytes
    with a fixed header, so a homogeneous layer is verified as ONE
    NumPy pass over the stacked buffers (the per-row decode loop was
    ~1 s of driver time per 20k-rect collect, paid per query rep);
    anything else falls back to the per-row decode."""
    import numpy as np

    bufs = [bytes(r[1]) for r in rows]
    if bufs and all(
        len(b) == 93 and b.startswith(_RECT_WKB_HDR_BYTES) for b in bufs
    ):
        arr = np.frombuffer(b"".join(bufs), dtype=np.uint8).reshape(
            len(bufs), 93
        )
        ring = (
            arr[:, 13:].copy().view("<f8").reshape(len(bufs), 5, 2)
        )
        dx = ring[:, 1:, 0] - ring[:, :-1, 0]
        dy = ring[:, 1:, 1] - ring[:, :-1, 1]
        axis_aligned = ((dx == 0) | (dy == 0)).all(axis=1)
        bounds = np.array(
            [[r[2], r[3], r[4], r[5]] for r in rows], dtype=np.float64
        )
        match = (
            axis_aligned
            & (ring[:, :, 0].min(axis=1) == bounds[:, 0])
            & (ring[:, :, 1].min(axis=1) == bounds[:, 1])
            & (ring[:, :, 0].max(axis=1) == bounds[:, 2])
            & (ring[:, :, 1].max(axis=1) == bounds[:, 3])
        )
        return bool(match.all())

    from workstealing_spatial_join_spark.functions.predicates import _geom_info

    for r in rows:
        info = _geom_info(bytes(r[1]))
        if info.rect is None or info.rect != (r[2], r[3], r[4], r[5]):
            return False
    return True


def _refpoint_filter(cell_deg: float):
    """Keep a candidate pair only in the cell that contains the
    top-left (minx, miny) corner of the MBR intersection — standard
    duplicate-avoidance for multi-cell replication; pure Catalyst
    (memoized expression — fixed l./r. column names)."""
    from workstealing_spatial_join_spark.functions.exprs import cexpr
    from workstealing_spatial_join_spark.functions.grid import (
        _spark_sql_cell_x, _spark_sql_cell_y,
    )

    cx = _spark_sql_cell_x("GREATEST(l.minx, r.minx)", cell_deg)
    cy = _spark_sql_cell_y("GREATEST(l.miny, r.miny)", cell_deg)
    return cexpr(f"l.cell_id = ({cx} * 4294967296L + {cy})")


class PreparedPolygonLayer:
    """A polygon layer prepared once and reused across many joins —
    the Spark rebirth of the reference's build-once STRtree
    (src/spatial_join.cpp:14-21): tessellation exploded + cached, and
    the broadcast geometry dictionary shipped to workers once.

    Use for the steady-state shape of a 10^12-image pipeline: one
    (slowly-changing) polygon layer probed by an endless stream of
    image batches."""

    def __init__(
        self,
        polygons: DataFrame,
        poly_id: str = "polygon_id",
        cell_deg: float = GRID.DEFAULT_CELL_DEG,
        broadcast_dict_rows: int = 500_000,
    ):
        from workstealing_spatial_join_spark.functions.predicates import (
            make_contains_xy_broadcast,
        )

        self.poly_id = poly_id
        self.cell_deg = cell_deg
        self.contains_udf = None
        # ONE driver job: the dictionary collect. A collected layer is
        # replayed locally — the tessellation caches lazily off the
        # in-memory rows (first join materializes it without touching
        # the source again) and the exploded row count is the
        # closed-form Σ covering-cells over the bounds, not a count()
        # job (was: count job + collect job per preparation).
        rows = _collect_geom_dict(polygons, poly_id, broadcast_dict_rows)
        if rows is not None and len(rows) <= LOCAL_BUILD_MAX_ROWS:
            local = _local_geom_frame(polygons, poly_id, rows)
            self.exploded = tessellate_bbox(
                local.select(
                    F.col(poly_id).alias("poly_id"),
                    "minx", "miny", "maxx", "maxy",
                ),
                cell_deg,
            ).cache()
            self.n_rows = int(_covering_cell_counts(rows, cell_deg).sum())
            self.cell_counts = _cell_count_pairs(rows, cell_deg)
        else:
            self.exploded = tessellate_bbox(
                polygons.select(
                    F.col(poly_id).alias("poly_id"),
                    "minx", "miny", "maxx", "maxy",
                ),
                cell_deg,
            ).cache()
            self.n_rows = self.exploded.count()  # materialize the cache
            self.cell_counts = None
        # same unique-id guard as the other id-keyed transports:
        # repeated ids (multipart parts) would make the dict answer
        # point-in-ANY-part per PART ROW and emit duplicate pairs
        if rows is not None and len({r[0] for r in rows}) == len(rows):
            self.contains_udf = make_contains_xy_broadcast(
                polygons.sparkSession,
                [r[0] for r in rows],
                [r[1] for r in rows],
            )

    def release(self) -> int:
        """Unpersist the cached tessellation (ADVICE r3: long-lived
        sessions preparing many layers would otherwise pin executor
        storage). The layer remains usable — the cache just rebuilds
        lazily if joined again."""
        try:
            self.exploded.unpersist()
            return 1
        except Exception:
            return 0


class PreparedGeometryLayer:
    """A geometry layer prepared once for REPEATED ``polygon_join``
    calls (round-2 verdict #7: every non-prepared join re-collected up
    to 500k rows/side and re-decoded them on the driver). Caches, per
    layer:

    * the collected broadcast-dictionary rows (one limited collect),
    * the per-row "geometry == declared MBR" verification (driver-side
      WKB decode — the expensive part of the rect fast path), and
    * the exploded cell tessellation as a cached DataFrame (with and
      without the WKB column, built lazily).

    ``polygon_join`` accepts this for either side; a second join
    against the same prepared layer issues NO new collect and NO new
    decode."""

    def __init__(
        self,
        layer: DataFrame,
        id_col: str,
        cell_deg: float = GRID.DEFAULT_CELL_DEG,
        broadcast_dict_rows: int = 500_000,
    ):
        self.df = layer
        self.id_col = id_col
        self.cell_deg = cell_deg
        self.rows = _collect_geom_dict(layer, id_col, broadcast_dict_rows)
        self.unique_ids = (
            self.rows is not None
            and len({r[0] for r in self.rows}) == len(self.rows)
        )
        self.all_rects = (
            self.rows is not None and _all_rects_matching_bounds(self.rows)
        )
        self._exploded: dict[bool, DataFrame] = {}

    def exploded(self, with_wkb: bool) -> DataFrame:
        """Cell tessellation with the id aliased to ``gid``; cached
        (Spark .cache()) per wkb-variant so repeated joins reuse the
        shuffle-free scan."""
        if with_wkb not in self._exploded:
            cols = [
                F.col(self.id_col).alias("gid"),
                "minx", "miny", "maxx", "maxy",
            ]
            if with_wkb:
                cols.insert(1, F.col("geom_wkb").alias("g_wkb"))
            self._exploded[with_wkb] = tessellate_bbox(
                self.df.select(*cols), self.cell_deg
            ).cache()
        return self._exploded[with_wkb]

    def release(self) -> int:
        """Unpersist every cached tessellation this layer holds and
        forget them (they rebuild lazily on next use). Long-lived
        sessions preparing many layers call this when done with one —
        without it the .cache()d frames pin executor storage until
        LRU eviction (ADVICE r3; mirror of release_dedup_caches)."""
        n = 0
        for df in self._exploded.values():
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass
        self._exploded.clear()
        return n


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame | PreparedPolygonLayer,
    point_id: str = "image_id",
    poly_id: str = "polygon_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",  # pairs | count | semi | percell | anti
    refine: bool = True,
    broadcast: str | bool = "auto",
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    probe_partitions: int | str | None = "auto",
    refine_transport: str = "auto",  # auto | wkb | broadcast
    broadcast_dict_rows: int = 500_000,
    point_payload: tuple[str, ...] = (),
) -> DataFrame:
    """Point-in-polygon spatial join (north_rule primary query).

    ``polygons`` must carry ``geom_wkb, minx, miny, maxx, maxy``
    (from operators.ingest.ingest_geometry) — or just the bounds
    columns when ``refine=False`` (MBR-only join).

    A point lies in exactly one cell, so results are duplicate-free
    without any dedup shuffle. ``mode='percell'`` keeps the polygon's
    cell replication visible (reference §3.2 parity diagnostics).

    ``point_payload`` names extra point columns carried THROUGH the
    join (``mode='pairs'`` only) so a downstream per-zone aggregate
    (operators.zonal) needs no second join back to the point table —
    at scale that second equi-join would be a full extra shuffle of
    the pair table. Payload names must not collide with the polygon
    layer's ``minx..maxy`` / ``geom_wkb`` / ``poly_id`` columns.

    ``broadcast``: 'auto' broadcasts a build side known to fit, True
    always, False never (a shuffled cell join). That one decision sets
    the load balance: under a broadcast build ``salt=True`` is a no-op
    and the probe spread below is the balance; under a shuffled cell
    join ``salt=True`` salts hot cells from a cost table.
    ``probe_partitions`` 'auto' hashes the probe of a Python refine on
    ``point_id`` into one partition per core, only when its scan has
    fewer partitions than cores; an int is used as given.
    """
    if point_payload and mode != "pairs":
        raise ValueError("point_payload requires mode='pairs'")
    pts = tessellate_points(
        points.select(
            F.col(point_id).alias("point_id"),
            F.col(lon).alias("px"),
            F.col(lat).alias("py"),
            *[F.col(c) for c in point_payload],
        ),
        lon="px",
        lat="py",
        cell_deg=cell_deg,
    )
    if isinstance(polygons, PreparedPolygonLayer):
        if refine and polygons.contains_udf is None:
            raise ValueError(
                "PreparedPolygonLayer was built without a broadcastable "
                "geometry dict (layer too large, or multipart ids — the "
                "dict transport needs one geometry per id); use "
                "refine=False or a DataFrame layer"
            )
        return _pip_finish(
            pts, polygons.exploded, polygons.contains_udf if refine else None,
            refine, mode, salt, target_pairs_per_task, broadcast,
            build_rows=polygons.n_rows,
            probe_partitions=probe_partitions,
            payload=point_payload,
            build_cell_counts=polygons.cell_counts,
        )

    # Refine transport: per-candidate WKB column vs broadcast polygon
    # dictionary. WKB-per-pair puts ~hundreds of bytes per candidate
    # through Arrow — at 10^7+ candidates that is the bottleneck (IPC
    # bandwidth), so when the polygon layer fits on the driver we ship
    # only (poly_id, x, y) and broadcast the geometry once per worker.
    contains_udf = None
    rows = None
    if refine and refine_transport in ("auto", "broadcast"):
        rows = _collect_geom_dict(
            polygons, poly_id,
            None if refine_transport == "broadcast" else broadcast_dict_rows,
        )
        # id-keyed transports need one geometry per id — repeated ids
        # (multipart parts exploded at ingest) keep the WKB column so
        # each PART row refines against its own part (reference
        # semantics: parts are separate geometries, src/reader.cpp:44)
        if rows is not None and len({r[0] for r in rows}) == len(rows):
            if _all_rects_matching_bounds(rows):
                # every polygon IS its MBR: the Catalyst bounds filter
                # is the exact closed contains — zero Python
                refine = False
            else:
                from workstealing_spatial_join_spark.functions.predicates import (
                    make_contains_xy_broadcast,
                )

                contains_udf = make_contains_xy_broadcast(
                    polygons.sparkSession,
                    [r[0] for r in rows],
                    [r[1] for r in rows],
                )

    poly_cols = [F.col(poly_id).alias("poly_id"), "minx", "miny", "maxx", "maxy"]
    if refine and contains_udf is None:
        poly_cols.append("geom_wkb")
    src = polygons
    if rows is not None and len(rows) <= LOCAL_BUILD_MAX_ROWS:
        # replay the already-collected layer locally: the build side
        # of every downstream job then skips the source scan (and any
        # ingest Python stage) entirely
        src = _local_geom_frame(polygons, poly_id, rows)
    polys = tessellate_bbox(src.select(*poly_cols), cell_deg)
    return _pip_finish(
        pts, polys, contains_udf, refine, mode, salt, target_pairs_per_task,
        broadcast,
        build_rows=(
            int(_covering_cell_counts(rows, cell_deg).sum())
            if rows is not None
            else None
        ),
        probe_partitions=probe_partitions,
        payload=point_payload,
        build_cell_counts=(
            _cell_count_pairs(rows, cell_deg)
            if salt and rows is not None
            else None
        ),
    )


def _pip_finish(
    pts: DataFrame,
    polys: DataFrame,
    contains_udf,
    refine: bool,
    mode: str,
    salt: bool,
    target_pairs_per_task: int,
    broadcast: str | bool,
    build_rows: int | None,
    probe_partitions,
    payload: tuple[str, ...] = (),
    build_cell_counts=None,
) -> DataFrame:
    # THE join decision: is the build side broadcast? 'auto' asserts it
    # when the exploded build side is KNOWN to fit (collected dict /
    # closed-form count) — a local-replay or lazily-cached build side
    # carries no stats, and a missed broadcast is a full shuffle of
    # the probe table (J4 fragment-and-replicate).
    bcast = broadcast is True or (
        broadcast == "auto"
        and build_rows is not None
        and build_rows <= BROADCAST_ROW_THRESHOLD
    )
    # The load balance follows from it. Under a broadcast join each
    # probe row's refine runs in that row's own task, so salting the
    # join key moves no work and salt=True is a no-op: balance is an
    # even spread of probe rows over tasks, hashed on the unique
    # point_id ((px, py) sends every geocoded-to-centroid point to one
    # task). Only a Python refine needs the spread.
    pts_scan = pts
    if refine:
        pts = _spread_probe(pts, probe_partitions)
    join_keys = ["cell_id"]
    if salt and not bcast:
        # Shuffled cell join: the refine runs in the join's partitions,
        # so LB1 cost-estimated salting of hot cells (operators/skew.py)
        # bounds the largest join group the way TASKS_PER_JOB bounded
        # the reference's work units. The hot-cell cost table is
        # collected ONCE (one row per cell above the task target) and
        # replayed locally; its probe side is the un-spread scan, since
        # the cost job needs only per-cell counts.
        from workstealing_spatial_join_spark.operators.skew import (
            cell_cost_table,
            salt_build_side,
            salt_probe_side,
        )

        cost_hot = cell_cost_table(
            pts_scan,
            polys,
            target_pairs=target_pairs_per_task,
            right_cell_counts=build_cell_counts,
        ).where(F.col("n_salt") > 1)
        cost_rows = cost_hot.collect()
        # no hot cell: an all-ones salt table is a no-op, so skip the
        # salting machinery — AQE's skew handling makes the same call
        if cost_rows:
            cost = pts.sparkSession.createDataFrame(cost_rows, cost_hot.schema)
            pts = salt_probe_side(pts, cost, ["point_id"])
            polys = salt_build_side(polys, cost)
            join_keys = ["cell_id", "salt"]
    if bcast:
        polys = F.broadcast(polys)
    elif broadcast is False:
        # without a hint Catalyst still broadcasts a small build side;
        # a sort-merge join rules that out and, unlike a shuffled hash
        # join, spills a large build side instead of holding it
        polys = polys.hint("merge")

    from workstealing_spatial_join_spark.functions.exprs import cexpr

    cand = pts.join(polys, on=join_keys).where(
        cexpr(
            "px >= minx AND px <= maxx AND py >= miny AND py <= maxy"
        )
    )
    if refine:
        if contains_udf is not None:
            cand = cand.where(
                contains_udf(F.col("poly_id"), F.col("px"), F.col("py"))
            )
        else:
            cand = cand.where(
                PREDICATES["contains_xy"](F.col("geom_wkb"), F.col("px"), F.col("py"))
            )
    if mode == "count":
        return cand.agg(F.count(F.lit(1)).alias("join_count"))
    if mode == "semi":
        return cand.select("point_id").distinct()
    if mode == "anti":
        # spatial ANTI-join: points inside NO polygon (ocean/extent
        # filtering, negative-sample mining). A point lives in exactly
        # one cell, so `pts` is one row per point; the distinct()s are
        # no-ops there but keep the semantics exact under salted runs.
        # Cost at scale: the same filter+refine join plus ONE extra
        # shuffle on point_id for the left_anti — there is no cheaper
        # shape, because "no match" is only known after all of a
        # point's candidate cells resolve.
        matched = cand.select("point_id").distinct()
        return (
            pts.select("point_id")
            .distinct()
            .join(matched, "point_id", "left_anti")
        )
    if mode == "percell":
        return cand.select("point_id", "poly_id", "cell_id")
    return cand.select("point_id", "poly_id", *payload)


def polygon_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "l_id",
    right_id: str = "r_id",
    predicate: str = "intersects",
    cell_deg: float = GRID.DEFAULT_CELL_DEG,
    mode: str = "pairs",  # pairs | count
    dedup: str = "refpoint",  # refpoint | parity
    broadcast: str | bool = "auto",
    salt: bool = False,
    target_pairs_per_task: int = 100_000,
    refine_transport: str = "auto",  # auto | wkb | broadcast
    broadcast_dict_rows: int = 500_000,
    extra_pair_filter=None,
) -> DataFrame:
    """Geometry×geometry spatial join with a runtime refine predicate
    (J1/J3/J5). Both inputs need ``geom_wkb, minx..maxy`` columns.

    mode='count' with predicate='intersects' reproduces the
    reference's ST_INTERSECTS scalar (match count,
    src/thread_util.cpp:431-432); with 'intersection_numpoints' /
    'union_numpoints' it sums vertex counts (thread_util.cpp:424-425,
    435-441). dedup='parity' reproduces per-cell multiplicity (§3.2).

    Refine transport: with 'broadcast' (default when both layers fit
    on the driver), candidate pairs carry only (lid, rid) through
    Arrow and both geometry dictionaries ship once per executor —
    the WKB-per-candidate-pair column (the round-1 bottleneck) never
    enters the join. 'wkb' keeps the per-pair column (layers too big
    to collect — though at that scale prefer the cogroup strategy,
    operators/cogroup_join.py, which ships each geometry once per
    covering cell).

    ``extra_pair_filter``: optional Catalyst predicate over the pair's
    bounds columns (``l.minx``..``r.maxy``), applied BEFORE refine —
    pushes query-level pair restrictions into the join, ahead of the
    Python kernel.
    """
    if predicate not in PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")

    def _side(layer, id_col):
        """Normalize a side to (rows, all_rects, unique_ids,
        tessellate_fn, original_df). Prepared layers answer from their
        cache — no new collect, no new driver-side decode."""
        if isinstance(layer, PreparedGeometryLayer):
            if layer.cell_deg != cell_deg:
                raise ValueError(
                    "PreparedGeometryLayer cell_deg "
                    f"{layer.cell_deg} != join cell_deg {cell_deg}"
                )
            if refine_transport == "wkb":
                # explicit WKB transport overrides the cached dict —
                # same escape hatch the DataFrame path honors
                return None, False, False, layer.exploded, layer.df
            rows = layer.rows
            if rows is None and refine_transport == "broadcast":
                rows = _collect_geom_dict(layer.df, layer.id_col, None)
            return rows, layer.all_rects, layer.unique_ids, layer.exploded, layer.df
        rows = None
        if refine_transport in ("auto", "broadcast"):
            # one pass: the size probe and the dictionary collection
            # are the same limited collect (a separate count() would
            # re-run the whole ingest pipeline)
            rows = _collect_geom_dict(
                layer, id_col,
                None if refine_transport == "broadcast"
                else broadcast_dict_rows,
            )
        all_rects = rows is not None and _all_rects_matching_bounds(rows)
        unique = rows is not None and len({r[0] for r in rows}) == len(rows)

        # replay a collected layer locally: its tessellation then
        # costs no source scan (and no ingest Python stage) in any
        # downstream job — the dict collect already paid these bytes
        src = layer
        if rows is not None and len(rows) <= LOCAL_BUILD_MAX_ROWS:
            src = _local_geom_frame(layer, id_col, rows)

        def tess(with_wkb: bool) -> DataFrame:
            cols = [F.col(id_col).alias("gid"), "minx", "miny", "maxx", "maxy"]
            if with_wkb:
                cols.insert(1, F.col("geom_wkb").alias("g_wkb"))
            return tessellate_bbox(src.select(*cols), cell_deg)

        return rows, all_rects, unique, tess, layer

    # the two dictionary collects are independent driver actions —
    # run them CONCURRENTLY (guide §2.6: the scheduler happily
    # overlaps jobs; actions are only sequential because driver code
    # calls them sequentially). Both collects are bounded by the dict
    # cap, so the huge-left case at worst collects a bounded right
    # dictionary it will still use (broadcast side choice below).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_l = pool.submit(_side, left, left_id)
        fut_r = pool.submit(_side, right, right_id)
        lrows, l_rects, l_unique, l_tess, l_df = fut_l.result()
        rrows, r_rects, r_unique, r_tess, _ = fut_r.result()

    refine_bc = None
    catalyst_rect = False
    if lrows is not None and rrows is not None:
        # zero-Python fast path: every geometry IS its MBR →
        # the Catalyst bounds predicate is the exact predicate
        # (verified per row, never assumed) and numPoints is a
        # closed-form CASE over the pair bounds. This path is
        # per-ROW and id-free, so repeated (multipart) ids are
        # fine — identical semantics to the WKB path.
        if (
            predicate in ("intersects", "intersection_numpoints")
            and l_rects and r_rects
        ):
            catalyst_rect = True
        elif predicate == "union_numpoints" and l_rects and r_rects \
                and l_unique and r_unique:
            # union on rect layers SPLITS the plan: generic-position
            # positive-overlap pairs take the closed-form 13-2(ca+cb)
            # CASE (pure Catalyst, the common case); only degenerate
            # contacts (shared coordinates / touches) pay the pair
            # UDF. Needs the id-keyed dict for that residual branch.
            from workstealing_spatial_join_spark.functions.predicates import (
                make_pair_refine_broadcast,
            )

            catalyst_rect = True
            refine_bc = make_pair_refine_broadcast(
                l_df.sparkSession,
                [r[0] for r in lrows], [r[1] for r in lrows],
                [r[0] for r in rrows], [r[1] for r in rrows],
                predicate,
            )
        # the id-keyed dict transport needs one geometry per id —
        # repeated ids (multipart parts exploded at ingest) keep
        # the WKB column so each PART row refines against its own
        # part (reference semantics: parts are separate
        # geometries, src/reader.cpp:44)
        elif l_unique and r_unique:
            from workstealing_spatial_join_spark.functions.predicates import (
                make_pair_refine_broadcast,
            )

            refine_bc = make_pair_refine_broadcast(
                l_df.sparkSession,
                [r[0] for r in lrows], [r[1] for r in lrows],
                [r[0] for r in rrows], [r[1] for r in rrows],
                predicate,
            )

    with_wkb = refine_bc is None and not catalyst_rect
    lt = (
        l_tess(with_wkb)
        .withColumnsRenamed({"gid": "lid", "g_wkb": "l_wkb"})
        .alias("l")
    )
    rt = (
        r_tess(with_wkb)
        .withColumnsRenamed({"gid": "rid", "g_wkb": "r_wkb"})
        .alias("r")
    )
    l_expl = (
        int(_covering_cell_counts(lrows, cell_deg).sum())
        if lrows is not None else None
    )
    r_expl = (
        int(_covering_cell_counts(rrows, cell_deg).sum())
        if rrows is not None else None
    )
    if (
        broadcast == "auto"
        and not salt
        and l_expl is not None
        and l_expl <= BROADCAST_ROW_THRESHOLD
        and (r_expl is None or l_expl < r_expl)
    ):
        # broadcast the SMALLER side (J4 chooses the replicated side
        # by size, tests/main.cpp:189-274) — the exploded counts are
        # exact closed forms over the collected bounds. Left-side
        # build is expressed by hinting lt; skipped under salting,
        # whose probe/replicate roles are fixed (lt salted per row,
        # rt replicated across salts).
        lt = F.broadcast(lt)
    elif (
        broadcast == "auto"
        and not salt
        and r_expl is not None
        and r_expl <= BROADCAST_ROW_THRESHOLD
    ):
        # deterministic J4: the right layer is KNOWN to fit (collected
        # rows + closed-form exploded count) — assert the broadcast
        # rather than relying on AQE size estimates, which a
        # local-replay frame does not carry
        rt = F.broadcast(rt)
    elif broadcast is True:
        rt = F.broadcast(rt)

    join_cond = F.col("l.cell_id") == F.col("r.cell_id")
    if salt:
        # LB1 rebirth for polygon×polygon: salt the (larger) left side,
        # replicate the right side across salts in hot cells only
        from workstealing_spatial_join_spark.operators.skew import (
            cell_cost_table,
            salt_build_side,
            salt_probe_side,
        )

        cost = cell_cost_table(lt, rt, target_pairs=target_pairs_per_task).where(
            F.col("n_salt") > 1
        )
        lt = salt_probe_side(lt, cost, ["lid"]).alias("l")
        rt = salt_build_side(rt, cost).alias("r")
        join_cond = join_cond & (F.col("l.salt") == F.col("r.salt"))

    from workstealing_spatial_join_spark.functions.exprs import cexpr

    cand = lt.join(rt, on=join_cond).where(
        cexpr(
            "l.minx <= r.maxx AND r.minx <= l.maxx "
            "AND l.miny <= r.maxy AND r.miny <= l.maxy"
        )
    )
    if dedup == "refpoint":
        cand = cand.where(_refpoint_filter(cell_deg))
    if extra_pair_filter is not None:
        cand = cand.where(extra_pair_filter)

    if catalyst_rect:
        # geometry == MBR on both sides: intersects is exactly the
        # bounds predicate already applied; numPoints is the GEOS
        # 5/2/1 CASE over the overlap extent. Whole-stage codegen,
        # no Python node anywhere in this plan.
        if predicate == "intersects":
            if mode == "count":
                return cand.agg(F.count(F.lit(1)).alias("join_count"))
            sel = ["lid", "rid"] + (["l.cell_id"] if dedup == "parity" else [])
            return cand.select(*sel)
        w = F.least(F.col("l.maxx"), F.col("r.maxx")) - F.greatest(
            F.col("l.minx"), F.col("r.minx")
        )
        h = F.least(F.col("l.maxy"), F.col("r.maxy")) - F.greatest(
            F.col("l.miny"), F.col("r.miny")
        )
        if predicate == "union_numpoints":
            # generic position: no shared coordinate value on either
            # axis AND positive-area overlap → every union ring vertex
            # is an outside corner or a proper crossing, numPoints =
            # 13 - 2*(cornersA-in-B + cornersB-in-A) (cross-checked
            # against the exact arrangement kernel in
            # tests/test_rect_closed_forms.py). Everything else
            # (touches, shared edges, equal coords) refines through
            # the pair UDF — the SPLIT keeps Python off the common
            # case without changing semantics.
            def corners_in(p, q):  # corners of rect p strictly in q
                cx = [p + ".minx", p + ".minx", p + ".maxx", p + ".maxx"]
                cy = [p + ".miny", p + ".maxy", p + ".miny", p + ".maxy"]
                c = F.lit(0)
                for x, y in zip(cx, cy):
                    c = c + F.when(
                        (F.col(x) > F.col(q + ".minx"))
                        & (F.col(x) < F.col(q + ".maxx"))
                        & (F.col(y) > F.col(q + ".miny"))
                        & (F.col(y) < F.col(q + ".maxy")),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                return c

            distinct_x = (
                (F.col("l.minx") != F.col("r.minx"))
                & (F.col("l.minx") != F.col("r.maxx"))
                & (F.col("l.maxx") != F.col("r.minx"))
                & (F.col("l.maxx") != F.col("r.maxx"))
            )
            distinct_y = (
                (F.col("l.miny") != F.col("r.miny"))
                & (F.col("l.miny") != F.col("r.maxy"))
                & (F.col("l.maxy") != F.col("r.miny"))
                & (F.col("l.maxy") != F.col("r.maxy"))
            )
            generic = distinct_x & distinct_y & (w > 0) & (h > 0)
            gen_scored = cand.where(generic).withColumn(
                "num_points",
                (
                    F.lit(13)
                    - F.lit(2) * (corners_in("l", "r") + corners_in("r", "l"))
                ).cast("long"),
            )
            deg_scored = cand.where(~generic).withColumn(
                "num_points",
                refine_bc.asNondeterministic()(F.col("lid"), F.col("rid")),
            ).where(F.col("num_points") > 0)
            sel = ["lid", "rid", "num_points"] + (
                ["l.cell_id"] if dedup == "parity" else []
            )
            both = gen_scored.select(*sel).unionByName(deg_scored.select(*sel))
            if mode == "count":
                return both.agg(F.sum("num_points").alias("join_count"))
            return both
        np_col = (
            F.when((w > 0) & (h > 0), F.lit(5))
            .when((w == 0) & (h == 0), F.lit(1))
            .otherwise(F.lit(2))
            .cast("long")
        )
        scored = cand.withColumn("num_points", np_col)
        if mode == "count":
            return scored.agg(F.sum("num_points").alias("join_count"))
        sel = ["lid", "rid", "num_points"] + (
            ["l.cell_id"] if dedup == "parity" else []
        )
        return scored.select(*sel)

    if refine_bc is not None:
        refine_args = (F.col("lid"), F.col("rid"))
        refine_udf = refine_bc
    else:
        refine_args = (F.col("l_wkb"), F.col("r_wkb"))
        refine_udf = PREDICATES[predicate]

    if predicate == "intersects":
        matched = cand.where(refine_udf(*refine_args))
        if mode == "count":
            return matched.agg(F.count(F.lit(1)).alias("join_count"))
        sel = ["lid", "rid"] + (["l.cell_id"] if dedup == "parity" else [])
        return matched.select(*sel)

    # numPoints-producing predicates
    if mode == "count":
        # no >0 filter: zeros add nothing to the sum, and the filter
        # would duplicate the Python refine (Catalyst pushes the
        # predicate through the project, re-evaluating the UDF)
        scored = cand.withColumn("num_points", refine_udf(*refine_args))
        return scored.agg(F.sum("num_points").alias("join_count"))
    # pairs mode: a nondeterministic-marked refine keeps the >0 filter
    # ABOVE the projection — one ArrowEvalPython, not two. The shared
    # registry UDFs must NOT be mutated (asNondeterministic mutates in
    # place): use the pre-built ND copies; a per-join broadcast UDF is
    # private and safe to mark.
    if refine_bc is not None:
        nd_udf = refine_bc.asNondeterministic()
    else:
        from workstealing_spatial_join_spark.functions.predicates import (
            PREDICATES_ND,
        )

        nd_udf = PREDICATES_ND[predicate]
    scored = cand.withColumn(
        "num_points", nd_udf(*refine_args)
    ).where(F.col("num_points") > 0)
    sel = ["lid", "rid", "num_points"] + (
        ["l.cell_id"] if dedup == "parity" else []
    )
    return scored.select(*sel)


def _spread_probe(df: DataFrame, probe_partitions) -> DataFrame:
    """Hash-repartition the probe on its unique ``point_id`` — retry-
    safe for free, where a keyless repartition first pays a full local
    sort (spark.sql.execution.sortBeforeRepartition, guide §2.5). An
    explicit int is honoured as given; 'auto' spreads to one partition
    per core only when the scan has fewer — each extra Python task adds
    a fixed worker round trip, so finer tasks cost more than they
    balance."""
    if probe_partitions is None:
        return df
    if probe_partitions != "auto":
        return df.repartition(int(probe_partitions), F.col("point_id"))
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    return df.repartition(target, F.col("point_id"))
