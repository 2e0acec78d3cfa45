"""Seeded benchmark inputs, generated with NumPy alone.

Nothing here imports the engine or its fixture module: the same seed
gives the same tables on any checkout, and the oracles in
``oracles.py`` read the very arrays written here.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Points: a uniform background over lon [-180, 180] x lat [-60, 60],
# a hot 1x1 degree box holding HOT_FRAC of the rows (the skew of the
# engine's own fixture), and a geocoded-to-centroid cluster of
# CLUSTER_POINTS identical coordinates. CLUSTER_POLYS polygons all
# contain that centroid, so its cell costs CLUSTER_POINTS x
# CLUSTER_POLYS > 100,000 estimated pairs: the skew estimator's
# default target, so salting has one hot cell to split.
HOT_FRAC = 0.10
CLUSTER_POINTS = 1_500
CLUSTER_POLYS = 80
CONTINENT_EVERY = 20  # every 20th polygon has a 5-15 degree radius


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def cluster_centroid(seed: int) -> tuple[float, float]:
    """Centre of the identical-coordinate cluster: near the middle of
    a 1-degree cell, well away from the hot box and cell edges."""
    r = _rng(seed, 3)
    gx = float(np.floor(r.uniform(-170.0, -20.0))) + 0.5 + r.uniform(-0.2, 0.2)
    gy = float(np.floor(r.uniform(-50.0, 50.0))) + 0.5 + r.uniform(-0.2, 0.2)
    return round(gx, 6), round(gy, 6)


def make_points(seed: int, n: int) -> pd.DataFrame:
    """``(id long, lon double, lat double)``, ``n`` rows."""
    r = _rng(seed, 1)
    lon = r.uniform(-180.0, 180.0, n)
    lat = r.uniform(-60.0, 60.0, n)
    hot = r.random(n) < HOT_FRAC
    lon[hot] = 10.0 + r.random(hot.sum())
    lat[hot] = 45.0 + r.random(hot.sum())
    gx, gy = cluster_centroid(seed)
    idx = r.choice(np.flatnonzero(~hot), CLUSTER_POINTS, replace=False)
    lon[idx], lat[idx] = gx, gy
    return pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64), "lon": np.round(lon, 6), "lat": np.round(lat, 6)}
    )


def _ellipse_ring(r, cx, cy, a, b) -> np.ndarray:
    """Convex ring of 6-24 vertices on a rotated ellipse; jittered,
    roughly even angles keep every gap under pi, so the centre is
    strictly inside."""
    nv = int(r.integers(6, 25))
    t = 2.0 * np.pi * (np.arange(nv) + r.uniform(0.1, 0.9, nv)) / nv
    phi = r.uniform(0.0, np.pi)
    ex, ey = a * np.cos(t), b * np.sin(t)
    x = cx + ex * np.cos(phi) - ey * np.sin(phi)
    y = cy + ex * np.sin(phi) + ey * np.cos(phi)
    ring = np.round(np.column_stack([x, y]), 6)
    return np.vstack([ring, ring[:1]])


def make_polygons(seed: int, n: int) -> list[np.ndarray]:
    """``n`` background convex polygons plus CLUSTER_POLYS overlapping
    ones around the cluster centroid. Element ``i`` is polygon id
    ``i``'s closed ring."""
    r = _rng(seed, 2)
    rings = []
    for j in range(n):
        cx, cy = r.uniform(-180.0, 180.0), r.uniform(-60.0, 60.0)
        if j % CONTINENT_EVERY == 0:
            rad = r.uniform(5.0, 15.0)
        else:
            rad = 0.3 * float(r.lognormal(0.0, 1.0))
        rings.append(_ellipse_ring(r, cx, cy, rad, rad * r.uniform(0.5, 1.0)))
    gx, gy = cluster_centroid(seed)
    for _ in range(CLUSTER_POLYS):
        rad = r.uniform(0.1, 0.45)
        rings.append(
            _ellipse_ring(
                r, gx + r.uniform(-0.01, 0.01), gy + r.uniform(-0.01, 0.01),
                rad, rad * r.uniform(0.5, 1.0),
            )
        )
    return rings


def polygons_wkt(rings: list[np.ndarray]) -> pd.DataFrame:
    """``(polygon_id long, wkt string)``."""
    wkt = [
        "POLYGON ((" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring) + "))"
        for ring in rings
    ]
    return pd.DataFrame({"polygon_id": np.arange(len(rings), dtype=np.int64), "wkt": wkt})


# ---------------------------------------------------------------- overlay

# The committed concave fixture spans under 19 degrees each way, so
# copies on a 20-degree lattice never touch one another.
COPY_STEP = 20
COPY_SLOTS = [(i, j) for i in range(-8, 9) for j in range(-3, 4)]
ID_STRIDE = 100_000


def copy_offsets(seed: int, copies: int) -> list[tuple[int, int]]:
    r = _rng(seed, 4)
    pick = r.choice(len(COPY_SLOTS), copies, replace=False)
    return [(COPY_STEP * COPY_SLOTS[k][0], COPY_STEP * COPY_SLOTS[k][1]) for k in pick]


def _translate_wkb(buf: bytes, dx: float, dy: float) -> tuple[bytes, tuple]:
    """Shift a little-endian WKB polygon; returns it with its bounds."""
    order, gtype = struct.unpack_from("<BI", buf, 0)
    if order != 1 or gtype != 3:
        raise ValueError(f"expected a little-endian polygon, got {order}/{gtype}")
    (nrings,) = struct.unpack_from("<I", buf, 5)
    off, parts, allc = 9, [buf[:9]], []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", buf, off)
        xy = np.frombuffer(buf, "<f8", 2 * npts, off + 4).reshape(npts, 2) + (dx, dy)
        parts.append(buf[off:off + 4] + xy.astype("<f8").tobytes())
        allc.append(xy)
        off += 4 + 16 * npts
    c = np.vstack(allc)
    return b"".join(parts), (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())


def overlay_layer(src: pd.DataFrame, offsets) -> pd.DataFrame:
    """Copy a ``(poly_id, geom_wkb, ...)`` layer once per offset; copy
    ``c`` adds ``c * ID_STRIDE`` to the ids."""
    rows = {k: [] for k in ("poly_id", "geom_wkb", "minx", "miny", "maxx", "maxy")}
    for c, (dx, dy) in enumerate(offsets):
        for pid, wkb in zip(src["poly_id"], src["geom_wkb"]):
            moved, bounds = _translate_wkb(bytes(wkb), float(dx), float(dy))
            rows["poly_id"].append(int(pid) + c * ID_STRIDE)
            rows["geom_wkb"].append(moved)
            for k, v in zip(("minx", "miny", "maxx", "maxy"), bounds):
                rows[k].append(float(v))
    out = pd.DataFrame(rows)
    out["poly_id"] = out["poly_id"].astype(np.int64)
    return out


def write_parquet(df: pd.DataFrame, path: str, files: int = 1) -> str:
    """Write ``df`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{k:03d}.parquet"),
        )
    return path
