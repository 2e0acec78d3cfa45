"""Expected answers, computed with NumPy from the generated arrays.

No engine code is imported: point-in-polygon is an even-odd ray cast
over brute-force MBR candidates, kNN is an exact search over a
cell-bucketed copy of the points, tiles are recomputed from their
formula, and overlay expectations are the committed fixture answers
repeated once per copy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def pip_candidates(px, py, rings):
    """All (point index, polygon index) pairs whose point lies in the
    polygon's closed MBR."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    pts, polys = [], []
    for j, ring in enumerate(rings):
        lo = np.searchsorted(sx, ring[:, 0].min(), "left")
        hi = np.searchsorted(sx, ring[:, 0].max(), "right")
        idx = order[lo:hi]
        y = py[idx]
        idx = idx[(y >= ring[:, 1].min()) & (y <= ring[:, 1].max())]
        pts.append(idx)
        polys.append(np.full(len(idx), j, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(polys)


def ray_cast(px, py, pt_idx, poly_idx, rings):
    """Even-odd point-in-polygon test for each candidate pair."""
    nv = np.array([len(r) - 1 for r in rings])
    verts = np.zeros((len(rings), nv.max() + 1, 2))
    for j, ring in enumerate(rings):
        verts[j, : len(ring)] = ring
    x, y = px[pt_idx], py[pt_idx]
    inside = np.zeros(len(pt_idx), dtype=bool)
    edges = nv[poly_idx]
    for e in range(nv.max()):
        live = e < edges
        x1, y1 = verts[poly_idx, e, 0], verts[poly_idx, e, 1]
        x2, y2 = verts[poly_idx, e + 1, 0], verts[poly_idx, e + 1, 1]
        crosses = live & ((y1 > y) != (y2 > y))
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (x < xint)
    return inside


def pip_oracle(points: pd.DataFrame, rings) -> dict:
    px = points["lon"].to_numpy()
    py = points["lat"].to_numpy()
    pt_idx, poly_idx = pip_candidates(px, py, rings)
    hit = ray_cast(px, py, pt_idx, poly_idx, rings)
    ids = points["id"].to_numpy()
    return {
        "candidates": len(pt_idx),
        "count": int(hit.sum()),
        "pairs": np.sort(pair_key(ids[pt_idx[hit]], poly_idx[hit])),
        "cand_pts": pt_idx,
        "cand_polys": poly_idx,
    }


def pair_key(a, b):
    """Pack two non-negative id arrays (each < 2**31) into one int64."""
    return (np.asarray(a, dtype=np.int64) << 31) | np.asarray(b, dtype=np.int64)


def knn_oracle(points: pd.DataFrame, query_ids, k: int) -> np.ndarray:
    """``(len(query_ids), k)`` neighbour ids by (distance, id), self
    excluded; distances are the same IEEE sqrt(dx*dx + dy*dy)."""
    ids = points["id"].to_numpy()
    x = points["lon"].to_numpy()
    y = points["lat"].to_numpy()
    cx = np.floor(x + 180.0).astype(np.int64)
    cy = np.floor(y + 90.0).astype(np.int64)
    key = cx * 1000 + cy
    order = np.argsort(key, kind="stable")
    skey = key[order]
    pos = {int(v): i for i, v in enumerate(ids)}
    out = np.empty((len(query_ids), k), dtype=np.int64)
    for qi, qid in enumerate(query_ids):
        i = pos[int(qid)]
        qx, qy, qcx, qcy = x[i], y[i], cx[i], cy[i]
        r = 1
        while True:
            cols = [
                order[
                    np.searchsorted(skey, c * 1000 + qcy - r, "left"):
                    np.searchsorted(skey, c * 1000 + qcy + r, "right")
                ]
                for c in range(qcx - r, qcx + r + 1)
            ]
            cand = np.concatenate(cols)
            cand = cand[ids[cand] != qid]
            dx = qx - x[cand]
            dy = qy - y[cand]
            d = np.sqrt(dx * dx + dy * dy)
            # every point outside the searched block is more than r
            # degrees away, so the top k is final once its k-th
            # distance is strictly inside r
            if len(cand) >= k:
                top = np.lexsort((ids[cand], d))[:k]
                if d[top[-1]] < r:
                    out[qi] = ids[cand][top]
                    break
            r += 1
    return out


def tile_histogram(points: pd.DataFrame, zoom: int = 6) -> pd.Series:
    """Rows per ``z{zoom}/x/y`` tile on the equirectangular tile grid."""
    n = 2**zoom
    lon = points["lon"].to_numpy()
    lat = points["lat"].to_numpy()
    tx = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    ty = np.clip(np.floor((90.0 - lat) / 180.0 * n), 0, n - 1).astype(np.int64)
    names = pd.Series([f"z{zoom}/{a}/{b}" for a, b in zip(tx, ty)])
    return names.value_counts().sort_index()


def overlay_expectation(expected: pd.DataFrame, copies: int, stride: int,
                        nonzero_only: bool) -> pd.DataFrame:
    """The committed per-pair numPoints, repeated for every copy; copy
    ``c`` shifts both ids by ``c * stride``."""
    base = expected[expected["expected"] > 0] if nonzero_only else expected
    parts = [
        pd.DataFrame({
            "lid": base["a_id"].to_numpy(np.int64) + c * stride,
            "rid": base["b_id"].to_numpy(np.int64) + c * stride,
            "num_points": base["expected"].to_numpy(np.int64),
        })
        for c in range(copies)
    ]
    return pd.concat(parts).sort_values(["lid", "rid"]).reset_index(drop=True)
