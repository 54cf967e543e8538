"""Brute-force reference results in numpy, and the output digest.

Nothing here imports the engine: a rewrite of extraction, refine, kNN or
tiling cannot move its own reference. Each function states the rule it
implements, not the engine's algorithm:

- ``extract``: the first ``geo:<lat>,<lon>`` in a page's text, kept when
  |lat| <= 90 and |lon| <= 180;
- ``pip_pairs``: even-odd ray cast, a point within 1e-12 of an edge
  counts as inside;
- ``knn``: haversine distance, top k per point, ties broken by node id;
- ``tile_counts`` / ``pixel_counts``: Web-Mercator slippy tiles;
- ``contour_segments``: marching squares with fixed saddle choices and
  edge-midpoint crossings in half-pixel units.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

GEO = re.compile(r"geo:(-?\d{1,2}\.\d{1,6}),(-?\d{1,3}\.\d{1,6})")
EDGE_EPS = 1e-12
EARTH_RADIUS_M = 6371000.0
MERCATOR_LAT = 85.05112878


def digest(df: pd.DataFrame, cols: list[str]) -> list[int]:
    """Order-independent digest: [row count, sum of 64-bit row hashes
    mod 2**64]. Integers hash as int64, floats as float64, the rest as
    strings, so an engine and a reference with different dtypes agree."""
    if len(df) == 0:
        return [0, 0]
    norm = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            norm[c] = s.astype(np.int64)
        elif pd.api.types.is_float_dtype(s):
            norm[c] = s.astype(np.float64)
        else:
            norm[c] = s.astype(str).astype(object)
    h = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy(np.uint64)
    return [len(df), int(h.sum(dtype=np.uint64))]


def extract(urls, texts) -> pd.DataFrame:
    out_url, out_lat, out_lon = [], [], []
    for url, text in zip(urls, texts):
        m = GEO.search(text)
        if m is None:
            continue
        lat, lon = float(m.group(1)), float(m.group(2))
        if abs(lat) <= 90.0 and abs(lon) <= 180.0:
            out_url.append(url)
            out_lat.append(lat)
            out_lon.append(lon)
    return pd.DataFrame({"url": out_url, "lat": out_lat, "lon": out_lon})


def covers(px: np.ndarray, py: np.ndarray, vx: np.ndarray, vy: np.ndarray) -> np.ndarray:
    """Point-in-ring test, boundary included; ring given without the
    closing vertex."""
    inside = np.zeros(len(px), dtype=bool)
    near = np.zeros(len(px), dtype=bool)
    n = len(vx)
    for i in range(n):
        ax, ay = vx[i], vy[i]
        bx, by = vx[(i + 1) % n], vy[(i + 1) % n]
        if ay != by:
            straddle = (ay > py) != (by > py)
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= straddle & (px < x_at)
        dx, dy = bx - ax, by - ay
        length2 = dx * dx + dy * dy
        if length2 > 0:
            t = np.clip(((px - ax) * dx + (py - ay) * dy) / length2, 0.0, 1.0)
        else:
            t = 0.0
        ex = px - (ax + t * dx)
        ey = py - (ay + t * dy)
        near |= ex * ex + ey * ey <= EDGE_EPS * EDGE_EPS
    return inside | near


def pip_pairs(points: pd.DataFrame, polygons: pd.DataFrame) -> pd.DataFrame:
    """(url, way_id) for every point covered by a polygon."""
    lat = points["lat"].to_numpy(np.float64)
    lon = points["lon"].to_numpy(np.float64)
    urls = points["url"].to_numpy(object)
    out_url, out_way = [], []
    for way_id, vlat, vlon in zip(polygons["way_id"], polygons["vlat"], polygons["vlon"]):
        vy = np.asarray(vlat, np.float64)
        vx = np.asarray(vlon, np.float64)
        box = np.nonzero(
            (lat >= vy.min() - EDGE_EPS) & (lat <= vy.max() + EDGE_EPS)
            & (lon >= vx.min() - EDGE_EPS) & (lon <= vx.max() + EDGE_EPS)
        )[0]
        hit = box[covers(lon[box], lat[box], vx, vy)]
        out_url.append(urls[hit])
        out_way.append(np.full(len(hit), way_id, dtype=np.int64))
    return pd.DataFrame(
        {"url": np.concatenate(out_url), "way_id": np.concatenate(out_way)}
    )


def haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (
        np.sin((p2 - p1) / 2.0) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def knn(points: pd.DataFrame, nodes: pd.DataFrame, k: int, chunk: int = 2048) -> pd.DataFrame:
    """(url, node_id, rank, dist_m): the k nearest nodes of every point."""
    nid = nodes["id"].to_numpy(np.int64)
    nlat = nodes["lat"].to_numpy(np.float64)
    nlon = nodes["lon"].to_numpy(np.float64)
    lat = points["lat"].to_numpy(np.float64)
    lon = points["lon"].to_numpy(np.float64)
    kk = min(k, len(nid))
    ids, dists = [], []
    for s in range(0, len(lat), chunk):
        d = haversine_m(lat[s : s + chunk, None], lon[s : s + chunk, None], nlat[None], nlon[None])
        ties = np.broadcast_to(nid[None], d.shape)
        order = np.lexsort((ties, d), axis=-1)[:, :kk]
        ids.append(nid[order])
        dists.append(np.take_along_axis(d, order, axis=1))
    n = len(lat)
    return pd.DataFrame(
        {
            "url": np.repeat(points["url"].to_numpy(object), kk),
            "node_id": np.concatenate(ids).ravel() if n else np.empty(0, np.int64),
            "rank": np.tile(np.arange(1, kk + 1, dtype=np.int64), n),
            "dist_m": np.concatenate(dists).ravel() if n else np.empty(0),
        }
    )


def knn_agrees(got: pd.DataFrame, points: pd.DataFrame, nodes: pd.DataFrame, k: int) -> bool:
    """Tie-tolerant kNN check, used only when digests differ: for every
    point the node at each rank must sit at the reference's distance for
    that rank to 1e-9 relative. Distances equal to the last bits can be
    ordered either way by two libm implementations."""
    want = knn(points, nodes, k).sort_values(["url", "rank"])
    nodes_by_id = nodes.set_index("id")
    if len(got) != len(want):
        return False
    got = got.sort_values(["url", "rank"])
    if not (got["url"].to_numpy(object) == want["url"].to_numpy(object)).all():
        return False
    pts = points.set_index("url").loc[got["url"]]
    nd = nodes_by_id.loc[got["node_id"].to_numpy(np.int64)]
    d = haversine_m(
        pts["lat"].to_numpy(), pts["lon"].to_numpy(), nd["lat"].to_numpy(), nd["lon"].to_numpy()
    )
    ref = want["dist_m"].to_numpy()
    return bool(np.all(np.abs(d - ref) <= 1e-9 * np.maximum(1.0, ref)))


def _mercator(lat: np.ndarray, lon: np.ndarray, z: int):
    n = float(1 << z)
    lat = np.clip(lat, -MERCATOR_LAT, MERCATOR_LAT)
    fx = (lon + 180.0) / 360.0 * n
    fy = (1.0 - np.arcsinh(np.tan(np.radians(lat))) / math.pi) / 2.0 * n
    x = np.clip(np.floor(fx), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor(fy), 0, n - 1).astype(np.int64)
    return fx, fy, x, y


def tile_counts(lat: np.ndarray, lon: np.ndarray, z: int, weight: np.ndarray | None = None) -> pd.DataFrame:
    """(z, x, y, n) points per slippy tile; with ``weight``, the sum of the
    points' weights, tiles summing to 0 dropped."""
    _fx, _fy, x, y = _mercator(np.asarray(lat, np.float64), np.asarray(lon, np.float64), z)
    w = np.ones(len(x), np.int64) if weight is None else np.asarray(weight, np.int64)
    t = pd.DataFrame({"x": x, "y": y, "n": w}).groupby(["x", "y"], as_index=False)["n"].sum()
    t = t[t["n"] != 0]
    t.insert(0, "z", z)
    return t


def pixel_counts(lat: np.ndarray, lon: np.ndarray, z: int, size: int = 256) -> pd.DataFrame:
    """(z, x, y, px, py, cnt) points per pixel of a ``size``-pixel tile."""
    fx, fy, x, y = _mercator(np.asarray(lat, np.float64), np.asarray(lon, np.float64), z)
    px = np.minimum(np.floor((fx - x) * size), size - 1).astype(np.int64)
    py = np.minimum(np.floor((fy - y) * size), size - 1).astype(np.int64)
    t = pd.DataFrame({"x": x, "y": y, "px": px, "py": py}).value_counts().reset_index(name="cnt")
    t.insert(0, "z", z)
    return t


# Corner bits: 1 top-left, 2 top-right, 4 bottom-right, 8 bottom-left.
# Edges: 0 top, 1 right, 2 bottom, 3 left. Saddles 5 and 10 are fixed.
SEGMENTS = {
    1: ((3, 0),), 2: ((0, 1),), 3: ((3, 1),), 4: ((1, 2),),
    5: ((3, 2), (1, 0)), 6: ((0, 2),), 7: ((3, 2),), 8: ((2, 3),),
    9: ((2, 0),), 10: ((0, 3), (2, 1)), 11: ((2, 1),), 12: ((1, 3),),
    13: ((1, 0),), 14: ((0, 3),),
}
EDGE_MIDPOINT = {0: (1, 0), 1: (2, 1), 2: (1, 2), 3: (0, 1)}


def contour_segments(pixels: pd.DataFrame, threshold: float, size: int = 256) -> pd.DataFrame:
    """(z, x, y, x1, y1, x2, y2): iso-lines of ``cnt >= threshold`` per tile."""
    parts = []
    for (z, x, y), g in pixels.groupby(["z", "x", "y"]):
        grid = np.zeros((size, size))
        grid[g["py"].to_numpy(), g["px"].to_numpy()] = g["cnt"].to_numpy()
        b = (grid >= threshold).astype(np.int64)
        case = b[:-1, :-1] | b[:-1, 1:] << 1 | b[1:, 1:] << 2 | b[1:, :-1] << 3
        for c, segs in SEGMENTS.items():
            ys, xs = np.nonzero(case == c)
            for e1, e2 in segs:
                (ax, ay), (bx, by) = EDGE_MIDPOINT[e1], EDGE_MIDPOINT[e2]
                parts.append(
                    pd.DataFrame(
                        {
                            "z": z, "x": x, "y": y,
                            "x1": 2 * xs + ax, "y1": 2 * ys + ay,
                            "x2": 2 * xs + bx, "y2": 2 * ys + by,
                        }
                    )
                )
    cols = ["z", "x", "y", "x1", "y1", "x2", "y2"]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=cols)
