"""Independent numpy oracles over the generator's ground truth.

None of these call into ``oshdb_spark``: each recomputes the expected
answer from the ``World`` node table with its own arithmetic, so a wrong
answer from the engine cannot also be the expected one.
"""

from __future__ import annotations

import numpy as np

from inputs import HEIDELBERG

VERSION_STRIDE = 1000  # point id = node id * stride + version


def _validity(nodes: dict):
    """Order node versions by (id, ts, version); each version is current
    from its ts until the next version's ts of the same node."""
    order = np.lexsort((nodes["version"], nodes["ts"], nodes["id"]))
    ids = nodes["id"][order]
    ts = nodes["ts"][order]
    nxt = np.full(len(ts), np.iinfo(np.int64).max, dtype=np.int64)
    same = ids[1:] == ids[:-1]
    nxt[:-1][same] = ts[1:][same]
    return order, ts, nxt


def node_snapshot(nodes: dict, timestamps: list[int], bbox=None,
                  value: str | None = None) -> dict[int, int]:
    """Per snapshot timestamp: the number of visible node versions current
    at it (boundary-inclusive bbox), or the sum of ``value`` over them."""
    order, ts, nxt = _validity(nodes)
    vis = nodes["visible"][order]
    lon = nodes["lon"][order] / 1e7
    lat = nodes["lat"][order] / 1e7
    inside = np.ones(len(ts), dtype=bool)
    if bbox is not None:
        inside = (lon >= bbox[0]) & (lon <= bbox[2]) & (lat >= bbox[1]) & (
            lat <= bbox[3]
        )
    vals = None if value is None else nodes[value][order]
    out = {}
    for t in timestamps:
        m = (ts <= t) & (t < nxt) & vis & inside
        out[int(t)] = int(m.sum()) if vals is None else int(vals[m].sum())
    return out


def node_rows(nodes: dict, t: int, bbox) -> list[tuple[int, int]]:
    """Sorted (id, version) of the visible node versions current at ``t``
    inside ``bbox`` (boundary-inclusive)."""
    order, ts, nxt = _validity(nodes)
    lon = nodes["lon"][order] / 1e7
    lat = nodes["lat"][order] / 1e7
    m = ((ts <= t) & (t < nxt) & nodes["visible"][order]
         & (lon >= bbox[0]) & (lon <= bbox[2]) & (lat >= bbox[1]) & (lat <= bbox[3]))
    return sorted(zip(nodes["id"][order][m].tolist(), nodes["version"][order][m].tolist()))


def points(nodes: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every node version as a point: (point id, lon fp, lat fp)."""
    pid = nodes["id"] * VERSION_STRIDE + nodes["version"]
    return pid, nodes["lon"], nodes["lat"]


def knn(points_: tuple, queries: list[tuple[int, int, int]], k: int) -> dict:
    """Brute-force planar top-k per query; ties broken by point id."""
    pid, lon, lat = points_
    out = {}
    for qid, qx, qy in queries:
        dx = (lon - qx) / 1e7
        dy = (lat - qy) / 1e7
        d2 = dx * dx + dy * dy
        top = np.lexsort((pid, d2))[:k]
        out[int(qid)] = [int(p) for p in pid[top]]
    return out


def crossing_number(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd point-in-polygon for one closed ring (first == last)."""
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        crosses = (y1 > py) != (y2 > py)
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= crosses & (px < xint)
    return inside


def zone_counts(points_: tuple, zones: list[tuple[str, dict]]) -> dict[str, int]:
    _pid, lon, lat = points_
    x = lon / 1e7
    y = lat / 1e7
    out = {}
    for key, geom in zones:
        ring = np.asarray(geom["coordinates"][0], dtype=np.float64)
        m = (
            (x >= ring[:, 0].min()) & (x <= ring[:, 0].max())
            & (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        )
        idx = np.nonzero(m)[0]
        out[key] = int(crossing_number(x[idx], y[idx], ring).sum())
    return out


# ---------------------------------------------------------------------------
# seeded query parameters
# ---------------------------------------------------------------------------


def star_polygon(rs: np.random.RandomState, cx: float, cy: float, r: float,
                 min_frac: float = 0.45) -> dict:
    """A star-shaped ring of 8-12 vertices at radii in [min_frac*r, r]."""
    n = rs.randint(8, 13)
    ang = np.sort(rs.uniform(0, 2 * np.pi, n))
    rad = r * rs.uniform(min_frac, 1.0, n)
    ring = [[float(cx + a * np.cos(t)), float(cy + a * np.sin(t))]
            for t, a in zip(ang, rad)]
    ring.append(ring[0])
    return {"type": "Polygon", "coordinates": [ring]}


def knn_queries(rs: np.random.RandomState, n: int) -> list[tuple[int, int, int]]:
    """Half in the hot Heidelberg cluster, half anywhere."""
    out = []
    for q in range(n):
        if q % 2 == 0:
            lon = HEIDELBERG[0] + rs.normal(0, 0.05)
            lat = HEIDELBERG[1] + rs.normal(0, 0.05)
        else:
            lon = rs.uniform(-179, 179)
            lat = rs.uniform(-80, 80)
        out.append((q, int(round(lon * 1e7)), int(round(lat * 1e7))))
    return out


def zonal_zones(rs: np.random.RandomState, n: int) -> list[tuple[str, dict]]:
    """Half small zones in the hot cluster, half large zones anywhere."""
    out = []
    for z in range(n):
        if z % 2 == 0:
            cx = HEIDELBERG[0] + rs.normal(0, 0.04)
            cy = HEIDELBERG[1] + rs.normal(0, 0.04)
            r = rs.uniform(0.005, 0.03)
        else:
            cx, cy, r = rs.uniform(-170, 170), rs.uniform(-70, 70), rs.uniform(2, 10)
        out.append((f"z{z:03d}", star_polygon(rs, cx, cy, r)))
    return out
