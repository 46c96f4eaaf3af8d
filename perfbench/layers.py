"""Single-thread kernel timings of the ``grid`` and ``geometry`` layers,
called directly on seeded numpy inputs (no Spark).  Each figure is the
median of three calls; the inputs are the same on every workload, so these
numbers move only when a kernel changes."""

from __future__ import annotations

import time
from statistics import median

import numpy as np

import oracles

N_POINTS = 200_000
N_CLIP = 2_000
REPS = 3


def _ns_per(fn, n: int) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls) * 1e9 / n


def kernel_metrics(seed: int) -> dict:
    from oshdb_spark.geometry.clip import clip_to_bbox
    from oshdb_spark.geometry.pip import points_in_polygon
    from oshdb_spark.grid import h3lite, s2
    from oshdb_spark.grid.quadcell import quadcell_id_vec
    from oshdb_spark.grid.xygrid import xy_insert_cell_vec

    rs = np.random.RandomState(seed + 31337)
    lon = rs.uniform(-179.9, 179.9, N_POINTS)
    lat = rs.uniform(-85, 85, N_POINTS)
    lon_fp = np.round(lon * 1e7).astype(np.int64)
    lat_fp = np.round(lat * 1e7).astype(np.int64)
    poly = oracles.star_polygon(rs, 0.0, 0.0, 60.0)
    polys = [oracles.star_polygon(rs, *rs.uniform(-5, 5, 2), 2.0) for _ in range(N_CLIP)]
    box = (-3.0, -3.0, 3.0, 3.0)
    return {
        "grid.xy_insert_ns_per_pt": _ns_per(
            lambda: xy_insert_cell_vec(lon_fp, lat_fp, lon_fp, lat_fp), N_POINTS),
        "grid.s2_ns_per_pt": _ns_per(lambda: s2.cell_id(lon, lat, 15), N_POINTS),
        "grid.h3lite_ns_per_pt": _ns_per(
            lambda: h3lite.latlng_to_cell(lon, lat, 9), N_POINTS),
        "grid.quadcell_ns_per_pt": _ns_per(
            lambda: quadcell_id_vec(12, lon_fp, lat_fp), N_POINTS),
        "geometry.pip_ns_per_pt": _ns_per(
            lambda: points_in_polygon(lon, lat, poly, include_boundary=True), N_POINTS),
        "geometry.clip_us_per_geom": _ns_per(
            lambda: [clip_to_bbox(p, box) for p in polys], N_CLIP) / 1000.0,
    }
