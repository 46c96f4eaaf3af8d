"""Workload ``spatial_batch``: one batch job per iteration over a larger
world, the tile-assignment + spatial-join throughput job of the north rule.

Per iteration: ``pipeline.tile_join_throughput`` over the world bbox, H3
(h3lite) and S2 cell assignment of every node point, ``knn_join`` for 100
seeded queries (k=10, half in the hot cluster) and
``zonal_polygon_aggregate`` over 100 seeded polygons.  No API, filter or
snapshot code runs here.
"""

from __future__ import annotations

import time

import numpy as np

import oracles
from common import digest, noop

WORLD = (-180.0, -90.0, 180.0, 90.0)
H3_RES = 9
S2_LEVEL = 15
N_QUERIES = 100
N_ZONES = 100
K = 10


def _points(spark, docs):
    from pyspark.sql import functions as F

    from oshdb_spark.sources.entities import extract_entities

    return (
        extract_entities(docs)
        .filter(F.col("type") == "node")
        .select(
            (F.col("id") * oracles.VERSION_STRIDE + F.col("version")).alias("event_id"),
            F.col("lon").alias("lon_fp"),
            F.col("lat").alias("lat_fp"),
        )
    )


def _id_digest_col(c):
    from pyspark.sql import functions as F

    return [F.bit_xor(c), F.sum(F.pmod(c, F.lit(2147483647)))]


def _id_digest_np(ids: np.ndarray) -> list[int]:
    ids = ids.astype(np.int64)
    return [int(np.bitwise_xor.reduce(ids)), int((ids % 2147483647).sum())]


class SpatialBatch:
    # a set-up here is a context start and one read (about 0.6 s)
    setup_reps = 3

    def __init__(self, inp, golden: dict | None):
        from oshdb_spark.grid import h3lite, s2

        self.inp = inp
        self.golden = golden
        rs = np.random.RandomState(inp.seed + 104729)
        self.queries = oracles.knn_queries(rs, N_QUERIES)
        self.zones = oracles.zonal_zones(rs, N_ZONES)
        self.pts_np = oracles.points(inp.nodes)
        self.pts = None
        # oracle answers, computed before anything is timed
        lon = inp.nodes["lon"] / 1e7
        lat = inp.nodes["lat"] / 1e7
        self.expected = {
            "tile_join": inp.n_boxed_entities,
            "cells": [
                len(lon),
                *_id_digest_np(h3lite.latlng_to_cell(lon, lat, H3_RES).view(np.int64)),
                *_id_digest_np(s2.cell_id(lon, lat, S2_LEVEL).view(np.int64)),
            ],
            "knn": oracles.knn(self.pts_np, self.queries, K),
            "zonal": oracles.zone_counts(self.pts_np, self.zones),
        }

    def setup(self, spark, docs, tracer) -> None:
        """The first full read of the docs."""
        noop(docs)

    def iteration(self, spark, docs, runner, first: bool) -> None:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from oshdb_spark.operators.knn import knn_join
        from oshdb_spark.operators.tiling import h3_udf, s2_udf
        from oshdb_spark.operators.zonal import zonal_polygon_aggregate
        from oshdb_spark.pipeline import tile_join_throughput

        exp = self.expected
        golden = self.golden or {}
        rep = runner.untraced

        def check_equal(key, fmt):
            def check(out):
                got = fmt(out)
                if first:
                    rep.digests[key] = digest(got)
                if golden.get(key) is not None and digest(got) != golden[key]:
                    return f"golden digest mismatch for {key}"
                if not got:
                    return f"{key}: empty answer"
                if got != exp[key]:
                    return f"{key}: got {str(got)[:200]} want {str(exp[key])[:200]}"
                return None
            return check

        def collect(span, make_df):
            def fn(tracer):
                with tracer.span(span):
                    return make_df().collect()
            return fn

        runner.run(
            "tile_join",
            collect("pipeline.tile_join", lambda: tile_join_throughput(spark, docs, WORLD)),
            check_equal("tile_join", lambda rows: sum(int(r["n_entities"]) for r in rows)),
        )

        def points(tracer):
            if self.pts is not None:
                self.pts.unpersist()
            self.pts = _points(spark, docs).persist(StorageLevel.MEMORY_ONLY)
            with tracer.span("sources.extract_points"):
                noop(self.pts)
            return self.pts

        n_pts = len(self.pts_np[0])
        runner.run("points", points, lambda pts: None if pts.count() == n_pts
                   else f"points: {pts.count()} rows, want {n_pts}")
        runner.run(
            "cells",
            collect("tiling.cell_udfs", lambda: self.pts.select(
                h3_udf(H3_RES, prefer_library=False)("lon_fp", "lat_fp").alias("h"),
                s2_udf(S2_LEVEL)("lon_fp", "lat_fp").alias("s"),
            ).agg(F.count(F.lit(1)), *_id_digest_col(F.col("h")),
                  *_id_digest_col(F.col("s")))),
            check_equal("cells", lambda rows: [int(v) for v in rows[0]]),
        )
        runner.run(
            "knn",
            collect("operators.knn", lambda: knn_join(spark, self.pts, self.queries, k=K)),
            check_equal("knn", lambda rows: {
                q: [int(r["neighbor_id"]) for r in sorted(
                    (r for r in rows if r["qid"] == q), key=lambda r: r["rank"])]
                for q in sorted({int(r["qid"]) for r in rows})
            }),
        )
        runner.run(
            "zonal",
            collect("operators.zonal", lambda: zonal_polygon_aggregate(
                spark, self.pts, self.zones, [F.count(F.lit(1)).alias("n")])),
            check_equal("zonal", lambda rows: {r["zone_key"]: int(r["n"]) for r in rows}),
        )
        self.pts.unpersist()
        self.pts = None

    def measure(self, spark, docs, seconds: float, runner) -> None:
        """One batch job per iteration, whole iterations until ``seconds``
        have gone by.  An iteration's latency is the sum of its ops' times,
        without the benchmark's own output checks."""
        from runner import OpRunner, Report

        # one discarded iteration first: the first JSON extraction and tiling
        # in a JVM pay about 7 s of code generation and JIT that a running
        # session pays once, so every timed iteration is equally warm and
        # the number of them does not change what is measured (in a traced
        # run it also keeps warm-up off one side of the traced/untraced pairs)
        self.iteration(spark, docs, OpRunner(Report()), first=False)
        rep = runner.untraced
        start = time.perf_counter()
        while not rep.op_latencies or (
                not runner.tracing and time.perf_counter() - start < seconds):
            before = {k: len(v) for k, v in rep.op_times.items()}
            self.iteration(spark, docs, runner, first=not rep.op_latencies)
            rep.op_latencies.append(sum(
                sum(v[before.get(k, 0):]) for k, v in rep.op_times.items()))

    def phase(self, rep) -> dict:
        t = {k: float(np.median(v)) for k, v in rep.op_times.items()}
        return {
            "tile_join_docs_per_s": self.inp.n_docs / t["tile_join"],
            "cell_assign_pts_per_s": len(self.pts_np[0]) / t["cells"],
            "knn_s": t["knn"],
            "zonal_s": t["zonal"],
        }

    def traced_layers(self, spark, docs, tracer, report) -> dict:
        """Traced run only: extraction and the two tiling steps called
        directly, then the write path (streaming ingest, compaction,
        read-after-write) over this workload's docs."""
        from ingest import ingest_cycle
        from oshdb_spark.operators.tiling import assign_cells, lifetime_bboxes
        from oshdb_spark.sources.entities import extract_entities

        ents = extract_entities(docs)
        with tracer.span("sources.extract"):
            noop(ents)
        with tracer.span("tiling.lifetime_bboxes"):
            noop(lifetime_bboxes(ents))
        with tracer.span("tiling.assign_cells"):
            noop(assign_cells(ents, use_udf_path=True))
        return ingest_cycle(spark, self.inp, tracer, report)

    def scaling(self, start_session, docs_path: str, n_cores: int,
                wall_n: float) -> float:
        """tile_join wall at local[1] over its wall at local[n_cores]
        (``wall_n``, from the same warm JVM), divided by n_cores: 1.0 is
        perfect scaling."""
        from oshdb_spark.pipeline import tile_join_throughput

        spark = start_session(1)
        try:
            docs = spark.read.parquet(docs_path)
            t0 = time.perf_counter()
            tile_join_throughput(spark, docs, WORLD).collect()
            wall_1 = time.perf_counter() - t0
        finally:
            spark.stop()
        return (wall_1 / wall_n) / n_cores
