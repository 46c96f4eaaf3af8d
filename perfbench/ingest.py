"""Write path: the workload's docs, split into 16 files, streamed by
``streaming.incremental_ingest`` in micro-batches of 8 files into an empty
store; ``sources.store.compact_store`` runs next, then one read query over
the compacted store, checked against the ``World`` ground truth.

Runs inside the traced run of ``spatial_batch`` (see README.md for why it
is not a workload of its own), one span per layer call.
"""

from __future__ import annotations

import os
import time

import numpy as np

import oracles
from common import TMP, fresh_dir
from inputs import STREAM_FILES, split_docs

FILES_PER_TRIGGER = 8
T0 = 1262304000
YEAR = 365 * 86400


def _check_store(spark, path: str, n_docs: int) -> str | None:
    """The compacted store holds every input doc exactly once."""
    from pyspark.sql import functions as F

    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("d")
    ).collect()[0]
    if (row["n"], row["d"]) != (n_docs, n_docs):
        return f"store holds {row['n']} rows / {row['d']} docs, want {n_docs}"
    return None


def ingest_cycle(spark, inp, tracer, report) -> dict:
    """Stream, compact, read back; returns the per-layer figures."""
    from oshdb_spark.api import OSHDB, SnapshotView
    from oshdb_spark.sources.store import compact_store
    from oshdb_spark.streaming import incremental_ingest, stream_docs

    from ohsome import store_stats

    rs = np.random.RandomState(inp.seed + 15485863)
    ts = [T0 + k * YEAR + int(rs.randint(0, 30 * 86400)) for k in range(9)]
    store = fresh_dir(os.path.join(TMP, "ingest_store"))
    ckpt = fresh_dir(os.path.join(TMP, "ingest_ckpt"))
    split_dir = split_docs(inp)
    out = {}
    report.attempted += 1
    why = None
    try:
        t0 = time.perf_counter()
        with tracer.span("streaming.ingest"):
            q = incremental_ingest(
                stream_docs(spark, split_dir, max_files_per_trigger=FILES_PER_TRIGGER),
                store, ckpt, n_buckets=8,
            )
            q.awaitTermination()
        out["streaming.ingest_docs_per_s"] = inp.n_docs / (time.perf_counter() - t0)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p["durationMs"]["triggerExecution"] / 1000.0
                   for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        out["streaming.batch_s"] = float(np.median(batches)) if batches else 0.0
        out["streaming.batches"] = len(batches)
        if len(batches) != STREAM_FILES // FILES_PER_TRIGGER:
            why = f"{len(batches)} micro-batches, want {STREAM_FILES // FILES_PER_TRIGGER}"

        t0 = time.perf_counter()
        with tracer.span("sources.compact"):
            compact_store(spark, store, n_buckets=8)
        out["sources.compact_s"] = time.perf_counter() - t0
        st = store_stats(store, inp.n_docs)
        out["sources.compacted_bytes_per_doc"] = st["store_bytes_per_doc"]

        with tracer.span("api.read_after_write"):
            db = OSHDB.from_store(spark, store)
            rows = (
                SnapshotView.on(db).timestamps(ts).filter("type:node")
                .aggregate_by_timestamp().count().collect()
            )
        got = {int(r["snap_ts"]): int(r["cnt"]) for r in rows}
        want = oracles.node_snapshot(inp.nodes, ts)
        if why is None and not any(got.values()):
            why = "empty read answer"
        elif why is None and got != want:
            why = f"read query: got {got} want {want}"
        why = why or _check_store(spark, store, inp.n_docs)
    except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
        why = f"{type(e).__name__}: {e}"
    if why:
        report.fail("ingest_cycle", why)
    return out
