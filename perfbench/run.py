#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, one process, Spark at
local[min(nproc, 4)].

    python3 perfbench/run.py --workload ohsome_queries --seed 1 --seconds 5 --trace 0

Workloads: ohsome_queries, spatial_batch (see README.md).  Inputs are
generated from --seed and cached under .perfbench/cache; every output is
checked.  The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured untraced.
With --trace 1 each op runs once untraced and once inside spans, and the
metrics are the per-layer ones.  The line before it, and a file under
.perfbench/out, hold the full report: host-noise stamps, input digest,
per-phase figures, failures and, when traced, the spans with self times.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from statistics import median

from common import (
    BENCH_DIR,
    DEFAULT_SEED,
    OUT,
    ROOT,
    HostMeter,
    RssSampler,
    cores,
    fresh_dir,
    prepare_dirs,
    require_program,
    shutdown_jvm,
    start_spark,
)

WORKLOADS = ("ohsome_queries", "spatial_batch")
GOLDEN = os.path.join(BENCH_DIR, "golden.json")
PHASES = (
    "query_p50_s", "queries_per_min", "tile_join_docs_per_s",
    "cell_assign_pts_per_s", "knn_s", "zonal_s",
)
WRITE_PATH = (
    "streaming.ingest_docs_per_s", "streaming.batch_s", "streaming.batches",
    "sources.compact_s", "sources.compacted_bytes_per_doc",
)


def make_workload(name: str, seed: int, golden: dict | None):
    import inputs

    if name == "spatial_batch":
        from batch import SpatialBatch

        return SpatialBatch(inputs.load(inputs.BATCH_FEATURES, seed), golden)
    from ohsome import OhsomeQueries

    return OhsomeQueries(inputs.load(inputs.QUERY_FEATURES, seed), golden)


def metric_units() -> dict[str, str]:
    """Every metric's unit, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def end_to_end(setup: list[float], rss_mb: float, rep) -> dict:
    """Closed loop with no think time: completions per minute of op time
    (the benchmark's own output checks are not counted).  The median op
    latency is in the report, not here: over a handful of unlike ops it
    moved with host CPU steal by up to a third between runs."""
    ops = rep.op_latencies
    return {
        "setup_s": median(setup),
        "peak_rss_mb": rss_mb,
        "ops_per_min": 60.0 * len(ops) / sum(ops),
    }


def per_layer(wl, tracer, elog, untraced, traced, kernels: dict, extra: dict,
              scaling: float, n_cores: int) -> dict:
    from ohsome import TEMPLATE_NAMES, store_stats
    from tracing import union_len

    elog.attribute(tracer.spans)
    tot = tracer.total
    n_docs = wl.inp.n_docs

    def ids(name):
        return {s["id"] for s in tracer.by_name(name)}

    m = {}
    ext = tot("sources.extract")
    m["sources.extract_s"] = ext
    m["sources.extract_docs_per_s"] = n_docs / ext if ext else 0.0
    m["sources.store_write_s"] = tot("sources.store_write")
    st = store_stats(wl.store, n_docs) if hasattr(wl, "store") else {}
    m["sources.store_bytes_per_doc"] = st.get("store_bytes_per_doc", 0.0)
    m["sources.store_files"] = st.get("store_files", 0)
    m["sources.files_read_frac"] = traced.files_read_frac
    rows_out = sum(traced.rows.values())
    m["api.rows_read_per_row_out"] = (
        elog.metrics(ids("api.action"))["input_records"] / rows_out if rows_out else 0.0)
    m.update(kernels)
    m["tiling.lifetime_bboxes_s"] = tot("tiling.lifetime_bboxes")
    m["tiling.assign_cells_s"] = tot("tiling.assign_cells")
    m["snapshot.view_s"] = tot("operators.snapshot")
    m["contribution.view_s"] = tot("operators.contribution")
    m["knn.s"] = tot("operators.knn")
    knn_driver = 0.0
    for s in tracer.by_name("operators.knn"):
        jobs = elog.metrics({s["id"]})["job_intervals"]
        knn_driver += (s["end"] - s["start"]) - union_len(jobs, s["start"], s["end"])
    m["knn.driver_s"] = knn_driver
    m["zonal.s"] = tot("operators.zonal")
    m["zonal.python_mb"] = elog.metrics(ids("operators.zonal"))["python_mb"]
    m["api.plan_s"] = tot("api.plan")
    for t in TEMPLATE_NAMES:
        m[f"api.{t}_s"] = median(untraced.op_times[t]) if t in untraced.op_times else 0.0
    for k in WRITE_PATH:
        m[k] = extra.get(k, 0.0)
    # Spark runtime counters over every traced call; busy share over the
    # wall time of the top-level spans
    sp = elog.metrics({s["id"] for s in tracer.spans})
    wall = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    m["spark.jobs"] = sp["jobs"]
    m["spark.stages"] = sp["stages"]
    m["spark.tasks"] = sp["tasks"]
    m["spark.shuffle_write_mb"] = sp["shuffle_write_mb"]
    m["spark.shuffle_read_mb"] = sp["shuffle_read_mb"]
    m["spark.spill_mb"] = sp["spill_mb"]
    m["spark.gc_frac"] = sp["gc_ms"] / sp["run_ms"] if sp["run_ms"] else 0.0
    m["spark.python_mb"] = sp["python_mb"]
    m["spark.slot_busy_frac"] = sp["run_ms"] / 1000.0 / (wall * n_cores)
    m["spark.task_skew"] = sp["task_skew"]
    m["session.scaling_eff_1to4"] = scaling
    base = sum(sum(v) for v in untraced.op_times.values())
    over = sum(sum(v) for v in traced.op_times.values()) - base
    m["trace.overhead_s"] = over
    m["trace.overhead_frac"] = over / base
    phase = wl.phase(untraced)
    for k in PHASES:
        m[f"phase.{k}"] = phase.get(k, 0.0)
    return m


def layer_summary(tracer) -> dict:
    out: dict[str, dict] = {}
    for s in tracer.spans:
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += s["dur_s"]
        d["self_s"] += s["self_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_program()
    prepare_dirs()
    units = metric_units()

    from runner import OpRunner, Report
    from tracing import EventLog, Tracer

    golden = None
    if args.seed == DEFAULT_SEED and os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f).get(args.workload)
    wl = make_workload(args.workload, args.seed, golden)
    docs_path = wl.inp.docs_path
    n_cores = cores()
    trace = bool(args.trace)
    event_dir = None
    if trace:
        event_dir = fresh_dir(os.path.join(OUT, "eventlog"))
        os.makedirs(event_dir)

    host = HostMeter()
    host.start()
    t_proc = time.perf_counter()
    untraced, traced = Report(), Report()
    kernels, extra, scaling = {}, {}, 0.0
    try:
        with RssSampler() as rss:
            # the JVM launch is paid once and kept out of setup_s; each
            # set-up rep then starts a fresh SparkContext in that JVM
            t0 = time.perf_counter()
            spark = start_spark(n_cores, trace, event_dir)
            jvm_start = time.perf_counter() - t0
            setup = []
            for _ in range(1 if trace else wl.setup_reps):
                spark.stop()
                t0 = time.perf_counter()
                spark = start_spark(n_cores, trace, event_dir)
                tracer = Tracer(spark, enabled=trace)
                docs = spark.read.parquet(docs_path)
                wl.setup(spark, docs, tracer)
                setup.append(time.perf_counter() - t0)
            runner = OpRunner(untraced, tracer, traced if trace else None)
            wl.measure(spark, docs, args.seconds, runner)
            if trace:
                extra = wl.traced_layers(spark, docs, tracer, traced)
                app_id = spark.sparkContext.applicationId
                spark.stop()
                elog = EventLog(event_dir, app_id)
                if hasattr(wl, "scaling"):
                    tj = untraced.op_times["tile_join"] + traced.op_times["tile_join"]
                    scaling = wl.scaling(start_spark, docs_path, n_cores, min(tj))
                import layers

                kernels = layers.kernel_metrics(args.seed)
    finally:
        shutdown_jvm()

    attempted = untraced.attempted + traced.attempted
    failed = untraced.failed + traced.failed
    e2e = end_to_end(setup, rss.peak_mb, untraced)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": n_cores,
        "input": {"docs": wl.inp.n_docs, "features": wl.inp.n_features,
                  "digest": wl.inp.digest},
        "host": host.stamp(),
        "jvm_start_s": jvm_start,
        "setup_reps_s": setup,
        "process_s": time.perf_counter() - t_proc,
        "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
        "error_rate": failed / attempted,
        "op_p50_s": median(untraced.op_latencies),
        "op_samples": len(untraced.op_latencies),
        "phase": wl.phase(untraced),
        "op_s": {k: median(v) for k, v in untraced.op_times.items()},
        "digests": untraced.digests,
        "failures": untraced.failures + traced.failures,
    }
    if trace:
        tracer.self_times()
        layer = per_layer(wl, tracer, elog, untraced, traced, kernels, extra,
                          scaling, n_cores)
        report["per_layer"] = layer
        report["layers"] = layer_summary(tracer)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.json")
        tracer.write(spans_path, {"report": report})
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    with open(os.path.join(OUT, f"report-{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
