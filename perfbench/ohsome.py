"""Workload ``ohsome_queries``: a closed loop of fluent-API queries, one
client, no think time, over ``OSHDB.from_store`` on a store built by batch
ETL during set-up.

The template list and its order are fixed; the seed picks the parameters
(timestamps, the small and rural boxes, the polygon AOI, the zone split)
and the world itself.  A run executes whole passes over the list until
``--seconds`` have gone by.
"""

from __future__ import annotations

import os
import time

import numpy as np

import oracles
from common import TMP, digest, fresh_dir, noop

T0 = 1262304000  # 2010-01-01T00:00Z, the generator's history start
YEAR = 365 * 86400
HD_BBOX = (8.55, 49.27, 8.79, 49.51)
WORLD = (-180.0, -90.0, 180.0, 90.0)
CITY_CENTERS = [(8.67, 49.39), (-74.0, 40.7), (139.7, 35.7), (151.2, -33.9), (37.6, 55.8)]


def translator():
    from oshdb_spark.filters.dsl import TagTranslator

    return TagTranslator(
        keys={"building": 2, "highway": 3, "name": 7, "amenity": 8, "area": 1},
        values={("building", "1"): 1, ("building", "2"): 2},
    )


def params(seed: int, nodes: dict) -> dict:
    """Seeded query parameters.  Positions jitter with the seed; sizes stay
    fixed, so each template does about the same work on every seed."""
    rs = np.random.RandomState(seed + 7919)
    ts9 = [T0 + k * YEAR + int(rs.randint(0, 30 * 86400)) for k in range(9)]
    last = ts9[-1]
    while True:  # a small box in the hot cluster that holds nodes
        cx, cy = 8.67 + rs.uniform(-0.005, 0.005), 49.39 + rs.uniform(-0.005, 0.005)
        small = (cx - 0.02, cy - 0.015, cx + 0.02, cy + 0.015)
        if oracles.node_snapshot(nodes, [last], small)[last] > 0:
            break
    while True:  # a rural box: no city centre, but some nodes
        cx, cy = rs.uniform(-150, 150), rs.uniform(-60, 60)
        rural = (cx - 25, cy - 15, cx + 25, cy + 15)
        if any(rural[0] <= x <= rural[2] and rural[1] <= y <= rural[3]
               for x, y in CITY_CENTERS):
            continue
        if oracles.node_snapshot(nodes, [last], rural)[last] > 0:
            break
    sx = rs.uniform(8.65, 8.69)
    sy = rs.uniform(49.37, 49.41)
    b = HD_BBOX
    quads = {
        "sw": (b[0], b[1], sx, sy), "se": (sx, b[1], b[2], sy),
        "nw": (b[0], sy, sx, b[3]), "ne": (sx, sy, b[2], b[3]),
    }
    zones = {
        k: {"type": "Polygon", "coordinates": [[[q[0], q[1]], [q[2], q[1]],
                                               [q[2], q[3]], [q[0], q[3]],
                                               [q[0], q[1]]]]}
        for k, q in quads.items()
    }
    return {
        "ts9": ts9,
        "ts3": [ts9[2], ts9[5], ts9[8]],
        "last": last,
        "small": tuple(float(v) for v in small),
        "rural": tuple(float(v) for v in rural),
        "polygon": oracles.star_polygon(rs, 8.67, 49.39, 0.08, min_frac=0.85),
        "zones": zones,
    }


# ---------------------------------------------------------------------------
# templates: a view builder, a reducer returning a lazy DataFrame, and for
# some an oracle over the ground truth
# ---------------------------------------------------------------------------


def _ts_counts(rows, key="snap_ts", val="cnt"):
    return {int(r[key]): int(r[val]) for r in rows}


def templates(p: dict, nodes: dict) -> list[dict]:
    from oshdb_spark.api import ContributionView, SnapshotView

    def snap(ts, bbox=None, flt=None, polygon=None):
        def build(db):
            v = SnapshotView.on(db).timestamps(ts)
            if bbox is not None:
                v = v.area_of_interest(bbox=bbox)
            if polygon is not None:
                v = v.area_of_interest(polygon=polygon)
            return v.filter(flt)
        return build

    def contrib(ts, bbox, flt):
        def build(db):
            return ContributionView.on(db).timestamps(ts).area_of_interest(bbox=bbox).filter(flt)
        return build

    def by_ts_count(v):
        return v.aggregate_by_timestamp().count()

    ts9, ts3, last = p["ts9"], p["ts3"], p["last"]
    return [
        dict(name="snap_nodes_world_sum", filter="type:node",
             build=snap(ts9, WORLD, "type:node"),
             run=lambda v: v.aggregate_by_timestamp().sum("version", name="s"),
             oracle=lambda: oracles.node_snapshot(nodes, ts9, WORLD, value="version"),
             got=lambda rows: _ts_counts(rows, val="s")),
        dict(name="snap_zones_uniq_hd", filter="type:way and building=*",
             build=snap([last], HD_BBOX, "type:way and building=*"),
             run=lambda v: v.aggregate_by_geometry(p["zones"]).count_uniq("id", name="u")),
        dict(name="snap_polygon_ways", filter="type:way",
             build=snap(ts3, None, "type:way", polygon=p["polygon"]), run=by_ts_count),
        dict(name="snap_rows_rural", filter="type:node",
             build=snap([last], p["rural"], "type:node"),
             run=lambda v: v.dataframe().select("doc_id", "type", "id", "version", "snap_ts"),
             oracle=lambda: oracles.node_rows(nodes, last, p["rural"]),
             got=lambda rows: sorted((r["id"], r["version"]) for r in rows)),
        dict(name="contrib_count_small", filter="type:way",
             build=contrib(ts3, p["small"], "type:way"), run=by_ts_count),
    ]


TEMPLATE_NAMES = [
    "snap_nodes_world_sum", "snap_zones_uniq_hd", "snap_polygon_ways",
    "snap_rows_rural", "contrib_count_small",
]


def nonzero(rows: list[dict]) -> bool:
    """Reject empty or all-zero answers (a trivially fast wrong answer)."""
    if not rows:
        return False
    nums = [v for r in rows for k, v in r.items()
            if isinstance(v, (int, float)) and not k.endswith("_ts")
            and k not in ("id", "version")]
    return not nums or any(nums)


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------


class OhsomeQueries:
    # one set-up is a whole batch ETL (7-15 s): it runs once per run
    setup_reps = 1

    def __init__(self, inp, golden: dict | None):
        self.inp = inp
        self.golden = golden
        self.store = os.path.join(TMP, "ohsome_store")
        self.p = params(inp.seed, inp.nodes)
        self.templates = templates(self.p, inp.nodes)
        self.input_spans = None

    def setup(self, spark, docs, tracer) -> None:
        """Batch ETL of the tiled store, which is also the first read of
        the docs (timed as ``setup_s``).  Traced, it is two spans:
        extraction alone, then the whole tile + bucket + sort + write (the
        tiling steps are traced on their own in ``spatial_batch``)."""
        from oshdb_spark.sources.entities import extract_entities
        from oshdb_spark.sources.store import write_entities_table

        ents = extract_entities(docs)
        if tracer.enabled:
            with tracer.span("sources.extract"):
                noop(ents)
        fresh_dir(self.store)
        with tracer.span("sources.store_write"):
            write_entities_table(ents, self.store, n_buckets=8)

    def _query(self, tracer, db, t) -> list[dict]:
        with tracer.span("api.query", template=t["name"]):
            df = t["run"](t["build"](db))
            if tracer.enabled:
                with tracer.span("api.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("api.action"):
                return [r.asDict() for r in df.collect()]

    def check(self, t: dict, rows: list[dict], docs_db) -> str | None:
        """None when the answer passes every check, else the reason."""
        if not nonzero(rows):
            return "empty or all-zero answer"
        if "oracle" in t:
            want = t["oracle"]()
            got = t["got"](rows)
            if got != want:
                return f"oracle mismatch: got {got} want {want}"
        if t["name"] == "snap_rows_rural":
            bad = self._span_check(rows)
            if bad:
                return bad
        if self.golden is not None:
            want = self.golden.get(t["name"])
            if want is not None and digest(rows) != want:
                return f"golden digest mismatch: {digest(rows)} != {want}"
        if docs_db is not None:
            ref = [r.asDict() for r in t["run"](t["build"](docs_db)).collect()]
            if digest(ref) != digest(rows):
                return "store answer differs from OSHDB.from_docs"
        return None

    def _span_check(self, rows) -> str | None:
        """Every surviving doc_id exists in the input, its spans are
        byte-equal to the input's, and its payload is that entity version."""
        import json

        from inputs import read_input_docs

        if self.input_spans is None:
            self.input_spans = read_input_docs(self.inp)
        for r in rows:
            spans = self.input_spans.get(r["doc_id"])
            if spans is None:
                return f"doc {r['doc_id']} not in the input"
            payload = json.loads("".join(
                s["text"] for s in sorted(json.loads(spans), key=lambda s: s["offset"])
                if s["kind"] == "text"))
            if (payload["type"], payload["id"], payload["version"]) != (
                    r["type"], r["id"], r["version"]):
                return f"doc {r['doc_id']} carries another entity version"
        return None

    def measure(self, spark, docs, seconds: float, runner) -> None:
        """Closed loop, one client: whole passes over the template list."""
        from oshdb_spark.api import OSHDB

        db = OSHDB.from_store(spark, self.store, translator=translator())
        if runner.tracing:
            # the first query after the ETL carries the session's warm-up
            # (about 4 s) that would otherwise land on one side of its
            # traced/untraced pair; it runs once, discarded
            from tracing import Tracer

            self._query(Tracer(), db, self.templates[0])
        rep = runner.untraced
        # the store-vs-docs cross-check runs on one template per run,
        # rotating with the seed, outside the timed region
        cross = self.templates[self.inp.seed % len(self.templates)]["name"]
        start = time.perf_counter()
        passes = 0
        while passes == 0 or (not runner.tracing and time.perf_counter() - start < seconds):
            for t in self.templates:
                first = passes == 0

                def check(rows, t=t, first=first):
                    docs_db = None
                    if first and t["name"] == cross and not runner.tracing:
                        docs_db = OSHDB.from_docs(spark, docs, translator=translator())
                    if first:
                        rep.digests[t["name"]] = digest(rows)
                        rep.rows[t["name"]] = len(rows)
                    return self.check(t, rows, docs_db)

                runner.run(t["name"], lambda tr, t=t: self._query(tr, db, t), check)
            passes += 1
        rep.op_latencies = [x for xs in rep.op_times.values() for x in xs]
        # the files each template's own query plan lists, over the store's
        # files: file-level pruning in the API shrinks the listing
        n_files = max(1, _count_parquet(self.store))
        rep.files_read_frac = float(np.mean([
            len(t["run"](t["build"](db)).inputFiles()) / n_files
            for t in self.templates]))
        if runner.tracing:
            runner.traced.rows = dict(rep.rows)
            runner.traced.files_read_frac = rep.files_read_frac

    def phase(self, rep) -> dict:
        lat = rep.op_latencies
        return {
            "query_p50_s": float(np.median(lat)),
            "queries_per_min": 60.0 * len(lat) / sum(lat),
        }

    def traced_layers(self, spark, docs, tracer, report) -> dict:
        """Traced run only: each view operator and the filter parser called
        once directly, materialized."""
        from oshdb_spark.api import OSHDB
        from oshdb_spark.filters.dsl import parse_filter
        from oshdb_spark.operators.contribution import contribution_view
        from oshdb_spark.operators.snapshot import snapshot_view

        db = OSHDB.from_store(spark, self.store, translator=translator())
        ts3 = self.p["ts3"]
        with tracer.span("filters.parse"):
            for t in self.templates:
                parse_filter(t["filter"], translator())
        with tracer.span("operators.snapshot"):
            noop(snapshot_view(db.entities, ts3, bbox_deg=HD_BBOX))
        with tracer.span("operators.contribution"):
            noop(contribution_view(db.entities, ts3[0], ts3[-1]))
        return {}


def _count_parquet(path: str) -> int:
    n = 0
    for root, dirs, files in os.walk(path):
        if any(part.startswith(("_", ".")) for part in
               os.path.relpath(root, path).split(os.sep) if part != "."):
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def store_stats(path: str, n_docs: int) -> dict:
    files = _count_parquet(path)
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return {"store_files": files, "store_bytes_per_doc": size / max(1, n_docs)}
