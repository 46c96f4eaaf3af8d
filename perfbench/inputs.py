"""Seeded inputs and their ground truth, cached by (seed, size).

Docs come from ``oshdb_spark.sources.docs.generate_docs``; the generator's
``World`` tables give the ground truth the oracles use.  Generation is
kept out of every timed region (and out of ``setup_s``): the first run of
a seed writes the cache, later runs read it.  The input digest covers the
doc ids and the span sequences, so two commits can be shown to have run on
the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

from common import CACHE, fresh_dir

# world sizes (features; about 5.4 docs per feature)
QUERY_FEATURES = 4000
BATCH_FEATURES = 6000
STREAM_FILES = 16

HEIDELBERG = (8.67, 49.39)


@dataclass
class Inputs:
    n_features: int
    seed: int
    docs_path: str
    n_docs: int
    digest: str
    # node versions: id, version, ts, visible, lon, lat (fixed point)
    nodes: dict
    # number of entities whose lifetime bbox exists (= meets the world AOI)
    n_boxed_entities: int


def _truth(world) -> tuple[dict, int]:
    n = world.nodes
    nodes = {
        "id": n["id"].to_numpy(np.int64),
        "version": n["version"].to_numpy(np.int64),
        "ts": n["ts"].to_numpy(np.int64),
        "visible": n["visible"].to_numpy(bool),
        "lon": n["lon"].to_numpy(np.int64),
        "lat": n["lat"].to_numpy(np.int64),
    }
    node_ids = set(nodes["id"].tolist())
    boxed_ways = set()
    for wid, refs in zip(world.ways["id"], world.ways["refs"]):
        if any(int(r) in node_ids for r in refs):
            boxed_ways.add(int(wid))
    boxed_rels = set()
    for rid, members in zip(world.relations["id"], world.relations["members"]):
        for m in members or ():
            if (m["type"] == "node" and int(m["ref"]) in node_ids) or (
                m["type"] == "way" and int(m["ref"]) in boxed_ways
            ):
                boxed_rels.add(int(rid))
                break
    return nodes, len(node_ids) + len(boxed_ways) + len(boxed_rels)


def _span_type():
    import pyarrow as pa

    return pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )


def _write(docs, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], pa.string()),
            "spans": pa.array(docs["spans"].tolist(), _span_type()),
        }
    )
    pq.write_table(table, path, row_group_size=8192)


def input_digest(docs) -> str:
    h = hashlib.sha256()
    for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
        h.update(doc_id.encode())
        h.update(json.dumps(spans, sort_keys=True).encode())
    return h.hexdigest()[:16]


def load(n_features: int, seed: int) -> Inputs:
    """Generate (first call per key) or load the cached inputs."""
    from oshdb_spark.sources.docs import generate_docs

    d = os.path.join(CACHE, f"f{n_features}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    truth_path = os.path.join(d, "truth.npz")
    docs_path = os.path.join(d, "docs.parquet")
    if not os.path.exists(meta_path):
        fresh_dir(d)
        os.makedirs(d)
        docs, world = generate_docs(n_features=n_features, seed=seed)
        _write(docs, docs_path)
        nodes, n_boxed = _truth(world)
        np.savez(truth_path, **nodes)
        meta = {
            "n_docs": len(docs),
            "digest": input_digest(docs),
            "n_boxed_entities": n_boxed,
        }
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    with np.load(truth_path) as z:
        nodes = {k: z[k] for k in z.files}
    return Inputs(
        n_features=n_features,
        seed=seed,
        docs_path=docs_path,
        n_docs=int(meta["n_docs"]),
        digest=meta["digest"],
        nodes=nodes,
        n_boxed_entities=int(meta["n_boxed_entities"]),
    )


def split_docs(inp: Inputs) -> str:
    """The docs cut into STREAM_FILES files in order (written on first
    use), the input of the streaming write path."""
    import pyarrow.parquet as pq

    split_dir = os.path.join(os.path.dirname(inp.docs_path), f"split{STREAM_FILES}")
    if not os.path.isdir(split_dir):
        tmp = fresh_dir(split_dir + ".tmp")
        os.makedirs(tmp)
        t = pq.read_table(inp.docs_path)
        bounds = np.linspace(0, t.num_rows, STREAM_FILES + 1).astype(int)
        for i in range(STREAM_FILES):
            pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(tmp, f"part-{i:02d}.parquet"),
                           row_group_size=8192)
        os.replace(tmp, split_dir)
    return split_dir


def read_input_docs(inp: Inputs) -> dict:
    """doc_id -> canonical JSON of its spans, straight from the parquet
    file (pyarrow, not Spark): the byte reference for span checks."""
    import pyarrow.parquet as pq

    t = pq.read_table(inp.docs_path)
    return {
        doc_id: json.dumps(spans, sort_keys=True)
        for doc_id, spans in zip(
            t.column("doc_id").to_pylist(), t.column("spans").to_pylist()
        )
    }
