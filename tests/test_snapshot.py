"""Snapshot view vs an independent pandas oracle on the ground-truth world.

Oracle semantics from CellIterator.iterateByTimestamps (CellIterator.java:240-415):
version valid at t = newest version with ts <= t; deleted versions absorb
timestamps but emit nothing; way lines resolve refs as-of t and drop
invisible/missing nodes; zero-coordinate geometries are not emitted.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oshdb_spark.geometry import from_wkt, is_empty
from oshdb_spark.geometry.taginterpreter import default_tag_interpreter
from oshdb_spark.operators.snapshot import snapshot_view
from oshdb_spark.sources.entities import extract_entities

TI = default_tag_interpreter()

# six snapshots, 2010..2020 every 2 years
TS = [1262304000 + k * 2 * 365 * 86400 for k in range(6)]


@pytest.fixture(scope="module")
def entities(spark, docs_parquet):
    path, _, _ = docs_parquet
    return extract_entities(spark.read.parquet(path)).cache()


@pytest.fixture(scope="module")
def snapshots(spark, entities):
    return snapshot_view(entities, TS).cache()


def oracle_version_at(df: pd.DataFrame, t: int):
    """id -> row of the newest version with ts <= t."""
    sub = df[df["ts"] <= t]
    if sub.empty:
        return {}
    idx = sub.sort_values(["id", "ts", "version"]).groupby("id").tail(1)
    return {r.id: r for r in idx.itertuples(index=False)}


def oracle_node_snapshots(world):
    rows = []
    for t in TS:
        for nid, v in oracle_version_at(world.nodes, t).items():
            if v.visible:
                rows.append((nid, t, v.lon, v.lat))
    return set(rows)


def oracle_way_snapshots(world):
    rows = {}
    for t in TS:
        node_at = oracle_version_at(world.nodes, t)
        for wid, v in oracle_version_at(world.ways, t).items():
            if not v.visible:
                continue
            line = []
            for ref in v.refs:
                n = node_at.get(ref)
                if n is not None and n.visible:
                    line.append((ref, n.lon / 1e7, n.lat / 1e7))
            if not line:
                continue  # empty geometry -> not emitted
            rows[(wid, t)] = (v, line)
    return rows


def test_node_snapshots_match_oracle(snapshots, docs_parquet):
    _, _, world = docs_parquet
    got = {
        (r["id"], r["snap_ts"], r["lon"], r["lat"])
        for r in snapshots.filter("type = 'node'")
        .select("id", "snap_ts", "lon", "lat")
        .collect()
    }
    assert got == oracle_node_snapshots(world)


def test_way_snapshots_match_oracle(snapshots, docs_parquet):
    _, _, world = docs_parquet
    expected = oracle_way_snapshots(world)
    got = {
        (r["id"], r["snap_ts"]): r
        for r in snapshots.filter("type = 'way'").collect()
    }
    assert set(got) == set(expected)
    # geometry: vertex counts and kinds match the oracle line + area decision
    for key, (v, line) in expected.items():
        g = from_wkt(got[key]["wkt"])
        is_area = TI.way_is_area(list(v.refs), {int(k): x for k, x in v.tags.items()})
        coords_ok = [c for c in line]
        if is_area and len(coords_ok) >= 4 and coords_ok[0][0] == coords_ok[-1][0]:
            assert g["type"] == "Polygon", key
            assert got[key]["area"] > 0
        elif len(coords_ok) >= 2:
            assert g["type"] == "LineString", key
            assert got[key]["length"] > 0


def test_way_last_mod_tracks_member_moves(snapshots, docs_parquet):
    """After a member node moves, the way's last_mod_ts must be the node's
    edit timestamp, not the way's own version timestamp."""
    _, _, world = docs_parquet
    moved = world.nodes[world.nodes.groupby("id")["id"].transform("size") > 1]
    moved_ids = set(moved["id"])
    candidates = []
    for w in world.ways.drop_duplicates("id").itertuples(index=False):
        hit = [r for r in w.refs if r in moved_ids]
        if hit:
            move_ts = int(world.nodes[world.nodes["id"] == hit[0]]["ts"].max())
            candidates.append((w.id, w.ts, move_ts))
    assert candidates
    got = {
        (r["id"], r["snap_ts"]): r["last_mod_ts"]
        for r in snapshots.filter("type = 'way'").collect()
    }
    checked = 0
    for wid, own_ts, move_ts in candidates:
        # ways can have a v2; only check while v1 is current and after the move
        v2 = world.ways[(world.ways["id"] == wid) & (world.ways["version"] == 2)]
        limit = int(v2["ts"].iloc[0]) if len(v2) else 2**62
        for t in TS:
            if move_ts <= t < limit and (wid, t) in got:
                assert got[(wid, t)] == move_ts, (wid, t)
                checked += 1
    assert checked > 0


def test_relation_snapshots(snapshots, docs_parquet):
    _, _, world = docs_parquet
    rels = snapshots.filter("type = 'relation'").collect()
    by_key = {(r["id"], r["snap_ts"]): r for r in rels}
    for v in world.relations.itertuples(index=False):
        for t in TS:
            if v.ts <= t and v.visible:
                assert (v.id, t) in by_key, (v.id, t)
                r = by_key[(v.id, t)]
                g = from_wkt(r["wkt"])
                # multipolygon relations assemble to polygonal geometry
                assert g["type"] in ("Polygon", "MultiPolygon")
                assert r["area"] > 0
                # two outer half-rings + inner ring -> 1 shell + 1 hole
                if g["type"] == "Polygon":
                    assert len(g["coordinates"]) == 2


def test_snapshot_with_bbox_clip(spark, entities, docs_parquet):
    _, _, world = docs_parquet
    bbox = (8.0, 49.0, 9.2, 49.8)
    clipped = snapshot_view(entities, TS, bbox_deg=bbox).cache()
    rows = clipped.collect()
    assert rows
    for r in rows:
        g = from_wkt(r["clipped_wkt"])
        assert not is_empty(g)
    # node set == oracle nodes inside bbox
    got_nodes = {
        (r["id"], r["snap_ts"]) for r in rows if r["type"] == "node"
    }
    exp = {
        (nid, t)
        for (nid, t, lon, lat) in oracle_node_snapshots(world)
        if bbox[0] * 1e7 <= lon <= bbox[2] * 1e7 and bbox[1] * 1e7 <= lat <= bbox[3] * 1e7
    }
    assert got_nodes == exp
    clipped.unpersist()


def test_deleted_entities_not_emitted(snapshots, docs_parquet):
    _, _, world = docs_parquet
    deleted = world.nodes[~world.nodes["visible"]]
    assert len(deleted)
    got = {
        (r["id"], r["snap_ts"])
        for r in snapshots.filter("type = 'node'").select("id", "snap_ts").collect()
    }
    for row in deleted.itertuples(index=False):
        for t in TS:
            if t >= row.ts:
                assert (row.id, t) not in got, (row.id, t)


# ---------------------------------------------------------------------------
# nested relation members (relation -> relation,
# OSHDBGeometryBuilderInternal.java:305-358 recursion)
# ---------------------------------------------------------------------------

NEST_SCHEMA = (
    "doc_id string, id long, type string, version int, visible boolean, "
    "ts long, changeset long, uid int, tags map<int,int>, lon long, lat long, "
    "refs array<long>, members array<struct<type:string,ref:long,role:string>>"
)


def _mk(doc, id_, typ, ver, vis, ts, lon=None, lat=None, refs=None, members=None,
        tags=None):
    return (doc, id_, typ, ver, vis, ts, 0, 0, tags or {}, lon, lat, refs, members)


def test_nested_relation_geometry(spark):
    """A super-relation with a relation member resolves one level deep: its
    GeometryCollection contains the child relation's geometry; a missing
    (unresolvable) relation member is skipped with a partial result."""
    t0 = 100
    rows = [
        _mk("d", 1, "node", 1, True, t0, 10_0000000, 10_0000000),
        _mk("d", 2, "node", 1, True, t0, 20_0000000, 10_0000000),
        _mk("d", 3, "node", 1, True, t0, 30_0000000, 30_0000000),
        # child relation 50: collection of nodes 1,2
        _mk("d", 50, "relation", 1, True, t0, members=[
            ("node", 1, ""), ("node", 2, "")]),
        # super-relation 60: child relation 50 + node 3
        _mk("d", 60, "relation", 1, True, t0, members=[
            ("relation", 50, ""), ("node", 3, "")]),
        # super-relation 61: only a DANGLING relation member (no data)
        _mk("d", 61, "relation", 1, True, t0, members=[
            ("relation", 999, ""), ("node", 3, "")]),
    ]
    ents = spark.createDataFrame(rows, NEST_SCHEMA)
    out = snapshot_view(ents, [t0 + 1], keep_empty=True)
    wkts = {r["id"]: r["wkt"] for r in out.filter("type = 'relation'").collect()}
    child = from_wkt(wkts[50])
    assert child["type"] == "GeometryCollection"
    assert len(child["geometries"]) == 2
    sup = from_wkt(wkts[60])
    assert sup["type"] == "GeometryCollection"
    # child collection + node 3 point
    assert len(sup["geometries"]) == 2
    assert any(g["type"] == "GeometryCollection" for g in sup["geometries"])
    # dangling relation member skipped, partial result (reference logs+skips)
    dangling = from_wkt(wkts[61])
    assert len(dangling["geometries"]) == 1


def test_deep_nested_relation_geometry(spark):
    """Relations layered by nesting level build bottom-up: a THREE-deep
    super-relation chain (70 -> 60 -> 50 -> nodes) resolves its FULL
    geometry, matching the reference's unbounded recursion
    (OSHDBGeometryBuilderInternal.java:305-358); a relation CYCLE — input
    the reference would never return from — terminates with partial
    geometry on the guard level."""
    t0 = 100
    rows = [
        _mk("d", 1, "node", 1, True, t0, 10_0000000, 10_0000000),
        _mk("d", 2, "node", 1, True, t0, 20_0000000, 10_0000000),
        _mk("d", 3, "node", 1, True, t0, 30_0000000, 30_0000000),
        _mk("d", 4, "node", 1, True, t0, 40_0000000, 30_0000000),
        _mk("d", 50, "relation", 1, True, t0, members=[
            ("node", 1, ""), ("node", 2, "")]),
        _mk("d", 60, "relation", 1, True, t0, members=[
            ("relation", 50, ""), ("node", 3, "")]),
        _mk("d", 70, "relation", 1, True, t0, members=[
            ("relation", 60, ""), ("node", 4, "")]),
        # 2-cycle 80 <-> 81, each with one own node member
        _mk("d", 80, "relation", 1, True, t0, members=[
            ("relation", 81, ""), ("node", 1, "")]),
        _mk("d", 81, "relation", 1, True, t0, members=[
            ("relation", 80, ""), ("node", 2, "")]),
    ]
    ents = spark.createDataFrame(rows, NEST_SCHEMA)
    out = snapshot_view(ents, [t0 + 1], keep_empty=True)
    wkts = {r["id"]: r["wkt"] for r in out.filter("type = 'relation'").collect()}
    top = from_wkt(wkts[70])
    assert top["type"] == "GeometryCollection"
    assert len(top["geometries"]) == 2
    mid = [g for g in top["geometries"] if g["type"] == "GeometryCollection"]
    assert len(mid) == 1  # relation 60, fully built two levels down
    inner = [g for g in mid[0]["geometries"]
             if g["type"] == "GeometryCollection"]
    assert len(inner) == 1 and len(inner[0]["geometries"]) == 2  # relation 50
    # cycle members terminate; own (non-cyclic) members are present
    for rid in (80, 81):
        g = from_wkt(wkts[rid])
        assert g["type"] == "GeometryCollection"
        assert len(g["geometries"]) >= 1


def test_flat_relations_unaffected_by_nesting_path(spark):
    """Without any relation-type members the probe short-circuits and the
    plan stays single-pass (same results as before)."""
    t0 = 100
    rows = [
        _mk("d", 1, "node", 1, True, t0, 10_0000000, 10_0000000),
        _mk("d", 50, "relation", 1, True, t0, members=[("node", 1, "")]),
    ]
    ents = spark.createDataFrame(rows, NEST_SCHEMA)
    out = snapshot_view(ents, [t0 + 1], keep_empty=True)
    wkts = {r["id"]: r["wkt"] for r in out.filter("type = 'relation'").collect()}
    assert from_wkt(wkts[50])["type"] == "GeometryCollection"


def test_old_style_multipolygons(spark):
    """includeOldStyleMultipolygons (CellIterator.java:330-380): a relation
    with one outer way and no interesting tags emits only its inner holes,
    with the outer way's tags substituted; ordinary relations unchanged."""
    t0 = 100
    sq = [(1, 0, 0), (2, 10, 0), (3, 10, 10), (4, 0, 10)]
    hole = [(5, 4, 4), (6, 6, 4), (7, 6, 6), (8, 4, 6)]
    rows = []
    for nid, x, y in sq + hole:
        rows.append(_mk("d", nid, "node", 1, True, t0,
                        x * 10_000_000, y * 10_000_000))
    # outer way closed ring, carries the semantic tag (building=1 -> key 2)
    rows.append(("d", 20, "way", 1, True, t0, 0, 0, {2: 1}, None, None,
                 [1, 2, 3, 4, 1], None))
    # inner way closed ring
    rows.append(("d", 21, "way", 1, True, t0, 0, 0, {}, None, None,
                 [5, 6, 7, 8, 5], None))
    # old-style relation: ONLY type=multipolygon (key 4 val 1), tags on way
    rows.append(("d", 30, "relation", 1, True, t0, 0, 0, {4: 1}, None, None,
                 None, [("way", 20, "outer"), ("way", 21, "inner")]))
    # new-style relation: carries its own building tag too
    rows.append(("d", 31, "relation", 1, True, t0, 0, 0, {4: 1, 2: 7}, None,
                 None, None, [("way", 20, "outer"), ("way", 21, "inner")]))
    ents = spark.createDataFrame(rows, NEST_SCHEMA)

    out = snapshot_view(ents, [t0 + 1], include_old_style_multipolygons=True)
    rels = {r["id"]: r for r in out.filter("type = 'relation'").collect()}

    old = rels[30]
    g = from_wkt(old["wkt"])
    assert g["type"] == "MultiPolygon"  # holes-only fix-up geometry
    assert len(g["coordinates"]) == 1
    xs = [p[0] for p in g["coordinates"][0][0]]
    assert min(xs) == 4.0 and max(xs) == 6.0  # it IS the hole ring
    assert dict(old["tags"]) == {2: 1}  # outer way's tags substituted

    new = rels[31]
    gn = from_wkt(new["wkt"])
    assert gn["type"] == "Polygon" and len(gn["coordinates"]) == 2
    assert dict(new["tags"]) == {4: 1, 2: 7}

    # without the flag, the old-style relation builds normally
    out2 = snapshot_view(ents, [t0 + 1])
    r30 = out2.filter("type = 'relation' and id = 30").collect()[0]
    assert from_wkt(r30["wkt"])["type"] == "Polygon"
    assert dict(r30["tags"]) == {4: 1}


def test_way_geometry_udf_vectorized_parity(spark):
    """The vectorized way-geometry kernel must reproduce the row-at-a-time
    reference path (build_way_geometry + _measure_bbox) bit-exactly:
    packed geometry bytes, spherical areas, geodesic lengths, bboxes —
    across points/lines/polygons, closed-but-not-area, unclosed refs,
    empty and invisible rows."""
    import random

    from oshdb_spark.geometry.builder import build_way_geometry
    from oshdb_spark.operators.geometry_ops import (
        _measure_bbox,
        way_geometry_udf,
    )
    from oshdb_spark.geometry.taginterpreter import default_tag_interpreter

    rng = random.Random(42)
    ti = default_tag_interpreter()
    rows = []
    for rid in range(400):
        kind = rid % 8
        nn = {0: 0, 1: 1, 2: 2, 3: 3}.get(kind, rng.randint(4, 12))
        pts = []
        for k in range(nn):
            lon = round(rng.uniform(-179, 179), 4)
            lat = round(rng.uniform(-85, 85), 4)
            pts.append((100 + k, lon, lat))
        refs = [p[0] for p in pts]
        closed = kind in (5, 6, 7) and nn >= 4
        if closed:
            pts.append(pts[0])
            refs.append(refs[0])
        # kind 5: area tags; kind 6: area=no veto; kind 7: non-area tag
        tags = {2: 1} if kind == 5 else ({2: 1, 1: 0} if kind == 6 else {3: 1})
        visible = kind != 4
        line = [{"nid": p[0], "lon": p[1], "lat": p[2]} for p in pts]
        rows.append((rid, visible, tags, refs, line))

    schema = (
        "rid int, visible boolean, tags map<int,int>, refs array<long>, "
        "line array<struct<nid:long,lon:double,lat:double>>"
    )
    df = spark.createDataFrame(rows, schema)
    wudf = way_geometry_udf(ti)
    got = {
        r["rid"]: r["g"]
        for r in df.withColumn(
            "g", wudf("visible", "tags", "refs", "line")
        ).collect()
    }
    for rid, visible, tags, refs, line in rows:
        nodes = [(p["nid"], p["lon"], p["lat"]) for p in line]
        is_area = ti.way_is_area(refs, tags)
        g = build_way_geometry(visible, is_area, nodes)
        w, a, l, mnx, mny, mxx, mxy = _measure_bbox(g)
        r = got[rid]
        assert bytes(r["geom"]) == w, (rid, bytes(r["geom"]), w)
        assert r["area"] == a, (rid, r["area"], a)
        assert r["length"] == l, (rid, r["length"], l)
        assert (r["minx"], r["miny"], r["maxx"], r["maxy"]) == (
            mnx, mny, mxx, mxy), rid


# ---------------------------------------------------------------------------
# type narrowing (MapReducer.java:1910-1935): a narrowed view equals the
# full view filtered to the requested kinds
# ---------------------------------------------------------------------------

NARROW_BBOX = (8.0, 49.0, 9.2, 49.8)


def _snapshot_rows(df):
    """Collected rows as sortable, comparable tuples (maps as item lists)."""
    def norm(v):
        return sorted(v.items()) if isinstance(v, dict) else v

    rows = [
        tuple((k, norm(v)) for k, v in sorted(r.asDict().items()))
        for r in df.collect()
    ]
    return sorted(rows, key=lambda t: [
        v for k, v in t if k in ("type", "id", "version", "snap_ts")
    ])


@pytest.fixture(scope="module")
def nested_entities(spark, entities, docs_parquet):
    """The docs world plus a super-relation over one of its multipolygons
    and ways, so the nesting-level path runs."""
    _, _, world = docs_parquet
    rel = int(world.relations["id"].iloc[0])
    way = int(world.ways["id"].iloc[0])
    extra = [
        _mk("nest-1", 9_000_001, "relation", 1, True, TS[1], members=[
            ("relation", rel, ""), ("way", way, "")]),
    ]
    return entities.unionByName(
        spark.createDataFrame(extra, NEST_SCHEMA)
    ).cache()


@pytest.fixture(scope="module")
def full_bbox_rows(nested_entities):
    return _snapshot_rows(
        snapshot_view(nested_entities, TS, bbox_deg=NARROW_BBOX)
    )


@pytest.mark.parametrize(
    "types",
    [{"node"}, {"way"}, {"relation"}, {"node", "way"}, {"way", "relation"}],
    ids=lambda t: "+".join(sorted(t)),
)
def test_type_narrowed_snapshot_equals_filtered_full_view(
    nested_entities, full_bbox_rows, types
):
    got = _snapshot_rows(
        snapshot_view(nested_entities, TS, bbox_deg=NARROW_BBOX, types=types)
    )
    want = [r for r in full_bbox_rows if dict(r)["type"] in types]
    assert want
    assert {dict(r)["type"] for r in want} == types
    assert got == want


def test_nested_fixture_reaches_super_relations(full_bbox_rows):
    ids = {dict(r)["id"] for r in full_bbox_rows}
    assert 9_000_001 in ids
