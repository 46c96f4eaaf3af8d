"""Plan-shape regression tests for the round-5 operators: assert the
100-TB posture claims made in SURVEY.md §2 directly against the physical
plan — JVM-only paths must stay free of Python eval nodes, candidate
generation must be `sequence`/explode (not a cross join), and the
applyInPandas operators must shuffle exactly once (one FlatMapGroupsInPandas,
no extra Exchange beyond its group-by)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oshdb_spark.operators.aggregations import (
    cell_dwell_time,
    interval_overlap_join,
    radius_of_gyration,
    simplify_track_dp,
    track_convex_hull,
)
from oshdb_spark.operators.knn import cross_dwithin_join, spacetime_k_counts
from oshdb_spark.operators.snapshot import relation_node_closure
from oshdb_spark.operators.tiling import (
    cell_user_simpson,
    join_count_stats,
    segment_cell_cover,
)
from oshdb_spark.operators.zonal import raster_focal_sum


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _points(spark, n=50):
    return spark.range(n).selectExpr(
        "id AS event_id",
        "id % 5 AS user_id",
        "(id % 100) * 10000000 - 500000000 AS lon_fp",
        "((id * 7) % 80) * 10000000 - 400000000 AS lat_fp",
        "id * 1000 AS ts_us",
    )


def _no_python(plan: str) -> bool:
    return (
        "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan
        and "MapInPandas" not in plan
    )


def test_jvm_only_operators_have_no_python_nodes(spark):
    pts = _points(spark)
    jvm_only = [
        join_count_stats(pts, 7, threshold=2),
        cell_user_simpson(pts, 7),
        cell_dwell_time(pts, 7),
        radius_of_gyration(pts),
        interval_overlap_join(
            pts.selectExpr(
                "event_id", "user_id", "ts_us AS start_us",
                "ts_us + 5000 AS end_us",
            ),
            10_000,
            key_col="user_id",
        ),
        cross_dwithin_join(
            pts.filter("event_id % 2 = 0"),
            pts.filter("event_id % 2 = 1"),
            20_000_000,
            zoom=7,
        ),
        spacetime_k_counts(pts, [10_000_000], [100_000], zoom=7),
        raster_focal_sum(
            pts.groupBy(F.col("event_id").alias("cell_id")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            7,
        ),
        relation_node_closure(
            spark.createDataFrame(
                [
                    ("way", 1, [10, 11], None),
                    (
                        "relation",
                        100,
                        None,
                        [("way", 1, ""), ("node", 5, "")],
                    ),
                ],
                "type string, id long, refs array<bigint>, "
                "members array<struct<type:string,ref:bigint,role:string>>",
            )
        ),
        segment_cell_cover(
            pts.selectExpr(
                "event_id AS seg_id", "lon_fp AS x1", "lat_fp AS y1",
                "lon_fp + 50000000 AS x2", "lat_fp + 30000000 AS y2",
            ),
            9,
        ),
    ]
    for df in jvm_only:
        plan = _plan(df)
        assert _no_python(plan), f"Python eval node leaked into:\n{plan[:2000]}"


def test_pandas_operators_shuffle_exactly_once(spark):
    pts = _points(spark)
    for df in (
        simplify_track_dp(pts, 10_000),
        track_convex_hull(pts),
    ):
        plan = _plan(df)
        assert plan.count("FlatMapGroupsInPandas") == 1
        # exactly the one hash-partitioning exchange feeding the groupBy
        assert plan.count("Exchange") == 1, plan[:2000]


def test_segment_cover_uses_sequence_not_join(spark):
    segs = _points(spark).selectExpr(
        "event_id AS seg_id", "lon_fp AS x1", "lat_fp AS y1",
        "lon_fp + 50000000 AS x2", "lat_fp + 30000000 AS y2",
    )
    plan = _plan(segment_cell_cover(segs, 9))
    # candidate cells come from generate/explode over sequence()
    assert "Generate" in plan and "sequence" in plan
    assert "Join" not in plan  # no join at all: per-row candidate explode
    assert "Exchange" not in plan  # zero shuffles in the operator itself


def test_spacetime_k_single_aggregate_no_extra_shuffle(spark):
    pts = _points(spark)
    plan = _plan(spacetime_k_counts(pts, [1, 2], [3, 4], zoom=7))
    # the 2-D ladder must NOT multiply shuffles: one pair-join pipeline
    # (two sides of one SortMergeJoin/ShuffledHashJoin) + one 1-row agg
    assert plan.count("FlatMapGroupsInPandas") == 0
    assert _no_python(plan)


# ---------------------------------------------------------------------------
# type-narrowed views (MapReducer.java:1910-1935): a node-only view plans no
# way/relation branch, and its bbox clip and WKT stage stay in the JVM
# ---------------------------------------------------------------------------

_ENT_SCHEMA = (
    "doc_id string, id long, type string, version int, visible boolean, "
    "ts long, changeset long, uid int, tags map<int,int>, lon long, lat long, "
    "refs array<long>, members array<struct<type:string,ref:long,role:string>>"
)
_BBOX = (0.0, 0.0, 20.0, 20.0)


def _narrow_db(spark):
    from oshdb_spark.api import OSHDB

    rows = [
        ("n1", 1, "node", 1, True, 100, 1, 1, {}, 10_0000000, 10_0000000,
         None, None),
        ("n2", 2, "node", 1, True, 100, 1, 1, {}, 30_0000000, 10_0000000,
         None, None),
        ("n3", 3, "node", 1, True, 100, 1, 1, {}, 30_0000000, 30_0000000,
         None, None),
        ("w1", 10, "way", 1, True, 100, 1, 1, {2: 1}, None, None,
         [1, 2, 3, 1], None),
        ("r1", 20, "relation", 1, True, 100, 1, 1, {}, None, None, None,
         [("way", 10, "outer")]),
    ]
    return OSHDB(spark, spark.createDataFrame(rows, _ENT_SCHEMA))


def test_node_only_views_have_no_python_nodes(spark):
    from oshdb_spark.api import ContributionView, SnapshotView

    db = _narrow_db(spark)

    def snap(flt):
        return (
            SnapshotView.on(db).timestamps([150])
            .area_of_interest(bbox=_BBOX).filter(flt)
        )

    def contrib(flt):
        return (
            ContributionView.on(db).timestamps([0, 200])
            .area_of_interest(bbox=_BBOX).filter(flt)
        )

    for view in (snap, contrib):
        for df in (
            view("type:node").dataframe(),
            view("type:node").aggregate_by_timestamp().count(),
        ):
            plan = _plan(df)
            assert _no_python(plan), (
                f"Python eval node leaked into:\n{plan[:2000]}"
            )
        # with ways in the type set the clip UDF runs: the check above is
        # not vacuous
        assert not _no_python(_plan(view("type:way or type:node").dataframe()))


def _jobs_while(spark, build) -> list[int]:
    """Spark job ids submitted while ``build()`` runs, via a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "plan-shape job count")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_narrowed_snapshot_reducer_submits_no_jobs(spark):
    """Building the reducer DataFrame of a node- or way-only snapshot view
    runs no Spark job: the relation nesting probe is skipped."""
    from oshdb_spark.api import SnapshotView

    db = _narrow_db(spark)

    def reducer(flt):
        return lambda: (
            SnapshotView.on(db).timestamps([150])
            .area_of_interest(bbox=_BBOX).filter(flt)
            .aggregate_by_timestamp().count()
        )

    assert _jobs_while(spark, reducer("type:node")) == []
    assert _jobs_while(spark, reducer("type:way")) == []
    # with relations in the type set the nesting probe runs a job
    assert _jobs_while(spark, reducer("type:relation")) != []
