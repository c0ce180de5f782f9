"""functions/distributed.py: the two-phase rank / prefix sum must equal
the single-window formulation EXACTLY — that equivalence is what keeps
the round-4 rewrites (events_equidepth_hist, events_concurrency,
customer_rfm, corpus_quality_vs_dup) oracle-checkable."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions.distributed import (
    global_rank,
    running_max,
    running_sum,
    with_coarse_bucket,
)
from big_data_parallel_computing_hw2_spark.sources.tables import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )


def test_global_rank_equals_single_window(spark, sf_dir):
    e = _events(spark, sf_dir)
    two_phase = global_rank(
        e, ["value", "event_id"], ["event_type"], n_coarse=8, out="rnk"
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    single = e.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    assert two_phase.exceptAll(single).count() == 0
    assert single.exceptAll(two_phase).count() == 0


def test_global_rank_ungrouped_and_tiny_coarse(spark, sf_dir):
    e = _events(spark, sf_dir)
    two_phase = global_rank(e, ["value", "event_id"], n_coarse=2, out="rnk")
    w = Window.orderBy("value", "event_id")
    single = e.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    assert two_phase.exceptAll(single).count() == 0


def test_running_sum_equals_single_window(spark, sf_dir):
    e = _events(spark, sf_dir).withColumn(
        "delta", F.when(F.col("event_id") % 2 == 0, 1).otherwise(-1)
    )
    two_phase = running_sum(
        e,
        "delta",
        ["value", "event_id"],
        ["event_type"],
        n_coarse=8,
        out="run",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = e.withColumn("run", F.sum("delta").over(w))
    assert two_phase.exceptAll(single).count() == 0
    assert single.exceptAll(two_phase).count() == 0


def test_running_max_equals_single_window(spark, sf_dir):
    e = _events(spark, sf_dir).withColumn(
        "sig", (F.col("event_id") * 37) % 1000
    )
    two_phase = running_max(
        e, "sig", ["value", "event_id"], ["event_type"], n_coarse=8, out="rm"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = e.withColumn("rm", F.max("sig").over(w))
    assert two_phase.exceptAll(single).count() == 0
    assert single.exceptAll(two_phase).count() == 0


def test_coarse_bucket_respects_order(spark, sf_dir):
    """Bucket ids must be monotone in the key: max(key) of bucket i
    <= min(key) of bucket i+1 — the property the prefix offsets rely
    on (any boundary placement is allowed, overlap is not)."""
    e = _events(spark, sf_dir)
    b = with_coarse_bucket(e, "value", ["event_type"], n_coarse=8)
    stats = (
        b.groupBy("event_type", "_coarse")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in stats:
        by_type.setdefault(r["event_type"], []).append(r)
    for rows in by_type.values():
        rows.sort(key=lambda r: r["_coarse"])
        assert len(rows) > 1  # the sketch actually split the range
        for prev, cur in zip(rows, rows[1:]):
            assert prev["hi"] <= cur["lo"]


# -- property: arbitrary data, arbitrary bucketing ---------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),  # group
        st.one_of(  # key: duplicates, negatives, non-finite-free floats
            st.integers(-5, 5).map(float),
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        ),
        st.integers(0, 10),  # value for running sums
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_ROWS, n_coarse=st.sampled_from([2, 3, 8]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_two_phase_equals_reference_on_arbitrary_data(
    spark, rows, n_coarse
):
    """global_rank and running_sum equal a plain-Python reference for
    arbitrary grouped data — heavy duplicates, negatives, tiny and
    degenerate bucketings included (the regimes the sketch cannot
    balance; exactness must hold anyway)."""
    df = spark.createDataFrame(
        [(g, k, v, i) for i, (g, k, v) in enumerate(rows)],
        "g string, k double, v long, uid long",
    )
    got_rank = {
        (r["g"], r["uid"]): r["rnk"]
        for r in global_rank(
            df, ["k", "uid"], ["g"], n_coarse=n_coarse, out="rnk"
        ).collect()
    }
    got_run = {
        (r["g"], r["uid"]): r["run"]
        for r in running_sum(
            df, "v", ["k", "uid"], ["g"], n_coarse=n_coarse, out="run"
        ).collect()
    }
    by_group: dict[str, list] = {}
    for i, (g, k, v) in enumerate(rows):
        by_group.setdefault(g, []).append((k, i, v))
    for g, items in by_group.items():
        items.sort()
        acc = 0
        for pos, (k, uid, v) in enumerate(items, start=1):
            acc += v
            assert got_rank[(g, uid)] == pos
            assert got_run[(g, uid)] == acc


# -- round 14: literal-map null group keys -----------------------------------


def test_literal_map_skips_null_group_keys(spark):
    """A nullable group column must not crash the literal-map bounds
    path (CreateMap throws on a null KEY): null keys are skipped when
    the map is built, and null-group rows coalesce to bucket 0 exactly
    as the broadcast left-join path does (ADVICE r13)."""
    from big_data_parallel_computing_hw2_spark.functions import (
        distributed as D,
    )

    df = spark.createDataFrame(
        [(None, 1.0), (None, 9.0), ("a", 2.0), ("a", 7.0), ("b", 5.0)]
        * 4,
        "g string, k double",
    )
    lit_path = with_coarse_bucket(df, "k", ["g"], n_coarse=4).collect()
    # force the broadcast-join path on the same data for equivalence
    old = D.LITERAL_MAP_MAX_GROUPS
    D.LITERAL_MAP_MAX_GROUPS = 0
    try:
        join_path = with_coarse_bucket(df, "k", ["g"], n_coarse=4).collect()
    finally:
        D.LITERAL_MAP_MAX_GROUPS = old
    key = lambda r: (r["g"] or "", r["k"], r["_coarse"])  # noqa: E731
    assert sorted(lit_path, key=key) == sorted(join_path, key=key)
    # the join path gives null-group rows bucket 0; so must the map path
    assert {r["_coarse"] for r in lit_path if r["g"] is None} == {0}


def test_literal_map_all_null_groups_degenerates_to_bucket0(spark):
    df = spark.createDataFrame(
        [(None, float(i)) for i in range(8)], "g string, k double"
    )
    got = with_coarse_bucket(df, "k", ["g"], n_coarse=4).collect()
    assert {r["_coarse"] for r in got} == {0}
