"""CSV/JSONL roundtrips preserve values exactly (incl. microsecond
timestamps) and produce query results identical to the parquet path."""

from __future__ import annotations

import pytest

from big_data_parallel_computing_hw2_spark.sources import formats
from big_data_parallel_computing_hw2_spark.sources.tables import load_table


@pytest.mark.parametrize("fmt", ["csv", "jsonl"])
def test_events_roundtrip(spark, sf_dir, tmp_path, fmt):
    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / f"events_{fmt}")
    write = getattr(formats, f"write_{fmt}")
    read = getattr(formats, f"read_{fmt}")
    write(e, out)
    back = read(spark, out, formats.schema_of(e))

    assert back.schema == e.schema
    a = sorted(tuple(r) for r in e.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b  # exact, including microsecond timestamps


def test_query_results_format_independent(spark, sf_dir, tmp_path):
    """The same aggregation over the CSV copy equals the parquet path —
    sources are interchangeable behind the DataFrame API."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_csv2")
    formats.write_csv(e, out)
    back = formats.read_csv(spark, out, formats.schema_of(e))

    def agg(df):
        return sorted(
            tuple(r)
            for r in df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)")).alias("v"),
            )
            .collect()
        )

    assert agg(back) == agg(e)


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_orc")
    formats.write_orc(e, out)
    back = formats.read_orc(spark, out)
    assert back.schema == e.schema
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in e.collect()
    )


def test_python_datasource_partitions_and_pushdown(spark):
    """Spark-4 Python Data Source API: partition-parallel reads,
    deterministic contents, and source-side user_id filter pushdown."""
    from pyspark.sql import functions as F

    from big_data_parallel_computing_hw2_spark.sources import pyds

    key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        spark.dataSource.register(pyds.SynthEvents)
        df = (
            spark.read.format("synthevents")
            .option("shards", "4")
            .option("rows_per_shard", "50")
            .option("users", "20")
            .load()
        )
        assert df.count() == 200
        # one Spark partition per declared shard
        assert df.rdd.getNumPartitions() == 4
        # deterministic: a re-read is byte-identical
        df2 = (
            spark.read.format("synthevents")
            .option("shards", "4")
            .option("rows_per_shard", "50")
            .option("users", "20")
            .load()
        )
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, df2.collect())
        )
        # filter pushdown: result equals post-hoc filtering, and the rows
        # with user_id outside the bound never leave the source
        pushed = df.filter(F.col("user_id") >= 15)
        expect = [t for t in sorted(map(tuple, df.collect())) if t[2] >= 15]
        assert sorted(map(tuple, pushed.collect())) == expect
        assert 0 < len(expect) < 200
    finally:
        spark.conf.set(key, saved)


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """Custom write path of the Python Data Source API: per-task temp
    files renamed into place only at driver commit, _SUCCESS manifest
    carries the row count, and no temp files survive."""
    import json
    import os

    from pyspark.sql import functions as F

    from big_data_parallel_computing_hw2_spark.sources import pyds

    spark.dataSource.register(pyds.JsonlDir)
    d = str(tmp_path / "out")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    ).repartition(4)
    df.write.format("jsonldir").option("path", d).mode("append").save()

    files = sorted(os.listdir(d))
    assert "_SUCCESS" in files
    assert not any(f.startswith("_temp_") for f in files)
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) == 4  # one committed file per task
    rows = []
    for p in parts:
        with open(os.path.join(d, p), encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh]
    assert sorted(r["id"] for r in rows) == list(range(100))
    with open(os.path.join(d, "_SUCCESS"), encoding="utf-8") as fh:
        assert json.load(fh)["rows"] == 100


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on a parquet directory (the 100 TB-lake ingest
    reality: columns get added over months of drops): mergeSchema=true
    unions the per-file schemas — old files read the new column as
    NULL, new files are complete; the default non-merged read keeps
    only the first-listed footer's columns. Column pruning still works
    on the merged view (filters on the new column prune to non-null
    files' rows)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "evolving")
    spark.range(0, 10).selectExpr("id", "id * 2 AS a").write.parquet(
        d + "/drop=1"
    )
    spark.range(10, 20).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.parquet(d + "/drop=2")

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "a", "b", "drop"}
    assert merged.count() == 20
    assert merged.filter(F.col("b").isNull()).count() == 10
    got = {
        r["id"]: r["b"] for r in merged.filter(F.col("b").isNotNull()).collect()
    }
    assert got == {i: str(i) for i in range(10, 20)}


def test_jsonl_corrupt_record_modes(spark, tmp_path):
    """Malformed-row policy on JSONL ingest — the knob that decides
    whether one bad byte in a 100 TB drop poisons the job: PERMISSIVE
    keeps the row with nulls + the raw line in the corrupt-record
    column, DROPMALFORMED silently drops it, FAILFAST aborts."""
    import pytest as _pytest

    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w", encoding="utf-8") as f:
        f.write('{"id": 1, "v": "ok"}\n')
        f.write("{broken json!!\n")
        f.write('{"id": 3, "v": "fine"}\n')

    schema = "id long, v string, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
    ).collect()
    assert len(permissive) == 3
    bad = [r for r in permissive if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["id"] is None
    assert bad[0]["_corrupt_record"].startswith("{broken")

    dropped = (
        spark.read.schema("id long, v string")
        .option("mode", "DROPMALFORMED")
        .json(p)
    ).collect()
    assert sorted(r["id"] for r in dropped) == [1, 3]

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        spark.read.schema("id long, v string").option(
            "mode", "FAILFAST"
        ).json(p).collect()


def test_load_table_relists_on_every_call(spark, sf_dir, tmp_path):
    """load_table keeps no state between calls: two loads of one table
    are distinct DataFrames that still plan alike (equal semanticHash,
    so exchange reuse and CacheManager lookups match across them), and
    a directory rewritten between loads is seen by the next load."""
    import os
    import shutil

    from big_data_parallel_computing_hw2_spark.sources import tables

    a = tables.load_table(spark, sf_dir, "nation")
    b = tables.load_table(spark, sf_dir, "nation")
    assert a is not b, "load_table returned a memoized relation"
    assert a.semanticHash() == b.semanticHash()

    d = str(tmp_path / "mut")
    os.makedirs(d)
    # write a DIRECTORY-based parquet table so the mutation below is a
    # real new part-file inside it (a straight file copy would make the
    # staleness half of this test dead code)
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src.coalesce(1).write.parquet(d + "/nation.parquet")
    c1 = tables.load_table(spark, d, "nation")
    n1 = c1.count()
    # mutate the directory: drop a second part-file with the same rows
    part = next(
        f for f in os.listdir(d + "/nation.parquet") if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(d, "nation.parquet", part),
        os.path.join(d, "nation.parquet", "part-extra.parquet"),
    )
    c2 = tables.load_table(spark, d, "nation")
    assert c2.count() == 2 * n1, "fresh load did not see the new file"


def test_xml_roundtrip_microsecond_exact(spark, sf_dir, tmp_path):
    """XML (built into Spark 4.0) joins the text-format family with the
    same contract as CSV/JSONL: explicit schema, microsecond-exact
    timestamps, value-identical roundtrip."""
    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_xml")
    formats.write_xml(e, out)
    back = formats.read_xml(spark, out, formats.schema_of(e))
    assert back.schema == e.schema
    a = sorted(tuple(r) for r in e.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_collated_grouping_matches_lower_normalization(spark):
    """String collations (public Spark 4.0): a UTF8_LCASE-collated
    group-by merges case variants exactly like grouping on lower() —
    but keeps an original-cased representative and pushes the
    equality semantics INTO the type, where joins/sorts/aggs all see
    it. The 100 TB relevance: collation-aware grouping avoids
    materializing a second normalized column across a corpus."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Apple",), ("apple",), ("APPLE",), ("Banana",), ("banana",), ("cherry",)],
        "w string",
    )
    collated = df.select(
        F.col("w").cast("string collate UTF8_LCASE").alias("wc")
    )
    got = sorted(
        (r["wc"].lower(), r["count"])
        for r in collated.groupBy("wc").count().collect()
    )
    want = sorted(
        (r["wl"], r["count"])
        for r in df.select(F.lower("w").alias("wl")).groupBy("wl").count().collect()
    )
    assert got == want
    eq = spark.sql("SELECT 'ABC' COLLATE UTF8_LCASE = 'abc' AS e").collect()
    assert eq[0]["e"] is True


def test_load_table_does_not_pin_discarded_sessions(spark, sf_dir):
    """load_table attaches nothing to the session it reads through, so a
    discarded newSession() — and every DataFrame loaded through it — is
    reclaimed by the GC once the caller drops it. State kept per session
    in a module-global (or any process-level store) would keep every
    short-lived session alive for the app's lifetime."""
    import gc
    import weakref

    from big_data_parallel_computing_hw2_spark.sources import tables

    sib = spark.newSession()
    a = tables.load_table(sib, sf_dir, "nation")

    ref = weakref.ref(sib)
    del sib, a
    # upstream PySpark pins the MOST RECENT session via the RDD.toDF
    # monkey-patch closure (SparkSession.__init__) — displace it so the
    # only remaining pin, if any, would be ours
    displacer = spark.newSession()
    for _ in range(3):
        gc.collect()
    assert ref() is None, (
        "discarded newSession() still reachable — load_table pins it"
    )
    del displacer


def test_union_by_name_absorbs_schema_drift(spark, tmp_path):
    """Round-9 surface: `unionByName(allowMissingColumns=True)` — the
    ingest-side answer to schema drift BETWEEN datasets (mergeSchema
    covers drift between files of one dataset): an old extract without
    the new column unions with the new extract by NAME, positions
    ignored, missing column NULL-backfilled; the positional union that
    would silently misalign is rejected by the engine."""
    import pytest
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, "a")], "id BIGINT, name STRING"
    )
    new = spark.createDataFrame(
        # columns deliberately REORDERED vs old + one added
        [("b", 2, 0.5)], "name STRING, id BIGINT, score DOUBLE"
    )
    got = sorted(
        map(
            tuple,
            old.unionByName(new, allowMissingColumns=True)
            .select("id", "name", "score")
            .collect(),
        )
    )
    assert got == [(1, "a", None), (2, "b", 0.5)]
    # the footguns stay loud: strict by-name refuses the missing
    # column, positional union refuses the arity mismatch
    with pytest.raises(Exception, match="(?i)resolve|missing|column"):
        old.unionByName(new).collect()
    with pytest.raises(Exception, match="(?i)number of columns|union"):
        old.union(new).collect()
