"""Incremental LSH index maintenance + streaming ANN enrichment:
delta-then-upsert must equal a full rebuild, the persisted index must
partition-prune probes, and the streamed enrichment must be
chopping-invariant (== one batch probe over all queries)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.operators import similarity as S
from big_data_parallel_computing_hw2_spark.streaming import ann_stream


def _corpus(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id", "embedding", S._norm2("embedding").alias("norm2")
        )
        .filter(F.col("norm2") > 0)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_index_equals_rebuild(spark, sf_dir):
    e = _corpus(spark, sf_dir)
    full = S._bucket_table(spark, e)
    old = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    merged = S.lsh_index_upsert(
        S._bucket_table(spark, old), S.lsh_index_delta(spark, new)
    )
    assert _rows(merged) == _rows(full)


def test_upsert_replaces_updated_vectors(spark, sf_dir):
    e = _corpus(spark, sf_dir)
    base = S._bucket_table(spark, e)
    # negate a few vectors: every plane dot flips sign, so the updated
    # ids land in the bitwise-complement bucket — guaranteed different
    updated = (
        e.filter(F.col("vec_id") < 5)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    merged = S.lsh_index_upsert(base, S.lsh_index_delta(spark, updated))
    # untouched ids keep their rows; touched ids carry the delta's rows
    assert _rows(merged.filter(F.col("vec_id") >= 5)) == _rows(
        base.filter(F.col("vec_id") >= 5)
    )
    assert _rows(merged.filter(F.col("vec_id") < 5)) == _rows(
        S.lsh_index_delta(spark, updated)
    )
    assert _rows(merged.filter(F.col("vec_id") < 5)) != _rows(
        base.filter(F.col("vec_id") < 5)
    )


def test_index_roundtrip_and_partition_pruning(spark, sf_dir, tmp_path):
    e = _corpus(spark, sf_dir)
    buckets = S._bucket_table(spark, e)
    path = str(tmp_path / "lsh_index")
    S.write_lsh_index(buckets, path)
    back = S.read_lsh_index(spark, path)
    assert _rows(back) == _rows(buckets)
    probe = back.filter(F.col("tbl") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbl" in plan
    assert _rows(probe) == _rows(buckets.filter(F.col("tbl") == 2))


def test_ivf_incremental_assignment_equals_rebuild(spark, sf_dir):
    _, cents = S._ivf_index(spark, sf_dir)
    e = _corpus(spark, sf_dir)
    full = S._assign_to(e, cents)
    vecs = e.select("vec_id", "embedding")
    merged = S.ivf_index_upsert(
        S.ivf_index_delta(
            spark, vecs.filter(F.col("vec_id") % 2 == 0), cents
        ),
        S.ivf_index_delta(
            spark, vecs.filter(F.col("vec_id") % 2 == 1), cents
        ),
    )
    assert _rows(merged) == _rows(full)
    # an updated vector's postings are replaced, untouched ones kept
    upd = vecs.filter(F.col("vec_id") < 5).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    after = S.ivf_index_upsert(full, S.ivf_index_delta(spark, upd, cents))
    assert _rows(after.filter(F.col("vec_id") >= 5)) == _rows(
        full.filter(F.col("vec_id") >= 5)
    )
    assert _rows(after.filter(F.col("vec_id") < 5)) == _rows(
        S.ivf_index_delta(spark, upd, cents)
    )


def test_pq_incremental_encode_equals_rebuild(spark, sf_dir):
    e = _corpus(spark, sf_dir)
    cb = S._pq_codebook_build(e).localCheckpoint()
    vecs = e.select("vec_id", "embedding")
    full = S._pq_encode(vecs, cb)
    merged = S.pq_index_upsert(
        S.pq_index_delta(spark, vecs.filter(F.col("vec_id") % 2 == 0), cb),
        S.pq_index_delta(spark, vecs.filter(F.col("vec_id") % 2 == 1), cb),
    )
    assert _rows(merged) == _rows(full)
    upd = vecs.filter(F.col("vec_id") < 5).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    after = S.pq_index_upsert(full, S.pq_index_delta(spark, upd, cb))
    assert _rows(after.filter(F.col("vec_id") >= 5)) == _rows(
        full.filter(F.col("vec_id") >= 5)
    )
    assert _rows(after.filter(F.col("vec_id") < 5)) == _rows(
        S.pq_index_delta(spark, upd, cb)
    )


def test_minhash_incremental_index_equals_rebuild(spark, sf_dir):
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    full = dd.minhash_index_delta(spark, docs)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    merged = dd.minhash_index_upsert(
        dd.minhash_index_delta(spark, old),
        dd.minhash_index_delta(spark, new),
    )
    assert _rows(merged) == _rows(full)


def test_minhash_upsert_replaces_edited_docs(spark, sf_dir):
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = dd.minhash_index_delta(spark, docs)
    edited = docs.filter(F.col("doc_id") < 3).select(
        "doc_id",
        F.concat(
            F.lit("entirely different preamble text here "), F.col("text")
        ).alias("text"),
    )
    merged = dd.minhash_index_upsert(
        base, dd.minhash_index_delta(spark, edited)
    )
    assert _rows(merged.filter(F.col("doc_id") >= 3)) == _rows(
        base.filter(F.col("doc_id") >= 3)
    )
    assert _rows(merged.filter(F.col("doc_id") < 3)) == _rows(
        dd.minhash_index_delta(spark, edited)
    )
    assert _rows(merged.filter(F.col("doc_id") < 3)) != _rows(
        base.filter(F.col("doc_id") < 3)
    )


def test_stream_enrich_matches_batch_probe(spark, sf_dir, tmp_path):
    e = _corpus(spark, sf_dir)
    buckets = S._bucket_table(spark, e).cache()
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 50 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
        )
    )
    expected = _rows(
        ann_stream.probe_batch(spark, queries, buckets, e)
    )
    assert expected, "probe produced no rows on the test corpus"

    src = tmp_path / "qstream"
    src.mkdir()
    pdf = queries.toPandas()
    half = len(pdf) // 2
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False).cast(
                pa.schema(
                    [
                        ("query_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                    ]
                )
            ),
            str(src / f"batch{i}.parquet"),
        )
    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "enriched")
    q = ann_stream.run_ann_enrich(
        spark, stream, buckets, e, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = _rows(ann_stream.read_enriched(spark, out))
    assert got == expected


def test_stream_enrich_replay_does_not_duplicate(spark, sf_dir, tmp_path):
    """Crash AFTER the batch-0 write but BEFORE the checkpoint commit;
    the restarted drain replays batch 0 — the batch=<id> overwrite
    discipline must converge to the single-drain output, not append a
    duplicate copy of the replayed batch's rows."""
    import pytest

    e = _corpus(spark, sf_dir)
    buckets = S._bucket_table(spark, e).cache()
    queries = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % 50 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
        )
    )
    expected = _rows(ann_stream.probe_batch(spark, queries, buckets, e))
    assert expected

    src = tmp_path / "qstream"
    src.mkdir()
    pdf = queries.toPandas()
    half = len(pdf) // 2
    schema = pa.schema(
        [("query_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
    )
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False).cast(schema),
            str(src / f"batch{i}.parquet"),
        )

    def mk_stream():
        return (
            spark.readStream.schema("query_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")

    class Boom(RuntimeError):
        pass

    def crash_after_first(batch_id):
        if batch_id == 0:
            raise Boom("injected crash between write and commit")

    q = ann_stream.run_ann_enrich(
        spark, mk_stream(), buckets, e, out, ckpt,
        after_write=crash_after_first,
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    # the crash window is real: batch 0's files landed, commit didn't
    crashed = _rows(ann_stream.read_enriched(spark, out))
    assert crashed and crashed != expected

    # restart WITHOUT the seam: batch 0 replays, overwrites its own
    # directory, then batch 1 drains — converges, no duplicates
    q2 = ann_stream.run_ann_enrich(
        spark, mk_stream(), buckets, e, out, ckpt
    )
    q2.awaitTermination()
    assert _rows(ann_stream.read_enriched(spark, out)) == expected


def test_probe_batch_precomputed_qb_equivalent(spark, sf_dir):
    """probe_batch(qb=...) (the hash-once-per-batch path vector_ingest
    uses) must rank identically to the self-hashing default."""
    from pyspark.sql import functions as F

    from big_data_parallel_computing_hw2_spark.operators.similarity import (
        lsh_index_delta,
    )
    from big_data_parallel_computing_hw2_spark.streaming.ann_stream import (
        probe_batch,
    )

    corpus = _corpus(spark, sf_dir)
    buckets = lsh_index_delta(spark, corpus.select("vec_id", "embedding"))
    queries = corpus.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    default = probe_batch(spark, queries, buckets, corpus)
    qb = lsh_index_delta(
        spark,
        queries.select(F.col("query_id").alias("vec_id"), "embedding"),
    ).select(F.col("vec_id").alias("query_id"), "tbl", "bucket")
    pre = probe_batch(spark, queries, buckets, corpus, qb=qb)
    assert _rows(pre) == _rows(default)
