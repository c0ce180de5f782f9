"""Similarity search over the `embeddings` table (SURVEY.md §2.5).

Three tiers, shared scoring math (decimal-stable cosine — identical in
Spark and the DuckDB oracle):

- `knn_bruteforce`: exact top-k, broadcast the (small) query set over a
  single pass of the corpus. The right answer at any scale where the
  QUERY set is small — one scan, no index.
- `ann_lsh`: random-hyperplane (sign) LSH → equi-join on bucket. The
  100 TB path: candidates ∝ bucket collisions, not corpus².
  Hyperplanes are deterministic md5-derived ±1 patterns, so the oracle
  reproduces them exactly.
- `knn_ivf`: IVF-style coarse quantizer — deterministic seed subset
  refined by distributed Lloyd iterations (`_ivf_index`),
  assign-to-nearest, search the query's cell only.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions.aggs import (
    davg,
    sql_davg,
    sql_stable_round,
    stable_round,
)
from big_data_parallel_computing_hw2_spark.functions.cache import bounded_cache
from big_data_parallel_computing_hw2_spark.operators.dedup import (
    FAST_COS_MARGIN,
    SQL_NORM2,
    _dot,
    _dot_fast,
    _norm2,
)
from big_data_parallel_computing_hw2_spark.sources.tables import fan_out, load_table

ORACLES: dict[str, str] = {}

TOP_K = 5
QUERY_MOD = 100  # query set = vec_id % QUERY_MOD == 0
DIM = 64

_COS = sql_stable_round("dot / sqrt(qn.norm2 * vn.norm2)", 6)

# Two-phase top-k slack: a candidate can out-rank a kept row in the
# final 6-digit-rounded ordering only if their EXACT cosines round
# equal-or-higher, i.e. its fast (plain-double) score is within
# 1e-6 (rounding granularity) + ~1e-13 (fp addition-order error) of
# the k-th fast score. 2e-6 therefore provably loses no survivor.
FAST_TOPK_MARGIN = 2e-6


def _exact_topk(
    cand_ids: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    part: str = "query_id",
    idc: str = "neighbor_id",
    broadcast_queries: bool = True,
    keep_cache_key: str | None = None,
) -> DataFrame:
    """Exact decimal-stable cosine top-``k`` per ``part``.

    Inputs are SKINNY candidate pairs plus the two vector tables:
    ``cand_ids`` = (part, idc) rows (ideally cached by the caller),
    ``corpus`` = (idc, embedding, norm2), ``queries`` = (part, qe, qn)
    — small by construction, broadcast.

    Two-phase plan: pass 1 joins arrays onto every candidate MAP-SIDE
    and sends only a (part, idc, _fast) projection through the ``part``
    exchange — the 64-dim arrays (~1 KB/row) never shuffle with the
    candidate set. Rows within FAST_TOPK_MARGIN of the k-th fast score
    survive; pass 2 re-joins arrays for just those ~k-per-partition
    survivors straight from ``corpus``/``queries`` (NOT by re-deriving
    candidates) and runs the decimal-exact `_dot` rescore + real
    ranking. Result is bit-identical to scoring everything exactly;
    total array-join work ≈ one pass over candidates + one over
    survivors.

    Measured design note: the interpreted per-pair dot BEATS a
    codegen'd posexplode+join+hash-agg rewrite here (1.2s vs 2.5s at
    sf0.1) — exploding 64 dims × every candidate pair swamps the join,
    the opposite outcome from `_bucket_table` where 20 aggregates per
    VECTOR amortize one explode. Per-shape measurement, not dogma.

    ``broadcast_queries=False`` switches the query-side joins to plain
    shuffle joins — for SET-TO-SET kNN where the "query" side is as
    large as the corpus and broadcasting it would ship the whole
    relation to every executor.

    Returns (part, idc, cosine, rnk) with rnk ≤ k."""
    qside = (lambda df: F.broadcast(df)) if broadcast_queries else (
        lambda df: df
    )
    fast = F.col("_fast")
    kth = F.col("_kth")
    fast_cos = _dot_fast("qe", "embedding") / F.sqrt(
        F.col("qn") * F.col("norm2")
    )
    exact_cos = stable_round(
        _dot("qe", "embedding") / F.sqrt(F.col("qn") * F.col("norm2")), 6
    )
    w_fast = Window.partitionBy(part).orderBy(F.desc("_fast"), F.asc(idc))
    w_part = Window.partitionBy(part)
    kept = (
        cand_ids.join(corpus, idc)
        .join(qside(queries), part)
        .select(part, idc, fast_cos.alias("_fast"))
        .withColumn("_rn", F.row_number().over(w_fast))
        .withColumn(
            "_kth", F.min(F.when(F.col("_rn") <= k, fast)).over(w_part)
        )
        # null-guard: a zero-norm vector yields a NULL/NaN score — let
        # the exact ranking decide those rows, as a one-phase plan would
        .filter(
            (fast >= kth - FAST_TOPK_MARGIN) | fast.isNull() | kth.isNull()
        )
        .select(part, idc)
    )
    if keep_cache_key is not None:
        # phase-1 dominates when the candidate set is large (set-to-set
        # kNN: measured ~3.5s of knn_join's 4.1s steady state) and its
        # output is a SKINNY ~k-per-part survivor table — worth a
        # bounded_cache slot so repeat invocations pay only the rescore
        kept = bounded_cache(keep_cache_key, kept)
    w_exact = Window.partitionBy(part).orderBy(F.desc("cosine"), F.asc(idc))
    return (
        kept.join(corpus, idc)
        .join(qside(queries), part)
        .withColumn("cosine", exact_cos)
        .withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= k)
        .select(part, idc, "cosine", "rnk")
    )


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: one corpus scan, broadcast queries, window
    top-k (deterministic tiebreak on neighbor_id). Scoring is the
    two-phase `_exact_topk` plan — exhaustive CANDIDATES, but decimal
    rescore only near the top."""
    # fan_out(8): the per-pair dot is interpreted (higher-order fn), so
    # split-count parallelism matters; 8 measured best locally (32
    # concurrent interpreted tasks thrash GC — the lambdas allocate per
    # element). No-op at scale (guard in fan_out).
    # bounded_cache: `_exact_topk` evaluates its candidate frame twice
    # (skinny pass + survivor join) — both must read the projected/
    # normed table from cache, not recompute the decimal norms.
    e = bounded_cache(
        "knn_bruteforce.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    # exhaustive candidates as a SKINNY id cross (the arrays join in
    # map-side inside _exact_topk)
    cand_ids = e.select(F.col("vec_id").alias("neighbor_id")).join(
        F.broadcast(q.select("query_id")),
        F.col("neighbor_id") != F.col("query_id"),
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "norm2")
    # result-level cache: three registered consumers sit on the exact
    # top-k (knn_bruteforce itself, knn_reverse_topk, knn_recall_report)
    return bounded_cache(
        "knn_bruteforce.topk", _exact_topk(cand_ids, corpus, q)
    ).orderBy("query_id", "rnk")


_SQL_DOT_PAIRS = f"""
    dots AS (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings q
        JOIN embeddings v ON q.vec_id % {QUERY_MOD} = 0
                         AND v.vec_id <> q.vec_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    )
"""

ORACLES["knn_bruteforce"] = f"""
    WITH {SQL_NORM2},
    {_SQL_DOT_PAIRS},
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""

def knn_reverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse top-k (the ICDE'19 'Parallel and Distributed Processing
    of Reverse Top-k Queries' operator shape): for each corpus vector
    that appears in ANY query's exact top-{k}, how many queries rank it
    and at what best rank — the influence/popularity inversion of kNN.
    Pure composition: one aggregation over the kNN result."""
    knn = knn_bruteforce(spark, sf_dir)
    return (
        knn.groupBy("neighbor_id")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.min("rnk").alias("best_rank"),
            stable_round(F.max("cosine"), 6).alias("best_cosine"),
        )
        .orderBy(F.desc("n_queries"), F.asc("neighbor_id"))
    )


knn_reverse_topk.__doc__ = knn_reverse_topk.__doc__.format(k=TOP_K)

# -- sign-LSH (multi-table) -------------------------------------------------

# L tables × fewer bits per table: a single selective table had
# measured recall ≈ 0 at this embedding distribution (8 sign bits →
# 1/256 bucket collision for true neighbors); candidates are the UNION
# over tables — the classic memory-for-recall LSH trade.
N_TABLES = 4
PLANES_PER_TABLE = 5

# Target candidate volume per query vector: the knob behind the
# n²/2^(b+1) scale contract (documented round 12, code round 13). At
# the tuned 5 bits the contract is satisfied exactly up to n = 4096
# vectors; beyond that planes_for() starts demanding more bits.
CAND_PER_VEC_BUDGET = 64


def planes_for(
    n_vectors: int, cand_per_vec: int = CAND_PER_VEC_BUDGET
) -> int:
    """Bits per LSH table for a corpus of ``n_vectors`` — the
    production re-tune rule the round-12 candidate-volume contract
    promised (measured basis: at fixed b the expected random-collision
    candidates per table grow ≈ n²/2^(b+1); the sf1 replica measured
    26.5M candidates at n = 20k, b = 5, matching the formula's 6.25M
    per table × 4 tables). Holding the exact rescore linear means
    capping that at ``cand_per_vec`` · n, i.e. b ≥ log2(n /
    cand_per_vec) − 1 — so b grows ∝ log2(n), floored at the tuned
    PLANES_PER_TABLE (every current test SF stays at today's family;
    the pinning test proves sf1-scale demands a re-tune).

    A re-tune is NOT transparent: bucket ids are b-dependent, so every
    registered LSH-family query's plan AND oracle change together
    (the mirrored `_planes`/`_sql_buckets` constants) — by design that
    forces a `_GATE_OVERRIDE` entry and a fresh CORRECTNESS round for
    the family, plus an L re-pick against lsh_recall_estimate (more
    bits at fixed L lowers recall)."""
    if n_vectors <= 0:
        return PLANES_PER_TABLE
    need = (
        math.ceil(math.log2(max(1.0, n_vectors / cand_per_vec))) - 1
    )
    return max(PLANES_PER_TABLE, need)


def lsh_recall_estimate(
    cosine: float,
    planes: int = PLANES_PER_TABLE,
    tables: int = N_TABLES,
) -> float:
    """Sign-LSH S-curve — the similarity-side twin of
    dedup_lsh_tuning's (1/b)^(1/r) threshold: P(two vectors at the
    given cosine share a bucket in ≥1 of ``tables`` independent
    ``planes``-bit tables) = 1 − (1 − p^b)^L with p = 1 − θ/π
    (the Goemans-Williamson hyperplane collision probability,
    Charikar '02). planes_for() callers read this to re-pick L after
    raising b, holding recall before the family re-gates."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, cosine))) / math.pi
    return 1.0 - (1.0 - p**planes) ** tables


def _planes(table: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane patterns (md5-seeded, no RNG)."""
    return [
        [
            1
            if int(
                hashlib.md5(
                    f"plane_{table * PLANES_PER_TABLE + j}_{d}".encode()
                ).hexdigest()[:8],
                16,
            )
            % 2
            else -1
            for d in range(DIM)
        ]
        for j in range(PLANES_PER_TABLE)
    ]


def _bucket_table(
    spark: SparkSession,
    e: DataFrame,
    id_cols: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """(*id_cols, tbl, bucket) for every LSH table — computed as ONE
    codegen'd pass: explode the embedding, join the broadcast
    (tbl, plane, dim) → ±1 coefficient table, hash-aggregate the
    decimal plane dots, assemble sign bits. Measured 2.2× faster than
    per-plane interpreted `aggregate` lambdas (same exact values — the
    decimal sum is associative, so order doesn't matter). ``id_cols``
    lets a caller hash several tagged row sets in one pass (the rows
    are keyed per (id, tag) instead of id — see lsh_index_roundtrip)."""
    rows = [
        (t, j, d, s)
        for t in range(N_TABLES)
        for j, pat in enumerate(_planes(t))
        for d, s in enumerate(pat)
    ]
    # rows is non-empty by construction (N_TABLES/PLANES_PER_TABLE/DIM
    # are positive constants); an empty VALUES list would be a SQL
    # parse error rather than an empty frame, so fail loudly here if a
    # future re-tune ever zeroes a constant (ADVICE r13).
    assert rows, "empty hyperplane constant set (N_TABLES/PLANES/DIM)"
    # VALUES (LocalRelation), NOT createDataFrame (RDD-backed): a
    # LogicalRDD never canonicalizes equal to another build of itself,
    # so every downstream bounded_cache slot (lsh.buckets and the whole
    # LSH family's candidate/topk caches) hash-mismatched on
    # re-invocation and was unpersisted + recomputed per bench rep —
    # measured 2.7 s/rep for ann_lsh where the intended cached re-read
    # is ~0.3 s (round-13 churn probe). The VALUES seed is the same fix
    # dq_checks documented in round 7.
    vals = ", ".join(f"({t},{j},{d},{s})" for t, j, d, s in rows)
    coef = spark.sql(
        f"SELECT * FROM VALUES {vals} AS coef(tbl, plane, dim, sign)"
    )
    ids = list(id_cols)
    px = e.select(*ids, F.posexplode("embedding").alias("dim", "v"))
    dots = (
        px.join(F.broadcast(coef), "dim")
        .groupBy(*ids, "tbl", "plane")
        .agg(
            F.sum(
                (F.col("v").cast("double") * F.col("sign").cast("double")).cast(
                    "decimal(38,18)"
                )
            ).alias("dot")
        )
    )
    return dots.groupBy(*ids, "tbl").agg(
        F.sum(
            F.when(
                F.col("dot").cast("double") > 0,
                F.pow(F.lit(2.0), F.col("plane")).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("bucket")
    )


# -- incremental index maintenance (round 12) --------------------------------
#
# A growing corpus must not rebuild its LSH index per batch: the plane
# family is deterministic (md5-seeded, corpus-independent), so the
# bucket assignment of a vector never depends on any OTHER vector —
# bucketing is embarrassingly incremental. These helpers make that
# contract explicit: hash ONLY the delta, then upsert latest-wins into
# the standing index. At 100 TB the standing index lives as a table
# partitioned by `tbl` (write_lsh_index), so a probe of one LSH table
# prunes 3/4 of the files before any IO, and the upsert's anti-join
# touches only the skinny (vec_id, tbl, bucket) projection — never the
# vectors.


def lsh_index_delta(spark: SparkSession, new_vectors: DataFrame) -> DataFrame:
    """Bucket rows for a batch of NEW/UPDATED vectors only.

    ``new_vectors`` is any (vec_id, embedding) frame; the corpus
    contract (norm2 > 0 — a zero vector has no direction) is enforced
    here exactly as in the full build, so delta-then-upsert and
    rebuild-from-scratch agree row-for-row (pinned by the equivalence
    property test)."""
    e = new_vectors.select(
        "vec_id", "embedding", _norm2("embedding").alias("norm2")
    ).filter(F.col("norm2") > 0)
    return _bucket_table(spark, e)


def lsh_index_upsert(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Latest-wins merge of a delta into the standing bucket table.

    Re-hashed vec_ids REPLACE their old rows (vector updates move
    buckets; a vector that became zero-magnitude simply vanishes from
    the index via the delta's norm filter + this anti-join). The
    anti-join key is the skinny vec_id projection — the 64-dim arrays
    are never touched, so the merge cost is O(index ids + delta), not
    O(vectors)."""
    touched = delta.select("vec_id").distinct()
    return existing.join(touched, "vec_id", "left_anti").unionByName(delta)


def write_lsh_index(buckets: DataFrame, path: str) -> None:
    """Persist the bucket table partitioned by LSH table id: a probe
    against one of the {t} tables partition-prunes the rest before any
    file IO (the on-disk twin of the lsh.buckets cache slot)."""
    buckets.write.mode("overwrite").partitionBy("tbl").parquet(path)


def read_lsh_index(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted index; `tbl` comes back from the partition
    directories (int-typed via the partition-column inference the
    session pins)."""
    df = spark.read.parquet(path)
    return df.select(
        "vec_id", F.col("tbl").cast("int").alias("tbl"), "bucket"
    )


write_lsh_index.__doc__ = write_lsh_index.__doc__.format(t=N_TABLES)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates share the query's bucket in ANY of
    the {t} LSH tables (equi-join on (table, bucket), distinct pairs,
    exact rescore). Pair space ∝ Σ bucket collisions; candidate
    generation is a skinny (id, table, bucket) join — embeddings join
    back in only for the surviving candidates."""
    # Both `e` (with its interpreted decimal norm2) and `buckets` feed
    # multiple subtrees of one plan (query filter + corpus join side;
    # qe + neighbor join). Catalyst recomputes unpersisted subtrees per
    # alias — measured here as the slowest query of round 1 (6.6 s at
    # sf0.1); persisting both roughly halves it. bounded_cache keeps at
    # most one live cache per slot across repeated invocations.
    e = bounded_cache(
        "lsh.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    buckets = bounded_cache("lsh.buckets", _bucket_table(spark, e))
    qb = buckets.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    # skinny candidate ids cached: `_exact_topk` walks its input twice,
    # and without this the bucket join + distinct would run both times
    cand = bounded_cache(
        "ann_lsh.cand",
        buckets.join(
            F.broadcast(qb),
            ["tbl", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct(),
    )
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "norm2")
    # result-level cache: knn_recall_report re-reads this output
    return bounded_cache(
        "ann_lsh.topk", _exact_topk(cand, corpus, qe)
    ).orderBy("query_id", "rnk")


ann_lsh.__doc__ = ann_lsh.__doc__.format(t=N_TABLES)


def _sql_buckets(src: str = "embeddings") -> str:
    per_table = []
    for t in range(N_TABLES):
        terms = []
        for j, pat in enumerate(_planes(t)):
            arr = "[" + ", ".join(str(s) for s in pat) + "]"
            dot = (
                f"CAST(SUM(CAST(CAST(embedding[gs.i] AS DOUBLE) * "
                f"CAST(({arr})[gs.i] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)"
            )
            terms.append(f"CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END")
        per_table.append(
            f"SELECT vec_id, {t} AS tbl, {' + '.join(terms)} AS bucket "
            f"FROM {src}, generate_series(1, {DIM}) AS gs(i) "
            "GROUP BY vec_id"
        )
    return "buckets AS (" + " UNION ALL ".join(per_table) + ")"


ORACLES["ann_lsh"] = f"""
    WITH {SQL_NORM2},
    {_sql_buckets()},
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id
        FROM buckets qb
        JOIN buckets vb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket
                       AND vb.vec_id <> qb.vec_id
        WHERE qb.vec_id % {QUERY_MOD} = 0
    ),
    dots AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand
        JOIN embeddings q ON q.vec_id = query_id
        JOIN embeddings v ON v.vec_id = neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""

# -- oracle-gated incremental-index rebuild equivalence (round 13) ----------


def lsh_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild-equivalence of the incremental LSH write path, under the
    oracle gate: the standing index built as base-then-delta-then-
    latest-wins-upsert must equal a from-scratch rebuild of the final
    corpus. Derived scenario over ``embeddings``: even vec_ids are the
    standing corpus, odd ids arrive as a new batch, and every
    vec_id % 10 == 0 re-arrives UPDATED with a negated embedding —
    every plane dot flips sign, so the update provably moves buckets
    and the upsert's replace path (not just the append path) is
    exercised. The DuckDB oracle never sees the incremental machinery:
    it buckets the FINAL corpus (latest embedding per id, norm2 > 0)
    in one pass, so the value-hash match IS the cross-engine
    delta-then-upsert == rebuild claim (the pytest twin pins it
    Spark-vs-Spark; this pins it against an independent engine).
    Output: per-(tbl, bucket) occupancy — count, id-sum and min id pin
    bucket membership without emitting every (vec_id, tbl) row.

    fan_out(8): both delta passes' explode + broadcast join + partial
    agg are map-side, serialized by a few-split scan (measured 2.41 ->
    1.19 s at sf0.1, interleaved A/B, values identical; no-op at scale
    via the guard). Deliberately NOT the family's shared cache — the
    measured path stays the honest delta/upsert write path.

    Round 14 (VERDICT r13 item 7): base and batch rows are TAGGED with
    a ``_src`` column and hashed in ONE ``_bucket_table`` pass keyed on
    (vec_id, _src) instead of two separate passes — the upsert's three
    references then all reuse one explode+join+agg exchange
    (ReusedExchange) where the old shape paid the map side up to three
    times (the batch delta fed both the anti-join probe AND the union).
    Bucketing is per-row, so the tagged split is row-identical to the
    two-pass build; the delta/upsert write path itself (anti-join +
    union latest-wins) is untouched."""
    vecs = fan_out(
        spark,
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ),
        8,
    )
    updated = vecs.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    tagged = (
        vecs.filter(F.col("vec_id") % 2 == 0)
        .withColumn("_src", F.lit(0))
        .unionByName(
            vecs.filter(F.col("vec_id") % 2 == 1).withColumn(
                "_src", F.lit(1)
            )
        )
        .unionByName(updated.withColumn("_src", F.lit(1)))
    )
    # norm2 > 0 contract applied per row exactly as lsh_index_delta does
    e = tagged.select(
        "vec_id", "_src", "embedding", _norm2("embedding").alias("norm2")
    ).filter(F.col("norm2") > 0)
    hashed = _bucket_table(spark, e, id_cols=("vec_id", "_src"))
    base = hashed.filter(F.col("_src") == 0).select(
        "vec_id", "tbl", "bucket"
    )
    delta = hashed.filter(F.col("_src") == 1).select(
        "vec_id", "tbl", "bucket"
    )
    merged = lsh_index_upsert(base, delta)
    return (
        merged.groupBy("tbl", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("vec_id").alias("sum_vec_id"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("tbl", "bucket")
    )


ORACLES["lsh_index_roundtrip"] = f"""
    WITH final AS (
        SELECT vec_id,
               CASE WHEN vec_id % 10 = 0
                    THEN list_transform(embedding, x -> -x)
                    ELSE embedding END AS embedding
        FROM embeddings
    ),
    live AS (
        SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding,
                   CAST(SUM(CAST(CAST(embedding[gs.i] AS DOUBLE)
                                 * CAST(embedding[gs.i] AS DOUBLE)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS norm2
            FROM final, generate_series(1, {DIM}) AS gs(i)
            GROUP BY vec_id, embedding
        ) WHERE norm2 > 0
    ),
    {_sql_buckets(src="live")}
    SELECT CAST(tbl AS INT) AS tbl,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM buckets
    GROUP BY tbl, bucket
    ORDER BY tbl, bucket
"""

# -- metadata-filtered ANN over the LSH index (round 12) --------------------


def ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-{k} cosine neighbors per query
    vector restricted to corpus vectors with the SAME label — the
    metadata-predicate ANN every retrieval stack needs (tenant /
    language / collection filters), over the SAME shared sign-LSH
    index as ann_lsh (bounded_cache slots lsh.e / lsh.buckets — zero
    new corpus-sized work when any LSH query already ran).

    The filter is part of the INDEX KEY, not a post-filter: bucket
    rows carry the label and candidates equi-join on (tbl, bucket,
    label), so cross-label collisions are pruned before any vector
    joins back in. Post-filtering would score then discard ~(1-1/L)
    of candidates and return fewer than k survivors per query; the
    label-keyed join keeps candidate volume ∝ same-label collisions
    only — at 100 TB this is the difference between an index scan and
    a scan-plus-sieve. NULL labels match nothing on either engine
    (join-key equality is NULL-rejecting in both)."""
    e = bounded_cache(
        "lsh.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    buckets = bounded_cache("lsh.buckets", _bucket_table(spark, e))
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    lb = buckets.join(labels, "vec_id")
    qb = lb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket", "label"
    )
    cand = bounded_cache(
        "ann_filtered.cand",
        lb.join(F.broadcast(qb), ["tbl", "bucket", "label"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct(),
    )
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "norm2")
    return _exact_topk(cand, corpus, qe).orderBy("query_id", "rnk")


ann_filtered.__doc__ = ann_filtered.__doc__.format(k=TOP_K)

ORACLES["ann_filtered"] = f"""
    WITH {SQL_NORM2},
    {_sql_buckets()},
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id
        FROM buckets qb
        JOIN embeddings qm ON qm.vec_id = qb.vec_id
        JOIN buckets vb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket
                       AND vb.vec_id <> qb.vec_id
        JOIN embeddings vm ON vm.vec_id = vb.vec_id
                          AND vm.label = qm.label
        WHERE qb.vec_id % {QUERY_MOD} = 0
    ),
    dots AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand
        JOIN embeddings q ON q.vec_id = query_id
        JOIN embeddings v ON v.vec_id = neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""

# -- radius (range) search over the LSH index (round 5) ---------------------

RANGE_TAU = 0.2


def knn_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search — the dual of top-k: EVERY corpus vector within
    cosine ≥ {tau} of each query (dedup candidates, near-duplicate
    audits, and recall-oriented retrieval want "all close enough",
    not "the k closest"). Candidates come from the SAME cached
    multi-table LSH index as ann_lsh (bounded_cache slot reuse — zero
    new corpus-sized work when both run); scoring is the two-phase
    lossless recipe: a plain-double prefilter at τ − 2e-6 (margin ≫
    fp error, so no true match is dropped) and the decimal-exact
    cosine only on survivors.

    Scale shape: identical to ann_lsh — skinny (id, table, bucket)
    equi-join for candidates, vectors join back only for survivors;
    the result is candidate-bounded, never all-pairs."""
    e = bounded_cache(
        "lsh.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    buckets = bounded_cache("lsh.buckets", _bucket_table(spark, e))
    qb = buckets.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cand = bounded_cache(
        "ann_lsh.cand",
        buckets.join(
            F.broadcast(qb),
            ["tbl", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct(),
    )
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    fast_cos = _dot_fast("qe", "embedding") / F.sqrt(
        F.col("qn") * F.col("norm2")
    )
    exact_cos = stable_round(
        _dot("qe", "embedding") / F.sqrt(F.col("qn") * F.col("norm2")), 6
    )
    scored = (
        cand.join(
            e.select(
                F.col("vec_id").alias("neighbor_id"), "embedding", "norm2"
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qe), "query_id")
        .withColumn("_fast", fast_cos)
        .filter(
            (F.col("_fast") >= RANGE_TAU - 2e-6) | F.col("_fast").isNull()
        )
        .withColumn("cosine", exact_cos)
        .filter(F.col("cosine") >= RANGE_TAU)
    )
    return scored.select("query_id", "neighbor_id", "cosine").orderBy(
        "query_id", F.desc("cosine"), "neighbor_id"
    )


knn_range_search.__doc__ = knn_range_search.__doc__.format(tau=RANGE_TAU)

ORACLES["knn_range_search"] = f"""
    WITH {SQL_NORM2},
    {_sql_buckets()},
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, vb.vec_id AS neighbor_id
        FROM buckets qb
        JOIN buckets vb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket
                       AND vb.vec_id <> qb.vec_id
        WHERE qb.vec_id % {QUERY_MOD} = 0
    ),
    dots AS (
        SELECT query_id, neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand
        JOIN embeddings q ON q.vec_id = query_id
        JOIN embeddings v ON v.vec_id = neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM scored
    WHERE cosine >= {RANGE_TAU}
    ORDER BY query_id, cosine DESC, neighbor_id
"""


# -- LSH-blocked embedding dedup --------------------------------------------


def embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ τ) — the 100 TB path.

    Same sign-LSH bucket table as :func:`ann_lsh`, but symmetric:
    candidates are DISTINCT pairs sharing a bucket in ANY table
    (vec_a < vec_b), exact decimal-stable rescore, ≥ τ cut. No driver
    collect anywhere — candidate generation is a skinny self-equi-join
    on (tbl, bucket), and embeddings join back in by id (sort-merge at
    scale). The exhaustive brute-force baseline with the same scoring
    math is `dedup.embedding_pairs` (pytest-only: its broadcast corpus
    matrix has a hard memory ceiling, guarded loudly there).

    Precision is perfect (exact rescore); recall at pair-cosine c is
    1-(1-p^b)^T with p = 1-arccos(c)/π, b=5 bits, T=4 tables: ≈0.92 at
    a real near-dup threshold (c=0.9), ≈0.35 in the testdata's
    c≈0.40-0.47 regime (pinned by pytest against brute force). More
    tables at fewer bits would raise boundary recall but admit ~2^-b
    of ALL pairs per table as candidates — quadratic on unrelated
    vectors, the exact blow-up this operator exists to avoid.

    Candidate-volume scale contract (measured, round 12): per table,
    collisions ≈ n²/2^(b+1), so candidates grow quadratically at FIXED
    bits — the sf1 replica (20k vectors) yields 26.5M candidate pairs
    (cross-table dup ratio 1.06 — a pre-score distinct does not pay)
    and the two-phase rescore over them is the query's entire cost.
    Production scaling raises b ∝ log₂(n) to hold per-bucket
    occupancy constant; b is a mirrored constant on both engines, so
    re-tuning it re-gates the whole LSH family by design rather than
    silently changing recall.
    """
    return _embedding_pairs(spark, sf_dir).orderBy("vec_a", "vec_b")


def _embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsorted (vec_a, vec_b, cosine) core of
    :func:`embedding_dedup_lsh`: consumers that shuffle it anyway (the
    cluster propagation) skip the global sort."""
    from big_data_parallel_computing_hw2_spark.operators.dedup import (
        COSINE_TAU,
    )

    e = bounded_cache(
        "lsh.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    buckets = bounded_cache(
        "lsh.buckets", _bucket_table(spark, e)
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        # NOT distinct here: cross-table duplicate candidates are ~6%
        # of rows (measured sf0.1: 265k → 250k) but a distinct at this
        # width is a full shuffle of the whole candidate set. Score the
        # dupes (identical cosine) and dedupe the few survivors instead.
    )
    return (
        cand.join(
            e.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("ea"),
                F.col("norm2").alias("na"),
            ),
            "vec_a",
        )
        .join(
            e.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("eb"),
                F.col("norm2").alias("nb"),
            ),
            "vec_b",
        )
        # two-phase: cheap double dot drops the ~all-noise candidate
        # mass (margin ≫ fp error, no exact survivor lost), then the
        # decimal-exact score runs only on survivors
        .filter(
            _dot_fast("ea", "eb") / F.sqrt(F.col("na") * F.col("nb"))
            >= COSINE_TAU - FAST_COS_MARGIN
        )
        .withColumn(
            "cosine",
            stable_round(
                _dot("ea", "eb") / F.sqrt(F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("cosine") >= COSINE_TAU)
        .select("vec_a", "vec_b", "cosine")
        .distinct()
    )


def _oracle_embedding_dedup_lsh() -> str:
    from big_data_parallel_computing_hw2_spark.operators.dedup import (
        COSINE_TAU,
    )

    cos = sql_stable_round("dot / sqrt(na.norm2 * nb.norm2)", 6)
    return f"""
    WITH {SQL_NORM2},
    {_sql_buckets()},
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a
        JOIN buckets b ON b.tbl = a.tbl AND b.bucket = a.bucket
                      AND a.vec_id < b.vec_id
    ),
    dots AS (
        SELECT vec_a, vec_b,
               CAST(SUM(CAST(CAST(ea.embedding[gs.i] AS DOUBLE)
                             * CAST(eb.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand
        JOIN embeddings ea ON ea.vec_id = vec_a
        JOIN embeddings eb ON eb.vec_id = vec_b,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    )
    SELECT vec_a, vec_b, {cos} AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE {cos} >= {COSINE_TAU}
    ORDER BY vec_a, vec_b
"""


ORACLES["embedding_dedup_lsh"] = _oracle_embedding_dedup_lsh()


# -- IVF --------------------------------------------------------------------

CENTROID_MOD = 97  # seed centroids = vec_id % 97 == 0 (deterministic subset)
LLOYD_ITERS = 2  # distributed Lloyd refinement rounds over the seed


def _ivf_centroid_cos() -> F.Column:
    """Decimal-stable query/vector-to-centroid cosine over the aliased
    (ce, cn) centroid columns — ONE definition shared by assignment and
    multiprobe ranking so their tiebreaks can never drift."""
    return stable_round(
        _dot("ce", "embedding") / F.sqrt(F.col("cn") * F.col("norm2")), 6
    )


def _ivf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, norm2) corpus projection used by IVF
    training, assignment, and both probe paths."""
    return fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
        "vec_id", "embedding", _norm2("embedding").alias("norm2")
    ).filter(F.col("norm2") > 0)


def _assign_to(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every corpus vector to its nearest centroid by the
    decimal-stable cosine (tiebreak: smallest centroid_id) — the one
    assignment definition shared by Lloyd training and the final index.

    Assignment is an AGGREGATION, not a window: min(struct(-cosine,
    centroid_id)) per vector gets map-side partial aggregation, so the
    n_vectors × n_centroids pair rows never shuffle — only one row per
    vector does. (A per-vector window or a broadcast-survivor join
    would ship per-vector state across the cluster — the thing this
    shape avoids at 100 TB.) Negated cosine in the struct turns
    lexicographic MIN into (max cosine, then min centroid_id) — the
    same deterministic tiebreak the oracle's ROW_NUMBER uses."""
    ccos = _ivf_centroid_cos()
    return (
        e.join(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "norm2",
            # coalesce(+inf): a NULL cosine (zero-norm vector) must sort
            # LAST, matching the window's desc-nulls-last it replaces
            F.struct(
                F.coalesce(-ccos, F.lit(float("inf"))).alias("neg"),
                "centroid_id",
            ).alias("sc"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),
            F.first("norm2").alias("norm2"),
            F.min("sc").getField("centroid_id").alias("centroid_id"),
        )
    )


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(assigned, cents): the (vec_id, embedding, norm2, centroid_id)
    corpus assignment against the TRAINED coarse quantizer, and the
    quantizer itself (`_ivf_centroids_build`) — one definition for
    every IVF query, trained once per call. Both tables are
    `localCheckpoint`ed: a trained table otherwise carries its Lloyd
    plan chain, and every downstream DataFrame operation re-analyzes
    that tree on the driver (measured: 7.7 s of driver time per
    knn_ivf_multiprobe build at sf0.1, vs 1.3 s of execution)."""
    cents = _ivf_centroids_build(spark, sf_dir).localCheckpoint()
    assigned = _assign_to(_ivf_corpus(spark, sf_dir), cents).localCheckpoint()
    return assigned, cents


def _ivf_centroids_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED coarse quantizer: seed with the deterministic vec_id %
    {mod} subset, then run {iters} distributed Lloyd iterations —
    assign every vector to its nearest centroid (cosine), recompute
    each centroid as the per-dimension decimal-stable mean of its
    members. Both steps are groupBy aggregations: assignment shuffles
    one row per vector, the mean shuffles ≤ n_centroids × {dim} partial
    aggregates per partition — no collect, no window, no driver-side
    loop state beyond the {iters}-step plan chain. Empty cells drop out
    (mirroring the oracle's GROUP BY over members).

    Every arithmetic step (decimal dot, 6-digit cosine round, smallest-
    id tiebreak, DECIMAL(38,6) mean with 4-digit round) is the shared
    oracle-stable recipe, so the DuckDB oracle replays training
    bit-for-bit (its CTE chain is generated from the same constants).
    Each intermediate centroid table is a bounded_cache slot: tiny
    (n_centroids × {dim} doubles) but every assignment pass reads it
    n_vectors times."""
    e = _ivf_corpus(spark, sf_dir)
    cents = e.filter(F.col("vec_id") % CENTROID_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("norm2").alias("cn"),
    )
    for t in range(LLOYD_ITERS):
        members = _assign_to(e, cents).select(
            "vec_id", "embedding", "centroid_id"
        )
        dims = [
            davg(F.col("embedding").getItem(i).cast("double"), f"c{i}")
            for i in range(DIM)
        ]
        cents = bounded_cache(
            f"knn_ivf.cents{t}",
            members.groupBy("centroid_id")
            .agg(*dims)
            .select(
                "centroid_id",
                F.array(*[F.col(f"c{i}") for i in range(DIM)]).alias("ce"),
            )
            .withColumn("cn", _norm2("ce")),
        )
    return cents


_ivf_centroids_build.__doc__ = _ivf_centroids_build.__doc__.format(
    mod=CENTROID_MOD, iters=LLOYD_ITERS, dim=DIM
)


def ivf_index_delta(
    spark: SparkSession, new_vectors: DataFrame, cents: DataFrame
) -> DataFrame:
    """IVF posting rows for a batch of NEW/UPDATED vectors against a
    FROZEN trained quantizer — the third leg of the incremental-index
    family (round 12). Once the coarse quantizer is trained, cell
    assignment depends only on the vector itself and the centroid
    table, so a growing corpus assigns ONLY the delta (one broadcast
    join + per-vector min-aggregation, the same `_assign_to`
    definition training and both probe paths use — identical
    tiebreaks, so delta-then-upsert equals a full re-assignment
    row-for-row). Re-training the quantizer is the periodic offline
    event that rebuilds the index; between trainings this is the
    production write path. Returns (vec_id, embedding, norm2,
    centroid_id) — the `_ivf_index` assignment shape."""
    e = new_vectors.select(
        "vec_id", "embedding", _norm2("embedding").alias("norm2")
    ).filter(F.col("norm2") > 0)
    return _assign_to(e, cents)


def ivf_index_upsert(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Latest-wins merge of delta postings into the standing IVF
    index (skinny vec_id anti-join, same contract as
    lsh_index_upsert / minhash_index_upsert)."""
    touched = delta.select("vec_id").distinct()
    return existing.join(touched, "vec_id", "left_anti").unionByName(delta)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style search: a deterministic centroid subset partitions the
    corpus into cells (assign-to-nearest by cosine); queries search only
    their own cell. At scale, cells are the partition key — each probe
    touches 1/n_cells of the data. `assigned` feeds both the query-side
    filter and the corpus side of the cell join; its checkpoint (see
    _ivf_index) keeps it computed once."""
    assigned, _ = _ivf_index(spark, sf_dir)
    q = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
        F.col("centroid_id").alias("qcell"),
    )
    cell_ids = assigned.join(
        F.broadcast(q.select("query_id", "qcell")),
        (F.col("centroid_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "norm2"
    )
    return _exact_topk(
        cell_ids, corpus, q.select("query_id", "qe", "qn")
    ).orderBy("query_id", "rnk")


def _sql_ivf_chain() -> str:
    """DuckDB mirror of `_ivf_index`: replays the
    seed subset and every Lloyd iteration (long-form centroid tables
    cents{{t}}(centroid_id, i, val)), ending with `ranked` (every
    vector's full centroid ranking against the trained centroids) and
    `assigned` (its arnk=1 row). Generated from the same constants as
    the Spark side so the two can't drift."""
    parts = [SQL_NORM2.strip()]
    # seeds mirror the Spark side's _ivf_corpus, which excludes
    # zero-magnitude vectors (norms carries the norm2 > 0 corpus
    # contract) — without this guard a zero seed would train on one
    # engine only
    parts.append(f"""cents0 AS (
        SELECT vec_id AS centroid_id, gs.i AS i,
               CAST(embedding[gs.i] AS DOUBLE) AS val
        FROM embeddings, generate_series(1, {DIM}) AS gs(i)
        WHERE vec_id % {CENTROID_MOD} = 0
          AND vec_id IN (SELECT vec_id FROM norms)
    )""")
    for t in range(LLOYD_ITERS + 1):
        parts.append(f"""cn{t} AS (
        SELECT centroid_id,
               CAST(SUM(CAST(val * val AS DECIMAL(38,18))) AS DOUBLE)
                   AS norm2
        FROM cents{t} GROUP BY 1
    )""")
        parts.append(f"""cd{t} AS (
        SELECT v.vec_id, c.centroid_id,
               CAST(SUM(CAST(CAST(v.embedding[c.i] AS DOUBLE) * c.val
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings v JOIN cents{t} c ON TRUE
        GROUP BY 1, 2
    )""")
        ranked = "ranked" if t == LLOYD_ITERS else f"rank{t + 1}"
        parts.append(f"""{ranked} AS (
        SELECT cd.vec_id, cd.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY cd.vec_id
                   ORDER BY {sql_stable_round('dot / sqrt(vn.norm2 * cn.norm2)', 6)}
                            DESC, cd.centroid_id) AS arnk
        FROM cd{t} cd
        JOIN norms vn ON vn.vec_id = cd.vec_id
        JOIN cn{t} cn ON cn.centroid_id = cd.centroid_id
    )""")
        asg = "assigned" if t == LLOYD_ITERS else f"asg{t + 1}"
        parts.append(f"""{asg} AS (
        SELECT vec_id, centroid_id FROM {ranked} WHERE arnk = 1
    )""")
        if t < LLOYD_ITERS:
            parts.append(f"""cents{t + 1} AS (
        SELECT a.centroid_id, gs.i AS i,
               {sql_davg("CAST(v.embedding[gs.i] AS DOUBLE)", "val")}
        FROM asg{t + 1} a JOIN embeddings v ON v.vec_id = a.vec_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    )""")
    return ",\n    ".join(parts)


ORACLES["knn_ivf"] = f"""
    WITH {_sql_ivf_chain()},
    dots AS (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings q
        JOIN assigned qa ON qa.vec_id = q.vec_id
        JOIN assigned va ON va.centroid_id = qa.centroid_id
        JOIN embeddings v ON v.vec_id = va.vec_id
                         AND v.vec_id <> q.vec_id,
             generate_series(1, {DIM}) AS gs(i)
        WHERE q.vec_id % {QUERY_MOD} = 0
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""


# reverse top-k oracle: pure aggregation over the kNN oracle's output
ORACLES["knn_reverse_topk"] = f"""
    SELECT neighbor_id,
           COUNT(*) AS n_queries,
           MIN(rnk) AS best_rank,
           {sql_stable_round("MAX(cosine)", 6)} AS best_cosine
    FROM ({ORACLES["knn_bruteforce"]}) knn
    GROUP BY neighbor_id
    ORDER BY n_queries DESC, neighbor_id
"""

# -- product quantization ---------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_CB_MOD = 71  # codebook = subvectors of vec_id % 71 == 0 (deterministic)
PQ_RERANK = 50  # ADC candidates per query before exact rescore


def _sub_vec(col: str, m) -> F.Column:
    """Subspace ``m`` (int literal or Column) of a full embedding."""
    mc = F.lit(m) if isinstance(m, int) else F.col(m)
    return F.slice(F.col(col), mc * PQ_SUBDIM + 1, PQ_SUBDIM)


def _arr_l2_exact(a: F.Column, b: F.Column) -> F.Column:
    """Decimal-exact squared L2 between two array columns
    (order-independent accumulation → oracle-identical)."""
    diff2 = F.zip_with(
        a,
        b,
        lambda x, y: (
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ).cast("decimal(38,18)"),
    )
    return F.aggregate(
        diff2,
        F.lit(0).cast("decimal(38,18)"),
        lambda acc, v: (acc + v).cast("decimal(38,18)"),
    ).cast("double")


def _arr_l2_fast(a: F.Column, b: F.Column) -> F.Column:
    """Plain-double squared L2 — prefilter only, never a final value
    (same contract as `_dot_fast`: fp error ~1e-13 ≪ the 2e-6 margin
    the callers keep)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_encode(e: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode every corpus vector against codebook ``cb`` = (m,
    centroid_id, ce): nearest entry per (vector, subspace) — the one
    assignment definition shared by codebook training and the final
    index build.

    Two-phase: plain-double sub-distances rank the codebook, decimal-
    exact distances run only on rows within 2e-6 of each (vector,
    subspace) minimum — the argmin is provably identical (same margin
    argument as `_exact_topk`), with ~n_entries× less decimal work."""
    sub = _sub_vec("embedding", "m")
    fast = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cb))
        .select(
            "vec_id", "m", "centroid_id",
            _arr_l2_fast(sub, F.col("ce")).alias("df"),
        )
    )
    w_vm = Window.partitionBy("vec_id", "m")
    survivors = (
        fast.withColumn("fmin", F.min("df").over(w_vm))
        .filter(F.col("df") <= F.col("fmin") + 2e-6)
        .select("vec_id", "m", "centroid_id")
    )
    exact = (
        survivors.join(e.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(cb), ["m", "centroid_id"])
        .withColumn("d", stable_round(_arr_l2_exact(sub, F.col("ce")), 6))
        .select("vec_id", "m", "centroid_id", "d")
    )
    return (
        exact.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "centroid_id")).alias("s"))
        .select(
            "vec_id", "m", F.col("s.centroid_id").alias("centroid_id")
        )
    )


def pq_index_delta(
    spark: SparkSession, new_vectors: DataFrame, cb: DataFrame
) -> DataFrame:
    """PQ code rows for a batch of NEW/UPDATED vectors against FROZEN
    trained codebooks — the fourth and last ANN tier's incremental
    write path (round 12; same contract family as lsh_index_delta /
    minhash_index_delta / ivf_index_delta). Encoding depends only on
    the vector and the codebook, and the delta runs through the SAME
    `_pq_encode` definition training and the probe path use, so
    delta-then-upsert equals a full re-encode row-for-row (pinned).
    Returns (vec_id, m, centroid_id). Zero-magnitude vectors are NOT
    excluded here: PQ codes are L2-based and defined for them —
    exclusion is the cosine family's contract, not this one."""
    return _pq_encode(new_vectors.select("vec_id", "embedding"), cb)


def pq_index_upsert(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Latest-wins merge of delta PQ codes (skinny vec_id anti-join,
    the shared incremental-index contract)."""
    touched = delta.select("vec_id").distinct()
    return existing.join(touched, "vec_id", "left_anti").unionByName(delta)


def _pq_codebook_build(e: DataFrame) -> DataFrame:
    """TRAINED per-subspace codebooks: seed each subspace's codebook
    with the vec_id % {mod} subvectors, then run {iters} distributed
    Lloyd iterations — encode all subvectors against the current
    codebook, recompute each entry as the decimal-stable per-dimension
    mean of its members. All groupBy aggregations (no collect, no
    driver loop state); each intermediate codebook is a bounded_cache
    slot ({m} × n_entries × {subdim} doubles — tiny, read n_vectors
    times per encode pass). The DuckDB oracle replays the identical
    chain (`_sql_pq_chain`)."""
    stack_args = ", ".join(
        f"{m}, slice(embedding, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
        for m in range(PQ_M)
    )
    cb = (
        e.filter(F.col("vec_id") % PQ_CB_MOD == 0)
        .selectExpr(
            "vec_id AS centroid_id",
            f"stack({PQ_M}, {stack_args}) AS (m, ce)",
        )
        .select("m", "centroid_id", "ce")
    )
    for t in range(LLOYD_ITERS):
        members = _pq_encode(e, cb).join(
            e.select("vec_id", "embedding"), "vec_id"
        )
        aggs = [
            davg(
                F.element_at(
                    F.col("embedding"),
                    (F.col("m") * PQ_SUBDIM + i + 1).cast("int"),
                ).cast("double"),
                f"c{i}",
            )
            for i in range(PQ_SUBDIM)
        ]
        cb = bounded_cache(
            f"knn_pq.cb{t}",
            members.groupBy("m", "centroid_id")
            .agg(*aggs)
            .select(
                "m",
                "centroid_id",
                F.array(
                    *[F.col(f"c{i}") for i in range(PQ_SUBDIM)]
                ).alias("ce"),
            ),
        )
    return cb


_pq_codebook_build.__doc__ = _pq_codebook_build.__doc__.format(
    mod=PQ_CB_MOD, iters=LLOYD_ITERS, m=PQ_M, subdim=PQ_SUBDIM
)


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI'11 shape): split
    the {dim}-dim space into {m} subspaces, encode every corpus vector
    as its nearest entry of a TRAINED per-subspace codebook
    ({subdim}-dim L2, Lloyd-refined — `_pq_codebook_build`), rank by
    asymmetric distance (query-to-codebook lookups, summed over
    subspaces), exact-rescore the top {rerank} per query.

    Scale shape: the codebook is tiny and broadcast; `codes` is one
    skinny (vec_id, m, code) table — {m} smallints per vector instead
    of the raw floats (the PQ memory win); ADC is an equi-join of codes
    against the per-query lookup table, never a full-vector scan. All
    distances go through the decimal-stable recipe so the DuckDB oracle
    reproduces ranking — including codebook training — bit-for-bit.
    """
    e = bounded_cache(
        "knn_pq.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    cb = _pq_codebook_build(e).localCheckpoint()
    codes = _pq_encode(e, cb)
    # query-side ADC lookup table: decimal-exact for EVERY codebook
    # entry — tiny (n_queries × n_entries × M) and the oracle sums these
    qsub = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .join(F.broadcast(cb))
        .select(
            "query_id",
            "m",
            "centroid_id",
            stable_round(
                _arr_l2_exact(_sub_vec("embedding", "m"), F.col("ce")), 6
            ).alias("d"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(qsub),
            ["m", "centroid_id"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(stable_round(F.sum("d"), 6).alias("adist"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    # skinny (query, neighbor) candidates cached: `_exact_topk` walks
    # its input twice, and this sits on top of the whole encode+ADC
    # pipeline — without the cache all of it would run both times
    cand = bounded_cache(
        "knn_pq.cand",
        adc.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= PQ_RERANK)
        .select("query_id", "neighbor_id"),
    )
    qe = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "norm2")
    return _exact_topk(cand, corpus, qe).orderBy("query_id", "rnk")


knn_pq.__doc__ = knn_pq.__doc__.format(
    dim=DIM, m=PQ_M, subdim=PQ_SUBDIM, rerank=PQ_RERANK
)


def _sql_pq_chain(src: str = "embeddings") -> str:
    """DuckDB mirror of `_pq_codebook_build` + `_pq_encode`: replays the
    seed subvector codebooks and every Lloyd iteration (long-form
    cb{{t}}(m, centroid_id, i, val)), ending with `subd` (every
    (vector, subspace, entry) distance against the trained codebook)
    and `codes` (its per-(vector, subspace) argmin). Generated from the
    same constants as the Spark side so the two can't drift. ``src``
    is the (vec_id, embedding) relation to train/encode over —
    `embeddings` for plain PQ, the residual CTE for IVF-PQ."""
    idx = f"c.m * {PQ_SUBDIM} + c.i"
    diff = f"(CAST(v.embedding[{idx}] AS DOUBLE) - c.val)"
    subsum = (
        f"CAST(SUM(CAST({diff} * {diff} AS DECIMAL(38,18))) AS DOUBLE)"
    )
    parts = [f"""cb0 AS (
        SELECT mm.m AS m, vec_id AS centroid_id, gs.i AS i,
               CAST(embedding[mm.m * {PQ_SUBDIM} + gs.i] AS DOUBLE) AS val
        FROM {src},
             generate_series(0, {PQ_M - 1}) AS mm(m),
             generate_series(1, {PQ_SUBDIM}) AS gs(i)
        WHERE vec_id % {PQ_CB_MOD} = 0
    )"""]
    for t in range(LLOYD_ITERS + 1):
        subd = "subd" if t == LLOYD_ITERS else f"psub{t}"
        parts.append(f"""{subd} AS (
        SELECT v.vec_id, c.m, c.centroid_id,
               {sql_stable_round(subsum, 6)} AS d
        FROM {src} v JOIN cb{t} c ON TRUE
        GROUP BY 1, 2, 3
    )""")
        codes = "codes" if t == LLOYD_ITERS else f"pcodes{t + 1}"
        parts.append(f"""{codes} AS (
        SELECT vec_id, m, centroid_id FROM (
            SELECT vec_id, m, centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d, centroid_id) AS rn
            FROM {subd}) WHERE rn = 1
    )""")
        if t < LLOYD_ITERS:
            parts.append(f"""cb{t + 1} AS (
        SELECT k.m, k.centroid_id, gs.i AS i,
               {sql_davg(
                   f"CAST(v.embedding[k.m * {PQ_SUBDIM} + gs.i] AS DOUBLE)",
                   "val",
               )}
        FROM pcodes{t + 1} k JOIN {src} v ON v.vec_id = k.vec_id,
             generate_series(1, {PQ_SUBDIM}) AS gs(i)
        GROUP BY 1, 2, 3
    )""")
    return ",\n    ".join(parts)


def _oracle_knn_pq() -> str:
    dot = (
        "CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)"
        " * CAST(v.embedding[gs.i] AS DOUBLE)"
        " AS DECIMAL(38,18))) AS DOUBLE)"
    )
    return f"""
    WITH {SQL_NORM2},
    nz AS (
        -- the PQ train/encode corpus mirrors Spark's filtered
        -- projection: zero-magnitude vectors carry no direction and
        -- are excluded by the norm2 > 0 corpus contract
        SELECT e.* FROM embeddings e JOIN norms USING (vec_id)
    ),
    {_sql_pq_chain(src="nz")},
    adc AS (
        SELECT s.vec_id AS query_id, k.vec_id AS neighbor_id,
               {sql_stable_round("SUM(s.d)", 6)} AS adist
        FROM codes k
        JOIN subd s ON s.m = k.m AND s.centroid_id = k.centroid_id
        WHERE s.vec_id % {QUERY_MOD} = 0 AND k.vec_id <> s.vec_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adist, neighbor_id) AS arn
            FROM adc) WHERE arn <= {PQ_RERANK}
    ),
    dots AS (
        SELECT query_id, neighbor_id, {dot} AS dot
        FROM cand
        JOIN embeddings q ON q.vec_id = query_id
        JOIN embeddings v ON v.vec_id = neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
                        AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
    """


ORACLES["knn_pq"] = _oracle_knn_pq()

# -- per-label centroids ----------------------------------------------------


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) —
    the class-prototype computation behind IVF coarse quantizers,
    nearest-centroid classifiers, and cluster drift monitors.

    Spark-first: posexplode to a skinny (label, pos, val) stream and
    hash-aggregate — map-side partial aggregation reduces each
    partition to ≤ |labels|·dim rows before the one shuffle, so at
    100 TB the exchange carries kilobytes per partition regardless of
    row count. No collect, no UDF; decimal-stable mean matches the
    DuckDB oracle exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = fan_out(spark, e).select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg(F.col("val").cast("double"), "centroid"),
        )
        .select(
            "label",
            F.col("pos").cast("int").alias("pos"),
            "n_vecs",
            "centroid",
        )
        .orderBy("label", "pos")
    )


ORACLES["embedding_centroids"] = f"""
    SELECT label,
           CAST(i - 1 AS INT) AS pos,
           COUNT(*) AS n_vecs,
           {sql_davg("CAST(embedding[i] AS DOUBLE)", "centroid")}
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    GROUP BY 1, 2
    ORDER BY label, pos
"""

OUTLIER_TOPK = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label outliers: the 5 vectors farthest (L2²) from their
    label centroid — the mislabel / quality screen a training-data
    pipeline runs over embedding columns.

    Two deliberate passes over embeddings (the classic two-pass
    algorithm): pass 1 aggregates centroids (labels×dim rows — tiny),
    pass 2 re-streams the exploded vectors against the BROADCAST
    centroid table and reduces per vector; both scans read only
    (vec_id, label, embedding) with pushdown. Distances sum in
    decimal(38,12) per term — order-independent, so the per-label
    ranking ties out exactly against the oracle. Top-5 per label rides
    the WindowGroupLimit pushdown."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = (
        fan_out(spark, e)
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
        .withColumn("val", F.col("val").cast("double"))
    )
    cent = ex.groupBy("label", "pos").agg(davg("val", "centroid"))
    diff = F.col("val") - F.col("centroid")
    d = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum((diff * diff).cast("decimal(38,12)")).alias("d2"))
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= OUTLIER_TOPK)
        .select(
            "label",
            "vec_id",
            F.round("d2", 6).cast("double").alias("dist2"),
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("label", "rank")
    )


ORACLES["embedding_outliers"] = f"""
    WITH ex AS (
        SELECT vec_id, label, CAST(i - 1 AS INT) AS pos,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ), cent AS (
        SELECT label, pos, {sql_davg("val", "centroid")}
        FROM ex GROUP BY 1, 2
    ), d AS (
        SELECT vec_id, ex.label,
               SUM(CAST((val - centroid) * (val - centroid)
                   AS DECIMAL(38,12))) AS d2
        FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
        GROUP BY 1, 2
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY label ORDER BY d2 DESC, vec_id
        ) AS rn FROM d
    )
    SELECT label, vec_id, CAST(ROUND(d2, 6) AS DOUBLE) AS dist2,
           CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {OUTLIER_TOPK}
    ORDER BY label, rank
"""

NPROBE = 3


def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF multiprobe: queries search their NPROBE(=3) nearest cells
    instead of one — the standard recall/latency knob on an IVF index
    (cost ∝ nprobe/n_cells of the corpus, recall strictly ≥ single
    probe since the nprobe=1 cell is always included).

    Same `_ivf_index` definition as `knn_ivf`; only the QUERY side
    re-ranks centroids — derived from the checkpointed assignment, not
    a fresh scan — and the query set is small by construction, so the
    extra window is |queries|×|centroids| rows — trivial at any
    scale."""
    # trained centroids are Lloyd means, NOT corpus members — read the
    # trained table, never a vec_id filter of the assignment
    assigned, cents = _ivf_index(spark, sf_dir)
    # probe side reads straight from the checkpointed assignment: no
    # parquet re-scan, no decimal-norm recompute
    qraw = assigned.select("vec_id", "embedding", "norm2").filter(
        F.col("vec_id") % QUERY_MOD == 0
    )
    ccos = _ivf_centroid_cos()
    wq = Window.partitionBy("vec_id").orderBy(
        F.desc_nulls_last("__ccos"), "centroid_id"
    )
    qcells = (
        qraw.join(F.broadcast(cents))
        .withColumn("__ccos", ccos)
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("qcell"),
        )
    )
    # a corpus vector lives in exactly one cell and a query's probed
    # cells are distinct, so the pair set needs no dedup
    cell_ids = assigned.join(
        F.broadcast(qcells),
        (F.col("centroid_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))
    q = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "norm2"
    )
    return _exact_topk(cell_ids, corpus, q).orderBy("query_id", "rnk")


ORACLES["knn_ivf_multiprobe"] = f"""
    WITH {_sql_ivf_chain()},
    dots AS (
        SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
               CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)
                             * CAST(v.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings q
        JOIN ranked qa ON qa.vec_id = q.vec_id AND qa.arnk <= {NPROBE}
        JOIN ranked va ON va.centroid_id = qa.centroid_id AND va.arnk = 1
        JOIN embeddings v ON v.vec_id = va.vec_id
                         AND v.vec_id <> q.vec_id,
             generate_series(1, {DIM}) AS gs(i)
        WHERE q.vec_id % {QUERY_MOD} = 0
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
"""

# -- composite IVF-PQ index (round 5) ---------------------------------------

IVFPQ_NPROBE = 6  # coarse cells probed per query (tuned: see recall test)
# deeper ADC rescore than plain PQ (the FAISS k_factor knob): the IVF
# stage already pruned the candidate pool to the probed cells, so a
# larger exact-rescore budget is cheap — measured recall 0.88 vs 0.68
# at PQ_RERANK on the sf0.001 eval set
IVFPQ_RERANK = 2 * PQ_RERANK


def _ivfpq_residuals(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell, embedding=residual) for every corpus vector:
    x − centroid(cell(x)) against the TRAINED coarse quantizer
    (`_ivf_index`) — the signal the per-subspace codebooks quantize in
    IVF-PQ (residuals have far less energy than raw vectors, so the
    same codebook budget buys finer quantization; Jégou '11 §III)."""
    return bounded_cache(
        "ivfpq.res",
        assigned.join(
            F.broadcast(cents.select("centroid_id", "ce")), "centroid_id"
        ).select(
            "vec_id",
            F.col("centroid_id").alias("cell"),
            F.zip_with(
                "embedding", "ce", lambda x, c: x.cast("double") - c
            ).alias("embedding"),
        ),
    )


def _ivfpq_codebook(res: DataFrame) -> DataFrame:
    """Residual PQ codebooks (shared across cells — the FAISS IVFPQ
    default; a per-cell variant is the same plan with `cell` as an
    extra group key), trained by the SAME `_pq_codebook_build` Lloyd
    loop knn_pq uses, just over the `_ivfpq_residuals` table."""
    cb = _pq_codebook_build(res.select("vec_id", "embedding"))
    return cb.localCheckpoint()


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite IVF-PQ index — THE standard billion-scale ANN layout
    (FAISS IVFPQ): the trained coarse quantizer from knn_ivf prunes the
    corpus to {nprobe} probed cells per query, and a residual
    product-quantization codebook (trained on x − centroid by the same
    Lloyd loop as knn_pq) ranks the survivors by asymmetric distance —
    per-(query, probed-cell) residual lookup tables, summed over
    subspaces — before the exact top-{rerank} rescore (2× plain PQ's
    budget, the FAISS k_factor knob: the IVF prune already paid for a
    deeper rescore).

    Scale shape: everything both halves already proved, chained — the
    corpus never leaves its cells (codes is a skinny (vec_id, cell, m,
    code) table, {m} smallints per vector), the LUT is
    queries × {nprobe} × {m} × entries rows and broadcast, ADC is an
    equi-join of codes against it (no full-vector scan, no all-pairs),
    and only ~{rerank} survivors per query touch raw vectors again.
    Training, encoding, probing, and every distance go through the
    decimal-stable recipe, so the DuckDB oracle replays the whole
    composite — coarse Lloyd, residuals, residual-codebook Lloyd, LUT,
    ADC, rescore — bit-for-bit."""
    assigned, cents = _ivf_index(spark, sf_dir)
    res = _ivfpq_residuals(assigned, cents)
    cb = _ivfpq_codebook(res)
    codes = _pq_encode(res.select("vec_id", "embedding"), cb).join(
        res.select("vec_id", "cell"), "vec_id"
    ).select("vec_id", "cell", "m", F.col("centroid_id").alias("code"))
    # query probing: rank the trained centroids per query (cached
    # assignment feeds the query side — no re-scan), keep NPROBE cells,
    # and carry the per-cell query RESIDUAL for the LUT
    qraw = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        "vec_id", "embedding", "norm2"
    )
    wq = Window.partitionBy("vec_id").orderBy(
        F.desc_nulls_last("__ccos"), "centroid_id"
    )
    qprobe = (
        qraw.join(F.broadcast(cents))
        .withColumn("__ccos", _ivf_centroid_cos())
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= IVFPQ_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("cell"),
            F.zip_with(
                "embedding", "ce", lambda x, c: x.cast("double") - c
            ).alias("qr"),
        )
    )
    lut = qprobe.join(F.broadcast(cb)).select(
        "query_id",
        "cell",
        "m",
        F.col("centroid_id").alias("code"),
        stable_round(
            _arr_l2_exact(_sub_vec("qr", "m"), F.col("ce")), 6
        ).alias("d"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(stable_round(F.sum("d"), 6).alias("adist"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    cand = bounded_cache(
        "knn_ivfpq.cand",
        adc.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= IVFPQ_RERANK)
        .select("query_id", "neighbor_id"),
    )
    qe = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "norm2"
    )
    return _exact_topk(cand, corpus, qe).orderBy("query_id", "rnk")


knn_ivfpq.__doc__ = knn_ivfpq.__doc__.format(
    nprobe=IVFPQ_NPROBE, m=PQ_M, rerank=IVFPQ_RERANK
)


def _oracle_knn_ivfpq() -> str:
    T = LLOYD_ITERS
    lut_diff = "(r.val - c.val)"
    lut_sum = (
        f"CAST(SUM(CAST({lut_diff} * {lut_diff} AS DECIMAL(38,18)))"
        " AS DOUBLE)"
    )
    dot = (
        "CAST(SUM(CAST(CAST(q.embedding[gs.i] AS DOUBLE)"
        " * CAST(v.embedding[gs.i] AS DOUBLE)"
        " AS DECIMAL(38,18))) AS DOUBLE)"
    )
    return f"""
    WITH {_sql_ivf_chain()},
    resl AS (
        SELECT v.vec_id, a.centroid_id, c.i,
               CAST(v.embedding[c.i] AS DOUBLE) - c.val AS val
        FROM embeddings v
        JOIN assigned a ON a.vec_id = v.vec_id
        JOIN cents{T} c ON c.centroid_id = a.centroid_id
    ),
    res AS (
        SELECT vec_id, list(val ORDER BY i) AS embedding
        FROM resl GROUP BY vec_id
    ),
    {_sql_pq_chain(src="res")},
    probes AS (
        SELECT vec_id AS query_id, centroid_id AS cell
        FROM ranked
        WHERE arnk <= {IVFPQ_NPROBE} AND vec_id % {QUERY_MOD} = 0
    ),
    qresl AS (
        SELECT p.query_id, p.cell, c.i,
               CAST(q.embedding[c.i] AS DOUBLE) - c.val AS val
        FROM probes p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN cents{T} c ON c.centroid_id = p.cell
    ),
    lut AS (
        SELECT r.query_id, r.cell, c.m, c.centroid_id AS code,
               {sql_stable_round(lut_sum, 6)} AS d
        FROM qresl r
        JOIN cb{T} c ON r.i = c.m * {PQ_SUBDIM} + c.i
        GROUP BY 1, 2, 3, 4
    ),
    adc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               {sql_stable_round("SUM(l.d)", 6)} AS adist
        FROM codes k
        JOIN assigned a ON a.vec_id = k.vec_id
        JOIN lut l ON l.cell = a.centroid_id AND l.m = k.m
                  AND l.code = k.centroid_id
        WHERE k.vec_id <> l.query_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adist, neighbor_id) AS arn
            FROM adc) WHERE arn <= {IVFPQ_RERANK}
    ),
    dots AS (
        SELECT query_id, neighbor_id, {dot} AS dot
        FROM cand
        JOIN embeddings q ON q.vec_id = query_id
        JOIN embeddings v ON v.vec_id = neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
                        AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    ORDER BY query_id, rnk
    """


ORACLES["knn_ivfpq"] = _oracle_knn_ivfpq()

# -- scalar quantization QA -------------------------------------------------

SQ_LEVELS = 255  # int8-style code range 0..255


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization QA: per dimension, the corpus
    min/max, the quantization step, and the reconstruction error (MSE +
    max absolute error) of round-tripping every value through a 0..255
    code — the memory-vs-fidelity report a vector store publishes
    before switching a column to int8.

    Classic two-pass shape (like embedding_outliers): pass 1 reduces
    the exploded values to 64 (dim, min, max) rows, pass 2 re-streams
    the values against that BROADCAST range table, encodes, decodes,
    and reduces the errors per dimension. Codes use floor(x + 0.5),
    never ROUND(double): half-to-even vs half-up on exact halves is a
    cross-engine fault line, floor is pure IEEE."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = fan_out(spark, e).select(
        F.posexplode("embedding").alias("pos", "val")
    ).select("pos", F.col("val").cast("double").alias("val"))
    rng = ex.groupBy("pos").agg(
        F.min("val").alias("vmin"), F.max("val").alias("vmax")
    )
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(float(SQ_LEVELS))
    code = F.when(
        F.col("vmax") > F.col("vmin"),
        F.least(
            F.lit(SQ_LEVELS),
            F.greatest(
                F.lit(0),
                F.floor((F.col("val") - F.col("vmin")) / scale + 0.5).cast(
                    "int"
                ),
            ),
        ),
    ).otherwise(F.lit(0))
    recon = F.col("vmin") + F.col("code") * scale
    err = F.col("val") - recon
    return (
        ex.join(F.broadcast(rng), "pos")
        .withColumn("code", code)
        .withColumn("sq_err", (err * err).cast("decimal(38,18)"))
        .withColumn("abs_err", F.abs(err))
        .groupBy("pos")
        .agg(
            F.first("vmin").alias("vmin_raw"),
            F.first("vmax").alias("vmax_raw"),
            F.count(F.lit(1)).alias("n_vals"),
            F.sum("sq_err").alias("sse_dec"),
            F.max("abs_err").alias("max_abs_raw"),
        )
        .select(
            F.col("pos").cast("int").alias("pos"),
            stable_round(F.col("vmin_raw"), 6).alias("vmin"),
            stable_round(F.col("vmax_raw"), 6).alias("vmax"),
            "n_vals",
            stable_round(
                F.col("sse_dec").cast("double") / F.col("n_vals"), 6
            ).alias("mse"),
            stable_round(F.col("max_abs_raw"), 6).alias("max_abs_err"),
        )
        .orderBy("pos")
    )


ORACLES["embedding_quantize_int8"] = f"""
    WITH ex AS (
        SELECT CAST(i - 1 AS INT) AS pos,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ), rng AS (
        SELECT pos, MIN(val) AS vmin, MAX(val) AS vmax FROM ex GROUP BY 1
    ), coded AS (
        SELECT ex.pos, val, vmin, vmax,
               (vmax - vmin) / {float(SQ_LEVELS)} AS scale,
               CASE WHEN vmax > vmin
                    THEN LEAST({SQ_LEVELS}, GREATEST(0,
                         CAST(floor((val - vmin)
                                    / ((vmax - vmin) / {float(SQ_LEVELS)})
                                    + 0.5) AS INT)))
                    ELSE 0 END AS code
        FROM ex JOIN rng ON ex.pos = rng.pos
    ), errs AS (
        SELECT pos, vmin, vmax,
               val - (vmin + code * scale) AS err
        FROM coded
    )
    SELECT pos,
           {sql_stable_round("MIN(vmin)", 6)} AS vmin,
           {sql_stable_round("MAX(vmax)", 6)} AS vmax,
           COUNT(*) AS n_vals,
           {sql_stable_round(
               "CAST(SUM(CAST(err * err AS DECIMAL(38,18))) AS DOUBLE)"
               " / COUNT(*)", 6
           )} AS mse,
           {sql_stable_round("MAX(abs(err))", 6)} AS max_abs_err
    FROM errs
    GROUP BY pos
    ORDER BY pos
"""

# -- set-to-set kNN join ----------------------------------------------------

KNN_JOIN_K = 3
KNN_JOIN_MOD = 3  # left set = vec_id % 3 == 1, right set = the rest


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-to-set kNN JOIN: for EVERY vector in the left set, its top-{k}
    cosine neighbors in the right set — the dataset-linkage /
    batch-retrieval shape where BOTH sides are large (unlike
    knn_bruteforce's small broadcast query set).

    Scale shape: candidates come from the multi-table sign-LSH bucket
    join (left buckets ⋈ right buckets on (table, bucket) — a plain
    shuffle equi-join, both sides too big to broadcast), and
    `_exact_topk` runs with broadcast_queries=False so the left arrays
    flow through partitioned joins instead of a driver-sized broadcast.
    Cost ∝ bucket collisions + survivors, never |left| × |right|."""
    e = bounded_cache(
        "lsh.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    buckets = bounded_cache("lsh.buckets", _bucket_table(spark, e))
    is_left = F.col("vec_id") % KNN_JOIN_MOD == 1
    lb = buckets.filter(is_left).select(
        F.col("vec_id").alias("left_id"), "tbl", "bucket"
    )
    rb = buckets.filter(~is_left)
    cand = bounded_cache(
        "knn_join.cand",
        rb.join(lb, ["tbl", "bucket"])
        .select("left_id", F.col("vec_id").alias("right_id"))
        .distinct(),
    )
    left = e.filter(is_left).select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    right = e.filter(~is_left).select(
        F.col("vec_id").alias("right_id"), "embedding", "norm2"
    )
    return _exact_topk(
        cand,
        right,
        left,
        k=KNN_JOIN_K,
        part="left_id",
        idc="right_id",
        broadcast_queries=False,
        keep_cache_key="knn_join.kept",
    ).orderBy("left_id", "rnk")


knn_join.__doc__ = knn_join.__doc__.format(k=KNN_JOIN_K)

ORACLES["knn_join"] = f"""
    WITH {SQL_NORM2},
    {_sql_buckets()},
    cand AS (
        SELECT DISTINCT l.vec_id AS left_id, r.vec_id AS right_id
        FROM buckets l
        JOIN buckets r ON r.tbl = l.tbl AND r.bucket = l.bucket
        WHERE l.vec_id % {KNN_JOIN_MOD} = 1
          AND r.vec_id % {KNN_JOIN_MOD} <> 1
    ),
    dots AS (
        SELECT left_id, right_id,
               CAST(SUM(CAST(CAST(l.embedding[gs.i] AS DOUBLE)
                             * CAST(r.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM cand
        JOIN embeddings l ON l.vec_id = left_id
        JOIN embeddings r ON r.vec_id = right_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT left_id, right_id,
               {sql_stable_round('dot / sqrt(ln.norm2 * rn.norm2)', 6)}
                   AS cosine
        FROM dots
        JOIN norms ln ON ln.vec_id = left_id
        JOIN norms rn ON rn.vec_id = right_id
    )
    SELECT left_id, right_id, cosine, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                                       ORDER BY cosine DESC, right_id) AS rnk
          FROM scored)
    WHERE rnk <= {KNN_JOIN_K}
    ORDER BY left_id, rnk
"""

# -- distributed PCA (power iteration) --------------------------------------

PCA_ITERS = 3


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by {it} distributed
    power iterations — the PCA probe an embedding-quality pipeline runs
    (anisotropy check, whitening prep, outlier axis) without ever
    materializing the 64×64 covariance on the driver.

    Spark-first linear algebra: the centered matrix C lives as exploded
    (vec_id, pos, val-μ) rows, cached once; each iteration is
    s = C·w (join w on pos — 64 broadcast rows — groupBy vec_id) then
    u = Cᵀ·s (join s on vec_id, groupBy pos), with BOTH matvec sums in
    DECIMAL(38,18) so reduce order can't drift the hash; the norm is a
    broadcast 1-row aggregate. Two shuffles per iteration, driver sees
    nothing. w₀ = 1/√dim on every axis (deterministic, unit norm).

    Output: per-dimension mean and the (sign-deterministic) loading of
    the dominant component."""
    def build() -> DataFrame:
        e = fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8)
        ex = e.select(
            "vec_id", F.posexplode("embedding").alias("pos", "v")
        ).select("vec_id", "pos", F.col("v").cast("double").alias("val"))
        # tiny (64-row) but feeds three subtrees (centering, w0, the
        # final report join) — cache so the explode+agg runs once
        mu = bounded_cache(
            "pca.mu",
            ex.groupBy("pos").agg(
                (
                    F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("mu")
            ),
        )
        c = bounded_cache(
            "pca.centered",
            ex.join(F.broadcast(mu), "pos").select(
                "vec_id", "pos", (F.col("val") - F.col("mu")).alias("cv")
            ),
        )
        w = mu.select(
            "pos", (F.lit(1.0) / F.sqrt(F.lit(float(DIM)))).alias("w")
        )
        for _ in range(PCA_ITERS):
            s = (
                c.join(F.broadcast(w), "pos")
                .groupBy("vec_id")
                .agg(
                    F.sum((F.col("cv") * F.col("w")).cast("decimal(38,18)"))
                    .cast("double")
                    .alias("s")
                )
            )
            u = (
                c.join(s, "vec_id")
                .groupBy("pos")
                .agg(
                    F.sum((F.col("cv") * F.col("s")).cast("decimal(38,18)"))
                    .cast("double")
                    .alias("u")
                )
            )
            nrm = F.broadcast(
                u.agg(
                    F.sqrt(
                        F.sum((F.col("u") * F.col("u")).cast("decimal(38,18)"))
                        .cast("double")
                    ).alias("nrm")
                )
            )
            w = u.crossJoin(nrm).select(
                "pos", (F.col("u") / F.col("nrm")).alias("w")
            )
        return w.join(F.broadcast(mu), "pos").select("pos", "mu", "w")

    # iteratively derived -> lineage-truncated (same discipline as the
    # Lloyd-trained centroids/codebooks)
    w_mu = build().localCheckpoint()
    return (
        w_mu.select(
            "pos",
            stable_round("mu", 6).alias("dim_mean"),
            stable_round("w", 6).alias("loading"),
        )
        .orderBy("pos")
    )


embedding_pca_power.__doc__ = embedding_pca_power.__doc__.format(it=PCA_ITERS)


def _pca_oracle() -> str:
    """Unrolled power-iteration CTEs mirroring embedding_pca_power."""
    steps = []
    prev = "w0"
    for i in range(1, PCA_ITERS + 1):
        steps.append(f"""
    s{i} AS (
        SELECT vec_id,
               CAST(SUM(CAST(cv * w AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM c JOIN {prev} USING (pos) GROUP BY 1
    ),
    u{i} AS (
        SELECT pos,
               CAST(SUM(CAST(cv * s AS DECIMAL(38,18))) AS DOUBLE) AS u
        FROM c JOIN s{i} USING (vec_id) GROUP BY 1
    ),
    n{i} AS (
        SELECT sqrt(CAST(SUM(CAST(u * u AS DECIMAL(38,18))) AS DOUBLE))
                   AS nrm
        FROM u{i}
    ),
    w{i} AS (SELECT pos, u / nrm AS w FROM u{i}, n{i})""")
        prev = f"w{i}"
    joined = ",".join(steps)
    return f"""
    WITH ex AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS pos,
               CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    mu AS (
        SELECT pos,
               CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mu
        FROM ex GROUP BY 1
    ),
    c AS (
        SELECT vec_id, ex.pos, val - mu AS cv
        FROM ex JOIN mu ON ex.pos = mu.pos
    ),
    w0 AS (
        SELECT pos, CAST(1.0 AS DOUBLE) / sqrt(CAST({float(DIM)!r} AS DOUBLE))
                   AS w
        FROM mu
    ),{joined}
    SELECT pos, {sql_stable_round("mu", 6)} AS dim_mean,
           {sql_stable_round("w", 6)} AS loading
    FROM {prev} JOIN mu USING (pos)
    ORDER BY pos
    """


ORACLES["embedding_pca_power"] = _pca_oracle()

# -- embedding clustering ---------------------------------------------------


def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding near-dup graph: every
    vector in a cosine-≥τ pair (LSH-blocked, exact-rescored —
    :func:`embedding_dedup_lsh`) labeled with the smallest reachable
    vec_id. The semantic-cluster pass of an embedding dedup pipeline —
    same min-label propagation loop as the MinHash document clusters
    (`dedup.min_label_propagate`), over a different candidate graph.

    The fixpoint comes back checkpointed (lineage-flat), so
    downstream consumers read materialized labels."""
    from big_data_parallel_computing_hw2_spark.operators.dedup import (
        components_from_pairs,
    )

    labels = components_from_pairs(
        _embedding_pairs(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
        "embedding_clusters.edges",
    )
    return labels.select(
        F.col("doc_id").alias("vec_id"), F.col("label").alias("cluster_id")
    ).orderBy("vec_id")


ORACLES["embedding_clusters"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT vec_a, vec_b FROM ({_oracle_embedding_dedup_lsh()}) t
    ),
    edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS vec_id FROM edges),
    reach AS (
        SELECT vec_id, vec_id AS label FROM verts
        UNION
        SELECT e.dst AS vec_id, r.label
        FROM edges e JOIN reach r ON e.src = r.vec_id
    )
    SELECT vec_id, MIN(label) AS cluster_id
    FROM reach GROUP BY vec_id ORDER BY vec_id
"""


def embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the embedding near-dup components —
    the semantic-dedup report (how much of the embedding space
    collapses, in what clump sizes), mirroring dedup_cluster_stats on
    the cosine graph. Two tiny aggregates over the checkpointed labels."""
    labels = embedding_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_vecs", F.col("cluster_size") * F.col("n_clusters"))
        .orderBy("cluster_size")
    )


ORACLES["embedding_cluster_stats"] = f"""
    WITH base AS ({ORACLES["embedding_clusters"]}),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM base GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_vecs
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
"""

# -- MMR diversified top-k (round 4) ----------------------------------------

MMR_K = 5
MMR_LAMBDA = 0.7
MMR_CAND = 20


def embedding_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance reranking: for each query, greedily
    pick {k} of its exact top-{cand} candidates maximizing
    lambda*rel(q,d) - (1-lambda)*max_{{s in S}} sim(d,s) — the
    diversified-retrieval operator every RAG/search pipeline wants on
    top of kNN (Carbonell & Goldstein '98).

    Spark-first shape: candidate generation is the shared two-phase
    exact top-k (distributed, corpus-scale); the greedy selection is
    inherently sequential in k, so it runs as {k} UNROLLED tiny plan
    steps over the per-query candidate table (≤{cand} rows/query) and
    its pairwise-sim table (≤{cand}² rows/query) — each step one
    broadcast join + one groupBy-max + one top-1 window. Each step's
    pick is `localCheckpoint`ed: every step references the prior picks
    TWICE (anti-join + max-sim join), so lazy lineage would grow ~3×
    per step and the analyzed tree OOMs a default-1g driver at k=5;
    checkpointing makes each step's plan O(rel + pairs), and the
    final picks are checkpointed once more so the report reads one
    materialized table. No driver collect; at 100 TB the per-step
    tables stay (n_queries × {cand})-sized.

    All scores are decimal-rounded to 6 digits BEFORE comparisons, so
    the greedy argmax (tiebreak: smaller vec_id) is engine-exact; the
    oracle replays the same {k} steps as generated chained CTEs."""
    e = bounded_cache(
        "mmr.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    cand_ids = e.select(F.col("vec_id").alias("neighbor_id")).join(
        F.broadcast(q.select("query_id")),
        F.col("neighbor_id") != F.col("query_id"),
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "norm2")
    rel = bounded_cache(
        "mmr.rel",
        _exact_topk(cand_ids, corpus, q, k=MMR_CAND)
        .select("query_id", "neighbor_id", F.col("cosine").alias("rel")),
    )
    # pairwise sims among each query's candidates (≤ cand² per query,
    # decimal-exact like every cosine in this module)
    a = rel.select("query_id", F.col("neighbor_id").alias("a"))
    b = rel.select("query_id", F.col("neighbor_id").alias("b"))
    ea = corpus.select(
        F.col("neighbor_id").alias("a"),
        F.col("embedding").alias("e_a"),
        F.col("norm2").alias("n_a"),
    )
    eb = corpus.select(
        F.col("neighbor_id").alias("b"),
        F.col("embedding").alias("e_b"),
        F.col("norm2").alias("n_b"),
    )
    pairs = bounded_cache(
        "mmr.pairs",
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .join(ea, "a")
        .join(eb, "b")
        .select(
            "query_id",
            "a",
            "b",
            stable_round(
                _dot("e_a", "e_b") / F.sqrt(F.col("n_a") * F.col("n_b")), 6
            ).alias("sim"),
        ),
    )
    lam = F.lit(MMR_LAMBDA)
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("mmr_score"), F.asc("neighbor_id")
    )

    def _greedy() -> DataFrame:
        picks = (
            rel.withColumn("mmr_score", stable_round(lam * F.col("rel"), 6))
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "rel",
                "mmr_score",
                F.lit(1).alias("mmr_rank"),
            )
            .localCheckpoint()
        )
        for step in range(2, MMR_K + 1):
            remaining = (
                rel.join(
                    picks.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                    "left_anti",
                )
                .select(
                    F.col("query_id").alias("rq"),
                    F.col("neighbor_id").alias("rn_id"),
                    "rel",
                )
            )
            maxsim = (
                remaining.join(
                    pairs,
                    (pairs["query_id"] == F.col("rq"))
                    & (pairs["a"] == F.col("rn_id")),
                )
                .join(
                    picks.select(
                        F.col("query_id").alias("pq"),
                        F.col("neighbor_id").alias("pb"),
                    ),
                    (F.col("pq") == F.col("rq")) & (F.col("pb") == F.col("b")),
                )
                .groupBy("rq", "rn_id", "rel")
                .agg(F.max("sim").alias("maxsim"))
                .select(
                    F.col("rq").alias("query_id"),
                    F.col("rn_id").alias("neighbor_id"),
                    "rel",
                    "maxsim",
                )
            )
            pick_i = (
                maxsim.withColumn(
                    "mmr_score",
                    stable_round(
                        lam * F.col("rel")
                        - (1 - MMR_LAMBDA) * F.col("maxsim"),
                        6,
                    ),
                )
                .withColumn("_rn", F.row_number().over(w1))
                .filter(F.col("_rn") == 1)
                .select(
                    "query_id",
                    "neighbor_id",
                    "rel",
                    "mmr_score",
                    F.lit(step).alias("mmr_rank"),
                )
            )
            picks = picks.unionByName(pick_i.localCheckpoint())
        return picks

    picks = _greedy().localCheckpoint()
    return picks.select(
        "query_id",
        F.col("neighbor_id").alias("vec_id"),
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        F.col("rel").alias("relevance"),
        "mmr_score",
    ).orderBy("query_id", "mmr_rank")


embedding_mmr.__doc__ = embedding_mmr.__doc__.format(k=MMR_K, cand=MMR_CAND)


def _mmr_oracle() -> str:
    """Chained-CTE replay of the greedy MMR selection (same constants,
    same 6-digit-rounded comparisons, same vec_id tiebreak)."""
    lam = MMR_LAMBDA
    steps = []
    picked_all = "p1"
    for i in range(2, MMR_K + 1):
        prev = f"picked{i - 1}" if i > 2 else "p1"
        steps.append(f"""
    step{i} AS (
        SELECT c.query_id, c.neighbor_id, c.rel, MAX(ps.sim) AS maxsim
        FROM rel c
        JOIN pairsim ps ON ps.query_id = c.query_id
                       AND ps.a = c.neighbor_id
        JOIN {prev} pk ON pk.query_id = ps.query_id
                      AND pk.neighbor_id = ps.b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                          WHERE x.query_id = c.query_id
                            AND x.neighbor_id = c.neighbor_id)
        GROUP BY 1, 2, 3
    ),
    p{i} AS (
        SELECT query_id, neighbor_id, rel, mmr_score, {i} AS mmr_rank
        FROM (
            SELECT query_id, neighbor_id, rel,
                   {sql_stable_round(f'{lam!r} * rel - {1 - lam!r} * maxsim', 6)}
                       AS mmr_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY {sql_stable_round(f'{lam!r} * rel - {1 - lam!r} * maxsim', 6)}
                                DESC, neighbor_id
                   ) AS rn
            FROM step{i}
        ) WHERE rn = 1
    ),
    picked{i} AS (SELECT query_id, neighbor_id FROM {picked_all.replace('|', ' UNION ALL SELECT query_id, neighbor_id FROM ')}
                  UNION ALL SELECT query_id, neighbor_id FROM p{i})""")
        picked_all = f"picked{i}"
    chain = ",".join(steps)
    finals = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, rel, mmr_score, mmr_rank FROM p{i}"
        for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH {SQL_NORM2},
    {_SQL_DOT_PAIRS},
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    ),
    rel AS (
        SELECT query_id, neighbor_id, cosine AS rel
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {MMR_CAND}
    ),
    pairdots AS (
        SELECT ra.query_id, ra.neighbor_id AS a, rb.neighbor_id AS b,
               CAST(SUM(CAST(CAST(va.embedding[gs.i] AS DOUBLE)
                             * CAST(vb.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM rel ra
        JOIN rel rb ON ra.query_id = rb.query_id
                   AND ra.neighbor_id <> rb.neighbor_id
        JOIN embeddings va ON va.vec_id = ra.neighbor_id
        JOIN embeddings vb ON vb.vec_id = rb.neighbor_id,
             generate_series(1, {DIM}) AS gs(i)
        GROUP BY 1, 2, 3
    ),
    pairsim AS (
        SELECT pd.query_id, pd.a, pd.b,
               {sql_stable_round('pd.dot / sqrt(na.norm2 * nb.norm2)', 6)} AS sim
        FROM pairdots pd
        JOIN norms na ON na.vec_id = pd.a
        JOIN norms nb ON nb.vec_id = pd.b
    ),
    p1 AS (
        SELECT query_id, neighbor_id, rel, mmr_score, 1 AS mmr_rank
        FROM (
            SELECT query_id, neighbor_id, rel,
                   {sql_stable_round(f'{lam!r} * rel', 6)} AS mmr_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY {sql_stable_round(f'{lam!r} * rel', 6)} DESC,
                                neighbor_id
                   ) AS rn
            FROM rel
        ) WHERE rn = 1
    ),{chain}
    SELECT query_id, neighbor_id AS vec_id, CAST(mmr_rank AS INT) AS mmr_rank,
           rel AS relevance, mmr_score
    FROM ({finals})
    ORDER BY query_id, mmr_rank
    """


ORACLES["embedding_mmr"] = _mmr_oracle()


# -- ANN evaluation harness (round 3) ---------------------------------------

def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the LSH index against exact brute force, per
    query — the evaluation harness an ANN deployment runs before
    trusting an index at corpus scale, registered as a first-class
    query (the recall gates in pytest assert a floor; this emits the
    full per-query curve). Pure composition: both sides are the
    already-cached registered pipelines, so the report costs two
    skinny id-joins over their outputs — at 100 TB the expensive side
    is the brute-force baseline, which is exactly what an offline
    recall audit pays on a SAMPLED query set (QUERY_MOD keeps the
    query set a fixed fraction here).

    Emits (query_id, n_exact, n_hits, recall) ordered by query_id;
    the oracle recomputes both pipelines via their own registered
    SQL, so the recall values are value-hash-checked."""
    exact = knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_lsh(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_exact").cast("int").alias("n_exact"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            stable_round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


knn_recall_report.__doc__ = knn_recall_report.__doc__.format(k=TOP_K)

ORACLES["knn_recall_report"] = f"""
    WITH exact AS ({ORACLES["knn_bruteforce"]}),
    approx AS ({ORACLES["ann_lsh"]}),
    hits AS (
        SELECT e.query_id, COUNT(*) AS n_hits
        FROM exact e JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY 1
    ),
    per_q AS (
        SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1
    )
    SELECT p.query_id,
           CAST(p.n_exact AS INT) AS n_exact,
           CAST(COALESCE(h.n_hits, 0) AS INT) AS n_hits,
           {sql_stable_round(
               'CAST(COALESCE(h.n_hits, 0) AS DOUBLE)'
               ' / CAST(p.n_exact AS DOUBLE)', 6)} AS recall
    FROM per_q p LEFT JOIN hits h ON h.query_id = p.query_id
    ORDER BY p.query_id
"""


# -- cluster-quality silhouette (round 3) -----------------------------------

def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label simplified silhouette (centroid-based, the scalable
    variant every clustering-eval toolkit ships): for each vector,
    a = distance to its OWN label centroid, b = distance to the
    nearest OTHER centroid, s = (b-a)/max(a,b); reported per label as
    mean silhouette + the fraction of negative-s (closer to a foreign
    centroid = candidate mislabels) — the cluster-quality audit next
    to embedding_outliers' per-vector screen.

    Scale shape: centroids come from the shared per-(label, dim)
    aggregate, re-assembled into ONE array row per label and
    broadcast; each vector scores all |labels| centroids map-side via
    zip_with (no explode shuffle, no pair join) — cost n x |labels|
    x dim multiply-adds, the same O() as any nearest-centroid pass.
    Distances accumulate in DECIMAL(38,18) and s is rounded before
    the per-label mean, so the hash gate is exact."""
    cent = embedding_centroids(spark, sf_dir)
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "centroid"))),
            lambda x: x["centroid"],
        ).alias("carr")
    )
    e = fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8)
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "carr",
            lambda v, c: (
                (v.cast("double") - c) * (v.cast("double") - c)
            ).cast("decimal(38,18)"),
        ),
        F.lit(0).cast("decimal(38,18)"),
        lambda acc, x: (acc + x).cast("decimal(38,18)"),
    ).cast("double")
    scored = bounded_cache(
        "silhouette.scored",
        e.crossJoin(
            F.broadcast(cent_arr.withColumnRenamed("label", "clabel"))
        ).select(
            "vec_id",
            "label",
            "clabel",
            d2.alias("d2"),
        ),
    )
    own = scored.filter(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("d2").alias("a2")
    )
    other = (
        scored.filter(F.col("label") != F.col("clabel"))
        .groupBy("vec_id")
        .agg(F.min("d2").alias("b2"))
    )
    a = F.sqrt(F.col("a2"))
    b = F.sqrt(F.col("b2"))
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    per_vec = own.join(other, "vec_id").select(
        "vec_id", "label", stable_round(s, 6).alias("s")
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            stable_round(
                F.sum(dec(F.col("s"))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_silhouette"),
            stable_round(
                F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("frac_negative"),
        )
        .orderBy("label")
    )


ORACLES["embedding_silhouette"] = f"""
    WITH cent AS (
        SELECT label, i AS pos,
               {sql_davg("CAST(embedding[i] AS DOUBLE)", "centroid")}
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS u(i)
        GROUP BY 1, 2
    ),
    d AS (
        SELECT e.vec_id, e.label AS vlabel, c.label AS clabel,
               CAST(SUM(CAST(
                   (CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid)
                   * (CAST(e.embedding[c.pos] AS DOUBLE) - c.centroid)
                   AS DECIMAL(38,18))) AS DOUBLE) AS d2
        FROM embeddings e JOIN cent c ON TRUE
        GROUP BY 1, 2, 3
    ),
    own AS (SELECT vec_id, vlabel AS label, d2 AS a2 FROM d
            WHERE vlabel = clabel),
    other AS (SELECT vec_id, MIN(d2) AS b2 FROM d
              WHERE vlabel <> clabel GROUP BY 1),
    per_vec AS (
        SELECT o.vec_id, o.label,
               {sql_stable_round(
                   'CASE WHEN greatest(sqrt(a2), sqrt(b2)) = 0 THEN 0.0'
                   ' ELSE (sqrt(b2) - sqrt(a2))'
                   ' / greatest(sqrt(a2), sqrt(b2)) END', 6)} AS s
        FROM own o JOIN other t ON t.vec_id = o.vec_id
    )
    SELECT label, COUNT(*) AS n_vecs,
           {sql_stable_round(
               'CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS mean_silhouette,
           {sql_stable_round(
               'CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS frac_negative
    FROM per_vec
    GROUP BY label
    ORDER BY label
"""


# -- kNN label voting / auto-labeling audit (round 4) ------------------------

def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification audit: predict each held-out query vector's
    label by majority vote of its exact top-{k} cosine neighbors
    (ties break to the smaller label id), then report per-true-label
    query count, correct count, and accuracy — the weak-labeling /
    label-noise audit a curation pipeline runs before trusting
    embedding neighborhoods to propagate labels at scale.

    Pure composition: the vote rides on the CACHED knn_bruteforce
    top-k (shared slot with knn_reverse_topk / knn_recall_report), one
    broadcast label join, one vote window over ≤{k} rows per query,
    one tiny per-label agg. Nothing here rescans vectors."""
    knn = knn_bruteforce(spark, sf_dir)
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        knn.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("n_label")
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    truth = lab.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    correct = F.when(
        F.col("pred_label") == F.col("true_label"), 1
    ).otherwise(0)
    return (
        truth.join(pred, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            stable_round(
                F.sum(correct).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("true_label")
    )


embedding_knn_classify.__doc__ = embedding_knn_classify.__doc__.format(k=TOP_K)

ORACLES["embedding_knn_classify"] = f"""
    WITH {SQL_NORM2},
    {_SQL_DOT_PAIRS},
    scored AS (
        SELECT query_id, neighbor_id, {_COS} AS cosine
        FROM dots
        JOIN norms qn ON qn.vec_id = query_id
        JOIN norms vn ON vn.vec_id = neighbor_id
    ),
    topk AS (
        SELECT query_id, neighbor_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC,
                                                    neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {TOP_K}
    ),
    votes AS (
        SELECT t.query_id, e.label AS n_label, COUNT(*) AS n_votes
        FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT query_id, n_label AS pred_label
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY n_votes DESC,
                                                    n_label) AS rn
              FROM votes)
        WHERE rn = 1
    )
    SELECT q.label AS true_label, COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           {sql_stable_round(
               'CAST(SUM(CASE WHEN p.pred_label = q.label'
               ' THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS accuracy
    FROM embeddings q JOIN pred p ON p.query_id = q.vec_id
    WHERE q.vec_id % {QUERY_MOD} = 0
    GROUP BY q.label
    ORDER BY true_label
"""


# -- IVF index health audit (round 5) ---------------------------------------


def embedding_ivf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index HEALTH report: per trained cell, member count, corpus
    share, and the mean / worst member-to-centroid cosine — the audit
    an ANN operator reads before trusting the index (a fat or loose
    cell means probes scan too much or recall leaks; the ops-side
    companion of knn_recall_report's quality eval).

    Reads the SAME `_ivf_index` assignment + trained centroids as the
    probe paths; the per-cell report is one
    aggregate over the assignment joined with the broadcast centroid
    table, cosines through the shared decimal-stable recipe — cell
    count rows out, corpus-sized rows in, exactly once."""
    assigned, cents = _ivf_index(spark, sf_dir)
    total = F.broadcast(
        assigned.agg(F.count(F.lit(1)).alias("n_total"))
    )
    ccos = _ivf_centroid_cos()
    return (
        assigned.join(F.broadcast(cents), "centroid_id")
        .withColumn("_cos", ccos)
        .crossJoin(total)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vecs"),
            stable_round(
                F.count(F.lit(1)).cast("double")
                / F.first("n_total").cast("double"),
                6,
            ).alias("corpus_share"),
            davg(F.col("_cos"), "avg_cos"),
            F.min("_cos").alias("min_cos"),
        )
        .orderBy("centroid_id")
    )


ORACLES["embedding_ivf_stats"] = f"""
    WITH {_sql_ivf_chain()},
    cellcos AS (
        SELECT a.vec_id, a.centroid_id,
               {sql_stable_round(
                   'cd.dot / sqrt(vn.norm2 * cn.norm2)', 6)} AS c
        FROM assigned a
        JOIN cd{LLOYD_ITERS} cd ON cd.vec_id = a.vec_id
                               AND cd.centroid_id = a.centroid_id
        JOIN norms vn ON vn.vec_id = a.vec_id
        JOIN cn{LLOYD_ITERS} cn ON cn.centroid_id = a.centroid_id
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM assigned)
    SELECT centroid_id, CAST(COUNT(*) AS INT) AS n_vecs,
           {sql_stable_round(
               'CAST(COUNT(*) AS DOUBLE)'
               ' / CAST((SELECT n_total FROM tot) AS DOUBLE)', 6)}
               AS corpus_share,
           {sql_davg("c", "avg_cos")},
           MIN(c) AS min_cos
    FROM cellcos
    GROUP BY centroid_id
    ORDER BY centroid_id
"""


# -- corpus similarity-structure histogram (round 10) --------------------------

PAIR_SAMPLE_OFFSETS = (1, 17, 131)


def embedding_pair_sim_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity structure histogram over a DETERMINISTIC
    systematic pair sample: for each vector, its (id+1, id+17, id+131)
    partners — the corpus-geometry report (how separated is this
    embedding space? where should a dedup τ sit?) that an all-pairs
    scan could answer only at O(n²).

    The sample is three EQUI-joins on a computed id (explode of 3
    offsets → join), so the pair count is exactly 3n, shuffle is
    id-skinny + id-join, and the histogram is one 21-bucket aggregate;
    id-offset sampling is deterministic (oracle-replayable), unlike
    rand()-based sampling, and stratified across the id range. Cosines
    are the decimal-exact `_dot` (same scoring math as every other
    §2.5 operator)."""
    e = bounded_cache(
        "pairhist.e",
        fan_out(spark, load_table(spark, sf_dir, "embeddings"), 8).select(
            "vec_id", "embedding", _norm2("embedding").alias("norm2")
        ).filter(F.col("norm2") > 0),
    )
    offs = F.array(*[F.lit(o) for o in PAIR_SAMPLE_OFFSETS])
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm2").alias("na"),
        F.explode(offs).alias("off"),
    ).withColumn("vec_b", F.col("vec_a") + F.col("off"))
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm2").alias("nb"),
    )
    scored = (
        a.join(b, "vec_b")
        # a zero vector has no cosine (0/0: Spark NaN, DuckDB NULL) —
        # exclude such pairs on BOTH sides
        .filter(F.col("na") * F.col("nb") > 0)
        .withColumn(
            "cosine",
            stable_round(
                _dot("ea", "eb") / F.sqrt(F.col("na") * F.col("nb")), 6
            ),
        )
    )
    return (
        scored.withColumn(
            "bucket", F.floor(F.col("cosine") * 10).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            davg("cosine", "avg_cosine"),
            F.min("cosine").alias("min_cosine"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("bucket")
    )


ORACLES["embedding_pair_sim_hist"] = f"""
    WITH {SQL_NORM2},
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a
        JOIN (VALUES (1), (17), (131)) o(off)
          ON TRUE
        JOIN embeddings b ON b.vec_id = a.vec_id + o.off
    ),
    dots AS (
        SELECT p.vec_a, p.vec_b,
               CAST(SUM(CAST(CAST(a.embedding[gs.i] AS DOUBLE)
                             * CAST(b.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM pairs p
        JOIN embeddings a ON a.vec_id = p.vec_a
        JOIN embeddings b ON b.vec_id = p.vec_b,
             generate_series(1, 64) AS gs(i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT {sql_stable_round(
            "dot / sqrt(na.norm2 * nb.norm2)", 6)} AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = vec_a
        JOIN norms nb ON nb.vec_id = vec_b
        WHERE na.norm2 * nb.norm2 > 0
    )
    SELECT CAST(FLOOR(cosine * 10) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {sql_davg("cosine", "avg_cosine")},
           MIN(cosine) AS min_cosine,
           MAX(cosine) AS max_cosine
    FROM scored
    GROUP BY 1
    ORDER BY bucket
"""
