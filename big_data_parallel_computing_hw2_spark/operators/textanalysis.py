"""Text-analysis operators over `documents` (SURVEY.md §2.6):
token counting, quality scoring, language-ID, fingerprinting.

All scoring is built-in-function arithmetic (split/filter/aggregate —
JVM-side, codegen'd); no Python touches row data. Each operator ships
its DuckDB oracle generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions import hashing, text
from big_data_parallel_computing_hw2_spark.functions.aggs import (
    davg,
    sql_davg,
    sql_stable_round,
    stable_round,
)
from big_data_parallel_computing_hw2_spark.functions.cache import bounded_cache
from big_data_parallel_computing_hw2_spark.functions.distributed import (
    global_rank,
    running_sum,
)
from big_data_parallel_computing_hw2_spark.sources.tables import fan_out, load_table

ORACLES: dict[str, str] = {}

# -- token counting ---------------------------------------------------------

def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts (whitespace tokenization) + uniques."""
    d = load_table(spark, sf_dir, "documents")
    toks = text.tokens()
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.length("text").alias("len_chars"),
    ).orderBy("doc_id")


ORACLES["text_tokens"] = f"""
    SELECT doc_id,
           CAST(len({text.sql_tokens()}) AS INT) AS n_tokens,
           CAST(len(list_distinct({text.sql_tokens()})) AS INT)
               AS n_unique_tokens,
           CAST(length(text) AS INT) AS len_chars
    FROM documents
    ORDER BY doc_id
"""

# -- BPE-ish regex tokenization ---------------------------------------------

# GPT-2-style piece classes without lookaheads (identical semantics in
# Java regex and RE2): letter runs, digit runs, single other-non-space.
# Whitespace is the explicit cross-engine class from functions.text —
# never \s (Java and RE2 disagree on \x0b).
BPE_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{text.WS_CHARS}]"


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish piece counts per document: regex pieces (letter runs /
    digit runs / punctuation singles — the pre-merge segmentation a BPE
    tokenizer starts from), class breakdown, and chars-per-piece (the
    compression-ratio proxy used for tokenizer QA)."""
    d = load_table(spark, sf_dir, "documents")
    # Spark SQL string literals eat backslashes ('\s' -> 's'); DuckDB's
    # don't — escape for the Spark side only
    spark_pat = BPE_PATTERN.replace("\\", "\\\\")
    # coalesce NULL text like tokens(): Spark size(NULL array) = -1 vs
    # DuckDB len(NULL) = NULL — a latent cross-engine divergence
    pieces = F.expr(f"regexp_extract_all(coalesce(text, ''), '{spark_pat}', 0)")
    n_pieces = F.size("__pieces")
    n_alpha = F.expr("size(filter(__pieces, x -> x rlike '^[A-Za-z]+$'))")
    n_num = F.expr("size(filter(__pieces, x -> x rlike '^[0-9]+$'))")
    return (
        d.select("doc_id", F.length("text").alias("len_chars"), pieces.alias("__pieces"))
        .select(
            "doc_id",
            n_pieces.alias("n_pieces"),
            n_alpha.alias("n_alpha"),
            n_num.alias("n_num"),
            (n_pieces - n_alpha - n_num).alias("n_punct"),
            stable_round(
                F.col("len_chars") / F.when(n_pieces > 0, n_pieces), 6
            ).alias("chars_per_piece"),
        )
        .orderBy("doc_id")
    )


ORACLES["text_bpe_tokens"] = f"""
    WITH p AS (
        SELECT doc_id, length(text) AS len_chars,
               regexp_extract_all(COALESCE(text, ''), '{BPE_PATTERN}') AS pieces
        FROM documents
    )
    SELECT doc_id,
           CAST(len(pieces) AS INT) AS n_pieces,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]+$')))
                AS INT) AS n_alpha,
           CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$')))
                AS INT) AS n_num,
           CAST(len(pieces)
                - len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]+$')))
                - len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$')))
                AS INT) AS n_punct,
           {sql_stable_round('len_chars / CASE WHEN len(pieces) > 0 THEN len(pieces) END', 6)}
               AS chars_per_piece
    FROM p
    ORDER BY doc_id
"""

# -- quality scoring --------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def quality_cols() -> tuple[F.Column, F.Column, F.Column, F.Column]:
    """(n_tokens, avg_token_len, stopword_ratio, quality_score) — THE
    single definition of the quality formula; `text_quality` and
    `corpus_clean_pipeline` (and their oracles via the ``_SQL_Q*``
    constants) must never drift apart."""
    toks = text.tokens_expr()
    n_tokens = F.expr(f"size({toks})")
    sum_len = F.expr(f"aggregate({toks}, 0, (acc, x) -> acc + length(x))")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter({toks}, x -> x IN ({stop_list})))")
    avg_len = stable_round(sum_len / n_tokens, 6)
    stop_ratio = stable_round(n_stop / n_tokens, 6)
    score = stable_round(
        0.4 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1 - stop_ratio)
        + 0.3 * F.least(avg_len / F.lit(8.0), F.lit(1.0)),
        6,
    )
    return n_tokens, avg_len, stop_ratio, score


_SQL_Q_NTOK = "CAST(len(toks) AS INT)"
_SQL_Q_AVG_LEN = sql_stable_round(
    "list_sum(list_transform(toks, x -> length(x))) / len(toks)", 6
)
_SQL_Q_STOP_RATIO = sql_stable_round(
    f"len(list_filter(toks, x -> x IN {_STOP_SQL})) / len(toks)", 6
)
_SQL_Q_SCORE = sql_stable_round(
    "0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1 - stopword_ratio)"
    " + 0.3 * least(avg_token_len / 8.0, 1.0)",
    6,
)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document: token count, mean word
    length, stopword ratio → weighted score in [0,1]. The standard
    cheap pre-filter before expensive pipeline stages."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens, avg_len, stop_ratio, score = quality_cols()
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


ORACLES["text_quality"] = f"""
    WITH t AS (
        SELECT doc_id, {text.sql_tokens()} AS toks FROM documents
    ), m AS (
        SELECT doc_id,
               {_SQL_Q_NTOK} AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    )
    SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
           {_SQL_Q_SCORE} AS quality_score
    FROM m
    ORDER BY doc_id
"""

# -- repetition signals (Gopher-style) --------------------------------------


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition signals per document: duplicate-line
    fraction and top-bigram fraction — the classic removal filters for
    boilerplate/spam in LLM training corpora (Rae et al. 2021, §A1.1).

    dup_line_frac is per-row array arithmetic (no shuffle). The bigram
    mode goes through explode → (doc, bigram) count → per-doc max: two
    key-partitioned aggregations whose first has map-side partial
    combine — at 100 TB the (doc, bigram) space is wide but never
    all-pairs, and docs with <2 tokens skip the explode entirely.

    fan_out(8): the line-split/array-distinct arithmetic and the
    bigram explode+partial-count are map-side CPU, serialized by a
    few-split scan (measured 0.89 -> 0.59 s at sf0.1, interleaved A/B;
    no-op at scale via the guard)."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 8)
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    base = d.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        stable_round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.size(lines),
            6,
        ).alias("dup_line_frac"),
        text.tokens().alias("__toks"),
    )
    # guard size<2: Spark sequence(1, 0) is the DESCENDING [1, 0], not
    # empty — the shingle helpers dodge the same trap
    bigrams = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1))) "
        "ELSE array() END"
    )
    top = (
        base.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_cnt"),
            F.sum("c").alias("n_bigrams"),
        )
    )
    return (
        base.drop("__toks")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_frac",
            F.coalesce(F.col("n_bigrams"), F.lit(0))
            .cast("int")
            .alias("n_bigrams"),
            F.coalesce(
                stable_round(F.col("top_cnt") / F.col("n_bigrams"), 6),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


ORACLES["text_repetition"] = f"""
    WITH base AS (
        SELECT doc_id,
               string_split(COALESCE(text, ''), chr(10)) AS lines,
               {text.sql_tokens()} AS toks
        FROM documents
    ),
    lin AS (
        SELECT doc_id,
               len(lines) AS n_lines,
               {sql_stable_round(
                   "CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)"
                   " / len(lines)", 6)} AS dup_line_frac
        FROM base
    ),
    big AS (
        SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, greatest(len(toks) - 1, 0)))
                         AS i
              FROM base)
    ),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM big GROUP BY 1, 2),
    top AS (
        SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS n_bigrams
        FROM cnt GROUP BY 1
    )
    SELECT l.doc_id AS doc_id,
           CAST(n_lines AS INT) AS n_lines,
           dup_line_frac,
           CAST(COALESCE(n_bigrams, 0) AS INT) AS n_bigrams,
           COALESCE({sql_stable_round(
               "CAST(top_cnt AS DOUBLE) / n_bigrams", 6)}, 0.0)
               AS top_bigram_frac
    FROM lin l LEFT JOIN top USING (doc_id)
    ORDER BY doc_id
"""

# -- language ID ------------------------------------------------------------

# marker lexicons (fixed): the n-gram-heuristic structure of a real
# langid (score per language = marker hits, argmax wins) on the shared
# synthetic vocabulary
MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("join", "merge", "sort", "group"),
    "en": ("the", "a", "data", "fast", "slow"),
    "es": ("table", "row", "column", "value"),
    "fr": ("query", "filter", "scan", "window"),
    "zh": ("spark", "hash", "batch", "stream"),
}
_LANGS = sorted(MARKERS)  # deterministic argmax tiebreak order


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID (n-gram-heuristic shape): per-language
    marker-hit scores, argmax with fixed tiebreak; output = confusion
    matrix against the labeled `lang` column."""
    d = load_table(spark, sf_dir, "documents")
    toks = text.tokens_expr()
    scored = d.select(
        "lang",
        *[
            F.expr(
                f"size(filter({toks}, x -> x IN ("
                + ", ".join(f"'{w}'" for w in MARKERS[lang])
                + ")))"
            ).alias(f"s_{lang}")
            for lang in _LANGS
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _LANGS])
    pred = F.lit(None).cast("string")
    # first lang (in sorted order) reaching the max wins — build the CASE
    # from the last branch backwards
    for lang in reversed(_LANGS):
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    return (
        scored.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


def _sql_langid() -> str:
    score_cols = ",\n               ".join(
        f"len(list_filter(toks, x -> x IN ("
        + ", ".join(f"'{w}'" for w in MARKERS[lang])
        + f"))) AS s_{lang}"
        for lang in _LANGS
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in _LANGS
    ) + " END"
    return f"""
    WITH t AS (
        SELECT lang, {text.sql_tokens()} AS toks FROM documents
    ), scored AS (
        SELECT lang,
               {score_cols}
        FROM t
    )
    SELECT lang, {case} AS predicted, COUNT(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    ORDER BY lang, predicted
    """


ORACLES["text_langid"] = _sql_langid()

# -- sequence packing -------------------------------------------------------

PACK_BUDGET = 2048  # tokens per training sequence
# Packing parallelism: a per-language window alone caps the job at
# n_languages sorted scans (5 here — a 1000-executor cluster would
# idle). Sequences don't care about global order, so pack within
# deterministic (lang, doc_id % PACK_SHARDS) shards — the same move a
# real pipeline makes by packing per input file/block. Shard count is
# the knob you'd raise with cluster size.
PACK_SHARDS = 16


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: stream documents per (lang,
    shard) in doc_id order into {budget}-token training sequences (the
    concat-and-chunk packing every pretraining pipeline runs before
    batching). A document belongs to the sequence where its first token
    lands.

    Distribution: one window per (lang, shard) partition — cumulative
    sums never cross partitions, so at 100 TB this is a shuffle on the
    partition key and a single sorted pass per partition; parallelism
    = n_langs × PACK_SHARDS, not n_langs. Output is the per-sequence
    profile, small by construction.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = text.tokens()
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    per_doc = d.select(
        "lang",
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.size(toks).alias("n_tokens"),
    ).withColumn(
        "seq_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET
        ).cast("int"),
    )
    return (
        per_doc.groupBy("lang", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("int").alias("n_tokens"),
        )
        .orderBy("lang", "shard", "seq_id")
    )


corpus_pack.__doc__ = corpus_pack.__doc__.format(budget=PACK_BUDGET)

ORACLES["corpus_pack"] = f"""
    WITH t AS (
        SELECT lang, doc_id,
               CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
               CAST(len({text.sql_tokens()}) AS INT) AS n_tokens
        FROM documents
    ),
    seq AS (
        SELECT lang, shard, doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang, shard
                                               ORDER BY doc_id)
                           - n_tokens) / {PACK_BUDGET}) AS INT) AS seq_id
        FROM t
    )
    SELECT lang, shard, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS INT) AS n_tokens
    FROM seq GROUP BY 1, 2, 3
    ORDER BY lang, shard, seq_id
"""

# -- stratified sampling ----------------------------------------------------

# per-language keep rates ×100 (en is over-represented → 20%, rest 60%)
SAMPLE_RATES: dict[str, int] = {"en": 20}
SAMPLE_DEFAULT = 60


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: keep a document iff its portable
    hash mod 100 falls under its language's rate — the
    rebalance-the-corpus-mix step of a training pipeline. Hash-mod, not
    rand(): reproducible across retries, engines, and rounds, and
    extensible to consistent sampling across derived tables (same key →
    same decision). Output: per-lang kept counts + verification rate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hashing.base_hash(F.col("doc_id").cast("string")) % 100
    rate = F.lit(SAMPLE_DEFAULT)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    kept = d.withColumn("__b", bucket).filter(F.col("__b") < rate)
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(totals, "lang")
        .withColumn(
            "kept_ratio",
            stable_round(F.col("n_kept") / F.col("n_total"), 6),
        )
        .orderBy("lang")
    )


def _sql_sample() -> str:
    h = hashing.sql_base_hash("CAST(doc_id AS VARCHAR)")
    rate = f"{SAMPLE_DEFAULT}"
    for lang, r in SAMPLE_RATES.items():
        rate = f"CASE WHEN lang = '{lang}' THEN {r} ELSE {rate} END"
    return f"""
    WITH kept AS (
        SELECT lang FROM documents WHERE ({h} % 100) < {rate}
    ),
    k AS (SELECT lang, COUNT(*) AS n_kept FROM kept GROUP BY 1),
    t AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY 1)
    SELECT k.lang AS lang, n_kept, n_total,
           {sql_stable_round('n_kept / n_total', 6)} AS kept_ratio
    FROM k JOIN t ON k.lang = t.lang
    ORDER BY lang
    """


ORACLES["sample_stratified"] = _sql_sample()

# -- decontamination --------------------------------------------------------

DECONTAM_REF_SOURCE = "src0"  # held-out / benchmark subset
DECONTAM_TAU = 0.3


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word-3-gram
    shingles overlap a held-out reference subset (source={ref!r}) above
    τ={tau} — the standard guard against test-set leakage into training
    data.

    Shuffle profile: shingle explode → one equi-join on shingle against
    the (distinct) reference shingle set → per-doc hit count. The
    reference set is typically ≪ corpus (benchmarks are small), so at
    scale the join broadcasts; contamination is |hits| / |doc shingles|
    on distinct shingles.
    """
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    sh = text.shingled(d, id_cols=("doc_id", "source"))
    ref = (
        sh.filter(F.col("source") == DECONTAM_REF_SOURCE)
        .select("shingle")
        .distinct()
    )
    tgt = sh.filter(F.col("source") != DECONTAM_REF_SOURCE)
    sizes = tgt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        tgt.join(ref, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            stable_round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
        .filter(F.col("contamination") >= DECONTAM_TAU)
        .orderBy(F.desc("contamination"), F.asc("doc_id"))
    )


decontaminate.__doc__ = decontaminate.__doc__.format(
    ref=DECONTAM_REF_SOURCE, tau=DECONTAM_TAU
)

ORACLES["decontaminate"] = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source, {{concat}} AS shingle
        FROM (SELECT doc_id, source, toks,
                     unnest(generate_series(1, greatest(len(toks) - 2, 0)))
                         AS i
              FROM (SELECT doc_id, source, {text.sql_tokens()} AS toks
                    FROM documents))
    ),
    ref AS (SELECT DISTINCT shingle FROM sh
            WHERE source = '{DECONTAM_REF_SOURCE}'),
    tgt AS (SELECT * FROM sh WHERE source <> '{DECONTAM_REF_SOURCE}'),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tgt GROUP BY 1),
    hits AS (
        SELECT doc_id, COUNT(*) AS n_hits
        FROM tgt JOIN ref ON tgt.shingle = ref.shingle
        GROUP BY 1
    )
    SELECT sizes.doc_id AS doc_id, n_shingles,
           COALESCE(n_hits, 0) AS n_hits,
           {sql_stable_round('COALESCE(n_hits, 0) / n_shingles', 6)}
               AS contamination
    FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    WHERE {sql_stable_round('COALESCE(n_hits, 0) / n_shingles', 6)}
          >= {DECONTAM_TAU}
    ORDER BY contamination DESC, doc_id
""".format(concat=" || ' ' || ".join(f"toks[i + {j}]" for j in range(3)))


# -- per-source profile ------------------------------------------------------

def source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mix dashboard: per source, volume, exact-dup rate
    (normalized-text fingerprints), language spread, and size stats —
    the first report any data-curation pass produces.

    total_chars sums FLOOR(n_chars) AS BIGINT on both engines (round
    11): with the table-schema BIGINT column this is a no-op, but a
    REAL-typed n_chars (schema drift — e.g. a NULL-bearing float
    export) would otherwise sum to an engine-following type, and a
    bare double→bigint cast rounds on DuckDB while Spark truncates;
    FLOOR first pins both. The adversarial probe's drifted fixture
    exercises this."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            "lang",
            "n_chars",
            F.md5(text.normalized()).alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_texts"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.floor("n_chars").cast("bigint"))
            .cast("bigint")
            .alias("total_chars"),
            stable_round(
                F.sum(F.col("n_chars").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_chars"),
        )
        .orderBy("source")
    )


ORACLES["source_profile"] = f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5({text.sql_normalized()})) AS n_unique_texts,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(CAST(FLOOR(n_chars) AS BIGINT)) AS BIGINT)
               AS total_chars,
           {sql_stable_round('CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)', 4)}
               AS avg_chars
    FROM documents
    GROUP BY source
    ORDER BY source NULLS FIRST
"""

# -- corpus cleaning pipeline -----------------------------------------------

PIPELINE_MIN_QUALITY = 0.5


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end cleaning pass — the composition a training-data
    pipeline actually runs: quality-score filter → exact dedup (keep
    min doc_id per normalized fingerprint) → per-language corpus
    profile. One quality projection, one dedup shuffle, one stats
    shuffle; nothing is collected between stages — the whole pipeline
    is a single lazy plan Catalyst optimizes end to end."""
    d = load_table(spark, sf_dir, "documents")
    _, _, _, score = quality_cols()
    scored = d.select(
        "doc_id",
        "lang",
        F.md5(text.normalized()).alias("fingerprint"),
        score.alias("quality_score"),
    ).filter(F.col("quality_score") >= PIPELINE_MIN_QUALITY)
    kept = (
        scored.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),  # deterministic label pick
            F.count(F.lit(1)).alias("n_copies"),
            F.max("quality_score").alias("quality_score"),
        )
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum(F.col("n_copies") - 1).alias("n_dups_removed"),
            stable_round(
                F.sum(F.col("quality_score").cast("decimal(38,6)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


ORACLES["corpus_clean_pipeline"] = f"""
    WITH t AS (
        SELECT doc_id, lang, md5({text.sql_normalized()}) AS fingerprint,
               {text.sql_tokens()} AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, lang, fingerprint,
               {_SQL_Q_NTOK} AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    ), scored AS (
        SELECT doc_id, lang, fingerprint,
               {_SQL_Q_SCORE} AS quality_score
        FROM m
    ), filtered AS (
        SELECT * FROM scored WHERE quality_score >= {PIPELINE_MIN_QUALITY}
    ), kept AS (
        SELECT fingerprint,
               MIN(doc_id) AS doc_id,
               MIN(lang) AS lang,
               COUNT(*) AS n_copies,
               MAX(quality_score) AS quality_score
        FROM filtered
        GROUP BY fingerprint
    )
    SELECT lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed,
           {sql_stable_round('CAST(SUM(CAST(quality_score AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)', 6)}
               AS avg_quality
    FROM kept
    GROUP BY lang
    ORDER BY lang
"""

# -- TF-IDF -----------------------------------------------------------------

TFIDF_TOP_K = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} terms per document by tf·idf (tf = raw in-doc count,
    idf = ln(N/df)).

    Shuffle profile: one agg on (doc_id, term) for tf, one on term for
    df, the corpus size N as a broadcast 1-row aggregate (never a
    driver-side collect), then a window top-k per doc. The term-df join
    is an equi-join on term; hot terms (stopwords) are exactly the rows
    idf sends to ~0, so skew there doesn't survive the ranking.
    """
    from pyspark.sql import Window

    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    terms = d.select("doc_id", text.tokens().alias("__toks")).select(
        "doc_id", F.explode("__toks").alias("term")
    )
    # cached: tf feeds both the score join and the df aggregate —
    # uncached, Catalyst re-runs the explode+agg once per subtree
    tf = bounded_cache(
        "tfidf.tf",
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            stable_round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
        .orderBy("doc_id", "rnk")
    )


text_tfidf.__doc__ = text_tfidf.__doc__.format(k=TFIDF_TOP_K)

ORACLES["text_tfidf"] = f"""
    WITH terms AS (
        SELECT doc_id, u.term
        FROM (SELECT doc_id, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tf.term AS term, tf, df,
               {sql_stable_round('tf * ln(CAST(n_docs AS DOUBLE) / df)', 6)} AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= {TFIDF_TOP_K}
    ORDER BY doc_id, rnk
"""

# -- fingerprinting ---------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprints: md5 of normalized text + compact
    60-bit hash (join/dedup key material)."""
    d = load_table(spark, sf_dir, "documents")
    norm = text.normalized()
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        hashing.hash60(F.md5(norm)).alias("fp60"),
    ).orderBy("doc_id")


_norm_sql = text.sql_normalized()
ORACLES["text_fingerprint"] = f"""
    SELECT doc_id,
           md5({_norm_sql}) AS fingerprint,
           {hashing.sql_hash60(f"md5({_norm_sql})")} AS fp60
    FROM documents
    ORDER BY doc_id
"""

# -- vocabulary induction: top-k n-grams per language -----------------------

NGRAM_TOPK = 20


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams per language (vocabulary induction — the
    count pass a tokenizer trainer or domain-drift monitor runs).

    Spark-first: explode the per-doc bigram list (built with one
    `transform` over the token array — no self-zip, no UDF), hash-agg
    counts with map-side partial aggregation soaking up the explosion,
    then a per-language row_number window that Spark executes with the
    WindowGroupLimit top-k pushdown (only ~k rows per lang survive each
    partial sort). At 100 TB the count agg is the only heavy shuffle
    and it reduces to |vocab²ish| distinct keys; the window input is
    already tiny."""
    d = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into a projected column: higher-order fns are
    # interpreted, so an inline split inside the lambda re-tokenizes per
    # element_at — O(tokens²) per row (the 17×-measured trap documented
    # at functions/text.py shingles_from_tokens)
    base = fan_out(spark, d).select("lang", text.tokens().alias("__toks"))
    bigrams = base.select(
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(__toks) >= 2 THEN "
                "transform(sequence(0, size(__toks) - 2), "
                "i -> concat(element_at(__toks, i + 1), ' ', "
                "element_at(__toks, i + 2))) "
                "ELSE array() END"
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NGRAM_TOPK)
        .select("lang", "bigram", "cnt", F.col("rank").cast("int").alias("rank"))
        .orderBy("lang", "rank")
    )


ORACLES["text_ngram_topk"] = f"""
    WITH t AS (
        SELECT lang, {text.sql_tokens()} AS w FROM documents
    ), b AS (
        SELECT lang, w[i] || ' ' || w[i + 1] AS bigram
        FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 2
    ), c AS (
        SELECT lang, bigram, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY cnt DESC, bigram
        ) AS rn FROM c
    )
    SELECT lang, bigram, cnt, CAST(rn AS INT) AS rank
    FROM r WHERE rn <= {NGRAM_TOPK}
    ORDER BY lang, rank
"""

# -- token-length histogram -------------------------------------------------


def corpus_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram per language — the length
    profile a packing/truncation policy is tuned against.

    Bucketing is integer bit-length (`length(bin(n))` = ⌊log2 n⌋ + 1 on
    both engines), never float log2: engines disagree in the last ulp
    of log2 at exact powers of two, and a histogram boundary is exactly
    where that bites."""
    d = load_table(spark, sf_dir, "documents")
    toks = text.tokens()
    base = d.select("lang", F.size(toks).alias("n_tokens"))
    bucket = (
        F.when(F.col("n_tokens") <= 0, F.lit(0))
        .otherwise(F.length(F.expr("bin(n_tokens)")))
        .cast("int")
    )
    return (
        base.withColumn("len_bucket", bucket)
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # explicit BIGINT: DuckDB SUM(BIGINT) widens to HUGEINT
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "len_bucket")
    )


ORACLES["corpus_length_hist"] = f"""
    WITH t AS (
        SELECT lang, len({text.sql_tokens()}) AS n_tokens FROM documents
    )
    SELECT lang,
           CAST(CASE WHEN n_tokens <= 0 THEN 0
                ELSE length(bin(n_tokens)) END AS INT) AS len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM t
    GROUP BY 1, 2
    ORDER BY lang, len_bucket
"""

# -- PII / deny-list scrubbing ---------------------------------------------

# Conservative ASCII patterns, identical semantics in Java regex and
# RE2 (no \s, no \w, and — round-6 hypothesis catch — no \b either:
# JDK's \b is Unicode-aware while RE2's is ASCII-only, so '\bvalue\b'
# disagreed on 'évalue'; see functions.text for the class contract).
# Replacements use Java's $N backreference syntax; the SQL builder and
# tests translate $N -> \N for RE2.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "[IP]"),
    ("longnum", r"[0-9]{9,}", "[NUM]"),
    # deny-list token: stands in for a customer-specific term list; the
    # driver corpus has no real PII, so this keeps replacement counts
    # non-zero and the scrub path actually exercised end-to-end.
    # Boundary is an EXPLICIT ASCII class (RE2 has no lookarounds, so
    # the boundary char is captured and re-emitted); like any
    # consuming-boundary scrub, back-to-back occurrences need a second
    # pass — identically in both engines, so parity holds.
    (
        "denylist",
        r"(^|[^0-9A-Za-z_])value($|[^0-9A-Za-z_])",
        "$1[TERM]$2",
    ),
)


def _re2_repl(repl: str) -> str:
    """Translate a Java-syntax replacement ($N) to RE2/DuckDB (\\N)."""
    return repl.replace("$1", "\\1").replace("$2", "\\2")


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / deny-list redaction: per-document match counts per pattern
    class plus the md5 of the scrubbed text (the fingerprint proves the
    REPLACEMENT matched cross-engine, not just the counts). Pure
    regexp_extract_all/regexp_replace — JVM codegen, map-only, no
    shuffle at all until the presentation sort."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.coalesce(F.col("text"), F.lit(""))
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.expr(
                "regexp_extract_all(coalesce(text, ''), '"
                + pat.replace("\\", "\\\\") + "', 0)"
            )).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return d.select(
        "doc_id",
        *counts,
        F.md5(scrubbed).alias("scrub_md5"),
        F.length(scrubbed).alias("scrub_len"),
    ).orderBy("doc_id")


def _sql_pii() -> str:
    cols, expr = [], "COALESCE(text, '')"
    for name, pat, repl in PII_PATTERNS:
        cols.append(
            f"CAST(len(regexp_extract_all(COALESCE(text, ''), '{pat}')) AS INT)"
            f" AS n_{name}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '{_re2_repl(repl)}', 'g')"
    return f"""
    SELECT doc_id,
           {", ".join(cols)},
           md5({expr}) AS scrub_md5,
           CAST(length({expr}) AS INT) AS scrub_len
    FROM documents
    ORDER BY doc_id
    """


ORACLES["text_pii_scrub"] = _sql_pii()

# -- data-mixture rebalancing -----------------------------------------------


def corpus_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling rates to hit a UNIFORM target mixture — the
    data-mixing computation before a training run: over-represented
    sources get rate < 1 (downsample), the rest keep rate 1 (never
    upsample here; repetition policy is a separate knob).

    Plan: one groupBy(source) count + a broadcast 1-row total; all
    arithmetic is integer-count-derived IEEE doubles, identical in the
    oracle. The rates feed `sample_stratified`-style hash-mod
    filters, so the whole rebalance stays deterministic and
    collect-free at any scale."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    totals = counts.agg(
        F.sum("n_docs").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    raw_rate = F.least(
        F.lit(1.0),
        F.col("total").cast("double")
        / (F.col("n_sources").cast("double") * F.col("n_docs").cast("double")),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            stable_round(raw_rate, 6).alias("sample_rate"),
            F.floor(F.col("n_docs").cast("double") * raw_rate)
            .cast("long")
            .alias("n_target"),
        )
        .orderBy("source")
    )


ORACLES["corpus_mix_rebalance"] = f"""
    WITH c AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_sources
        FROM c
    )
    SELECT source, n_docs,
           {sql_stable_round(
               "least(1.0, total / (n_sources * CAST(n_docs AS DOUBLE)))", 6
           )} AS sample_rate,
           CAST(floor(CAST(n_docs AS DOUBLE)
                * least(1.0, total / (n_sources * CAST(n_docs AS DOUBLE))))
               AS BIGINT) AS n_target
    FROM c, t
    ORDER BY source NULLS FIRST
"""

# -- Zipf fit: vocabulary distribution health -------------------------------

ZIPF_TOP = 100


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf exponent: least-squares slope of ln(freq) vs
    ln(rank) over the top-{top} tokens — the vocabulary-distribution
    health check a tokenizer/corpus pipeline runs (natural text sits
    near slope −1; a collapsed or synthetic vocabulary drifts away).

    Spark-first: token explode → (lang, term) count → per-lang rank
    window (WindowGroupLimit pushdown caps it at {top} rows/lang) →
    the regression reduces to five decimal-exact SUMs in one groupBy
    pass (same algebraic decomposition as events_user_trend — no UDF,
    no second pass). ln() is used identically on both engines on
    identical doubles (proven by text_tfidf's idf parity)."""
    from pyspark.sql import Window

    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    terms = d.select("lang", F.explode(text.tokens()).alias("term"))
    freq = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("term"))
    top = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ZIPF_TOP)
        .select(
            "lang",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    sums = top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    sx, sy, sxy, sxx = (
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        "lang",
        F.col("n_terms").cast("int").alias("n_terms"),
        stable_round(slope, 6).alias("zipf_slope"),
        stable_round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    ).orderBy("lang")


text_zipf_fit.__doc__ = text_zipf_fit.__doc__.format(top=ZIPF_TOP)

ORACLES["text_zipf_fit"] = f"""
    WITH terms AS (
        SELECT lang, u.term
        FROM (SELECT lang, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
    ),
    freq AS (SELECT lang, term, COUNT(*) AS freq FROM terms GROUP BY 1, 2),
    top AS (
        SELECT lang,
               ln(CAST(rank AS DOUBLE)) AS x,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM (SELECT lang, freq,
                     ROW_NUMBER() OVER (PARTITION BY lang
                                        ORDER BY freq DESC, term) AS rank
              FROM freq)
        WHERE rank <= {ZIPF_TOP}
    ),
    sums AS (
        SELECT lang,
               COUNT(*) AS n_terms,
               SUM(CAST(x AS DECIMAL(38,12))) AS sx,
               SUM(CAST(y AS DECIMAL(38,12))) AS sy,
               SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
               SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
        FROM top GROUP BY 1
    )
    SELECT lang,
           CAST(n_terms AS INT) AS n_terms,
           {sql_stable_round(
               "(n_terms * CAST(sxy AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " / (n_terms * CAST(sxx AS DOUBLE)"
               " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6
           )} AS zipf_slope,
           {sql_stable_round(
               "(CAST(sy AS DOUBLE)"
               " - ((n_terms * CAST(sxy AS DOUBLE)"
               "     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               "    / (n_terms * CAST(sxx AS DOUBLE)"
               "       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
               "   * CAST(sx AS DOUBLE)) / n_terms", 6
           )} AS zipf_intercept
    FROM sums
    ORDER BY lang
"""

# -- keyword search: tf-idf scored retrieval --------------------------------

SEARCH_TERMS = ("spark", "vector", "merge", "window")
SEARCH_TOP_K = 20


def tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: score every document against a fixed query
    term set by summed tf·idf, return the top-{k} — the batch shape of
    a BM25-ish lexical search over the corpus.

    Spark-first: the per-(doc, term) tf aggregate is FILTERED to the
    query terms before any shuffle (predicate on the exploded stream —
    at 100 TB the shuffle carries only matching terms), df comes from
    the same skinny aggregate, corpus size N rides a broadcast 1-row
    aggregate, and the final top-k is one global window on the
    per-doc score aggregate."""
    from pyspark.sql import Window

    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    terms = d.select("doc_id", F.explode(text.tokens()).alias("term")).filter(
        F.col("term").isin(*SEARCH_TERMS)
    )
    # cached: tf feeds both the score join and the df aggregate
    tf = bounded_cache(
        "tfidf_search.tf",
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "contrib",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
        .groupBy("doc_id")
        .agg(
            stable_round(
                F.sum(F.col("contrib").cast("decimal(38,12)")).cast("double"),
                6,
            ).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("tf").alias("total_tf"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), NOT a global
    # row_number window — an unpartitioned window would drag every
    # scored doc into one partition; orderBy+limit reduces per
    # partition first. The rank window then runs on ≤ k rows.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        SEARCH_TOP_K
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            "doc_id", "score", "n_matched", "total_tf",
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("rnk")
    )


tfidf_search.__doc__ = tfidf_search.__doc__.format(k=SEARCH_TOP_K)

_SEARCH_SQL_TERMS = "(" + ", ".join(f"'{t}'" for t in SEARCH_TERMS) + ")"

ORACLES["tfidf_search"] = f"""
    WITH terms AS (
        SELECT doc_id, u.term
        FROM (SELECT doc_id, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
        WHERE u.term IN {_SEARCH_SQL_TERMS}
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id,
               {sql_stable_round(
                   "CAST(SUM(CAST(tf * ln(CAST(n_docs AS DOUBLE) / df)"
                   " AS DECIMAL(38,12))) AS DOUBLE)", 6
               )} AS score,
               COUNT(*) AS n_matched,
               CAST(SUM(tf) AS BIGINT) AS total_tf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        GROUP BY doc_id
    )
    SELECT doc_id, score, n_matched, total_tf, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= {SEARCH_TOP_K}
    ORDER BY rnk
"""

# -- importance sampling: quality-weighted keep decisions -------------------


def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted (importance) sampling: each document's keep
    probability scales with its quality score — keep_pct = 10 +
    floor(80 · score) ∈ [10, 90] — decided by the portable hash of its
    doc_id, so the sample is deterministic across engines, retries, and
    derived tables (same key → same decision; the upgrade path from
    `sample_stratified`'s per-language flat rates).

    Map-only per document (score + hash are projections); one groupBy
    per language aggregates kept counts and the decimal-stable mean
    quality of kept vs all docs — the uplift a quality-weighted sample
    is supposed to show."""
    d = load_table(spark, sf_dir, "documents")
    _, _, _, score = quality_cols()
    rate = (F.lit(10) + F.floor(F.lit(80) * score)).cast("bigint")
    bucket = hashing.base_hash(F.col("doc_id").cast("string")) % 100
    flagged = d.select(
        "lang",
        score.alias("q"),
        (bucket < rate).cast("int").alias("kept"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            stable_round(
                F.sum(F.col("q").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_q_all"),
            stable_round(
                F.sum(
                    F.when(F.col("kept") == 1, F.col("q"))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(38,12)")
                ).cast("double")
                / F.sum("kept"),
                6,
            ).alias("avg_q_kept"),
        )
        .orderBy("lang")
    )


def _sql_sample_importance() -> str:
    h = hashing.sql_base_hash("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH t AS (
        SELECT doc_id, lang, {text.sql_tokens()} AS toks FROM documents
    ), m AS (
        SELECT doc_id, lang,
               {_SQL_Q_NTOK} AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    ), q AS (
        SELECT doc_id, lang, {_SQL_Q_SCORE} AS q FROM m
    ), flagged AS (
        SELECT lang, q,
               CASE WHEN ({h} % 100)
                    < CAST(10 + floor(80 * q) AS BIGINT)
                    THEN 1 ELSE 0 END AS kept
        FROM q
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           {sql_stable_round(
               "CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)", 6
           )} AS avg_q_all,
           {sql_stable_round(
               "CAST(SUM(CAST(CASE WHEN kept = 1 THEN q ELSE 0.0 END"
               " AS DECIMAL(38,12))) AS DOUBLE) / SUM(kept)", 6
           )} AS avg_q_kept
    FROM flagged
    GROUP BY lang
    ORDER BY lang
"""


ORACLES["sample_importance"] = _sql_sample_importance()

# -- readability scoring ----------------------------------------------------

# Flesch reading-ease constants (public formula). Interpolated via
# repr() into BOTH dialects so the doubles are bit-identical.
FLESCH_BASE = 206.835
FLESCH_WORDS_PER_SENT = 1.015
FLESCH_SYLL_PER_WORD = 84.6
# vowel-group syllable heuristic: every maximal [aeiouy]+ run is one
# syllable, min 1 per word — deterministic, dictionary-free, and the
# standard cheap proxy when no CMUdict is available.
_SYLL_RE = "[aeiouy]+"
_WORD_RE = "[a-z]+"
_SENT_RE = "[.!?]+"


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease: sentence count (terminal-
    punctuation runs, min 1), word count (letter runs of the lowercased
    text), vowel-group syllable estimate (min 1/word), and the classic
    206.835 - 1.015·(words/sentence) - 84.6·(syllables/word) score —
    the readability gate a pretraining quality pipeline runs next to
    text_quality's length/stopword signals.

    Map-only (zero shuffles before the output sort): three
    regexp_extract_all projections + one higher-order sum over the
    word array (lambda indexes an attribute array — O(words) per doc).
    Pure integer counts → double divisions keep the score hash-stable
    cross-engine; NULL where a doc has no words."""
    d = load_table(spark, sf_dir, "documents")
    words = F.expr(
        f"regexp_extract_all(lower(coalesce(text, '')), '{_WORD_RE}', 0)"
    )
    syll = F.expr(
        "aggregate(transform(__words, w -> "
        f"greatest(1, size(regexp_extract_all(w, '{_SYLL_RE}', 0)))), "
        "0, (acc, x) -> acc + x)"
    )
    n_sent = F.greatest(
        F.lit(1),
        F.size(
            F.expr(
                f"regexp_extract_all(coalesce(text, ''), '{_SENT_RE}', 0)"
            )
        ),
    )
    scored = (
        d.select("doc_id", words.alias("__words"), n_sent.alias("n_sentences"))
        .select(
            "doc_id",
            "n_sentences",
            F.size("__words").alias("n_words"),
            syll.alias("n_syllables"),
        )
    )
    flesch = (
        F.lit(FLESCH_BASE)
        - F.lit(FLESCH_WORDS_PER_SENT)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(FLESCH_SYLL_PER_WORD)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    return scored.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(F.col("n_words") > 0, stable_round(flesch, 4)).alias("flesch"),
    ).orderBy("doc_id")


ORACLES["text_readability"] = f"""
    WITH counted AS (
        SELECT doc_id,
               GREATEST(1, len(regexp_extract_all(
                   COALESCE(text, ''), '{_SENT_RE}'))) AS n_sentences,
               CAST(len(regexp_extract_all(
                   lower(COALESCE(text, '')), '{_WORD_RE}')) AS INT)
                   AS n_words,
               CAST(COALESCE(list_sum(list_transform(
                   regexp_extract_all(lower(COALESCE(text, '')), '{_WORD_RE}'),
                   w -> GREATEST(1, len(regexp_extract_all(w, '{_SYLL_RE}')))
               )), 0) AS INT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, CAST(n_sentences AS INT) AS n_sentences, n_words,
           n_syllables,
           CASE WHEN n_words > 0 THEN {sql_stable_round(
               f"CAST({FLESCH_BASE!r} AS DOUBLE)"
               f" - CAST({FLESCH_WORDS_PER_SENT!r} AS DOUBLE)"
               " * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))"
               f" - CAST({FLESCH_SYLL_PER_WORD!r} AS DOUBLE)"
               " * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))",
               4,
           )} END AS flesch
    FROM counted
    ORDER BY doc_id
"""

# -- unigram LM scoring (round 4) -------------------------------------------

# mean-logprob outlier flag threshold, in corpus standard deviations
LM_Z = 2.0


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM score: mean ln p(token) under the
    corpus's own unigram distribution, plus a low-likelihood outlier
    flag (mean logprob more than {z} sigma below the corpus mean) — the
    cheap KenLM-style perplexity proxy a pretraining pipeline uses to
    spot boilerplate/garbage before paying for a real LM pass.

    Shuffle profile: one (token) count agg for the LM, the corpus total
    as a broadcast 1-row aggregate, one token->freq equi-join (the LM
    table is vocabulary-sized — AQE broadcasts it at any realistic
    vocab), one per-doc agg, and a final broadcast 1-row mean/stddev
    join for the flag. ln on identical doubles is cross-engine exact in
    practice (text_tfidf/text_zipf_fit parity); sums of log values are
    decimal-cast so accumulation order never shows."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    toks = d.select("doc_id", text.tokens().alias("__toks")).select(
        "doc_id", F.explode("__toks").alias("term")
    )
    toks = bounded_cache("lm.toks", toks)
    lm = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    total = toks.agg(F.count(F.lit(1)).alias("total_tokens"))
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    per_doc = (
        toks.join(lm, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "logp",
            F.log(F.col("freq").cast("double") / F.col("total_tokens").cast("double")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(dec(F.col("logp"))).alias("slp"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("slp").cast("double") / F.col("n_tokens").cast("double")).alias(
                "__alp"
            ),
        )
    )
    per_doc = bounded_cache("lm.per_doc", per_doc)
    stats = per_doc.agg(
        F.sum(dec(F.col("__alp"))).alias("s1"),
        F.sum(dec(F.col("__alp") * F.col("__alp"))).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        (F.col("s1").cast("double") / F.col("n").cast("double")).alias("__mu"),
        F.sqrt(
            F.col("s2").cast("double") / F.col("n").cast("double")
            - (F.col("s1").cast("double") / F.col("n").cast("double"))
            * (F.col("s1").cast("double") / F.col("n").cast("double"))
        ).alias("__sd"),
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "n_tokens",
            stable_round(F.col("__alp"), 6).alias("avg_logprob"),
            (F.col("__alp") < F.col("__mu") - F.lit(LM_Z) * F.col("__sd")).alias(
                "low_likelihood"
            ),
        )
        .orderBy("doc_id")
    )


text_unigram_logprob.__doc__ = text_unigram_logprob.__doc__.format(z=LM_Z)

ORACLES["text_unigram_logprob"] = f"""
    WITH toks AS (
        SELECT doc_id, u.term
        FROM (SELECT doc_id, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
    ),
    lm AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS total_tokens FROM toks),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
               CAST(SUM(CAST(ln(CAST(freq AS DOUBLE)
                                / CAST(total_tokens AS DOUBLE))
                             AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS alp
        FROM toks JOIN lm USING (term) CROSS JOIN tot
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mu,
               sqrt(CAST(SUM(CAST(alp * alp AS DECIMAL(38,12))) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)
                    - (CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE))
                      * (CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE))) AS sd
        FROM per_doc
    )
    SELECT doc_id, n_tokens,
           {sql_stable_round('alp', 6)} AS avg_logprob,
           alp < mu - {LM_Z!r} * sd AS low_likelihood
    FROM per_doc CROSS JOIN stats
    ORDER BY doc_id
"""

# -- model-scored quality filter (round 4) ----------------------------------

# Fixed logistic-regression weights (a stand-in for a trained fastText/
# LR quality classifier — the score surface and filtering semantics are
# what the pipeline exercises; swapping in trained weights is a config
# change). Log-odds output avoids cross-engine exp() entirely: the
# keep decision is logodds >= 0 <=> p >= 0.5.
QC_BIAS = -1.2
QC_W_LEN = 2.0  # * min(n_tokens/100, 1)
QC_W_STOP = -1.5  # * stopword_ratio
QC_W_WLEN = 1.8  # * min(avg_token_len/8, 1)


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep-rate report from a fixed-weight logistic quality
    classifier: logodds = b + w·(length, stopword, word-length)
    features (the same single-definition features as text_quality), keep
    iff logodds >= 0. Emits (source, n_docs, n_keep, keep_rate,
    avg_logodds) — the filter-QA table a corpus curation run reviews
    before committing a source mix.

    Map-only feature math + one groupBy(source); log-odds (not
    sigmoid) keeps every value rational-arithmetic so the hash gate
    needs no transcendental parity."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens, avg_len, stop_ratio, _ = quality_cols()
    logodds = stable_round(
        F.lit(QC_BIAS)
        + F.lit(QC_W_LEN) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(QC_W_STOP) * stop_ratio
        + F.lit(QC_W_WLEN) * F.least(avg_len / F.lit(8.0), F.lit(1.0)),
        6,
    )
    scored = d.select("source", logodds.alias("logodds"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.sum(F.when(F.col("logodds") >= 0, 1).otherwise(0))
            .cast("int")
            .alias("n_keep"),
            davg(F.col("logodds"), "avg_logodds"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            stable_round(
                F.col("n_keep").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("keep_rate"),
            "avg_logodds",
        )
        .orderBy("source")
    )


ORACLES["text_quality_classifier"] = f"""
    WITH t AS (
        SELECT source, {text.sql_tokens()} AS toks FROM documents
    ), m AS (
        SELECT source,
               {_SQL_Q_NTOK} AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    ), scored AS (
        SELECT source, {sql_stable_round(
            f"{QC_BIAS!r} + {QC_W_LEN!r} * least(n_tokens / 100.0, 1.0)"
            f" + {QC_W_STOP!r} * stopword_ratio"
            f" + {QC_W_WLEN!r} * least(avg_token_len / 8.0, 1.0)",
            6,
        )} AS logodds
        FROM m
    )
    SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
           CAST(SUM(CASE WHEN logodds >= 0 THEN 1 ELSE 0 END) AS INT)
               AS n_keep,
           {sql_stable_round(
               'SUM(CASE WHEN logodds >= 0 THEN 1 ELSE 0 END)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS keep_rate,
           {sql_davg('logodds', 'avg_logodds')}
    FROM scored
    GROUP BY source
    ORDER BY source
"""

# -- BPE merge-candidate statistics (round 4) -------------------------------

BPE_PAIR_TOP = 30


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} adjacent character-pair frequencies over the corpus
    vocabulary, weighted by word frequency — iteration zero of BPE
    tokenizer training (the highest-count pair is the first merge).
    Emits (pair, pair_count, n_words) where n_words is how many
    distinct vocabulary words contain the pair.

    Shape: token explode -> (word) count agg = the vocabulary (small:
    heaps-law sublinear in corpus size), then a per-word character-pair
    explode over the VOCAB (not the corpus — the freq weight carries
    the corpus mass), one (pair) agg, global top-{top}. This is why
    real BPE trainers scale: all merge math happens on the vocabulary
    table."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    vocab = (
        d.select(F.explode(text.tokens()).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.select(
        "word",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            # a word containing the pair twice ("banana" -> "an") is two
            # merge sites (sum both) but one vocabulary word (distinct)
            F.sum("freq").cast("bigint").alias("pair_count"),
            F.countDistinct("word").cast("int").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(BPE_PAIR_TOP)
    )


bpe_pair_stats.__doc__ = bpe_pair_stats.__doc__.format(top=BPE_PAIR_TOP)

ORACLES["bpe_pair_stats"] = f"""
    WITH vocab AS (
        SELECT u.word, COUNT(*) AS freq
        FROM (SELECT {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(word)
        WHERE length(u.word) >= 2
        GROUP BY u.word
    ),
    pairs AS (
        SELECT word, freq, p.pair
        FROM (
            SELECT word, freq,
                   list_transform(generate_series(1, length(word) - 1),
                                  i -> substring(word, i, 2)) AS ps
            FROM vocab
        ), UNNEST(ps) AS p(pair)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
           CAST(COUNT(DISTINCT word) AS INT) AS n_words
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT {BPE_PAIR_TOP}
"""

# -- BPE merge-loop training (round 5) --------------------------------------

BPE_MERGE_STEPS = 3
# boundary markers for the merge rewrite; safe because the trained
# vocabulary is restricted to ^[a-z]{2,}$ (see docstring)
_BPE_SEP_IN = "||"


def _bpe_syms_to_s(syms: F.Column | str) -> F.Column:
    """Symbol array -> boundary-marked string ``|s1||s2||...||sn|``.

    Every inter-symbol boundary is ``||`` and each edge is ``|``, so a
    merge of pair (a, b) is exactly ``replace(s, '|a||b|', '|ab|')``:
    the pattern is anchored on full symbols (no mid-symbol match — '|'
    cannot occur inside an alphabetic symbol) and, because replace()
    scans left-to-right non-overlapping in BOTH engines, consecutive
    sites merge greedily exactly like Sennrich '16 BPE ("aaaa" with
    pair (a,a) -> [aa, aa], "aaa" -> [aa, a])."""
    return F.concat(F.lit("|"), F.array_join(syms, _BPE_SEP_IN), F.lit("|"))


def _bpe_s_to_syms(s: F.Column | str) -> F.Column:
    col = F.col(s) if isinstance(s, str) else s
    return F.split(
        col.substr(F.lit(2), F.length(col) - 2), r"\|\|"
    )


def _bpe_apply_merge(df: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one BPE merge (a, b) -> ab to the ``syms`` column."""
    pat, rep = f"|{a}||{b}|", f"|{a}{b}|"
    s2 = F.replace(_bpe_syms_to_s(F.col("syms")), F.lit(pat), F.lit(rep))
    return df.withColumn("syms", _bpe_s_to_syms(s2))


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE training LOOP (Sennrich '16): {k} chained merge
    iterations over the corpus vocabulary — each step counts adjacent
    symbol-pair frequencies (weighted by word frequency), takes the
    deterministic argmax (count DESC, pair lexicographic ASC), and
    rewrites every word's symbol sequence with that merge before the
    next count. Completes the tokenizer-training story bpe_pair_stats
    (iteration zero) begins. Emits one row per step: the merged pair,
    its count at merge time, and how many distinct vocabulary words
    contained it.

    Vocabulary is normalized to ^[a-z]{{2,}}$ words — standard trainer
    preprocessing, and what makes the '|' boundary markers of the
    merge rewrite collision-free (see _bpe_syms_to_s). Scale shape:
    ONE corpus-sized token explode builds the cached vocab (heaps-law
    sublinear); every merge iteration is vocab-sized (a pair explode +
    aggregate + TakeOrdered top-1, never a full sort), which is why
    real BPE trainers scale. The per-step driver pull is ONE row (the
    argmax pair — same accepted class as sketch boundaries); its
    literals feed the next iteration's replace, exactly as the
    oracle's chained-CTE scalar subqueries replay it."""
    rows, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(rows, _BPE_STEP_SCHEMA)


_BPE_STEP_SCHEMA = (
    "step int, left_sym string, right_sym string, merged string,"
    " pair_count bigint, n_words int"
)


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame]:
    """Run the merge-training loop; returns (one tuple per merge step,
    the vocab frame with the FINAL merged ``syms``) — shared by
    bpe_train_merges (reports the steps) and bpe_compression (applies
    the final segmentation)."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    vocab = bounded_cache(
        "bpe.vocab",
        d.select(F.explode(text.tokens()).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,}$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms",
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1))"
            ),
        ),
    )
    cur = vocab
    out_rows: list[tuple] = []
    for step in range(1, BPE_MERGE_STEPS + 1):
        # guard size<2 BEFORE the explode: Spark sequence(1, 0) is the
        # DESCENDING [1, 0] (not empty like DuckDB generate_series), so a
        # word collapsed to a single symbol by an earlier merge would index
        # syms out of range — INVALID_ARRAY_INDEX under ANSI. A 1-symbol
        # word contributes no pairs, which is exactly what the filter says.
        top = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "word",
                "freq",
                F.expr(
                    "explode(transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i-1] AS a, syms[i] AS b)))"
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(
                F.sum("freq").cast("bigint").alias("cnt"),
                F.countDistinct("word").cast("int").alias("nw"),
            )
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        out_rows.append(
            (step, t["a"], t["b"], t["a"] + t["b"], t["cnt"], t["nw"])
        )
        cur = _bpe_apply_merge(cur, t["a"], t["b"])
    return out_rows, cur


bpe_train_merges.__doc__ = bpe_train_merges.__doc__.format(
    k=BPE_MERGE_STEPS
)


def _bpe_sql_chain() -> str:
    """WITH-body CTE chain replaying the {steps} merges: each level
    recomputes pair counts from the previous level's rewritten symbol
    strings and applies its own argmax via scalar subqueries. Ends at
    s{steps} (final symbol strings) with t1..t{steps} (the per-step
    argmax rows) in scope — shared by both BPE oracles."""
    steps = BPE_MERGE_STEPS
    parts = [
        f"""vocab AS (
        SELECT u.word, COUNT(*) AS freq
        FROM (SELECT {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(word)
        WHERE regexp_matches(u.word, '^[a-z]{{2,}}$')
        GROUP BY u.word
    ),
    s0 AS (
        SELECT word, freq,
               '|' || array_to_string(
                   list_transform(generate_series(1, length(word)),
                                  i -> substring(word, i, 1)), '||')
                   || '|' AS s
        FROM vocab
    )"""
    ]
    for k in range(1, steps + 1):
        prev = f"s{k - 1}"
        parts.append(
            f""",
    syms{k} AS (
        SELECT word, freq,
               string_split(substring(s, 2, length(s) - 2), '||') AS y
        FROM {prev}
    ),
    pc{k} AS (
        SELECT y[i] AS a, y[i + 1] AS b,
               SUM(freq) AS cnt, COUNT(DISTINCT word) AS nw
        FROM syms{k}, UNNEST(generate_series(1, len(y) - 1)) AS g(i)
        GROUP BY 1, 2
    ),
    t{k} AS (
        SELECT a, b, cnt, nw FROM pc{k}
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    s{k} AS (
        SELECT word, freq,
               replace(s,
                   '|' || (SELECT a FROM t{k}) || '||'
                       || (SELECT b FROM t{k}) || '|',
                   '|' || (SELECT a FROM t{k})
                       || (SELECT b FROM t{k}) || '|') AS s
        FROM {prev}
    )"""
        )
    return "".join(parts)


_bpe_sql_chain.__doc__ = _bpe_sql_chain.__doc__.format(
    steps=BPE_MERGE_STEPS
)

ORACLES["bpe_train_merges"] = (
    "WITH "
    + _bpe_sql_chain()
    + " UNION ALL ".join(
        f"""
    SELECT {k} AS step, a AS left_sym, b AS right_sym,
           a || b AS merged, CAST(cnt AS BIGINT) AS pair_count,
           CAST(nw AS INT) AS n_words
    FROM t{k}"""
        for k in range(1, BPE_MERGE_STEPS + 1)
    )
    + " ORDER BY step"
)


def bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the TRAINED {k}-merge BPE segmentation back to the corpus
    and report per-source compression — vocabulary size, corpus token
    mass, character mass, post-merge symbol mass, and chars-per-symbol
    — the number a tokenizer team reads to judge whether the merge
    table actually compresses each source (and the consumer of
    bpe_train_merges' output, closing the train→apply loop).

    Scale shape: merges are trained once on the GLOBAL vocab (the
    shared `_bpe_train` loop, whose final vocab is checkpointed), and
    application is a broadcast-sized join of the per-source vocabulary
    against the merged segmentation — all merge math stays on vocab
    tables, the corpus is touched only by the two token explodes."""
    final = _bpe_train(spark, sf_dir)[1].localCheckpoint()
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    vocab_src = (
        d.select("source", F.explode(text.tokens()).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,}$"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seg = final.select("word", F.size("syms").alias("n_syms"))
    return (
        vocab_src.join(seg, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vocab"),
            F.sum("freq").cast("bigint").alias("n_tokens"),
            F.sum(F.col("freq") * F.length("word"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum(F.col("freq") * F.col("n_syms"))
            .cast("bigint")
            .alias("n_syms"),
            stable_round(
                F.sum(F.col("freq") * F.length("word")).cast("double")
                / F.sum(F.col("freq") * F.col("n_syms")).cast("double"),
                6,
            ).alias("chars_per_sym"),
        )
        .orderBy("source")
    )


bpe_compression.__doc__ = bpe_compression.__doc__.format(
    k=BPE_MERGE_STEPS
)

ORACLES["bpe_compression"] = (
    "WITH "
    + _bpe_sql_chain()
    + f""",
    vocab_src AS (
        SELECT source, u.word, COUNT(*) AS freq
        FROM (SELECT source, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(word)
        WHERE regexp_matches(u.word, '^[a-z]{{2,}}$')
        GROUP BY source, u.word
    ),
    seg AS (
        SELECT word,
               len(string_split(substring(s, 2, length(s) - 2), '||'))
                   AS n_syms
        FROM s{BPE_MERGE_STEPS}
    )
    SELECT v.source AS source,
           CAST(COUNT(*) AS INT) AS n_vocab,
           CAST(SUM(v.freq) AS BIGINT) AS n_tokens,
           CAST(SUM(v.freq * length(v.word)) AS BIGINT) AS n_chars,
           CAST(SUM(v.freq * g.n_syms) AS BIGINT) AS n_syms,
           {sql_stable_round(
               'CAST(SUM(v.freq * length(v.word)) AS DOUBLE)'
               ' / CAST(SUM(v.freq * g.n_syms) AS DOUBLE)', 6)}
               AS chars_per_sym
    FROM vocab_src v JOIN seg g USING (word)
    GROUP BY v.source
    ORDER BY v.source
    """
)


# -- deterministic train/val/test split (round 4) ---------------------------

SPLIT_TRAIN_PCT = 80
SPLIT_VALID_PCT = 10  # test gets the remainder


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test split report: every
    doc lands in a split by md5(doc_id) % 100 ({tr}/{va}/{te}) —
    stable across runs, machines, and engine (the property that makes
    a split reproducible at 100 TB: no sampling state, no shuffle
    order dependence, membership recomputable from the key alone).
    Emits per-split document counts, corpus share, and char mass.

    Map-only bucket assignment + one groupBy(split)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hashing.base_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    per = d.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "split",
            "n_docs",
            stable_round(
                F.col("n_docs").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
            "total_chars",
        )
        .orderBy("split")
    )


corpus_split.__doc__ = corpus_split.__doc__.format(
    tr=SPLIT_TRAIN_PCT,
    va=SPLIT_VALID_PCT,
    te=100 - SPLIT_TRAIN_PCT - SPLIT_VALID_PCT,
)

ORACLES["corpus_split"] = f"""
    WITH assigned AS (
        SELECT CASE
                 WHEN {hashing.sql_base_hash('CAST(doc_id AS VARCHAR)')} % 100
                      < {SPLIT_TRAIN_PCT} THEN 'train'
                 WHEN {hashing.sql_base_hash('CAST(doc_id AS VARCHAR)')} % 100
                      < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
                 ELSE 'test'
               END AS split,
               n_chars
        FROM documents
    ),
    per AS (
        SELECT split, CAST(COUNT(*) AS INT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM assigned GROUP BY split
    )
    SELECT split, n_docs,
           {sql_stable_round(
               'n_docs / (SELECT CAST(SUM(n_docs) AS DOUBLE) FROM per)', 6)}
               AS share,
           total_chars
    FROM per
    ORDER BY split
"""


# -- tokenizer vocabulary coverage (round 3) --------------------------------

VOCAB_K = 500


def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV report against the corpus's own top-{k} token
    vocabulary — the tokenizer-QA table a pretraining run reviews
    before freezing a vocab: how much of each source's token mass (and
    how many of its distinct types) fall outside the would-be
    vocabulary.

    Scale shape: one token-count agg (map-side partials), a
    distributed top-{k} (orderBy+limit = TakeOrdered, never a
    single-partition window), then one broadcast LEFT join of the
    token stream against the {k}-row vocab and one per-source agg.
    Ties at the vocab boundary break on the token string, so the
    chosen vocabulary is engine-deterministic and the oracle rebuilds
    it exactly."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    toks = bounded_cache(
        "vocab.toks",
        d.select("source", text.tokens().alias("__t"))
        .select("source", F.explode("__t").alias("term"))
        .filter(F.col("term") != ""),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("term"))
        .limit(VOCAB_K)
        .select("term", F.lit(True).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.countDistinct("term").alias("n_types"),
            F.countDistinct(
                F.when(F.col("__in_vocab").isNull(), F.col("term"))
            ).alias("n_oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            stable_round(
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
            F.col("n_types").cast("int").alias("n_types"),
            F.col("n_oov_types").cast("int").alias("n_oov_types"),
            stable_round(
                (F.col("n_types") - F.col("n_oov_types")).cast("double")
                / F.col("n_types").cast("double"),
                6,
            ).alias("type_coverage"),
        )
        .orderBy("source")
    )


text_vocab_coverage.__doc__ = text_vocab_coverage.__doc__.format(k=VOCAB_K)

ORACLES["text_vocab_coverage"] = f"""
    WITH toks AS (
        SELECT source, u.term
        FROM (SELECT source, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
        WHERE u.term <> ''
    ),
    vocab AS (
        SELECT term FROM toks
        GROUP BY term
        ORDER BY COUNT(*) DESC, term
        LIMIT {VOCAB_K}
    ),
    flagged AS (
        SELECT t.source, t.term, v.term IS NOT NULL AS in_vocab
        FROM toks t LEFT JOIN vocab v ON v.term = t.term
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
               AS n_oov,
           {sql_stable_round(
               'CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS oov_rate,
           CAST(COUNT(DISTINCT term) AS INT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN in_vocab THEN NULL ELSE term END)
                AS INT) AS n_oov_types,
           {sql_stable_round(
               'CAST(COUNT(DISTINCT term)'
               ' - COUNT(DISTINCT CASE WHEN in_vocab THEN NULL ELSE term END)'
               ' AS DOUBLE) / CAST(COUNT(DISTINCT term) AS DOUBLE)', 6)}
               AS type_coverage
    FROM flagged
    GROUP BY source
    ORDER BY source
"""


# -- winnowing fingerprints (round 3) ---------------------------------------

WINNOW_K = 3  # tokens per gram
WINNOW_W = 4  # grams per window
_WINNOW_POS_MOD = 1_048_576  # 2^20: pack (hash, rightmost-pos) in one BIGINT


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    SIGMOD'03 — the MOSS algorithm): hash every positional {k}-token
    gram, slide a {w}-gram window, and keep each window's RIGHTMOST
    minimal hash — the guaranteed-coverage local fingerprint selection
    (any shared substring of length k+w-1 tokens yields a shared
    fingerprint) that samples ~2/(w+1) of grams instead of all of
    them. The published sampling alternative to full-shingle indexes:
    the dedup join runs on winnowed fingerprints only.

    Emits per doc: gram count, selected-fingerprint count, density,
    and how many OTHER docs share >= 1 winnowed fingerprint (the
    plagiarism-pair signal). Selection runs as one (hash, rightmost
    pos) pack → window MIN → distinct — two windows and one
    self-join on the (small) fingerprint table; the (h, pos) pack is
    integer math both engines replay exactly. Skew note: a
    boilerplate gram winnowed in m docs makes the partner join emit
    m² pairs — at corpus scale cap hot fingerprints by document
    frequency exactly like the shingle df-cap
    (operators/dedup.py SHINGLE_DF_CAP); kept exact at test SFs."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    toks = d.select(
        "doc_id", F.posexplode(text.tokens()).alias("pos", "term")
    ).filter(F.col("term") != "")
    wo = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("t1", F.lead("term", 1).over(wo))
        .withColumn("t2", F.lead("term", 2).over(wo))
        .filter(F.col("t2").isNotNull())
        .select(
            "doc_id",
            F.row_number().over(wo).alias("gpos"),
            hashing.base_hash(
                F.concat_ws(" ", "term", "t1", "t2")
            ).alias("h"),
        )
    )
    grams = bounded_cache("winnow.grams", grams)
    # greatest(0, ...) guards docs with more than _WINNOW_POS_MOD (~1M)
    # grams: beyond that the rightmost-position tiebreak SATURATES (ties
    # break by hash instead) rather than going negative and corrupting
    # both the min-order and the decoded fp_h — same caveat class as
    # SHINGLE_DF_CAP, identical expression in the DuckDB oracle.
    pack = F.col("h") * F.lit(_WINNOW_POS_MOD) + F.greatest(
        F.lit(0), F.lit(_WINNOW_POS_MOD - 1) - F.col("gpos")
    )
    wf = Window.partitionBy("doc_id").orderBy("gpos").rowsBetween(
        0, WINNOW_W - 1
    )
    fps = bounded_cache(
        "winnow.fps",
        grams.withColumn("__pack", pack)
        .withColumn("__wmin", F.min("__pack").over(wf))
        .withColumn("__wn", F.count(F.lit(1)).over(wf))
        .filter(F.col("__wn") == WINNOW_W)
        .select(
            "doc_id",
            (F.col("__wmin") / F.lit(_WINNOW_POS_MOD))
            .cast("bigint")
            .alias("fp_h"),
        )
        .distinct(),
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_fp = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fingerprints"))
    a, b = fps.alias("a"), fps.alias("b")
    partners = (
        a.join(
            b,
            (F.col("a.fp_h") == F.col("b.fp_h"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"), F.col("b.doc_id").alias("o"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
    )
    return (
        per_doc.join(n_fp, "doc_id", "left")
        .join(partners, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("int").alias("n_grams"),
            F.coalesce(F.col("n_fingerprints"), F.lit(0))
            .cast("int")
            .alias("n_fingerprints"),
            stable_round(
                F.coalesce(F.col("n_fingerprints"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("density"),
            F.coalesce(F.col("n_shared_docs"), F.lit(0))
            .cast("int")
            .alias("n_shared_docs"),
        )
        .orderBy("doc_id")
    )


text_winnowing.__doc__ = text_winnowing.__doc__.format(k=WINNOW_K, w=WINNOW_W)

ORACLES["text_winnowing"] = f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, t[i] AS term
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t))) AS i
              FROM (SELECT doc_id, {text.sql_tokens()} AS t
                    FROM documents))
        WHERE t[i] <> ''
    ),
    led AS (
        SELECT doc_id, pos, term,
               LEAD(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
               LEAD(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
        FROM toks
    ),
    grams AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS gpos,
               {hashing.sql_base_hash("term || ' ' || t1 || ' ' || t2")} AS h
        FROM led WHERE t2 IS NOT NULL
    ),
    packed AS (
        -- greatest(0, ...) mirrors the Spark guard: position tiebreak
        -- saturates past {_WINNOW_POS_MOD} grams instead of going
        -- negative (negative packs would also split // vs cast floor
        -- semantics between the engines)
        SELECT doc_id, gpos,
               h * {_WINNOW_POS_MOD}
                   + GREATEST(0, {_WINNOW_POS_MOD - 1} - gpos) AS pack
        FROM grams
    ),
    sel AS (
        SELECT doc_id,
               MIN(pack) OVER (PARTITION BY doc_id ORDER BY gpos
                               ROWS BETWEEN CURRENT ROW
                               AND {WINNOW_W - 1} FOLLOWING) AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id ORDER BY gpos
                              ROWS BETWEEN CURRENT ROW
                              AND {WINNOW_W - 1} FOLLOWING) AS wn
        FROM packed
    ),
    fps AS (
        SELECT DISTINCT doc_id,
               CAST(wmin // {_WINNOW_POS_MOD} AS BIGINT) AS fp_h
        FROM sel WHERE wn = {WINNOW_W}
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
    nfp AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
    partners AS (
        SELECT doc_id, COUNT(*) AS n_shared FROM (
            SELECT DISTINCT a.doc_id, b.doc_id AS o
            FROM fps a JOIN fps b
              ON a.fp_h = b.fp_h AND a.doc_id <> b.doc_id
        ) GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.n_grams AS INT) AS n_grams,
           CAST(COALESCE(f.n_fp, 0) AS INT) AS n_fingerprints,
           {sql_stable_round(
               'CAST(COALESCE(f.n_fp, 0) AS DOUBLE)'
               ' / CAST(p.n_grams AS DOUBLE)', 6)} AS density,
           CAST(COALESCE(s.n_shared, 0) AS INT) AS n_shared_docs
    FROM per_doc p
    LEFT JOIN nfp f ON f.doc_id = p.doc_id
    LEFT JOIN partners s ON s.doc_id = p.doc_id
    ORDER BY p.doc_id
"""


# -- quality-vs-duplication cross signal (round 3) ---------------------------

def corpus_quality_vs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile × duplication cross table: docs ranked into 10
    quality deciles by the shared logistic logodds score, each decile
    reporting its exact-duplicate rate — the curation insight that
    motivates quality-filter-then-dedup ordering (boilerplate scores
    low AND duplicates heavily; if dup_rate is flat across deciles the
    two filters are independent and order doesn't matter).

    One fingerprint agg + one map-side join-back for is_dup, then —
    round-4 scale fix — the decile comes from the exact two-phase rank
    (functions/distributed.global_rank) and the equal-mass split
    decile = (10·(rank−1)) div n + 1 instead of a single-partition
    NTILE over every per-doc scalar; the oracle replays the same
    arithmetic over a plain ROW_NUMBER, so the gate equates the
    two-phase and single-window formulations. Every input is a shared
    single definition (logodds = text_quality_classifier's,
    fingerprint = text_fingerprint's), so the cross table cannot
    drift from its parents."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens, avg_len, stop_ratio, _ = quality_cols()
    logodds = stable_round(
        F.lit(QC_BIAS)
        + F.lit(QC_W_LEN) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.lit(QC_W_STOP) * stop_ratio
        + F.lit(QC_W_WLEN) * F.least(avg_len / F.lit(8.0), F.lit(1.0)),
        6,
    )
    scored = d.select(
        "doc_id",
        F.md5(text.normalized()).alias("fp"),
        logodds.alias("logodds"),
    )
    groups = scored.groupBy("fp").agg(F.count(F.lit(1)).alias("fp_n"))
    joined = bounded_cache("qvd.joined", scored.join(groups, "fp"))
    n_df = F.broadcast(joined.agg(F.count(F.lit(1)).alias("_n")))
    return (
        global_rank(joined, ["logodds", "doc_id"], out="_pos")
        .crossJoin(n_df)
        .withColumn(
            "decile", F.expr("(10 * (_pos - 1)) div _n").cast("int") + 1
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
            stable_round(
                F.sum(F.when(F.col("fp_n") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
            davg(F.col("logodds"), "avg_logodds"),
        )
        .orderBy("decile")
    )


ORACLES["corpus_quality_vs_dup"] = f"""
    WITH t AS (
        SELECT doc_id, md5({text.sql_normalized()}) AS fp,
               {text.sql_tokens()} AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, fp,
               {_SQL_Q_NTOK} AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    ), scored AS (
        SELECT doc_id, fp, {sql_stable_round(
            f"{QC_BIAS!r} + {QC_W_LEN!r} * least(n_tokens / 100.0, 1.0)"
            f" + {QC_W_STOP!r} * stopword_ratio"
            f" + {QC_W_WLEN!r} * least(avg_token_len / 8.0, 1.0)",
            6,
        )} AS logodds
        FROM m
    ), groups AS (
        SELECT fp, COUNT(*) AS fp_n FROM scored GROUP BY 1
    ), ranked AS (
        -- equal-mass (10*(rank-1)) // n + 1 mirrors the Spark plan's
        -- two-phase global_rank arithmetic (non-negative operands:
        -- // == Spark's div)
        SELECT s.logodds, g.fp_n,
               CAST((10 * (ROW_NUMBER() OVER (
                   ORDER BY s.logodds NULLS FIRST, s.doc_id) - 1))
                   // (COUNT(*) OVER ()) AS INT) + 1 AS decile
        FROM scored s JOIN groups g USING (fp)
    )
    SELECT decile, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           {sql_stable_round(
               'CAST(SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS dup_rate,
           {sql_davg('logodds', 'avg_logodds')}
    FROM ranked
    GROUP BY decile
    ORDER BY decile
"""


# -- RAG-style overlapping chunking (round 4) --------------------------------

CHUNK_TOK = 40  # tokens per chunk
CHUNK_STRIDE = 32  # stride between chunk starts (overlap = 8)


def _chunk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chunk derivation for corpus_chunk / chunk_dedup_by_source:
    one overlapping {t}-token window every {s} tokens per document
    (the retrieval/packing chunker every RAG and context-window
    pipeline runs before embedding). In-row explode of a stride
    sequence + slice — no window function, no shuffle until the
    caller aggregates; empty-token docs are dropped (no chunkable
    content). chunk_fp is the 60-bit content hash of the chunk's
    joined tokens (same md5-derived hash60 both engines replay)."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", "source", text.tokens().alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .filter(F.col("n_tok") > 0)
    )
    return (
        base.withColumn(
            "st",
            F.explode(
                F.sequence(
                    F.lit(1), F.col("n_tok"), F.lit(CHUNK_STRIDE)
                )
            ),
        )
        .select(
            "doc_id",
            "source",
            F.expr(f"(st - 1) div {CHUNK_STRIDE}").cast("int").alias(
                "chunk_idx"
            ),
            F.col("st").cast("int").alias("start_tok"),
            F.least(
                F.lit(CHUNK_TOK), F.col("n_tok") - F.col("st") + 1
            )
            .cast("int")
            .alias("n_tokens"),
            hashing.hash60(
                F.concat_ws(
                    " ", F.slice("toks", F.col("st"), CHUNK_TOK)
                )
            ).alias("chunk_fp"),
        )
    )


_chunk_table.__doc__ = _chunk_table.__doc__.format(t=CHUNK_TOK, s=CHUNK_STRIDE)


def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk table itself: (doc_id, source, chunk_idx, start_tok,
    n_tokens, chunk_fp) — the materialization step a RAG indexer or
    sequence-packing pipeline feeds to the embedder. Map-only per doc
    (explode of a per-row stride sequence), so at 100 TB it scales
    with the scan; output is ~n_tokens/{s} rows per document."""
    return _chunk_table(spark, sf_dir).orderBy("doc_id", "chunk_idx")


corpus_chunk.__doc__ = corpus_chunk.__doc__.format(s=CHUNK_STRIDE)


def chunk_dedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity duplication by source: per source, total
    chunks, distinct chunk fingerprints, the dup rate, and how many
    fingerprints are shared with ANOTHER source — document-level
    dedup_rate_by_source re-run at the granularity retrieval indexes
    and packed training sequences actually dedupe at (boilerplate
    passages inside otherwise-unique docs surface here first).

    Skinny (source, chunk_fp) aggregates all the way — the chunk text
    never shuffles, only 60-bit fingerprints; same scale posture as
    the document-level dedup suite."""
    c = bounded_cache(
        "chunks.by_src",
        _chunk_table(spark, sf_dir)
        .groupBy("source", "chunk_fp")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    shared = (
        c.groupBy("chunk_fp")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .filter(F.col("n_sources") > 1)
        .select("chunk_fp")
    )
    cross = (
        c.join(shared, "chunk_fp")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_cross_source_fps"))
    )
    return (
        c.groupBy("source")
        .agg(
            F.sum("n").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_unique"),
            stable_round(
                F.lit(1.0)
                - F.count(F.lit(1)).cast("double")
                / F.sum("n").cast("double"),
                6,
            ).alias("dup_rate"),
        )
        .join(cross, "source", "left")
        .select(
            "source",
            "n_chunks",
            "n_unique",
            "dup_rate",
            F.coalesce(F.col("n_cross_source_fps"), F.lit(0))
            .cast("bigint")
            .alias("n_cross_source_fps"),
        )
        .orderBy("source")
    )


_SQL_CHUNKS = f"""
    WITH __t AS (
        SELECT doc_id, source, {{toks}} AS toks FROM documents
    ), __n AS (
        SELECT doc_id, source, toks, len(toks) AS n_tok
        FROM __t WHERE len(toks) > 0
    ), __chunks AS (
        SELECT doc_id, source,
               CAST((u.st - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(u.st AS INT) AS start_tok,
               CAST(LEAST({CHUNK_TOK}, n_tok - u.st + 1) AS INT)
                   AS n_tokens,
               {{fp}} AS chunk_fp
        FROM __n, UNNEST(generate_series(1, n_tok, {CHUNK_STRIDE}))
                  AS u(st)
    )
"""


def _sql_chunks() -> str:
    fp = hashing.sql_hash60(
        f"array_to_string(toks[CAST(u.st AS BIGINT):"
        f"CAST(u.st + {CHUNK_TOK} - 1 AS BIGINT)], ' ')"
    )
    return _SQL_CHUNKS.format(toks=text.sql_tokens(), fp=fp)


ORACLES["corpus_chunk"] = (
    _sql_chunks()
    + """
    SELECT doc_id, source, chunk_idx, start_tok, n_tokens, chunk_fp
    FROM __chunks
    ORDER BY doc_id, chunk_idx
"""
)

ORACLES["chunk_dedup_by_source"] = (
    _sql_chunks()
    + f"""
    , per AS (
        SELECT source, chunk_fp, COUNT(*) AS n
        FROM __chunks GROUP BY 1, 2
    ), shared AS (
        SELECT chunk_fp FROM per GROUP BY 1 HAVING COUNT(*) > 1
    ), cross_src AS (
        SELECT source, COUNT(*) AS n_cross_source_fps
        FROM per JOIN shared USING (chunk_fp)
        GROUP BY 1
    )
    SELECT p.source AS source,
           CAST(SUM(p.n) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_unique,
           {sql_stable_round(
               '1.0 - CAST(COUNT(*) AS DOUBLE)'
               ' / CAST(SUM(p.n) AS DOUBLE)', 6)} AS dup_rate,
           CAST(COALESCE(MAX(c.n_cross_source_fps), 0) AS BIGINT)
               AS n_cross_source_fps
    FROM per p
    LEFT JOIN cross_src c ON c.source = p.source
    GROUP BY p.source
    ORDER BY p.source
"""
)


# -- bigram LM scoring (round 4) --------------------------------------------

def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean ln P(w_i | w_{i-1}) under the corpus's own MLE
    bigram model — the word-ORDER-aware perplexity proxy beside
    text_unigram_logprob's bag-of-words score (shuffled or
    keyword-stuffed text keeps its unigram likelihood but craters
    here; the gap between the two is the classic fluency signal).
    Docs with fewer than two tokens have no bigrams and drop out.

    Shuffle profile: bigrams come from an IN-ROW arrays_zip of two
    slices (no window), the (prev, cur) and prev-context counts are
    two aggs of one exploded projection, scoring is one equi-join on
    the bigram key + one broadcast context join, and the outlier flag
    reuses the unigram z-score shape on broadcast corpus moments.
    MLE needs no smoothing: every scored bigram is in its own LM."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    bg = (
        d.select("doc_id", text.tokens().alias("t"))
        .select(
            "doc_id",
            F.expr("slice(t, 1, greatest(size(t) - 1, 0))").alias("a"),
            F.expr("slice(t, 2, greatest(size(t) - 1, 0))").alias("b"),
        )
        .select("doc_id", F.explode(F.arrays_zip("a", "b")).alias("bg"))
        .select(
            "doc_id",
            F.col("bg.a").alias("prev"),
            F.col("bg.b").alias("cur"),
        )
    )
    bg = bounded_cache("lm2.bg", bg)
    lm = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    pv = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("c1"))
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    per_doc = (
        bg.join(lm, ["prev", "cur"])
        .join(pv, "prev")
        .withColumn(
            "logp",
            F.log(F.col("c2").cast("double") / F.col("c1").cast("double")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(dec(F.col("logp"))).alias("slp"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("int").alias("n_bigrams"),
            (
                F.col("slp").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("__alp"),
        )
    )
    per_doc = bounded_cache("lm2.per_doc", per_doc)
    stats = per_doc.agg(
        F.sum(dec(F.col("__alp"))).alias("s1"),
        F.sum(dec(F.col("__alp") * F.col("__alp"))).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        (F.col("s1").cast("double") / F.col("n").cast("double")).alias(
            "__mu"
        ),
        F.sqrt(
            F.col("s2").cast("double") / F.col("n").cast("double")
            - (F.col("s1").cast("double") / F.col("n").cast("double"))
            * (F.col("s1").cast("double") / F.col("n").cast("double"))
        ).alias("__sd"),
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "n_bigrams",
            stable_round(F.col("__alp"), 6).alias("avg_logprob"),
            (
                F.col("__alp")
                < F.col("__mu") - F.lit(LM_Z) * F.col("__sd")
            ).alias("low_likelihood"),
        )
        .orderBy("doc_id")
    )


ORACLES["text_bigram_logprob"] = f"""
    WITH bg AS (
        SELECT doc_id, t[u.i] AS prev, t[u.i + 1] AS cur
        FROM (SELECT doc_id, {{toks}} AS t FROM documents),
             UNNEST(generate_series(1, len(t) - 1)) AS u(i)
    ),
    lm AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
    pv AS (SELECT prev, COUNT(*) AS c1 FROM bg GROUP BY 1),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
               CAST(SUM(CAST(ln(CAST(c2 AS DOUBLE)
                                / CAST(c1 AS DOUBLE))
                             AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS alp
        FROM bg JOIN lm USING (prev, cur) JOIN pv USING (prev)
        GROUP BY doc_id
    ),
    stats AS (
        SELECT CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mu,
               sqrt(CAST(SUM(CAST(alp * alp AS DECIMAL(38,12))) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)
                    - (CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE))
                      * (CAST(SUM(CAST(alp AS DECIMAL(38,12))) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE))) AS sd
        FROM per_doc
    )
    SELECT doc_id, n_bigrams,
           {sql_stable_round('alp', 6)} AS avg_logprob,
           alp < mu - {LM_Z!r} * sd AS low_likelihood
    FROM per_doc CROSS JOIN stats
    ORDER BY doc_id
""".format(toks=text.sql_tokens())


# -- chunk-fingerprint doc pairs (round 4) ----------------------------------

CHUNK_DF_CAP = 50  # drop chunk fps present in more than this many docs
CHUNK_PAIR_MIN = 2  # pairs must share at least this many chunk fps
CHUNK_PAIR_TOP = 50


def dedup_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-pair near-dup evidence at CHUNK granularity: pairs sharing
    ≥{m} distinct chunk fingerprints, with containment = shared /
    min(chunks_a, chunks_b) — the suffix-array-free industrial fuzzy
    dedup (shared fixed-stride chunks ≈ shared long passages), sitting
    between dedup_passage (n-gram windows) and dedup_minhash_lsh
    (whole-doc sketches) in granularity.

    Candidate generation is the same equi-join discipline as the rest
    of the dedup suite: per-doc DISTINCT fingerprint sets, a
    document-frequency cap ({cap}) dropping boilerplate chunks before
    the self-join (the m² pair guard, same caveat class as
    SHINGLE_DF_CAP), join on fp only. Top-{top} with a total-order
    tiebreak so the limit boundary is engine-stable."""
    fps = bounded_cache(
        "chunkpairs.fps",
        _chunk_table(spark, sf_dir)
        .select("doc_id", "chunk_fp")
        .distinct(),
    )
    rare = (
        fps.groupBy("chunk_fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CHUNK_DF_CAP)
        .select("chunk_fp")
    )
    kept = bounded_cache("chunkpairs.kept", fps.join(rare, "chunk_fp"))
    sizes = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.chunk_fp") == F.col("b.chunk_fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= CHUNK_PAIR_MIN)
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_chunks").alias("_na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_chunks").alias("_nb")
    )
    return (
        shared.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_chunks").cast("int").alias("n_shared_chunks"),
            stable_round(
                F.col("n_shared_chunks").cast("double")
                / F.least("_na", "_nb").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy(F.desc("n_shared_chunks"), "doc_a", "doc_b")
        .limit(CHUNK_PAIR_TOP)
    )


dedup_chunk_pairs.__doc__ = dedup_chunk_pairs.__doc__.format(
    m=CHUNK_PAIR_MIN, cap=CHUNK_DF_CAP, top=CHUNK_PAIR_TOP
)

ORACLES["dedup_chunk_pairs"] = (
    _sql_chunks()
    + f"""
    , fps AS (
        SELECT DISTINCT doc_id, chunk_fp FROM __chunks
    ), rare AS (
        SELECT chunk_fp FROM fps
        GROUP BY 1 HAVING COUNT(*) <= {CHUNK_DF_CAP}
    ), kept AS (
        SELECT f.doc_id, f.chunk_fp FROM fps f JOIN rare USING (chunk_fp)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_chunks FROM kept GROUP BY 1
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_shared_chunks
        FROM kept a
        JOIN kept b ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {CHUNK_PAIR_MIN}
    )
    SELECT doc_a, doc_b,
           CAST(n_shared_chunks AS INT) AS n_shared_chunks,
           {sql_stable_round(
               'CAST(n_shared_chunks AS DOUBLE)'
               ' / CAST(LEAST(sa.n_chunks, sb.n_chunks) AS DOUBLE)',
               6)} AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY n_shared_chunks DESC, doc_a, doc_b
    LIMIT {CHUNK_PAIR_TOP}
"""
)


# -- RAKE keyphrase extraction (round 4) ------------------------------------

RAKE_TOP = 20


def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ length of phrases containing it,
    frequency = its occurrence count inside phrases); a phrase scores
    the sum of its words' scores. Top-{top} corpus phrases with
    occurrence counts — the classic unsupervised keyword miner, here
    as the vocabulary-induction step beside text_ngram_topk.

    Spark-first: ONE posexplode of the token array; phrase ids are a
    per-doc cumulative count of stopword breaks (window bounded by doc
    length, partitioned by doc — never corpus-wide); phrase text
    reassembles order-stably via sort_array(collect_list(struct)); the
    word-score table is vocabulary-sized and broadcastable; every sum
    is decimal-cast so the hash is accumulation-order-free."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    toks = d.select(
        "doc_id", F.posexplode(text.tokens()).alias("pos", "term")
    )
    is_break = F.col("term").isin(*STOPWORDS) | (F.col("term") == "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = (
        toks.withColumn("_brk", is_break.cast("int"))
        .withColumn("_seg", F.sum("_brk").over(w))
        .filter(F.col("_brk") == 0)
        .select("doc_id", "_seg", "pos", "term")
    )
    seg = bounded_cache("rake.seg", seg)
    phrases = bounded_cache(
        "rake.phrases",
        seg.groupBy("doc_id", "_seg").agg(
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list("
                    "struct(pos, term))), x -> x.term)"
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        ),
    )
    word_stats = (
        seg.join(phrases.select("doc_id", "_seg", "plen"), ["doc_id", "_seg"])
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .select(
            "term",
            (
                F.col("degree").cast("double")
                / F.col("freq").cast("double")
            ).alias("wscore"),
        )
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    phrase_scores = (
        seg.join(F.broadcast(word_stats), "term")
        .groupBy("doc_id", "_seg")
        .agg(F.sum(dec(F.col("wscore"))).alias("_ps"))
        .join(phrases, ["doc_id", "_seg"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("plen").cast("int").alias("n_words"),
            stable_round(F.max(F.col("_ps").cast("double")), 6).alias(
                "score"
            ),
        )
    )
    return phrase_scores.orderBy(
        F.desc("score"), "phrase"
    ).limit(RAKE_TOP)


text_keyphrase_rake.__doc__ = text_keyphrase_rake.__doc__.format(
    top=RAKE_TOP
)

ORACLES["text_keyphrase_rake"] = f"""
    WITH toks AS (
        SELECT doc_id, u.i AS pos, t[u.i] AS term
        FROM (SELECT doc_id, {text.sql_tokens()} AS t FROM documents),
             UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    seg0 AS (
        SELECT doc_id, pos, term,
               CASE WHEN term IN {_STOP_SQL} OR term = ''
                    THEN 1 ELSE 0 END AS brk
        FROM toks
    ),
    seg AS (
        -- window BEFORE the stopword filter, mirroring the Spark plan
        SELECT doc_id, pos, term,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s
        FROM seg0
    ),
    words AS (
        SELECT doc_id, s, pos, term FROM seg
        WHERE NOT (term IN {_STOP_SQL} OR term = '')
    ),
    phrases AS (
        SELECT doc_id, s,
               string_agg(term, ' ' ORDER BY pos) AS phrase,
               COUNT(*) AS plen
        FROM words GROUP BY 1, 2
    ),
    word_stats AS (
        SELECT term,
               CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS wscore
        FROM words JOIN phrases USING (doc_id, s)
        GROUP BY term
    ),
    pscore AS (
        SELECT w.doc_id, w.s,
               CAST(SUM(CAST(ws.wscore AS DECIMAL(38,12))) AS DOUBLE)
                   AS ps
        FROM words w JOIN word_stats ws USING (term)
        GROUP BY 1, 2
    )
    SELECT p.phrase,
           COUNT(*) AS n_occurrences,
           CAST(MAX(p.plen) AS INT) AS n_words,
           {sql_stable_round('MAX(ps)', 6)} AS score
    FROM pscore sc
    JOIN phrases p ON p.doc_id = sc.doc_id AND p.s = sc.s
    GROUP BY p.phrase
    ORDER BY score DESC, phrase
    LIMIT {RAKE_TOP}
"""


# -- weighted sampling (round 5) --------------------------------------------

WEIGHTED_TOP = 20


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis '06):
    each document draws a deterministic uniform u from its portable
    60-bit hash and is ranked by the exponential key -ln(u)/w with
    w = n_chars — the top-j per source is then an exact w-weighted
    WOR sample. Hash-derived, not rand(): the sample is reproducible
    across engines, retries, and rounds (same property
    sample_stratified relies on), which is what makes a training-mix
    sample auditable.

    Shape: one scan computes the key, then the two-phase global_rank
    (per-bucket windows + broadcast offsets) takes the per-source
    top-j — no whole-source window, so a 100 TB source is ranked by
    its ~j/source survivors per range bucket, not one reducer. The key
    is rounded at 12 digits (absolute guard far above any cross-engine
    ln ulp wobble) with doc_id as the total-order tiebreak."""
    d = load_table(spark, sf_dir, "documents")
    h = hashing.hash60(F.col("doc_id").cast("string"))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    scored = d.select(
        "source",
        "doc_id",
        "n_chars",
        stable_round(-F.log(u) / w, 12).alias("es_key"),
    )
    ranked = global_rank(
        scored, ["es_key", "doc_id"], ["source"], out="rnk"
    )
    return (
        ranked.where(F.col("rnk") <= WEIGHTED_TOP)
        .select("source", "rnk", "doc_id", "n_chars", "es_key")
        .orderBy("source", "rnk")
    )


ORACLES["sample_weighted"] = f"""
    WITH scored AS (
        SELECT source, doc_id, n_chars,
               {sql_stable_round(
                   "-ln((" + hashing.sql_hash60("CAST(doc_id AS VARCHAR)")
                   + " + 1) / 1152921504606846976.0)"
                   " / GREATEST(n_chars, 1)", 12)} AS es_key
        FROM documents
    ),
    ranked AS (
        SELECT source, doc_id, n_chars, es_key,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY es_key, doc_id) AS rn
        FROM scored
    )
    SELECT source, CAST(rn AS BIGINT) AS rnk, doc_id, n_chars, es_key
    FROM ranked WHERE rn <= {WEIGHTED_TOP}
    ORDER BY source, rnk
"""


# -- per-source distribution drift (round 5) --------------------------------

KL_VOCAB = 200


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution drift: KL(P_source || Q_corpus)
    over the corpus's top-{v} vocabulary with add-one smoothing — the
    "which slice of the mix is linguistically unlike the rest" monitor
    a pretraining pipeline runs per ingest batch (the distributional
    sibling of source_profile's surface stats).

    Shape (round-11 plan diet): ONE token explode into ONE data-scale
    aggregate — per-(source, term) counts — and everything downstream
    derives from that vocab-scale table: corpus counts are the
    per-source counts re-summed over sources (identical integers, one
    tiny exchange instead of a second pass over the tokens), the
    global top-{v} is an exact TakeOrdered (per-partition top-N merge
    — no full-vocab single-reducer window, and no sketch-pass collect
    the previous global_rank formulation paid), and the per-source
    counts restricted to that vocab broadcast into the grid. The KL
    sum runs over a sources x {v} grid — constant-size, with
    zero-count cells kept so smoothing is exact. Each term's
    contribution is rounded at 12 then decimal-summed:
    accumulation-order-free, ln-on-identical-doubles cross-engine
    exact (text_unigram_logprob precedent). Previous shape: 31
    exchanges, document-scale token cache read 3x; this shape: one
    data-scale exchange, the cache holds (source, term) counts only.
    Oracle unchanged — the rewrite selects the same vocabulary
    (cnt DESC, term tiebreak) and the same integer counts, so every
    downstream double is bit-identical (verified at sf0.001/sf0.01)."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    toks = d.select(
        "source", F.explode(text.tokens()).alias("term")
    ).where(F.col("term") != "")
    src_all = bounded_cache(
        "kl.srcterm",
        toks.groupBy("source", "term").agg(
            F.count(F.lit(1)).alias("scnt")
        ),
    )
    corpus = src_all.groupBy("term").agg(F.sum("scnt").alias("cnt"))
    vocab = bounded_cache(
        "kl.vocab",
        corpus.orderBy(F.col("cnt").desc(), "term")
        .limit(KL_VOCAB)
        .select("term", "cnt"),
    )
    # smooth by the REALIZED vocab size (min(top-N, distinct terms)) so
    # P and Q are proper distributions over exactly the grid support —
    # a constant N would denormalize both on a small-vocab corpus and
    # break KL's nonnegativity
    ctot = vocab.agg(
        F.sum("cnt").cast("bigint").alias("ctot"),
        F.count(F.lit(1)).cast("double").alias("vsize"),
    )
    src = src_all.join(F.broadcast(vocab.select("term")), "term")
    grid = (
        src_all.select("source")
        .distinct()
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(src), ["source", "term"], "left")
        .withColumn("scnt0", F.coalesce(F.col("scnt"), F.lit(0)))
    )
    stot = grid.groupBy("source").agg(
        F.sum("scnt0").cast("bigint").alias("stot")
    )
    p = (F.col("scnt0").cast("double") + 1.0) / (
        F.col("stot").cast("double") + F.col("vsize")
    )
    q = (F.col("cnt").cast("double") + 1.0) / (
        F.col("ctot").cast("double") + F.col("vsize")
    )
    contrib = stable_round(p * F.log(p / q), 12)
    return (
        grid.join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("scnt0") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_vocab_present"),
            F.round(F.sum(contrib.cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


source_kl_divergence.__doc__ = source_kl_divergence.__doc__.format(
    v=KL_VOCAB
)

ORACLES["source_kl_divergence"] = f"""
    WITH toks AS (
        SELECT source, u.term
        FROM (SELECT source, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(term)
        WHERE u.term != ''
    ),
    corpus AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    ranked AS (
        SELECT term, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS vr
        FROM corpus
    ),
    vocab AS (SELECT term, cnt FROM ranked WHERE vr <= {KL_VOCAB}),
    ct AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ctot,
                  CAST(COUNT(*) AS DOUBLE) AS vsize FROM vocab),
    src AS (
        SELECT t.source, t.term, COUNT(*) AS scnt
        FROM toks t JOIN vocab v ON t.term = v.term
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.source, v.term, v.cnt,
               COALESCE(src.scnt, 0) AS scnt0
        FROM (SELECT DISTINCT source FROM toks) s
        CROSS JOIN vocab v
        LEFT JOIN src ON src.source = s.source AND src.term = v.term
    ),
    st AS (
        SELECT source, CAST(SUM(scnt0) AS BIGINT) AS stot
        FROM grid GROUP BY 1
    )
    SELECT g.source,
           CAST(SUM(CASE WHEN g.scnt0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_vocab_present,
           CAST(ROUND(SUM(CAST(ROUND(
               ((CAST(g.scnt0 AS DOUBLE) + 1.0)
                / (CAST(st.stot AS DOUBLE) + ct.vsize))
               * ln(((CAST(g.scnt0 AS DOUBLE) + 1.0)
                     / (CAST(st.stot AS DOUBLE) + ct.vsize))
                    / ((CAST(g.cnt AS DOUBLE) + 1.0)
                       / (CAST(ct.ctot AS DOUBLE) + ct.vsize))),
               12) AS DECIMAL(38,12))), 6) AS DOUBLE) AS kl_vs_corpus
    FROM grid g JOIN st ON g.source = st.source CROSS JOIN ct
    GROUP BY 1
    ORDER BY g.source
"""


# -- robust length outliers (round 5) ---------------------------------------

MAD_CUTOFF = 4.4478  # 3 sigma * 1.4826 (normal-consistent MAD scale)


def doc_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier report: EXACT median and MAD
    (median absolute deviation) of n_chars per source, and how many
    documents sit beyond 3 robust sigmas (MAD x 1.4826) — the
    outlier screen that, unlike mean/stddev, a few megadocs cannot
    drag (the robust sibling of corpus_length_hist).

    Exactness at scale (round-11 plan diet): both medians come from
    ONE value histogram — ``groupBy(source, n_chars)`` — so documents
    are scanned and shuffled exactly once, at domain scale (rows per
    source = distinct n_chars values, bounded by the length domain,
    never by corpus size). The value at rank k is the first histogram
    row whose cumulative count reaches k; the median averages the
    floor/ceil middle ranks, exactly as the previous two-phase
    global_rank formulation did (ties carried doc_id only to totalize
    the order — the rank-k VALUE is a function of n_chars alone, so
    the histogram selects the identical doubles and the oracle hash is
    unchanged; verified at sf0.001/sf0.01). The MAD pass never touches
    documents again: |x − median| is a function of the histogram, so
    the deviation histogram derives by re-keying the first. All
    arithmetic is integer-or-half-integer in double — engine-stable
    without decimal machinery. The cumulative window runs per source
    over the HISTOGRAM (domain-scale); a corpus whose length domain
    itself outgrew a partition would switch to the two-phase
    running_sum, at the cost of the sketch pass this diet removes
    (previous shape: 18 exchanges / 2 sketch collects / 11 cached
    reads; this shape: 1 data-scale exchange + tiny-table plumbing).

    NULL n_chars is excluded on BOTH engines (round 10): a NULL has no
    place in an order statistic, and unguarded it lands on opposite
    ends of the rank (Spark sorts NULLS FIRST, DuckDB NULLS LAST) —
    the adversarial-warehouse probe caught the silent median shift."""
    hist = bounded_cache(
        "mad.hist",
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
    )

    def _hist_median(h, val_col, out):
        # rank-k value = first row (in val order) with cum count >= k;
        # median = (val@lo + val@hi) / 2, and lo==hi (odd n) or a
        # straddling row contributes the value twice — same double op
        # chain as avg() over the two selected ranked rows. Per-source
        # totals come from an unbounded frame over the SAME window
        # exchange (no separate count agg + broadcast join).
        wp = Window.partitionBy("source")
        c = (
            h.withColumn(
                "_cum", F.sum("cnt").over(wp.orderBy(val_col))
            )
            .withColumn(
                "_n", F.sum("cnt").over(wp).cast("bigint")
            )
            .withColumn("_prev", F.col("_cum") - F.col("cnt"))
        )
        lo = F.floor((F.col("_n") + 1) / F.lit(2.0))
        hi = F.ceil((F.col("_n") + 1) / F.lit(2.0))
        pick = (
            F.when((F.col("_prev") < lo) & (lo <= F.col("_cum")), 1)
            .otherwise(0)
            + F.when((F.col("_prev") < hi) & (hi <= F.col("_cum")), 1)
            .otherwise(0)
        )
        return (
            c.withColumn("_pick", pick)
            .where(F.col("_pick") > 0)
            .groupBy("source")
            .agg(
                (
                    F.sum(F.col(val_col).cast("double") * F.col("_pick"))
                    / F.lit(2.0)
                ).alias(out),
                F.max("_n").alias("n_docs"),
            )
        )

    med = _hist_median(hist, "n_chars", "med_chars")
    devh = bounded_cache(
        "mad.devhist",
        hist.join(F.broadcast(med), "source")
        .withColumn(
            "dev",
            F.abs(F.col("n_chars").cast("double") - F.col("med_chars")),
        )
        .groupBy("source", "dev")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.max("med_chars").alias("med_chars"),
            F.max("n_docs").alias("n_docs"),
        ),
    )
    mad = _hist_median(devh, "dev", "mad_chars").select(
        "source", "mad_chars"
    )
    return (
        devh.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("med_chars").alias("med_chars"),
            F.max("mad_chars").alias("mad_chars"),
            F.sum(
                F.when(
                    F.col("dev") > F.lit(MAD_CUTOFF) * F.col("mad_chars"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "source",
            "n_docs",
            "med_chars",
            "mad_chars",
            "n_outliers",
            stable_round(
                F.col("n_outliers") / F.col("n_docs").cast("double"), 6
            ).alias("outlier_pct"),
        )
        .orderBy("source")
    )


ORACLES["doc_mad_outliers"] = f"""
    WITH d AS (SELECT source, doc_id, n_chars FROM documents
               WHERE n_chars IS NOT NULL),
    cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM d GROUP BY 1),
    r1 AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk
        FROM d
    ),
    med AS (
        SELECT r1.source,
               AVG(CAST(n_chars AS DOUBLE)) AS med_chars
        FROM r1 JOIN cnt ON r1.source = cnt.source
        WHERE rk = FLOOR((n_docs + 1) / 2.0)
           OR rk = CEIL((n_docs + 1) / 2.0)
        GROUP BY 1
    ),
    dev AS (
        SELECT d.source, d.doc_id,
               ABS(CAST(d.n_chars AS DOUBLE) - med.med_chars) AS dv
        FROM d JOIN med ON d.source = med.source
    ),
    r2 AS (
        SELECT source, dv,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY dv, doc_id) AS rk
        FROM dev
    ),
    mad AS (
        SELECT r2.source, AVG(dv) AS mad_chars
        FROM r2 JOIN cnt ON r2.source = cnt.source
        WHERE rk = FLOOR((n_docs + 1) / 2.0)
           OR rk = CEIL((n_docs + 1) / 2.0)
        GROUP BY 1
    ),
    outl AS (
        SELECT dev.source,
               CAST(SUM(CASE WHEN dv > {MAD_CUTOFF} * mad_chars
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.source = mad.source
        GROUP BY 1
    )
    SELECT cnt.source, n_docs, med_chars, mad_chars, n_outliers,
           {sql_stable_round('n_outliers / CAST(n_docs AS DOUBLE)', 6)}
               AS outlier_pct
    FROM cnt
    JOIN med ON cnt.source = med.source
    JOIN mad ON cnt.source = mad.source
    JOIN outl ON cnt.source = outl.source
    ORDER BY cnt.source
"""


# -- lexical richness (round 10) ----------------------------------------------


def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-richness profile: vocabulary size, total
    tokens, type-token ratio, and hapax-legomenon counts — the corpus
    linguist's first diversity table, and the cheap signal that a
    source is template spam (tiny TTR) or OCR noise (hapax-heavy).

    One explode → (source, token) count with map-side combine (the
    per-partition partial collapses each source's repeated tokens
    before the shuffle), then a source-sized rollup. Shuffle volume is
    O(distinct (source, token)) — vocabulary, not corpus, scale."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(text.tokens()).alias("token")
    )
    vocab = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    return (
        vocab.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("n_occ").alias("total_tokens"),
            F.sum(F.when(F.col("n_occ") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax_count"),
        )
        .select(
            "source",
            "vocab_size",
            "total_tokens",
            "hapax_count",
            stable_round(
                F.col("vocab_size").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("ttr"),
            stable_round(
                F.col("hapax_count").cast("double")
                / F.col("vocab_size").cast("double"),
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


ORACLES["text_ttr_hapax"] = f"""
    WITH tok AS (
        SELECT source, unnest({text.sql_tokens()}) AS token
        FROM documents
    ),
    vocab AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM tok GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(n_occ) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_count,
           {sql_stable_round(
               "CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n_occ) AS DOUBLE)", 6
           )} AS ttr,
           {sql_stable_round(
               "CAST(SUM(CASE WHEN n_occ = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
               " / CAST(COUNT(*) AS DOUBLE)", 6
           )} AS hapax_ratio
    FROM vocab
    GROUP BY source
    ORDER BY source
"""


# -- per-document token entropy (round 10) ------------------------------------


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution,
    H = -sum p ln p, plus the ln(n_types)-normalized ratio — the
    gibberish/boilerplate detector dual to text_repetition: a doc
    that repeats one token scores H≈0, uniform word soup scores
    near ln(n_types).

    Same engine shape as events_entropy (plans/events.py): one
    (doc, token) count with map-side combine, a per-doc decimal sum
    of p·ln p terms (order-independent; ln on identical doubles is
    cross-engine exact in practice — zipf/tfidf/unigram/events
    precedents), entropy_ratio guarded to 0 for single-type docs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(text.tokens()).alias("token")
    )
    # cache the (doc, token) counts: the plan references them from two
    # subtrees (per-doc rollup + the entropy join) and Catalyst does
    # not reuse the exchange — uncached this is two documents scans
    cnt = bounded_cache(
        "tokentropy.cnt",
        tok.groupBy("doc_id", "token").agg(
            F.count(F.lit(1)).alias("n_t")
        ),
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("n_t").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
    )
    p = F.col("n_t").cast("double") / F.col("n_tokens").cast("double")
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    return (
        cnt.join(per_doc, "doc_id")
        .groupBy("doc_id", "n_tokens", "n_types")
        .agg(F.sum(dec(-(p * F.log(p)))).alias("__h"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_types").cast("int").alias("n_types"),
            stable_round(F.col("__h").cast("double"), 6).alias("entropy"),
            F.when(F.col("n_types") > 1,
                   stable_round(
                       F.col("__h").cast("double")
                       / F.log(F.col("n_types").cast("double")),
                       6,
                   ))
            .otherwise(F.lit(0.0))
            .alias("entropy_ratio"),
        )
        .orderBy("doc_id")
    )


ORACLES["text_token_entropy"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest({text.sql_tokens()}) AS token
        FROM documents
    ),
    cnt AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM tok GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id, CAST(SUM(n_t) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM cnt GROUP BY 1
    ),
    h AS (
        SELECT cnt.doc_id, n_tokens, n_types,
               CAST(SUM(CAST(
                   -((CAST(n_t AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                     * ln(CAST(n_t AS DOUBLE) / CAST(n_tokens AS DOUBLE)))
                   AS DECIMAL(38,12))) AS DOUBLE) AS __h
        FROM cnt JOIN per_doc ON cnt.doc_id = per_doc.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT doc_id, n_tokens, CAST(n_types AS INT) AS n_types,
           {sql_stable_round("__h", 6)} AS entropy,
           CASE WHEN n_types > 1
                THEN {sql_stable_round(
                    "__h / ln(CAST(n_types AS DOUBLE))", 6)}
                ELSE 0.0 END AS entropy_ratio
    FROM h
    ORDER BY doc_id
"""


# -- token-budget selection (round 10) ----------------------------------------

TOKEN_BUDGET = 15_000


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first corpus selection under a global token
    budget: rank documents by the shared quality score (quality_cols —
    the SAME single-definition formula text_quality gates on), admit
    in rank order while the running token total stays ≤ {budget} —
    the "best N tokens" cut every pretraining data run makes when the
    compute budget, not the corpus, is the binding constraint.

    The running total is functions/distributed.running_sum — the
    two-phase prefix sum (coarse buckets from an approx-percentile
    sketch, per-bucket local windows, broadcast offsets), never a
    single-partition global window; (-quality, doc_id) is a total
    order so the cut is deterministic and oracle-exact. Output is
    budget-bounded, not corpus-bounded."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens, _, _, score = quality_cols()
    scored = bounded_cache(
        "budget.scored",
        d.select(
            "doc_id",
            "source",
            n_tokens.cast("bigint").alias("n_tokens"),
            score.alias("quality_score"),
        ).withColumn("_negq", -F.col("quality_score")),
    )
    ranked = running_sum(
        scored,
        "n_tokens",
        ["_negq", "doc_id"],
        coarse_key="_negq",
        out="cum_tokens",
    )
    return (
        ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "quality_score",
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
        .orderBy(F.desc("quality_score"), "doc_id")
    )


corpus_token_budget.__doc__ = corpus_token_budget.__doc__.format(
    budget=TOKEN_BUDGET
)


ORACLES["corpus_token_budget"] = f"""
    WITH t AS (
        SELECT doc_id, source, {text.sql_tokens()} AS toks FROM documents
    ),
    m AS (
        SELECT doc_id, source,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               {_SQL_Q_AVG_LEN} AS avg_token_len,
               {_SQL_Q_STOP_RATIO} AS stopword_ratio
        FROM t
    ),
    scored AS (
        SELECT doc_id, source, n_tokens,
               {_SQL_Q_SCORE} AS quality_score
        FROM m
    ),
    ranked AS (
        SELECT doc_id, source, n_tokens, quality_score,
               SUM(n_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, source, n_tokens, quality_score,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY quality_score DESC, doc_id
"""
