"""Deduplication suite over the `documents` / `embeddings` tables
(SURVEY.md §2.4) — the operators a 100 TB training-data pipeline needs.

Every variant is candidate-generation by EQUI-JOIN on a blocking key
(shared shingle / MinHash band signature / SimHash chunk / vector
blocking), never an O(n²) cross join on the full corpus — bucket
collisions bound the pair space, AQE splits skewed buckets. The one
deliberate exception is `embedding_pairs`, the small-side brute-force
baseline (its scale path is `similarity.ann_lsh`).

Each operator ships its DuckDB oracle (``ORACLES``) generated from the
same constants/seeds so Spark and the oracle can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions import hashing, text
from big_data_parallel_computing_hw2_spark.functions.cache import bounded_cache
from big_data_parallel_computing_hw2_spark.functions.aggs import (
    sql_stable_round,
    stable_round,
)
from big_data_parallel_computing_hw2_spark.sources.tables import fan_out, load_table

ORACLES: dict[str, str] = {}

# -- exact ------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text; keeper = min doc_id.
    One shuffle on the 128-bit fingerprint — the canonical first pass of
    any dedup pipeline."""
    # no fan_out: md5+normalize is cheap enough that a repartition of the
    # raw text costs more than the single-split scan saves (measured).
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(text.normalized()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


ORACLES["dedup_exact"] = f"""
    SELECT md5({text.sql_normalized()}) AS fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY keeper_doc_id
"""

# -- n-gram Jaccard ---------------------------------------------------------

JACCARD_TAU = 0.5


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out(16): shingling is CPU-bound, so split-count parallelism
    # matters (no-op at scale); 16 measured better than 32 locally (tiny
    # partitions cost more in task overhead than they buy). shingled():
    # tokenize-once projection (17× over inline split in the lambda).
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    return text.shingled(d)  # distinct per doc


# Hot-shingle document-frequency cap. The candidate join's cost is
# Σ_shingle df², so ONE stopword-like shingle shared by m documents
# contributes m² pairs — quadratic in corpus size at 100 TB. Capping
# drops shingles with df > cap from the representation entirely
# (sizes AND intersections — Jaccard over the capped shingle universe,
# self-consistent, like stopword removal). None = exact (the
# registered/test-SF default); a production run sets a cap ≫ any real
# near-dup cluster size so true-dup recall is unaffected.
SHINGLE_DF_CAP: int | None = None



def _sizes_inter_from(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-doc shingle sizes + a<b shared-shingle intersection counts
    from a (doc_id, shingle) frame — ONE definition for the capped and
    uncapped paths so the intersection semantics can't diverge."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return sizes, inter


def _shared_shingle_tables(spark, sf_dir):
    """UNCAPPED shingle rows + per-doc sizes + a<b shared-shingle
    intersection counts, each bounded_cache'd — the three tables
    ngram_jaccard (default path) and dedup_containment both need, paid
    once per corpus instead of once per query."""
    sh = bounded_cache("shingle.rows", _shingle_rows(spark, sf_dir))
    sizes, inter = _sizes_inter_from(sh)
    return (
        sh,
        bounded_cache("shingle.sizes", sizes),
        bounded_cache("shingle.inter", inter),
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (≥ {tau}).

    Candidates come from an equi-join on shared shingles (inverted
    index), so cost ∝ Σ_shingle df²; at scale, frequency-cap hot
    shingles (``df_cap`` / SHINGLE_DF_CAP, see above) before the join —
    the standard suffix-array / inverted-index trick. The hot list is
    tiny by construction (only shingles with df above the cap), so it
    broadcasts and the filter is a map-side anti-join.

    Measured design note: keeping the join sides skinny (doc_id,
    shingle) and joining set sizes onto the aggregated pairs afterwards
    beats carrying n_shingles through the pair join + first() — the
    extra build-side column and the low-reduction partial first()
    aggregates cost 2.6× at sf0.1. Skinny shuffle > fewer joins here.
    """
    cap = df_cap if df_cap is not None else SHINGLE_DF_CAP
    if cap is None:
        # default/registered path: the shared cached corpus tables
        _, sizes, inter = _shared_shingle_tables(spark, sf_dir)
    else:
        sh = _shingle_rows(spark, sf_dir)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
        sizes, inter = _sizes_inter_from(sh)
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            stable_round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_TAU)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


ngram_jaccard_pairs.__doc__ = ngram_jaccard_pairs.__doc__.format(tau=JACCARD_TAU)

def sql_ngram_jaccard(df_cap: int | None = None) -> str:
    """DuckDB oracle for :func:`ngram_jaccard_pairs`, mirroring the
    same optional hot-shingle df cap so the capped path is testable
    cross-engine too."""
    capped = (
        f"""sh AS (
        SELECT * FROM sh0
        WHERE shingle NOT IN (SELECT shingle FROM sh0
                              GROUP BY shingle HAVING COUNT(*) > {df_cap})
    ),"""
        if df_cap is not None
        else "sh AS (SELECT * FROM sh0),"
    )
    return f"""
    WITH sh0 AS ({text.sql_shingle_rows()}),
    {capped}
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {sql_stable_round('n_common / (sa.n_shingles + sb.n_shingles - n_common)', 6)}
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {sql_stable_round('n_common / (sa.n_shingles + sb.n_shingles - n_common)', 6)}
          >= {JACCARD_TAU}
    ORDER BY doc_a, doc_b
"""


ORACLES["dedup_ngram_jaccard"] = sql_ngram_jaccard()

# -- asymmetric containment -------------------------------------------------

CONTAIN_TAU = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT |A∩B| / |A| ≥ {tau}: the
    doc-inside-doc detector (quotes, boilerplate wrappers, superset
    re-crawls) that symmetric Jaccard misses — a small document fully
    quoted inside a big one scores containment 1.0 but Jaccard ≈
    |A|/|B|. The standard second pass of a training-data dedup ladder
    (Broder's containment, same inverted index).

    Spark-first: the SAME shared-shingle equi-join as
    ngram_jaccard_pairs computes each unordered intersection ONCE;
    both directions then materialize as two cheap projections of that
    aggregate (a union of the pair table with itself, no second join).
    Σ df² cost model and the hot-shingle df cap carry over unchanged."""
    _, sizes, inter = _shared_shingle_tables(spark, sf_dir)
    directed = inter.select(
        F.col("doc_a").alias("inner_doc"),
        F.col("doc_b").alias("outer_doc"),
        "n_common",
    ).unionByName(
        inter.select(
            F.col("doc_b").alias("inner_doc"),
            F.col("doc_a").alias("outer_doc"),
            "n_common",
        )
    )
    return (
        directed.join(
            sizes.select(
                F.col("doc_id").alias("inner_doc"),
                F.col("n_shingles").alias("n_inner"),
            ),
            "inner_doc",
        )
        .withColumn(
            "containment",
            stable_round(F.col("n_common") / F.col("n_inner"), 6),
        )
        .filter(F.col("containment") >= CONTAIN_TAU)
        .select("inner_doc", "outer_doc", "n_common", "n_inner", "containment")
        .orderBy("inner_doc", "outer_doc")
    )


dedup_containment.__doc__ = dedup_containment.__doc__.format(tau=CONTAIN_TAU)

ORACLES["dedup_containment"] = f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    directed AS (
        SELECT doc_a AS inner_doc, doc_b AS outer_doc, n_common FROM inter
        UNION ALL
        SELECT doc_b AS inner_doc, doc_a AS outer_doc, n_common FROM inter
    )
    SELECT inner_doc, outer_doc, n_common, s.n_shingles AS n_inner,
           {sql_stable_round('n_common / s.n_shingles', 6)} AS containment
    FROM directed
    JOIN sizes s ON s.doc_id = inner_doc
    WHERE {sql_stable_round('n_common / s.n_shingles', 6)} >= {CONTAIN_TAU}
    ORDER BY inner_doc, outer_doc
"""

# -- MinHash + LSH ----------------------------------------------------------

MINHASH_K = 16
LSH_ROWS = 4  # rows per band
LSH_BANDS = MINHASH_K // LSH_ROWS
_SEEDS = hashing.seeds(MINHASH_K)


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE per-doc MinHash signature table (k min-hash aggregates over a
    hash-once shingle projection: one md5 per shingle row, the k
    permutations are cheap integer affine maps over it) — one cached
    definition shared by the band generator and dedup_jaccard_est's
    component comparison, so neither pays the shingle+agg pass twice."""
    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id", hashing.base_hash("shingle").alias("h")
    )
    return bounded_cache(
        "minhash.mins",
        sh.groupBy("doc_id").agg(
            *[
                F.min(hashing.minhash_col(F.col("h"), a, b)).alias(f"m{j}")
                for j, (a, b) in enumerate(_SEEDS)
            ]
        ),
    )


# -- incremental signature-index maintenance (round 12) ----------------------
#
# The text twin of similarity.lsh_index_delta/upsert: a document's
# MinHash band signatures depend only on ITS shingles (the k affine
# permutations are corpus-independent constants), so a growing corpus
# signs only the delta and latest-wins-merges into the standing band
# table. Together with dedup_incremental (exact fingerprints) and the
# embedding-side lsh_index_*, every dedup representation in this
# package is maintainable without corpus rescans. The standing band
# table is the (doc_id, band, sig) frame minhash_lsh_pairs self-joins;
# in production it lives bucketed by (band, sig) so a daily delta
# co-partitions with zero historical re-shuffle.


def minhash_index_delta(spark: SparkSession, new_docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) rows for a batch of NEW/UPDATED documents.

    ``new_docs`` is any (doc_id, text) frame. Documents with fewer
    than one shingle (short/NULL text) produce no rows — identical to
    their absence from the full build's shingle aggregation, so
    delta-then-upsert equals a rebuild row-for-row (pinned in tests)."""
    sh = text.shingled(new_docs).select(
        "doc_id", hashing.base_hash("shingle").alias("h")
    )
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(hashing.minhash_col(F.col("h"), a, b)).alias(f"m{j}")
            for j, (a, b) in enumerate(_SEEDS)
        ]
    )
    band_sigs = [
        F.concat_ws(
            "_", *[f"m{bnd * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        ).alias(f"band{bnd}")
        for bnd in range(LSH_BANDS)
    ]
    return mins.select(
        "doc_id",
        F.posexplode(F.array(*band_sigs)).alias("band", "sig"),
    )


def minhash_index_upsert(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Latest-wins merge of a delta band table into the standing one.

    Re-signed doc_ids replace ALL their old band rows (an edited
    document moves buckets; one shrunk below the shingle floor simply
    vanishes). Skinny doc_id anti-join — text is never touched."""
    touched = delta.select("doc_id").distinct()
    return existing.join(touched, "doc_id", "left_anti").unionByName(delta)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k={k}) + LSH banding ({bands} bands × {rows} rows):
    candidate near-dup pairs from band-signature equi-join.

    Shuffle profile: one agg shuffle on doc_id (k mins computed as k
    aggregate expressions — no k-fold row inflation), one join shuffle
    on (band, signature). Signatures are tiny strings; at 100 TB the
    band join dominates and is a plain hash join on a well-distributed
    key.
    """
    return _minhash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsorted (doc_a, doc_b) core of :func:`minhash_lsh_pairs`:
    consumers that shuffle it anyway (the cluster propagation) skip
    the global sort."""
    mins = _minhash_signatures(spark, sf_dir)
    band_sigs = [
        F.concat_ws(
            "_", *[f"m{bnd * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        ).alias(f"band{bnd}")
        for bnd in range(LSH_BANDS)
    ]
    # cached: the band table is SELF-JOINED (Catalyst computes an
    # uncached subtree once per alias), and five operators sit on this
    # candidate generator (lsh pairs, clusters, editdist, cross-source,
    # jaccard-est) — one shingle+signature pass instead of two per call
    banded = bounded_cache(
        "minhash.banded",
        mins.select(
            "doc_id",
            F.posexplode(F.array(*band_sigs)).alias("band", "sig"),
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


minhash_lsh_pairs.__doc__ = minhash_lsh_pairs.__doc__.format(
    k=MINHASH_K, bands=LSH_BANDS, rows=LSH_ROWS
)


def _sql_minhash_lsh() -> str:
    h = hashing.sql_base_hash("shingle")
    min_cols = ",\n               ".join(
        f"MIN({hashing.sql_minhash(h, a, b)}) AS m{j}"
        for j, (a, b) in enumerate(_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bnd} AS band, ".format(bnd=bnd)
        + " || '_' || ".join(
            f"CAST(m{bnd * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        + " AS sig FROM mins"
        for bnd in range(LSH_BANDS)
    )
    return f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    mins AS (
        SELECT doc_id,
               {min_cols}
        FROM sh GROUP BY doc_id
    ),
    banded AS ({band_selects})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band = b.band AND a.sig = b.sig
                 AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """


ORACLES["dedup_minhash_lsh"] = _sql_minhash_lsh()

# -- edit-distance verification ---------------------------------------------

LEV_MAX_RATIO = 0.25


def dedup_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-VERIFIED near-dups: MinHash-LSH candidates rescored
    with exact Levenshtein on normalized text, kept when the distance is
    ≤ {ratio} of the longer text. The canonical generate-then-verify
    composition — the O(n·m) exact metric only ever touches candidate
    pairs (bounded by LSH collisions), never the corpus cross product.
    Both engines' built-in `levenshtein` computes the same well-defined
    metric, so the oracle is exact."""
    cand = minhash_lsh_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    ta = d.select(F.col("doc_id").alias("doc_a"), text.normalized().alias("na"))
    tb = d.select(F.col("doc_id").alias("doc_b"), text.normalized().alias("nb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_dist", F.levenshtein("na", "nb"))
        .withColumn(
            "len_max", F.greatest(F.length("na"), F.length("nb"))
        )
        .filter(F.col("edit_dist") <= LEV_MAX_RATIO * F.col("len_max"))
        .select("doc_a", "doc_b", "edit_dist", "len_max")
        .orderBy("doc_a", "doc_b")
    )


dedup_editdist_pairs.__doc__ = dedup_editdist_pairs.__doc__.format(
    ratio=LEV_MAX_RATIO
)


def _sql_editdist() -> str:
    norm = text.sql_normalized()
    return f"""
    WITH cand AS ({_sql_minhash_lsh()}),
    ta AS (SELECT doc_id AS doc_a, {norm} AS na FROM documents),
    tb AS (SELECT doc_id AS doc_b, {norm} AS nb FROM documents)
    SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b,
           CAST(levenshtein(na, nb) AS INT) AS edit_dist,
           CAST(greatest(length(na), length(nb)) AS INT) AS len_max
    FROM cand
    JOIN ta ON ta.doc_a = cand.doc_a
    JOIN tb ON tb.doc_b = cand.doc_b
    WHERE levenshtein(na, nb) <= {LEV_MAX_RATIO} * greatest(length(na), length(nb))
    ORDER BY doc_a, doc_b
    """


ORACLES["dedup_editdist"] = _sql_editdist()

# -- near-dup clusters (connected components) -------------------------------

def min_label_propagate(edges: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over a SYMMETRIC edge list
    (doc_a, doc_b) → (doc_id, label) where label = min reachable id.

    The GraphX/Pregel pattern as plain DataFrame joins: each round,
    every vertex takes the min of its own label and its neighbors';
    fixpoint in O(graph diameter) rounds. A round is ONE join (edges ⋈
    labels on the source vertex, emitting each neighbor's label as a
    message) and ONE ``groupBy(doc_id).min`` over labels ∪ messages —
    the vertex's own label rides the same aggregate as its messages, so
    no left join re-attaches it.

    Every round's labels are ``localCheckpoint(eager=False)``ed: the
    driver-side convergence probe (a 1-row Σlabel aggregate — Σlabel
    strictly decreases until fixpoint under min-propagation, so data
    never leaves executors) is the job that fills the checkpoint, and
    the next round reads those blocks with a one-node lineage. The plan
    stays one round deep on arbitrarily deep graphs, and each round
    costs the same fixed set of jobs. (localCheckpoint trades
    executor-loss recovery for speed — the standard iterative-algorithm
    choice; a production run on an unreliable cluster would use
    reliable checkpoint() to a shared FS instead.)

    Returns a checkpointed, already-materialized DataFrame; superseded
    rounds' blocks are freed by Spark's ContextCleaner once their
    frames are unreferenced.

    Initialization fuses the FIRST propagation hop into the vertex-set
    aggregation: label₀ = min(self, direct neighbors) is one groupBy
    over the symmetric edge list — the same shuffle the plain
    vertex-distinct would cost, but it starts the loop a full join
    round ahead (near-dup graphs are mostly stars, so this is often
    already the fixpoint and the loop runs once to confirm).
    """
    labels = (
        edges.groupBy("doc_b")
        .agg(F.min("doc_a").alias("nbr_min"))
        .select(
            F.col("doc_b").alias("doc_id"),
            F.least("doc_b", "nbr_min").alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    while True:
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        ).select(F.col("doc_b").alias("doc_id"), "label")
        labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum


def components_from_pairs(pairs: DataFrame, edge_key: str) -> DataFrame:
    """Shared connected-components scaffolding: one pass over the
    (doc_a, doc_b) pair frame emits both edge directions into a cached
    edge list, then :func:`min_label_propagate` runs its join + groupBy
    rounds over it and returns its checkpointed fixpoint. Pass the
    UNSORTED pair core: the edge list is shuffled by every round, so a
    global sort upstream is wasted work.
    ONE definition for the MinHash document clusters and the embedding
    clusters so the propagation setup can never diverge."""
    # each pair row explodes into (a, b) and (b, a): a union with a
    # swapped copy would evaluate the whole pair plan once per branch
    # (Catalyst does not reuse an uncached subtree across a union)
    both = F.array(
        F.struct("doc_a", "doc_b"),
        F.struct(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")),
    )
    edges = pairs.select(F.explode(both).alias("e")).select("e.*")
    return min_label_propagate(bounded_cache(edge_key, edges))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate-pair graph:
    every document that appears in a near-dup pair is labeled with the
    smallest doc_id reachable from it — the cluster representative a
    dedup pipeline keeps. Propagation loop: :func:`min_label_propagate`.

    Oracle: DuckDB recursive CTE computing min-reachable-label over the
    same pair graph.
    """
    # the propagation loop EXECUTES during build (driver-side
    # convergence probes): every call runs the fixpoint once
    labels = components_from_pairs(
        _minhash_pairs(spark, sf_dir), "dedup_clusters.edges"
    )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS (SELECT * FROM ({_sql_minhash_lsh()}) t),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach AS (
        SELECT doc_id, doc_id AS label FROM verts
        UNION
        SELECT e.dst AS doc_id, r.label
        FROM edges e JOIN reach r ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15
HAMMING_MAX = 8


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash over distinct word tokens —
    per-bit majority vote of token hash bits, all JVM-side."""
    return simhash_sketch(load_table(spark, sf_dir, "documents"))


def simhash_sketch(d: DataFrame) -> DataFrame:
    """Frame-level SimHash body (any (doc_id, text) frame — also the
    bench's scaling-sweep kernel over replicated input)."""
    # hash-once projection: one md5 per token row; the 60 per-bit votes
    # are shift/mod over the materialized hash.
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(text.tokens())).alias("tok"),
    ).select("doc_id", hashing.hash60("tok").alias("h"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright("h", bit) % F.lit(2) != 0).cast("int") * 2 - 1
            ).alias(f"v{bit}")
            for bit in range(SIMHASH_BITS)
        ]
    )
    sim = sum(
        [
            F.when(F.col(f"v{bit}") > 0, F.lit(2**bit)).otherwise(F.lit(0))
            for bit in range(SIMHASH_BITS)
        ],
        F.lit(0).cast("bigint"),
    )
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup histogram: chunk-blocked candidate pairs (pigeonhole:
    any pair within {chunks}-chunk distance ≤ {chunks}-1 shares a chunk)
    with Hamming ≤ {maxh}, grouped by distance.

    The sketch table is persisted before the self-join: Catalyst does
    not reuse the exchange across the two aliases, so without it the
    whole tokenize+hash+60-agg pipeline runs twice (measured 1.6×).
    At 100 TB the sketch is 1 row × 16 bytes per document — persisting
    it (memory-and-disk) is the standard pattern, tiny next to the
    corpus. bounded_cache keeps one live sketch across invocations
    (bench runs each query 3×) instead of leaking cached blocks."""
    st = bounded_cache("simhash.sketch", simhash_table(spark, sf_dir))
    chunked = st.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    (F.shiftright("simhash", c * CHUNK_BITS) % F.lit(2**CHUNK_BITS))
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: hamming is a pure function of the
        # pair, so the ≤ max cut commutes with dedup — and shrinks the
        # distinct's shuffle from every chunk-collision (quadratic in
        # bucket size) to just the near-dups.
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )
    return (
        cand.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


simhash_pairs.__doc__ = simhash_pairs.__doc__.format(
    chunks=SIMHASH_CHUNKS, maxh=HAMMING_MAX
)


def _sql_simhash() -> str:
    h = hashing.sql_hash60("tok")
    votes = ",\n               ".join(
        f"SUM(CASE WHEN ({h} >> {bit}) % 2 <> 0 THEN 1 ELSE -1 END) AS v{bit}"
        for bit in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN v{bit} > 0 THEN CAST({2**bit} AS BIGINT) ELSE 0 END"
        for bit in range(SIMHASH_BITS)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx, "
        f"(simhash >> {c * CHUNK_BITS}) % {2**CHUNK_BITS} AS chunk FROM sim"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, u.tok
        FROM (SELECT doc_id, {text.sql_tokens()} AS t FROM documents),
             UNNEST(t) AS u(tok)
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM toks GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {assemble} AS simhash FROM votes),
    chunked AS ({chunk_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM chunked a
        JOIN chunked b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                      AND a.doc_id < b.doc_id
    )
    SELECT hamming, COUNT(*) AS n_pairs
    FROM cand WHERE hamming <= {HAMMING_MAX}
    GROUP BY hamming ORDER BY hamming
    """


ORACLES["dedup_simhash"] = _sql_simhash()

# -- embedding cosine -------------------------------------------------------

COSINE_TAU = 0.4


def _norm2(vec_col: str) -> F.Column:
    """Σx² via decimal accumulation (order-independent, oracle-exact)."""
    return F.aggregate(
        F.col(vec_col),
        F.lit(0).cast("decimal(38,18)"),
        # cast back each step: Spark widens decimal precision on +, and the
        # lambda's return type must stay decimal(38,18); the cast is exact
        # for our magnitudes
        lambda acc, x: (
            acc + (x.cast("double") * x.cast("double")).cast("decimal(38,18)")
        ).cast("decimal(38,18)"),
    ).cast("double")


def _dot(a_col: str, b_col: str) -> F.Column:
    return F.aggregate(
        F.zip_with(
            F.col(a_col),
            F.col(b_col),
            lambda x, y: (x.cast("double") * y.cast("double")).cast(
                "decimal(38,18)"
            ),
        ),
        F.lit(0).cast("decimal(38,18)"),
        lambda acc, x: (acc + x).cast("decimal(38,18)"),
    ).cast("double")


# Pre-filter slack for the double-precision dot: fp-addition-order error
# on a dim-64 dot is ~1e-13; 1e-6 is 10^7× that, so no pair the exact
# decimal cut would keep is dropped by the fast cut.
FAST_COS_MARGIN = 1e-6


def _dot_fast(a_col: str, b_col: str) -> F.Column:
    """Plain-double dot — NOT oracle-exact (fp addition order varies),
    so never a final score: used as a conservative candidate pre-filter
    at threshold τ−FAST_COS_MARGIN before the decimal-exact `_dot`
    rescore. ~5× cheaper per pair (no per-element BigDecimal churn),
    which matters when candidates ≫ survivors."""
    return F.aggregate(
        F.zip_with(
            F.col(a_col),
            F.col(b_col),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Hard ceiling for the brute-force broadcast: dim-64 float64 ≈ 512 B/vec
# → 2M vectors ≈ 1 GB on the driver and per executor. Beyond that the
# operator refuses loudly instead of OOMing silently.
BRUTE_FORCE_MAX_VECS = 2_000_000


def embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ {tau}), brute-force
    baseline — exhaustive by definition; the blocked scale path (and
    the registered `dedup_embedding` query) is
    `similarity.embedding_dedup_lsh` (same scoring, bucketed
    candidates, no driver collect). Guarded by BRUTE_FORCE_MAX_VECS.

    Two-phase scoring:
    1. candidate generation: Arrow-batched `mapInPandas` — each batch
       does one BLAS matmul against the broadcast corpus matrix and
       emits pairs with fast-cosine ≥ τ−1e-6 (margin ≫ double error, so
       no exact survivor is lost);
    2. exact rescore: survivors get the decimal-stable, oracle-exact
       cosine and the real ≥ τ cut.

    The vectorized-Python path is deliberate here: an all-pairs score
    IS a dense matmul, and BLAS beats per-row expression evaluation by
    ~100× (Spark higher-order functions are interpreted, not
    codegen'd). The corpus matrix must fit in executor memory — the
    inherent brute-force constraint this operator documents.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    n_vecs = e.count()
    if n_vecs > BRUTE_FORCE_MAX_VECS:
        raise ValueError(
            f"embedding_pairs is the brute-force baseline: it broadcasts "
            f"the whole corpus matrix ({n_vecs} vectors > cap "
            f"{BRUTE_FORCE_MAX_VECS}). Use similarity.embedding_dedup_lsh "
            f"(LSH-blocked candidates, exact rescore, no driver collect) "
            f"for large corpora."
        )
    corpus = e.select("vec_id", "embedding").toPandas()
    ids_all = corpus["vec_id"].to_numpy()
    m_all = np.stack(corpus["embedding"].to_numpy()).astype("float64")
    # corpus contract (mirrors SQL_NORM2): zero-magnitude vectors are
    # excluded from every cosine index — no direction, no cosine
    nz = np.linalg.norm(m_all, axis=1) > 0
    ids_all, m_all = ids_all[nz], m_all[nz]
    m_all = m_all / np.linalg.norm(m_all, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids_all, m_all))

    def candidates(batches):
        ids_b, m_b = bc.value
        for pdf in batches:
            mb = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            nzb = np.linalg.norm(mb, axis=1) > 0
            pdf, mb = pdf[nzb], mb[nzb]
            if not len(mb):
                continue
            mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
            cos = mb @ m_b.T
            ia, ib = np.nonzero(cos >= COSINE_TAU - 1e-6)
            va = pdf["vec_id"].to_numpy()[ia]
            vb = ids_b[ib]
            keep = va < vb
            yield pd.DataFrame({"vec_a": va[keep], "vec_b": vb[keep]})

    # fan_out(8): parallel Arrow batches without 32-way tiny-batch
    # overhead (each task redoes broadcast unpickle + BLAS setup).
    cand = fan_out(spark, e, 8).mapInPandas(candidates, "vec_a long, vec_b long")
    scored_a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm2("embedding").alias("na"),
    ).filter(F.col("na") > 0)
    scored_b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm2("embedding").alias("nb"),
    ).filter(F.col("nb") > 0)
    return (
        cand.join(F.broadcast(scored_a), "vec_a")
        .join(F.broadcast(scored_b), "vec_b")
        .withColumn(
            "cosine",
            stable_round(
                _dot("ea", "eb") / F.sqrt(F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("cosine") >= COSINE_TAU)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


embedding_pairs.__doc__ = embedding_pairs.__doc__.format(tau=COSINE_TAU)

# Shared corpus-norm CTE. ``norm2 > 0`` is the corpus contract for
# every cosine-based index (round 11): a zero-magnitude vector has no
# direction, so cosine against it is undefined — instead of erroring
# out-of-domain (ANSI DIVIDE_BY_ZERO), every cosine operator EXCLUDES
# zero vectors from the index on BOTH engines (Spark mirrors with
# ``filter(norm2 > 0)`` on each corpus projection). Value-neutral on
# the real tables (no zero vectors at any SF, verified round 11).
SQL_NORM2 = """
    norms AS (
        SELECT vec_id, norm2 FROM (
            SELECT vec_id,
                   CAST(SUM(CAST(CAST(embedding[gs.i] AS DOUBLE)
                                 * CAST(embedding[gs.i] AS DOUBLE)
                                 AS DECIMAL(38,18))) AS DOUBLE) AS norm2
            FROM embeddings, generate_series(1, 64) AS gs(i)
            GROUP BY vec_id
        ) WHERE norm2 > 0
    )
"""

ORACLES["dedup_embedding"] = f"""
    WITH {SQL_NORM2},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(SUM(CAST(CAST(a.embedding[gs.i] AS DOUBLE)
                             * CAST(b.embedding[gs.i] AS DOUBLE)
                             AS DECIMAL(38,18))) AS DOUBLE) AS dot
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id,
             generate_series(1, 64) AS gs(i)
        GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           {sql_stable_round('dot / sqrt(na.norm2 * nb.norm2)', 6)} AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE {sql_stable_round('dot / sqrt(na.norm2 * nb.norm2)', 6)} >= {COSINE_TAU}
    ORDER BY vec_a, vec_b
"""

# -- incremental (batch-vs-corpus) ------------------------------------------

INCR_HIST_MOD = 10  # doc_id % 10 < 8 plays the historical corpus


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: an incoming batch is
    deduped (a) within itself (min-doc_id keeper per fingerprint) and
    (b) against the historical corpus's fingerprint set via LEFT ANTI
    join. Here `doc_id % 10 < 8` plays the historical corpus and the
    rest the incoming batch.

    Scale posture: the anti-join shuffles on the 128-bit fingerprint —
    at 100 TB the historical side is a fingerprint-only table (16
    bytes/doc, usually bucketed on fingerprint so the daily batch
    co-partitions with zero historical re-shuffle); the batch side is
    the small one. Nothing rescans historical TEXT, only fingerprints."""
    d = load_table(spark, sf_dir, "documents")
    fps = d.select("doc_id", F.md5(text.normalized()).alias("fingerprint"))
    hist = (
        fps.filter(F.col("doc_id") % INCR_HIST_MOD < 8)
        .select("fingerprint")
        .distinct()
    )
    batch = fps.filter(F.col("doc_id") % INCR_HIST_MOD >= 8)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)  # in-batch dedup
        .join(hist, "fingerprint", "left_anti")  # vs-corpus dedup
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


ORACLES["dedup_incremental"] = f"""
    WITH fps AS (
        SELECT doc_id, md5({text.sql_normalized()}) AS fingerprint
        FROM documents
    ), hist AS (
        SELECT DISTINCT fingerprint FROM fps WHERE doc_id % {INCR_HIST_MOD} < 8
    ), batch AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY fingerprint ORDER BY doc_id
        ) AS rn
        FROM fps WHERE doc_id % {INCR_HIST_MOD} >= 8
    )
    SELECT doc_id, fingerprint
    FROM batch
    WHERE rn = 1
      -- NOT EXISTS, not NOT IN: a NULL fingerprint (NULL text document)
      -- must behave like Spark's left_anti (NULL keys never match →
      -- row kept), while NOT IN would nuke the whole result to NULL
      AND NOT EXISTS (
          SELECT 1 FROM hist WHERE hist.fingerprint = batch.fingerprint
      )
    ORDER BY doc_id
"""

# -- cross-source near-dup report -------------------------------------------


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: MinHash-LSH near-dup pairs
    whose two documents come from DIFFERENT sources, counted per
    (source_a, source_b) — the mirror-site / syndicated-content report
    a corpus curator reads before weighting sources.

    Pure composition: the LSH pair generator is reused as-is (single
    definition, single oracle derivation); two skinny (doc_id, source)
    joins attach sources; pairs are few post-LSH so the joins are
    cheap at any scale."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
            ),
            "doc_b",
        )
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


ORACLES["dedup_cross_source"] = f"""
    WITH pairs AS ({_sql_minhash_lsh()})
    SELECT d1.source AS source_a, d2.source AS source_b,
           COUNT(*) AS n_pairs
    FROM pairs
    JOIN documents d1 ON pairs.doc_a = d1.doc_id
    JOIN documents d2 ON pairs.doc_b = d2.doc_id
    WHERE d1.source <> d2.source
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

# -- sketch accuracy: MinHash-estimated vs exact Jaccard ---------------------


def dedup_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy report: for every MinHash-LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (fraction of the {k} signature components
    that agree) next to the EXACT shingle Jaccard and their absolute
    error — the calibration check a dedup pipeline runs before trusting
    banding thresholds at scale.

    Generate-then-verify shape: the exact intersection join runs ONLY
    on candidate pairs (cand ⋈ shingles ⋈ shingles — cost bounded by
    candidates × shingles-per-doc, never corpus²); the estimate is a
    {k}-term component comparison on the tiny signature table. The
    shingle projection feeds five subtrees (signatures, both
    intersection sides, both size lookups) — bounded_cache'd so the
    tokenize+shingle pass runs once, not five times."""
    sh = bounded_cache(
        "jaccard_est.sh",
        _shingle_rows(spark, sf_dir).select(
            "doc_id", "shingle", hashing.base_hash("shingle").alias("h")
        ),
    )
    # shared cached signature table (same one the band generator
    # derives from) + a cached candidate set — per-corpus constants
    mins = _minhash_signatures(spark, sf_dir)
    cand = bounded_cache(
        "jaccard_est.cand",
        minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    )
    matches = sum(
        F.when(F.col(f"a.m{j}") == F.col(f"b.m{j}"), 1).otherwise(0)
        for j in range(MINHASH_K)
    )
    est = (
        cand.join(mins.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(mins.alias("b"), F.col("b.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            stable_round(matches / F.lit(float(MINHASH_K)), 6).alias(
                "est_jaccard"
            ),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = stable_round(
        F.coalesce(F.col("n_common"), F.lit(0))
        / (F.col("sa.n") + F.col("sb.n") - F.coalesce(F.col("n_common"), F.lit(0))),
        6,
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .withColumn("jaccard", jac)
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            "jaccard",
            stable_round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6)
            .alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


dedup_jaccard_est.__doc__ = dedup_jaccard_est.__doc__.format(k=MINHASH_K)


def _sql_jaccard_est() -> str:
    h = hashing.sql_base_hash("shingle")
    min_cols = ",\n               ".join(
        f"MIN({hashing.sql_minhash(h, a, b)}) AS m{j}"
        for j, (a, b) in enumerate(_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bnd} AS band, ".format(bnd=bnd)
        + " || '_' || ".join(
            f"CAST(m{bnd * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        + " AS sig FROM mins"
        for bnd in range(LSH_BANDS)
    )
    eq_sum = " + ".join(
        f"CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END"
        for j in range(MINHASH_K)
    )
    exact = (
        "COALESCE(n_common, 0) / "
        "(sa.n + sb.n - COALESCE(n_common, 0))"
    )
    return f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    mins AS (
        SELECT doc_id,
               {min_cols}
        FROM sh GROUP BY doc_id
    ),
    banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.sig = b.sig
                     AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT doc_a, doc_b,
               {sql_stable_round(f"({eq_sum}) / {float(MINHASH_K)}", 6)}
                   AS est_jaccard
        FROM cand
        JOIN mins a ON a.doc_id = doc_a
        JOIN mins b ON b.doc_id = doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT est.doc_a AS doc_a, est.doc_b AS doc_b, est_jaccard,
           {sql_stable_round(exact, 6)} AS jaccard,
           {sql_stable_round(f"abs(est_jaccard - {sql_stable_round(exact, 6)})", 6)}
               AS abs_err
    FROM est
    LEFT JOIN inter ON inter.doc_a = est.doc_a AND inter.doc_b = est.doc_b
    JOIN sizes sa ON sa.doc_id = est.doc_a
    JOIN sizes sb ON sb.doc_id = est.doc_b
    ORDER BY est.doc_a, est.doc_b
"""


ORACLES["dedup_jaccard_est"] = _sql_jaccard_est()

# -- cluster size distribution ----------------------------------------------


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the connected components of the LSH
    pair graph — the dedup report a pipeline publishes (how much of the
    corpus is duplicated, and in what clump sizes). Two tiny aggregates
    on top of `dedup_clusters`' labels; the histogram key space is
    O(max cluster size)."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .orderBy("cluster_size")
    )


ORACLES["dedup_cluster_stats"] = f"""
    WITH base AS ({ORACLES["dedup_clusters"]}),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM base GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_docs
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
"""

# -- per-source dedup reporting ---------------------------------------------


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: docs, distinct fingerprints,
    within-source dup rate, and how many of the source's fingerprints
    also appear in ANOTHER source — the corpus-QA report that decides
    which feeds need dedup attention before a training run (the
    exact-hash complement of dedup_cross_source's near-dup matrix).

    One fingerprint projection → one (source, fp) aggregate; the
    cross-source flag is a groupBy(fp) over the same skinny aggregate
    joined back broadcast-small. No text ever shuffles twice."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source", F.md5(text.normalized()).alias("fp")
    )
    per_src_fp = bounded_cache(
        "dedup_rate.src_fp",
        fp.groupBy("source", "fp").agg(F.count(F.lit(1)).alias("n")),
    )
    shared = (
        per_src_fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_sources"))
        .filter(F.col("n_sources") > 1)
        .select("fp")
    )
    cross = (
        per_src_fp.join(F.broadcast(shared), "fp")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_cross_source_fps"))
    )
    return (
        per_src_fp.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
        )
        .join(cross, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_unique",
            stable_round(
                F.lit(1.0)
                - F.col("n_unique").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            F.coalesce("n_cross_source_fps", F.lit(0)).alias(
                "n_cross_source_fps"
            ),
        )
        .orderBy("source")
    )


ORACLES["dedup_rate_by_source"] = f"""
    WITH fp AS (
        SELECT source, md5({text.sql_normalized()}) AS fp FROM documents
    ),
    src_fp AS (
        SELECT source, fp, COUNT(*) AS n FROM fp GROUP BY 1, 2
    ),
    shared AS (
        SELECT fp FROM src_fp GROUP BY fp HAVING COUNT(*) > 1
    ),
    cross_src AS (
        SELECT source, COUNT(*) AS n_cross_source_fps
        FROM src_fp JOIN shared USING (fp)
        GROUP BY 1
    )
    SELECT s.source AS source,
           CAST(SUM(s.n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           {sql_stable_round(
               "1.0 - CAST(COUNT(*) AS DOUBLE)"
               " / CAST(SUM(s.n) AS DOUBLE)", 6
           )} AS dup_rate,
           COALESCE(MAX(c.n_cross_source_fps), 0) AS n_cross_source_fps
    FROM src_fp s
    LEFT JOIN cross_src c ON c.source = s.source
    GROUP BY s.source
    ORDER BY source
"""

# -- threshold-tuning histogram ---------------------------------------------

SIM_HIST_BINS = 10


def dedup_similarity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair similarity HISTOGRAM: exact shingle Jaccard over
    every shared-shingle candidate pair, bucketed into {b} bins — the
    threshold-tuning curve (how many pairs would a τ cut keep?) a
    dedup pipeline inspects before committing to JACCARD_TAU, plus
    each bin's cumulative pairs-at-or-above count.

    Reuses the SAME cached sizes/intersection tables as
    ngram_jaccard_pairs and dedup_containment — zero new corpus-sized
    work; the histogram is one tiny aggregate + a {b}-row window."""
    _, sizes, inter = _shared_shingle_tables(spark, sf_dir)
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    binned = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least(
                F.lit(SIM_HIST_BINS - 1),
                F.floor(jac * SIM_HIST_BINS).cast("int"),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        binned.withColumn("n_pairs_at_or_above", F.sum("n_pairs").over(w))
        .select(
            "bin",
            stable_round(
                F.col("bin").cast("double") / SIM_HIST_BINS, 2
            ).alias("tau_lo"),
            "n_pairs",
            "n_pairs_at_or_above",
        )
        .orderBy("bin")
    )


dedup_similarity_hist.__doc__ = dedup_similarity_hist.__doc__.format(
    b=SIM_HIST_BINS
)

ORACLES["dedup_similarity_hist"] = f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    binned AS (
        SELECT CAST(LEAST({SIM_HIST_BINS - 1},
                     CAST(FLOOR((n_common
                                 / (sa.n_shingles + sb.n_shingles - n_common))
                                * {SIM_HIST_BINS}) AS INT)) AS INT) AS bin,
               COUNT(*) AS n_pairs
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        GROUP BY 1
    )
    SELECT bin,
           {sql_stable_round(
               f"CAST(bin AS DOUBLE) / {SIM_HIST_BINS}", 2
           )} AS tau_lo,
           n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bin DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT)
               AS n_pairs_at_or_above
    FROM binned
    ORDER BY bin
"""

# -- duplicated-passage extraction (round 4) --------------------------------

PASSAGE_K = 8  # tokens per sliding passage window
PASSAGE_TOP = 40


def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top duplicated {k}-token passages across the corpus: every
    sliding {k}-gram window (NON-distinct within a doc — occurrence
    counts matter here, unlike the shingle sketch paths), kept when it
    appears in >= 2 distinct documents. The exact-substring-dedup
    signal of Lee et al. 2021 ("Deduplicating Training Data Makes LMs
    Better"): repeated passages are what a suffix-array dedup would
    cut, and this table is the report that sizes that cut.

    Shape: tokenize-once projection -> explode sliding windows ->
    one (passage) agg counting rows + distinct docs -> global top-{top}
    (rank pushes down as TakeOrderedAndProject). The window explode is
    ~n_tokens rows per doc — same volume class as every shingle path
    here; the agg's map-side partial collapses repeats before the
    shuffle."""
    d = fan_out(spark, load_table(spark, sf_dir, "documents"), 16)
    k = PASSAGE_K
    parts = ", ' ', ".join(f"element_at(__toks, i + {j})" for j in range(k))
    windows = F.expr(
        f"CASE WHEN size(__toks) >= {k} "
        f"THEN transform(sequence(1, size(__toks) - {k - 1}), "
        f"i -> concat({parts})) ELSE array() END"
    )
    passages = d.select("doc_id", text.tokens().alias("__toks")).select(
        "doc_id", F.explode(windows).alias("passage")
    )
    return (
        passages.groupBy("passage")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("passage"))
        .limit(PASSAGE_TOP)
    )


dedup_passage.__doc__ = dedup_passage.__doc__.format(k=PASSAGE_K, top=PASSAGE_TOP)

ORACLES["dedup_passage"] = f"""
    WITH toks AS (
        SELECT doc_id, {text.sql_tokens()} AS t FROM documents
    ),
    win AS (
        SELECT doc_id, u.passage
        FROM (
            SELECT doc_id,
                   CASE WHEN len(t) >= {PASSAGE_K}
                        THEN list_transform(
                            generate_series(1, len(t) - {PASSAGE_K - 1}),
                            i -> array_to_string(t[i:i+{PASSAGE_K - 1}], ' '))
                        ELSE [] END AS ps
            FROM toks
        ), UNNEST(ps) AS u(passage)
    )
    SELECT passage, CAST(COUNT(*) AS INT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS INT) AS n_docs
    FROM win
    GROUP BY passage
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, passage
    LIMIT {PASSAGE_TOP}
"""


# -- prefix-filtered similarity join (round 3) ------------------------------

def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (All-Pairs / PPJoin family,
    Bayardo et al. '07, Xiao et al. '08): order every document's
    shingles by a GLOBAL rarest-first key (df asc, shingle asc) and
    keep only the first n - ceil(tau*n) + 1 as its PREFIX; any pair
    with Jaccard >= tau must collide inside both prefixes, so the
    candidate join runs on prefix rows only — the standard way to
    shrink an inverted-index similarity join's Σ df² cost at corpus
    scale, beside the df-cap (lossy) and MinHash (probabilistic)
    routes: prefix filtering is LOSSLESS.

    Emits a one-row audit: full-index vs prefix-index candidate-pair
    counts, the true-pair count computed over EACH candidate set, and
    the losslessness verdict (they must match — and both engines
    recompute both sides, so the verdict is hash-checked, not pinned).
    Thresholding is integer-exact ((1+tau)*common >= tau*(na+nb), no
    float edge), prefix length is integer math, and the global order
    is total — so the oracle rebuilds the identical prefixes.

    Shuffle profile: one df agg, one sh⋈df join + per-doc rank window,
    the (smaller) prefix self-join, then joins against the SHARED
    cached intersection/size tables — no new corpus-sized state."""
    sh, sizes, inter = _shared_shingle_tables(spark, sf_dir)
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    by_rarity = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pref = bounded_cache(
        "prefix.rows",
        sh.join(df_tbl, "shingle")
        .withColumn("pos", F.row_number().over(by_rarity))
        .join(sizes, "doc_id")
        # tau = 1/2: prefix length p = n - ceil(n/2) + 1, all integer
        .filter(
            F.col("pos")
            <= F.col("n_shingles")
            - F.expr("(n_shingles + 1) div 2")
            + F.lit(1)
        )
        .select("doc_id", "shingle"),
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    pref_pairs = bounded_cache(
        "prefix.pairs",
        pa.join(
            pb,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct(),
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")
    )
    # integer-exact tau=1/2 test: J >= 1/2  <=>  3*common >= na + nb
    scored = inter.join(sa, "doc_a").join(sb, "doc_b")
    qualifies = (F.lit(3) * F.col("n_common")) >= (F.col("na") + F.col("nb"))
    n_full = inter.agg(F.count(F.lit(1)).alias("n_full_candidates"))
    n_pref = pref_pairs.agg(F.count(F.lit(1)).alias("n_prefix_candidates"))
    true_full = scored.filter(qualifies).agg(
        F.count(F.lit(1)).alias("n_true_full")
    )
    true_pref = (
        scored.join(pref_pairs, ["doc_a", "doc_b"])
        .filter(qualifies)
        .agg(F.count(F.lit(1)).alias("n_true_prefix"))
    )
    return (
        n_full.crossJoin(F.broadcast(n_pref))
        .crossJoin(F.broadcast(true_full))
        .crossJoin(F.broadcast(true_pref))
        .select(
            "n_full_candidates",
            "n_prefix_candidates",
            stable_round(
                F.lit(1.0)
                - F.col("n_prefix_candidates").cast("double")
                / F.col("n_full_candidates").cast("double"),
                6,
            ).alias("candidate_reduction"),
            F.col("n_true_full").alias("n_true_pairs"),
            (F.col("n_true_prefix") == F.col("n_true_full")).alias(
                "lossless"
            ),
        )
    )


ORACLES["dedup_prefix_filter"] = f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    dft AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
    ranked AS (
        SELECT s.doc_id, s.shingle,
               ROW_NUMBER() OVER (
                   PARTITION BY s.doc_id ORDER BY d.df, s.shingle
               ) AS pos,
               z.n_shingles
        FROM sh s JOIN dft d USING (shingle) JOIN sizes z USING (doc_id)
    ),
    pref AS (
        SELECT doc_id, shingle FROM ranked
        WHERE pos <= n_shingles - ((n_shingles + 1) // 2) + 1
    ),
    pref_pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b, i.n_common,
               sa.n_shingles AS na, sb.n_shingles AS nb
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT (SELECT COUNT(*) FROM inter) AS n_full_candidates,
           (SELECT COUNT(*) FROM pref_pairs) AS n_prefix_candidates,
           {sql_stable_round(
               '1.0 - CAST((SELECT COUNT(*) FROM pref_pairs) AS DOUBLE)'
               ' / CAST((SELECT COUNT(*) FROM inter) AS DOUBLE)', 6)}
               AS candidate_reduction,
           (SELECT COUNT(*) FROM scored
            WHERE 3 * n_common >= na + nb) AS n_true_pairs,
           (SELECT COUNT(*) FROM scored s
            JOIN pref_pairs p
              ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
            WHERE 3 * n_common >= na + nb)
               = (SELECT COUNT(*) FROM scored
                  WHERE 3 * n_common >= na + nb) AS lossless
"""


# -- LSH banding tuning table (round 3) -------------------------------------

# (bands, rows) splits of the SAME 16 minhashes — the S-curve knob:
# more bands = lower collision threshold (higher recall, more pairs).
LSH_TUNE_CONFIGS = ((2, 8), (4, 4), (8, 2))


def dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuning table: for each (bands x rows) split of the
    shared {k}-minhash signature, the theoretical S-curve threshold
    (1/b)^(1/r) next to the MEASURED candidate-pair count and
    candidate fraction of all possible pairs — the table a dedup
    deployment reads to pick its banding before a corpus-scale run
    (MMDS ch.3 tuning methodology).

    All three configs re-band the ONE cached signature table (k min
    aggregates paid once); each config costs a posexplode + band
    self-join over (doc_id, sig) rows and a count — candidate volume,
    not corpus volume. The outputs are integer counts and fixed
    Python-literal thresholds, so the hash gate is exact."""
    mins = _minhash_signatures(spark, sf_dir)
    n_docs = F.broadcast(
        mins.agg(F.count(F.lit(1)).alias("n_docs"))
    )
    outs = []
    for bands, rows in LSH_TUNE_CONFIGS:
        band_sigs = [
            F.concat_ws(
                "_", *[f"m{bnd * rows + r}" for r in range(rows)]
            ).alias(f"band{bnd}")
            for bnd in range(bands)
        ]
        banded = mins.select(
            "doc_id", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
        )
        a, b = banded.alias("a"), banded.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        outs.append(
            pairs.agg(F.count(F.lit(1)).alias("n_candidates")).select(
                F.lit(bands).alias("n_bands"),
                F.lit(rows).alias("rows_per_band"),
                F.lit(round((1 / bands) ** (1 / rows), 6)).alias(
                    "est_threshold"
                ),
                "n_candidates",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return (
        out.crossJoin(n_docs)
        .select(
            "n_bands",
            "rows_per_band",
            "est_threshold",
            "n_candidates",
            stable_round(
                F.col("n_candidates").cast("double")
                / (
                    F.col("n_docs").cast("double")
                    * (F.col("n_docs") - 1).cast("double")
                    / F.lit(2.0)
                ),
                6,
            ).alias("candidate_frac"),
        )
        .orderBy("n_bands")
    )


dedup_lsh_tuning.__doc__ = dedup_lsh_tuning.__doc__.format(k=MINHASH_K)


def _sql_lsh_tuning() -> str:
    h = hashing.sql_base_hash("shingle")
    min_cols = ",\n               ".join(
        f"MIN({hashing.sql_minhash(h, a, b)}) AS m{j}"
        for j, (a, b) in enumerate(_SEEDS)
    )
    config_rows = []
    for bands, rows in LSH_TUNE_CONFIGS:
        band_selects = " UNION ALL ".join(
            "SELECT doc_id, {bnd} AS band, ".format(bnd=bnd)
            + " || '_' || ".join(
                f"CAST(m{bnd * rows + r} AS VARCHAR)" for r in range(rows)
            )
            + " AS sig FROM mins"
            for bnd in range(bands)
        )
        config_rows.append(f"""
        SELECT {bands} AS n_bands, {rows} AS rows_per_band,
               CAST({round((1 / bands) ** (1 / rows), 6)!r} AS DOUBLE)
                   AS est_threshold,
               (SELECT COUNT(*) FROM (
                   SELECT DISTINCT a.doc_id, b.doc_id
                   FROM ({band_selects}) a
                   JOIN ({band_selects}) b
                     ON a.band = b.band AND a.sig = b.sig
                    AND a.doc_id < b.doc_id)) AS n_candidates
        """)
    unioned = " UNION ALL ".join(config_rows)
    return f"""
    WITH sh AS ({text.sql_shingle_rows()}),
    mins AS (
        SELECT doc_id,
               {min_cols}
        FROM sh GROUP BY doc_id
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM mins),
    cfg AS ({unioned})
    SELECT n_bands, rows_per_band, est_threshold, n_candidates,
           {sql_stable_round(
               'CAST(n_candidates AS DOUBLE)'
               ' / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0)', 6)}
               AS candidate_frac
    FROM cfg CROSS JOIN nd
    ORDER BY n_bands
    """


ORACLES["dedup_lsh_tuning"] = _sql_lsh_tuning()


# -- source-pair fingerprint overlap (round 3) -------------------------------

def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair EXACT-content overlap: Jaccard of the two sources'
    distinct fingerprint sets, for every source pair — the
    mirror-site / syndication matrix at the SOURCE level (the
    set-similarity rollup of dedup_cross_source's pair counts and
    dedup_rate_by_source's per-source scalars: which feeds are
    near-copies of each other and should be collapsed before
    training).

    One skinny distinct (source, fp) grid; the pair join is an
    equi-join ON fp (cost ∝ Σ_fp df² over SOURCES — df ≤ n_sources,
    so bounded by n_sources² per fingerprint, never corpus-sized);
    set sizes broadcast back; Jaccard stays integer/double exact.
    Emits the FULL n_sources² /2 pair matrix (zero-overlap pairs
    included, via a broadcast size-pair frame) so the gate is never
    vacuously empty — driver data has no exact cross-source dups, and
    the all-zeros matrix is itself the (checkable) finding."""
    d = load_table(spark, sf_dir, "documents")
    grid = bounded_cache(
        "srcoverlap.grid",
        d.select(
            "source", F.md5(text.normalized()).alias("fp")
        ).distinct(),
    )
    sizes = grid.groupBy("source").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = grid.alias("a"), grid.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_fp").alias("nb"))
    all_pairs = sa.crossJoin(F.broadcast(sb)).filter(
        F.col("source_a") < F.col("source_b")
    )
    return (
        all_pairs.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)))
        .select(
            "source_a",
            "source_b",
            "n_common",
            stable_round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
    )


ORACLES["dedup_source_overlap"] = f"""
    WITH grid AS (
        SELECT DISTINCT source, md5({text.sql_normalized()}) AS fp
        FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n_fp FROM grid GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS nc
        FROM grid a JOIN grid b
          ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    ),
    all_pairs AS (
        SELECT sa.source AS source_a, sb.source AS source_b,
               sa.n_fp AS na, sb.n_fp AS nb
        FROM sizes sa CROSS JOIN sizes sb
        WHERE sa.source < sb.source
    )
    SELECT p.source_a, p.source_b,
           COALESCE(i.nc, 0) AS n_common,
           {sql_stable_round(
               'CAST(COALESCE(i.nc, 0) AS DOUBLE)'
               ' / CAST(p.na + p.nb - COALESCE(i.nc, 0) AS DOUBLE)', 6)}
               AS jaccard
    FROM all_pairs p
    LEFT JOIN inter i
      ON i.source_a = p.source_a AND i.source_b = p.source_b
    ORDER BY jaccard DESC, p.source_a, p.source_b
"""


# -- truncation/prefix duplicates (round 10) -----------------------------------

PREFIX_KEY_LEN = 48
PREFIX_KEY_CAP = 1000


def dedup_doc_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation duplicates: pairs where one normalized document is a
    strict PREFIX of a longer one — the cut-off/re-crawl dup class that
    exact and shingle dedup both miss (the longer doc's extra tail
    dilutes Jaccard below any sane τ, and the fingerprints differ).

    Candidate generation is an equi-join on the first {k} normalized
    characters — by definition every prefix pair shares the shorter
    doc's whole prefix, so blocking on {k} chars is LOSSLESS for
    shorter docs ≥ {k} chars (shorter ones are excluded, documented).
    `startswith` verification runs only inside blocks. Hot blocks
    (boilerplate openings shared by > {cap} docs) are dropped on BOTH
    engines — the same df-cap posture as dedup_ngram_jaccard — so one
    viral preamble cannot quadratically explode a block at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    norm = bounded_cache(
        "prefixdup.norm",
        d.select(
            "doc_id",
            F.coalesce(text.normalized(), F.lit("")).alias("t"),
        )
        .withColumn("t_len", F.length("t"))
        .filter(F.col("t_len") >= PREFIX_KEY_LEN)
        .withColumn("pkey", F.substring("t", 1, PREFIX_KEY_LEN)),
    )
    hot = norm.groupBy("pkey").agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") > PREFIX_KEY_CAP
    )
    cold = norm.join(hot.select("pkey"), "pkey", "left_anti")
    a = cold.select(
        F.col("pkey"),
        F.col("doc_id").alias("short_doc"),
        F.col("t").alias("_ta"),
        F.col("t_len").alias("short_len"),
    )
    b = cold.select(
        F.col("pkey"),
        F.col("doc_id").alias("long_doc"),
        F.col("t").alias("_tb"),
        F.col("t_len").alias("long_len"),
    )
    return (
        a.join(b, "pkey")
        .filter(
            (F.col("short_len") < F.col("long_len"))
            & F.col("_tb").startswith(F.col("_ta"))
        )
        .select("short_doc", "long_doc", "short_len", "long_len")
        .orderBy("short_doc", "long_doc")
    )


dedup_doc_prefix.__doc__ = dedup_doc_prefix.__doc__.format(
    k=PREFIX_KEY_LEN, cap=PREFIX_KEY_CAP
)


ORACLES["dedup_doc_prefix"] = f"""
    WITH norm AS (
        SELECT doc_id,
               COALESCE({text.sql_normalized()}, '') AS t
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, t, length(t) AS t_len,
               substr(t, 1, {PREFIX_KEY_LEN}) AS pkey
        FROM norm
        WHERE length(t) >= {PREFIX_KEY_LEN}
    ),
    cold AS (
        SELECT * FROM keyed
        WHERE pkey NOT IN (SELECT pkey FROM keyed
                           GROUP BY pkey
                           HAVING COUNT(*) > {PREFIX_KEY_CAP})
    )
    SELECT a.doc_id AS short_doc, b.doc_id AS long_doc,
           CAST(a.t_len AS INT) AS short_len,
           CAST(b.t_len AS INT) AS long_len
    FROM cold a
    JOIN cold b ON a.pkey = b.pkey
               AND a.t_len < b.t_len
               AND starts_with(b.t, a.t)
    ORDER BY short_doc, long_doc
"""
