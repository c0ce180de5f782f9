"""Semantic checks for dedup/similarity beyond oracle parity: inject a
known near-duplicate and verify each method finds it."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions import text as ftext
from big_data_parallel_computing_hw2_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs_with_dup(spark, sf_dir):
    """documents ∪ a copy of doc 0 with doc_id 100000 (exact dup) and a
    near-copy with one word changed (doc_id 100001)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") == 0)
    exact = base.withColumn("doc_id", F.lit(100000))
    near = base.withColumn("doc_id", F.lit(100001)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extraword"))
    )
    return d.unionByName(exact).unionByName(near)


def _patched(monkeypatch, df):
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    monkeypatch.setattr(
        dd, "load_table", lambda spark, sf_dir, name: df
    )


def test_exact_dedup_finds_injected_copy(spark, sf_dir, docs_with_dup, monkeypatch):
    _patched(monkeypatch, docs_with_dup)
    out = dedup.dedup_exact(spark, sf_dir)
    dup_group = out.filter(F.col("n_copies") > 1).collect()
    assert len(dup_group) == 1
    assert dup_group[0]["keeper_doc_id"] == 0
    assert dup_group[0]["n_copies"] == 2


def test_minhash_lsh_finds_injected_near_dup(spark, sf_dir, docs_with_dup, monkeypatch):
    _patched(monkeypatch, docs_with_dup)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert (0, 100000) in pairs  # identical text → identical signature
    assert (0, 100001) in pairs or (100000, 100001) in pairs


def test_ngram_jaccard_scores_injected_near_dup(
    spark, sf_dir, docs_with_dup, monkeypatch
):
    _patched(monkeypatch, docs_with_dup)
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert rows[(0, 100000)] == 1.0
    assert rows[(0, 100001)] > 0.9


def test_simhash_detects_identical_text(spark, sf_dir, docs_with_dup, monkeypatch):
    _patched(monkeypatch, docs_with_dup)
    st = {r["doc_id"]: r["simhash"] for r in dedup.simhash_table(spark, sf_dir).collect()}
    assert st[0] == st[100000]  # identical token set → identical simhash
    # near-dup differs in few bits
    assert bin(st[0] ^ st[100001]).count("1") < 20


def test_knn_bruteforce_self_similarity(spark, sf_dir):
    """Top-1 neighbor of each query has the max cosine among all
    non-self vectors — verify against numpy for query 0."""
    rows = similarity.knn_bruteforce(spark, sf_dir).filter(
        F.col("query_id") == 0
    ).collect()
    assert [r["rnk"] for r in rows] == [1, 2, 3, 4, 5]
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    vecs = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    ids = np.array(t["vec_id"].to_pylist())
    q = vecs[ids == 0][0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    cos[ids == 0] = -2
    assert rows[0]["neighbor_id"] == ids[int(np.argmax(cos))]


def test_ann_lsh_subset_of_bruteforce_candidates(spark, sf_dir):
    """every LSH result is a real vector with correctly computed cosine
    (cross-checked against the brute-force scores)."""
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.knn_bruteforce(spark, sf_dir).collect()
    }
    for r in similarity.ann_lsh(spark, sf_dir).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert bf[key] == r["cosine"]


def test_ann_filtered_label_homogeneous_and_scores_exact(spark, sf_dir):
    """Every filtered-ANN neighbor shares its query's label; ranks are
    contiguous from 1; and each (query, neighbor) cosine matches the
    brute-force score (the filter changes the candidate set, never the
    scoring math)."""
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.knn_bruteforce(spark, sf_dir).collect()
    }
    rows = similarity.ann_filtered(spark, sf_dir).collect()
    assert rows, "filtered ANN returned no rows on the test corpus"
    by_q: dict = {}
    for r in rows:
        assert labels[r["neighbor_id"]] == labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert bf[key] == r["cosine"]
    for q, rnks in by_q.items():
        assert rnks == list(range(1, len(rnks) + 1))


def test_shingles_expression(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    out = df.select(ftext.shingles().alias("sh")).collect()[0]["sh"]
    assert out == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert short.select(ftext.shingles().alias("sh")).collect()[0]["sh"] == []


def test_clusters_consistent_with_pairs(spark, sf_dir):
    """Every candidate pair's endpoints land in the same cluster, and
    each cluster id is the min doc_id of its members."""
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    cl = {r["doc_id"]: r["cluster_id"]
          for r in dd.dedup_clusters(spark, sf_dir).collect()}
    pairs = dd.minhash_lsh_pairs(spark, sf_dir).collect()
    assert pairs, "expected candidate pairs at this SF"
    for r in pairs:
        assert cl[r["doc_a"]] == cl[r["doc_b"]]
    members: dict[int, list[int]] = {}
    for doc, c in cl.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_embedding_dedup_lsh_vs_bruteforce(spark, sf_dir):
    """The registered LSH-blocked dedup_embedding is exhaustive-checked
    against the brute-force baseline: every emitted pair is a TRUE
    ≥-τ pair with the identical decimal-stable cosine (precision
    exactness, not approximation). Recall: the testdata's pairs all
    sit at cosine 0.40-0.47 — sign-LSH's hardest regime, theory
    ≈0.34-0.45 with 4 tables × 5 bits, measured 0.35 at sf0.001
    (≈0.92 at a real near-dup threshold c=0.9). Floor at 0.2 so only
    a bucketing collapse (≈0 recall, like the single-table config)
    fails."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup.embedding_pairs(spark, sf_dir).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_dedup_lsh(spark, sf_dir).collect()
    }
    assert approx, "expected near-dup pairs at this SF"
    for pair, cos in approx.items():
        assert exact[pair] == cos  # no false positives, exact scores
    assert len(approx) / len(exact) >= 0.2


def test_embedding_bruteforce_cap_guard(spark, sf_dir, monkeypatch):
    """The brute-force baseline refuses loudly (instead of OOMing the
    driver) beyond its broadcast ceiling."""
    monkeypatch.setattr(dedup, "BRUTE_FORCE_MAX_VECS", 10)
    with pytest.raises(ValueError, match="embedding_dedup_lsh"):
        dedup.embedding_pairs(spark, sf_dir)


def test_ngram_jaccard_hot_shingle_cap(spark, sf_dir, monkeypatch):
    """Scale guard: ONE stopword-like shingle shared by m docs creates
    m² candidate pairs. With the df cap the hot shingle is dropped from
    the representation (its all-pairs clique vanishes) while the true
    near-dup pair — held together by many RARE shingles — is still
    found; and the capped Spark path matches its capped DuckDB mirror.
    """
    import duckdb

    base = " ".join(f"w{i}" for i in range(20))
    hot = "zz yy xx"  # 3 tokens → exactly one shingle, df = 8
    rows = [(1, base), (2, base + " tweak")] + [
        (i, hot) for i in range(3, 11)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    _patched(monkeypatch, df)

    u = {(r["doc_a"], r["doc_b"]) for r in
         dedup.ngram_jaccard_pairs(spark, sf_dir).collect()}
    capped_rows = dedup.ngram_jaccard_pairs(spark, sf_dir, df_cap=5).collect()
    c = {(r["doc_a"], r["doc_b"]) for r in capped_rows}

    assert (1, 2) in u and (1, 2) in c  # true-dup recall holds
    # uncapped: the hot shingle makes every pair of docs 3..10 jaccard=1
    assert {(a, b) for a, b in u if a >= 3} == {
        (a, b) for a in range(3, 11) for b in range(a + 1, 11)
    }
    assert not {(a, b) for a, b in c if a >= 3}  # clique gone when capped

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    duck = con.execute(dedup.sql_ngram_jaccard(df_cap=5)).fetchall()
    assert sorted((a, b, j) for a, b, j in duck) == sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in capped_rows
    )


def test_label_propagation_deep_chain_bounded_lineage(spark):
    """A chain of n vertices converges in n - 1 rounds (the fused first
    hop moves every label one hop, each round one more, and one round
    confirms the fixpoint). Results must be exact (all vertices labeled
    0); every round must cost the same number of Spark jobs, so the
    job count grows by a fixed step per added round; and the FINAL plan
    must not have accreted one join per round — each round's labels
    are checkpointed, so the fixpoint's plan is smaller than two rounds
    of the propagation plan."""
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    sc = spark.sparkContext

    def propagate(n):
        chain = [(i, i + 1) for i in range(n - 1)]
        edges = spark.createDataFrame(
            chain + [(b, a) for a, b in chain], "doc_a long, doc_b long"
        )
        group = f"label-propagation-chain-{n}"
        sc.setJobGroup(group, group)
        try:
            labels = dd.min_label_propagate(edges)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got = {r["doc_id"]: r["label"] for r in labels.collect()}
        assert got == {i: 0 for i in range(n)}
        # job records arrive through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return edges, labels, len(sc.statusTracker().getJobIdsForGroup(group))

    # 7, 11 and 15 rounds: equal steps of 4 rounds must add equal jobs
    runs = [propagate(n) for n in (8, 12, 16)]
    jobs = [r[2] for r in runs]
    edges, labels, _ = runs[-1]
    step = jobs[1] - jobs[0]
    assert step > 0 and step % 4 == 0, jobs
    assert jobs[2] - jobs[1] == step, f"jobs per round grow: {jobs}"

    # single-round plan (join + groupBy over labels ∪ msgs) as the
    # yardstick for the checkpointed fixpoint's plan
    msgs = edges.join(
        labels.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select(F.col("doc_b").alias("doc_id"), "label")
    one_round = (
        labels.unionByName(msgs)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )
    depth_final = len(labels._jdf.queryExecution().analyzed().toString())
    depth_round = len(one_round._jdf.queryExecution().analyzed().toString())
    assert depth_final < depth_round * 2


def test_components_from_pairs_reads_pairs_once(spark, tmp_path):
    """Symmetrizing the pair graph must not evaluate the pair plan
    twice: the source relation of the pairs appears ONCE in the cached
    edge frame's optimized plan (a union with a swapped copy would scan
    it, and recompute everything upstream of it, in each branch)."""
    from big_data_parallel_computing_hw2_spark.functions import cache
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    src = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    ).write.parquet(src)
    labels = dd.components_from_pairs(
        spark.read.parquet(src), "test_components.edges"
    )
    try:
        assert sorted(tuple(r) for r in labels.collect()) == [
            (1, 1), (2, 1), (3, 1), (5, 5), (6, 5)
        ]
        edges = cache._LIVE["test_components.edges"]
        plan = edges._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count(src) == 1, plan
        assert sorted(tuple(r) for r in edges.collect()) == [
            (1, 2), (2, 1), (2, 3), (3, 2), (5, 6), (6, 5)
        ]
    finally:
        cache.release("test_components.edges")


def test_components_from_pairs_adds_no_jobs_to_propagation(spark):
    """components_from_pairs is symmetrization + min_label_propagate and
    nothing else: it fires exactly as many Spark jobs as the propagation
    loop over the same cached edge list (the loop's last labels are
    already a filled checkpoint — a second, eager checkpoint on top
    would be one wasted job per cluster query)."""
    from big_data_parallel_computing_hw2_spark.functions import cache
    from big_data_parallel_computing_hw2_spark.operators import dedup as dd

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )

    def jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            labels = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return labels, len(sc.statusTracker().getJobIdsForGroup(group))

    slot = "test_components_jobs.edges"
    try:
        ref, ref_jobs = jobs(
            "components-ref",
            lambda: dd.min_label_propagate(cache.bounded_cache(slot, edges)),
        )
        cache.release(slot)
        got, got_jobs = jobs(
            "components-from-pairs",
            lambda: dd.components_from_pairs(pairs, slot),
        )
    finally:
        cache.release(slot)
    assert ref_jobs > 0
    assert got_jobs == ref_jobs
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    ) == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)]


@pytest.mark.parametrize(
    "query, pq_trainings",
    [("knn_ivf_multiprobe", 0), ("knn_ivfpq", 1), ("embedding_ivf_stats", 0)],
)
def test_ivf_family_trains_once_per_call(
    spark, sf_dir, monkeypatch, query, pq_trainings
):
    """Every call of an IVF query trains the coarse quantizer exactly
    once (and knn_ivfpq its residual codebook exactly once): one
    `_ivf_index` per call, no second training for the assignment or the
    residuals, and nothing reused from an earlier call."""
    from collections import Counter

    calls: Counter = Counter()
    for name in ("_ivf_centroids_build", "_pq_codebook_build"):
        real = getattr(similarity, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(similarity, name, counted)
    for n in (1, 2):
        getattr(similarity, query)(spark, sf_dir).collect()
        assert calls["_ivf_centroids_build"] == n, query
        assert calls["_pq_codebook_build"] == n * pq_trainings, query


def test_approx_knn_recall(spark, sf_dir):
    """Approximation quality, not just oracle parity — per-operator
    floors under their sf0.001 measurements (LSH 0.44, trained-IVF
    0.36, trained-IVF nprobe=3 0.60, trained-PQ 0.72 — codebook
    training lifted PQ from 0.40) so a recall collapse (like the
    single-table LSH the multi-table version replaced, or a broken
    Lloyd round collapsing cells) fails loudly."""
    from big_data_parallel_computing_hw2_spark.operators import similarity as sim

    floors = {
        "ann_lsh": 0.3,
        "knn_ivf": 0.25,
        "knn_ivf_multiprobe": 0.5,
        "knn_pq": 0.55,
    }
    exact: dict[int, set] = {}
    for r in sim.knn_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    measured: dict[str, float] = {}
    for fn in (sim.ann_lsh, sim.knn_ivf, sim.knn_ivf_multiprobe, sim.knn_pq):
        approx: dict[int, set] = {}
        for r in fn(spark, sf_dir).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recalls = [
            len(approx.get(q, set()) & nb) / len(nb) for q, nb in exact.items()
        ]
        measured[fn.__name__] = sum(recalls) / len(recalls)
        assert measured[fn.__name__] >= floors[fn.__name__], (
            fn.__name__,
            measured[fn.__name__],
        )
    # probing 3 cells searches a superset of the nprobe=1 cell — recall
    # can only improve
    assert measured["knn_ivf_multiprobe"] >= measured["knn_ivf"]


def test_no_persist_accumulation_across_invocations(spark, sf_dir):
    """bounded_cache and the trainers' checkpoints must bound live
    cached blocks across repeated invocations (bench runs every query
    3×): after a warm-up round, two more full invocations of the
    persist-heavy operators may not grow the JVM's persistent-RDD set.
    Each invocation re-trains its checkpoints; a dead frame's JVM
    handle is only let go when Python's cycle collector reaps its py4j
    proxy, and its blocks only when ContextCleaner sees the JVM object
    collected — so poll through a gc.collect() + System.gc() before
    declaring a leak."""
    import gc
    import time

    def run_once():
        dedup.simhash_pairs(spark, sf_dir).count()
        dedup.dedup_clusters(spark, sf_dir).count()

    def n_persistent():
        # RDDInfo records hold no RDD: a getPersistentRDDs() map handed
        # to Python would pin every RDD it lists until its py4j proxy
        # is collected, so the probe would keep alive what it counts
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    run_once()  # warm-up: fills every bounded_cache/adopt slot
    baseline = n_persistent()
    run_once()
    run_once()
    jvm = spark.sparkContext._jvm
    for _ in range(10):
        if n_persistent() <= baseline:
            break
        gc.collect()  # release py4j handles of dead frames
        jvm.System.gc()  # let ContextCleaner reap superseded checkpoints
        time.sleep(0.5)
    assert n_persistent() <= baseline, (
        f"persisted RDDs grew {baseline} -> {n_persistent()} across "
        "repeated invocations"
    )


def test_knn_join_recall_vs_numpy_exact(spark, sf_dir):
    """Set-to-set kNN join: recall vs a numpy-exact left×right top-k,
    plus ranking invariants (ranks 1..k, cosine non-increasing)."""
    np = __import__("numpy")
    from big_data_parallel_computing_hw2_spark.operators import similarity as sim
    from big_data_parallel_computing_hw2_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    left = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
            for r in rows if r["vec_id"] % sim.KNN_JOIN_MOD == 1}
    right = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
             for r in rows if r["vec_id"] % sim.KNN_JOIN_MOD != 1}
    rids = sorted(right)
    rmat = np.stack([right[i] for i in rids])
    rnorm = np.linalg.norm(rmat, axis=1)
    exact: dict[int, set] = {}
    for lid, v in left.items():
        cos = rmat @ v / (rnorm * np.linalg.norm(v))
        top = np.argsort(-cos)[: sim.KNN_JOIN_K]
        exact[lid] = {rids[i] for i in top}

    got: dict[int, list] = {}
    for r in sim.knn_join(spark, sf_dir).collect():
        got.setdefault(r["left_id"], []).append(r)
    recalls = []
    for lid, rs in got.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        recalls.append(
            len({r["right_id"] for r in rs} & exact[lid]) / sim.KNN_JOIN_K
        )
    # every left vector must have SOME candidates at this SF
    assert len(got) == len(left)
    # measured 0.25 at sf0.001 — the same hardest-regime sign-LSH recall
    # as embedding_dedup_lsh (near-random vectors, cosine ~0.4); the
    # floor guards against a bucketing collapse, not approximation noise
    assert sum(recalls) / len(recalls) >= 0.15


def test_embedding_clusters_consistent_with_pairs(spark, sf_dir):
    """Every vector in a near-dup pair is labeled; both ends of every
    pair share a cluster; every label is a member of its own cluster."""
    from big_data_parallel_computing_hw2_spark.operators import similarity

    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in similarity.embedding_dedup_lsh(spark, sf_dir).collect()
    ]
    labels = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.embedding_clusters(spark, sf_dir).collect()
    }
    assert pairs, "no near-dup pairs at test SF"
    for a, b in pairs:
        assert labels[a] == labels[b]
    for v, c in labels.items():
        assert c <= v
        assert labels[c] == c  # representative labels itself


def test_similarity_hist_consistent_with_pairs(spark, sf_dir):
    """Histogram totals equal the candidate-pair count; the cumulative
    column is a suffix sum; pairs at tau >= JACCARD_TAU agree with
    ngram_jaccard_pairs' output size."""
    from big_data_parallel_computing_hw2_spark.operators import dedup

    rows = sorted(
        dedup.dedup_similarity_hist(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    assert rows
    total = sum(r["n_pairs"] for r in rows)
    # suffix-sum property
    for i, r in enumerate(rows):
        assert r["n_pairs_at_or_above"] == sum(
            x["n_pairs"] for x in rows[i:]
        )
    # cross-check vs the thresholded pair query: JACCARD_TAU=0.5 is a
    # bin boundary (bin >= 5 <=> jaccard >= 0.5)
    n_over_tau = sum(r["n_pairs"] for r in rows if r["tau_lo"] >= 0.5 - 1e-9)
    n_pairs = len(dedup.ngram_jaccard_pairs(spark, sf_dir).collect())
    assert n_over_tau == n_pairs
    assert total >= n_pairs


def test_planes_for_scale_contract():
    """The bits-for-scale rule: every current test SF keeps the tuned
    5-bit family; sf1-equivalent scale demands a re-tune; the chosen b
    always satisfies the n²/2^(b+1) ≤ budget·n candidate contract;
    and the rule is monotone in n."""
    from big_data_parallel_computing_hw2_spark.operators.similarity import (
        CAND_PER_VEC_BUDGET,
        PLANES_PER_TABLE,
        planes_for,
    )

    # current gated scales (sf0.001 ≈ 20, sf0.01 ≈ 200, sf0.1 ≈ 2000
    # vectors) all stay on today's tuned family — no silent re-gate
    for n in (0, 1, 20, 200, 2000, 4096):
        assert planes_for(n) == PLANES_PER_TABLE
    # the sf1 replica's 20k vectors DEMAND a re-tune (the measured
    # 26.5M-candidate round-12 data point is the why)
    assert planes_for(20_000) > PLANES_PER_TABLE
    # candidate-volume contract holds wherever the rule grows
    prev = 0
    for n in (10, 100, 1_000, 4_096, 5_000, 20_000, 10**6, 10**9):
        b = planes_for(n)
        assert b >= prev  # monotone
        prev = b
        if b > PLANES_PER_TABLE:
            assert n * n / 2 ** (b + 1) <= CAND_PER_VEC_BUDGET * n
        # one fewer bit would blow the budget (tightness) once the
        # rule is past its floor
        if b > PLANES_PER_TABLE:
            assert n * n / 2**b > CAND_PER_VEC_BUDGET * n / 2


def test_lsh_recall_estimate_scurve():
    """Recall S-curve sanity: monotone in cosine and tables, strictly
    falling in planes — the quantitative reason a planes_for re-tune
    must re-pick L before the family re-gates."""
    from big_data_parallel_computing_hw2_spark.operators.similarity import (
        N_TABLES,
        PLANES_PER_TABLE,
        lsh_recall_estimate,
    )

    r = lsh_recall_estimate
    # identical vectors always collide; orthogonal ones rarely
    assert r(1.0) == 1.0
    assert r(0.0) < 0.2
    # monotone in similarity
    samples = [r(c) for c in (0.0, 0.3, 0.6, 0.8, 0.95, 1.0)]
    assert samples == sorted(samples)
    # raising b at fixed L loses recall; raising L restores it
    assert r(0.8, planes=8) < r(0.8, planes=PLANES_PER_TABLE)
    assert r(0.8, planes=8, tables=16) > r(0.8, planes=8, tables=N_TABLES)
