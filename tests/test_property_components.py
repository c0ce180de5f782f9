"""Property-based pin of the connected-components propagation loop
(operators/dedup.min_label_propagate) — the engine's only ITERATIVE
operator, behind both the MinHash document clusters and the embedding
clusters. The oracle gate re-proves it on the driver pair graphs each
round; this model attacks the loop itself with hypothesis-generated
graphs against a union-find that shares no code: multi-component
topologies, stars (fixpoint after the fused first hop), self-loops,
and deep chains whose convergence runs through many rounds, each one
reading the previous round's checkpointed labels.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.operators.dedup import (
    min_label_propagate,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=12,
)


def _union_find_labels(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list] = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    return {
        v: min(members) for root, members in comp.items() for v in members
    }


@given(edges=_EDGES)
# a 15-vertex chain: convergence needs 14 rounds, each reading the
# previous round's localCheckpoint — the shape that catches
# lineage/caching bugs in the loop plumbing
@example(edges=[(i, i + 1) for i in range(14)])
# two disjoint components + a self-loop singleton
@example(edges=[(0, 1), (1, 2), (5, 6), (8, 8)])
# a star: the fused first hop IS the fixpoint; loop must still
# terminate after one confirming round
@example(edges=[(0, k) for k in range(1, 8)])
@settings(**_SETTINGS)
def test_min_label_propagation_equals_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    sym = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = min_label_propagate(sym)
    try:
        got = {r["doc_id"]: r["label"] for r in labels.collect()}
    finally:
        labels.unpersist()
    assert got == _union_find_labels(edges)
