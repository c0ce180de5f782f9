"""Two-phase distributed order statistics (exact, no single-reducer window).

A window with no ``partitionBy`` — or NTILE partitioned by a low-cardinality
key over an unbounded row set — funnels every row of the group through ONE
reducer. Correct, but the one plan shape that cannot survive a 100 TB
scale-up. This module replaces that shape with the classic two-phase
decomposition while keeping results EXACTLY equal to the single-window
formulation (so the DuckDB oracles keep hash-matching):

1. **Sketch pass** — one ``percentile_approx`` aggregation derives up to
   ``n_coarse - 1`` range boundaries for the order key per group. They are
   collected to the driver (tiny: n_groups x n_coarse doubles) and re-applied
   as broadcast literals. The boundaries only decide WHERE rows are cut into
   coarse range buckets; *any* boundaries yield the same final ranks/sums, so
   sketch approximation never leaks into results — only into balance.
2. **Local pass** — a window partitioned by ``(group, coarse)`` computes the
   per-bucket ``row_number`` / running sum. Each window group is one range
   slice (~rows / n_coarse of the group), never the whole group.
3. **Prefix pass** — per-bucket counts/sums (n_groups x n_coarse rows) get a
   driver-scale prefix-sum window, and the offsets broadcast-join back:
   ``global = bucket_offset + local``.

Exactness requires the order key tuple to be a TOTAL order (append a unique
tiebreaker column). The coarse key must be numeric and non-null (timestamps:
pass ``unix_micros`` as ``coarse_key``); NULL coarse keys sort into bucket 0,
matching ``ASC NULLS FIRST`` on both engines.

CONTRACT: ``group_cols`` values must be NON-NULL. The sketch broadcast join
and the offsets join use plain (non-null-safe) equality, so rows whose group
key is NULL would be silently dropped — unlike the single-window formulation,
which keeps a NULL partition. Callers with nullable group keys must coalesce
to a sentinel first (every current call site — event_type, ungrouped — is
non-null by construction).

Used by: events_equidepth_hist / events_concurrency (plans/events.py),
customer_rfm (plans/tpch.py), corpus_quality_vs_dup
(operators/textanalysis.py) — the four plans round 3 flagged perf-weak.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_COARSE = 64


SKETCH_ACCURACY = 1000  # balance-only sketch: cheap beats precise

# Grouped boundary tables at or under this many groups apply as a
# literal map instead of a broadcast join (measured calibration in
# with_coarse_bucket). Module-level so tests can force either path.
LITERAL_MAP_MAX_GROUPS = 8


def _empty_double_array() -> Column:
    return F.expr("CAST(array() AS ARRAY<DOUBLE>)")


def double_array_expr(bounds: Sequence[float]) -> Column:
    """Literal ARRAY<DOUBLE> from ONE parsed SQL string instead of
    len(bounds) F.lit py4j roundtrips — the optimized plan is the
    byte-identical CreateArray of literals (repr() of a finite float
    round-trips exactly; non-finite bounds fall back to the Column
    path, which serializes any double). Shared by with_coarse_bucket
    and layout._quantile_bucket so the two can't diverge."""
    import math

    bs = [float(b) for b in bounds]
    if not bs:
        return _empty_double_array()
    if all(math.isfinite(b) for b in bs):
        return F.expr(
            "array(" + ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bs) + ")"
        )
    return F.array(*[F.lit(b) for b in bs])


def with_coarse_bucket(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    n_coarse: int = DEFAULT_COARSE,
    out: str = "_coarse",
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Append an integer range-bucket id ``out`` = #(boundaries <= key).

    ``bounds`` (ungrouped only): caller-supplied boundary values,
    skipping the sketch job — lets an operator that needs several
    bucketings batch all its percentile sketches into ONE aggregation
    (customer_rfm does this for its three signals).

    Runs the sketch pass (one aggregation + driver collect of the tiny
    boundary table) eagerly; the returned plan applies the boundaries as
    literals, so re-evaluating it is deterministic — branching the result
    into several subtrees is safe without caching.

    Measured design note: the array + higher-order ``filter`` count
    BEATS an inlined sum of 63 literal comparisons (1.6 s vs 6.2 s on
    events_equidepth_hist at sf0.1) — the deep literal expression tree
    pays more in codegen than the per-row lambda costs. Per-shape
    measurement, not dogma (cf. the mirrored note in
    similarity._exact_topk)."""
    gcols = list(group_cols)
    key = F.col(key_col).cast("double")
    if bounds is None:
        fracs = [i / n_coarse for i in range(1, n_coarse)]
        # the sketch only decides bucket balance, never values
        rows = (
            df.groupBy(*gcols)
            .agg(
                F.percentile_approx(key, fracs, SKETCH_ACCURACY).alias(
                    "_bounds"
                )
            )
            .collect()
        )
    if not gcols:
        if bounds is None:
            bounds = sorted(set(rows[0]["_bounds"] or [])) if rows else []
        else:
            bounds = sorted({float(b) for b in bounds})
        arr = double_array_expr(bounds)
        with_b = df.withColumn("_bounds", arr)
    else:
        if bounds is not None:
            raise ValueError("precomputed bounds require no group_cols")
        per_group = [
            (
                tuple(r[c] for c in gcols),
                sorted({float(b) for b in (r["_bounds"] or [])}),
            )
            for r in rows
        ]
        if len(gcols) == 1 and len(per_group) <= LITERAL_MAP_MAX_GROUPS:
            # Few groups, one key: apply the boundary table as a LITERAL
            # map lookup instead of a broadcast join against an
            # RDD-backed local relation. Same values (every group in df
            # appears in the sketch output, so the join was never
            # null-extending); cheaper per action (no broadcast build,
            # no LogicalRDD — which also never canonicalizes equal, so
            # it poisoned semantic-hash cache reuse downstream).
            # Threshold measured at sf0.1: 5 groups × 63 bounds wins
            # (events_equidepth_hist 1.53 → 1.08 s) but 20 × 63 loses
            # (sample_weighted 0.84 → 1.31 s — the per-row lookup into
            # a 1260-entry literal map costs more than the broadcast
            # join it replaces), so the literal path stops at 8. Large
            # group counts keep the join anyway — a literal map over
            # millions of groups would be a driver-sized plan at 100 TB.
            # NULL group keys are SKIPPED when building the map:
            # CreateMap throws on a null key at runtime, while a null
            # LOOKUP key already returns null → coalesce to bucket 0 —
            # exactly what the broadcast left join did (no match →
            # _bounds null → bucket 0), so semantics are preserved for
            # callers that violate the module's non-null contract
            # (ADVICE r13). All-null group data degenerates to a typed
            # null lookup (create_map() with no args types as
            # map<void,void> and fails analysis against a real key).
            nn = [(k, bs) for k, bs in per_group if k[0] is not None]
            if nn:
                m = F.create_map(
                    *[
                        x
                        for key, bs in nn
                        for x in (F.lit(key[0]), double_array_expr(bs))
                    ]
                )
                lookup = m[F.col(gcols[0])]
            else:
                lookup = F.lit(None).cast(T.ArrayType(T.DoubleType()))
            with_b = df.withColumn("_bounds", lookup)
        else:
            schema = T.StructType(
                [df.schema[c] for c in gcols]
                + [T.StructField("_bounds", T.ArrayType(T.DoubleType()))]
            )
            data = [key + (bs,) for key, bs in per_group]
            small = df.sparkSession.createDataFrame(data, schema)
            with_b = df.join(F.broadcast(small), on=gcols, how="left")
    coarse = F.size(F.filter(F.col("_bounds"), lambda b: b <= key))
    return with_b.withColumn(
        out, F.coalesce(coarse, F.lit(0)).cast("int")
    ).drop("_bounds")


def _prefix_offsets(
    per_bucket: DataFrame, gcols: list[str], agg_col: str
) -> DataFrame:
    # n_groups x n_coarse rows — a driver-scale window, never data-scale
    w = Window.partitionBy(*gcols).orderBy("_coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return per_bucket.select(
        *gcols,
        "_coarse",
        F.coalesce(F.sum(agg_col).over(w), F.lit(0)).alias("_off"),
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    n_coarse: int = DEFAULT_COARSE,
    out: str = "rank",
    coarse_key: str | None = None,
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Exact per-group ``row_number() over (order by order_cols)`` without a
    group-wide window. ``order_cols`` must be a total order within each
    group (unique tiebreaker last); ``coarse_key`` defaults to
    ``order_cols[0]`` and must be numeric. ``bounds`` as in
    :func:`with_coarse_bucket`."""
    gcols = list(group_cols)
    ocols = list(order_cols)
    b = with_coarse_bucket(
        df, coarse_key or ocols[0], gcols, n_coarse, bounds=bounds
    )
    counts = b.groupBy(*gcols, "_coarse").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    offs = _prefix_offsets(counts, gcols, "_cnt")
    w_loc = Window.partitionBy(*gcols, "_coarse").orderBy(*ocols)
    return (
        b.join(F.broadcast(offs), on=gcols + ["_coarse"])
        .withColumn(
            out, (F.col("_off") + F.row_number().over(w_loc)).cast("bigint")
        )
        .drop("_coarse", "_off")
    )


def running_sum(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    n_coarse: int = DEFAULT_COARSE,
    out: str = "running",
    coarse_key: str | None = None,
) -> DataFrame:
    """Exact per-group running ``sum(value_col)`` in ``order_cols`` order —
    the two-phase prefix sum (per-bucket partials + broadcast prefix
    offsets). Same totality/coarse-key contract as :func:`global_rank`."""
    gcols = list(group_cols)
    ocols = list(order_cols)
    b = with_coarse_bucket(df, coarse_key or ocols[0], gcols, n_coarse)
    sums = b.groupBy(*gcols, "_coarse").agg(
        F.sum(value_col).alias("_psum")
    )
    offs = _prefix_offsets(sums, gcols, "_psum")
    w_loc = (
        Window.partitionBy(*gcols, "_coarse")
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(offs), on=gcols + ["_coarse"])
        .withColumn(out, F.col("_off") + F.sum(value_col).over(w_loc))
        .drop("_coarse", "_off")
    )


def running_max(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    n_coarse: int = DEFAULT_COARSE,
    out: str = "running",
    coarse_key: str | None = None,
) -> DataFrame:
    """Exact per-group running ``max(value_col)`` in ``order_cols`` order —
    max is a monoid like sum, so the same two-phase decomposition
    applies: per-bucket running max, combined with the max over all
    PRECEDING buckets (a strictly-preceding prefix window over the tiny
    per-bucket table). Same contract as :func:`global_rank`."""
    gcols = list(group_cols)
    ocols = list(order_cols)
    b = with_coarse_bucket(df, coarse_key or ocols[0], gcols, n_coarse)
    maxes = b.groupBy(*gcols, "_coarse").agg(
        F.max(value_col).alias("_pmax")
    )
    w_pre = Window.partitionBy(*gcols).orderBy("_coarse").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = maxes.select(
        *gcols,
        "_coarse",
        F.max("_pmax").over(w_pre).alias("_off"),  # NULL for bucket 0
    )
    w_loc = (
        Window.partitionBy(*gcols, "_coarse")
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(offs), on=gcols + ["_coarse"])
        .withColumn(
            out,
            F.greatest(
                F.max(value_col).over(w_loc),
                F.coalesce(F.col("_off"), F.max(value_col).over(w_loc)),
            ),
        )
        .drop("_coarse", "_off")
    )
