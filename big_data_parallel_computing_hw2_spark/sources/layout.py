"""Storage-layout operators: partitioned writes and bucketed tables.

At 100 TB the physical layout IS the query plan: a date-partitioned
fact table turns time filters into directory pruning (no IO at all for
excluded partitions), and bucketing both fact tables on the join key
lets orders ⋈ lineitem run with ZERO exchanges — the shuffle happened
once, at write time, and every subsequent join reuses it. These helpers
wrap the two patterns; tests assert the plan effects (PartitionFilters
on the pruned scan, no Exchange under the bucketed join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_partitioned_by_month(
    df: DataFrame, ts_col: str, out_path: str
) -> None:
    """Write with a derived `part_month` partition column (hive layout:
    one directory per month). The partition column is derived, not
    dropped from the data — re-reads recover the original columns plus
    the partition key."""
    (
        df.withColumn(
            "part_month", F.date_format(F.col(ts_col), "yyyy-MM")
        )
        .write.mode("overwrite")
        .partitionBy("part_month")
        .parquet(out_path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Persist as a bucketed managed table (bucket pruning + shuffle-free
    joins between tables bucketed on the same key/count). Bucketed
    writes must go through the catalog (saveAsTable) — plain
    path-writes drop bucket metadata."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key: Catalyst sees
    compatible output partitioning on both sides and plans a
    SortMergeJoin with no Exchange. The `merge` hint pins the strategy
    both sides were bucketed FOR — fact-fact joins at scale are
    sort-merge; without the hint a small test table would be broadcast
    and the bucket layout ignored."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table).hint("merge"), on)
    )


def _compact_delta(delta: DataFrame, key: str, version_col: str) -> DataFrame:
    """Keep the highest-version change per key. Tiebreak on every
    remaining column: equal-version changes to one key must compact to
    the SAME row across runs/retries (identical full rows are the only
    remaining ties — harmless)."""
    tiebreak = [
        F.col(c) for c in delta.columns if c not in (key, version_col)
    ]
    w = Window.partitionBy(key).orderBy(F.desc(version_col), *tiebreak)
    return (
        delta.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    snapshot: DataFrame,
    delta: DataFrame,
    key: str,
    deleted_col: str | None = None,
    version_col: str | None = None,
) -> DataFrame:
    """CDC merge (MERGE INTO semantics without a table format): apply a
    change batch onto a snapshot — delta rows win on key collision
    (update), new keys insert, and rows the delta marks in
    ``deleted_col`` (boolean) are dropped.

    Spark-first: ONE full-outer join on the key — never a per-row
    lookup. At 100 TB the snapshot is bucketed on the key (see
    `write_bucketed`), so the join re-uses the write-time shuffle and
    only the (much smaller) delta shuffles; the output is written back
    bucketed, keeping the invariant for the next merge. Column set is
    taken from the snapshot; the delta must carry the same columns
    (plus the optional tombstone/version flags).

    Delta hygiene (real CDC batches need both): NULL-key delta rows are
    dropped (a full-outer join would emit them as all-NULL ghosts), and
    when ``version_col`` is given the batch is compacted to the
    highest-version change per key FIRST — several changes to one key
    would otherwise each match the snapshot row and duplicate it
    (proper MERGE INTO errors on that). Without ``version_col`` the
    delta must already be one-row-per-key.

    Constraint: with ``version_col``, every remaining delta column joins
    the compaction tiebreak ORDER BY, so all delta columns must be
    orderable types (no map columns — Spark raises AnalysisException at
    analysis time). Carry unorderable payloads through a struct/binary
    encoding, or compact the delta yourself before calling.
    """
    cols = snapshot.columns
    delta = delta.filter(F.col(key).isNotNull())
    if version_col is not None:
        delta = _compact_delta(delta, key, version_col)
    s = snapshot.alias("s")
    d = delta.alias("d")
    joined = s.join(d, F.col(f"s.{key}") == F.col(f"d.{key}"), "full_outer")
    if deleted_col is not None:
        joined = joined.filter(
            ~F.coalesce(F.col(f"d.{deleted_col}"), F.lit(False))
        )
    take_delta = F.col(f"d.{key}").isNotNull()
    return joined.select(
        *[
            F.when(take_delta, F.col(f"d.{c}"))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in cols
        ]
    )


# -- registered CDC-merge query ---------------------------------------------

# Deterministic CDC scenario derived from the driver's `orders` table so
# the merge is oracle-checkable end-to-end (driver gate + DuckDB SQL):
#   snapshot = orders with o_orderkey % 10 != 0  (the "existing table")
#   delta    = two change versions for every o_orderkey % 5 == 0 key:
#              v1 reprices ×1.05, v2 reprices ×1.10 (v2 must win via
#              version compaction), and v2 tombstones % 20 == 0 keys.
# Exercises every merge path: update (keys in both), insert (keys % 10
# == 0, absent from the snapshot), delete (tombstones — including on
# not-yet-inserted keys, which must simply vanish), and multi-change
# compaction.
MERGE_SNAPSHOT_MOD = 10
MERGE_DELTA_MOD = 5
MERGE_DELETE_MOD = 20


def merge_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_parallel_computing_hw2_spark.sources.tables import (
        load_table,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    key = F.col("o_orderkey")
    snapshot = o.filter(key % MERGE_SNAPSHOT_MOD != 0)
    base = o.filter(key % MERGE_DELTA_MOD == 0)

    def reprice(factor: str, version: int, deleted: F.Column) -> DataFrame:
        # multiply in DECIMAL, not double: a 2-decimal price × 1.05 hits
        # exact .xx5 halfway cases that double-then-round resolves
        # differently per engine; decimal × decimal is exact, and both
        # engines round decimal ties away from zero
        priced = F.round(
            F.col("o_totalprice").cast("decimal(38,6)")
            * F.lit(factor).cast("decimal(10,4)"),
            2,
        ).cast("double")
        return base.withColumn("o_totalprice", priced).withColumn(
            "__version", F.lit(version)
        ).withColumn("__deleted", deleted)

    delta = reprice("1.05", 1, F.lit(False)).unionByName(
        reprice("1.10", 2, key % MERGE_DELETE_MOD == 0)
    )
    merged = merge_upsert(
        snapshot, delta, "o_orderkey",
        deleted_col="__deleted", version_col="__version",
    )
    return merged.orderBy("o_orderkey")


ORACLES = {
    "merge_upsert": f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
    ), snapshot AS (
        SELECT * FROM o WHERE o_orderkey % {MERGE_SNAPSHOT_MOD} <> 0
    ), delta AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(38,6))
                          * CAST('1.05' AS DECIMAL(10,4)), 2)
                    AS DOUBLE) AS o_totalprice,
               o_orderpriority, 1 AS __version, FALSE AS __deleted
        FROM o WHERE o_orderkey % {MERGE_DELTA_MOD} = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(38,6))
                          * CAST('1.10' AS DECIMAL(10,4)), 2)
                    AS DOUBLE) AS o_totalprice,
               o_orderpriority, 2 AS __version,
               (o_orderkey % {MERGE_DELETE_MOD} = 0) AS __deleted
        FROM o WHERE o_orderkey % {MERGE_DELTA_MOD} = 0
    ), compact AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY __version DESC
            ) AS __rn
            FROM delta WHERE o_orderkey IS NOT NULL
        ) WHERE __rn = 1
    )
    SELECT CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderkey
                ELSE s.o_orderkey END AS o_orderkey,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey
                ELSE s.o_custkey END AS o_custkey,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus
                ELSE s.o_orderstatus END AS o_orderstatus,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
                ELSE s.o_totalprice END AS o_totalprice,
           CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderpriority
                ELSE s.o_orderpriority END AS o_orderpriority
    FROM snapshot s FULL OUTER JOIN compact d
         ON s.o_orderkey = d.o_orderkey
    WHERE NOT COALESCE(d.__deleted, FALSE)
    ORDER BY o_orderkey
    """
}


# -- Z-order clustering -----------------------------------------------------

ZORDER_BITS = 16


def zorder_value(a: F.Column, b: F.Column, bits: int = ZORDER_BITS) -> F.Column:
    """Morton/Z-order interleave of two rank-normalized keys: bit i of
    each key lands at output bits 2i / 2i+1, so rows close in EITHER
    dimension cluster together on the curve. Pure shift/or arithmetic —
    JVM-side, codegen'd."""
    # addition, not `|`: Column `|` is logical OR in PySpark, and the
    # interleaved bit positions are disjoint so + is exact
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + (F.shiftright(a, i) % 2).cast("long") * F.lit(1 << (2 * i))
            + (F.shiftright(b, i) % 2).cast("long") * F.lit(1 << (2 * i + 1))
        )
    return z


ZORDER_GRID_BITS = 8  # quantile grid: 2^8 buckets per dimension


def _quantile_bucket(col: F.Column, bounds: list[float]) -> F.Column:
    """Grid cell id = #(boundaries <= value): the same HOF array+filter
    idiom as functions/distributed.with_coarse_bucket (measured there to
    beat an inlined literal-comparison chain)."""
    from big_data_parallel_computing_hw2_spark.functions.distributed import (
        double_array_expr,
    )

    arr = double_array_expr(bounds)
    key = col.cast("double")
    return F.coalesce(
        F.size(F.filter(arr, lambda b: b <= key)), F.lit(0)
    ).cast("long")


def write_zordered(
    df: DataFrame,
    col_a: str,
    col_b: str,
    out_path: str,
    n_files: int = 8,
    method: str = "quantile",
) -> None:
    """Z-ORDER OPTIMIZE without a table format: range-partition the
    data by the Morton value of (col_a, col_b) rank grids and sort each
    file by it, so parquet row-group/file min-max stats become tight in
    BOTH dimensions — a filter on either column prunes most files (the
    Delta/Iceberg OPTIMIZE ZORDER effect, on plain parquet).

    Grids rather than raw values so skew and arbitrary value ranges
    can't starve the interleave. Default ``method="quantile"``: one
    approxQuantile sketch pass over BOTH columns yields 2^{gb}-cell
    per-dimension grids applied as broadcast literals — no window, no
    single-reducer total sort, scale-free (round-5 fix; this is the
    exact swap the old docstring promised). ``method="rank"`` keeps the
    original exact percent_rank → {b}-bit grid as the small-data
    cross-check (tests compare the prunability of both layouts); its
    two unpartitioned windows make it test-only by policy."""
    if method == "rank":
        grid = float((1 << ZORDER_BITS) - 1)
        ra = F.percent_rank().over(Window.orderBy(col_a))
        rb = F.percent_rank().over(Window.orderBy(col_b))
        za = F.round(ra * grid).cast("long")
        zb = F.round(rb * grid).cast("long")
        bits = ZORDER_BITS
    else:
        grid = float((1 << ZORDER_BITS) - 1)
        n_grid = 1 << ZORDER_GRID_BITS
        fracs = [i / n_grid for i in range(1, n_grid)]
        # ONE sketch pass for both dimensions (approxQuantile batches
        # the two sketches into a single aggregation job)
        qa, qb = df.stat.approxQuantile([col_a, col_b], fracs, 0.001)
        ba, bb = sorted(set(qa)), sorted(set(qb))

        def scaled(col: str, bounds: list[float]) -> F.Column:
            # stretch bucket ids to the FULL {b}-bit grid: a low-
            # cardinality dimension (few distinct quantiles) must still
            # occupy the same bit positions as a dense one, or the
            # interleave degenerates into a single-column sort
            cell = _quantile_bucket(F.col(col), bounds)
            return F.round(
                cell.cast("double") * grid / float(max(len(bounds), 1))
            ).cast("long")

        za, zb = scaled(col_a, ba), scaled(col_b, bb)
        bits = ZORDER_BITS
    z = df.withColumn("__z", zorder_value(za, zb, bits))
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_path)
    )


write_zordered.__doc__ = write_zordered.__doc__.format(
    b=ZORDER_BITS, gb=ZORDER_GRID_BITS
)


# -- small-file compaction --------------------------------------------------


def compact_dir(
    spark: SparkSession, in_path: str, out_path: str, target_files: int
) -> None:
    """Small-file compaction (the OPTIMIZE/rewrite maintenance job):
    rewrite a directory of many small parquet files into
    ``target_files`` larger ones. Coalesce, not repartition — no
    shuffle, each output file unions whole input splits; at 100 TB this
    runs per-partition-directory so compaction parallelism is the
    partition count and never touches hot writers."""
    spark.read.parquet(in_path).coalesce(target_files).write.mode(
        "overwrite"
    ).parquet(out_path)


# -- idempotent partition backfill -------------------------------------------


def backfill_partitions(
    spark: SparkSession, df: DataFrame, part_col: str, out_path: str
) -> None:
    """Idempotent partition backfill: overwrite ONLY the hive partitions
    present in ``df``, leaving every other partition directory untouched
    (``partitionOverwriteMode=dynamic``). This is the recompute-one-day
    pattern a 100 TB date-partitioned fact table lives by — a failed or
    re-run backfill job converges to the same bytes instead of either
    nuking the whole table (static overwrite) or duplicating rows
    (append). The conf is set per-call and restored, so the session's
    default static mode — the safer failure shape for full rewrites —
    stays in force everywhere else."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(part_col).parquet(out_path)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


# -- range-partitioned globally-sorted layout ---------------------------------


def write_range_sorted(
    df: DataFrame, sort_col: str, out_path: str, n_files: int = 8
) -> None:
    """Globally-sorted parquet layout: ``repartitionByRange`` splits the
    key space into ``n_files`` contiguous, DISJOINT ranges (one sampled
    range-exchange), ``sortWithinPartitions`` orders inside each, so the
    files form one global order. Every file's parquet footer then holds
    a non-overlapping [min, max] for the sort key, and a point or range
    predicate prunes to the few files whose interval intersects it —
    the single-dimension sibling of `write_zordered` (which trades
    per-dimension tightness for TWO-dimension pruning). This is the
    layout for an append-only fact table with one dominant filter
    column; at 100 TB the range exchange is the same shuffle a global
    sort would pay, amortized once at write time."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(out_path)
    )


def merge_into_table(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    key: str,
    deleted_col: str | None = None,
    version_col: str | None = None,
) -> str:
    """MERGE a change batch into a CATALOG table; returns which path
    ran ('native' or 'fallback').

    Native path: the public ``DataFrame.mergeInto`` fluent API
    (Spark >= 4.0) — whenMatched+tombstone -> delete, whenMatched ->
    updateAll, whenNotMatched(not tombstoned) -> insertAll. On a
    row-level-operation table format (Delta/Iceberg — what a 100 TB
    deployment runs) this executes as the format's native MERGE:
    file-skipping on the join key, rewrite only the touched files,
    atomic commit.

    Fallback path: this container ships no such format — parquet
    session-catalog tables analyze the MERGE plan fine but fail
    capability resolution with UNSUPPORTED_FEATURE.TABLE_OPERATION
    (pinned in tests/test_merge_into.py). The same change batch is
    then applied via :func:`merge_upsert` (one full-outer join),
    staged as ``<target>__merge_staged``, and swapped in with a
    RENAME-ASIDE sequence: target RENAME TO ``<target>__merge_prev``,
    staged RENAME TO target, DROP ``__merge_prev``. Metadata-only, no
    self-overwrite read/write conflict, and — unlike DROP-then-RENAME
    — EVERY crash point leaves a complete named table: before the
    swap the target is untouched; between the renames both the
    previous (``__merge_prev``) and the fully-written staged result
    exist, and :func:`_recover_merge_swap` (run at the start of every
    merge) rolls FORWARD by renaming the staged table in; after, only
    the ``__merge_prev`` leftover remains to drop. Crash-injection
    tests pin each window. Both paths are semantically identical by
    test.

    The delta is compacted to one row per key first (shared with
    merge_upsert), because proper MERGE INTO *errors* when several
    source rows match one target row.
    """
    _recover_merge_swap(spark, target_table)
    src_cols = [c for c in source.columns
                if c not in (deleted_col, version_col)]
    source = source.filter(F.col(key).isNotNull())
    if version_col is not None:
        source = _compact_delta(source, key, version_col)

    tombstone = (
        F.coalesce(F.col(f"src.{deleted_col}"), F.lit(False))
        if deleted_col is not None
        else F.lit(False)
    )
    try:
        merger = (
            source.alias("src")
            .mergeInto(
                target_table,
                F.expr(f"{target_table}.{key} = src.{key}"),
            )
            .whenMatched(tombstone)
            .delete()
            .whenMatched()
            .update({c: F.col(f"src.{c}") for c in src_cols})
            .whenNotMatched(~tombstone)
            .insert({c: F.col(f"src.{c}") for c in src_cols})
        )
        merger.merge()
        return "native"
    except Exception as e:  # noqa: BLE001
        cond = getattr(e, "getCondition", getattr(e, "getErrorClass", None))
        if cond is None or cond() != "UNSUPPORTED_FEATURE.TABLE_OPERATION":
            raise

    snapshot = spark.table(target_table)
    merged = merge_upsert(
        snapshot, source, key,
        deleted_col=deleted_col, version_col=version_col,
    )
    staged = f"{target_table}__merge_staged"
    merged.write.mode("overwrite").format("parquet").saveAsTable(staged)
    swap_staged_table(spark, target_table)
    return "fallback"


def swap_staged_table(spark: SparkSession, target_table: str) -> None:
    """Swap ``<target>__merge_staged`` into place with the rename-aside
    sequence (a complete named table exists at every crash point; see
    :func:`_recover_merge_swap` for the healing preamble). Shared by
    merge_into_table's fallback and any staged full-rewrite job (e.g.
    streaming sketch-leaf maintenance)."""
    staged = f"{target_table}__merge_staged"
    aside = f"{target_table}__merge_prev"
    spark.sql(f"ALTER TABLE {target_table} RENAME TO {aside}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {target_table}")
    spark.sql(f"DROP TABLE {aside}")


def _recover_merge_swap(spark: SparkSession, target_table: str) -> str | None:
    """Heal a crash inside a previous fallback swap; idempotent,
    called at the start of every :func:`merge_into_table`. Returns
    what was done (None if nothing needed).

    The swap only starts after the staged table is fully written, so
    if the target is missing the staged result is complete — roll
    FORWARD (rename it in). A missing target with only
    ``__merge_prev`` present (defensive; unreachable from the swap
    sequence itself) rolls back. A surviving ``__merge_prev`` next to
    a live target is post-swap garbage and is dropped.
    """
    staged = f"{target_table}__merge_staged"
    aside = f"{target_table}__merge_prev"
    cat = spark.catalog
    action = None
    if not cat.tableExists(target_table):
        if cat.tableExists(staged):
            spark.sql(f"ALTER TABLE {staged} RENAME TO {target_table}")
            action = "rolled_forward"
        elif cat.tableExists(aside):
            spark.sql(f"ALTER TABLE {aside} RENAME TO {target_table}")
            return "rolled_back"
    if cat.tableExists(aside) and cat.tableExists(target_table):
        spark.sql(f"DROP TABLE {aside}")
        action = action or "dropped_prev"
    return action
