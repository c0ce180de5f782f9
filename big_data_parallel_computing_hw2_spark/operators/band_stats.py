"""Reference-parity band statistics (SURVEY.md §2.1).

The reference (band_{max,min,mean}_computation.cpp) computes, per TIFF
file, the mean of **non-zero** pixels for each of 6 bands
(band_max_computation.cpp:11-50), then reduces those per-file means
across files with MPI_Reduce MAX/MIN/SUM
(band_max_computation.cpp:142-153). The collective and point-to-point
variants (_point.cpp) produce identical results — in Spark both map to
one partial-agg + exchange, chosen by Catalyst.

Here a "file" is a row of the `embeddings` table (file id = vec_id) and
its 6 bands are the first 6 contiguous 8-element slices of the 64-d
array — same shape: file → bands → pixels, with the reference's
non-zero validity filter.

Scale design: per-file band means are computed **inside the row** with
`aggregate`/`filter` higher-order functions (JVM, zero shuffle, no 64×
explode inflation); only the 6-rows-per-file means hit the single
global aggregation shuffle. The two HOFs are `CodegenFallback`: whole-
stage codegen evaluates them through the interpreter, one element at a
time, which is cheap over 8-element slices (the raster source, where a
band holds every pixel of a file, reduces in numpy instead). At 100 TB
the shuffle input is ~6 doubles per file regardless of image size — the
same property the MPI version gets from reducing local scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.functions.aggs import (
    ROUND_DIGITS,
    stable_round,
)
from big_data_parallel_computing_hw2_spark.sources.tables import load_table

N_BANDS = 6
BAND_WIDTH = 8
FILE_MEAN_DIGITS = 6


def per_file_band_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, file_mean): mean of non-zero 'pixels' per band per
    file — mirrors calculate_band_means (band_max_computation.cpp:11-50),
    including `count==0 → 0.0`."""
    e = load_table(spark, sf_dir, "embeddings")

    def band_mean(b: int) -> F.Column:
        seg = F.slice("embedding", b * BAND_WIDTH + 1, BAND_WIDTH)
        nz = F.filter(seg, lambda x: x != F.lit(0.0))
        total = F.aggregate(
            nz,
            F.lit(0).cast("decimal(38,6)"),
            lambda acc, x: acc + x.cast("double").cast("decimal(38,6)"),
        )
        cnt = F.size(nz)
        return F.when(
            cnt > 0,
            stable_round(total.cast("double") / cnt, FILE_MEAN_DIGITS),
        ).otherwise(F.lit(0.0))

    return e.select(
        "vec_id",
        F.posexplode(F.array(*[band_mean(b) for b in range(N_BANDS)])).alias(
            "band", "file_mean"
        ),
    )


def band_stats_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three reference programs fused into one pass: max+min+mean of
    per-file band means plus file count, one shuffle total. The
    single-statistic programs below select one column of it; Catalyst
    prunes the unused aggregates, so each plans as its own groupBy."""
    fm = per_file_band_means(spark, sf_dir)
    return (
        fm.groupBy("band")
        .agg(
            stable_round(F.max("file_mean"), ROUND_DIGITS).alias("band_max"),
            stable_round(F.min("file_mean"), ROUND_DIGITS).alias("band_min"),
            stable_round(
                F.sum(F.col("file_mean").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                ROUND_DIGITS,
            ).alias("band_mean"),
            F.count(F.lit(1)).alias("n_files"),
        )
        .orderBy("band")
    )


def band_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MAX of per-file band means (band_max_computation.cpp)."""
    return band_stats_all(spark, sf_dir).select("band", "band_max")


def band_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MIN of per-file band means (band_min_computation.cpp)."""
    return band_stats_all(spark, sf_dir).select("band", "band_min")


def band_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MEAN of per-file band means (band_mean_computation.cpp:
    MPI_Reduce SUM / nprocs·files)."""
    return band_stats_all(spark, sf_dir).select("band", "band_mean")


def color_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RGB composite (color_image_composite.cpp:175-185): bands 2/3/4 →
    (blue, green, red) per pixel. Pure per-row transform — no shuffle; at
    scale this is a map-only stage feeding a parquet/binary sink."""
    e = load_table(spark, sf_dir, "embeddings")

    def band(b: int) -> F.Column:  # 1-based band index, as in GDAL
        return F.slice("embedding", (b - 1) * BAND_WIDTH + 1, BAND_WIDTH)

    zipped = e.select(
        "vec_id",
        F.posexplode(
            F.arrays_zip(
                band(4).alias("r"), band(3).alias("g"), band(2).alias("b")
            )
        ).alias("pixel", "rgb"),
    )
    return zipped.select(
        "vec_id",
        "pixel",
        stable_round(F.col("rgb.r").cast("double"), FILE_MEAN_DIGITS).alias("r"),
        stable_round(F.col("rgb.g").cast("double"), FILE_MEAN_DIGITS).alias("g"),
        stable_round(F.col("rgb.b").cast("double"), FILE_MEAN_DIGITS).alias("b"),
    ).orderBy("vec_id", "pixel")


N_WORKERS = 8


def file_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block file→worker assignment (send_file_paths.cpp:36-95):
    total/size files each, remainder to the lowest ranks, preserving
    listing order. Declarative mirror of the reference's scheduling —
    Spark's own task scheduler handles real placement; this operator
    exists for parity and for explicit-routing use cases
    (`repartitionByRange`/custom bucketing by the computed worker id).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("vec_id")
    base = F.floor(F.col("total") / N_WORKERS)
    rem = F.col("total") % N_WORKERS
    cutoff = (base + 1) * rem  # files handled by the rem "fat" workers
    return (
        e.withColumn("total", F.count(F.lit(1)).over(w_all))
        .withColumn("rn", F.row_number().over(w_ord) - 1)
        .withColumn(
            "worker",
            F.when(F.col("rn") < cutoff, F.floor(F.col("rn") / (base + 1)))
            .otherwise(rem + F.floor((F.col("rn") - cutoff) / base))
            .cast("int"),
        )
        .select("vec_id", "worker")
        .orderBy("vec_id")
    )


# -- band histogram ----------------------------------------------------------

HIST_BINS = 8


def band_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band pixel-value histogram over [-1, 1) in {bins} equal bins
    (non-zero validity filter, like every reference band stat; ends
    clamped) — the gdalinfo -hist analogue the reference pipeline stops
    short of.

    Bin index = clamp(floor((value+1)·{bins}/2)) computed INSIDE the
    row with transform/filter (codegen, no UDF), then one posexplode to
    (band, bin) rows and a single count aggregate over the tiny
    {n_bands}×{bins} key space — map-side partials absorb the pixel
    volume, the exchange carries ≤ 48 counters per partition."""
    e = load_table(spark, sf_dir, "embeddings")

    def band_bins(b: int) -> F.Column:
        seg = F.slice("embedding", b * BAND_WIDTH + 1, BAND_WIDTH)
        nz = F.filter(seg, lambda x: x != F.lit(0.0))
        return F.transform(
            nz,
            lambda x: F.greatest(
                F.lit(0),
                F.least(
                    F.floor(
                        (x.cast("double") + 1.0) * (HIST_BINS / 2.0)
                    ).cast("int"),
                    F.lit(HIST_BINS - 1),
                ),
            ),
        )

    binned = e.select(
        F.posexplode(
            F.array(*[band_bins(b) for b in range(N_BANDS)])
        ).alias("band", "bins")
    ).select("band", F.explode("bins").alias("bin"))
    return (
        binned.groupBy("band", "bin")
        .agg(F.count(F.lit(1)).alias("n_pixels"))
        .orderBy("band", "bin")
    )


band_histogram.__doc__ = band_histogram.__doc__.format(
    bins=HIST_BINS, n_bands=N_BANDS
)

ORACLES = {
    "band_histogram": f"""
    WITH px AS (
        -- // (floor division), never CAST(x/y AS INT): DuckDB's
        -- double->int cast ROUNDS, Spark's band index is exact
        SELECT CAST((gs.i - 1) // {BAND_WIDTH} AS INT) AS band,
               CAST(embedding[gs.i] AS DOUBLE) AS v
        FROM embeddings, generate_series(1, {N_BANDS * BAND_WIDTH}) AS gs(i)
        WHERE CAST(embedding[gs.i] AS DOUBLE) <> 0.0
    )
    SELECT band,
           CAST(GREATEST(0, LEAST(
               CAST(floor((v + 1.0) * {HIST_BINS / 2.0}) AS INT),
               {HIST_BINS - 1})) AS INT) AS bin,
           COUNT(*) AS n_pixels
    FROM px
    GROUP BY 1, 2
    ORDER BY band, bin
"""
}
