"""Raster (TIFF-like) binary source — the Spark mirror of the
reference's GDAL + MPI file pipeline.

Reference flow (band_max_computation.cpp:53-149): rank 0 lists
`dataset/*.tif`, block-distributes paths, each rank GDALOpens its files
and reads 6 float32 bands. Spark flow: `spark.read.format("binaryFile")`
IS the distributed listing + assignment (driver lists, scheduler
assigns splits to executors — the send_file_paths.cpp machinery for
free), and decoding happens in an Arrow-batched `mapInPandas`.

The codec is format-sniffed (`decode_auto`):

- `decode_tiff_real`: decodes real TIFF via `tifffile` when that
  library is importable (optional dependency — absent from this
  container); otherwise raises NotImplementedError at the call site,
  clearly marking the stubbed path;
- `decode_fake_tiff`: a real, deterministic codec for the FTIF toy
  format used by the test-suite (`encode_fake_tiff`) — the Spark-side
  plumbing (schema, batching, per-band layout) is identical either way.

FTIF layout: b"FTIF" | uint32 n_bands | uint32 width | uint32 height |
float32[n_bands * width * height] (band-major), little-endian.
"""

from __future__ import annotations

import io
import struct
from collections.abc import Iterator

try:  # optional real-TIFF codec; the FTIF fake is the tested fallback
    import tifffile as _TIFFFILE
except ImportError:
    _TIFFFILE = None

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC = b"FTIF"
HEADER = struct.Struct("<4sIII")


def encode_fake_tiff(bands: np.ndarray) -> bytes:
    """bands: float32[n_bands, height, width] → FTIF bytes."""
    n_bands, height, width = bands.shape
    return HEADER.pack(MAGIC, n_bands, width, height) + bands.astype(
        "<f4"
    ).tobytes()


def decode_fake_tiff(payload: bytes) -> np.ndarray:
    """FTIF bytes → float32[n_bands, height, width]."""
    magic, n_bands, width, height = HEADER.unpack_from(payload)
    if magic != MAGIC:
        raise ValueError("not an FTIF payload")
    data = np.frombuffer(payload, dtype="<f4", offset=HEADER.size)
    return data.reshape(n_bands, height, width)


TIFF_MAGICS = (b"II\x2a\x00", b"MM\x00\x2a")


def decode_tiff_real(payload: bytes) -> np.ndarray:
    """Real TIFF decode via `tifffile` when importable (reference
    parity: band_max_computation.cpp:12 GDALOpen); NotImplementedError
    otherwise — the container ships no image libs, so the FTIF fake
    codec is the tested path there."""
    if _TIFFFILE is None:
        raise NotImplementedError(
            "real TIFF decoding needs the optional tifffile dependency; "
            "use decode_fake_tiff for the FTIF test format"
        )
    arr = np.asarray(_TIFFFILE.imread(io.BytesIO(payload)))
    # normalize to band-major float32[n_bands, height, width] (GDAL
    # layout): 2-D → 1 band; channels-LAST (h, w, c) is recognized by a
    # typical channel count (1/3/4) in the last axis that is also
    # smaller than the first — shape alone cannot fully disambiguate a
    # (bands, h, tiny-w) stack from (h, w, channels); prefer the
    # photographic-TIFF reading and document the residual ambiguity
    if arr.ndim == 2:
        arr = arr[np.newaxis, :, :]
    elif (
        arr.ndim == 3
        and arr.shape[-1] in (1, 3, 4)
        and arr.shape[-1] < arr.shape[0]
    ):
        arr = np.moveaxis(arr, -1, 0)
    elif arr.ndim != 3:
        raise ValueError(f"unsupported TIFF shape {arr.shape}")
    return np.ascontiguousarray(arr, dtype="float32")


def decode_auto(payload: bytes) -> np.ndarray:
    """Sniff the payload magic and route FTIF → fake codec, real TIFF →
    tifffile path. Unknown magic raises ValueError (treated as an
    unreadable file by the pipeline, reference parity); a real TIFF in
    an environment without tifffile fails loudly — that is an install
    problem, not a corrupt input."""
    if payload[:4] == MAGIC:
        return decode_fake_tiff(payload)
    if payload[:4] in TIFF_MAGICS:
        return decode_tiff_real(payload)
    raise ValueError("payload is neither FTIF nor TIFF")


def read_raster_dir(
    spark: SparkSession, path: str, glob: str = "*.{tif,tiff,ftif}"
) -> DataFrame:
    """Distributed listing + binary read (binaryFile source). Column
    pruning applies: reading only `path`/`length` never loads content."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def _decode_or_none(payload) -> np.ndarray | None:
    """Decode-or-None: an unreadable input must not fail its task (and,
    after retries, the job). NotImplementedError = a real .tif matched
    the glob in an environment without tifffile — same treatment."""
    try:
        return decode_auto(bytes(payload))
    except (ValueError, struct.error, NotImplementedError):
        return None


def _file_band_means(bands: np.ndarray) -> np.ndarray:
    """float32[n_bands, h, w] → float64[n_bands]: per band, the mean of
    the non-zero pixels, or 0.0 when there are none. Zeros add nothing
    to the sum, so the sum over all pixels is the sum over the non-zero
    ones; NaN counts as non-zero, so a NaN pixel makes its band mean
    NaN."""
    flat = bands.reshape(bands.shape[0], -1)
    sums = flat.sum(axis=1, dtype=np.float64)
    counts = np.count_nonzero(flat, axis=1)
    return np.divide(
        sums, counts, out=np.zeros(len(sums)), where=counts > 0
    )


def raster_band_stats(spark: SparkSession, path: str) -> DataFrame:
    """The reference's three programs over real binary inputs: per-file
    per-band mean of non-zero pixels, then global max/min/mean across
    files (band_{max,min,mean}_computation.cpp semantics).

    Each file is reduced to its band means inside the Arrow codec, as
    each MPI rank reduces its files to local scalars before the
    reduction (band_max_computation.cpp:11-50): only 6 doubles per file
    cross back from the Python worker, never the pixels, and the one
    tiny shuffle aggregates those."""

    def codec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, band_ids, means = [], [], []
            for p, payload in zip(pdf["path"], pdf["content"]):
                bands = _decode_or_none(payload)
                # reference parity: an unreadable file contributes zeroed
                # band means and the pipeline continues
                # (band_max_computation.cpp:13-16 returns 6 zeros)
                file_means = (
                    np.zeros(6) if bands is None else _file_band_means(bands)
                )
                paths.extend([p] * len(file_means))
                band_ids.extend(range(1, len(file_means) + 1))  # GDAL: 1-based
                means.extend(file_means.tolist())
            yield pd.DataFrame(
                {"path": paths, "band": band_ids, "file_mean": means}
            )

    file_means = (
        read_raster_dir(spark, path)
        .select("path", "content")
        .mapInPandas(codec, "path string, band int, file_mean double")
    )
    return (
        file_means.groupBy("band")
        .agg(
            F.max("file_mean").alias("band_max"),
            F.min("file_mean").alias("band_min"),
            F.avg("file_mean").alias("band_mean"),
            F.count(F.lit(1)).alias("n_files"),
        )
        .orderBy("band")
    )


def raster_color_composite(
    spark: SparkSession, path: str, out_dir: str
) -> DataFrame:
    """color_image_composite.cpp: bands 2/3/4 → (B,G,R) composite per
    file, re-encoded as FTIF and written as one binary file per input
    (map-only; no shuffle). Returns (path, content) of the composites."""
    binary_df = read_raster_dir(spark, path)

    def composer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            paths, payloads = [], []
            for p, payload in zip(pdf["path"], pdf["content"]):
                bands = _decode_or_none(payload)
                if bands is None or bands.shape[0] < 4:
                    # undecodable input, or no band 4 (a plain RGB or
                    # single-band file): skip rather than emit garbage
                    # (the reference assumes 6-band input,
                    # color_image_composite.cpp:179-182)
                    continue
                # reference order: output band 1=red(4), 2=green(3), 3=blue(2)
                rgb = np.stack([bands[3], bands[2], bands[1]])
                name = os.path.basename(p)
                stem = name.rsplit(".", 1)[0]
                paths.append(f"{out_dir}/{stem}_color.ftif")
                payloads.append(encode_fake_tiff(rgb))
            yield pd.DataFrame({"path": paths, "content": payloads})

    return binary_df.select("path", "content").mapInPandas(
        composer, "path string, content binary"
    )


def write_composites_parquet(composites: DataFrame, out_path: str) -> None:
    """Spark-idiomatic binary sink: (path, content) rows as parquet.
    At 100 TB this is the right composite store — splittable, columnar
    metadata, no small-file explosion (the reference's one-GTiff-per-
    input layout [color_image_composite.cpp] becomes a column)."""
    composites.write.mode("overwrite").parquet(out_path)


def materialize_composite_files(composites: DataFrame) -> int:
    """Reference-parity sink: write each composite as its own binary
    file at its embedded path (color_image_composite.cpp writes
    `<stem>_color.tif` next to the input) and return how many were
    written.

    One Arrow-batched `mapInPandas` pass on the executors writes every
    row of a batch and yields the batch's count; one action collects
    and sums those counts, so the count is of the files actually
    written, from the same pass that wrote them (no cache, no second
    job, no driver collect of the payloads).

    Requires a shared filesystem (NFS/FUSE mount) on a real cluster:
    each executor open()s the path locally, so without one the files
    land scattered across executor-local disks. Fine in local mode /
    tests; at scale prefer `write_composites_parquet`."""

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                parent = os.path.dirname(p)
                if parent:
                    os.makedirs(parent, exist_ok=True)
                with open(p, "wb") as fh:
                    fh.write(content)
            yield pd.DataFrame({"n": [len(pdf)]})

    written = composites.mapInPandas(writer, "n long")
    return sum(r["n"] for r in written.collect())
