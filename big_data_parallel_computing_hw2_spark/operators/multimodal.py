"""Multimodal column operators (SURVEY.md §2.7).

Images/audio/video ride through the engine as opaque `binary` columns
with typed metadata structs; the transforms below are Arrow-batched
`mapInPandas` stages with real schemas, partitioning, and batch shapes.
The actual media codecs (PIL/ffmpeg/torchaudio) are absent from this
container BY DESIGN: `*_real` functions raise NotImplementedError at
the exact import point, and the deterministic fake codecs exercise the
full Spark-side plumbing so the pipeline is testable end-to-end.

At 100 TB: binary payloads dominate bytes; these stages are map-only
(no shuffle), so throughput scales linearly with executors — the only
knobs are files.maxPartitionBytes (split sizing) and Arrow batch size.
Peak Python-worker memory is (rows per Arrow batch) x (payload bytes):
`spark.sql.execution.arrow.maxRecordsPerBatch` is the contract that
bounds it, and every operator here is invariant to where the batch
boundaries fall, so the cap can be lowered to fit memory without
changing results (pinned by tests/test_arrow_batch_contract.py).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = "width int, height int, channels int, format string"

FEATURE_DIM = 16


def attach_image_meta(df: DataFrame, binary_col: str = "content") -> DataFrame:
    """Parse (fake-)image headers into a typed metadata struct column —
    the cheap scan that lets later stages filter without decoding."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = {"width": [], "height": [], "channels": [], "format": []}
            for payload in pdf[binary_col]:
                b = bytes(payload)
                if b[:4] == b"FIMG" and len(b) >= 16:
                    c, w, h = struct.unpack_from("<III", b, 4)
                    metas["width"].append(w)
                    metas["height"].append(h)
                    metas["channels"].append(c)
                    metas["format"].append("fimg")
                else:
                    metas["width"].append(None)
                    metas["height"].append(None)
                    metas["channels"].append(None)
                    metas["format"].append("unknown")
            out = pdf.copy()
            for k, v in metas.items():
                out[k] = v
            yield out

    in_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in df.dtypes
    )
    return df.mapInPandas(parse, f"{in_schema}, {IMAGE_META_SCHEMA}")


def encode_fake_image(pixels: np.ndarray) -> bytes:
    """pixels: uint8[channels, height, width] → FIMG bytes."""
    c, h, w = pixels.shape
    return b"FIMG" + struct.pack("<III", c, w, h) + pixels.astype(
        "uint8"
    ).tobytes()


def decode_fake_image(payload: bytes) -> np.ndarray:
    b = bytes(payload)
    if b[:4] != b"FIMG":
        raise ValueError("not an FIMG payload")
    c, w, h = struct.unpack_from("<III", b, 4)
    return np.frombuffer(b, dtype="uint8", offset=16).reshape(c, h, w)


def decode_image_real(payload: bytes) -> np.ndarray:
    """Real JPEG/PNG decode — needs PIL/opencv, absent by design."""
    raise NotImplementedError("real image decode needs PIL; use FIMG fakes")


def _try_decode(payload) -> np.ndarray | None:
    """Decode-or-None: one corrupt payload must degrade its own row,
    not fail the task 4× and abort the whole job (same posture as
    raster._decode_or_none, whose callers zero or skip unreadable
    files like the reference does)."""
    try:
        return decode_fake_image(payload)
    except (ValueError, struct.error):
        return None


def image_features(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Decode → feature-extract: per-image {dim}-d feature vector
    (channel-wise intensity histogram from the fake codec; a CNN/CLIP
    embedding in production). Map-only Arrow stage."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                ids.append(pid)
                if px is None:  # corrupt payload → null feature row
                    feats.append(None)
                    continue
                hist, _ = np.histogram(px, bins=FEATURE_DIM, range=(0, 256))
                feats.append((hist / max(px.size, 1)).astype("float32"))
            yield pd.DataFrame({"id": ids, "feature": feats})

    return df.select(id_col, binary_col).mapInPandas(
        extract, f"id string, feature array<float>"
    )


image_features.__doc__ = image_features.__doc__.format(dim=FEATURE_DIM)


def image_resize(
    df: DataFrame,
    out_w: int,
    out_h: int,
    binary_col: str = "content",
) -> DataFrame:
    """Nearest-neighbor resize of the binary image column (deterministic,
    codec-agnostic plumbing; swap the kernel for PIL at deploy time)."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            payloads = []
            for payload in pdf[binary_col]:
                px = _try_decode(payload)
                if px is None:  # corrupt → pass the payload through
                    payloads.append(bytes(payload))
                    continue
                c, h, w = px.shape
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                payloads.append(encode_fake_image(px[:, yi][:, :, xi]))
            out[binary_col] = payloads
            yield out

    in_schema = ", ".join(f"{n} {t}" for n, t in df.dtypes)
    return df.mapInPandas(resize, in_schema)


def frame_sample(
    df: DataFrame,
    every_n: int,
    binary_col: str = "content",
    id_col: str = "path",
) -> DataFrame:
    """Video frame sampling plumbing: treat the fake payload's channel
    axis as the frame axis and emit every n-th frame as its own image
    row (1→many mapInPandas — the shape real ffmpeg sampling has)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_idx, frames = [], [], []
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                if px is None:  # corrupt → contributes no frames
                    continue
                for i in range(0, px.shape[0], every_n):
                    ids.append(pid)
                    frame_idx.append(i)
                    frames.append(encode_fake_image(px[i : i + 1]))
            yield pd.DataFrame(
                {"id": ids, "frame": frame_idx, "content": frames}
            )

    return df.select(id_col, binary_col).mapInPandas(
        sample, "id string, frame int, content binary"
    )


PHASH_GRID = 8  # 8×8 intensity grid → 64-bit hash (the standard aHash size)


def image_phash(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Perceptual-hash column: decode → downsample to an {g}×{g}
    intensity grid → threshold against the grid mean → {bits}-bit hash
    (average-hash). The content-addressable key for near-duplicate
    IMAGE dedup (robust to re-encodes and small edits, unlike a byte
    hash); 64 bits keeps accidental collisions negligible at corpus
    scale. Map-only Arrow stage; corrupt payloads hash to NULL. The
    top bit is left out of the sign position: bits fill indices 0..63
    of a signed long deterministically."""

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                ids.append(pid)
                if px is None:
                    hashes.append(None)
                    continue
                gray = px.astype("float64").mean(axis=0)  # collapse channels
                h, w = gray.shape
                g = PHASH_GRID
                yi = (np.arange(g) * h // g).clip(0, h - 1)
                xi = (np.arange(g) * w // g).clip(0, w - 1)
                grid = gray[yi][:, xi]
                bits = (grid > grid.mean()).flatten()
                val = sum(1 << i for i, b in enumerate(bits) if b)
                # wrap into signed-64 range for the long column
                if val >= 1 << 63:
                    val -= 1 << 64
                hashes.append(val)
            yield pd.DataFrame(
                {"id": ids, "phash": pd.array(hashes, dtype="Int64")}
            )

    return df.select(id_col, binary_col).mapInPandas(
        phash, "id string, phash long"
    )


image_phash.__doc__ = image_phash.__doc__.format(
    g=PHASH_GRID, bits=PHASH_GRID * PHASH_GRID
)


def media_dedup_groups(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Near-duplicate MEDIA groups: bucket by perceptual hash (exact
    phash match — Hamming-radius banding would bolt on exactly like
    dedup_simhash's chunk blocking) and keep the lexicographically
    first id as the group representative. The Spark side is the same
    hash-groupBy shape as text dedup_exact: the expensive part (decode
    + hash) is map-only; the shuffle carries (id, 64-bit hash) rows
    only, never payload bytes."""
    hashed = image_phash(df, binary_col, id_col).filter(
        F.col("phash").isNotNull()
    )
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.min("id").alias("keeper_id"),
            F.sort_array(F.collect_list("id")).alias("member_ids"),
        )
        .filter(F.col("n_items") >= 2)
        .orderBy("keeper_id")
    )


# -- scene-cut detection (round 5) -------------------------------------------

CUT_MULT = 3.0  # a cut is a frame-diff > CUT_MULT x the clip's median diff


def video_scene_cuts(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Scene-cut detection over the frame axis: mean absolute
    pixel-difference between consecutive frames, cut where the diff
    exceeds {m}x the clip's own median diff (self-calibrating, like the
    audio VAD) — the temporal sibling of frame_sample, and the stage
    that turns raw video into shot-level training clips. Emits one row
    per detected cut (the index of the FIRST frame of the new shot)
    plus the clip's shot count.

    Same plumbing posture as every codec stage: the whole
    diff->threshold pipeline runs inside one Arrow batch (mapInPandas
    over the fake FIMG frame-axis payloads; a real pipeline swaps the
    decode call for ffmpeg), payload bytes never shuffle, output is
    tiny cut rows. Clips with <3 frames emit nothing (no diff
    distribution to calibrate against)."""

    def cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "id": [],
                "cut_frame": [],
                "diff": [],
                "median_diff": [],
                "n_shots": [],
            }
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                if px is None or px.shape[0] < 3:
                    continue
                frames = px.astype("float64")
                diffs = np.abs(frames[1:] - frames[:-1]).mean(axis=(1, 2))
                med = float(np.median(diffs))
                # median 0 (static clip): any nonzero diff is a cut
                thresh = CUT_MULT * med if med > 0 else 0.0
                cut_idx = np.nonzero(diffs > thresh)[0] + 1
                n_shots = len(cut_idx) + 1
                for i in cut_idx:
                    rows["id"].append(pid)
                    rows["cut_frame"].append(int(i))
                    rows["diff"].append(float(diffs[i - 1]))
                    rows["median_diff"].append(med)
                    rows["n_shots"].append(n_shots)
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(
        cuts,
        "id string, cut_frame int, diff double, median_diff double,"
        " n_shots int",
    )


video_scene_cuts.__doc__ = video_scene_cuts.__doc__.format(m=CUT_MULT)


# -- Hamming-radius media near-dup pairs (round 5) ---------------------------

HAMMING_RADIUS = 4  # pairs within this many flipped phash bits

# Hot-band document-frequency cap (mirrors dedup.py's SHINGLE_DF_CAP).
# The candidate join's cost is Σ_band-value df², so ONE degenerate hash
# value flooding a band (all-black thumbnails hashing to the same grid)
# contributes m² candidate pairs. The cap drops band VALUES whose
# frequency exceeds it from candidate generation; a pair is still found
# through any of its other ≤ radius agreeing bands, so results stay
# EXACT as long as every true near-dup pair agrees on at least one
# non-hot band — i.e. exact below the cap, and the only pairs at risk
# are inside a cluster already bigger than the cap (which a dedup pass
# wants summarized, not enumerated pairwise). None = lossless
# pigeonhole (the registered/test default).
HAMMING_BAND_CAP: int | None = None


def hamming_candidates(
    hashed: DataFrame,
    radius: int = HAMMING_RADIUS,
    band_cap: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b, ph_a, ph_b) pairs from pigeonhole banding
    over an (id, phash int64) frame — the testable seam between band
    blocking and the bit_count verify. Two hashes within Hamming
    distance ``radius`` must agree exactly on one of ``radius + 1``
    disjoint bit-bands, so the band-value equi-join is lossless; with
    ``band_cap`` set, band values seen more than ``band_cap`` times are
    excluded from the join (the hot list is tiny by construction, so it
    broadcasts and the filter is a map-side anti-join)."""
    n_bands = radius + 1
    width = (64 + n_bands - 1) // n_bands
    bands = hashed.select(
        "id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(
                            F.col("phash"), i * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(
        "id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    if band_cap is not None:
        hot = (
            bands.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > band_cap)
            .select("band", "val")
        )
        bands = bands.join(F.broadcast(hot), ["band", "val"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def media_dedup_hamming(
    df: DataFrame,
    radius: int = HAMMING_RADIUS,
    binary_col: str = "content",
    id_col: str = "path",
    band_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate media PAIRS within a phash Hamming radius — the
    banding upgrade `media_dedup_groups`' docstring promises: exact
    phash equality misses a re-encode that flips a few grid bits; this
    catches anything within ``radius`` flipped bits of the 64-bit hash.

    Pigeonhole blocking (same discipline as dedup_simhash): split the
    hash into ``radius + 1`` contiguous bit-bands — two hashes within
    Hamming distance ``radius`` MUST agree exactly on at least one band
    (r flips cannot touch r+1 disjoint bands), so a band-value
    equi-join generates a LOSSLESS candidate set; `bit_count(xor)`
    verifies the true distance. Scale shape: decode+hash map-only, the
    join shuffles (band_value, id, hash) rows only — never payload
    bytes, never all-pairs; a degenerate hash flooding one band
    (all-black thumbnails) is bounded by ``band_cap`` /
    HAMMING_BAND_CAP (see the cap note above — exact below the cap)."""
    cap = band_cap if band_cap is not None else HAMMING_BAND_CAP
    hashed = image_phash(df, binary_col, id_col).filter(
        F.col("phash").isNotNull()
    )
    cand = hamming_candidates(hashed, radius, cap)
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(
                F.col("ph_a").bitwiseXOR(F.col("ph_b"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# -- shot keyframes + tile extraction (round 6) ------------------------------


def video_keyframe_select(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Per-shot KEYFRAME selection — the stage after video_scene_cuts
    in a clip-curation pipeline: segment each clip into shots with the
    SAME self-calibrated diff rule as video_scene_cuts (so boundaries
    agree by construction), then pick each shot's sharpest frame
    (max mean spatial-gradient magnitude — the cheap no-model proxy
    for 'least motion blur') as the shot's representative image.
    Emits one row per shot: boundaries, the chosen frame index, its
    sharpness, and the keyframe re-encoded as a standalone image
    payload ready for an embedding stage.

    Map-only mapInPandas over the frame-axis payloads; only keyframe
    bytes leave the stage (1 frame per shot, not the clip). Clips with
    <3 frames emit their sharpest frame as one whole-clip shot when
    they have any frame at all."""

    def select(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "id": [],
                "shot": [],
                "start_frame": [],
                "end_frame": [],
                "key_frame": [],
                "sharpness": [],
                "content": [],
            }

            def sharp(frame: np.ndarray) -> float:
                gy = np.abs(np.diff(frame, axis=0)).mean() if frame.shape[0] > 1 else 0.0
                gx = np.abs(np.diff(frame, axis=1)).mean() if frame.shape[1] > 1 else 0.0
                return float(gy + gx)

            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                if px is None or px.shape[0] == 0:
                    continue
                frames = px.astype("float64")
                if px.shape[0] < 3:
                    bounds = [0, px.shape[0]]
                else:
                    diffs = np.abs(frames[1:] - frames[:-1]).mean(axis=(1, 2))
                    med = float(np.median(diffs))
                    thresh = CUT_MULT * med if med > 0 else 0.0
                    cut_idx = list(np.nonzero(diffs > thresh)[0] + 1)
                    bounds = [0, *cut_idx, px.shape[0]]
                for s, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                    sharps = [sharp(frames[i]) for i in range(lo, hi)]
                    best = int(np.argmax(sharps))
                    rows["id"].append(pid)
                    rows["shot"].append(s)
                    rows["start_frame"].append(lo)
                    rows["end_frame"].append(hi - 1)
                    rows["key_frame"].append(lo + best)
                    rows["sharpness"].append(round(sharps[best], 6))
                    rows["content"].append(
                        encode_fake_image(px[lo + best : lo + best + 1])
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(
        select,
        "id string, shot int, start_frame int, end_frame int,"
        " key_frame int, sharpness double, content binary",
    )


def image_tiles(
    df: DataFrame,
    tile: int,
    binary_col: str = "content",
    id_col: str = "path",
) -> DataFrame:
    """Non-overlapping tile extraction (the ViT/patch-pipeline shape):
    each image fans out to floor(h/tile) x floor(w/tile) standalone
    tile payloads keyed by (tile_row, tile_col); the right/bottom
    remainder that doesn't fill a tile is dropped (the standard
    center-free crop — reassembling the tiles reproduces the cropped
    original exactly, pytest-asserted). 1->many mapInPandas, map-only;
    corrupt payloads contribute no tiles."""

    def tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"id": [], "tile_row": [], "tile_col": [], "content": []}
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                px = _try_decode(payload)
                if px is None:
                    continue
                _c, h, w = px.shape
                for ty in range(h // tile):
                    for tx in range(w // tile):
                        rows["id"].append(pid)
                        rows["tile_row"].append(ty)
                        rows["tile_col"].append(tx)
                        rows["content"].append(
                            encode_fake_image(
                                px[
                                    :,
                                    ty * tile : (ty + 1) * tile,
                                    tx * tile : (tx + 1) * tile,
                                ]
                            )
                        )
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(
        tiles, "id string, tile_row int, tile_col int, content binary"
    )


# -- image quality screens (round 10) ------------------------------------------

ENTROPY_BINS = 64


def image_quality_stats(
    df: DataFrame, binary_col: str = "content", id_col: str = "path"
) -> DataFrame:
    """Decode → per-image quality screens: grayscale intensity entropy
    (bits over {bins} bins), edge density (mean central-difference
    gradient magnitude), and dynamic range — the blank/flat/blurry
    triage an image corpus runs before expensive captioning or
    embedding (a uniform color card scores 0 entropy and 0 edges; a
    checkerboard maxes edge density). Same numpy math against the fake
    codec that a PIL decode would feed at deploy; map-only Arrow
    stage, corrupt payloads degrade to NULL rows."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "id": [],
                "entropy_bits": [],
                "edge_density": [],
                "dynamic_range": [],
            }
            for pid, payload in zip(pdf[id_col], pdf[binary_col]):
                rows["id"].append(pid)
                px = _try_decode(payload)
                if px is None:
                    rows["entropy_bits"].append(None)
                    rows["edge_density"].append(None)
                    rows["dynamic_range"].append(None)
                    continue
                gray = px.astype("float64").mean(axis=0)  # [h, w]
                hist, _ = np.histogram(
                    gray, bins=ENTROPY_BINS, range=(0, 256)
                )
                p = hist[hist > 0] / gray.size
                rows["entropy_bits"].append(
                    float(-(p * np.log2(p)).sum())
                )
                gy = np.abs(np.diff(gray, axis=0)).mean() if gray.shape[0] > 1 else 0.0
                gx = np.abs(np.diff(gray, axis=1)).mean() if gray.shape[1] > 1 else 0.0
                rows["edge_density"].append(float((gx + gy) / (2 * 255.0)))
                rows["dynamic_range"].append(
                    float((gray.max() - gray.min()) / 255.0)
                )
            yield pd.DataFrame(rows)

    return df.select(id_col, binary_col).mapInPandas(
        stats,
        "id string, entropy_bits double, edge_density double,"
        " dynamic_range double",
    )


image_quality_stats.__doc__ = image_quality_stats.__doc__.format(
    bins=ENTROPY_BINS
)
