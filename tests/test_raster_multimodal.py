"""Raster binary pipeline (reference parity over real binary inputs)
and multimodal column plumbing — fake deterministic codecs, real Spark
schema/batching."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_parallel_computing_hw2_spark.operators import multimodal
from big_data_parallel_computing_hw2_spark.sources import raster


@pytest.fixture(scope="module")
def raster_dir(tmp_path_factory):
    """12 deterministic FTIF files, 6 bands of 4x5 float32."""
    d = tmp_path_factory.mktemp("rasters")
    rng = np.random.default_rng(7)
    truth = {}
    for i in range(12):
        bands = rng.uniform(1, 100, size=(6, 4, 5)).astype("float32")
        bands[0, 0, 0] = 0.0  # exercise the non-zero filter
        (d / f"img_{i:02d}.ftif").write_bytes(raster.encode_fake_tiff(bands))
        truth[f"img_{i:02d}.ftif"] = bands
    return str(d), truth


def test_ftif_roundtrip():
    bands = np.arange(24, dtype="float32").reshape(2, 3, 4)
    assert np.array_equal(
        raster.decode_fake_tiff(raster.encode_fake_tiff(bands)), bands
    )


def test_real_decoder_optional_import():
    """Without tifffile the real path is a marked stub; with it (or a
    stand-in) the same code decodes. Both branches run here: the
    absent branch only when the container truly lacks tifffile."""
    if raster._TIFFFILE is None:
        with pytest.raises(NotImplementedError):
            raster.decode_tiff_real(b"II*\x00")
    else:  # environment with the optional dep installed
        import io

        buf = io.BytesIO()
        raster._TIFFFILE.imwrite(buf, np.ones((4, 5), dtype="float32"))
        assert raster.decode_tiff_real(buf.getvalue()).shape == (1, 4, 5)


class _FakeTifffile:
    """Stand-in for the optional tifffile module: records the payload
    and returns a fixed interleaved (h, w, c) array like a real RGB
    TIFF read would."""

    def __init__(self, arr):
        self.arr = arr

    def imread(self, fh):
        assert fh.read(4) in raster.TIFF_MAGICS
        return self.arr


def test_decode_auto_routes_by_magic(monkeypatch):
    # FTIF magic → fake codec
    bands = np.arange(24, dtype="float32").reshape(2, 3, 4)
    assert np.array_equal(raster.decode_auto(raster.encode_fake_tiff(bands)), bands)
    # unknown magic → ValueError (pipeline treats as unreadable)
    with pytest.raises(ValueError):
        raster.decode_auto(b"PK\x03\x04junk")
    # TIFF magic → tifffile path; (h, w, c) normalizes to band-major
    interleaved = np.arange(16 * 5 * 3, dtype="uint16").reshape(16, 5, 3)
    monkeypatch.setattr(raster, "_TIFFFILE", _FakeTifffile(interleaved))
    out = raster.decode_auto(b"II\x2a\x00" + b"\x00" * 8)
    assert out.shape == (3, 16, 5) and out.dtype == np.float32
    assert np.array_equal(out[1], interleaved[:, :, 1].astype("float32"))
    # 2-D single band → (1, h, w)
    monkeypatch.setattr(
        raster, "_TIFFFILE", _FakeTifffile(np.ones((4, 5), dtype="float32"))
    )
    assert raster.decode_auto(b"MM\x00\x2a" + b"\x00" * 8).shape == (1, 4, 5)


def _file_means_truth(bands: np.ndarray) -> list[float]:
    """Per band: mean of the non-zero pixels as float64, 0.0 if none."""
    means = []
    for band in bands:
        px = band.ravel().astype(np.float64)
        nz = px[px != 0]
        means.append(nz.sum() / len(nz) if len(nz) else 0.0)
    return means


def test_raster_band_stats_matches_numpy(spark, raster_dir):
    path, truth = raster_dir
    got = {r["band"]: r for r in raster.raster_band_stats(spark, path).collect()}
    assert set(got) == set(range(1, 7))
    per_file = [_file_means_truth(bands) for bands in truth.values()]
    for b in range(6):
        means = [m[b] for m in per_file]
        row = got[b + 1]
        assert row["n_files"] == 12
        assert row["band_max"] == pytest.approx(max(means), rel=1e-12)
        assert row["band_min"] == pytest.approx(min(means), rel=1e-12)
        assert row["band_mean"] == pytest.approx(np.mean(means), rel=1e-12)


def _plan_nodes(df):
    """Every node of df's executed plan, through adaptive query stages."""
    todo, out = [df._jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_raster_band_stats_edge_cases(spark, tmp_path):
    """An all-zero band (mean 0.0, not NaN), an unreadable file (6 zero
    means), a 3-band file (means for bands 1-3 only) and a normal file
    match numpy truth; the codec hands back per-file means, never a
    pixel array."""
    rng = np.random.default_rng(3)
    normal = rng.uniform(1, 100, size=(6, 7, 9)).astype("float32")
    normal[normal < 30] = 0.0
    zero_band = rng.uniform(1, 100, size=(6, 5, 5)).astype("float32")
    zero_band[2] = 0.0
    three = rng.uniform(1, 100, size=(3, 4, 4)).astype("float32")
    for name, bands in (("a", normal), ("b", zero_band), ("c", three)):
        (tmp_path / f"{name}.ftif").write_bytes(raster.encode_fake_tiff(bands))
    (tmp_path / "d.ftif").write_bytes(b"FTIF\x06")  # truncated header

    per_file = [
        _file_means_truth(normal),
        _file_means_truth(zero_band),
        _file_means_truth(three),
        [0.0] * 6,
    ]
    assert per_file[1][2] == 0.0
    df = raster.raster_band_stats(spark, str(tmp_path))
    got = {r["band"]: r for r in df.collect()}
    assert set(got) == set(range(1, 7))
    for b in range(6):
        means = [m[b] for m in per_file if b < len(m)]
        row = got[b + 1]
        assert row["n_files"] == len(means) == (4 if b < 3 else 3)
        assert row["band_max"] == pytest.approx(max(means), rel=1e-12)
        assert row["band_min"] == pytest.approx(min(means), rel=1e-12)
        assert row["band_mean"] == pytest.approx(np.mean(means), rel=1e-12)

    codecs = [
        n for n in _plan_nodes(df)
        if n.getClass().getSimpleName() == "MapInPandasExec"
    ]
    assert len(codecs) == 1
    out = codecs[0].output()
    types = [out.apply(i).dataType().typeName() for i in range(out.size())]
    assert types == ["string", "integer", "double"]


def test_file_band_means_keeps_nan():
    """NaN is non-zero (as Spark's `x != 0.0` has it), so it poisons
    its band's mean; an all-zero band is 0.0."""
    bands = np.ones((3, 2, 2), dtype="float32")
    bands[0, 0, 0] = np.nan
    bands[1] = 0.0
    bands[2, 1, 1] = 0.0
    means = raster._file_band_means(bands)
    assert np.isnan(means[0])
    assert means[1] == 0.0 and means[2] == 1.0


def test_raster_color_composite(spark, raster_dir):
    path, truth = raster_dir
    out = raster.raster_color_composite(spark, path, "/out").collect()
    assert len(out) == 12
    by_name = {r["path"]: r["content"] for r in out}
    assert all(p.endswith("_color.ftif") for p in by_name)
    sample = raster.decode_fake_tiff(bytes(by_name["/out/img_03_color.ftif"]))
    src = truth["img_03.ftif"]
    # reference band order: R=band4, G=band3, B=band2 (1-based)
    assert np.array_equal(sample[0], src[3])
    assert np.array_equal(sample[1], src[2])
    assert np.array_equal(sample[2], src[1])


@pytest.fixture(scope="module")
def image_df(spark):
    rng = np.random.default_rng(11)
    rows = []
    for i in range(8):
        px = rng.integers(0, 256, size=(3, 6, 6), dtype=np.uint8)
        rows.append((f"img{i}", bytearray(multimodal.encode_fake_image(px))))
    return spark.createDataFrame(rows, "path string, content binary")


def test_attach_image_meta(spark, image_df):
    out = multimodal.attach_image_meta(image_df).collect()
    assert all(r["width"] == 6 and r["height"] == 6 for r in out)
    assert all(r["channels"] == 3 and r["format"] == "fimg" for r in out)
    bad = spark.createDataFrame(
        [("x", bytearray(b"JUNKJUNKJUNKJUNKJUNK"))],
        "path string, content binary",
    )
    r = multimodal.attach_image_meta(bad).collect()[0]
    assert r["format"] == "unknown" and r["width"] is None


def test_image_features_shape_and_norm(image_df):
    rows = multimodal.image_features(image_df).collect()
    assert len(rows) == 8
    for r in rows:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert sum(r["feature"]) == pytest.approx(1.0, abs=1e-5)


def test_image_resize_roundtrip(image_df):
    out = multimodal.image_resize(image_df, 3, 2).collect()
    for r in out:
        px = multimodal.decode_fake_image(bytes(r["content"]))
        assert px.shape == (3, 2, 3)  # channels, height, width


def test_frame_sample_every_other(image_df):
    rows = multimodal.frame_sample(image_df, 2, id_col="path").collect()
    # 3 "frames" per payload, every 2nd → frames 0 and 2
    assert len(rows) == 16
    assert sorted({r["frame"] for r in rows}) == [0, 2]
    px = multimodal.decode_fake_image(bytes(rows[0]["content"]))
    assert px.shape[0] == 1


def test_real_image_decoder_is_marked_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\xff\xd8\xff")


def test_composite_sinks_roundtrip(spark, raster_dir, tmp_path):
    """Both sinks: parquet binary-column store re-reads byte-identical;
    per-file materialization writes each composite at its embedded path
    and the files decode to the (R,G,B)=(band4,band3,band2) stack."""
    path, truth = raster_dir
    out_dir = str(tmp_path / "composites")
    comp = raster.raster_color_composite(spark, path, out_dir)

    pq_path = str(tmp_path / "composites_parquet")
    raster.write_composites_parquet(comp, pq_path)
    back = {
        r["path"]: bytes(r["content"])
        for r in spark.read.parquet(pq_path).collect()
    }
    direct = {r["path"]: bytes(r["content"]) for r in comp.collect()}
    assert back == direct

    n = raster.materialize_composite_files(comp)
    assert n == len(truth)
    import os

    for name, bands in truth.items():
        stem = name.rsplit(".", 1)[0]
        fp = os.path.join(out_dir, f"{stem}_color.ftif")
        assert os.path.exists(fp)
        rgb = raster.decode_fake_tiff(open(fp, "rb").read())
        assert np.array_equal(rgb, np.stack([bands[3], bands[2], bands[1]]))


def test_materialize_composites_counts_what_it_writes(spark, raster_dir, tmp_path):
    """The sink writes one file per composable input and returns that
    count from a single Spark job; a corrupt input and a 3-band input
    (no band 4) are neither written nor counted."""
    import os

    _, truth = raster_dir
    src = tmp_path / "in"
    src.mkdir()
    for name, bands in list(truth.items())[:3]:
        (src / name).write_bytes(raster.encode_fake_tiff(bands))
    (src / "corrupt.ftif").write_bytes(b"FTIF\x06\x00")
    (src / "rgb.ftif").write_bytes(
        raster.encode_fake_tiff(np.ones((3, 4, 5), dtype="float32"))
    )
    out_dir = str(tmp_path / "out")
    comp = raster.raster_color_composite(spark, str(src), out_dir)

    sc = spark.sparkContext
    group = "materialize-composite-files"
    sc.setJobGroup(group, group)
    try:
        n = raster.materialize_composite_files(comp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    written = sorted(os.listdir(out_dir))
    assert n == len(written) == 3
    assert written == sorted(
        f"{name.rsplit('.', 1)[0]}_color.ftif" for name in list(truth)[:3]
    )
    # job records arrive through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_multimodal_corrupt_payload_degrades_not_fails(spark):
    """One corrupt/truncated payload yields a degraded row (null
    feature / passthrough / no frames) instead of failing the job."""
    rows = [
        ("good", multimodal.encode_fake_image(
            np.arange(24, dtype="uint8").reshape(2, 3, 4))),
        ("corrupt", b"FIMG\x01\x02"),          # truncated header
        ("not_image", b"definitely not an image"),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")

    feats = {r["id"]: r["feature"]
             for r in multimodal.image_features(df).collect()}
    assert feats["good"] is not None
    assert feats["corrupt"] is None and feats["not_image"] is None

    meta = {r["path"]: r["format"]
            for r in multimodal.attach_image_meta(df).collect()}
    assert meta["good"] == "fimg"
    assert meta["corrupt"] == "unknown" and meta["not_image"] == "unknown"

    resized = {r["path"]: bytes(r["content"])
               for r in multimodal.image_resize(df, 2, 2).collect()}
    assert resized["corrupt"] == b"FIMG\x01\x02"  # passthrough

    frames = multimodal.frame_sample(df, 1).collect()
    assert {r["id"] for r in frames} == {"good"}


def test_media_dedup_groups_finds_reencoded_copy(spark):
    """Perceptual-hash dedup: a resized re-encode of an image must land
    in the same group as the original (byte hashes differ!), while a
    structurally different image stays out; corrupt payloads are
    ignored."""
    rng = np.random.default_rng(7)
    base = rng.integers(0, 255, size=(3, 32, 32), dtype=np.uint8)
    # strong structure so downsampling preserves the bit pattern
    base[:, :16, :] = 250
    base[:, 16:, :] = 5
    other = base.copy()
    other[:, :16, :] = 5
    other[:, 16:, :] = 250  # inverted structure -> different phash
    rows = [
        ("a_orig", multimodal.encode_fake_image(base)),
        # nearest-neighbor re-encode at half size: different BYTES
        ("b_resized", None),  # filled below
        ("c_other", multimodal.encode_fake_image(other)),
        ("d_corrupt", b"JUNK"),
    ]
    half = base[:, ::2, ::2]
    rows[1] = ("b_resized", multimodal.encode_fake_image(half))
    df = spark.createDataFrame(rows, "path string, content binary")
    groups = multimodal.media_dedup_groups(df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["keeper_id"] == "a_orig"
    assert g["member_ids"] == ["a_orig", "b_resized"]
    assert g["n_items"] == 2


def test_scene_cuts_find_planted_shot_boundaries(spark):
    """A synthetic clip with three constant shots (tiny in-shot jitter,
    big jumps at the two boundaries) yields exactly those two cuts and
    n_shots == 3; a static clip and a too-short clip emit nothing."""
    rng = np.random.default_rng(11)

    def shot(n_frames, level):
        base = np.full((n_frames, 8, 8), level, dtype="float64")
        jitter = rng.integers(-2, 3, size=base.shape)
        return np.clip(base + jitter, 0, 255).astype("uint8")

    clip = np.concatenate(
        [shot(6, 40), shot(5, 160), shot(7, 90)]
    )  # cuts at frame 6 and 11
    static = np.full((5, 8, 8), 77, dtype="uint8")
    df = spark.createDataFrame(
        [
            ("clip", bytearray(multimodal.encode_fake_image(clip))),
            ("static", bytearray(multimodal.encode_fake_image(static))),
            ("short", bytearray(multimodal.encode_fake_image(static[:2]))),
            ("junk", bytearray(b"notvideo")),
        ],
        "path string, content binary",
    )
    rows = multimodal.video_scene_cuts(df).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert set(by_id) == {"clip"}
    cuts = sorted(r["cut_frame"] for r in by_id["clip"])
    assert cuts == [6, 11]
    assert all(r["n_shots"] == 3 for r in by_id["clip"])
    assert all(r["diff"] > r["median_diff"] * multimodal.CUT_MULT for r in by_id["clip"])


def test_hamming_dedup_equals_bruteforce(spark):
    """media_dedup_hamming == the Python brute force over the same
    phashes: every pair within the radius is found (lossless banding)
    and nothing beyond the radius leaks in. Input includes a perturbed
    near-dup, an exact dup, and unrelated images."""
    rng = np.random.default_rng(5)
    base = rng.integers(0, 256, size=(1, 32, 32)).astype("uint8")
    near = base.copy()
    near[0, :3, :3] = 255 - near[0, :3, :3]  # flip a corner patch
    imgs = [
        ("a_base", base),
        ("b_near", near),
        ("c_exact", base.copy()),
        ("d_other", rng.integers(0, 256, size=(1, 32, 32)).astype("uint8")),
        ("e_other", rng.integers(0, 256, size=(1, 32, 32)).astype("uint8")),
    ]
    df = spark.createDataFrame(
        [(n, bytearray(multimodal.encode_fake_image(p))) for n, p in imgs],
        "path string, content binary",
    )
    r = multimodal.HAMMING_RADIUS
    got = {
        (row["id_a"], row["id_b"]): row["hamming"]
        for row in multimodal.media_dedup_hamming(df).collect()
    }
    ph = {
        row["id"]: row["phash"]
        for row in multimodal.image_phash(df).collect()
    }
    want = {}
    names = sorted(ph)
    for i, x in enumerate(names):
        for y in names[i + 1:]:
            d = bin((ph[x] ^ ph[y]) & ((1 << 64) - 1)).count("1")
            if d <= r:
                want[(x, y)] = d
    assert got == want
    assert ("a_base", "c_exact") in got and got[("a_base", "c_exact")] == 0
    # the perturbed copy is a NEAR dup: nonzero distance, within radius
    # (verified: this seed's corner flip moves exactly 2 phash bits)
    assert 0 < got[("a_base", "b_near")] <= r


def test_image_quality_stats_closed_forms(spark):
    """Uniform card: 0 entropy, 0 edges, 0 range. Checkerboard: 1 bit
    of entropy (two equal bins), max edge density and range. A 4-level
    stripe image hits exactly 2 bits. Corrupt payloads: NULL rows."""
    import numpy as np

    flat = np.full((3, 8, 8), 128, dtype="uint8")
    checker = np.indices((8, 8)).sum(axis=0) % 2 * 255
    checker = np.broadcast_to(checker, (3, 8, 8)).astype("uint8")
    stripes = np.repeat(
        np.array([0, 64, 128, 192], dtype="uint8")[:, None], 8, axis=1
    )
    stripes = np.broadcast_to(
        np.tile(stripes, (2, 1)), (3, 8, 8)
    ).astype("uint8")
    df = spark.createDataFrame(
        [
            ("flat", bytearray(multimodal.encode_fake_image(flat))),
            ("checker", bytearray(multimodal.encode_fake_image(checker))),
            ("stripes", bytearray(multimodal.encode_fake_image(stripes))),
            ("corrupt", bytearray(b"junk")),
        ],
        "path string, content binary",
    )
    got = {r["id"]: r for r in multimodal.image_quality_stats(df).collect()}

    assert got["flat"]["entropy_bits"] == 0.0
    assert got["flat"]["edge_density"] == 0.0
    assert got["flat"]["dynamic_range"] == 0.0

    assert got["checker"]["entropy_bits"] == 1.0  # two equal bins
    assert got["checker"]["dynamic_range"] == 1.0
    # every central difference flips 0<->255: mean |grad| == 255
    assert got["checker"]["edge_density"] == 1.0

    assert got["stripes"]["entropy_bits"] == 2.0  # four equal bins
    assert got["corrupt"]["entropy_bits"] is None
