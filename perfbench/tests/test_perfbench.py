"""Tests of the benchmark itself (not of the engine).

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
from inputs import write_rasters, write_tables  # noqa: E402
from spans import Span, covered, self_time  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_raster_generator_is_deterministic(tmp_path):
    a = write_rasters(str(tmp_path / "a"), 5, n_files=6, size=8)
    b = write_rasters(str(tmp_path / "b"), 5, n_files=6, size=8)
    c = write_rasters(str(tmp_path / "c"), 6, n_files=6, size=8)
    assert a == b and _files(tmp_path / "a") == _files(tmp_path / "b")
    assert a != c and _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.n_composites == 3 and min(a.band_min) == 0.0  # unreadable files


def test_table_generator_is_deterministic(tmp_path):
    write_tables(str(tmp_path / "a"), 5, 0.001)
    write_tables(str(tmp_path / "b"), 5, 0.001)
    write_tables(str(tmp_path / "c"), 6, 0.001)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a")["lineitem.parquet"] != _files(tmp_path / "c")["lineitem.parquet"]

    # another seed shuffles the rows but keeps the values
    def rows(d: str):
        t = pq.read_table(tmp_path / d / "lineitem.parquet")
        return t.sort_by([(c, "ascending") for c in t.column_names])

    assert rows("a").equals(rows("c"))


@pytest.fixture(scope="module")
def spark():
    # the Python workers of mapInPandas import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from big_data_parallel_computing_hw2_spark.session import build_session

    return build_session("perfbench-tests", shuffle_partitions=4)


def test_raster_truth_equals_raster_band_stats(spark, tmp_path):
    from big_data_parallel_computing_hw2_spark.sources.raster import raster_band_stats

    truth = write_rasters(str(tmp_path), 3, n_files=8, size=16, n_bad=2)
    rows = raster_band_stats(spark, str(tmp_path)).collect()
    assert [r["band"] for r in rows] == [1, 2, 3, 4, 5, 6]
    for r in rows:
        b = r["band"] - 1
        assert r["n_files"] == truth.n_files
        for col in ("band_max", "band_min", "band_mean"):
            assert math.isclose(r[col], getattr(truth, col)[b], rel_tol=1e-9)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (4, 6)]) == 5  # union [1, 6]
    assert covered(0, 10, [(-5, 2), (9, 20)]) == 3  # clipped to [0, 10]
    assert covered(0, 10, [(2, 8), (3, 4)]) == 6  # nested
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_subtracts_child_cover():
    span = Span("collect", 100.0, 110.0)
    span.children = [Span("job", 101.0, 104.0), Span("job", 103.0, 105.0), Span("job", 108.0, 112.0)]
    assert self_time(span) == pytest.approx(10 - 4 - 2)
    assert self_time(Span("build", 0.0, 2.5)) == 2.5


def _fake_result(trace: bool) -> dict:
    result = {
        "ready": 0.0, "setup_s": 7.0, "session_s": 4.0, "cold_s": 12.0,
        "peak_rss_mb": 2048.0, "parallelism": 4,
        "calls": {"q": {"cold_s": 1.0, "memo": {}, "problem": None}},
    }
    if trace:
        result["layers"] = {"build.self_s": 1.0, "query.band_mean.cold_s": 0.5}
    return result


class _FakeRunner:
    deadline = float("inf")

    def spawn(self, job: dict) -> dict:
        return _fake_result(job.get("trace", False))


@pytest.mark.parametrize("trace,section", [(False, "end_to_end"), (True, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, section):
    metrics = run.measure(_FakeRunner(), {}, 10, trace)[0]
    declared = {m["name"]: m["unit"] for m in BENCHMARK[section]}
    assert {m: run.unit(m) for m in metrics} == declared


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]
    assert BENCHMARK["paths"] == ["perfbench"]
