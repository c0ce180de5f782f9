"""One fresh process of the benchmark: set-up, then (usually) one cold pass.

Usage: python3 worker.py JOB.json RESULT.json

The process imports the program, builds its session with
``session.build_session`` and runs one trivial job; the time at which
that job finished is the end of set-up. Unless the job asks for set-up
only, it then makes one cold pass over its workload from this single
driver thread, one call at a time: each call builds a plan through the public registry or raster
functions and collects (or writes) its result. Correctness is checked
after the pass, outside every timed region. With ``trace`` set, each
call's Spark jobs are tagged with a job group and the layer counters are
read from Spark's status store after the pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

from spans import Span, SparkCounters, covered, python_bytes, self_time

# the status store trims jobs and stages past these counts; a pass must
# never lose its own records
_RETAIN = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


@dataclass
class Call:
    """One call of the pass: its span (with one child span per phase),
    what it returned, and the memo events it caused."""

    span: Span
    value: object = None
    df: object = None  # the DataFrame whose executed plan produced ``value``
    # (for the composite sink: the frame it persisted and wrote)
    memo: Counter = field(default_factory=Counter)
    error: str | None = None


def jvm_peak_rss_mb(sc) -> float:
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def check_cold(cache) -> None:
    """Refuse to time a pass that could ride memo state."""
    stores = ("_LIVE", "_ITER_MEMO", "_ROWS_MEMO", "MEMO_LOG")
    full = [s for s in stores if getattr(cache, s, None)]
    if full:
        raise RuntimeError(f"memo stores not empty at pass start: {full}")


class ColdPass:
    def __init__(self, spark, job: dict):
        import __spark_entry__
        from big_data_parallel_computing_hw2_spark.functions import cache
        from big_data_parallel_computing_hw2_spark.sources import raster

        self.spark, self.job, self.cache, self.raster = spark, job, cache, raster
        self.registry = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.trace = job["trace"]

    def _phase(self, call: Call, phase: str, fn):
        group = f"{call.span.name}.{phase}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, phase)
        start = time.time()
        value = fn()
        call.span.children.append(Span(phase, start, time.time(), group))
        return value

    def _call(self, name: str) -> Call:
        call = Call(Span(name, time.time(), 0.0))
        memo_log = getattr(self.cache, "MEMO_LOG", [])
        seen = len(memo_log)
        spark, tables, rasters = self.spark, self.job["tables"], self.job["rasters"]
        try:
            if name == "raster_band_stats":
                call.df = self._phase(
                    call, "build", lambda: self.raster.raster_band_stats(spark, rasters)
                )
                call.value = self._phase(call, "collect", call.df.collect)
            elif name == "raster_color_composite":
                call.df = self._phase(
                    call,
                    "build",
                    lambda: self.raster.raster_color_composite(spark, rasters, self.job["out"]),
                )
                call.value = self._phase(
                    call, "sink", lambda: self.raster.materialize_composite_files(call.df)
                )
            else:
                call.df = self._phase(call, "build", lambda: self.registry[name](spark, tables))
                call.value = self._phase(call, "collect", call.df.collect)
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, the pass goes on
            call.error = f"{type(exc).__name__}: {exc}"[:500]
        call.span.end = time.time()
        call.memo = Counter(event for _, event in memo_log[seen:])
        return call

    def run_calls(self) -> tuple[float, list[Call]]:
        start = time.time()
        calls = [self._call(name) for name in self.job["calls"]]
        return time.time() - start, calls

    # -- correctness, outside the timed pass --------------------------------

    def check(self, call: Call, con) -> str | None:
        if call.error:
            return call.error
        name = call.span.name
        if name == "raster_band_stats":
            return check_band_stats(call.value, self.job["truth"])
        if name == "raster_color_composite":
            return check_composites(call.value, self.job, self.raster)
        return self._check_oracle(name, call, con)

    def _check_oracle(self, name: str, call: Call, con) -> str | None:
        from tools.check_oracle import norm_rows, type_problems

        rel = con.sql(self.oracles[name])
        cols, d_cols = call.df.columns, rel.columns
        if sorted(cols) != sorted(d_cols):
            return f"columns {cols} vs oracle {d_cols}"
        problems = type_problems(call.df.schema, d_cols, rel.types)
        if problems:
            return "; ".join(problems)
        digest = hashlib.sha256(repr(norm_rows(cols, call.value)).encode()).hexdigest()
        oracle = hashlib.sha256(repr(norm_rows(d_cols, rel.fetchall())).encode()).hexdigest()
        return None if digest == oracle else f"result hash {digest[:12]} vs oracle {oracle[:12]}"

    # -- per-layer counters, read after the pass ----------------------------

    def layers(self, calls: list[Call]) -> dict[str, float]:
        counters = SparkCounters(self.spark.sparkContext)
        phases: dict[str, list[Span]] = {"build": [], "collect": [], "sink": []}
        raster_jobs, eager, all_jobs = [], [], []
        for call in calls:
            for phase in call.span.children:
                jobs = counters.jobs(phase.group)
                phase.children = [Span("job", j.start, j.end) for j in jobs]
                phases[phase.name].append(phase)
                all_jobs += jobs
                if phase.name == "build":
                    eager += jobs
                if call.span.name in self.job["raster_calls"]:
                    raster_jobs += jobs
        stages = counters.stages({s for j in all_jobs for s in j.stage_ids})
        eager_ids = {s for j in eager for s in j.stage_ids}
        raster_ids = {s for j in raster_jobs for s in j.stage_ids}
        sent = received = 0
        for call in calls:
            if call.df is not None and call.error is None:
                s, r = python_bytes(call.df)
                sent, received = sent + s, received + r
        out = self.job["out"]
        written = [os.path.join(out, f) for f in os.listdir(out)] if os.path.isdir(out) else []
        memo = sum((c.memo for c in calls), Counter())
        layers = {
            "build.self_s": sum(self_time(p) for p in phases["build"]),
            "build.eager_jobs": len(eager),
            "build.eager_stages": sum(1 for s in stages if s.stage_id in eager_ids),
            "build.eager_s": sum(
                covered(p.start, p.end, [(c.start, c.end) for c in p.children])
                for p in phases["build"]
            ),
            "cache.memo_builds": memo["build"],
            "cache.memo_hits": memo["hit"],
            "exec.jobs": len(all_jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s.tasks for s in stages),
            "sources.python_bytes_sent": sent,
            "sources.python_bytes_received": received,
            "sources.decode_stage_run_s": sum(
                s.counters["run_s"]
                for s in stages
                if s.stage_id in raster_ids and s.counters["input_bytes"] > 0
            ),
            "sink.write_s": sum(p.duration for p in phases["sink"]),
            "sink.files_out": len(written),
            "sink.bytes_out": sum(os.path.getsize(f) for f in written),
            "result.transfer_s": sum(self_time(p) for p in phases["collect"]),
            "result.rows": sum(len(c.value) for c in calls if isinstance(c.value, list)),
        }
        for key in stages[0].counters if stages else ():
            layers[f"exec.{key}"] = sum(s.counters[key] for s in stages)
        for call in calls:
            layers[f"query.{call.span.name}.cold_s"] = call.span.duration
        return layers


def check_band_stats(rows, truth: dict) -> str | None:
    import math

    if [r["band"] for r in rows] != list(range(1, len(truth["band_max"]) + 1)):
        return f"bands {[r['band'] for r in rows]}"
    for r in rows:
        b = r["band"] - 1
        for col in ("band_max", "band_min", "band_mean"):
            if not math.isclose(r[col], truth[col][b], rel_tol=1e-9, abs_tol=1e-9):
                return f"band {r['band']} {col} {r[col]} vs truth {truth[col][b]}"
        if r["n_files"] != truth["n_files"]:
            return f"band {r['band']} n_files {r['n_files']} vs truth {truth['n_files']}"
    return None


def check_composites(count: int, job: dict, raster) -> str | None:
    """One ``<stem>_color.ftif`` per readable input, holding its bands
    4, 3 and 2 (red, green, blue)."""
    import numpy as np

    want = job["truth"]["n_composites"]
    out = sorted(os.listdir(job["out"]))
    if count != want or len(out) != want:
        return f"{count} composites reported, {len(out)} written, {want} expected"
    for name in out:
        src = os.path.join(job["rasters"], name.replace("_color", ""))
        with open(src, "rb") as fh:
            bands = raster.decode_fake_tiff(fh.read())
        with open(os.path.join(job["out"], name), "rb") as fh:
            rgb = raster.decode_fake_tiff(fh.read())
        if not np.array_equal(rgb, bands[[3, 2, 1]]):
            return f"composite {name} differs from bands 4/3/2 of its input"
    return None


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit, so the next process
    starts on an idle machine."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(job_path: str, result_path: str) -> None:
    with open(job_path) as fh:
        job = json.load(fh)
    import __spark_entry__  # noqa: F401 — importing the program is part of set-up
    from big_data_parallel_computing_hw2_spark.session import build_session

    start = time.time()
    spark = build_session("perfbench", extra_conf=_RETAIN)
    result: dict = {"session_s": time.time() - start}
    spark.range(1).count()
    result["ready"] = time.time()
    result["parallelism"] = spark.sparkContext.defaultParallelism
    try:
        if job["cold_pass"]:
            result.update(run_pass(spark, job))
    finally:
        stop(spark)
    with open(result_path, "w") as fh:
        json.dump(result, fh)


def run_pass(spark, job: dict) -> dict:
    import duckdb

    p = ColdPass(spark, job)
    check_cold(p.cache)
    cold_s, calls = p.run_calls()
    result = {"cold_s": cold_s, "peak_rss_mb": jvm_peak_rss_mb(spark.sparkContext)}
    if p.trace:
        spark.sparkContext.setJobGroup("after-pass", "after-pass")
        result["layers"] = p.layers(calls)
    con = duckdb.connect()
    for t in os.listdir(job["tables"]):
        con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM '{job['tables']}/{t}'")
    result["calls"] = {
        c.span.name: {
            "cold_s": c.span.duration,
            "memo": dict(c.memo),
            "problem": p.check(c, con),
        }
        for c in calls
    }
    if p.trace:
        result["layers"]["cache.warm_pass_s"] = p.run_calls()[0]
    return result


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
