"""Data-scaling audit: run every registered query at all three test
scale factors and fit the per-query log-log slope — the measured
answer to "would this plan survive a 100× scale-up".

slope ≈ 1 is linear in data (ideal for scans/aggs), < 1 means fixed
session/plan overhead still dominates at these SFs, and anything
clearly super-linear (> SLOPE_FLAG) is a quadratic-candidate smell the
plan audit should explain or fix. The slope uses the two LARGEST SFs
(0.01 → 0.1) where data work outweighs the ~0.1 s per-query floor;
tiny queries (t < T_FLOOR at sf0.1) are exempt from flagging — their
"slope" is measurement noise around the floor.

Usage: python tools/scaling_report.py > SCALING.md   (~25 min)
The sf1 section covers the FULL registry by default (the committed
artifact's scope); set SPARK_GRAFT_SF1_TOP=N to limit it to the N
most expensive queries for a faster iteration run.
Best-of-3 per (query, SF): this host shows bursty CPU contention; min
is the interference-robust estimator (same policy as bench.py).
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from big_data_parallel_computing_hw2_spark.session import build_session

SF_DIRS = (
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
)
RUNS = 3
SLOPE_FLAG = 1.3  # log-log slope above this = super-linear candidate
T_FLOOR = 0.5  # seconds at sf0.1 below which slope is noise

# The sf1 decade: slopes at sf<=0.1 are overhead-dominated (max +0.82
# in r10), so they prove "no blowup by sf0.1", not "linear at 100x".
# tools/make_sf1.py derives a x10 re-keyed replica of sf0.1; the
# TOP_N most expensive queries (by t@sf0.1) get a fourth measured
# point and a 0.1->1 slope where data work actually outweighs the
# per-query floor. Override the dir with SPARK_GRAFT_SF1_DIR; absent
# dir = the sf1 section is skipped (the driver box doesn't ship sf1).
SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        "sf1",
    ),
)
TOP_N = int(os.environ.get("SPARK_GRAFT_SF1_TOP", "0"))  # 0 = full registry
T_FLOOR_SF1 = 2.0  # seconds at sf1 below which slope is still noise


def _fresh_session(tag: str):
    """Fresh session per SF: one mega-session across 4 SFs × ~200
    queries churns the CacheManager through thousands of
    persist/unpersist cycles and has hit a Spark-internal NPE
    (recacheByPlan on a plan whose session reference died) ~30k stages
    in (round-12 postmortem). Session-per-SF bounds that churn, and
    bounded_cache rebuilds cleanly after a restart."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # -Xlog:disable: under memory pressure the JVM emits gc,alloc
    # warnings on STDOUT, which is this tool's report stream (the
    # documented usage redirects it to SCALING.md) — the round-12 run
    # interleaved hundreds of GCLocker lines into the artifact. Only
    # the first session of the process actually launches the JVM, so
    # passing it every time is harmless.
    return build_session(
        f"scaling-{tag}",
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )


def _timed(spark, name: str, fn, sf_dir: str, sf: float) -> float:
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        best = min(best, time.perf_counter() - t0)
    print(f"# {name}@{sf}: {best:.3f}s", file=sys.stderr)
    return best


def measure() -> dict[str, dict[float, float]]:
    out: dict[str, dict[float, float]] = {}
    sf1_names: list[str] = []
    all_dirs = list(SF_DIRS)
    if os.path.isdir(SF1_DIR):
        all_dirs.append((SF1_DIR, 1.0))
    for sf_dir, sf in all_dirs:
        spark = _fresh_session(str(sf))
        # warm scan/footers per SF so first-touch IO doesn't skew run 1
        entry_mod.queries()["q1_pricing_summary"](spark, sf_dir).collect()
        if sf == 1.0:
            ranked = sorted(out, key=lambda n: out[n][0.1], reverse=True)
            names = ranked[:TOP_N] if TOP_N > 0 else ranked
            sf1_names = names
        else:
            names = list(entry_mod.queries())
        failed: list[str] = []
        for name in names:
            fn = entry_mod.queries()[name]
            try:
                out.setdefault(name, {})[sf] = _timed(
                    spark, name, fn, sf_dir, sf
                )
            except Exception as exc:  # noqa: BLE001 — retry in clean session
                print(
                    f"# {name}@{sf}: FAILED ({type(exc).__name__}) — "
                    "will retry in a fresh session",
                    file=sys.stderr,
                )
                failed.append(name)
        if failed:
            spark = _fresh_session(f"{sf}-retry")
            entry_mod.queries()["q1_pricing_summary"](
                spark, sf_dir
            ).collect()
            for name in failed:
                # no try here: a query that dies twice, including once
                # in a clean session, IS a regression the tool must
                # surface loudly, not paper over
                out.setdefault(name, {})[sf] = _timed(
                    spark, name, entry_mod.queries()[name], sf_dir, sf
                )
    # drop sf1 points for queries outside the (possibly top-N) sf1 set
    if sf1_names:
        keep = set(sf1_names)
        for name in out:
            if name not in keep:
                out[name].pop(1.0, None)
    return out


def main() -> int:
    t = measure()
    flagged = []
    print("# SCALING — data-scaling audit (tools/scaling_report.py)")
    print()
    print(
        "Per-query wall-clock at sf0.001/0.01/0.1 (best of "
        f"{RUNS}), log-log slope over the top decade (0.01→0.1). "
        "slope ≈ 1 = linear in data; < 1 = fixed overhead dominates; "
        f"> {SLOPE_FLAG} with t@0.1 ≥ {T_FLOOR}s = flagged super-linear."
    )
    print()
    print("| query | t@0.001 | t@0.01 | t@0.1 | slope | flag |")
    print("| --- | --- | --- | --- | --- | --- |")
    for name, row in t.items():
        slope = math.log10(row[0.1] / row[0.01])
        flag = ""
        if slope > SLOPE_FLAG and row[0.1] >= T_FLOOR:
            flag = "SUPER-LINEAR"
            flagged.append((name, slope))
        print(
            f"| {name} | {row[0.001]:.3f} | {row[0.01]:.3f} "
            f"| {row[0.1]:.3f} | {slope:+.2f} | {flag} |"
        )
    print()
    if flagged:
        print(
            "Flagged: "
            + ", ".join(f"{n} ({s:+.2f})" for n, s in flagged)
        )
    else:
        print(
            "No query exceeds the super-linear threshold at the "
            "measured scales."
        )
    sf1_rows = [(n, r) for n, r in t.items() if 1.0 in r]
    if sf1_rows:
        print()
        scope = (
            "FULL registry"
            if len(sf1_rows) >= len(t)
            else f"top-{TOP_N} by t@sf0.1"
        )
        print(f"## The sf1 decade ({scope})")
        print()
        print(
            "Fourth measured point on a ×10 re-keyed replica of sf0.1 "
            "(tools/make_sf1.py — deterministic, dup/bucket structure "
            "preserved per replica, replicas disjoint). The 0.1→1 "
            "decade is where data work finally outweighs the per-query "
            f"floor; slope > {SLOPE_FLAG} with t@1 ≥ {T_FLOOR_SF1}s = "
            "flagged."
        )
        print()
        print("| query | t@0.1 | t@1 | slope 0.1→1 | flag |")
        print("| --- | --- | --- | --- | --- |")
        sf1_flagged = []
        for name, row in sorted(
            sf1_rows, key=lambda nr: nr[1][1.0], reverse=True
        ):
            slope = math.log10(row[1.0] / row[0.1])
            flag = ""
            if slope > SLOPE_FLAG and row[1.0] >= T_FLOOR_SF1:
                flag = "SUPER-LINEAR"
                sf1_flagged.append((name, slope))
            print(
                f"| {name} | {row[0.1]:.3f} | {row[1.0]:.3f} "
                f"| {slope:+.2f} | {flag} |"
            )
        print()
        if sf1_flagged:
            print(
                "Flagged at sf1: "
                + ", ".join(f"{n} ({s:+.2f})" for n, s in sf1_flagged)
            )
        else:
            print(
                "No top-cost query exceeds the super-linear threshold "
                "over the sf0.1→sf1 decade."
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
