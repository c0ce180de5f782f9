"""Cold-process, layer-split benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates its inputs from the seed, then starts fresh worker
processes one after another, so only one Spark JVM is alive at a time:

- ``--trace 0``: one process that only sets up, then cold-pass
  processes until ``--seconds`` of pass time are measured (at least
  one, at most MAX_PASSES). Prints the end-to-end metrics: the median
  set-up time over all these processes and the median cold-pass time.
- ``--trace 1``: one untraced and one traced cold pass. Prints the
  per-layer metrics of the traced pass and the tracing overhead.

The last line of stdout is the result as one JSON object; stamps
(seed, load average, CPU steal, parallelism) and per-call records go
to stderr.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from workloads import RASTER_CALLS, RASTER_FILES, RASTER_SIZE, SF, WORKLOADS  # noqa: E402

MAX_PASSES = 3
DEADLINE_S = 170.0  # a run must end within 180 s

END_TO_END = ("setup_s", "cold_s")
LAYER_METRICS = (
    "peak_rss_mb",
    "session.start_s",
    "build.self_s",
    "build.eager_jobs",
    "build.eager_stages",
    "build.eager_s",
    "cache.memo_builds",
    "cache.memo_hits",
    "cache.warm_pass_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.input_bytes",
    "sources.python_bytes_sent",
    "sources.python_bytes_received",
    "sources.decode_stage_run_s",
    "sink.write_s",
    "sink.files_out",
    "sink.bytes_out",
    "result.transfer_s",
    "result.rows",
    "trace.overhead_s",
) + tuple(
    f"query.{name}.cold_s"
    for w in WORKLOADS.values()
    for name in (RASTER_CALLS if w.rasters else ()) + w.queries
)


def unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if "bytes" in metric:
        return "bytes"
    return "count"


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    what other tenants of the host took from this run."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class WorkerFailed(RuntimeError):
    pass


class Runner:
    """Starts worker processes one at a time under ``work`` and reaps
    every process each of them leaves behind."""

    def __init__(self, work: Path, deadline: float):
        self.work, self.deadline, self.started = work, deadline, 0
        # orphans (the JVM's Python daemons) re-parent to this process,
        # so it can wait for them
        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER

    def spawn(self, job: dict) -> dict:
        self.started += 1
        pdir = self.work / f"p{self.started}"
        for sub in ("local", "tmp", "out"):
            (pdir / sub).mkdir(parents=True)
        job = {**job, "out": str(pdir / "out")}
        (pdir / "job.json").write_text(json.dumps(job))
        env = {
            **os.environ,
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": str(pdir / "local"),
            "TMPDIR": str(pdir / "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={pdir / 'tmp'} -XX:-UsePerfData",
            # plan building that iterates a set does so in one order
            "PYTHONHASHSEED": "0",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
        cmd = [sys.executable, str(HERE / "worker.py"), "job.json", "result.json"]
        with open(pdir / "log.txt", "w") as log:
            spawned = time.time()
            proc = subprocess.Popen(
                cmd, cwd=pdir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                self._reap(proc)
        # inputs stay for the next process; scratch and outputs go now,
        # outside every timed region
        for sub in ("local", "tmp", "out"):
            shutil.rmtree(pdir / sub, ignore_errors=True)
        if code != 0:
            tail = (pdir / "log.txt").read_text(errors="replace")[-3000:]
            raise WorkerFailed(f"worker exited with {code}:\n{tail}")
        result = json.loads((pdir / "result.json").read_text())
        result["setup_s"] = result["ready"] - spawned
        return result

    @staticmethod
    def _reap(proc: subprocess.Popen) -> None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        give_up = time.time() + 30
        while time.time() < give_up:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)


def make_inputs(work: Path, workload, seed: int) -> dict:
    from inputs import write_rasters, write_tables

    job = {
        "workload": workload.name,
        "tables": str(work / "tables"),
        "rasters": str(work / "rasters"),
        "cold_pass": True,
        "raster_calls": list(RASTER_CALLS),
        "calls": list(workload.queries),
        "truth": None,
    }
    write_tables(job["tables"], seed, SF)
    if workload.rasters:
        truth = write_rasters(job["rasters"], seed, RASTER_FILES, RASTER_SIZE)
        job["truth"] = truth.__dict__
        job["calls"] = list(RASTER_CALLS) + job["calls"]
    return job


def measure(runner: Runner, job: dict, seconds: float, trace: bool):
    """(metrics, results of the cold-pass processes, set-up times)."""
    if trace:
        plain = runner.spawn({**job, "trace": False})
        traced = runner.spawn({**job, "trace": True})
        metrics = dict.fromkeys(LAYER_METRICS, 0.0)
        metrics.update(traced["layers"])
        metrics["peak_rss_mb"] = traced["peak_rss_mb"]
        metrics["session.start_s"] = traced["session_s"]
        metrics["trace.overhead_s"] = traced["cold_s"] - plain["cold_s"]
        return metrics, [plain, traced], [plain["setup_s"], traced["setup_s"]]
    # a pass costs a run several times its set-up, so one more process
    # that only sets up makes set-up a median without a second pass
    setups = [runner.spawn({**job, "cold_pass": False})["setup_s"]]
    passes: list[dict] = []
    while not passes or (
        len(passes) < MAX_PASSES and sum(p["cold_s"] for p in passes) < seconds
    ):
        start = time.time()
        passes.append(runner.spawn({**job, "trace": False}))
        setups.append(passes[-1]["setup_s"])
        if runner.deadline - time.time() < 1.5 * (time.time() - start):
            break
    metrics = {
        "setup_s": statistics.median(setups),
        "cold_s": statistics.median(p["cold_s"] for p in passes),
    }
    return metrics, passes, setups


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    deadline = time.time() + DEADLINE_S
    workload = WORKLOADS[args.workload]
    work = ROOT / ".perfbench" / f"{workload.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_start, steal_start = os.getloadavg(), steal_s()
    try:
        job = make_inputs(work, workload, args.seed)
        metrics, passes, setups = measure(
            Runner(work, deadline), job, args.seconds, bool(args.trace)
        )
    except WorkerFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    problems = {
        f"pass{i}.{name}": c["problem"]
        for i, p in enumerate(passes)
        for name, c in p["calls"].items()
        if c["problem"]
    }
    attempted = sum(len(p["calls"]) for p in passes)
    stamp = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "steal_s": steal_s() - steal_start,
        "parallelism": sorted({p["parallelism"] for p in passes}),
        "setup_s": setups,
        "peak_rss_mb": [p["peak_rss_mb"] for p in passes],
        "cold_s": [p["cold_s"] for p in passes],
        "calls": [p["calls"] for p in passes],
        "problems": problems,
    }
    print(json.dumps({"perfbench": stamp}), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": len(problems),
                "metrics": {m: {"value": v, "unit": unit(m)} for m, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
