"""Partition-aware table MAINTENANCE job (the OPTIMIZE loop a 100 TB
hive-partitioned fact table runs nightly), composed from this engine's
proven pieces the way corpus_publish composes the operator suite:

    fragmentation report   (pure file-listing arithmetic, no data IO)
      → compact ONLY the fragmented partitions (coalesce, no shuffle —
        sources/layout.compact_dir's shape, applied per partition dir)
      → verify each rewrite (row count + order-independent content
        hash, computed from the STAGED files before anything is
        swapped)
      → per-partition rename-aside swap (the same crash-recoverable
        three-step discipline as corpus_publish / merge_into_table:
        every crash point leaves a complete named partition directory,
        and `recover_partitions` — run at the start of every
        maintenance pass — heals any earlier crash)
      → maintenance manifest (what was compacted, skipped, verified)

Design constraints that matter at scale:

* **Selective**: untouched partitions keep their exact files (names
  and bytes) — maintenance must never churn cold data, both for
  object-store cost and for downstream mtime-based incremental
  readers (see pipelines/incremental_ingest.py).
* **Idempotent**: a re-run finds nothing fragmented and converges to
  a true no-op manifest.
* **Verified before visible**: the rewrite is compared against the
  live partition (rows + content hash over every column) while both
  exist; a mismatched rewrite is DISCARDED, never swapped in — and
  recorded in the manifest's ``failed`` list while the REST of the
  pass continues, so one corrupted rewrite quarantines one partition
  instead of leaving every later fragmented partition uncompacted.
* **Concurrent where it matters**: per-partition rewrite + verify +
  swap runs from a bounded driver thread pool (Spark's scheduler
  interleaves the jobs), so a nightly pass over many fragmented
  partitions is not serialized on the driver loop.
* **Single-writer assumed, narrow-window guarded**: maintenance
  assumes it is the only writer of the partitions it rewrites. As a
  guard, the partition's file listing is re-checked immediately
  before the swap and the swap aborts (partition quarantined) if it
  changed since the staged rewrite — this NARROWS the lost-write
  window to the instants between the final listing and the rename,
  it does not close it. Run maintenance only on partitions no writer
  is appending to (e.g. closed time partitions).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

PREV_SUFFIX = "__maint_prev"
STAGING_SUFFIX = "__maint_staging"

#: Directory (under the table dir, underscore-prefixed so every Spark
#: reader ignores it) where each pass records its REWRITE manifests:
#: which input files each compacted partition's output files replaced.
#: Downstream exact-pickup consumers (pipelines/manifest_ingest.py) use
#: these to mark rewrite outputs as already-ingested-by-construction
#: instead of re-reading every compacted byte.
MAINT_DIR = "_maintenance"


class CompactionVerifyError(RuntimeError):
    """A staged rewrite did not match the live partition (or the live
    partition changed under the rewrite); nothing was swapped. Caught
    per partition by compact_table and recorded in the manifest's
    ``failed`` list — the pass continues."""


def _partition_dirs(table_dir: str) -> list[str]:
    return sorted(
        d
        for d in os.listdir(table_dir)
        if "=" in d
        and not d.endswith((PREV_SUFFIX, STAGING_SUFFIX))
        and os.path.isdir(os.path.join(table_dir, d))
    )


def _data_files(part_path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(part_path) if f.endswith(".parquet")
    )


def fragmentation_report(
    table_dir: str, target_file_bytes: int
) -> list[dict]:
    """Listing-time-only fragmentation stats per hive partition dir:
    a partition is fragmented when it holds more files than its bytes
    justify at ``target_file_bytes`` per file. No data IO — at 100 TB
    this is one object-store LIST, the same cost every planner pays."""
    out = []
    for d in _partition_dirs(table_dir):
        p = os.path.join(table_dir, d)
        files = _data_files(p)
        total = sum(os.path.getsize(os.path.join(p, f)) for f in files)
        justified = max(1, -(-total // target_file_bytes))  # ceil
        out.append(
            {
                "partition": d,
                "n_files": len(files),
                "bytes": total,
                "target_files": justified,
                "fragmented": len(files) > justified,
            }
        )
    return out


def _content_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(row count, order-independent content hash) over ALL columns —
    the decimal-sum-of-xxhash64 shape corpus_publish's manifest uses,
    so a rewrite is verified value-complete, not just row-counted."""
    df = spark.read.parquet(path)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], int(row["h"] or 0)


def recover_partitions(table_dir: str) -> dict[str, str]:
    """Heal any earlier crashed swap; idempotent, run automatically at
    the start of every maintenance pass. Same contract as
    corpus_publish.recover_snapshot, per partition: a missing live dir
    with a surviving ``__maint_prev`` rolls BACK (the staged rewrite
    is discardable by design — the live partition is authoritative
    until the swap completes); a surviving ``__maint_prev`` next to a
    live dir is post-swap garbage. Stale staging dirs are dropped."""
    actions: dict[str, str] = {}
    for d in os.listdir(table_dir):
        full = os.path.join(table_dir, d)
        if d.endswith(PREV_SUFFIX):
            live = full[: -len(PREV_SUFFIX)]
            if os.path.exists(live):
                shutil.rmtree(full)
                actions[d] = "dropped_prev"
            else:
                os.rename(full, live)
                actions[d] = "restored_prev"
        elif d.endswith(STAGING_SUFFIX):
            shutil.rmtree(full)
            actions[d] = "dropped_staging"
    return actions


def _compact_partition(
    spark: SparkSession, table_dir: str, part: dict
) -> dict:
    """Rewrite + verify + swap ONE fragmented partition. Raises
    CompactionVerifyError (staged rewrite discarded, live partition
    untouched) on a content mismatch or a concurrent-writer listing
    change; any other exception propagates (a crash here is healed by
    recover_partitions on the next pass)."""
    live = os.path.join(table_dir, part["partition"])
    staging = live + STAGING_SUFFIX
    prev = live + PREV_SUFFIX
    files_at_stage = _data_files(live)
    (
        spark.read.parquet(live)
        .coalesce(part["target_files"])
        .write.mode("overwrite")
        .parquet(staging)
    )
    n_live, h_live = _content_stats(spark, live)
    n_new, h_new = _content_stats(spark, staging)
    if (n_live, h_live) != (n_new, h_new):
        shutil.rmtree(staging)
        raise CompactionVerifyError(
            f"{part['partition']}: rewrite rows/hash "
            f"({n_new}, {h_new}) != live ({n_live}, {h_live}); "
            f"staged rewrite discarded, live partition untouched"
        )
    # single-writer guard: abort the swap if the live listing moved
    # under the rewrite (a concurrent append would be rmtree'd with
    # __maint_prev). Narrows the lost-write window; see module doc.
    if _data_files(live) != files_at_stage:
        shutil.rmtree(staging)
        raise CompactionVerifyError(
            f"{part['partition']}: live file listing changed during the "
            f"staged rewrite (concurrent writer?); staged rewrite "
            f"discarded, live partition untouched"
        )
    os.rename(live, prev)
    os.rename(staging, live)
    shutil.rmtree(prev)
    return {
        "partition": part["partition"],
        "files_before": part["n_files"],
        "files_after": len(_data_files(live)),
        "n_rows": n_live,
        "content_hash": h_live,
        # full path lists so exact-pickup consumers can classify the
        # rewrite: outputs replace EXACTLY these inputs, value-verified
        "replaced_files": [
            os.path.join(live, f) for f in files_at_stage
        ],
        "output_files": [
            os.path.join(live, f) for f in _data_files(live)
        ],
    }


def write_rewrite_manifest(table_dir: str, compacted: list[dict]) -> str:
    """Persist one pass's rewrite records (written AFTER the swaps, so
    a manifest only ever describes completed rewrites; a crash before
    this point just means consumers re-read the compacted bytes once —
    correctness unaffected, it is purely the IO-skip hint)."""
    maint_dir = os.path.join(table_dir, MAINT_DIR)
    os.makedirs(maint_dir, exist_ok=True)
    path = os.path.join(maint_dir, f"rewrite-{uuid.uuid4().hex[:12]}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "rewrites": [
                    {
                        "partition": c["partition"],
                        "replaced_files": c["replaced_files"],
                        "output_files": c["output_files"],
                    }
                    for c in compacted
                ]
            },
            fh,
            sort_keys=True,
        )
    os.replace(tmp, path)
    return path


def compact_table(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int,
    max_concurrency: int = 8,
) -> dict:
    """One maintenance pass; returns the manifest. Only fragmented
    partitions are rewritten; each rewrite is verified (rows + content
    hash, then a listing re-check) against the live partition BEFORE
    its two-rename swap. Verify failures QUARANTINE that partition in
    the manifest's ``failed`` list and the pass continues; partitions
    are processed from a bounded thread pool so the per-partition
    Spark jobs interleave instead of serializing on the driver."""
    recovered = recover_partitions(table_dir)
    report = fragmentation_report(table_dir, target_file_bytes)
    fragmented = [p for p in report if p["fragmented"]]
    skipped = [p["partition"] for p in report if not p["fragmented"]]
    compacted, failed, crashes = [], [], []
    if fragmented:
        workers = max(1, min(max_concurrency, len(fragmented)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [
                (p, pool.submit(_compact_partition, spark, table_dir, p))
                for p in fragmented
            ]
            for p, fut in futures:
                try:
                    compacted.append(fut.result())
                except CompactionVerifyError as e:
                    failed.append(
                        {"partition": p["partition"], "reason": str(e)}
                    )
                except Exception as e:  # noqa: BLE001 — crash, not verify
                    crashes.append(e)
    if crashes:
        # a genuine crash (not a verify failure) still surfaces — the
        # next pass's recover_partitions heals its swap state
        raise crashes[0]
    compacted.sort(key=lambda c: c["partition"])
    failed.sort(key=lambda f: f["partition"])
    if compacted:
        write_rewrite_manifest(table_dir, compacted)
    return {
        "recovered": recovered,
        "compacted": compacted,
        "skipped": skipped,
        "failed": failed,
        "noop": not compacted and not recovered and not failed,
    }
