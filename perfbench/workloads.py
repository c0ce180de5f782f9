"""The benchmark's workloads: which public calls a cold pass makes, and
over what inputs. The seed generates the inputs (``inputs.py``); the
calls run in the order listed here, because the first call of a fresh
process pays the JVM's warm-up, so a permuted order would move a pass
by which call goes first."""

from __future__ import annotations

from dataclasses import dataclass


SF = 0.01  # warehouse scale factor (sf 0.1 = 600k lineitem rows)
RASTER_FILES = 128  # FTIF files a raster workload reads
RASTER_SIZE = 256  # width = height of every raster band


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]  # __spark_entry__.queries() members, in registry order
    rasters: bool = False  # make the raster calls before the registry queries


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "raster_pipeline",
            (
                "band_stats_all",
                "band_mean",
                "band_max",
                "band_min",
                "band_histogram",
                "color_composite",
                "file_distribution",
            ),
            rasters=True,
        ),
        Workload(
            "iterative_trainers",
            ("embedding_clusters", "part_pagerank"),
        ),
    )
}

# the raster calls a raster workload makes before its registry queries
RASTER_CALLS = ("raster_band_stats", "raster_color_composite")
