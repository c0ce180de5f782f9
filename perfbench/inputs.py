"""Seeded input generators for the benchmark workloads.

Two kinds of input, both a pure function of the seed:

- ``write_tables``: the TPC-H-ish warehouse plus the ``documents`` and
  ``embeddings`` tables the registry queries read, with the schema and
  value ranges of the warehouse the query registry is tested on
  (uniform keys and measures, 5% near-duplicate documents, ten
  clustered unit-norm embedding classes). ``events`` is not written:
  no benchmarked query reads it. The seed shuffles the rows; the values
  are the same for every seed.
- ``write_rasters``: a directory of FTIF files (6 float32 bands, ~20%
  zero pixels, a few unreadable files) plus the numpy truth the
  reference programs compute over it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from big_data_parallel_computing_hw2_spark.sources.raster import encode_fake_tiff

_DAY_US = 86_400 * 1_000_000
# The trainers iterate to a fixpoint whose round count depends on the
# data, so values drawn afresh per seed would move a pass by more than
# any change worth measuring; a row order per seed costs every seed the
# same work.
_VALUES_SEED = 0
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _timestamps(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = int(np.datetime64(start, "D").astype(np.int64))
    hi = int(np.datetime64(end, "D").astype(np.int64))
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(10, 100))))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(
                ["en", "de", "es", "fr", "zh"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]
            ),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 0.0176, (k, dim))
    label = rng.integers(0, k, n)
    x = centers[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(x.ravel(), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": label.astype(np.int32),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write one parquet file per table under ``out_dir`` at scale ``sf``
    (sf 0.1 = 600k lineitem rows), its rows in an order drawn from
    ``seed``."""
    rng = np.random.default_rng(_VALUES_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    def i32(values) -> np.ndarray:
        return np.asarray(values, dtype=np.int32)

    tables = {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice("hot large cold small new red blue old".split(), n_part),
                        rng.choice("ring gear widget gizmo bolt plate anvil rod".split(), n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _timestamps(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _timestamps(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    order = np.random.default_rng(seed)
    for name, table in tables.items():
        table = table.take(order.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class RasterTruth:
    """What the reference programs compute over a raster directory."""

    band_max: list[float]
    band_min: list[float]
    band_mean: list[float]
    n_files: int
    n_composites: int


def write_rasters(
    out_dir: str, seed: int, n_files: int, size: int, n_bad: int = 3, n_bands: int = 6
) -> RasterTruth:
    """Write ``n_files`` FTIF rasters (``n_bad`` of them unreadable) and
    return the per-band max/min/mean over per-file means of non-zero
    pixels. An unreadable file contributes a zero mean to every band and
    no composite, as in the reference."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    bad = set(rng.choice(n_files, n_bad, replace=False).tolist())
    means = np.zeros((n_files, n_bands))
    for i in range(n_files):
        path = os.path.join(out_dir, f"tile_{i:04d}.ftif")
        if i in bad:
            with open(path, "wb") as fh:
                fh.write(b"NOTARASTER" + rng.bytes(64))
            continue
        bands = rng.uniform(0.5, 100.0, (n_bands, size, size)).astype(np.float32)
        bands[rng.random(bands.shape) < 0.2] = 0.0
        with open(path, "wb") as fh:
            fh.write(encode_fake_tiff(bands))
        flat = bands.reshape(n_bands, -1).astype(np.float64)
        means[i] = flat.sum(axis=1) / (flat != 0.0).sum(axis=1)
    return RasterTruth(
        band_max=means.max(axis=0).tolist(),
        band_min=means.min(axis=0).tolist(),
        band_mean=means.mean(axis=0).tolist(),
        n_files=n_files,
        n_composites=n_files - len(bad),
    )
