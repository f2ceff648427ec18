"""Seeded benchmark inputs, cached per seed.

The rows follow ``kglids_spark.sources.tokens.generate_tokens``: the same
columns, the same lognormal ``n_tok`` law, source mixture, vocabulary and
planted-violation periods (duplicate, NULL, out-of-range and inconsistent
rows, unknown sources). They are drawn with numpy and written with
pyarrow instead of inside Spark, because ``generate_tokens`` hashes every
token element in the JVM, which costs more per seed than a benchmark run
can spend on preparation.

A cache entry holds one seed's table, its oracle and, for a resuming
workload, the seed ledger. It is reused only when its completion marker
exists and the parquet row count matches.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kglids_spark.sources.tokens import (
    MAX_NTOK,
    NTOK_MU,
    NTOK_SIGMA,
    SOURCE_VOCAB,
    VOCAB_SIZE,
)

from workloads import N_BUCKETS, RESUME_SPLIT, SUITE

N_FILES = 8
CACHE_KEEP = 3
DONE = "_DONE"
SEED_LEDGER = "seed_ledger"

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _planted(ids: np.ndarray, period: int) -> np.ndarray:
    return (ids > 0) & (ids % period == 0)


def write_tokens(out: Path, n_rows: int, seed: int, plant: bool) -> None:
    """Write the tokens table as ``N_FILES`` parquet files plus ``_SUCCESS``.
    Clean and dirty tables of one seed share every value except the
    planted rows, as in ``generate_tokens``."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows, dtype=np.int64)
    z = rng.standard_normal(n_rows)
    length = np.clip(np.rint(np.exp(NTOK_MU + NTOK_SIGMA * z)), 1, MAX_NTOK).astype(np.int32)
    names = np.array([s for s, _ in SOURCE_VOCAB], dtype=object)
    cdf = np.cumsum([p for _, p in SOURCE_VOCAB])
    source = names[np.minimum(np.searchsorted(cdf, rng.random(n_rows), side="right"), len(names) - 1)]
    doc_id = np.array([f"doc-{i:012d}" for i in ids], dtype=object)
    n_tok = length.copy()
    if plant:
        dup = _planted(ids, 10007)
        doc_id[dup] = [f"doc-{i - 1:012d}" for i in ids[dup]]
        doc_id[_planted(ids, 11003)] = None
        rng_rows = _planted(ids, 9973)
        n_tok[rng_rows] = np.where((ids[rng_rows] // 9973) % 2 == 0, 0, 200000)
        off = _planted(ids, 8191)
        n_tok[off] = length[off] + 1
        source[_planted(ids, 7919)] = "__unknown__"

    out.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, n_rows, N_FILES + 1).astype(np.int64)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        lens = length[lo:hi]
        offsets = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        values = rng.integers(0, VOCAB_SIZE, size=int(offsets[-1]), dtype=np.int32)
        table = pa.table(
            [
                pa.array(doc_id[lo:hi], pa.string()),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
                pa.array(n_tok[lo:hi], pa.int32()),
                pa.array(source[lo:hi], pa.string()),
            ],
            schema=SCHEMA,
        )
        pq.write_table(table, out / f"part-{f:05d}.parquet")
    (out / "_SUCCESS").touch()


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in path.rglob("*.parquet"))


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class Inputs:
    """One seed's files: ``table`` is what the workload validates, and
    ``seed_ledger`` the ledger a resuming workload starts from."""

    table: Path
    oracle: dict
    seed_ledger: Path | None = None


def _entry_ok(entry: Path, n_rows: int, table: str, resume: bool) -> bool:
    return (
        (entry / DONE).exists()
        and (entry / table / "_SUCCESS").exists()
        and parquet_rows(entry / table) == n_rows
        and (not resume or (entry / SEED_LEDGER).is_dir())
    )


def _evict(cache: Path, keep: Path) -> None:
    entries = sorted(
        (p for p in cache.iterdir() if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in entries[CACHE_KEEP - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def prepare(cache: Path, workload, n_rows: int, seed: int, spark_factory) -> Inputs:
    """Return the workload's inputs for ``seed``, building them when the
    cache has no complete entry. ``spark_factory()`` is called only when
    the bucket-partitioned layout or the seed ledger must be written."""
    from oracle import build_oracle

    kind = "dirty" if workload.plant else "clean"
    resume = workload.ledger == "resume"
    entry = cache / f"{kind}-{workload.layout}-{n_rows}-s{seed}"
    table = "bucketed" if workload.layout == "bucketed" else "flat"
    if not _entry_ok(entry, n_rows, table, resume):
        shutil.rmtree(entry, ignore_errors=True)
        cache.mkdir(parents=True, exist_ok=True)
        _evict(cache, entry)
        write_tokens(entry / "flat", n_rows, seed, workload.plant)
        (entry / "oracle.json").write_text(json.dumps(build_oracle(entry / "flat")))
        if workload.layout == "bucketed":
            _write_bucketed(spark_factory(), entry / "flat", entry / "bucketed")
            shutil.rmtree(entry / "flat")
        if resume:
            write_seed_ledger(spark_factory(), entry / table, entry / SEED_LEDGER)
        (entry / DONE).touch()
    os.utime(entry)
    return Inputs(
        entry / table,
        json.loads((entry / "oracle.json").read_text()),
        entry / SEED_LEDGER if resume else None,
    )


def _write_bucketed(spark, flat: Path, out: Path) -> None:
    """The Iceberg ``bucket(N, doc_id)`` emulation: one hive directory,
    holding one file, per logical bucket."""
    from kglids_spark.plans.buckets import BUCKET_COL, with_bucket

    (
        with_bucket(spark.read.parquet(str(flat)), "doc_id", N_BUCKETS)
        .repartition(BUCKET_COL)
        .write.partitionBy(BUCKET_COL)
        .parquet(str(out))
    )


def write_seed_ledger(spark, table: Path, ledger: Path) -> None:
    """The interrupted first run that ``resume_half`` resumes: buckets
    below ``RESUME_SPLIT`` validated and committed to ``ledger``."""
    from pyspark.sql import functions as F

    from kglids_spark.operators.validate import validate
    from kglids_spark.plans.buckets import BUCKET_COL
    from kglids_spark.sources.tables import TableStore

    shutil.rmtree(ledger, ignore_errors=True)
    half = spark.read.parquet(str(table)).filter(F.col(BUCKET_COL) < RESUME_SPLIT)
    r = validate(half, SUITE, n_buckets=N_BUCKETS, ledger=TableStore(spark, str(ledger)))
    r.violations.count()


def restore_ledger(seed: Path, dest: Path) -> None:
    """Copy a seed ledger and point its snapshot manifests at the copy,
    so the pass appends to and reads from ``dest`` only."""
    shutil.copytree(seed, dest)
    for manifest in dest.glob("*/manifest.json"):
        m = json.loads(manifest.read_text())
        for snap in m["snapshots"]:
            snap["path"] = str(manifest.parent / "data" / Path(snap["path"]).name)
        manifest.write_text(json.dumps(m))
