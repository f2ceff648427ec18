"""The benchmark's own pass, run on a small input of every workload, must
agree with the DuckDB oracle; the traced ledger must not change results."""

from collections import Counter

import pytest

import run
from inputs import prepare
from kglids_spark.operators.validate import validate
from kglids_spark.sources.tables import TableStore
from tracing import TracedTableStore, Tracer
from workloads import N_BUCKETS, SUITE, WORKLOADS

# large enough for every planted violation kind (the sparsest period is 11,003)
N_ROWS = 25_000


@pytest.fixture
def work(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", tmp_path)
    return tmp_path


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_pass_agrees_with_oracle(spark, work, name):
    wl = WORKLOADS[name]
    inputs = prepare(work / "cache", wl, N_ROWS, 3, lambda: spark)
    counts = inputs.oracle["counts"]
    assert inputs.oracle["n_rows"] == N_ROWS
    if wl.plant:
        assert all(counts[c.cid] > 0 for c in SUITE if not c.kind.startswith("drift"))
    else:
        assert not any(counts.values())

    passes = [run.run_pass(spark, wl, inputs) for _ in range(2)]
    for p in passes:
        assert p.ok, p.error or p.check.problems
    assert (passes[-1].ledger_bytes > 0) == (wl.ledger is not None)


def test_cached_inputs_are_reused(spark, work):
    wl = WORKLOADS["clean_gate"]
    first = prepare(work / "cache", wl, 2_000, 5, lambda: spark)
    marker = first.table / "part-00000.parquet"
    mtime = marker.stat().st_mtime_ns
    again = prepare(work / "cache", wl, 2_000, 5, lambda: spark)
    assert again.oracle == first.oracle
    assert marker.stat().st_mtime_ns == mtime
    (first.table / "_SUCCESS").unlink()
    prepare(work / "cache", wl, 2_000, 5, lambda: spark)
    assert marker.stat().st_mtime_ns != mtime


def _result(spark, path, store):
    r = validate(spark.read.parquet(str(path)), SUITE, n_buckets=N_BUCKETS, ledger=store)
    verdicts = sorted(tuple(v) for v in r.verdicts.collect())
    return verdicts, Counter(tuple(v) for v in r.violations.collect())


def test_traced_store_is_transparent(spark, work):
    inputs = prepare(work / "cache", WORKLOADS["dirty_ledger"], N_ROWS, 4, lambda: spark)
    plain = _result(spark, inputs.table, TableStore(spark, str(work / "plain")))
    tracer = Tracer(spark.sparkContext)
    traced = _result(spark, inputs.table, TracedTableStore(spark, str(work / "traced"), tracer))
    assert traced == plain
    assert sum(plain[1].values()) == len(inputs.oracle["violations"])
    assert [s.name for s in tracer.spans] == [
        "tables.append.bucket_stats", "tables.read",
        "tables.append.violations", "tables.read", "tables.append.runs",
    ]
