"""validate()'s commit protocol and frame lifetimes: crash-safe resume
after a failure at any step (violations -> bucket_stats -> runs), a
ledger written in the earlier bucket_stats-first order, orphan violation
rows, no cached frame outliving a call, a join-free stats pass whose
driver-built bucket_stats rows keep the ledger schema, and Arrow-backed
local frames."""

import json
import re
import shutil
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import kglids_spark.operators.validate as V
from kglids_spark.operators import constraints as C
from kglids_spark.operators import drift as D
from kglids_spark.operators.validate import validate
from kglids_spark.plans.buckets import BUCKET_COL, with_bucket
from kglids_spark.session import local_frame
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import SOURCES, generate_tokens

N_BUCKETS = 16
SUITE = C.default_suite(SOURCES)
# Written by the engine when it committed bucket_stats first, then
# violations, then runs: buckets 0-7 of 16 of generate_tokens(spark,
# 50000) (seed 42) under SUITE, run id legacyrun001. Manifest paths are
# relative to this directory.
LEGACY_LEDGER = Path(__file__).parent / "data" / "ledger_bucket_stats_first"


@pytest.fixture(scope="module")
def dirty_df(spark, tmp_path_factory):
    """50k rows with planted violations of every row kind and duplicate
    keys, read back from parquet so each validate() decodes a file scan."""
    p = str(tmp_path_factory.mktemp("commit") / "dirty")
    generate_tokens(spark, 50000, partitions=4).write.parquet(p)
    return spark.read.parquet(p)


def _summary(r) -> dict:
    return {
        "verdicts": sorted(map(tuple, r.verdicts.collect())),
        "violations": Counter(map(tuple, r.violations.collect())),
        "rows_validated": r.metrics["rows_validated"],
        "distinct_key_estimate": r.metrics["distinct_key_estimate"],
    }


@pytest.fixture(scope="module")
def fresh(dirty_df):
    s = _summary(validate(dirty_df, SUITE, n_buckets=N_BUCKETS))
    assert sum(s["violations"].values()) > 0 and s["rows_validated"] == 50000
    return s


class FailingStore(TableStore):
    """Raises once, right after committing its first append to
    ``fail_table``: the crash lands between that commit and the next."""

    def __init__(self, spark, root, fail_table):
        super().__init__(spark, root)
        self.fail_table = fail_table

    def append(self, table, df, *args, **kwargs):
        snap = super().append(table, df, *args, **kwargs)
        if table == self.fail_table:
            self.fail_table = None
            raise RuntimeError(f"injected failure after the {table} commit")
        return snap


def _inject(case, monkeypatch):
    if case == "stats_collect":
        stats_pass = V._stats_pass

        def failing(*args, **kwargs):
            boom = F.raise_error(F.lit("injected stats failure"))
            return stats_pass(*args, **kwargs).withColumn("_boom", boom)

        monkeypatch.setattr(V, "_stats_pass", failing)
    elif case == "extraction":
        def failing(*args, **kwargs):
            raise RuntimeError("injected extraction failure")

        monkeypatch.setattr(C, "failed_rows", failing)


@pytest.mark.parametrize(
    "case",
    ["stats_collect", "extraction", "append:violations", "append:bucket_stats", "append:runs"],
)
def test_resume_after_failure_matches_fresh_run(spark, dirty_df, fresh, tmp_path, monkeypatch, case):
    """A failure at any step of a ledgered run, then a clean resume into
    the same ledger, reports what one uninterrupted run reports. A
    failure after the violations commit leaves orphan rows the resume
    must not count twice; one after the bucket_stats commit leaves
    completed buckets whose violation rows the resume must still return."""
    root = str(tmp_path / "ledger")
    fail_table = case.split(":")[1] if case.startswith("append:") else None
    with monkeypatch.context() as m:
        _inject(case, m)
        with pytest.raises(Exception, match="injected"):
            validate(dirty_df, SUITE, n_buckets=N_BUCKETS,
                     ledger=FailingStore(spark, root, fail_table))
    resumed = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=TableStore(spark, root))
    assert _summary(resumed) == fresh
    expect_prior = N_BUCKETS if case in ("append:bucket_stats", "append:runs") else 0
    assert resumed.metrics["buckets_completed_prior"] == expect_prior


def test_resume_from_bucket_stats_first_ledger(spark, dirty_df, fresh, tmp_path):
    """A ledger committed in the earlier order (bucket_stats before
    violations) resumes: its buckets are skipped, and its violation rows
    come back once, with the resumed buckets' rows."""
    root = tmp_path / "legacy"
    shutil.copytree(LEGACY_LEDGER, root)
    for manifest in root.glob("*/manifest.json"):
        m = json.loads(manifest.read_text())
        for snap in m["snapshots"]:
            snap["path"] = str(root / snap["path"])
        manifest.write_text(json.dumps(m))
    resumed = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=TableStore(spark, str(root)))
    assert resumed.metrics["buckets_completed_prior"] == N_BUCKETS // 2
    assert _summary(resumed) == fresh


def test_orphan_run_violations_return_once(spark, dirty_df, fresh, tmp_path):
    """Violation rows of a run that owns no bucket_stats row (it died
    before that commit) are never returned: every violation comes back
    once, on the first run and on a full resume."""
    store = TableStore(spark, str(tmp_path / "orphan"))
    rows = [(k, cid) for (k, cid), n in fresh["violations"].items() for _ in range(n)]
    store.append(
        "violations",
        local_frame(spark, rows, "doc_id string, constraint_id string")
        .withColumn("constraint_hash", F.lit(C.constraint_set_hash(SUITE)))
        .withColumn("n_buckets", F.lit(N_BUCKETS))
        .withColumn("run_id", F.lit("orphanrun")),
    )
    first = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=store)
    assert _summary(first) == fresh
    again = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=store)
    assert again.metrics["buckets_completed_prior"] == N_BUCKETS
    assert _summary(again) == fresh


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


@pytest.mark.parametrize(
    "case", ["clean_no_ledger", "dirty_no_ledger", "fd_no_ledger", "dirty_no_extract"]
)
def test_validate_leaves_no_cached_frame(spark, dirty_df, case, monkeypatch):
    """Every frame validate() caches is released before it returns —
    a leftover entry would serve later identical calls stale data —
    while the returned violations stay materialized and correct. The
    stats pass reads the cached slim frame with or without extraction,
    so the input is decoded once either way."""
    if case == "clean_no_ledger":
        df = generate_tokens(spark, 20000, partitions=4, plant_violations=False)
        suite = SUITE
    else:
        df = dirty_df
        suite = SUITE + ([C.functional_dependency(["doc_id"], "source")]
                         if case == "fd_no_ledger" else [])
    extract = case != "dirty_no_extract"
    stats_pass = V._stats_pass
    slim_cached = []

    def spy(slim_df, *args, **kwargs):
        slim_cached.append(slim_df.is_cached)
        return stats_pass(slim_df, *args, **kwargs)

    monkeypatch.setattr(V, "_stats_pass", spy)
    before = _cached_entries(spark)
    # 8 buckets: a plan no other test in this module caches
    r = validate(df, suite, n_buckets=8, extract_violation_rows=extract)
    assert _cached_entries(spark) == before
    assert slim_cached == [True]
    rows = Counter(v.constraint_id for v in r.violations.collect())
    if not extract:
        assert not rows and any(v.n_violations for v in r.verdicts.collect())
        return
    assert (sum(rows.values()) == 0) == (case == "clean_no_ledger")
    counts = Counter()
    for v in r.verdicts.collect():
        counts[v.constraint_id] += v.n_violations
    for cid, n in counts.items():
        if not cid.startswith(("drift", "fd")):
            assert rows[cid] == n, cid


def test_full_resume_appends_no_bucket_stats_snapshot(spark, dirty_df, tmp_path):
    """A repeat run over a fully validated ledger has no new bucket
    rows: it appends no bucket_stats snapshot, reports the one that
    already holds every bucket, and returns the same verdicts."""
    store = TableStore(spark, str(tmp_path / "ledger"))
    first = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=store,
                     extract_violation_rows=False)
    again = validate(dirty_df, SUITE, n_buckets=N_BUCKETS, ledger=store,
                     extract_violation_rows=False)
    assert again.metrics["buckets_completed_prior"] == N_BUCKETS
    manifest = json.loads((tmp_path / "ledger" / "bucket_stats" / "manifest.json").read_text())
    assert len(manifest["snapshots"]) == 1
    assert again.metrics["stats_snapshot"] == first.metrics["stats_snapshot"] is not None
    assert sorted(map(tuple, again.verdicts.collect())) == sorted(
        map(tuple, first.verdicts.collect())
    )


def _parquet_schema(table_dir: Path):
    return pq.read_schema(next(table_dir.glob("data/*/*.parquet"))).remove_metadata()


def test_bucket_stats_schema_matches_legacy_fixture(spark, dirty_df, tmp_path):
    """bucket_stats rows are built on the driver, yet a fresh run writes
    the parquet schema the fixture ledger holds, field nullability and
    map/list element nullability included."""
    validate(dirty_df, SUITE, n_buckets=N_BUCKETS, extract_violation_rows=False,
             ledger=TableStore(spark, str(tmp_path / "ledger")))
    got = _parquet_schema(tmp_path / "ledger" / "bucket_stats")
    assert got.equals(_parquet_schema(LEGACY_LEDGER / "bucket_stats")), got


def test_stats_pass_has_no_join_and_one_cached_frame(spark, dirty_df, monkeypatch):
    """The stats aggregate and the (bucket, cell) count reach the driver
    as separate small results: neither executed plan holds a join or a
    broadcast, and the slim frame is the one frame cached when the
    stats pass is planned (no persisted duplicate-key frame)."""
    before = _cached_entries(spark)
    plans, cached = [], []

    def spy(fn, record_cache):
        def wrapped(*args, **kwargs):
            if record_cache:
                cached.append(_cached_entries(spark))
            out = fn(*args, **kwargs)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        return wrapped

    monkeypatch.setattr(V, "_stats_pass", spy(V._stats_pass, True))
    monkeypatch.setattr(D, "cell_counts", spy(D.cell_counts, False))
    validate(dirty_df, SUITE, n_buckets=N_BUCKETS, extract_violation_rows=False)
    assert len(plans) == 2 and cached == [before + 1]
    for plan in plans:
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan


@pytest.mark.parametrize(
    "with_ledger, cap", [(False, None), (True, None), (True, 2)],
    ids=["no_ledger", "ledger", "ledger_capped"],
)
def test_unique_extraction_reads_dirty_buckets_only(spark, tmp_path, monkeypatch, with_ledger, cap):
    """A clean input with 3 duplicated keys over 16 buckets returns
    exactly those keys as unique violations (at most ``cap`` of them
    when capped), and the extraction's duplicate-key shuffle reads
    only the buckets that hold them."""
    clean = generate_tokens(spark, 5000, partitions=4, plant_violations=False)
    keys = sorted(r.doc_id for r in clean.select("doc_id").orderBy("doc_id").limit(3).collect())
    df = clean.unionByName(clean.filter(F.col("doc_id").isin(keys)))
    dirty = {
        r[BUCKET_COL]
        for r in with_bucket(df.filter(F.col("doc_id").isin(keys)), "doc_id", N_BUCKETS)
        .select(BUCKET_COL).collect()
    }
    seen = []
    duplicate_keys = C.duplicate_keys

    def spy(frame, *args, **kwargs):
        seen.append(frame._jdf.queryExecution().optimizedPlan().toString())
        return duplicate_keys(frame, *args, **kwargs)

    monkeypatch.setattr(C, "duplicate_keys", spy)
    ledger = TableStore(spark, str(tmp_path / "ledger")) if with_ledger else None
    r = validate(df, SUITE, n_buckets=N_BUCKETS, ledger=ledger, max_violations_per_constraint=cap)
    got = Counter(map(tuple, r.violations.collect()))
    assert set(got.values()) == {1} and {cid for _, cid in got} == {"unique(doc_id)"}
    if cap is None:
        assert sorted(k for k, _ in got) == keys
    else:
        assert len(got) == cap and {k for k, _ in got} < set(keys)
    # the stats pass counts over every bucket, extraction over the dirty ones
    assert len(seen) == 2
    assert not re.search(rf"{BUCKET_COL}#\d+ IN \(", seen[0])
    (in_list,) = re.findall(rf"{BUCKET_COL}#\d+ IN \(([^)]*)\)", seen[1])
    assert {int(b) for b in in_list.split(",")} == dirty


LOCAL_SCHEMA = T.StructType([
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("b", T.BinaryType()),
    T.StructField("a", T.ArrayType(T.LongType())),
    T.StructField("i", T.IntegerType(), False),
])


@pytest.mark.parametrize(
    "rows",
    [
        [({"x": 1, "y": None}, bytearray(b"\x00\xff"), [1, None, 3], 7),
         (None, None, None, 8),
         ({}, b"", [], 9)],
        [],
    ],
    ids=["map_binary_array_nulls", "zero_rows"],
)
def test_local_frame_plans_a_local_table_scan(spark, rows):
    """Driver-side rows become a JVM LocalTableScan (no Python RDD, so no
    Python worker per action) and round-trip every value."""
    df = local_frame(spark, rows, LOCAL_SCHEMA)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "RDD" not in plan and "Python" not in plan
    assert df.schema == LOCAL_SCHEMA
    got = [tuple(r) for r in df.collect()]
    assert got == [(m, None if b is None else bytearray(b), a, i) for m, b, a, i in rows]
