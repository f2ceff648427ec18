"""Constraint engine vs DuckDB oracle: golden pass/fail matrices,
violation-row sets, verdict identity under different parallelism, and
resumability (SURVEY.md §5 tests 2, 4, 5)."""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators.validate import validate, GLOBAL_BUCKET
from kglids_spark.plans.buckets import with_bucket, BUCKET_COL
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import SOURCES, generate_tokens

N_BUCKETS = 16


@pytest.fixture(scope="module")
def result(tokens_df):
    return validate(tokens_df, C.default_suite(SOURCES), n_buckets=N_BUCKETS)


def test_violation_counts_match_duckdb(result, duck):
    got = {
        r.constraint_id: r.total
        for r in result.verdicts.filter(F.col("bucket_id") != GLOBAL_BUCKET)
        .groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    oracle = duck.execute(
        """
        SELECT
          (SELECT count(*) FROM tokens WHERE doc_id IS NULL) AS nn,
          (SELECT count(*) FROM tokens WHERE n_tok < 1 OR n_tok > 8192) AS rng,
          (SELECT count(*) FROM tokens WHERE n_tok IS NOT NULL AND len(tokens) != n_tok) AS cons,
          (SELECT count(*) FROM tokens WHERE source NOT IN ('web','books','code','wiki','forums','news','papers')) AS ri,
          (SELECT count(*) FROM (SELECT doc_id FROM tokens WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1)) AS dup
        """
    ).fetchone()
    assert got["not_null(doc_id)"] == oracle[0]
    assert got["range(n_tok)"] == oracle[1]
    assert got["consistency(n_tok=size(tokens))"] == oracle[2]
    assert got["referential(source)"] == oracle[3]
    assert got["unique(doc_id)"] == oracle[4]


def test_violation_rows_match_duckdb(result, duck):
    got = {
        (r.doc_id, r.constraint_id)
        for r in result.violations.filter(F.col("constraint_id") == "referential(source)").collect()
    }
    want = {
        (r[0], "referential(source)")
        for r in duck.execute(
            "SELECT doc_id FROM tokens WHERE source NOT IN "
            "('web','books','code','wiki','forums','news','papers')"
        ).fetchall()
    }
    assert got == want

    got_dup = {
        r.doc_id
        for r in result.violations.filter(F.col("constraint_id") == "unique(doc_id)").collect()
    }
    want_dup = {
        r[0]
        for r in duck.execute(
            "SELECT doc_id FROM tokens WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING count(*) > 1"
        ).fetchall()
    }
    assert got_dup == want_dup


def test_verdict_identity_under_repartitioning(spark, tokens_df, result):
    """North-rule hard requirement: verdicts keyed on logical buckets
    are identical whatever the physical partitioning."""
    repartitioned = tokens_df.repartition(3)
    r2 = validate(repartitioned, C.default_suite(SOURCES), n_buckets=N_BUCKETS)
    a = sorted(map(tuple, result.verdicts.collect()))
    b = sorted(map(tuple, r2.verdicts.collect()))
    # drift stats include float statistics — compare pass/fail and counts
    assert a == b


def test_schema_constraint(tokens_df):
    suite = [
        C.schema_type("doc_id", "string"),
        C.schema_type("tokens", "array<int>"),
        C.schema_type("n_tok", "int"),
        C.schema_type("n_tok", "bigint", cid="wrong_type"),
    ]
    res = validate(tokens_df, suite, n_buckets=N_BUCKETS, extract_violation_rows=False)
    verd = {r.constraint_id: r.passed for r in res.verdicts.collect()}
    assert verd["schema(doc_id:string)"]
    assert verd["schema(tokens:array<int>)"]
    assert verd["schema(n_tok:int)"]
    assert not verd["wrong_type"]


def test_resume_skips_completed_and_matches_direct(spark, tokens_df, result, tmp_path):
    ledger = TableStore(spark, str(tmp_path / "ledger"))
    suite = C.default_suite(SOURCES)
    half = (
        with_bucket(tokens_df, n_buckets=N_BUCKETS)
        .filter(F.col(BUCKET_COL) < N_BUCKETS // 2)
        .drop(BUCKET_COL)
    )
    r1 = validate(half, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="r1")
    assert r1.metrics["buckets_this_run"] == N_BUCKETS // 2
    r2 = validate(tokens_df, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="r2")
    assert r2.metrics["buckets_completed_prior"] == N_BUCKETS // 2
    assert r2.metrics["rows_validated"] == tokens_df.count()
    assert sorted(map(tuple, r2.verdicts.collect())) == sorted(
        map(tuple, result.verdicts.collect())
    )


def test_resume_is_idempotent(spark, tokens_df, tmp_path):
    """Re-running an already-complete validation must not double-count
    (sketch merge dedupes by bucket)."""
    ledger = TableStore(spark, str(tmp_path / "ledger2"))
    suite = C.default_suite(SOURCES)
    r1 = validate(tokens_df, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="a")
    r2 = validate(tokens_df, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="b")
    assert r2.metrics["rows_validated"] == r1.metrics["rows_validated"]
    assert sorted(map(tuple, r2.verdicts.collect())) == sorted(map(tuple, r1.verdicts.collect()))


def test_distinct_estimate_accuracy(result, duck):
    exact = duck.execute("SELECT count(DISTINCT doc_id) FROM tokens").fetchone()[0]
    est = result.metrics["distinct_key_estimate"]
    assert abs(est - exact) / exact < 0.05


def test_dim_table_referential_integrity(spark, tokens_df):
    """RI against a dim DataFrame (broadcast membership flag joined into
    the single-pass aggregate) must match the literal-vocabulary RI."""
    from kglids_spark.sources.tokens import valid_sources

    lit_suite = [C.referential("source", SOURCES)]
    dim_suite = [C.referential("source", dim_table="valid_sources")]
    r_lit = validate(tokens_df, lit_suite, n_buckets=N_BUCKETS)
    r_dim = validate(
        tokens_df,
        dim_suite,
        n_buckets=N_BUCKETS,
        dims={"valid_sources": valid_sources(spark)},
    )
    a = {(r.bucket_id, r.n_violations) for r in r_lit.verdicts.collect()}
    b = {(r.bucket_id, r.n_violations) for r in r_dim.verdicts.collect()}
    assert a == b
    va = {r.doc_id for r in r_lit.violations.collect()}
    vb = {r.doc_id for r in r_dim.violations.collect()}
    assert va == vb and len(va) > 0


def test_incremental_violations_in_ledger(spark, tokens_df, tmp_path):
    """Resumed runs extract violations only for new buckets; the merged
    ledger equals the single-run violation set."""
    ledger = TableStore(spark, str(tmp_path / "viol_ledger"))
    suite = [c for c in C.default_suite(SOURCES) if not c.kind.startswith("drift")]
    half = (
        with_bucket(tokens_df, n_buckets=N_BUCKETS)
        .filter(F.col(BUCKET_COL) < N_BUCKETS // 2)
        .drop(BUCKET_COL)
    )
    validate(half, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="r1")
    r2 = validate(tokens_df, suite, n_buckets=N_BUCKETS, ledger=ledger, run_id="r2")
    direct = validate(tokens_df, suite, n_buckets=N_BUCKETS)
    got = {(r.doc_id, r.constraint_id) for r in r2.violations.collect()}
    want = {(r.doc_id, r.constraint_id) for r in direct.violations.collect()}
    assert got == want


def test_kll_quantiles_in_metrics(spark, tokens_df, duck):
    """North-star stats collector: mergeable KLL quantiles of n_tok
    ride the bucket_stats rows; merged estimates land in metrics and
    stay within the sketch's rank-error bound of exact quantiles."""
    from kglids_spark.operators import constraints as C
    from kglids_spark.operators.validate import validate

    suite = C.default_suite(["web", "books", "code", "wiki", "forums", "social", "news"])
    res = validate(tokens_df, suite, n_buckets=8, extract_violation_rows=False)
    m = res.metrics
    exact = duck.execute(
        "SELECT min(n_tok), max(n_tok), median(n_tok), "
        "quantile_cont(n_tok, 0.75) - quantile_cont(n_tok, 0.25) FROM tokens"
    ).fetchone()
    assert m["n_tok_min"] == exact[0]
    assert m["n_tok_max"] == exact[1]
    # KLL at k=256 over 30k rows: generous 5% relative tolerance
    assert abs(m["n_tok_median_kll"] - exact[2]) <= 0.05 * exact[2]
    assert abs(m["n_tok_iqr_kll"] - exact[3]) <= 0.10 * exact[3]


def test_kll_merge_stable_across_resume(spark, tokens_df, tmp_path):
    """A resumed run must report the same merged quantiles as the
    original (sketch checkpoint idempotence)."""
    from kglids_spark.operators import constraints as C
    from kglids_spark.operators.validate import validate
    from kglids_spark.sources.tables import TableStore

    suite = C.default_suite(["web", "books", "code", "wiki", "forums", "social", "news"])
    ledger = TableStore(spark, str(tmp_path / "kll_ledger"))
    first = validate(tokens_df, suite, n_buckets=8, ledger=ledger, extract_violation_rows=False)
    again = validate(tokens_df, suite, n_buckets=8, ledger=ledger, extract_violation_rows=False)
    assert again.metrics["buckets_completed_prior"] == 8
    assert again.metrics["n_tok_median_kll"] == first.metrics["n_tok_median_kll"]
    assert again.metrics["n_tok_iqr_kll"] == first.metrics["n_tok_iqr_kll"]


def test_kll_decoder_matches_native_quantiles(spark):
    """The driver-side decoder reads DataSketches' compact KLL-doubles
    bytes exactly: on a multi-level sketch and on the single-item form
    it reproduces kll_sketch_get_quantile_double; on the empty form (an
    all-NULL bucket), where the native call raises, it returns None."""
    import numpy as np

    from kglids_spark.operators.validate import _kll_items, _kll_union_quantiles

    rng = np.random.default_rng(3)
    rows = [(0, float(v)) for v in np.round(rng.lognormal(6.0, 1.0, 20000))]
    rows += [(1, 7.0), (2, None), (2, None)]
    sketches = (
        spark.createDataFrame(rows, "b int, v double")
        .groupBy("b")
        .agg(F.kll_sketch_agg_double("v").alias("s"))
        .collect()
    )
    blobs = {r.b: bytes(r.s) for r in sketches}
    # compacted: fewer items than rows, each standing for several rows
    # (how many levels keep items varies, as DataSketches compacts at random)
    weights = _kll_items(blobs[0])[1]
    assert weights.size < 20000 and weights.max() > 1
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]

    def native(blob):
        return list(
            spark.createDataFrame([(blob,)], "s binary")
            .select(*[F.kll_sketch_get_quantile_double("s", F.lit(q)) for q in qs])
            .first()
        )

    assert _kll_union_quantiles([blobs[0]], qs) == native(blobs[0])
    assert _kll_union_quantiles([blobs[1]], qs) == native(blobs[1]) == [7.0] * len(qs)
    assert _kll_union_quantiles([blobs[2]], qs) == [None] * len(qs)
    with pytest.raises(Exception, match="KLL"):
        native(blobs[2])


def test_kll_decoder_rejects_foreign_bytes(spark):
    """Bytes that are not a KLL-doubles sketch raise instead of being
    read as one: the earlier pure-numpy KLL layout (k, n, compactions,
    levels; then per level its length and float64 items) and a native
    sketch whose length no longer matches its levels."""
    import struct

    import numpy as np

    from kglids_spark.operators.validate import _kll_items

    numpy_kll = (
        struct.pack("<iqii", 256, 3, 0, 1)
        + struct.pack("<i", 3)
        + np.array([1.0, 2.0, 3.0]).tobytes()
    )
    full = bytes(
        spark.range(1000).agg(F.kll_sketch_agg_double(F.col("id").cast("double"))).first()[0]
    )
    assert _kll_items(full)[1].sum() == 1000
    for bad in (numpy_kll, full[:-8], full + bytes(8), full + bytes(4), full[:12]):
        with pytest.raises(ValueError):
            _kll_items(bad)


def test_kll_col_all_null_or_non_numeric_gives_none(spark, monkeypatch):
    """An all-NULL or non-numeric kll_col yields None quantiles and
    bounds instead of raising (try_cast nulls non-numeric values), and
    the sketch is a JVM aggregate of the stats pass: no pandas stage in
    its plan."""
    import kglids_spark.operators.validate as V

    df = spark.createDataFrame(
        [(f"d{i}", "web", None) for i in range(50)],
        "doc_id string, source string, x double",
    )
    plans = []
    stats_pass = V._stats_pass

    def spy(*args, **kwargs):
        out = stats_pass(*args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(V, "_stats_pass", spy)
    for col in ("x", "source"):
        res = V.validate(
            df, [C.not_null("doc_id")], n_buckets=4, extract_violation_rows=False, kll_col=col
        )
        for stat in ("min", "max", "median_kll", "iqr_kll"):
            assert res.metrics[f"{col}_{stat}"] is None
    assert all("kll_sketch_agg" in p and "InPandas" not in p for p in plans)


def test_slim_frame_holds_key_bucket_sketch_cols_and_flags(spark, tokens_df, monkeypatch):
    """The persisted slim frame carries the key, the bucket, the
    sketched column and one boolean violation flag per row constraint:
    the token array, the source strings and the vector column never
    enter it."""
    import kglids_spark.operators.validate as V

    df = tokens_df.withColumn("emb", F.array(F.lit(0.6), F.lit(0.8)))
    suite = C.default_suite(SOURCES) + [
        C.element_range("tokens", 0, 49000, cid="tok_vocab"),
        C.vector_sanity("emb", dim=2, cid="emb_ok"),
    ]
    n_flags = len(C.row_constraints(suite))
    seen = []
    stats_pass = V._stats_pass

    def spy(slim_df, *args, **kwargs):
        seen.append(slim_df.schema)
        return stats_pass(slim_df, *args, **kwargs)

    monkeypatch.setattr(V, "_stats_pass", spy)
    res = V.validate(df, suite, n_buckets=N_BUCKETS)
    assert len(seen) == 1
    flags = [V._flag(i) for i in range(n_flags)]
    assert seen[0].names == ["doc_id", BUCKET_COL, "n_tok", *flags]
    assert all(seen[0][f].dataType.simpleString() == "boolean" for f in flags)
    assert not {"tokens", "source", "emb"} & set(seen[0].names)
    totals = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    assert totals["tok_vocab"] > 0 and totals["emb_ok"] == 0


def test_unique_on_non_key_column_is_rejected(spark):
    """Bucket-local duplicate counts are exact only for the bucketing
    key: unique on any other column raises and points at key=; with
    key= set to that column the count is exact at every bucket count."""
    rows = [(f"d{i}", f"u{i % 50}") for i in range(200)]  # each url 4 times
    df = spark.createDataFrame(rows, "doc_id string, url string")
    suite = [C.unique("url", cid="url_unique")]
    with pytest.raises(ValueError, match="key='url'"):
        validate(df, suite, n_buckets=16)
    for n_buckets in (1, 16):
        res = validate(df, suite, key="url", n_buckets=n_buckets, kll_col=None)
        total = res.verdicts.agg(F.sum("n_violations")).collect()[0][0]
        assert total == 50
        viols = res.violations.collect()
        assert {r.constraint_id for r in viols} == {"url_unique"}
        assert {r.url for r in viols} == {f"u{i}" for i in range(50)}


def test_pre_format_tag_ledger_is_not_resumed(spark, tokens_df, tmp_path, monkeypatch):
    """A ledger row written under the hash formula that predates the
    sketch-format tag (its KLL bytes are the numpy format) is never
    resumed or merged."""
    import hashlib

    suite = [C.not_null("doc_id"), C.drift_ks("n_tok")]
    old_hash = hashlib.md5("|".join(sorted(c.signature() for c in suite)).encode()).hexdigest()
    ledger = TableStore(spark, str(tmp_path / "old_ledger"))
    with monkeypatch.context() as m:
        m.setattr(C, "constraint_set_hash", lambda cs: old_hash)
        validate(tokens_df, suite, n_buckets=4, ledger=ledger, extract_violation_rows=False)
    res = validate(tokens_df, suite, n_buckets=4, ledger=ledger, extract_violation_rows=False)
    assert res.metrics["constraint_hash"] != old_hash
    assert res.metrics["buckets_completed_prior"] == 0
    assert res.metrics["rows_validated"] == tokens_df.count()


def test_bucket_partitioned_store_prunes_files(spark, tokens_df, tmp_path):
    """A tokens table written PARTITIONED BY (bucket_id) — the Iceberg
    ``bucket(N, doc_id)`` emulation — must give real file pruning for
    the resume-time completed-bucket exclusion: the filtered scan's
    plan carries a PartitionFilter and touches only the files of the
    surviving buckets."""
    store = TableStore(spark, str(tmp_path / "pstore"))
    store.overwrite(
        "tokens", with_bucket(tokens_df, n_buckets=N_BUCKETS), partition_by=[BUCKET_COL]
    )
    t = store.read("tokens")
    completed = list(range(N_BUCKETS // 2))
    pruned = t.filter(~F.col(BUCKET_COL).isin(completed))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files  # surviving buckets still read
    assert all(f"{BUCKET_COL}={b}/" not in f for b in completed for f in read_files)
    assert len(read_files) < len(t.inputFiles())


def test_prebucketed_table_verdicts_identical(spark, tokens_df):
    """validate() must trust a stored bucket_id column (partition
    layout) and produce the exact verdict matrix of the computed-hash
    path — the two are the same logical bucketing."""
    suite = C.default_suite(SOURCES)
    direct = validate(tokens_df, suite, n_buckets=N_BUCKETS, extract_violation_rows=False)
    pre = validate(
        with_bucket(tokens_df, n_buckets=N_BUCKETS),
        suite,
        n_buckets=N_BUCKETS,
        extract_violation_rows=False,
    )
    assert sorted(map(tuple, pre.verdicts.collect())) == sorted(
        map(tuple, direct.verdicts.collect())
    )


def test_expression_constraint_counts_match_duckdb(spark, tokens_df, duck):
    """Deequ-style `satisfies`: violation iff the predicate is not TRUE
    (NULL predicate -> violation), counts cross-checked with DuckDB."""
    suite = C.default_suite(SOURCES) + [
        C.expression("n_tok % 2 = 0", columns=["n_tok"], cid="even_n_tok"),
        C.expression(
            "n_tok < 500 OR source = 'web'",
            columns=["n_tok", "source"],
            cid="short_or_web",
        ),
    ]
    res = validate(tokens_df, suite, n_buckets=N_BUCKETS, extract_violation_rows=False)
    got = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    want_even = duck.execute(
        "SELECT count(*) FROM tokens WHERE NOT coalesce(n_tok % 2 = 0, FALSE)"
    ).fetchone()[0]
    want_sow = duck.execute(
        "SELECT count(*) FROM tokens WHERE NOT coalesce(n_tok < 500 OR source = 'web', FALSE)"
    ).fetchone()[0]
    assert got["even_n_tok"] == want_even
    assert got["short_or_web"] == want_sow


def test_expression_constraint_requires_column_declaration(tokens_df):
    with pytest.raises(ValueError, match="declare the\n?.*columns|columns"):
        validate(
            tokens_df,
            C.default_suite(SOURCES) + [C.expression("n_tok > 0")],
            n_buckets=N_BUCKETS,
            extract_violation_rows=False,
        )


def test_expression_constraint_in_lineage_hash():
    base = C.default_suite(SOURCES)
    a = C.constraint_set_hash(base + [C.expression("n_tok > 0", columns=["n_tok"])])
    b = C.constraint_set_hash(base + [C.expression("n_tok > 1", columns=["n_tok"])])
    assert a != b != C.constraint_set_hash(base)


def test_metric_constraints_match_duckdb(spark, tokens_df, duck):
    """Table-level stat assertions computed from the same merged
    bucket sums — values exact vs DuckDB's global aggregates."""
    want = duck.execute(
        "SELECT avg(n_tok), stddev_pop(n_tok), min(n_tok), max(n_tok),"
        " 1.0 - count(n_tok)::DOUBLE / count(*) FROM tokens"
    ).fetchone()
    mean_lo, mean_hi = want[0] - 1, want[0] + 1
    suite = C.default_suite(SOURCES) + [
        C.metric_range("n_tok", "mean", mean_lo, mean_hi, cid="mean_ok"),
        C.metric_range("n_tok", "mean", want[0] + 5, want[0] + 10, cid="mean_bad"),
        C.metric_range("n_tok", "stddev", 0, 10**9, cid="sd_any"),
        C.metric_range("n_tok", "null_rate", 0, 1, cid="nr_any"),
    ]
    res = validate(tokens_df, suite, n_buckets=N_BUCKETS, extract_violation_rows=False)
    ok = {
        r.constraint_id: bool(r.ok)
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.min("passed").alias("ok"))
        .collect()
    }
    assert ok["mean_ok"] and not ok["mean_bad"] and ok["sd_any"] and ok["nr_any"]
    m = res.metrics
    assert abs(m["mean(n_tok)"] - want[0]) < 1e-6
    assert abs(m["stddev(n_tok)"] - want[1]) < 1e-6
    assert m["min(n_tok)"] == want[2] and m["max(n_tok)"] == want[3]
    assert abs(m["null_rate(n_tok)"] - want[4]) < 1e-12


def test_metric_constraint_resume_merge_exact(spark, tokens_df, tmp_path, duck):
    """A resumed run's metric verdicts come from merged per-bucket sums
    of BOTH runs — identical to the single-run global stat."""
    suite = C.default_suite(SOURCES) + [
        C.metric_range("n_tok", "mean", 0, 10**9, cid="mean_probe")
    ]
    store = TableStore(spark, str(tmp_path / "led"))
    # run 1 over a subset of buckets only: fake by validating bucketed
    # halves sequentially through the shared ledger
    b = with_bucket(tokens_df, n_buckets=N_BUCKETS)
    first = b.filter(F.col(BUCKET_COL) < N_BUCKETS // 2).drop(BUCKET_COL)
    validate(first, suite, n_buckets=N_BUCKETS, ledger=store, extract_violation_rows=False)
    res2 = validate(tokens_df, suite, n_buckets=N_BUCKETS, ledger=store, extract_violation_rows=False)
    want = duck.execute("SELECT avg(n_tok) FROM tokens").fetchone()[0]
    assert abs(res2.metrics["mean(n_tok)"] - want) < 1e-6


def test_metric_null_rate_on_string_column(spark, tokens_df):
    """null_rate must count RAW nulls — a non-numeric column with no
    nulls passes, even though every value casts to null as double."""
    suite = [C.metric_range("source", "null_rate", 0, 0.01, cid="src_nr")]
    clean = tokens_df.filter(F.col("source").isNotNull())
    res = validate(clean, suite, n_buckets=4, extract_violation_rows=False, kll_col=None)
    verd = {r.constraint_id: bool(r.passed) for r in res.verdicts.collect()}
    assert verd["src_nr"] is True
    assert res.metrics["null_rate(source)"] == 0.0


def test_metric_constraint_fails_on_empty_input(spark, tokens_df):
    suite = [C.metric_range("n_tok", "mean", 1, 10, cid="mean_empty")]
    empty = tokens_df.filter(F.lit(False))
    res = validate(empty, suite, n_buckets=4, extract_violation_rows=False, kll_col=None)
    verd = {r.constraint_id: bool(r.passed) for r in res.verdicts.collect()}
    assert verd["mean_empty"] is False


# ---------------------------------------------------------------------
# round 4: functional-dependency + volume constraint kinds
# ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def fd_df(spark):
    rows = [
        # det 'a' -> dep consistent ('x'), det 'b' -> violated (y/z),
        # det 'c' -> only null deps (no FD evidence), null det group
        # violated (p/q)
        ("d1", "a", "x"), ("d2", "a", "x"), ("d3", "a", None),
        ("d4", "b", "y"), ("d5", "b", "z"),
        ("d6", "c", None),
        ("d7", None, "p"), ("d8", None, "q"),
    ]
    return spark.createDataFrame(rows, "doc_id string, det string, dep string")


def test_fd_violating_groups_exact(fd_df):
    c = C.functional_dependency(["det"], "dep")
    got = {
        (r["det"], r["n_rows_in_group"])
        for r in C.fd_violating_groups(fd_df, c).collect()
    }
    # 'b' violated with 2 rows; the NULL determinant group violated too
    # (GROUP BY semantics); 'a' consistent; 'c' has no non-null deps
    assert got == {("b", 2), (None, 2)}
    # fd_groups, which validate() counts and semi-joins, keeps every
    # evidence group and flags the violated ones
    groups = {
        (r["det"], r["n_rows_in_group"], r["violated"])
        for r in C.fd_groups(fd_df, c).collect()
    }
    assert groups == {("a", 2, False), ("b", 2, True), (None, 2, True)}


def test_fd_verdict_and_violation_rows(fd_df):
    suite = [C.functional_dependency(["det"], "dep", cid="fd_dd")]
    res = validate(fd_df, suite, key="doc_id", n_buckets=4, kll_col=None)
    verd = {r.constraint_id: (r.n_violations, bool(r.passed)) for r in res.verdicts.collect()}
    # 2 violating groups out of 4 groups with FD evidence (a, b, NULL
    # det, and... c is excluded: all-null deps)
    assert verd["fd_dd"] == (2, False)
    viols = {
        r.doc_id for r in res.violations.filter(F.col("constraint_id") == "fd_dd").collect()
    }
    # every row of every violating group, including null-dep members of
    # those groups? No: the semi-join is over ALL rows of the violating
    # determinant (d4,d5 for 'b'; d7,d8 for NULL det)
    assert viols == {"d4", "d5", "d7", "d8"}


def test_fd_passes_when_dependency_holds(fd_df):
    clean = fd_df.filter(F.col("det") == "a")
    suite = [C.functional_dependency(["det"], "dep", cid="fd_ok")]
    res = validate(clean, suite, key="doc_id", n_buckets=4, kll_col=None)
    verd = {r.constraint_id: bool(r.passed) for r in res.verdicts.collect()}
    assert verd["fd_ok"] is True


def test_fd_multi_determinant(spark):
    rows = [
        ("d1", "a", 1, "x"), ("d2", "a", 1, "x"),
        ("d3", "a", 2, "y"),  # (a,2) != (a,1): separate group, no viol
        ("d4", "b", 1, "u"), ("d5", "b", 1, "v"),  # violated
    ]
    df = spark.createDataFrame(rows, "doc_id string, c1 string, c2 int, dep string")
    c = C.functional_dependency(["c1", "c2"], "dep")
    got = {(r["c1"], r["c2"]) for r in C.fd_violating_groups(df, c).collect()}
    assert got == {("b", 1)}


def test_fd_reevaluates_globally_on_resume(fd_df, tmp_path):
    """FD is a global property: after a resumed run over the SAME input
    the verdict must still reflect all rows (not just the zero
    remaining buckets)."""
    store = TableStore(fd_df.sparkSession, str(tmp_path / "fd_ledger"))
    suite = [C.functional_dependency(["det"], "dep", cid="fd_g")]
    r1 = validate(fd_df, suite, key="doc_id", n_buckets=4, ledger=store, kll_col=None)
    r2 = validate(fd_df, suite, key="doc_id", n_buckets=4, ledger=store, kll_col=None)
    assert r2.metrics["buckets_completed_prior"] == 4
    v2 = {r.constraint_id: (r.n_violations, bool(r.passed)) for r in r2.verdicts.collect()}
    assert v2["fd_g"] == (2, False)
    viols2 = {
        r.doc_id for r in r2.violations.filter(F.col("constraint_id") == "fd_g").collect()
    }
    # recomputed fresh, not duplicated via the ledger
    assert viols2 == {"d4", "d5", "d7", "d8"}
    rows2 = r2.violations.filter(F.col("constraint_id") == "fd_g").count()
    assert rows2 == 4


def test_volume_bounds(fd_df):
    ok = validate(fd_df, [C.volume(1, 100)], key="doc_id", n_buckets=4,
                  extract_violation_rows=False, kll_col=None)
    low = validate(fd_df, [C.volume(100)], key="doc_id", n_buckets=4,
                   extract_violation_rows=False, kll_col=None)
    high = validate(fd_df, [C.volume(1, 3)], key="doc_id", n_buckets=4,
                    extract_violation_rows=False, kll_col=None)
    for res, want in ((ok, True), (low, False), (high, False)):
        verd = {r.constraint_id: bool(r.passed) for r in res.verdicts.collect()}
        assert list(verd.values()) == [want]


def test_volume_counts_merged_total_across_resume(fd_df, tmp_path):
    """The bound applies to ALL buckets ever validated under the
    constraint hash: a resumed run with zero remaining rows still
    passes a lower bound the first run satisfied."""
    store = TableStore(fd_df.sparkSession, str(tmp_path / "vol_ledger"))
    suite = [C.volume(8, 8)]
    r1 = validate(fd_df, suite, key="doc_id", n_buckets=4, ledger=store,
                  extract_violation_rows=False, kll_col=None)
    r2 = validate(fd_df, suite, key="doc_id", n_buckets=4, ledger=store,
                  extract_violation_rows=False, kll_col=None)
    for res in (r1, r2):
        verd = {r.constraint_id: bool(r.passed) for r in res.verdicts.collect()}
        assert verd["volume(rows in [8,8])"] is True
    assert r2.metrics["rows_validated"] == 8


# ---------------------------------------------------------------------
# round 4: deterministic violation-row capping
# ---------------------------------------------------------------------

def test_cap_violations_deterministic_and_exact(spark):
    rows = [(f"d{i}", "c1") for i in range(200)] + [(f"d{i}", "c2") for i in range(3)]
    viols = spark.createDataFrame(rows, "doc_id string, constraint_id string")
    capped = C.cap_violations(viols, 10)
    got = {(r.doc_id, r.constraint_id) for r in capped.collect()}
    per = {}
    for d, c in got:
        per[c] = per.get(c, 0) + 1
    assert per == {"c1": 10, "c2": 3}  # under-cap constraints untouched
    # the kept set is EXACTLY the cap smallest hashes (brute force)
    pdf = viols.withColumn("_h", F.xxhash64("doc_id", "constraint_id")).toPandas()
    want = set()
    for c, grp in pdf.groupby("constraint_id"):
        for _, r in grp.nsmallest(10, "_h").iterrows():
            want.add((r["doc_id"], r["constraint_id"]))
    assert got == want
    # partition-invariance: same result at a different parallelism
    got2 = {
        (r.doc_id, r.constraint_id)
        for r in C.cap_violations(viols.repartition(13), 10).collect()
    }
    assert got2 == got


def test_validate_max_violations_cap(spark, tokens_df):
    suite = C.default_suite(SOURCES)
    res = validate(
        tokens_df, suite, n_buckets=8, max_violations_per_constraint=5
    )
    counts = {
        r.constraint_id: r.n
        for r in res.violations.groupBy("constraint_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts and all(n <= 5 for n in counts.values()), counts
    # verdict totals still reflect the FULL violation counts
    full = validate(tokens_df, suite, n_buckets=8, extract_violation_rows=False)
    v_capped = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id").agg(F.sum("n_violations").alias("total")).collect()
    }
    v_full = {
        r.constraint_id: r.total
        for r in full.verdicts.groupBy("constraint_id").agg(F.sum("n_violations").alias("total")).collect()
    }
    assert v_capped == v_full
    assert any(t > 5 for t in v_capped.values())  # planted > cap


def test_validate_fd_viols_respect_cap(fd_df):
    suite = [C.functional_dependency(["det"], "dep", cid="fd_cap")]
    res = validate(
        fd_df, suite, key="doc_id", n_buckets=4,
        max_violations_per_constraint=1,
    )
    n = res.violations.filter(F.col("constraint_id") == "fd_cap").count()
    assert n == 1  # 4 violating rows capped to 1


def test_suite_json_roundtrip_preserves_hash():
    suite = C.default_suite(["web", "books"]) + [
        C.expression("n_tok > 0", columns=["n_tok"]),
        C.metric_range("n_tok", "mean", 1, 1e6),
        C.functional_dependency(["a", "b"], "c"),
        C.volume(100),  # open upper bound -> null in JSON (RFC 8259)
        C.schema_type("doc_id", "string"),
    ]
    text = C.suite_to_json(suite)
    back = C.suite_from_json(text)
    assert back == suite
    assert C.constraint_set_hash(back) == C.constraint_set_hash(suite)
    # the portable surface must be strict RFC-8259 JSON: Python's
    # non-strict Infinity literal is rejected by jq and most non-Python
    # parsers (ADVICE r4). parse_constant raises on any of the three
    # non-standard literals, proving none is present.
    import json as J

    def _no_const(name):  # pragma: no cover - failure path
        raise AssertionError(f"non-RFC-8259 literal {name} in suite JSON")

    parsed = J.loads(text, parse_constant=_no_const)
    vol = next(d for d in parsed if d["kind"] == "volume")
    assert vol["params"]["hi"] is None
    # referential's genuine None params survive the null round-trip
    ref_back = next(c for c in back if c.kind == "referential")
    assert ref_back.params["valid_values"] is not None  # from default_suite
    open_ref = C.suite_from_json(C.suite_to_json([C.referential("source", dim_table="dims")]))
    assert open_ref[0].params["valid_values"] is None


def test_cli_quarantine_and_exit_code(tmp_path):
    """CI surface: --fail-on-violation exits 2 on planted violations,
    0 on clean data; --quarantine writes the full offending records."""
    import json as J
    import subprocess
    import sys

    def run(*extra):
        return subprocess.run(
            [sys.executable, "-m", "kglids_spark.cli", *extra],
            capture_output=True, text=True,
        )

    gen = str(tmp_path / "q_tokens")
    r = run("generate", "--rows", "20000", "--out", gen)
    assert r.returncode == 0
    qdir = str(tmp_path / "quarantine")
    r = run("validate", "--input", gen, "--cpus", "4",
            "--max-violations", "5", "--quarantine", qdir,
            "--fail-on-violation")
    assert r.returncode == 2, r.stdout[-500:] + r.stderr[-500:]
    out = J.loads(r.stdout.strip().splitlines()[-1])
    assert any(not v["passed"] for v in out["verdict_summary"].values())
    import duckdb

    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{qdir}/*.parquet')").fetchone()[0]
    assert 0 < n <= 5 * len(out["verdict_summary"])

    clean = str(tmp_path / "q_clean")
    assert run("generate", "--rows", "5000", "--out", clean, "--no-violations").returncode == 0
    r = run("validate", "--input", clean, "--cpus", "4",
            "--no-violation-rows", "--fail-on-violation")
    assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]


def test_suite_from_json_rejects_unknown_kind():
    import pytest as _pt

    bad = '[{"cid": "x", "kind": "not_nul", "column": "doc_id", "params": {}}]'
    with _pt.raises(ValueError, match="unknown kind"):
        C.suite_from_json(bad)


def test_max_violations_cap_holds_across_resumed_runs(fd_df, tmp_path):
    """Each resumed run appends its own capped rows; the merged read
    must re-cap so the RETURNED set honors the per-constraint bound."""
    store = TableStore(fd_df.sparkSession, str(tmp_path / "cap_ledger"))
    suite = [C.not_null("dep", cid="nn_dep")]
    df = fd_df  # 2 null deps planted (d3, d6)
    r1 = validate(df, suite, key="doc_id", n_buckets=4, ledger=store,
                  max_violations_per_constraint=1, run_id="x")
    # second run, same ledger, force re-extraction by a disjoint bucket
    # count? simplest: same config — resume appends nothing new, but a
    # re-run with a FRESH run id over the same buckets appends only for
    # uncompleted buckets (none) — so instead run against a ledger from
    # a partial first pass
    store2 = TableStore(fd_df.sparkSession, str(tmp_path / "cap_ledger2"))
    from kglids_spark.plans.buckets import with_bucket, BUCKET_COL
    half = (with_bucket(df, "doc_id", 4).filter(F.col(BUCKET_COL) < 2).drop(BUCKET_COL))
    validate(half, suite, key="doc_id", n_buckets=4, ledger=store2,
             max_violations_per_constraint=1, run_id="h1")
    r2 = validate(df, suite, key="doc_id", n_buckets=4, ledger=store2,
                  max_violations_per_constraint=1, run_id="h2")
    n = r2.violations.filter(F.col("constraint_id") == "nn_dep").count()
    assert n <= 1, f"merged ledger read returned {n} rows despite cap=1"


# ---------------------------------------------------------------------------
# element_range: token-id-vs-vocabulary bounds (round 5)


def test_element_range_counts_match_duckdb(tokens_df, duck):
    """Fixture token ids are uniform in [0, 50257); tightening the
    upper bound must flag exactly the docs DuckDB's list_filter sees."""
    suite = C.default_suite(SOURCES) + [
        C.element_range("tokens", 0, 49000, cid="tok_vocab"),
        C.element_range("tokens", 0, 50256, cid="tok_vocab_full"),
    ]
    res = validate(tokens_df, suite, n_buckets=N_BUCKETS, extract_violation_rows=False)
    got = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    want = duck.execute(
        "SELECT count(*) FROM tokens WHERE tokens IS NOT NULL AND "
        "len(list_filter(tokens, x -> x IS NULL OR x < 0 OR x > 49000)) > 0"
    ).fetchone()[0]
    assert got["tok_vocab"] == want > 0
    assert got["tok_vocab_full"] == 0


def test_element_range_null_semantics(spark):
    """NULL element violates; NULL array does not (not_null's job);
    empty array passes. Checked on violation_expr directly and through
    validate(), whose slim projection carries its flag."""
    df = spark.createDataFrame(
        [
            ("a", [1, 2, 3]),
            ("b", [1, None, 3]),
            ("c", None),
            ("d", []),
            ("e", [1, 99]),
        ],
        "doc_id string, tokens array<int>",
    )
    c = C.element_range("tokens", 0, 10, cid="er")
    flagged = {
        r.doc_id
        for r in df.filter(C.violation_expr(c, df)).select("doc_id").collect()
    }
    assert flagged == {"b", "e"}
    res = validate(df, [c], key="doc_id", n_buckets=2)
    verd = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    assert verd["er"] == 2
    bad = {r.doc_id for r in res.violations.select("doc_id").collect()}
    assert bad == {"b", "e"}


def test_element_range_json_roundtrip_and_hash():
    suite = [C.element_range("tokens", 0, 50256)]
    back = C.suite_from_json(C.suite_to_json(suite))
    assert C.constraint_set_hash(back) == C.constraint_set_hash(suite)
    assert C.constraint_set_hash(
        [C.element_range("tokens", 0, 99)]
    ) != C.constraint_set_hash(suite)


def test_vector_sanity_semantics(spark):
    """The three vector failure modes each violate; a NULL array does
    not (not_null's job); a clean unit vector passes. Checked on
    violation_expr directly and through validate(), whose slim
    projection carries its flag."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            ("clean", [0.6, 0.8]),
            ("has_nan", [nan, 0.8]),
            ("has_inf", [0.6, inf]),
            ("has_null", [0.6, None]),
            ("wrong_dim", [0.6, 0.8, 0.0]),
            ("norm_low", [0.1, 0.0]),
            ("norm_high", [30.0, 40.0]),
            ("null_arr", None),
        ],
        "doc_id string, emb array<float>",
    )
    c = C.vector_sanity("emb", dim=2, norm_lo=0.5, norm_hi=2.0, cid="vs")
    flagged = {
        r.doc_id
        for r in df.filter(C.violation_expr(c, df)).select("doc_id").collect()
    }
    assert flagged == {
        "has_nan", "has_inf", "has_null", "wrong_dim", "norm_low", "norm_high"
    }
    res = validate(df, [c], key="doc_id", n_buckets=2)
    verd = {
        r.constraint_id: r.total
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.sum("n_violations").alias("total"))
        .collect()
    }
    assert verd["vs"] == 6
    bad = {r.doc_id for r in res.violations.select("doc_id").collect()}
    assert bad == flagged


def test_vector_sanity_finiteness_only(spark):
    """With no dim/norm params the constraint is purely the finiteness
    probe — wrong dims and wild norms pass."""
    df = spark.createDataFrame(
        [("a", [9999.0]), ("b", [0.1, 0.2, 0.3]), ("c", [float("nan")])],
        "doc_id string, emb array<float>",
    )
    c = C.vector_sanity("emb", cid="vs")
    flagged = {
        r.doc_id
        for r in df.filter(C.violation_expr(c, df)).select("doc_id").collect()
    }
    assert flagged == {"c"}


def test_vector_sanity_json_roundtrip_and_hash():
    suite = [C.vector_sanity("emb", dim=64, norm_lo=0.5, norm_hi=2.0)]
    back = C.suite_from_json(C.suite_to_json(suite))
    assert C.constraint_set_hash(back) == C.constraint_set_hash(suite)
    # None params (finiteness-only) round-trip too, and hash distinctly
    loose = [C.vector_sanity("emb")]
    assert C.constraint_set_hash(
        C.suite_from_json(C.suite_to_json(loose))
    ) == C.constraint_set_hash(loose)
    assert C.constraint_set_hash(loose) != C.constraint_set_hash(suite)


def test_vector_sanity_cli_spec():
    """--vector-sanity parses 'COL dim=D norm=LO:HI' (half-open norm
    bands included) and rejects unknown options with a usage error."""
    import pytest as _pytest

    from kglids_spark.cli import _parse_vector_sanity

    c = _parse_vector_sanity("embedding dim=64 norm=0.5:2.0")
    assert c.column == "embedding" and c.params == {
        "dim": 64, "norm_lo": 0.5, "norm_hi": 2.0
    }
    assert _parse_vector_sanity("emb norm=:10").params["norm_lo"] is None
    assert _parse_vector_sanity("emb").params["dim"] is None
    with _pytest.raises(SystemExit, match="unknown option"):
        _parse_vector_sanity("emb radius=3")
    with _pytest.raises(SystemExit, match="not numeric"):
        _parse_vector_sanity("emb dim=big")


def test_element_range_grouped_verdicts(spark):
    df = spark.createDataFrame(
        [("a", [1], "s1"), ("b", [99], "s1"), ("c", [2], "s2")],
        "doc_id string, tokens array<int>, source string",
    )
    g = C.grouped_verdicts(df, [C.element_range("tokens", 0, 10, cid="er")], "source")
    rows = {(r.source, r.constraint_id): (r.n_violations, r.passed) for r in g.collect()}
    assert rows[("s1", "er")] == (1, False)
    assert rows[("s2", "er")] == (0, True)


# ---------------------------------------------------------------------------
# drift_by: per-group drift localization on the validate surface (round 5)


def test_drift_by_localizes_failing_source(spark):
    """One feed's n_tok distribution shifts vs an explicit baseline:
    the global verdict fails AND group_drift names exactly that feed;
    per-group stats agree with the driver-side reference math."""
    from kglids_spark.operators import drift as D

    spec = D.HistSpec("n_tok", lo=0.0, hi=100.0, nbins=10)
    rows = []
    for i in range(3000):
        src = ("web", "books", "code")[i % 3]
        base_v = float(10 + (i * 7) % 60)  # in [10, 70) for all feeds
        v = base_v + 60.0 if src == "code" else base_v  # code shifts right
        rows.append((f"d{i}", [1, 2], v, src))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok double, source string"
    )
    # baseline = the UNdrifted mixture (same generator, no shift)
    base_df = spark.createDataFrame(
        [(r[0], r[1], float(10 + (i * 7) % 60), r[3]) for i, r in enumerate(rows)],
        "doc_id string, tokens array<int>, n_tok double, source string",
    )
    baseline = [int(v) for v in D.histogram_df(base_df, spec).collect()[0]["hist"]]

    res = validate(
        df,
        [C.drift_ks("n_tok"), C.drift_psi("n_tok")],
        n_buckets=4,
        baseline_hist=baseline,
        drift_spec=spec,
        drift_by="source",
        extract_violation_rows=False,
    )
    assert res.group_drift is not None
    got = {r.source: r for r in res.group_drift.collect()}
    assert set(got) == {"web", "books", "code"}
    assert not got["code"].ks_pass and not got["code"].psi_pass
    assert got["web"].ks_pass and got["web"].psi_pass
    assert got["books"].ks_pass and got["books"].psi_pass
    # per-group stats match evaluate_drift on the per-group histograms
    per_group = {
        r.source: list(r.hist)
        for r in D.histogram_df(df, spec, group_cols=["source"]).collect()
    }
    for g, hist in per_group.items():
        want = D.evaluate_drift(hist, baseline)
        assert abs(got[g].ks - want["ks"]) < 1e-9
        assert abs(got[g].psi - want["psi"]) < 1e-9
    # the global mixture moved too (one third of it shifted)
    glob = {
        r.constraint_id: r.passed
        for r in res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert not glob["drift_ks(n_tok)"]


def test_drift_by_requires_drift_constraint(spark, tokens_df):
    with pytest.raises(ValueError, match="drift_by"):
        validate(
            tokens_df,
            [C.not_null("doc_id")],
            n_buckets=4,
            drift_by="source",
            extract_violation_rows=False,
        )


def test_drift_by_absent_by_default(tokens_df):
    res = validate(
        tokens_df,
        [C.drift_ks("n_tok")],
        n_buckets=4,
        extract_violation_rows=False,
    )
    assert res.group_drift is None


def test_cli_drift_by_section(tmp_path):
    """--drift-by adds a bounded group_drift section: exact totals,
    failing groups capped; self-baseline run passes every feed."""
    import json as J
    import subprocess
    import sys

    gen = str(tmp_path / "gd_tokens")
    r = subprocess.run(
        [sys.executable, "-m", "kglids_spark.cli", "generate",
         "--rows", "20000", "--out", gen, "--no-violations"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0
    r = subprocess.run(
        [sys.executable, "-m", "kglids_spark.cli", "validate",
         "--input", gen, "--cpus", "4", "--no-violation-rows",
         "--drift-by", "source", "--drift-by-cap", "3"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]
    out = J.loads(r.stdout.strip().splitlines()[-1])
    gd = out["group_drift"]
    assert gd["group_col"] == "source"
    assert gd["groups_total"] == len(SOURCES)
    assert len(gd["failing"]) == min(gd["groups_failed"], 3)
    # the dominant feed (~60% of the mixture) IS essentially the
    # self-baseline; it must pass. Tiny feeds may trip PSI from
    # epsilon-smoothed sampling noise alone (the recorded reason
    # per-bucket drift verdicts don't exist), so no zero-failure
    # assertion across all feeds
    assert "web" not in [f["group"] for f in gd["failing"]]
    # and the global self-baseline verdict is trivially green
    assert out["verdict_summary"]["drift_psi(n_tok)"]["passed"]


def test_cli_outlier_fence_verdict(tmp_path):
    """--outlier-fence adds a Tukey-fence verdict: a clean lognormal
    n_tok column passes at a loose rate and fails at rate 0; a second
    spec for the same column, a malformed spec, and an all-NULL column
    (nothing checked) fail."""
    import json as J
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    def run(*extra):
        return subprocess.run(
            [sys.executable, "-m", "kglids_spark.cli", *extra],
            capture_output=True, text=True,
        )

    def fence(inp, spec, *extra):
        r = run(
            "validate", "--input", inp, "--cpus", "4", "--no-violation-rows",
            "--outlier-fence", spec, *extra,
        )
        assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]
        return J.loads(r.stdout.strip().splitlines()[-1])

    clean = str(tmp_path / "of_clean")
    assert (
        run("generate", "--rows", "5000", "--out", clean, "--no-violations").returncode
        == 0
    )
    loose = fence(clean, "n_tok 1.5 0.5")["verdict_summary"]["outlier_fence(n_tok)"]
    assert loose["passed"] is True
    out = fence(clean, "n_tok 1.5 0.0")
    # a lognormal tail always has some outliers above the 1.5 fence
    v = out["verdict_summary"]["outlier_fence(n_tok)"]
    assert v["violations"] > 0 and v["passed"] is False
    assert v["violations"] == loose["violations"]
    assert out["metrics"]["outlier_rate(n_tok)"] > 0.0
    assert out["metrics"]["outlier_fence_hi(n_tok)"] > out["metrics"][
        "outlier_fence_lo(n_tok)"
    ]
    for specs in (["n_tok 1.5 0.5", "n_tok 3 0.0"], ["n_tok nope 0.01"]):
        r = run(
            "validate", "--input", clean, "--cpus", "4", "--no-violation-rows",
            *[x for spec in specs for x in ("--outlier-fence", spec)],
        )
        assert r.returncode != 0
        assert "outlier-fence" in (r.stderr + r.stdout)

    # an all-NULL column: the rate over nothing must not pass
    null_dir = tmp_path / "of_null"
    null_dir.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [f"d{i}" for i in range(5)],
            "x": pa.array([None] * 5, pa.float64()),
        }),
        str(null_dir / "part-0.parquet"),
    )
    suite = tmp_path / "of_suite.json"
    suite.write_text(C.suite_to_json([C.not_null("doc_id")]))
    out = fence(str(null_dir), "x 1.5 0.5", "--suite", str(suite))
    assert out["verdict_summary"]["outlier_fence(x)"] == {
        "violations": 0, "passed": False
    }


def test_conditional_fd_scopes_evidence_and_violations(spark):
    """A dependency broken only OUT of scope passes as a CFD; in-scope
    breakage fails and flags only in-scope rows."""
    from kglids_spark.operators import constraints as C

    rows = [
        # scope = kind 'a'; g=1 consistent within scope, broken outside
        (1, 1, "x", "a"), (2, 1, "x", "a"), (3, 1, "y", "b"),
        # g=2 broken INSIDE scope
        (4, 2, "x", "a"), (5, 2, "y", "a"), (6, 2, "y", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, g long, dep string, kind string")

    scoped = C.functional_dependency(["g"], "dep", where="kind = 'a'")
    res = validate(df, [scoped], n_buckets=2, kll_col=None)
    v = {r.constraint_id: r for r in res.verdicts.collect()}
    cid = "fd(g -> dep | kind = 'a')"
    assert cid in v and not v[cid].passed
    # only g=2's IN-SCOPE rows (4, 5) are flagged — never row 3 or 6
    flagged = {r.doc_id for r in res.violations.collect()}
    assert flagged == {4, 5}
    # bad group count: exactly g=2
    bad = C.fd_violating_groups(df, scoped).collect()
    assert [(r.g, r.n_rows_in_group) for r in bad] == [(2, 2)]

    # the unconditional FD over the same frame fails on BOTH groups
    plain = C.functional_dependency(["g"], "dep")
    assert C.fd_violating_groups(df, plain).count() == 2

    # a scope with no breakage passes outright
    ok = C.functional_dependency(["g"], "dep", where="kind = 'zzz'")
    res2 = validate(df, [ok], n_buckets=2, kll_col=None)
    assert all(r.passed for r in res2.verdicts.collect())


def test_conditional_fd_json_roundtrip_and_cid():
    from kglids_spark.operators import constraints as C

    suite = [
        C.functional_dependency(["a", "b"], "c", where="src = 'web'"),
        C.functional_dependency(["a"], "c"),
    ]
    assert suite[0].cid == "fd(a,b -> c | src = 'web')"
    back = C.suite_from_json(C.suite_to_json(suite))
    assert C.constraint_set_hash(back) == C.constraint_set_hash(suite)
    assert back[0].params["where"] == "src = 'web'"
    assert "where" not in back[1].params
    with pytest.raises(ValueError, match="non-empty"):
        C.functional_dependency(["a"], "c", where="   ")


def test_cli_conditional_fd_spec(tmp_path):
    import json as J
    import subprocess
    import sys

    def run(*extra):
        return subprocess.run(
            [sys.executable, "-m", "kglids_spark.cli", *extra],
            capture_output=True, text=True,
        )

    clean = str(tmp_path / "cfd_clean")
    assert (
        run("generate", "--rows", "5000", "--out", clean, "--no-violations").returncode
        == 0
    )
    r = run(
        "validate", "--input", clean, "--cpus", "4", "--no-violation-rows",
        "--fd", "doc_id -> source @@ n_tok % 2 = 0",
    )
    assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]
    out = J.loads(r.stdout.strip().splitlines()[-1])
    v = out["verdict_summary"]["fd(doc_id -> source | n_tok % 2 = 0)"]
    assert v["passed"] is True
    # empty predicate after @@ is a usage error
    r = run(
        "validate", "--input", clean, "--cpus", "4", "--no-violation-rows",
        "--fd", "doc_id -> source @@  ",
    )
    assert r.returncode != 0 and "empty predicate" in (r.stderr + r.stdout)


def test_compliance_ratio_verdict_and_resume(spark, tmp_path):
    """Compliance counts per bucket but verdicts globally: a 10%
    violation rate passes at min_ratio 0.85, fails at 0.95, and the
    ratio survives a resumed run over the SAME ledger (totals merge
    across buckets ever validated)."""
    from kglids_spark.operators import constraints as C
    from kglids_spark.operators.validate import GLOBAL_BUCKET

    df = spark.createDataFrame(
        [(i, i % 10 != 0) for i in range(1000)], "doc_id long, ok boolean"
    )
    suite = [
        C.compliance("ok", 0.85, columns=["ok"], cid="loose"),
        C.compliance("ok", 0.95, columns=["ok"], cid="strict"),
    ]
    res = validate(df, suite, n_buckets=4, extract_violation_rows=True, kll_col=None)
    glob = {
        r.constraint_id: r
        for r in res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert glob["loose"].passed and glob["loose"].n_violations == 100
    assert not glob["strict"].passed and glob["strict"].n_violations == 100
    # only ONE verdict row per compliance constraint (no per-bucket rows)
    assert res.verdicts.filter(F.col("constraint_id") == "loose").count() == 1
    # violating rows are extractable for triage
    assert res.violations.filter(F.col("constraint_id") == "strict").count() == 100

    # resume: the same ledger re-run adds no rows and keeps the verdict
    from kglids_spark.sources.tables import TableStore

    ledger = TableStore(spark, str(tmp_path / "comp_ledger"))
    r1 = validate(df, suite, n_buckets=4, ledger=ledger,
                  extract_violation_rows=False, kll_col=None)
    r2 = validate(df, suite, n_buckets=4, ledger=ledger,
                  extract_violation_rows=False, kll_col=None)
    g2 = {
        r.constraint_id: r
        for r in r2.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert g2["loose"].passed and g2["loose"].n_violations == 100
    assert g2["loose"].n_checked == 1000  # merged, not doubled


def test_compliance_empty_input_fails_and_validation(spark):
    from kglids_spark.operators import constraints as C
    from kglids_spark.operators.validate import GLOBAL_BUCKET

    empty = spark.createDataFrame([], "doc_id long, ok boolean")
    res = validate(
        empty,
        [C.compliance("ok", 0.5, columns=["ok"])],
        n_buckets=2,
        extract_violation_rows=False,
        kll_col=None,
    )
    rows = res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    assert len(rows) == 1 and not rows[0].passed
    with pytest.raises(ValueError, match="min_ratio"):
        C.compliance("ok", 1.5)
    # round-trips the JSON suite surface with an identical hash
    suite = [C.compliance("n_tok > 0", 0.99, columns=["n_tok"])]
    back = C.suite_from_json(C.suite_to_json(suite))
    assert C.constraint_set_hash(back) == C.constraint_set_hash(suite)
    assert back[0].params["min_ratio"] == 0.99


def test_compliance_grouped_verdicts_ratio(spark):
    from kglids_spark.operators import constraints as C

    rows = [(i, "good", True) for i in range(100)] + [
        (i + 1000, "bad", i % 2 == 0) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, ok boolean")
    g = C.grouped_verdicts(
        df,
        [C.compliance("ok", 0.9, columns=["ok"], cid="c"), C.not_null("doc_id")],
        "source",
    )
    got = {(r.source, r.constraint_id): r for r in g.collect()}
    assert got[("good", "c")].passed
    assert not got[("bad", "c")].passed  # 50% < 90%
    assert got[("bad", "c")].n_violations == 50
    assert got[("bad", "not_null(doc_id)")].passed


def test_cli_compliance_spec(tmp_path):
    import json as J
    import subprocess
    import sys

    def run(*extra):
        return subprocess.run(
            [sys.executable, "-m", "kglids_spark.cli", *extra],
            capture_output=True, text=True,
        )

    clean = str(tmp_path / "comp_clean")
    assert (
        run("generate", "--rows", "5000", "--out", clean, "--no-violations").returncode
        == 0
    )
    r = run(
        "validate", "--input", clean, "--cpus", "4", "--no-violation-rows",
        "--compliance", "n_tok > 0 @@ n_tok @@ 0.5",
        "--compliance", "n_tok > 100000 @@ n_tok @@ 0.99",
    )
    assert r.returncode == 0, r.stdout[-500:] + r.stderr[-500:]
    out = J.loads(r.stdout.strip().splitlines()[-1])
    vs = out["verdict_summary"]
    assert vs["compliance(n_tok > 0>=0.5)"]["passed"] is True
    assert vs["compliance(n_tok > 100000>=0.99)"]["passed"] is False
    r = run(
        "validate", "--input", clean, "--cpus", "4", "--no-violation-rows",
        "--compliance", "n_tok > 0 @@ n_tok @@ nope",
    )
    assert r.returncode != 0 and "MIN_RATIO" in (r.stderr + r.stdout)


def test_compliance_exact_boundary_passes(spark):
    """A dataset with EXACTLY min_ratio compliant rows passes — the
    float form (1-r)*n flips at the boundary ((1.0-0.8)*10 =
    1.9999999999999996 < 2); the engine compares exact integers via
    compliance_fraction (review r5)."""
    from kglids_spark.operators import constraints as C
    from kglids_spark.operators.validate import GLOBAL_BUCKET

    # 10 rows, exactly 8 compliant, min_ratio 0.8
    df = spark.createDataFrame(
        [(i, i < 8) for i in range(10)], "doc_id long, ok boolean"
    )
    res = validate(
        df,
        [C.compliance("ok", 0.8, columns=["ok"], cid="b")],
        n_buckets=2,
        extract_violation_rows=False,
        kll_col=None,
    )
    row = res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()[0]
    assert row.n_violations == 2 and row.passed
    # 0.9 over 10 rows with exactly 1 violation: boundary again
    res2 = validate(
        spark.createDataFrame([(i, i < 9) for i in range(10)], "doc_id long, ok boolean"),
        [C.compliance("ok", 0.9, columns=["ok"], cid="b9")],
        n_buckets=2,
        extract_violation_rows=False,
        kll_col=None,
    )
    assert res2.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()[0].passed
    # one more violation fails
    res3 = validate(
        spark.createDataFrame([(i, i < 7) for i in range(10)], "doc_id long, ok boolean"),
        [C.compliance("ok", 0.8, columns=["ok"], cid="b8")],
        n_buckets=2,
        extract_violation_rows=False,
        kll_col=None,
    )
    assert not res3.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()[0].passed
    # the grouped pass rule agrees at the boundary
    g = C.grouped_verdicts(
        spark.createDataFrame(
            [(i, "g", i < 8) for i in range(10)], "doc_id long, src string, ok boolean"
        ),
        [C.compliance("ok", 0.8, columns=["ok"], cid="gb")],
        "src",
    ).collect()
    assert g[0].passed


# ---------------------------------------------------------------------------
# drift histogram on the stats pass: one cell index per row, counted
# per (bucket, cell) and joined like the duplicate counts


def _null_bucket_frame(spark, n_buckets=4, null_bucket=0):
    """Rows whose n_tok sits on, between and beyond the bin edges of
    HistSpec('n_tok', 0, 100, 10) — all NULL in ``null_bucket``."""
    rows = [(f"d{i}", [1], float((i * 7) % 130) - 10.0, "web") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok double, source string")
    b = with_bucket(df, n_buckets=n_buckets)
    nulled = F.when(F.col(BUCKET_COL) == null_bucket, F.lit(None)).otherwise(F.col("n_tok"))
    return b.withColumn("n_tok", nulled).drop(BUCKET_COL)


def test_stats_aggregate_does_not_grow_with_nbins(spark, monkeypatch):
    """The histogram is one cell index per row, not one aggregate per
    cell: the optimized plans of the stats aggregate and of the
    (bucket, cell) count validate collects each hold the same number
    of aggregate functions at nbins=8 and nbins=512."""
    import re

    import kglids_spark.operators.validate as V
    from kglids_spark.operators import drift as D

    df = _null_bucket_frame(spark)
    plans = {"stats": [], "cells": []}

    def spy(name, fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            plans[name].append(out._jdf.queryExecution().optimizedPlan().toString())
            return out

        return wrapped

    monkeypatch.setattr(V, "_stats_pass", spy("stats", V._stats_pass))
    monkeypatch.setattr(D, "cell_counts", spy("cells", D.cell_counts))
    for nbins in (8, 512):
        spec = D.HistSpec("n_tok", lo=0.0, hi=100.0, nbins=nbins)
        V.validate(df, [C.drift_ks("n_tok")], n_buckets=4, drift_spec=spec,
                   extract_violation_rows=False)
    agg_fn = re.compile(r"\b(sum|count|min|max|\w+_agg\w*|collect_list)\(")
    for name, found in plans.items():
        n8, n512 = (len(agg_fn.findall(p)) for p in found)
        assert n8 == n512 and n8 > 0, name


def test_bucket_stats_hist_matches_reference_with_all_null_bucket(
    spark, tmp_path, indicator_histogram
):
    """Every bucket_stats row's hist equals the indicator reference
    over that bucket's values; the all-NULL bucket stores zeros."""
    from kglids_spark.operators import drift as D

    spec = D.HistSpec("n_tok", lo=0.0, hi=100.0, nbins=10)
    df = _null_bucket_frame(spark)
    ledger = TableStore(spark, str(tmp_path / "hist_ledger"))
    validate(df, [C.drift_ks("n_tok")], n_buckets=4, drift_spec=spec, ledger=ledger,
             extract_violation_rows=False)
    values: dict[int, list] = {}
    for r in with_bucket(df, n_buckets=4).select(BUCKET_COL, "n_tok").collect():
        values.setdefault(r[BUCKET_COL], []).append(r.n_tok)
    got = {r.bucket_id: list(r.hist) for r in ledger.read("bucket_stats").collect()}
    assert set(got) == set(values) == {0, 1, 2, 3}
    assert all(v is None for v in values[0]) and got[0] == [0] * spec.n_cells
    for b, vals in values.items():
        assert got[b] == indicator_histogram(vals, spec), b


def test_resume_from_prior_layout_ledger(spark, tmp_path):
    """bucket_stats rows in the earlier ledger layout — hist in the
    aggregate's column position, NULL cells for an all-NULL bucket —
    resume to the verdicts and drift metrics of a fresh run."""
    from kglids_spark.operators import drift as D

    spec = D.HistSpec("n_tok", lo=0.0, hi=100.0, nbins=10)
    suite = [C.not_null("doc_id"), C.drift_ks("n_tok"), C.drift_psi("n_tok")]
    kw = dict(n_buckets=4, drift_spec=spec, extract_violation_rows=False,
              baseline_hist=[1, 5, 5, 5, 5, 5, 5, 5, 5, 5, 5, 1])
    df = _null_bucket_frame(spark)
    fresh = validate(df, suite, **kw)

    full = TableStore(spark, str(tmp_path / "full"))
    validate(df, suite, ledger=full, **kw)
    null_cells = F.array_repeat(F.lit(None).cast("long"), spec.n_cells)
    prior = (
        full.read("bucket_stats")
        .filter(F.col("bucket_id") < 2)
        .withColumn("hist", F.when(F.col("bucket_id") == 0, null_cells).otherwise(F.col("hist")))
        .select("bucket_id", "n_rows", "hll_key", "v_min", "v_max", "kll", "hist",
                "viol_counts", "run_id", "constraint_hash", "n_buckets", "completed_at")
    )
    old = TableStore(spark, str(tmp_path / "old"))
    old.append("bucket_stats", prior)
    resumed = validate(df, suite, ledger=old, **kw)

    assert resumed.metrics["buckets_completed_prior"] == 2
    assert sorted(map(tuple, resumed.verdicts.collect())) == sorted(
        map(tuple, fresh.verdicts.collect())
    )
    for cid in ("drift_ks(n_tok)", "drift_psi(n_tok)"):
        assert resumed.metrics[cid] == fresh.metrics[cid] > 0
