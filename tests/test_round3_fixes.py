"""Round-3 fixes: VERDICT r2 "Next round" items 4-5, 7-8 and every
ADVICE r2 finding (mem-string parsing, bucket-metadata validation,
LSH-pandas null handling, tiered merge collect, EDA iterative parity,
reference-score formulae)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators.validate import validate
from kglids_spark.plans.buckets import BUCKET_COL, META_N_BUCKETS, with_bucket
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import SOURCES

N_BUCKETS = 16


# ---------------------------------------------------------------------------
# session._mem_mb (ADVICE r2: '512m' must not become -Xms512g)


@pytest.mark.parametrize(
    "env_val,expect_mb",
    [
        ("16g", 16 * 1024),
        ("512m", 512),
        ("1g", 1024),
        ("2048", 2048),  # bare number = MiB (Spark's default unit)
        ("1t", 1024 * 1024),
        ("oops", 16 * 1024),  # parse failure -> 16g default
        ("64k", 1),  # tiny values floor at 1 MiB, never ABOVE the -Xmx
        ("256m", 256),  # sub-512 passes through: -Xms must stay <= -Xmx
    ],
)
def test_mem_mb_parsing(monkeypatch, env_val, expect_mb):
    from kglids_spark import session

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env_val)
    assert session._mem_mb() == expect_mb


def test_default_heap_is_half_of_host_memory_capped(monkeypatch, tmp_path):
    """Unset SPARK_GRAFT_DRIVER_MEM: the heap is MemTotal/2, at most
    16 GiB, and 16g when /proc/meminfo cannot be read."""
    from kglids_spark import session

    info = tmp_path / "meminfo"
    info.write_text("MemTotal:       15728640 kB\nMemFree:        1024 kB\n")  # 15 GiB
    assert session._default_driver_mem(str(info)) == "7680m"
    info.write_text("MemTotal:       67108864 kB\n")  # 64 GiB
    assert session._default_driver_mem(str(info)) == "16384m"
    assert session._default_driver_mem(str(tmp_path / "absent")) == "16384m"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert f"{session._mem_mb()}m" == session._driver_mem() == session._default_driver_mem()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_mem() == "3g"


def test_gc_opts_never_exceed_heap(monkeypatch):
    """-Xms/-Xmn derived from the driver-mem string must stay inside
    the -Xmx Spark sets from the same string."""
    from kglids_spark import session

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512m")
    opts = session._gc_opts(session._mem_mb())
    assert "-Xms512m" in opts and "-Xmn384m" in opts
    # a sub-512 setting must not produce -Xms above its own -Xmx, and
    # the young gen must stay strictly inside the heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "256m")
    opts = session._gc_opts(session._mem_mb())
    assert "-Xms256m" in opts and "-Xmn192m" in opts


# ---------------------------------------------------------------------------
# with_bucket validation (ADVICE r2: never trust a foreign bucket_id)


def test_with_bucket_metadata_mismatch_raises(spark, tokens_df):
    b32 = with_bucket(tokens_df, n_buckets=32)
    assert b32.schema[BUCKET_COL].metadata[META_N_BUCKETS] == 32
    with pytest.raises(ValueError, match="n_buckets=32"):
        with_bucket(b32, n_buckets=64)


def test_with_bucket_matching_metadata_trusted(spark, tokens_df):
    b = with_bucket(tokens_df, n_buckets=N_BUCKETS)
    again = with_bucket(b, n_buckets=N_BUCKETS)
    assert again is b  # no recompute, no extra plan nodes


def test_with_bucket_foreign_column_out_of_range_raises(spark):
    df = spark.range(100).select(
        F.concat(F.lit("d"), "id").alias("doc_id"),
        (F.col("id") % 128).cast("int").alias(BUCKET_COL),
    )
    with pytest.raises(ValueError, match="incompatible"):
        with_bucket(df, n_buckets=16)


def test_with_bucket_foreign_column_in_range_accepted(spark):
    df = spark.range(100).select(
        F.concat(F.lit("d"), "id").alias("doc_id"),
        (F.col("id") % 16).cast("int").alias(BUCKET_COL),
    )
    out = with_bucket(df, n_buckets=16)
    # accepted but NOT stamped: the range guard cannot prove the
    # foreign bucketing's true N (a 16-bucket column also passes an
    # n_buckets=64 request), so no metadata certainty is fabricated
    assert META_N_BUCKETS not in (out.schema[BUCKET_COL].metadata or {})
    # a coarser foreign column under a wider request still passes the
    # guard — and must likewise remain unstamped
    wider = with_bucket(df, n_buckets=64)
    assert META_N_BUCKETS not in (wider.schema[BUCKET_COL].metadata or {})


def test_tablestore_roundtrips_bucket_count(spark, tokens_df, tmp_path):
    """partitionBy drops StructField metadata; the manifest carries the
    bucket count across the round trip so a mismatched read raises."""
    store = TableStore(spark, str(tmp_path / "bstore"))
    store.overwrite(
        "tokens", with_bucket(tokens_df, n_buckets=N_BUCKETS), partition_by=[BUCKET_COL]
    )
    back = store.read("tokens")
    assert back.schema[BUCKET_COL].metadata[META_N_BUCKETS] == N_BUCKETS
    with pytest.raises(ValueError, match=f"n_buckets={N_BUCKETS}"):
        with_bucket(back, n_buckets=N_BUCKETS * 2)
    # matching request still prunes-compatible: trusted without rescan
    assert with_bucket(back, n_buckets=N_BUCKETS) is back


# ---------------------------------------------------------------------------
# tiered merge collect (VERDICT r2 "What's wrong #2")


def test_tiered_merge_matches_single_level(spark, tokens_df, tmp_path):
    """A full resume merges the stored sketch rows on the driver and
    reproduces the stored run's verdicts, estimates and quantiles."""
    suite = C.default_suite(SOURCES)
    store = TableStore(spark, str(tmp_path / "tiered_ledger"))
    base = validate(
        tokens_df, suite, n_buckets=N_BUCKETS, ledger=store, extract_violation_rows=False
    )
    # native KLL bytes differ between rebuilds of the same rows, so the
    # quantiles are compared over the same stored sketches: this run
    # resumes every bucket of base's ledger
    resumed = validate(
        tokens_df, suite, n_buckets=N_BUCKETS, ledger=store, extract_violation_rows=False
    )
    assert resumed.metrics["buckets_completed_prior"] == N_BUCKETS
    assert sorted(map(tuple, resumed.verdicts.collect())) == sorted(
        map(tuple, base.verdicts.collect())
    )
    for k in ("distinct_key_estimate", "rows_validated"):
        assert resumed.metrics[k] == base.metrics[k]
    for k in ("n_tok_median_kll", "n_tok_iqr_kll"):
        assert resumed.metrics[k] == base.metrics[k] is not None


def test_merge_at_4096_buckets_bounded(spark):
    """4096 buckets: the per-bucket stats rows are collected once and
    merged on the driver (no all-buckets task), and the run completes
    in bounded time on a small frame with one verdict row per non-empty
    bucket and constraint."""
    import time

    from kglids_spark.sources.tokens import generate_tokens

    df = generate_tokens(spark, 20000, partitions=8)
    suite = [C.not_null("doc_id"), C.in_range("n_tok", 1, 100000)]
    t0 = time.monotonic()
    res = validate(df, suite, n_buckets=4096, extract_violation_rows=False)
    elapsed = time.monotonic() - t0
    verd = res.verdicts.collect()
    # empty buckets (20k rows over 4096 buckets) carry no verdict row
    n_nonempty = len({r.bucket_id for r in verd})
    assert 3900 <= n_nonempty <= 4096 and len(verd) == 2 * n_nonempty
    assert res.metrics["rows_validated"] == 20000
    assert res.metrics["distinct_key_estimate"] > 0
    assert elapsed < 120, f"4096-bucket merge took {elapsed:.1f}s"


# ---------------------------------------------------------------------------
# LSH pandas bucketing: null / ragged vectors (ADVICE r2)


def test_lsh_bucket_pandas_null_and_ragged(spark):
    from kglids_spark.operators.ann import gaussian_planes, lsh_bucket_pandas_udf

    planes = gaussian_planes(4, 8)
    rows = [
        ("ok1", [float(i) for i in range(8)]),
        ("null", None),
        ("short", [1.0, 2.0]),
        ("ok2", [float(-i) for i in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = {
        r.vec_id: r.b
        for r in df.select(
            "vec_id", lsh_bucket_pandas_udf(planes)("embedding").alias("b")
        ).collect()
    }
    assert got["null"] is None and got["short"] is None
    assert got["ok1"] is not None and got["ok2"] is not None
    # valid rows keep the exact bucket they'd get in an all-valid batch
    df_ok = spark.createDataFrame(
        [rows[0], rows[3]], "vec_id string, embedding array<double>"
    )
    pure = {
        r.vec_id: r.b
        for r in df_ok.select(
            "vec_id", lsh_bucket_pandas_udf(planes)("embedding").alias("b")
        ).collect()
    }
    assert pure == {k: v for k, v in got.items() if v is not None}


# ---------------------------------------------------------------------------
# EDA iterative matching parity (VERDICT r2 "Next round" #8)


def _eda_rows(spark, iterative):
    from kglids_spark.operators.eda import recommend_eda_operations
    from kglids_spark.sources import eda_fixture as EF

    ops, kcols, qcols = EF.load_eda_tables(spark)
    out = recommend_eda_operations(
        ops, kcols, qcols, EF.SIMILAR_COLUMN_ID, EF.MAIN_COLUMN_NAME,
        "multivariate", iterative=iterative,
    )
    return {
        (r.eda_id, r.secondary_column_id, r.matched_column) for r in out.collect()
    }


def test_eda_iterative_excludes_already_matched(spark):
    """e9's two int other-columns both independently match 'units';
    the reference's iterative exclusion gives the second (qty2) the
    runner-up 'count' (kglids_server.py:262-273)."""
    it = _eda_rows(spark, iterative=True)
    assert ("e9", "kg.sales.qty", "units") in it
    assert ("e9", "kg.sales.qty2", "count") in it


def test_eda_independent_and_iterative_differ(spark):
    ind = _eda_rows(spark, iterative=False)
    it = _eda_rows(spark, iterative=True)
    assert ("e9", "kg.sales.qty2", "units") in ind  # collision kept
    assert ("e9", "kg.sales.qty2", "units") not in it
    assert ind != it


def test_eda_iterative_drops_underfilled_ops(spark):
    """e10's first other-column (day) has no same-type query column, so
    only qty matches — <2 matched columns → the whole op is dropped
    (reference's len(chart_columns) > 2 filter, kglids_server.py:280)."""
    it = _eda_rows(spark, iterative=True)
    ind = _eda_rows(spark, iterative=False)
    assert not {t for t in it if t[0] == "e10"}
    assert ("e10", "kg.sales.qty", "units") in ind
    # heatmap whole-table op survives the filter untouched
    assert ("e6", None, None) in it


# ---------------------------------------------------------------------------
# real-Iceberg backend contract (VERDICT r2 "Next round" #6)


def test_iceberg_backend_contract_if_available(spark, tokens_df, tmp_path):
    """Runs TableStore's snapshot/append/time-travel contract against a
    REAL Iceberg hadoop catalog when an iceberg-spark-runtime jar is on
    the classpath. This sandbox ships no Iceberg jar (checked:
    /opt/spark/jars has none) and has no network for
    spark.jars.packages, so the test skips here — on any Spark with the
    runtime jar it executes and the parquet-dir emulation's claims
    become verified against the real catalog."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("no Iceberg runtime jar on classpath (offline sandbox)")

    spark.conf.set("spark.sql.catalog.ib", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ib.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ib.warehouse", str(tmp_path / "warehouse"))
    half = tokens_df.limit(1000)
    half.writeTo("ib.db.tokens").using("iceberg").create()
    snap1 = spark.sql(
        "SELECT snapshot_id FROM ib.db.tokens.snapshots ORDER BY committed_at DESC LIMIT 1"
    ).collect()[0][0]
    tokens_df.limit(500).writeTo("ib.db.tokens").append()
    assert spark.table("ib.db.tokens").count() == 1500
    asof = spark.sql(f"SELECT count(*) FROM ib.db.tokens VERSION AS OF {snap1}")
    assert asof.collect()[0][0] == 1000  # time travel sees pre-append state


# ---------------------------------------------------------------------------
# reference score formulae (VERDICT r2 "What's missing #4")


@pytest.fixture(scope="module")
def ref_scores(spark):
    from kglids_spark.operators.ref_scores import reference_similarity_scores
    from kglids_spark.sources.word_vectors_fixture import load_fixture

    profiles, wv = load_fixture(spark)
    out = reference_similarity_scores(profiles, wv)
    return {(r.col1_id, r.col2_id, r.kind): r.score for r in out.collect()}


def _np_label_score(l1_tokens, l2_tokens, vocab):
    vecs = {
        w: np.asarray(v) / np.linalg.norm(v) for w, v in vocab
    }
    total, n = 0.0, 0
    for a in l1_tokens:
        for b in l2_tokens:
            if a not in vecs or b not in vecs:
                return 0.0
            total += float(np.dot(vecs[a], vecs[b]))
            n += 1
    return total / n if n else 1.0


def test_ref_label_branches(ref_scores):
    # exact sanitized-label match: customer_id vs CustomerId
    assert ref_scores[("c1", "d1", "label")] == 1.0
    # empty label vs non-empty: '###' vs anything
    assert ref_scores[("c6", "d1", "label")] == 0.0
    # equal token sets, different order: removal empties both -> 1.0
    assert ref_scores[("c4", "d4", "label")] == 1.0
    # missing-vocabulary token (zyxqq) -> 0.0
    assert ref_scores[("c5", "d5", "label")] == 0.0


def test_ref_label_common_token_removal(ref_scores):
    """customer name vs customer address: 'customer' removed, score =
    dot(name, address) over unit vectors."""
    from kglids_spark.sources.word_vectors_fixture import WORD_VECTORS

    want = _np_label_score(["name"], ["address"], WORD_VECTORS)
    assert math.isclose(ref_scores[("c2", "d2", "label")], round(want, 5), abs_tol=1e-9)


def test_ref_label_revert_on_one_side_empty(ref_scores):
    """unit price vs unit price usd: removal empties the left side ->
    revert to FULL token lists, mean over all 2x3 pairs
    (word_embeddings.py:60-62)."""
    from kglids_spark.sources.word_vectors_fixture import WORD_VECTORS

    want = _np_label_score(
        ["unit", "price"], ["unit", "price", "usd"], WORD_VECTORS
    )
    assert math.isclose(ref_scores[("c3", "d3", "label")], round(want, 5), abs_tol=1e-9)


def test_ref_content_colr_and_boolean(ref_scores):
    from kglids_spark.sources.word_vectors_fixture import PROFILES

    prof = {p[0]: p for p in PROFILES}
    e1, s1 = np.asarray(prof["c1"][4]), prof["c1"][5]
    e2, s2 = np.asarray(prof["d1"][4]), prof["d1"][5]
    want = 1.0 - math.tanh(float(np.linalg.norm(e1 - e2)) + s1 + s2)
    assert math.isclose(
        ref_scores[("c1", "d1", "content")], round(want, 5), abs_tol=1e-9
    )
    # boolean pair: 1 - |0.3 - 0.55|
    assert math.isclose(ref_scores[("c7", "d7", "content")], 0.75, abs_tol=1e-9)


def test_ref_scores_pair_coverage(ref_scores):
    """36 string pairs x (label+content) + 1 boolean pair (content only
    for booleans... label too) — every same-dtype cross-table pair is
    scored by both kinds."""
    labels = [k for k in ref_scores if k[2] == "label"]
    contents = [k for k in ref_scores if k[2] == "content"]
    assert len(labels) == 37  # 36 string pairs + 1 boolean pair
    assert len(contents) == 37


def test_scoped_sql_conf_sets_and_restores(spark):
    """The wide-array reader-batch profile is scoped, not session-wide
    (bench_ab.py: the small batch costs ~10% on narrow scans)."""
    from kglids_spark.session import WIDE_ARRAY_SCAN_CONF, scoped_sql_conf

    key = "spark.sql.parquet.columnarReaderBatchSize"
    before = spark.conf.get(key, None)
    with scoped_sql_conf(spark, WIDE_ARRAY_SCAN_CONF):
        assert spark.conf.get(key) == "1024"
    assert spark.conf.get(key, None) == before
    # restore also on error
    try:
        with scoped_sql_conf(spark, {key: "2048"}):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key, None) == before


# --- F12 sentence embedding (fastText get_sentence_vector parity) -----


def test_sentence_embeddings_mean_of_unit_vectors(spark):
    import numpy as np
    from kglids_spark.operators.ref_scores import sentence_embeddings

    names = spark.createDataFrame(
        [("c1", "user_name"), ("c2", "user"), ("c3", "zzz qqq")],
        "column_id string, column_name string",
    )
    wv = spark.createDataFrame(
        [("user", [3.0, 4.0]), ("name", [1.0, 0.0])],
        "word string, vector array<double>",
    )
    got = {
        r.column_id: list(r.label_embedding)
        for r in sentence_embeddings(names, wv).collect()
    }
    u_user = np.array([3.0, 4.0]) / 5.0
    u_name = np.array([1.0, 0.0])
    # c1: sanitization turns user_name -> "user name", mean of both units
    assert got["c1"] == [round(v, 5) for v in (u_user + u_name) / 2]
    # c2: single in-vocab token -> its unit vector
    assert got["c2"] == [round(v, 5) for v in u_user]
    # c3: every token OOV -> no row (documented subword divergence)
    assert "c3" not in got


def test_sentence_embeddings_skips_oov_tokens_only(spark):
    from kglids_spark.operators.ref_scores import sentence_embeddings

    names = spark.createDataFrame(
        [("c1", "user mystery")], "column_id string, column_name string"
    )
    wv = spark.createDataFrame(
        [("user", [0.0, 2.0])], "word string, vector array<double>"
    )
    got = sentence_embeddings(names, wv).collect()
    # 'mystery' has no vector: the mean is over the ONE in-vocab token
    assert len(got) == 1 and list(got[0].label_embedding) == [0.0, 1.0]
