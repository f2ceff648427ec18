"""Exact heavy hitters: MG candidate superset + exact second pass must
equal the full groupBy under every partitioning."""

import pyspark.sql.functions as F
import pytest

from kglids_spark.operators.frequency import heavy_hitters


@pytest.fixture(scope="module")
def skewed(spark):
    # zipf-ish: item "hot" ~ 20%, "warm" ~ 5%, long tail of uniques
    df = spark.range(10000).select(
        F.when(F.col("id") % 5 == 0, "hot")
        .when(F.col("id") % 20 == 1, "warm")
        .otherwise(F.concat(F.lit("tail"), F.col("id")))
        .alias("item")
    )
    return df.cache()


def _exact(df, k):
    n = df.count()
    return {
        (r.item, r.n)
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > n / (k + 1))
        .collect()
    }


@pytest.mark.parametrize("k", [9, 199])
def test_heavy_hitters_exact_vs_groupby(spark, skewed, k):
    got = {(r.item, r.n) for r in heavy_hitters(skewed, "item", k=k).collect()}
    assert got == _exact(skewed, k)
    assert ("hot", 2000) in got


def test_heavy_hitters_partitioning_invariant(spark, skewed):
    a = {(r.item, r.n) for r in heavy_hitters(skewed.repartition(17), "item", k=49).collect()}
    b = {(r.item, r.n) for r in heavy_hitters(skewed.coalesce(1), "item", k=49).collect()}
    assert a == b == _exact(skewed, 49)


def test_heavy_hitters_nulls_dropped(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",), ("b",)], "item string")
    got = {(r.item, r.n) for r in heavy_hitters(df, "item", k=1).collect()}
    # n=3 non-null; threshold 3/2 → only 'a' (2 > 1.5)
    assert got == {("a", 2)}


def test_heavy_hitters_accepts_column_expression(spark, skewed):
    got = {r.item for r in heavy_hitters(skewed, F.upper(F.col("item")), k=9).collect()}
    assert "HOT" in got


# ---------------------------------------------------------------------------
# token information statistics


@pytest.fixture(scope="module")
def toks_df(spark):
    rows = [
        (1, [1, 1, 2, 3]),       # counts {1:2, 2:1, 3:1}
        (2, [5, 5, 5, 5]),       # zero entropy (one symbol)
        (3, [1, 2, 3, 4, 5]),    # uniform -> max entropy ln 5
        (4, []),                 # empty
        (5, None),               # null array
    ]
    return spark.createDataFrame(rows, "doc_id long, tokens array<long>").cache()


def test_token_entropy_hand_computed(spark, toks_df):
    import math

    from kglids_spark.operators import frequency as FR

    got = {r.doc_id: r for r in FR.token_information_scores(toks_df).collect()}
    # doc 1: H = ln 4 - (2 ln 2)/4
    assert got[1].entropy == pytest.approx(math.log(4) - 2 * math.log(2) / 4)
    assert got[2].entropy == pytest.approx(0.0, abs=1e-12)
    assert got[3].entropy == pytest.approx(math.log(5))
    # null-keeping convention: empty/NULL arrays survive with n_tok=0
    assert got[4].n_tok == 0 and got[4].entropy is None
    assert got[5].n_tok == 0 and got[5].entropy is None
    # Gibbs: cross-entropy >= entropy, so KL >= 0 on every doc
    for d in (1, 2, 3):
        assert got[d].kl >= -1e-12
    # hand-check doc 2's cross-entropy: token 5 occurs 5 times in the
    # 13-token corpus (4 in doc 2 + 1 in doc 3), so q(5) = 5/13
    assert got[2].cross_entropy == pytest.approx(-math.log(5 / 13.0))


def test_doc_token_entropy_lockstep(spark, toks_df):
    from kglids_spark.operators import frequency as FR

    grouped = {r.doc_id: r for r in FR.token_information_scores(toks_df).collect()}
    fast = {r.doc_id: r for r in FR.doc_token_entropy(toks_df).collect()}
    assert set(grouped) == set(fast)
    for d, g in grouped.items():
        assert fast[d].n_tok == g.n_tok
        if g.entropy is None:
            assert fast[d].entropy is None
        else:
            assert fast[d].entropy == pytest.approx(g.entropy, abs=1e-9)


def test_token_information_external_reference(spark, toks_df):
    import math

    from kglids_spark.operators import frequency as FR

    ref = toks_df.filter(F.col("doc_id") == 2)  # dictionary = {5}
    q = FR.unigram_logprobs(ref)
    # without an OOV floor the external reference must be refused
    with pytest.raises(ValueError, match="default_logp"):
        FR.token_information_scores(toks_df, ref_logprobs=q)
    got = {
        r.doc_id: r
        for r in FR.token_information_scores(
            toks_df, ref_logprobs=q, default_logp=math.log(1e-9)
        ).collect()
    }
    # doc 2 is fully in-reference: q(5)=1 -> cross-entropy 0
    assert got[2].cross_entropy == pytest.approx(0.0, abs=1e-12)
    # doc 1 is fully OOV: cross-entropy = -default_logp
    assert got[1].cross_entropy == pytest.approx(-math.log(1e-9))


def test_unigram_logprobs_sums_to_one(spark, toks_df):
    import math

    from kglids_spark.operators import frequency as FR

    q = FR.unigram_logprobs(toks_df).collect()
    assert sum(math.exp(r.logp) for r in q) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit


def test_zipf_fit_matches_numpy_lstsq(spark):
    import math

    import numpy as np

    from kglids_spark.operators import frequency as FR

    counts = [("the", 100), ("of", 47), ("and", 30), ("to", 22), ("a", 17), ("in", 12)]
    df = spark.createDataFrame(counts, "item string, n long")
    row = FR.zipf_fit(df).collect()[0]
    ranks = np.arange(1, len(counts) + 1, dtype="float64")
    ys = np.log(np.array([c for _, c in counts], dtype="float64"))
    slope, intercept = np.polyfit(np.log(ranks), ys, 1)
    assert row.n_types == 6 and row.n_tokens == 228
    assert row.zipf_slope == pytest.approx(slope, abs=1e-9)
    assert row.zipf_intercept == pytest.approx(intercept, abs=1e-9)
    assert -1.5 < row.zipf_slope < -0.5  # zipf-ish fixture


def test_zipf_fit_max_rank_and_tie_break(spark):
    from kglids_spark.operators import frequency as FR

    # ties on count: rank order is (count DESC, item ASC), so the fit
    # is deterministic under any partitioning
    rows = [("b", 10), ("a", 10), ("c", 5), ("d", 2)]
    df = spark.createDataFrame(rows, "item string, n long").repartition(4)
    full = FR.zipf_fit(df).collect()[0]
    again = FR.zipf_fit(df.repartition(2)).collect()[0]
    assert full == again
    top = FR.zipf_fit(df, max_rank=2).collect()[0]
    assert top.n_types == 2 and top.n_tokens == 20


def test_zipf_fit_single_rank_is_null(spark):
    from kglids_spark.operators import frequency as FR

    df = spark.createDataFrame([("only", 7)], "item string, n long")
    row = FR.zipf_fit(df).collect()[0]
    assert row.n_types == 1 and row.zipf_slope is None


# ---------------------------------------------------------------------------
# PMI collocations


def test_top_collocations_hand_computed(spark):
    import math

    from kglids_spark.operators import frequency as FR

    # "new york" appears 3x; "of the" 2x; singleton pairs fall below
    # min_count=2
    docs = [
        ("new york is in new york state",),
        ("the mayor of new york spoke of the city",),
    ]
    df = spark.createDataFrame(docs, "text string")
    got = FR.top_collocations(df, min_count=2, k=10).collect()
    by_pair = {(r.w1, r.w2): r for r in got}
    assert ("new", "york") in by_pair
    ny = by_pair[("new", "york")]
    # bigram stream: doc1 has 6 pairs, doc2 has 8 -> N=14
    assert ny.n_pair == 3
    # left marginal of 'new' = 3, right marginal of 'york' = 3
    assert ny.n_w1 == 3 and ny.n_w2 == 3
    assert ny.pmi == pytest.approx(math.log(3 * 14 / (3 * 3)))
    # every returned pair meets the count floor
    assert all(r.n_pair >= 2 for r in got)


def test_top_collocations_deterministic_and_validated(spark):
    from kglids_spark.operators import frequency as FR

    df = spark.createDataFrame(
        [("a b a b a b c d c d",), ("a b c d a b",)], "text string"
    )
    one = [tuple(r) for r in FR.top_collocations(df, min_count=2, k=3).collect()]
    two = [
        tuple(r)
        for r in FR.top_collocations(df.repartition(7), min_count=2, k=3).collect()
    ]
    assert one == two and len(one) == 3
    with pytest.raises(ValueError, match="min_count"):
        FR.top_collocations(df, min_count=0)
    with pytest.raises(ValueError, match="k must"):
        FR.top_collocations(df, k=0)


def test_cli_token_info(spark, tmp_path, capsys):
    import json as J

    from kglids_spark.cli import main

    toks = str(tmp_path / "ti_tokens")
    assert main(["generate", "--rows", "3000", "--out", toks, "--no-violations"]) == 0
    capsys.readouterr()
    rc = main(["token-info", "--input", toks, "--cpus", "4", "--seq-lens", "64,256"])
    out = J.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0, out
    assert out["n_docs"] == 3000
    # quantiles ordered; KL nonnegative (Gibbs)
    e = out["entropy_p10_p50_p90"]
    assert e[0] <= e[1] <= e[2]
    assert out["kl_p10_p50_p90"][0] >= 0
    curve = {c["seq_len"]: c for c in out["truncation"]}
    assert set(curve) == {64, 256}
    # longer windows keep at least as many tokens, emit fewer chunks
    assert curve[256]["tokens_kept_truncate"] >= curve[64]["tokens_kept_truncate"]
    assert curve[256]["n_chunks"] <= curve[64]["n_chunks"]
    # malformed lengths are usage errors
    with pytest.raises(SystemExit, match="seq-lens"):
        main(["token-info", "--input", toks, "--seq-lens", "64,x"])
