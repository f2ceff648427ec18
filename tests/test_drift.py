"""Drift constraints: unshifted baseline passes, shifted distribution
fails KS and PSI at the documented thresholds (FIXTURES.md F2)."""

import json

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators import drift as D
from kglids_spark.operators.validate import validate, GLOBAL_BUCKET
from kglids_spark.sources.tokens import SOURCES, generate_tokens


@pytest.fixture(scope="module")
def baseline_hist(spark):
    base = generate_tokens(spark, 20000, seed=7, plant_violations=False)
    spec = D.HistSpec(column="n_tok")
    return list(D.histogram_df(base, spec).collect()[0].hist)


def test_unshifted_passes(spark, tokens_df, baseline_hist):
    suite = [C.drift_ks("n_tok"), C.drift_psi("n_tok")]
    res = validate(
        tokens_df, suite, n_buckets=8, baseline_hist=baseline_hist, extract_violation_rows=False
    )
    glob = {
        r.constraint_id: r.passed
        for r in res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert glob["drift_ks(n_tok)"]
    assert glob["drift_psi(n_tok)"]


def test_shifted_fails(spark, baseline_hist):
    drifted = generate_tokens(spark, 20000, seed=9, plant_violations=False, ntok_shift=0.8)
    suite = [C.drift_ks("n_tok"), C.drift_psi("n_tok")]
    res = validate(
        drifted, suite, n_buckets=8, baseline_hist=baseline_hist, extract_violation_rows=False
    )
    glob = {
        r.constraint_id: (r.passed, r)
        for r in res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert not glob["drift_ks(n_tok)"][0]
    assert not glob["drift_psi(n_tok)"][0]
    assert res.metrics["drift_ks(n_tok)"] > 0.1
    assert res.metrics["drift_psi(n_tok)"] > 0.2


def test_ks_psi_math():
    h1 = [10, 20, 30, 40]
    assert D.ks_statistic(h1, h1) == 0.0
    assert D.psi(h1, h1) == pytest.approx(0.0, abs=1e-9)
    h2 = [40, 30, 20, 10]
    ks = D.ks_statistic(h1, h2)
    assert 0 < ks <= 1
    # hand-computed: cdf1=[.1,.3,.6,1], cdf2=[.4,.7,.9,1] -> max diff 0.4
    assert ks == pytest.approx(0.4)
    assert D.psi(h1, h2) > 0


def test_jsd_emd_math():
    import math

    h1 = [10, 20, 30, 40]
    # identical distributions: both zero
    assert D.js_divergence(h1, h1) == pytest.approx(0.0, abs=1e-12)
    assert D.emd_statistic(h1, h1) == pytest.approx(0.0, abs=1e-12)
    # disjoint supports: JSD hits its ln(2) bound exactly
    assert D.js_divergence([1, 0], [0, 1]) == pytest.approx(math.log(2))
    # hand-computed EMD: cdf1=[.1,.3,.6,1], cdf2=[.4,.7,.9,1]
    #   -> sum |diff| = .3+.4+.3+0 = 1.0 per unit bin
    h2 = [40, 30, 20, 10]
    assert D.emd_statistic(h1, h2) == pytest.approx(1.0)
    # bin width scales linearly (transport distance in x units)
    assert D.emd_statistic(h1, h2, bin_width=2.5) == pytest.approx(2.5)
    # hand-computed JSD for p=[.5,.5], q=[1,0]:
    #   m=[.75,.25]; 0.5*(.5 ln(.5/.75)+.5 ln(.5/.25)) + 0.5*(1*ln(1/.75))
    want = 0.5 * (0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)) + 0.5 * (
        math.log(1 / 0.75)
    )
    assert D.js_divergence([5, 5], [10, 0]) == pytest.approx(want)
    # empty side reports 0.0 (the n==0 convention shared with ks/psi)
    assert D.js_divergence([0, 0], h1) == 0.0
    assert D.emd_statistic(h1, [0, 0]) == 0.0
    # JSD needs no epsilon floor: one-sided empty cells are finite
    assert math.isfinite(D.js_divergence([10, 0, 5], [0, 10, 5]))


def test_histogram_matches_duckdb(spark, tokens_df, duck):
    spec = D.HistSpec(column="n_tok", lo=0.0, hi=8192.0, nbins=8)
    got = list(D.histogram_df(tokens_df, spec).collect()[0].hist)
    w = spec.width
    oracle = duck.execute(
        f"""
        SELECT
          sum(CASE WHEN n_tok < 0 THEN 1 ELSE 0 END),
          {", ".join(
            f"sum(CASE WHEN n_tok >= {i*w} AND n_tok " +
            ("<= 8192" if i == 7 else f"< {(i+1)*w}") + " THEN 1 ELSE 0 END)"
            for i in range(8)
          )},
          sum(CASE WHEN n_tok > 8192 THEN 1 ELSE 0 END)
        FROM tokens
        """
    ).fetchone()
    assert got == [int(x or 0) for x in oracle]


def test_snapshot_baseline_time_travel(spark, tmp_path):
    """North-star drift flow: a baseline run writes bucket_stats under
    a snapshot id; a later run resolves its drift baseline from that
    snapshot via TableStore time travel — unshifted data passes,
    location-shifted data fails."""
    from kglids_spark.sources.tables import TableStore

    suite = [C.drift_ks("n_tok"), C.drift_psi("n_tok")]
    ledger = TableStore(spark, str(tmp_path / "snap_ledger"))
    base = generate_tokens(spark, 20000, seed=7, plant_violations=False)
    res0 = validate(base, suite, n_buckets=8, ledger=ledger, extract_violation_rows=False)
    snap = res0.metrics["stats_snapshot"]
    assert snap and snap == ledger.snapshot_id("bucket_stats")

    # same distribution, later data, its own run ledger -> passes
    # against the baseline store's snapshot
    same = generate_tokens(spark, 20000, seed=11, plant_violations=False)
    res1 = validate(
        same, suite, n_buckets=8,
        ledger=TableStore(spark, str(tmp_path / "run2")),
        baseline_store=ledger, baseline_snapshot_id=snap,
        extract_violation_rows=False,
    )
    glob = {
        r.constraint_id: r.passed
        for r in res1.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert glob["drift_ks(n_tok)"] and glob["drift_psi(n_tok)"]

    # location-shifted n_tok -> fails against the same snapshot
    shifted = generate_tokens(spark, 20000, seed=13, plant_violations=False).withColumn(
        "n_tok", (F.col("n_tok") + F.lit(600)).cast("int")
    )
    res2 = validate(
        shifted, suite, n_buckets=8,
        ledger=TableStore(spark, str(tmp_path / "run3")),
        baseline_snapshot_id=None, baseline_hist=None, extract_violation_rows=False,
    )
    # without a baseline the shifted run self-compares and passes...
    glob2 = {
        r.constraint_id: r.passed
        for r in res2.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert glob2["drift_ks(n_tok)"]
    # ...but against the baseline snapshot it must fail
    res3 = validate(
        shifted, suite, n_buckets=8,
        ledger=TableStore(spark, str(tmp_path / "run4")),
        baseline_store=ledger, baseline_snapshot_id=snap,
        extract_violation_rows=False,
    )
    glob3 = {
        r.constraint_id: r.passed
        for r in res3.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()
    }
    assert not glob3["drift_ks(n_tok)"]
    assert not glob3["drift_psi(n_tok)"]


# ---------------------------------------------------------------------------
# grouped_drift: per-group KS/PSI localization (round 5)


def test_grouped_drift_matches_evaluate_drift(spark):
    """The in-plan folds must agree with the driver-side reference
    math (evaluate_drift) group by group, including pass booleans."""
    import random

    from kglids_spark.operators import drift as D

    rng = random.Random(7)
    rows = []
    for i in range(3000):
        g = ("a", "b", "c")[i % 3]
        v = rng.uniform(0, 80) if g != "c" else rng.uniform(40, 160)
        rows.append((g, v))
    df = spark.createDataFrame(rows, "grp string, value double")
    spec = D.HistSpec("value", lo=0.0, hi=100.0, nbins=10)
    base = [int(v) for v in D.histogram_df(df, spec).collect()[0]["hist"]]

    got = {
        r.grp: r for r in D.grouped_drift(df, spec, base, "grp").collect()
    }
    per_group = {
        r.grp: list(r.hist)
        for r in D.histogram_df(df, spec, group_cols=["grp"]).collect()
    }
    for g, hist in per_group.items():
        want = D.evaluate_drift(hist, base)
        assert abs(got[g].ks - want["ks"]) < 1e-9, g
        assert abs(got[g].psi - want["psi"]) < 1e-9, g
        assert got[g].ks_pass == want["ks_pass"]
        assert got[g].psi_pass == want["psi_pass"]
        assert got[g].n_rows == sum(hist)
    # the drifted group diverges hardest from the global mixture (which
    # itself contains c's shifted mass, so a and b diverge some too)
    assert got["c"].ks > got["a"].ks and got["c"].ks > got["b"].ks


def test_grouped_drift_null_group_and_empty_group(spark):
    from kglids_spark.operators import drift as D

    df = spark.createDataFrame(
        [("a", 5.0), (None, 6.0), ("b", None)],
        "grp string, value double",
    )
    spec = D.HistSpec("value", lo=0.0, hi=10.0, nbins=5)
    base = [0, 1, 1, 0, 0, 0, 0]
    out = {r.grp: r for r in D.grouped_drift(df, spec, base, "grp").collect()}
    assert set(out) == {"a", None, "b"}
    # group b has only a NULL value -> zero in-range rows -> the
    # n==0 convention: ks = psi = 0.0, passes
    assert out["b"].n_rows == 0 and out["b"].ks == 0.0 and out["b"].psi == 0.0
    assert out["b"].ks_pass and out["b"].psi_pass


def test_grouped_drift_baseline_validation(spark):
    import pytest as _pt

    from kglids_spark.operators import drift as D

    df = spark.createDataFrame([("a", 1.0)], "grp string, value double")
    spec = D.HistSpec("value", lo=0.0, hi=10.0, nbins=5)
    with _pt.raises(ValueError, match="cells"):
        D.grouped_drift(df, spec, [1, 2, 3], "grp")
    with _pt.raises(ValueError, match="empty"):
        D.grouped_drift(df, spec, [0] * spec.n_cells, "grp")


def test_token_histogram_cells_exact(spark):
    """Exact cell layout on hand-placed ids: negatives underflow to
    cell 0, >= vocab overflows to nbins+1, in-range ids land on
    floor(id * nbins / vocab) + 1; NULL elements and NULL arrays
    contribute nothing."""
    from kglids_spark.operators import drift as D

    rows = [
        (1, [-3, 0, 9, 10, 99, 100, None]),  # vocab 100, nbins 10
        (2, None),
        (3, [55, 55, 55]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    got = {
        r["cell"]: r["n"]
        for r in D.token_histogram_df(df, vocab_size=100, nbins=10).collect()
    }
    # -3 -> 0; 0,9 -> 1; 10 -> 2; 99 -> 10; 100 -> 11; 55×3 -> 6
    assert got == {0: 1, 1: 2, 2: 1, 10: 1, 11: 1, 6: 3}


def test_token_distribution_drift_flags_vocab_shift(spark):
    """A vocabulary remap (every id shifted into the upper half) must
    fail PSI/KS against the original distribution; the original
    against itself must pass with zero statistics."""
    from kglids_spark.operators import drift as D

    base_df = spark.createDataFrame(
        [(i, [i % 50]) for i in range(400)], "doc_id long, tokens array<long>"
    )
    base_cells = [0] * 12
    for r in D.token_histogram_df(base_df, vocab_size=100, nbins=10).collect():
        base_cells[int(r["cell"])] = int(r["n"])
    same = D.token_distribution_drift(base_df, base_cells, vocab_size=100, nbins=10)
    assert same["ks"] == 0.0 and same["psi"] == 0.0
    assert same["ks_pass"] and same["psi_pass"]
    shifted = base_df.select(
        "doc_id",
        __import__("pyspark.sql.functions", fromlist=["F"]).transform(
            "tokens", lambda x: x + 50
        ).alias("tokens"),
    )
    out = D.token_distribution_drift(shifted, base_cells, vocab_size=100, nbins=10)
    assert not out["ks_pass"] and not out["psi_pass"]
    assert sum(out["cells"]) == 400


def test_token_distribution_drift_baseline_validation(spark):
    import pytest as _pt

    from kglids_spark.operators import drift as D

    df = spark.createDataFrame([(1, [1])], "doc_id long, tokens array<long>")
    with _pt.raises(ValueError, match="cells"):
        D.token_distribution_drift(df, [0] * 13, vocab_size=100, nbins=10)


def test_cli_token_drift(spark, tmp_path, capsys):
    """CLI gate: shifted token ids vs the original table drift (exit 2
    under --fail-on-drift); the table against itself passes (exit 0)."""
    from pyspark.sql import functions as F

    from kglids_spark.cli import main

    base = spark.createDataFrame(
        [(i, [i % 50]) for i in range(400)], "doc_id long, tokens array<long>"
    )
    bp, sp = str(tmp_path / "base"), str(tmp_path / "shift")
    base.write.parquet(bp)
    base.select(
        "doc_id", F.transform("tokens", lambda x: x + 50).alias("tokens")
    ).write.parquet(sp)

    rc = main([
        "token-drift", "--input", bp, "--baseline", bp,
        "--vocab-size", "100", "--nbins", "10", "--fail-on-drift",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ks"] == 0.0 and out["psi"] == 0.0

    rc = main([
        "token-drift", "--input", sp, "--baseline", bp,
        "--vocab-size", "100", "--nbins", "10", "--fail-on-drift",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and not out["ks_pass"] and not out["psi_pass"]
    assert out["cells"] != out["baseline_cells"]
    assert sum(out["cells"]) == sum(out["baseline_cells"]) == 400


def test_grouped_token_drift_localizes_feed(spark):
    """One verdict row per feed; the feed whose ids are remapped fails
    while untouched feeds pass, and each group's stats equal the
    GLOBAL token operator run on that group alone."""
    rows = []
    for i in range(2000):
        rows.append((i, "clean_a", [int((i * 37 + j) % 50257) for j in range(8)]))
        rows.append((i + 10000, "clean_b", [int((i * 61 + j) % 50257) for j in range(8)]))
        # remapped feed: ids collapsed into the low range
        rows.append((i + 20000, "bad", [int(((i * 37 + j) % 50257) / 64) for j in range(8)]))
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
    base_src = df.filter(F.col("source") == "clean_a")
    cells = {int(r.cell): int(r.n) for r in D.token_histogram_df(base_src).collect()}
    baseline = [cells.get(i, 0) for i in range(66)]

    got = {
        r.source: r
        for r in D.grouped_token_drift(df, baseline, "source").collect()
    }
    assert set(got) == {"clean_a", "clean_b", "bad"}
    assert got["clean_a"].ks_pass and got["clean_a"].psi_pass
    assert not (got["bad"].ks_pass and got["bad"].psi_pass)
    assert got["clean_a"].n_tokens == 16000
    # per-group stats equal the global operator on the group alone
    for src in ("clean_a", "clean_b", "bad"):
        sub = df.filter(F.col("source") == src)
        want = D.token_distribution_drift(sub, baseline)
        assert got[src].ks == pytest.approx(want["ks"], abs=1e-12), src
        assert got[src].psi == pytest.approx(want["psi"], abs=1e-12), src


def test_grouped_token_drift_validation_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a", [1, 2]), (2, "b", None)],
        "doc_id long, source string, tokens array<int>",
    )
    with pytest.raises(ValueError, match="cells"):
        D.grouped_token_drift(df, [0] * 200, "source")
    got = {r.source: r for r in D.grouped_token_drift(df, [1, 1], "source", nbins=0).collect()}
    # a feed with only NULL arrays contributes no token evidence
    assert "b" not in got and got["a"].n_tokens == 2


def test_cli_token_drift_by_feed(spark, tmp_path):
    """token-drift --by source: the remapped feed appears in the
    failing map, clean feeds do not, and the gate trips on any
    failing feed."""
    import json as J
    import subprocess
    import sys

    base = spark.createDataFrame(
        [(i, "a", [int((i * 37 + j) % 50257) for j in range(8)]) for i in range(1500)],
        "doc_id long, source string, tokens array<int>",
    )
    cur = base.unionByName(
        spark.createDataFrame(
            [
                (i + 50000, "bad", [int(((i * 37 + j) % 50257) / 64) for j in range(8)])
                for i in range(1500)
            ],
            "doc_id long, source string, tokens array<int>",
        )
    )
    bdir, cdir = str(tmp_path / "base"), str(tmp_path / "cur")
    base.write.mode("overwrite").parquet(bdir)
    cur.write.mode("overwrite").parquet(cdir)

    r = subprocess.run(
        [sys.executable, "-m", "kglids_spark.cli", "token-drift",
         "--input", cdir, "--baseline", bdir, "--by", "source",
         "--fail-on-drift", "--cpus", "4"],
        capture_output=True, text=True,
    )
    out = J.loads(r.stdout.strip().splitlines()[-1])
    g = out["group"]
    assert g["groups_total"] == 2
    failing = [f["group"] for f in g["failing"]]
    assert "bad" in failing and "a" not in failing
    assert r.returncode == 2  # the failing feed trips the gate


def test_token_drift_monitor_stream_grouped(spark, tmp_path):
    """group_col mode: one verdict row per (epoch, feed); the remapped
    feed fails, the clean feed passes, stats equal the batch grouped
    operator."""
    from kglids_spark.streaming.incremental import token_drift_monitor_stream

    rows = []
    for i in range(1500):
        rows.append((str(i), [int((i * 37 + j) % 50257) for j in range(8)], 8, "a"))
        rows.append(
            (str(i + 50000), [int(((i * 37 + j) % 50257) / 64) for j in range(8)], 8, "bad")
        )
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    cells = {int(r.cell): int(r.n) for r in D.token_histogram_df(df.filter(F.col("source") == "a")).collect()}
    baseline = [cells.get(i, 0) for i in range(66)]

    src = str(tmp_path / "gtd_in")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "gtd_out")
    q = token_drift_monitor_stream(
        spark, src, baseline, out,
        checkpoint_dir=str(tmp_path / "gtd_ckpt"),
        group_col="source",
    )
    q.awaitTermination(300)
    got = {r.source: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"a", "bad"}
    assert got["a"].ks_pass and not (got["bad"].ks_pass and got["bad"].psi_pass)
    want = {r.source: r for r in D.grouped_token_drift(df, baseline, "source").collect()}
    for s in ("a", "bad"):
        assert got[s].ks == pytest.approx(want[s].ks, abs=1e-12)
        assert got[s].n_tokens == want[s].n_tokens


def test_equidepth_drift_sensitivity_and_edges(spark):
    """Equi-depth drift: identical distributions read ~0; a pure tail
    shift that the equi-width spec shoves into one overflow bucket
    moves multiple equal-mass cells; edge/bin bookkeeping is exact."""
    import random

    rng = random.Random(3)
    base_vals = [rng.lognormvariate(5.0, 1.0) for _ in range(4000)]
    base = spark.createDataFrame([(v,) for v in base_vals], "value double")

    edges = D.equidepth_edges(base, "value", nbins=8)
    assert len(edges) == 7 and edges == sorted(edges)
    h = D.equidepth_histogram(base, "value", edges)
    assert sum(h) == 4000
    # equal mass: every cell holds ~1/8 of the baseline
    assert all(abs(c - 500) <= 10 for c in h)

    same = spark.createDataFrame(
        [(v,) for v in [rng.lognormvariate(5.0, 1.0) for _ in range(4000)]],
        "value double",
    )
    clean = D.equidepth_drift(same, base, "value", nbins=8)
    assert clean["ks_pass"] and clean["psi_pass"]

    # location shift: fails on the equal-mass binning
    shifted = base.select((F.col("value") * 1.8).alias("value"))
    bad = D.equidepth_drift(shifted, base, "value", nbins=8)
    assert not (bad["ks_pass"] and bad["psi_pass"])
    assert bad["ks"] > clean["ks"] and bad["psi"] > clean["psi"]

    with pytest.raises(ValueError, match="nbins"):
        D.equidepth_edges(base, "value", nbins=1)
    nulls = spark.createDataFrame([(None,)], "value double")
    with pytest.raises(ValueError, match="no non-null"):
        D.equidepth_edges(nulls, "value")


def test_equidepth_edges_dedupe_discrete(spark):
    """A column with most mass on one value repeats quantiles; edges
    deduplicate so no structurally-empty cell survives, and KS/PSI are
    unchanged by the dedup (empty cells were invisible to both)."""
    vals = [5.0] * 900 + [float(v) for v in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    edges = D.equidepth_edges(df, "value", nbins=8)
    assert edges == sorted(set(edges))  # strictly increasing
    h = D.equidepth_histogram(df, "value", edges)
    assert sum(h) == 1000
    # NULLs are excluded from the histogram (engine semantics the
    # oracle mirrors with an IS NOT NULL filter)
    withnull = df.unionByName(
        spark.createDataFrame([(None,)], "value double")
    )
    assert sum(D.equidepth_histogram(withnull, "value", edges)) == 1000


def test_chi2_math():
    # identical distributions (scaled): chi2 = 0
    assert D.chi2_statistic([10, 20, 30], [100, 200, 300]) == pytest.approx(0.0)
    # hand-computed: actual [8, 2] vs baseline [5, 5] (n1=10, q=0.5):
    #   e = [5, 5]; chi2 = 9/5 + 9/5 = 3.6
    assert D.chi2_statistic([8, 2], [5, 5]) == pytest.approx(3.6)
    # baseline-empty cell excluded from the SUM (textbook rule), but
    # its actual mass still counts in n1 — expected counts become
    # 17*0.5 = 8.5 each: (8-8.5)^2/8.5 + (2-8.5)^2/8.5 = 5.0 (mass
    # appearing where the baseline had none still shifts the fit)
    assert D.chi2_statistic([8, 2, 7], [5, 5, 0]) == pytest.approx(5.0)
    # empty-side convention
    assert D.chi2_statistic([0, 0], [5, 5]) == 0.0
    assert D.chi2_statistic([5, 5], [0, 0]) == 0.0


def test_histspec_rejects_degenerate_range():
    """A spec whose bins cannot partition a finite, non-empty range
    fails at construction, not as a divide-by-zero inside a job."""
    for kw in (
        {"lo": 1.0, "hi": 1.0},
        {"lo": 2.0, "hi": 1.0},
        {"lo": 0.0, "hi": 10.0, "nbins": 0},
        {"lo": float("-inf"), "hi": 1.0},
        {"lo": 0.0, "hi": float("inf")},
        {"lo": float("nan"), "hi": 1.0},
    ):
        with pytest.raises(ValueError, match="HistSpec"):
            D.HistSpec("v", **kw)
    assert D.HistSpec("v", lo=-1.0, hi=1.0, nbins=1).n_cells == 3


def test_group_drift_summary_null_group_is_json_null(spark):
    """Failing groups are a PSI-ordered list carrying each group value
    JSON-native: the NULL group is null and stays distinct from a real
    "None" group."""
    from kglids_spark.cli import _group_drift_summary

    gd = spark.createDataFrame(
        [(None, 5, 0.5, 0.9, False, False), ("None", 5, 0.4, 0.3, False, False),
         ("ok", 5, 0.0, 0.0, True, True)],
        "source string, n_rows long, ks double, psi double, ks_pass boolean, psi_pass boolean",
    )
    out = json.loads(json.dumps(_group_drift_summary(gd, "source", 5, ["n_rows", "psi"])))
    assert out["groups_total"] == 3 and out["groups_failed"] == 2
    assert out["failing"] == [
        {"group": None, "n_rows": 5, "psi": 0.9},
        {"group": "None", "n_rows": 5, "psi": 0.3},
    ]
