"""Property-based tests (hypothesis) for the pure-Python engine parts:
bloom filter no-false-negatives, KS/PSI/JSD/EMD drift math, histogram
merge, AST abstraction resolution, and the compliance boundary rule.
Mostly driver-side (no SparkSession, fast shrinking); the round-5
information/truncation laws and the KLL union law run tiny random
inputs through the real operators against pure-Python references
(session-scoped spark fixture).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kglids_spark.operators.constraints import BloomFilter
from kglids_spark.operators.drift import ks_statistic, merge_histograms, psi
from kglids_spark.operators.pipelines import abstract_pipeline

@settings(max_examples=30, deadline=None)
@given(st.sets(st.integers(min_value=-(2**62), max_value=2**62), max_size=500))
def test_bloom_no_false_negatives(hashes):
    bf = BloomFilter(n_items=max(len(hashes), 1), fpp=0.01)
    for h in hashes:
        bf.add_hash(h)
    assert all(bf.might_contain(h) for h in hashes)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=64))
def test_drift_identity_and_symmetry(hist):
    if sum(hist) == 0:
        hist = [h + 1 for h in hist]
    assert ks_statistic(hist, hist) == 0.0
    assert psi(hist, hist) == 0.0
    other = list(reversed(hist))
    assert abs(ks_statistic(hist, other) - ks_statistic(other, hist)) < 1e-12
    assert 0.0 <= ks_statistic(hist, other) <= 1.0
    assert psi(hist, other) >= 0.0


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=1000), min_size=3, max_size=3),
        min_size=1,
        max_size=6,
    )
)
def test_histogram_merge_is_elementwise_sum(hists):
    merged = merge_histograms(hists)
    assert merged == [sum(h[i] for h in hists) for i in range(3)]


import keyword

# exclude ALL Python keywords, not a hand-picked subset — hypothesis
# found `or` as an alias, producing unparseable `import a.a as or`
_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: not keyword.iskeyword(s)
)


@settings(max_examples=50, deadline=None)
@given(_ident, _ident, _ident, _ident)
def test_abstraction_alias_resolution(pkg, mod, fn, alias):
    src = f"import {pkg}.{mod} as {alias}\n{alias}.{fn}()\n"
    rows = abstract_pipeline("t", src)
    assert len(rows) == 1
    assert rows[0].call_path == f"{pkg}.{mod}.{fn}"
    assert rows[0].library == pkg
    assert rows[0].call_name == fn


@settings(max_examples=50, deadline=None)
@given(_ident, _ident, st.integers(min_value=0, max_value=99))
def test_abstraction_literal_params_roundtrip(pkg, fn, val):
    src = f"import {pkg}\n{pkg}.{fn}(x={val}, y='{val}')\n"
    rows = abstract_pipeline("t", src)
    assert rows[0].params == {"x": repr(val), "y": repr(str(val))}


# ---------------------------------------------------------------------------
# Misra-Gries candidate superset (operators/frequency.py): any item with
# global frequency > n/(k+1) MUST appear in the union of per-partition
# summaries — the guarantee heavy_hitters' exact second pass relies on.


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=400),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=20),
)
def test_misra_gries_candidates_are_a_superset(partitions, k):
    import pandas as pd

    from kglids_spark.operators.frequency import _mg_map_fn

    fn = _mg_map_fn("item", k)
    candidates: set = set()
    total = 0
    for part in partitions:
        total += len(part)
        # feed each partition as two pandas batches to exercise the
        # cross-batch counter merge + decrement path
        half = len(part) // 2
        batches = [pd.DataFrame({"item": part[:half]}), pd.DataFrame({"item": part[half:]})]
        for out in fn(iter(batches)):
            candidates |= {i for i in out["item"] if i is not None}
    from collections import Counter

    counts = Counter(i for part in partitions for i in part)
    threshold = total / (k + 1)
    missed = {i for i, c in counts.items() if c > threshold} - candidates
    assert not missed, (missed, threshold, dict(counts))


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=400),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=20),
)
def test_misra_gries_sentinel_totals_are_exact(partitions, k):
    import pandas as pd

    from kglids_spark.operators.frequency import _mg_map_fn

    fn = _mg_map_fn("item", k)
    total_from_sentinels = 0
    for part in partitions:
        out = list(fn(iter([pd.DataFrame({"item": part})])))[0]
        total_from_sentinels += int(
            out.loc[out["item"].isna(), "mg_count"].sum()
        )
    assert total_from_sentinels == sum(len(p) for p in partitions)


# ---------------------------------------------------------------------
# round 4: BPE greedy-encode losslessness + vocab law; offset law
# ---------------------------------------------------------------------

from kglids_spark.operators.tokenizer import EOW, UNK, bpe_vocab, encode_word
from kglids_spark.plans.offsets import exclusive_offsets

_sym = st.text(alphabet="abcd", min_size=1, max_size=3)


@settings(max_examples=60, deadline=None)
@given(
    st.text(alphabet="abcd", min_size=1, max_size=12),
    st.lists(st.tuples(_sym, _sym), max_size=20),
)
def test_encode_word_lossless_under_any_merge_table(word, merges):
    """Greedy BPE must be lossless for EVERY merge table, not just
    learned ones: the concatenated symbols reproduce word+EOW."""
    ranks = {m: i for i, m in enumerate(dict.fromkeys(merges))}
    syms = encode_word(word, ranks)
    assert "".join(syms) == word + EOW


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(_sym, _sym), max_size=25))
def test_bpe_vocab_laws(merges):
    vocab = bpe_vocab(merges, alphabet=list("abcd"))
    assert vocab[UNK] == 0
    # ids are dense 0..len-1 and unique
    assert sorted(vocab.values()) == list(range(len(vocab)))
    # every alphabet symbol + EOW resolvable
    for s in list("abcd") + [EOW]:
        assert s in vocab
    # every merge product resolvable (encode never hits unk for
    # alphabet-only words under this vocab)
    for a, b in merges:
        assert a + b in vocab


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=10**6),
        st.integers(min_value=0, max_value=10**9),
        max_size=200,
    )
)
def test_exclusive_offsets_law(counts):
    pairs = list(counts.items())
    out = exclusive_offsets(pairs)
    assert [b for b, _ in out] == sorted(counts)
    running = 0
    for b, off in out:
        assert off == running
        running += counts[b]


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-30000, max_value=30000), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=1000),
)
def test_audio_fingerprint_gain_invariance(samples, gain):
    """Positive gain is a monotone transform of every window-energy
    inequality, so the fingerprint never moves; and the value always
    fits a signed 64-bit long."""
    from kglids_spark.functions.media_codecs import audio_fingerprint64

    s = np.array(samples, dtype=np.int64)
    h = audio_fingerprint64(s)
    assert -(1 << 63) <= h < (1 << 63)
    assert audio_fingerprint64(s * gain) == h


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=2, max_value=24),
    st.integers(min_value=0, max_value=2**32),
)
def test_dhash_is_resize_stable_on_constant_rows(w, h, seed):
    """An image whose rows are identical keeps its dHash under any
    vertical nearest-neighbour resize: the 9x8 sample grid sees the
    same horizontal gradient signs regardless of row count."""
    from kglids_spark.functions.media_codecs import dhash64

    rng = np.random.default_rng(seed)
    row = rng.integers(0, 256, size=(1, w, 3), dtype=np.uint8)
    img_a = np.repeat(row, h, axis=0)
    img_b = np.repeat(row, max(1, h // 2), axis=0)
    assert dhash64(img_a) == dhash64(img_b)


# ---------------------------------------------------------------------------
# round-5 final additions: information stats, JSD/EMD, compliance boundary


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=64))
def test_jsd_bounds_symmetry_identity(hist):
    import math

    from kglids_spark.operators import drift as D

    other = list(reversed(hist))
    j = D.js_divergence(hist, other)
    assert 0.0 <= j <= math.log(2) + 1e-12
    assert j == pytest.approx(D.js_divergence(other, hist), abs=1e-12)
    assert D.js_divergence(hist, hist) == pytest.approx(0.0, abs=1e-12)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=64),
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=2, max_size=64),
)
def test_emd_metric_properties(h1, h2):
    from kglids_spark.operators import drift as D

    n = min(len(h1), len(h2))
    h1, h2 = h1[:n], h2[:n]
    e = D.emd_statistic(h1, h2)
    assert e >= 0.0
    assert e == pytest.approx(D.emd_statistic(h2, h1), abs=1e-9)
    assert D.emd_statistic(h1, h1) == pytest.approx(0.0, abs=1e-12)
    # EMD is bounded by the support length (max transport distance)
    if sum(h1) and sum(h2):
        assert e <= n


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=10**7),
    st.integers(min_value=0, max_value=10**7),
    st.sampled_from([0.0, 0.2, 0.5, 0.8, 0.9, 0.95, 0.99, 0.999, 1.0]),
)
def test_compliance_fraction_matches_exact_rational(n, nv, ratio):
    """The engine's compliance verdict (constraints.compliance_passed,
    which validate() and the streaming monitor call) equals exact
    rational arithmetic against the DECIMAL reading of the ratio for
    every (n, nv) — including the boundary cases the float form gets
    wrong."""
    from fractions import Fraction

    from kglids_spark.operators import constraints as C

    nv = min(nv, n)
    c = C.compliance("x", ratio, columns=["x"])
    exact = n > 0 and Fraction(n - nv, max(n, 1)) >= Fraction(str(ratio))
    assert C.compliance_passed(c, n, nv) == exact


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
def test_token_information_matches_pure_python(spark, docs):
    """Entropy / cross-entropy / KL from the distributed operator equal
    an independent pure-Python computation over random corpora."""
    import math
    from collections import Counter

    from kglids_spark.operators import frequency as FR

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<long>")
    got = {r.doc_id: r for r in FR.token_information_scores(df).collect()}

    corpus = Counter()
    for d in docs:
        corpus.update(d)
    N = sum(corpus.values())
    for i, d in enumerate(docs):
        r = got[i]
        if not d:
            assert r.n_tok == 0 and r.entropy is None
            continue
        c = Counter(d)
        n = len(d)
        h = -sum((v / n) * math.log(v / n) for v in c.values())
        ce = -sum(v * math.log(corpus[t] / N) for t, v in c.items()) / n
        assert r.n_tok == n
        assert r.entropy == pytest.approx(h, abs=1e-9)
        assert r.cross_entropy == pytest.approx(ce, abs=1e-9)
        assert r.kl == pytest.approx(ce - h, abs=1e-9)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.integers(min_value=0, max_value=5000)), min_size=0, max_size=50),
    st.lists(st.integers(min_value=1, max_value=64), min_size=1, max_size=4),
)
def test_truncation_stats_matches_pure_python(spark, lens, seq_lens):
    import math

    from kglids_spark.operators.packing import truncation_stats

    df = spark.createDataFrame([(v,) for v in lens], "n_tok long")
    rows = {r.seq_len: r for r in truncation_stats(df, seq_lens).collect()}
    vals = [v for v in lens if v is not None]
    for L in set(seq_lens):
        r = rows[L]
        assert r.n_docs == len(vals)
        assert r.total_tokens == sum(vals)
        assert r.docs_truncated == sum(1 for v in vals if v > L)
        assert r.tokens_kept_truncate == sum(min(v, L) for v in vals)
        assert r.n_chunks == sum(math.ceil(v / L) for v in vals)


# DataSketches' single-query normalized rank error at the native k=200
KLL_EPS = 0.0133


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=0, max_value=6000),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.randoms(use_true_random=False),
)
def test_kll_union_is_order_free_and_rank_bounded(spark, n, n_buckets, seed, rnd):
    """validate's driver-side union of native per-bucket KLL sketches:
    the same quantiles under any permutation of the blobs, each within
    eps*n rank of the exact inclusive quantile. NULLs are skipped, an
    all-NULL bucket contributes the empty sketch form, and a one-value
    bucket the single-item form."""
    import math

    from pyspark.sql import functions as F

    from kglids_spark.operators.validate import _kll_union_quantiles

    rng = np.random.default_rng(seed)
    vals = np.round(rng.lognormal(6.0, 1.0, n))  # n_tok-like, with ties
    buckets = rng.integers(0, n_buckets, n)
    rows = [(int(b), float(v) if i % 17 else None) for i, (b, v) in enumerate(zip(buckets, vals))]
    rows += [(n_buckets, None), (n_buckets + 1, 42.0)]
    df = spark.createDataFrame(rows, "b int, v double")
    blobs = [
        bytes(r.s)
        for r in df.groupBy("b").agg(F.kll_sketch_agg_double("v").alias("s")).collect()
    ]
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    got = _kll_union_quantiles(blobs, qs)
    rnd.shuffle(blobs)
    assert _kll_union_quantiles(blobs, qs) == got

    data = np.sort([v for _, v in rows if v is not None])
    slack = KLL_EPS * len(data)
    for q, est in zip(qs, got):
        target = math.ceil(q * len(data))
        lo = np.searchsorted(data, est, side="left")
        hi = np.searchsorted(data, est, side="right")
        assert lo - slack <= target <= hi + slack


# ---------------------------------------------------------------------------
# equi-width histogram: one cell index per row == the indicator semantics


@settings(max_examples=12, deadline=None)
@given(
    st.floats(min_value=-1e6, max_value=1e6),
    st.floats(min_value=1e-3, max_value=1e3),
    st.integers(min_value=1, max_value=70),
    st.lists(st.floats(min_value=-2.0, max_value=72.0), max_size=20),
)
def test_histogram_df_matches_indicator_reference(
    spark, indicator_histogram, lo, width, nbins, offsets
):
    """histogram_df equals the pure-Python indicator reference cell
    for cell on every edge and one ulp either side of it, NaN, ±inf,
    NULL and a few interior values — globally and per group (with a
    NULL group among them)."""
    import math

    from kglids_spark.operators import drift as D

    spec = D.HistSpec("v", lo=lo, hi=lo + width * nbins, nbins=nbins)
    edges = [spec.lo + i * spec.width for i in range(nbins)] + [spec.hi]
    values = [None, math.nan, math.inf, -math.inf]
    for e in edges:
        values += [math.nextafter(e, -math.inf), e, math.nextafter(e, math.inf)]
    values += [lo + o * spec.width for o in offsets]
    groups = ["a", "b", None]
    rows = [(groups[i % 3], v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "g string, v double")

    (glob,) = D.histogram_df(df, spec).collect()
    assert list(glob.hist) == indicator_histogram(values, spec)
    assert glob.n_rows == len(values)
    per_group = {r.g: list(r.hist) for r in D.histogram_df(df, spec, ["g"]).collect()}
    assert per_group == {
        g: indicator_histogram([v for gg, v in rows if gg == g], spec) for g in groups
    }


def test_histogram_df_empty_input_is_one_zero_row(spark):
    from kglids_spark.operators import drift as D

    spec = D.HistSpec("v", lo=0.0, hi=1.0, nbins=4)
    got = D.histogram_df(spark.createDataFrame([], "v double"), spec).collect()
    assert [(list(r.hist), r.n_rows) for r in got] == [([0] * spec.n_cells, 0)]


# ---------------------------------------------------------------------------
# token-ID and equi-depth cells: the cell_counts layouts against references


def _token_cell(i: int, vocab_size: int, nbins: int) -> int:
    if i < 0:
        return 0
    if i >= vocab_size:
        return nbins + 1
    return i * nbins // vocab_size + 1


_token_arrays = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.one_of(st.none(), st.integers(min_value=-3, max_value=1100)), max_size=6),
    ),
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=1, max_value=1000), st.integers(min_value=1, max_value=70), _token_arrays)
def test_token_cells_match_integer_reference(spark, vocab_size, nbins, arrays):
    """token_histogram_df and grouped_token_drift count every non-NULL
    id in cell floor(id*nbins/vocab)+1 (0 below, nbins+1 at or above
    vocab_size); NULL arrays and NULL elements count nowhere, and a
    group without any id has no verdict row."""
    from kglids_spark.operators import drift as D

    groups = ["a", "b", None]
    rows = [(groups[i % 3], arr) for i, arr in enumerate(arrays)]
    df = spark.createDataFrame(rows, "g string, tokens array<long>")

    def ref(arrs):
        cells = [0] * (nbins + 2)
        for arr in arrs:
            for t in arr or []:
                if t is not None:
                    cells[_token_cell(t, vocab_size, nbins)] += 1
        return cells

    glob = ref(arrays)
    got = {r.cell: r.n for r in D.token_histogram_df(df, vocab_size=vocab_size, nbins=nbins).collect()}
    assert got == {c: n for c, n in enumerate(glob) if n}

    base = [n + 1 for n in glob]
    per_group = {
        r.g: r
        for r in D.grouped_token_drift(df, base, "g", vocab_size=vocab_size, nbins=nbins).collect()
    }
    want = {g: ref([a for gg, a in rows if gg == g]) for g in groups}
    assert set(per_group) == {g for g, cells in want.items() if sum(cells)}
    for g, r in per_group.items():
        v = D.evaluate_drift(want[g], base)
        assert r.n_tokens == sum(want[g])
        assert r.ks == pytest.approx(v["ks"], abs=1e-12)
        assert r.psi == pytest.approx(v["psi"], abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.floats(min_value=-100, max_value=100), max_size=6),
    st.lists(st.one_of(st.none(), st.floats(min_value=-120, max_value=120)), max_size=20),
)
def test_equidepth_histogram_matches_bisect_reference(spark, edges, values):
    """equidepth_histogram's bin is bisect_right(edges, v) — the count
    of edges <= v, so a value on an edge goes up — and NULLs count in
    no bin."""
    import bisect

    from kglids_spark.operators import drift as D

    edges = sorted(edges)
    values += [e for e in edges[:2]]
    want = [0] * (len(edges) + 1)
    for v in values:
        if v is not None:
            want[bisect.bisect_right(edges, v)] += 1
    df = spark.createDataFrame([(v,) for v in values], "v double")
    assert D.equidepth_histogram(df, "v", edges) == want
