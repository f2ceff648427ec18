"""Dedup operator semantics: the production (xxhash64) and portable
(md5) hashers must agree on what a duplicate is — exact dups always
fall in the same bucket / signature, distinct texts (almost surely)
don't.

The md5 hasher's value-exactness vs DuckDB is covered by
tests/test_entry.py (dedup_*_md5 oracle queries); these tests pin the
operator-level invariants on hand-built corpora.
"""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import dedup, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "THE  quick   Brown fox jumps over the lazy dog"),  # dup after normalize
        (4, "the quick brown fox jumps over the lazy cat"),  # near dup (1 word)
        (5, "completely different text about spark partition shuffles"),
        (6, "entirely unrelated content concerning database constraint checks"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates_normalized(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [1, 2, 3]


def _pairs(df):
    return {(r["id1"], r["id2"]) for r in df.collect()}


def test_minhash_md5_matches_production_on_dups(docs):
    prod = _pairs(dedup.minhash_lsh_pairs(docs, threshold=0.99))
    port = _pairs(
        dedup.minhash_lsh_pairs(
            docs, threshold=0.99, hasher="md5", num_perm=8, bands=4
        )
    )
    # exact duplicates have identical shingle sets -> identical signatures
    # under ANY hash function; distinct texts share no full signature
    expected = {(1, 2), (1, 3), (2, 3)}
    assert prod == expected
    assert port == expected


def test_minhash_md5_near_dup_scores(docs):
    pairs = {
        (r["id1"], r["id2"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.0, hasher="md5", num_perm=8, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # the one-word-off near dup shares most shingles: estimate strictly
    # between the unrelated floor and the exact-dup ceiling
    if (1, 4) in pairs:
        assert 0.0 < pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs or pairs[(1, 5)] < 0.5


def test_simhash_md5_exact_dups_hamming_zero(docs):
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=3, hasher="md5").collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0
    assert pairs[(2, 3)] == 0


def test_simhash_production_exact_dups(docs):
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=0).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0


def test_fingerprint_md5_dup_invariance(docs):
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", text.fingerprint_expr("text", hasher="md5").alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2] == fps[3]
    assert fps[1] != fps[5]
    # production fingerprint agrees on the duplicate structure
    fpx = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", text.fingerprint_expr("text").alias("fp")).collect()
    }
    assert fpx[1] == fpx[2] == fpx[3]
    assert fpx[1] != fpx[5]


def test_deterministic_hash_sample_stable_under_repartition(spark):
    df = spark.range(0, 20000).select(F.col("id").cast("string").alias("doc_id"))
    key = F.md5("doc_id")
    s1 = {r["doc_id"] for r in df.filter(key < "20").collect()}
    s2 = {r["doc_id"] for r in df.repartition(17).filter(key < "20").collect()}
    assert s1 == s2
    # ~12.5% expected (0x20/0x100); generous tolerance
    assert 0.10 < len(s1) / 20000 < 0.15


def test_ngram_hashed_twin_lockstep(spark):
    """The production hashed-shingle path (xxhash64 over word columns,
    int64 join keys) must produce the same pairs and jaccard values as
    the string-shingle path that the DuckDB oracle mirrors
    (dedup_ngram_jaccard). They can differ only on 64-bit hash
    collisions (~1e-6 at 10M shingles); on the real test corpus they
    must be identical."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(threshold=0.5, max_shingle_df=10**9)
    want = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(d, hash_shingles=False, **kw).collect()
    }
    got = {
        (r["id1"], r["id2"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(d, hash_shingles=True, **kw).collect()
    }
    assert got == want and len(got) > 0


def test_incremental_minhash_lockstep_vs_pairs(spark):
    """Batch-vs-ledger survivors must equal "batch ids forming no
    cross pair" in the full-corpus minhash_lsh_pairs output — the
    incremental op re-applies the SAME candidate + verify semantics
    across the frame boundary, and the pair op is value-exact-oracled
    via its md5 twin."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prior = d.filter(F.col("doc_id") < 250)
    batch = d.filter(F.col("doc_id") >= 250)
    surv = dedup.incremental_dedup_minhash(
        batch, dedup.minhash_dedup_ledger(prior), threshold=0.5
    )
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.5)
    cross = pairs.filter(
        ((F.col("id1") < 250) & (F.col("id2") >= 250))
        | ((F.col("id1") >= 250) & (F.col("id2") < 250))
    )
    doomed = {
        r[0]
        for r in cross.select(
            F.when(F.col("id1") >= 250, F.col("id1")).otherwise(F.col("id2"))
        ).collect()
    }
    assert len(doomed) > 0  # the fixture really has cross-split near-dups
    want = {r[0] for r in batch.select("doc_id").collect()} - doomed
    got = {r[0] for r in surv.select("doc_id").collect()}
    assert got == want


def test_incremental_minhash_null_text_and_no_ledger(spark):
    """NULL/empty text carries no signature and survives (the
    incremental_dedup_exact convention); a None ledger is a
    passthrough; an exact duplicate of a ledger doc is doomed."""
    prior = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "completely different words about other things entirely"),
            (12, None),
            (13, ""),
        ],
        "doc_id long, text string",
    )
    assert dedup.incremental_dedup_minhash(batch, None).count() == 4
    got = {
        r["doc_id"]
        for r in dedup.incremental_dedup_minhash(
            batch, dedup.minhash_dedup_ledger(prior), threshold=0.5
        ).collect()
    }
    assert got == {11, 12, 13}


def test_containment_finds_planted_subset(spark):
    """A short doc embedded verbatim in a long doc scores containment
    1.0 while its Jaccard is diluted far below any useful threshold —
    the signal this operator exists for."""
    core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"filler{i}" for i in range(60))
    rows = [(1, core), (2, f"intro words {core} {filler}")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.ngram_containment_pairs(
        d, threshold=0.9, max_shingle_df=10**9
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id1"], r["id2"]) == (1, 2) and r["containment"] == 1.0
    # the contained side is identifiable as the smaller shingle count
    assert r["n1"] < r["n2"]
    # and Jaccard at the same corpus misses it entirely at 0.5
    assert (
        dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_df=10**9).count()
        == 0
    )


def test_containment_hashed_twin_lockstep(spark):
    """xxhash64 production shingles vs the string shingles the DuckDB
    oracle mirrors (dedup_ngram_containment) — identical pairs, scores
    and denominators barring 64-bit collisions."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(threshold=0.8, max_shingle_df=10**9)
    want = {
        (r["id1"], r["id2"]): (round(r["containment"], 9), r["n1"], r["n2"])
        for r in dedup.ngram_containment_pairs(d, hash_shingles=False, **kw).collect()
    }
    got = {
        (r["id1"], r["id2"]): (round(r["containment"], 9), r["n1"], r["n2"])
        for r in dedup.ngram_containment_pairs(d, hash_shingles=True, **kw).collect()
    }
    assert got == want and len(got) > 0


def test_containment_respects_hot_cap(spark):
    """Containment scores over the RARE shingle universe exactly like
    the Jaccard path: hot shingles vote for no pair and shrink both
    denominators."""
    rows = [(i, "common prefix words here tail%d" % i) for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.ngram_containment_pairs(
            d, threshold=0.2, max_shingle_df=4
        ).collect()
    }
    assert all(not (a < 8 and b < 8) for a, b in pairs)
    assert (100, 101) in pairs


def test_ngram_hot_shingle_cap_still_prunes(spark):
    """The broadcast anti-join rewrite must preserve the df-cap
    semantics: shingles in > max_shingle_df docs carry no votes."""
    rows = [(i, "common prefix words here tail%d" % i) for i in range(8)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = _pairs(
        dedup.ngram_jaccard_pairs(d, threshold=0.2, max_shingle_df=4)
    )
    # 'common prefix words'-family shingles appear in 8 docs > cap=4 ->
    # pruned; docs 0-7 share nothing else, so no pair among them
    assert all(not (a < 8 and b < 8) for a, b in pairs)
    assert (100, 101) in pairs


# ---------------------------------------------------------------------
# round 4: exact duplicate spans (substring-level dedup)
# ---------------------------------------------------------------------

SPAN_TEXTS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "a different opening but the quick brown fox jumps too"),
    ("c", "short doc"),
    ("d", "the quick brown fox jumps again and the quick brown fox jumps"),
]


def _ref_spans(texts, w=5, min_count=2):
    import re
    from collections import Counter

    grams = []
    for did, t in texts:
        ws = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        if len(ws) < w:
            continue
        for i in range(len(ws) - w + 1):
            grams.append((did, i, " ".join(ws[i : i + w])))
    counts = Counter(g for _, _, g in grams)
    return {
        (did, i, g, counts[g]) for did, i, g in grams if counts[g] >= min_count
    }


def test_duplicate_spans_matches_reference(spark):
    df = spark.createDataFrame(SPAN_TEXTS, "doc_id string, text string")
    got = {
        (r.doc_id, r.pos, r.span, r.n_occurrences)
        for r in dedup.duplicate_spans(df, window=5, hash_spans=False).collect()
    }
    want = _ref_spans(SPAN_TEXTS)
    assert got == want
    # sanity: 'the quick brown fox jumps' occurs at a:0, b:5, d:0, d:7
    assert ("d", 7, "the quick brown fox jumps", 4) in got


def test_duplicate_spans_hashed_twin_lockstep(spark):
    df = spark.createDataFrame(SPAN_TEXTS, "doc_id string, text string")
    s = dedup.duplicate_spans(df, window=5, hash_spans=False)
    h = dedup.duplicate_spans(df, window=5, hash_spans=True)
    a = {(r.doc_id, r.pos, r.n_occurrences) for r in s.collect()}
    b = {(r.doc_id, r.pos, r.n_occurrences) for r in h.collect()}
    assert a == b


def test_duplicate_spans_short_docs_and_min_count(spark):
    df = spark.createDataFrame(SPAN_TEXTS, "doc_id string, text string")
    # window longer than every doc -> nothing
    assert dedup.duplicate_spans(df, window=50).count() == 0
    # min_count=1 returns EVERY span occurrence
    all_spans = dedup.duplicate_spans(df, window=5, min_count=1, hash_spans=False)
    n_words = [len(t.split()) for _, t in SPAN_TEXTS if len(t.split()) >= 5]
    assert all_spans.count() == sum(n - 4 for n in n_words)


def test_dup_span_fraction(spark):
    df = spark.createDataFrame(SPAN_TEXTS, "doc_id string, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_fraction)
        for r in dedup.dup_span_fraction(df, window=5, hash_spans=False).collect()
    }
    ref = _ref_spans(SPAN_TEXTS)
    from collections import Counter
    per = Counter(d for d, _, _, _ in ref)
    for did, t in SPAN_TEXTS:
        n = max(len(t.split()) - 4, 0)
        nd = per.get(did, 0)
        want = (n, nd, (nd / n) if n else 0.0)
        assert got[did] == want, (did, got[did], want)
    # doc 'c' is shorter than the window: zero spans, fraction 0.0
    assert got["c"] == (0, 0, 0.0)


def _ref_span_removal(texts, w=5, min_count=2):
    """Independent pure-python replay of keep-first-occurrence span
    removal: keeper = min (doc_id, pos) per duplicated span; every
    other occurrence's w words are cut."""
    import re
    from collections import Counter, defaultdict

    words, grams = {}, []
    for did, t in texts:
        if t is None:
            words[did] = None
            continue
        ws = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        words[did] = ws
        for i in range(max(len(ws) - w + 1, 0)):
            grams.append((did, i, " ".join(ws[i : i + w])))
    counts = Counter(g for _, _, g in grams)
    keeper = {}
    for did, i, g in sorted(grams):
        if counts[g] >= min_count and g not in keeper:
            keeper[g] = (did, i)
    starts = defaultdict(list)
    for did, i, g in grams:
        if counts[g] >= min_count and keeper[g] != (did, i):
            starts[did].append(i)
    out = {}
    for did, ws in words.items():
        if ws is None:
            out[did] = ("", None, 0, 0)
            continue
        cut = set()
        for s in starts[did]:
            cut.update(range(s, s + w))
        kept = [x for i, x in enumerate(ws) if i not in cut]
        out[did] = (" ".join(kept), len(ws), len(starts[did]), len(ws) - len(kept))
    return out


def test_remove_duplicate_spans_matches_reference(spark):
    rows = SPAN_TEXTS + [("e", None), ("f", "the quick brown fox jumps")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_words, r.n_removed_spans, r.n_removed_words)
        for r in dedup.remove_duplicate_spans(df, window=5, hash_spans=False).collect()
    }
    assert got == _ref_span_removal(rows)
    # keeper survives untouched; doc f's single occurrence of the
    # 4-way-duplicated span is excised entirely (min doc_id keeps)
    assert got["f"] == ("", 5, 1, 5)


def test_remove_duplicate_spans_hashed_twin_lockstep(spark):
    rows = SPAN_TEXTS + [("e", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    a = {tuple(r) for r in dedup.remove_duplicate_spans(df, hash_spans=False).collect()}
    b = {tuple(r) for r in dedup.remove_duplicate_spans(df, hash_spans=True).collect()}
    assert a == b


def test_remove_duplicate_spans_merges_overlapping_cuts(spark):
    # a doc that is ONE long repetition: overlapping doomed spans must
    # merge so n_removed_words < n_removed_spans * window
    rows = [
        ("a", "alpha beta gamma delta epsilon zeta"),
        ("b", "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_removed_spans, r.n_removed_words)
        for r in dedup.remove_duplicate_spans(df, window=5, hash_spans=False).collect()
    }
    # spans 'alpha..epsilon' (a@0,b@0) and 'beta..zeta' (a@1,b@1):
    # doc b loses both, cuts [0,4] and [1,5] merge into [0,5]
    assert got["a"] == ("alpha beta gamma delta epsilon zeta", 0, 0)
    assert got["b"] == ("eta theta", 2, 6)


def test_fuzzy_dedup_survivors_composition(spark):
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy dog again and again"),  # dup of a
        ("c", "a completely different document about distributed engines"),
        ("d", "the quick brown fox jumps over the lazy dog again and AGAIN"),  # near-dup
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    surv = {r.doc_id for r in dedup.fuzzy_dedup_survivors(df, num_perm=32, bands=16, threshold=0.4).collect()}
    # manual composition of the same pieces must agree
    pairs = dedup.minhash_lsh_pairs(df, num_perm=32, bands=16, threshold=0.4)
    clusters = dedup.dup_clusters(pairs)
    doomed = {r.id for r in clusters.collect() if r.id != r.cluster_id}
    assert surv == {"a", "b", "c", "d"} - doomed
    assert "a" in surv and "c" in surv  # min ids + singletons survive
    assert "b" not in surv  # exact dup of a


def test_hamming_near_dup_pairs_exhaustive(spark):
    """Pigeonhole chunk blocking returns EXACTLY the brute-force pair
    set at every radius, including signed-64 boundary signatures (the
    full-width-mask / two's-complement edge)."""
    import itertools

    sigs = [
        ("a", 0),
        ("b", 1),
        ("c", 3),
        ("d", 0x7FFFFFFFFFFFFFFF),
        ("e", -1),
        ("f", 7),
        ("g", -0x8000000000000000),
        ("h", 0b10110),
    ]
    sdf = spark.createDataFrame(sigs, "id string, simhash long")

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    for radius in (0, 1, 3, 6):
        got = sorted(
            (r.id1, r.id2, r.hamming)
            for r in dedup.hamming_near_dup_pairs(sdf, max_hamming=radius).collect()
        )
        exp = sorted(
            (a, b, ham(x, y))
            for (a, x), (b, y) in itertools.combinations(sigs, 2)
            if ham(x, y) <= radius
        )
        assert got == exp, f"radius={radius}"


def test_hamming_near_dup_pairs_rejects_degenerate_radius(spark):
    """A zero-width pigeonhole chunk would silently collapse the
    blocking join to all-pairs — must raise instead."""
    sdf = spark.createDataFrame([("a", 0)], "id string, simhash long")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_near_dup_pairs(sdf, max_hamming=-1)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.hamming_near_dup_pairs(sdf, max_hamming=64)
    # 63 is the widest legal radius: 64 one-bit chunks
    assert dedup.hamming_near_dup_pairs(sdf, max_hamming=63).count() == 0
    # the md5 SimHash votes 16 bits: 15 is its widest legal radius
    docs = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    for m in (-1, 16):
        with pytest.raises(ValueError, match="max_hamming"):
            dedup.simhash_pairs(docs, max_hamming=m, hasher="md5")
    got = dedup.simhash_pairs(docs, max_hamming=15, hasher="md5").collect()
    assert [(r.id1, r.id2, r.hamming) for r in got] == [(1, 2, 0)]
