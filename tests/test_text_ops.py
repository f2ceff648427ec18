"""Unit tests for the round-3 text operators: Gopher-style repetition
signals and PII redaction (kglids_spark/operators/text.py)."""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # hand-computable repetition: ws = [a a a b], g2 = [a a, a a, a b]
        (1, "a a a b"),
        # no repetition: every word and 2-gram unique
        (2, "w x y z"),
        # single word: no 2-grams -> top_2gram_frac coalesces to 0.0
        (3, "solo"),
        (4, "mail me at bob.smith+x@foo-bar.org or 10.0.3.7 call 202-555-0143 now"),
        (5, "clean text with no pii at all"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repetition_signals_hand_computed(docs):
    r = {
        row["doc_id"]: row
        for row in text.repetition_signals(docs.filter("doc_id <= 3")).collect()
    }
    assert r[1]["rep_dup_word_frac"] == pytest.approx(1 - 2 / 4)
    assert r[1]["rep_top_word_frac"] == pytest.approx(3 / 4)
    assert r[1]["rep_top_2gram_frac"] == pytest.approx(2 / 3)
    assert r[2]["rep_dup_word_frac"] == pytest.approx(0.0)
    assert r[2]["rep_top_word_frac"] == pytest.approx(1 / 4)
    assert r[2]["rep_top_2gram_frac"] == pytest.approx(1 / 3)
    assert r[3]["rep_dup_word_frac"] == pytest.approx(0.0)
    assert r[3]["rep_top_word_frac"] == pytest.approx(1.0)
    assert r[3]["rep_top_2gram_frac"] == 0.0  # no 2-grams


def test_repetition_signals_zero_shuffle_plan(docs):
    plan = text.repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-side only


def test_repetition_exploded_lockstep(spark, docs):
    """The shuffle-based twin must produce the exact values of the
    map-side path, including the no-2-gram edge case, on real corpus
    text plus the handcrafted docs."""
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    both = corpus.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10**6))
    cols = ["rep_dup_word_frac", "rep_top_word_frac", "rep_top_2gram_frac"]
    a = {
        r["doc_id"]: tuple(round(r[c], 9) for c in cols)
        for r in text.repetition_signals(both).select("doc_id", *cols).collect()
    }
    b = {
        r["doc_id"]: tuple(round(r[c], 9) for c in cols)
        for r in text.repetition_signals_exploded(both).collect()
    }
    assert a == b and len(a) > 100


def test_repetition_signals_fuzz_vs_python(spark):
    """200 seeded random docs vs an independent pure-Python model, one
    Spark pass (randomness stays outside the Spark plan so shrinkage
    is irrelevant and the run is deterministic)."""
    import random
    from collections import Counter

    rng = random.Random(7)
    docs = []
    for i in range(200):
        vocab = [f"w{j}" for j in range(rng.randint(1, 12))]
        words = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        docs.append((i, " ".join(words)))

    def expected(ws):
        cw = Counter(ws)
        n = len(ws)
        g2 = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        cg = Counter(g2)
        top2 = (max(cg.values()) / len(g2)) if g2 else 0.0
        return (1 - len(cw) / n, max(cw.values()) / n, top2)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (
            r["rep_dup_word_frac"],
            r["rep_top_word_frac"],
            r["rep_top_2gram_frac"],
        )
        for r in text.repetition_signals(df).collect()
    }
    for i, t in docs:
        assert got[i] == pytest.approx(expected(t.split(" "))), (i, t)


def test_redact_pii_counts_and_placeholders(docs):
    out = {
        row["doc_id"]: row
        for row in text.redact_pii(docs.filter("doc_id >= 4")).collect()
    }
    hit = out[4]
    assert (hit["n_email"], hit["n_ipv4"], hit["n_phone"]) == (1, 1, 1)
    red = hit["text_redacted"]
    assert "<EMAIL>" in red and "<IPV4>" in red and "<PHONE>" in red
    assert "bob.smith" not in red and "10.0.3.7" not in red and "0143" not in red
    clean = out[5]
    assert (clean["n_email"], clean["n_ipv4"], clean["n_phone"]) == (0, 0, 0)
    assert clean["text_redacted"] == clean["text"]


def test_redact_pii_email_not_double_matched_as_ip(spark):
    # digit-heavy email must be consumed by the email pass, not leave a
    # fragment the ipv4 pass could mangle
    df = spark.createDataFrame([(1, "x 1.2.3.4@mail.com y")], ["doc_id", "text"])
    row = text.redact_pii(df).collect()[0]
    assert row["text_redacted"] == "x <EMAIL> y"
    assert row["n_email"] == 1


def test_c4_line_filter_rules(spark):
    from kglids_spark.operators.text import c4_line_filter

    doc = "\n".join(
        [
            "This sentence has enough words here.",   # kept
            "Too short.",                              # < 5 words
            "this line has five words no punct",      # no terminal punct
            'He said "hello there my good friend."',  # kept (quote end)
            "",                                        # empty
        ]
    )
    df = spark.createDataFrame([(1, doc), (2, "lorem IPSUM { }")], "doc_id int, text string")
    out = {r.doc_id: r for r in c4_line_filter(df).collect()}
    r1 = out[1]
    assert r1.n_lines == 5 and r1.n_kept == 2
    assert r1.text_clean.splitlines() == [
        "This sentence has enough words here.",
        'He said "hello there my good friend."',
    ]
    assert not r1.has_brace and not r1.has_lorem
    r2 = out[2]
    assert r2.n_kept == 0 and r2.text_clean == ""
    assert r2.has_brace and r2.has_lorem


# ---------------------------------------------------------------------
# round 4: corpus-wide line dedup (C4 §2.2 cross-document half)
# ---------------------------------------------------------------------

LINE_DOCS = [
    ("a", "nav bar\nreal content one.\nfooter"),
    ("b", "nav bar\nreal content two.\nfooter"),
    ("c", "unique only\nnav bar"),
    ("d", ""),
]


def test_corpus_line_dedup_keeps_first_occurrence(spark):
    df = spark.createDataFrame(LINE_DOCS, "doc_id string, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_lines, r.n_removed)
        for r in text.corpus_line_dedup(df, hash_lines=False).collect()
    }
    # 'nav bar' keeps (a,0); 'footer' keeps (a,2); doc b loses both
    assert got["a"] == ("nav bar\nreal content one.\nfooter", 3, 0)
    assert got["b"] == ("real content two.", 3, 2)
    assert got["c"] == ("unique only", 2, 1)
    # empty doc: one empty line, kept (it is that line's first and only
    # occurrence), so nothing is removed
    assert got["d"] == ("", 1, 0)
    # the delimiter is a literal, not a Java regex: "|" must not split
    # between every character
    piped = spark.createDataFrame([(1, "a|b|a"), (2, "b|c")], "doc_id long, text string")
    got = {
        r.doc_id: r.text_clean
        for r in text.corpus_line_dedup(piped, delimiter="|").collect()
    }
    assert got == {1: "a|b", 2: "c"}


def test_corpus_line_dedup_hashed_twin_lockstep(spark):
    df = spark.createDataFrame(LINE_DOCS, "doc_id string, text string")
    a = {tuple(r) for r in text.corpus_line_dedup(df, hash_lines=False).collect()}
    b = {tuple(r) for r in text.corpus_line_dedup(df, hash_lines=True).collect()}
    assert a == b


def test_corpus_line_dedup_keeps_null_text_docs(spark):
    """split(NULL) explodes to zero rows, so a totals-derived doc base
    silently dropped null-text docs (ADVICE r4). The universe now comes
    from df itself: the null doc survives with the oracle's
    FROM-documents semantics — text_clean '', n_lines/n_removed NULL."""
    df = spark.createDataFrame(
        LINE_DOCS + [("e", None)], "doc_id string, text string"
    )
    out = {r.doc_id: r for r in text.corpus_line_dedup(df, hash_lines=False).collect()}
    assert set(out) == {"a", "b", "c", "d", "e"}
    e = out["e"]
    assert e.text_clean == "" and e.n_lines is None and e.n_removed is None
    # non-null docs unchanged by the universe join
    assert out["b"].text_clean == "real content two."


def test_corpus_line_dedup_min_count(spark):
    df = spark.createDataFrame(LINE_DOCS, "doc_id string, text string")
    # min_count=3: 'nav bar' occurs 3x -> deduped; 'footer' (2x) survives
    got = {
        r.doc_id: r.text_clean
        for r in text.corpus_line_dedup(df, min_count=3).collect()
    }
    assert got["b"] == "real content two.\nfooter"
    assert got["c"] == "unique only"


# ---------------------------------------------------------------------
# round 4: Gopher document filter (rule composition)
# ---------------------------------------------------------------------

def test_gopher_filter_rules_and_reasons(spark):
    # 58 unique words + two Gopher stop words so the round-5
    # min_stop_words rule is satisfied
    long_good = " ".join(f"w{i}" for i in range(58)) + " the of"
    repeaty = " ".join(["dup"] * 60)
    short = "tiny doc"
    df = spark.createDataFrame(
        [("g", long_good), ("r", repeaty), ("s", short)],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: (r.keep, list(r.drop_reasons))
        for r in text.gopher_filter(df).collect()
    }
    assert got["g"] == (True, [])
    assert got["s"][0] is False and "too_few_words" in got["s"][1]
    assert got["r"][0] is False
    assert {"dup_word_frac", "top_word_frac", "top_2gram_frac"} <= set(got["r"][1])


def test_gopher_filter_round5_massivetext_rules(spark):
    stopz = "the of"  # keeps min_stop_words quiet where not under test
    filler = " ".join(f"w{i}" for i in range(58))
    rows = [
        # >10% symbol-to-word ratio: 60 words, 8 '#' and 2 '...'
        ("sym", filler + " " + stopz + " " + "# # # # # # # # ... ..."),
        # >90% bullet-led lines
        ("bul", "\n".join(f"- item {i} {stopz}" for i in range(20))),
        # >30% ellipsis-terminated lines
        (
            "ell",
            "\n".join(
                [f"{filler} {stopz}."]
                + [f"trailing thought number {i} goes on..." for i in range(9)]
            ),
        ),
        # <80% words containing an alphabetic char
        ("alp", " ".join(["12345"] * 55) + " " + filler[: len("w0 w1 w2 w3 w4")] + " " + stopz),
        # zero stop words
        ("stp", filler + " w58 w59"),
        # all five rules quiet
        ("ok", filler + " " + stopz),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r.doc_id: set(r.drop_reasons) for r in text.gopher_filter(df).collect()
    }
    assert "symbol_word_ratio" in got["sym"]
    assert "bullet_lines" in got["bul"]
    assert "ellipsis_lines" in got["ell"]
    assert "alpha_word_frac" in got["alp"]
    assert "too_few_stop_words" in got["stp"]
    assert got["ok"] == set()
    # thresholds are overridable like the round-4 keys
    relaxed = {
        r.doc_id: r.keep
        for r in text.gopher_filter(
            df.filter(F.col("doc_id") == "stp"), thresholds={"min_stop_words": 0}
        ).collect()
    }
    assert relaxed["stp"]


def test_gopher_filter_threshold_override(spark):
    # a 3-word doc trips too_few_words plus the small-sample repetition
    # artifacts (top word 1/3 > 0.2) — relaxing exactly those keys must
    # flip keep, and each unspecified key must keep its default
    df = spark.createDataFrame([("a", "three words here")], "doc_id string, text string")
    strict = text.gopher_filter(
        df,
        thresholds={
            "min_words": 1,
            "max_top_word_frac": 1.0,
            "max_top_2gram_frac": 1.0,
            "min_stop_words": 0,
        },
    )
    assert strict.collect()[0].keep
    default = text.gopher_filter(df).collect()[0]
    assert not default.keep and "too_few_words" in list(default.drop_reasons)


def test_gopher_filter_null_text_kept_and_unknown_threshold_rejected(spark):
    df = spark.createDataFrame(
        [("n", None), ("e", "")], "doc_id string, text string"
    )
    got = {r.doc_id: (r.keep, list(r.drop_reasons)) for r in text.gopher_filter(df).collect()}
    # null text: no signal, no rule fires, kept (oracle NULL semantics)
    assert got["n"] == (True, [])
    # empty text: 1 empty 'word' -> too_few_words + mean_word_len_low
    assert got["e"][0] is False and "too_few_words" in got["e"][1]
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown gopher threshold"):
        text.gopher_filter(df, thresholds={"max_top_word_fraction": 0.5})


# ---------------------------------------------------------------------
# round 4: self-trained char-n-gram LM quality scoring (CCNet shape)
# ---------------------------------------------------------------------

def test_char_lm_counts_hand_computed(spark):
    df = spark.createDataFrame([("a", "abab")], "doc_id string, text string")
    got = {r["gram"]: (r["count"], r["prefix"]) for r in text.char_lm_counts(df).collect()}
    # trigrams of 'abab': aba, bab
    assert got == {"aba": (1, "ab"), "bab": (1, "ba")}


def test_char_lm_score_smoothing_and_short_docs(spark):
    import math

    train = spark.createDataFrame([("t", "aaaa")], "doc_id string, text string")
    lm = text.char_lm_counts(train)  # {'aaa': 2}, vocab = {'a'} -> V=1
    score_df = spark.createDataFrame(
        [("x", "aaa"), ("y", "bbb"), ("s", "zz")], "doc_id string, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.logprob_per_gram)
        for r in text.char_lm_score(score_df, lm).collect()
    }
    # seen gram: ln((2+1)/(2+1*1)) = ln(1) = 0
    assert got["x"][0] == 1 and got["x"][1] == pytest.approx(0.0)
    # unseen gram + unseen prefix: ln((0+1)/(0+1)) = 0 ... with V=1 the
    # smoothed model is degenerate; use alpha to discriminate instead
    got2 = {
        r.doc_id: r.logprob_per_gram
        for r in text.char_lm_score(score_df, lm, vocab_size=5).collect()
    }
    assert got2["x"] == pytest.approx(math.log(3 / 7))   # (2+1)/(2+5)
    assert got2["y"] == pytest.approx(math.log(1 / 5))   # (0+1)/(0+5)
    assert got2["x"] > got2["y"]  # in-distribution scores higher
    # doc shorter than n: no grams, NULL score
    assert got["s"] == (0, None)


def test_char_lm_hashed_gram_keys_lockstep_with_string_twin(spark):
    """Round 5 (VERDICT r4 #3): the production path shuffles/joins
    int64 xxhash64 gram keys; the string-keyed twin must agree value-
    exactly (9 dp absorbs AVG summation-order jitter) — including the
    unseen-gram-with-seen-prefix smoothing case, where the prefix hash
    must come from the stream's own gram, not a model-side mapping."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )

    def snap(out):
        return {
            r.doc_id: (
                r.n_grams,
                None if r.logprob_per_gram is None else round(r.logprob_per_gram, 9),
            )
            for r in out.collect()
        }

    assert snap(text.char_lm_train_score(docs, hash_grams=True)) == snap(
        text.char_lm_train_score(docs, hash_grams=False)
    )
    # score-only op, model trained on HALF the corpus so the scored
    # stream genuinely contains unseen grams and unseen prefixes
    lm = text.char_lm_counts(docs.limit(200))
    assert snap(text.char_lm_score(docs, lm, hash_grams=True)) == snap(
        text.char_lm_score(docs, lm, hash_grams=False)
    )


def test_ccnet_buckets_exact_ntile_semantics(spark):
    """Rank-based equal-count tiers: parity with SQL ntile(k) ORDER BY
    score DESC NULLS LAST, id — including the front-loaded remainder
    (first n mod k groups take the extra row) and NULL scores last."""
    import duckdb
    import pandas as pd

    rows = [(f"d{i:03d}", float((i * 37) % 101)) for i in range(100)] + [
        ("dnull1", None),
        ("dnull2", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, logprob_per_gram double")
    for k in (3, 4, 7):
        got = {
            r.doc_id: r.bucket
            for r in text.ccnet_buckets(df, n_buckets=k, labels=[f"b{j}" for j in range(k)]).collect()
        }
        pdf = pd.DataFrame(rows, columns=["doc_id", "logprob_per_gram"])
        want = duckdb.sql(
            f"""SELECT doc_id, ntile({k}) OVER
                (ORDER BY logprob_per_gram DESC NULLS LAST, doc_id) AS nt
                FROM pdf"""
        ).df()
        assert got == dict(zip(want.doc_id, want.nt.astype(int))), f"k={k}"


def test_ccnet_buckets_edge_cases(spark):
    # fewer rows than buckets: each row its own group, head first
    df = spark.createDataFrame(
        [("a", 2.0), ("b", 1.0)], "doc_id string, logprob_per_gram double"
    )
    got = {r.doc_id: (r.bucket, r.bucket_label) for r in text.ccnet_buckets(df).collect()}
    assert got == {"a": (1, "head"), "b": (2, "middle")}
    with pytest.raises(ValueError, match="labels"):
        text.ccnet_buckets(df, n_buckets=4, labels=["x"])


def test_char_lm_train_score_matches_composition(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    composed = {
        r.doc_id: (r.n_grams, None if r.logprob_per_gram is None else round(r.logprob_per_gram, 9))
        for r in text.char_lm_score(docs, text.char_lm_counts(docs)).collect()
    }
    fused = {
        r.doc_id: (r.n_grams, None if r.logprob_per_gram is None else round(r.logprob_per_gram, 9))
        for r in text.char_lm_train_score(docs).collect()
    }
    assert fused == composed and len(fused) > 100


def test_corpus_datacard_hand_computed(spark):
    """Data-card scalars match hand-computed values: null text is
    counted but excluded from digests, the exact duplicate rate sees
    the planted clone, and top_k truncates the source table
    deterministically (count desc, then value asc)."""
    from kglids_spark.operators.text import corpus_datacard

    t1 = "the cat sat on the mat with the hat"
    t4 = "unique text of words and data here now"
    rows = [(1, t1, "a"), (2, t1, "a"), (3, None, "b"), (4, t4, "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    card = corpus_datacard(df, source_col="source", exact_dup=True, top_k=1)
    assert card["n_docs"] == 4
    assert card["n_null_text"] == 1
    assert card["total_chars"] == 2 * len(t1) + len(t4)
    assert card["total_words"] == 2 * len(t1.split()) + len(t4.split())
    assert card["total_tokens_ws"] == card["total_words"]
    # 3 docs with text, 2 distinct digests
    assert card["exact_dup_rate"] == round(1 - 2 / 3, 6)
    assert card["dup_estimator"] == "exact"
    assert sum(card["languages"].values()) == 3  # null text has no lang
    # tie on count 2 vs 2 -> value ascending picks 'a'
    assert card["sources"] == {"a": 2}
    assert card["len_chars_p10_p50_p90_p99"][1] == len(t1)  # median
    # hll mode still bounded to [0, 1]
    hll = corpus_datacard(df, exact_dup=False)
    assert 0.0 <= hll["exact_dup_rate"] <= 1.0
    assert hll["dup_estimator"] == "hll"
    assert "sources" not in hll


def test_strip_html_rules(spark):
    """Each rule exercised: block content removal, comment removal,
    break tags -> newlines, tag strip, single-pass entity decode,
    whitespace collapse; malformed markup degrades to tag loss; NULL
    passes through."""
    from kglids_spark.operators.text import strip_html

    rows = [
        (1, '<head><title>T</title><style a="b">x {y}</style></head>'
            '<body><h1>A &amp; B</h1><p>one <b>two</b>.</p>'
            '<script>var x = "<p>no</p>";</script>'
            '<!-- gone\ngone --><ul><li>i1</li><li>i&lt;2&gt;</li></ul>'
            '<p>a&nbsp;b &amp;lt; c</p><br/>t   t</body>'),
        (2, "plain"),
        (3, "<script>unclosed var y;"),
        (4, None),
        (5, "x &amp;amp; y"),  # decodes ONCE: -> 'x &amp; y'
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.t for r in df.select("id", strip_html("text").alias("t")).collect()}
    assert got[1] == "T\nA & B\none two.\ni1\ni<2>\na b &lt; c\nt t"
    assert got[2] == "plain"
    assert got[3] == "unclosed var y;"
    assert got[4] is None
    assert got[5] == "x &amp; y"


def test_extract_html_text_keeps_columns(spark):
    from kglids_spark.operators.text import extract_html_text

    df = spark.createDataFrame(
        [(1, "<p>hello</p>", "web")], "doc_id long, text string, source string"
    )
    out = extract_html_text(df).collect()[0]
    assert out.text == "hello" and out.source == "web" and out.doc_id == 1


def test_corpus_datacard_zipf(spark):
    from kglids_spark.operators import frequency as FR
    from kglids_spark.operators.dedup import split_words
    from kglids_spark.operators.text import corpus_datacard

    import pyspark.sql.functions as F

    rows = [
        (1, "the cat sat on the mat", "src0"),
        (2, "the dog ate the cat food", "src0"),
        (3, "a completely different sentence here", "src1"),
        (4, None, "src1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    card = corpus_datacard(df, source_col="source", zipf=True)
    # the card's slope equals the operator run standalone on the same
    # word counts (NULL text contributes nothing)
    ws = F.filter(split_words("text"), lambda w: w != "")
    counts = (
        df.where(F.col("text").isNotNull())
        .select(F.explode(ws).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = FR.zipf_fit(counts).collect()[0]
    assert card["zipf_n_types"] == want.n_types
    assert card["zipf_slope"] == round(want.zipf_slope, 6)
    # without the flag the keys are absent (no silent extra explode)
    card2 = corpus_datacard(df, source_col="source")
    assert "zipf_slope" not in card2


def test_corpus_datacard_source_entropy(spark):
    import math

    from kglids_spark.operators.text import corpus_datacard

    rows = [
        (1, "alpha beta", "s0"), (2, "gamma delta", "s0"),
        (3, "epsilon zeta", "s0"), (4, "eta theta", "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    card = corpus_datacard(df, source_col="source")
    # H = -(3/4 ln 3/4 + 1/4 ln 1/4); effective sources = exp(H)
    want = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert card["source_entropy"] == round(want, 6)
    assert card["effective_sources"] == round(math.exp(want), 6)
    # single-feed corpus: entropy 0, exactly 1 effective source
    one = corpus_datacard(
        df.withColumn("source", F.lit("only")), source_col="source"
    )
    assert one["source_entropy"] == 0.0
    assert one["effective_sources"] == 1.0
    # no source column requested -> keys absent
    assert "source_entropy" not in corpus_datacard(df)


def test_corpus_paragraph_dedup_delimiter(spark):
    """delimiter='\\n\\n' dedups PARAGRAPHS: a repeated license block
    keeps only its first occurrence while single-newline lines inside
    paragraphs stay intact."""
    from kglids_spark.operators.text import corpus_line_dedup

    lic = "license text\ncopyright someone"
    rows = [
        (1, f"{lic}\n\nunique para one\nwith a second line"),
        (2, f"{lic}\n\nunique para two"),
        (3, "no boilerplate here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in corpus_line_dedup(df, delimiter="\n\n").collect()
    }
    # doc 1 keeps the license paragraph (first occurrence) AND its
    # intra-paragraph newline survives untouched
    assert got[1].text_clean == rows[0][1]
    assert got[1].n_removed == 0
    # doc 2 loses the repeated license paragraph
    assert got[2].text_clean == "unique para two"
    assert got[2].n_lines == 2 and got[2].n_removed == 1
    assert got[3].n_removed == 0
    # line-granularity on the same corpus removes the "license text"
    # LINE from doc 2 instead (finer unit, same keeper discipline)
    line_got = {r.doc_id: r for r in corpus_line_dedup(df).collect()}
    assert "license text" not in line_got[2].text_clean
