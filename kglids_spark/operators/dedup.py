"""Deduplication operators for training-data pipelines.

Not present in the reference (its nearest analog is column-level
content similarity, workers.py:57-121); required for the 100 TB
training-pipeline use case. Five families, all shuffle-conscious:

- exact:          hash-groupBy on a normalized content digest. One
                  shuffle on the digest; group sizes are tiny.
- ngram Jaccard:  explode shingles → self-join on shingle → count
                  intersection / union. The join key is the shingle,
                  so hot shingles are pruned by a document-frequency
                  cap before the join (stopword shingles would
                  otherwise quadratically blow up the shuffle).
- MinHash + LSH:  k independent min-hashes per doc computed map-side
                  as k array_min(transform(shingles, hash)) — no
                  explode, no shuffle; signatures sliced into bands,
                  candidates = docs sharing a (band_idx, band_hash)
                  bucket — the classic shuffle-light near-dup path at
                  scale.
- SimHash:        per-token hashes, bit-majority via one sum aggregate
                  per bit; near-dups blocked on pigeonhole chunks
                  (Hamming ≤ 3 ⟹ one of 4 chunks equal).
- embedding:      cosine ≥ threshold near-dup pairs; see ann.py for
                  the blocked/LSH variant.

MinHash, SimHash and their audits take ``hasher``: ``"xxhash64"`` (the
production path: int64 keys through the shuffle) or ``"md5"`` (the
same pipeline with a hash every SQL engine has — what the value-exact
DuckDB oracle rows run). Any other name raises ValueError.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kglids_spark.functions.scalar import cosine_similarity


def normalize_text(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates after whitespace/case normalization.
    Returns (digest, n_docs, doc_ids) for groups with n_docs > 1."""
    digest = F.md5(normalize_text(text_col))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def split_words(col) -> F.Column:
    """Normalized word array of a text column. Materialize this in its
    OWN projection (``df.select(..., split_words("text").alias("_ws"))``)
    before building shingles from it: the shingle builders reference the
    words array a handful of times, and if the split is inlined at each
    reference the regex+split re-runs per reference. CollapseProject
    keeps a multiply-referenced non-trivial alias in its own stage, so
    the pre-split evaluates once per row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(normalize_text(c), " ")


_BIG = 2**31 - 1


def _zip_ngrams(ws, n: int) -> F.Column:
    """array<struct> of consecutive word n-grams: element i is
    (ws[i], ws[i+1], .., ws[i+n-1]) built by zipping the words array
    with its own shifted slices — the words expression is referenced a
    CONSTANT number of times (n+1), never once per output element.
    The previous per-element ``element_at`` construction embedded a
    copy of the words expression in every lambda step; higher-order
    functions run interpreted with no common-subexpression reuse, so
    the text was re-split ~3x per shingle (measured 402s → 12.5s for
    the exploded shingles of 100k docs). Length is
    greatest(size-n+1, 1); docs shorter than n words produce one
    truncated gram whose missing tail words are null (arrays_zip pads),
    which ANSI-safely replaces out-of-range element_at."""
    z = F.arrays_zip(*[F.slice(ws, k + 1, _BIG - k) for k in range(n)])
    return F.slice(z, 1, F.greatest(F.size(ws) - (n - 1), F.lit(1)))


def words_shingles(ws, n: int = 3) -> F.Column:
    """Distinct word n-gram shingle strings from a words array."""
    return F.array_distinct(
        F.transform(
            _zip_ngrams(ws, n),
            lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
        )
    )


def word_shingles(col, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (array<string>)."""
    return words_shingles(split_words(col), n)


def hashed_words_shingles(ws, n: int = 3) -> F.Column:
    """Distinct word-n-gram shingles as int64 hashes from a words
    array: xxhash64 over the n gram words directly — no shingle-string
    allocation, and downstream joins shuffle 8-byte keys instead of
    ~25-byte strings. Truncated grams of short docs hash their
    available words (nulls skipped by xxhash64), mirroring the string
    path's single truncated shingle; pinned to the string path by
    test_ngram_hashed_twin_lockstep."""
    return F.array_distinct(
        F.transform(
            _zip_ngrams(ws, n),
            lambda s: F.xxhash64(*[s[str(k)] for k in range(n)]),
        )
    )


def hashed_word_shingles(col, n: int = 3) -> F.Column:
    """`hashed_words_shingles` over a text column."""
    return hashed_words_shingles(split_words(col), n)


def _ngram_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_df: int,
    hash_shingles: bool,
    materialize: bool = True,
):
    """Shared candidate machinery for the set-similarity family
    (Jaccard + containment): returns (counted, finalize) where
    ``counted`` has (id1, id2, common, n1, n2) — distinct-shingle
    intersection size plus both docs' rare-universe shingle counts —
    and ``finalize(result)`` eagerly materializes the (small) scored
    output and releases the persisted shingle cache. Plan notes and
    the full shuffle discussion live on ngram_jaccard_pairs, whose
    plan this helper preserves byte-for-byte."""
    mk = hashed_words_shingles if hash_shingles else words_shingles
    base = df.select(
        F.col(id_col).alias("id"), split_words(text_col).alias("_ws")
    )
    docs = base.select(
        "id", mk(F.col("_ws"), n).alias("shingles")
    ).withColumn("n_shingles", F.size("shingles"))
    ex = docs.select("id", "n_shingles", F.explode("shingles").alias("sh"))

    # Inverted-index pair counting (replaces the earlier exploded
    # self-join, which shuffle-sorted the 8-byte (id, sh) rows on sh for
    # BOTH merge-join sides and then shuffled them AGAIN on id for the
    # per-doc counts — three full passes over the shingle rows).
    #
    # Two shuffles remain: a df-count pre-pass (so the cap is applied
    # BEFORE collect_list — no aggregation buffer ever materializes a
    # hot shingle's posting list; a boilerplate shingle at web scale
    # has ~10^8 docs and collect-then-filter would OOM the aggregator)
    # and the postings build groupBy(sh) → sorted doc list. Pairs are
    # then emitted MAP-SIDE from each ≤cap-sized posting list as array
    # combinations — the shuffle after that carries only candidate
    # pairs (bounded by real near-dup mass + cap² per shingle).
    # materialize=False skips the persist AND the result checkpoint so
    # plan inspection sees the real join tree (the duplicate_spans
    # convention); production keeps both.
    persisted = materialize and max_shingle_df < 2**31
    if persisted:
        # the capped path reads `ex` three times (df-count pre-pass,
        # postings anti-join, hot-per-doc join); without a persist each
        # read re-normalizes, re-splits and re-hashes the full corpus —
        # the dominant cost this operator's rewrites fight. MEMORY_AND_
        # DISK evicts gracefully at scale; the handle is unpersisted in
        # finalize() once the (small) result is eagerly materialized.
        from pyspark import StorageLevel

        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
        hot = (
            ex.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .filter(F.col("df_count") > max_shingle_df)
            .select("sh")
        )
        # hot shingles carry no dedup signal and dominate the shuffle;
        # dropping them is a broadcast ANTI-join against the HOT set —
        # |hot| ≤ n_shingle_rows / max_shingle_df ≪ corpus (measured
        # 28.5s → 0.2s at 100k docs vs an inner join on the rare set)
        rare_ex = ex.join(F.broadcast(hot), "sh", "left_anti")
        # per-doc denominator over the rare universe: total minus hot
        # hits — computed from the tiny broadcast hot set, NOT a
        # second shuffle of all rows
        hot_per_doc = (
            ex.join(F.broadcast(hot), "sh")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_hot"))
        )
        counts = (
            docs.join(hot_per_doc, "id", "left")
            .select(
                "id",
                (F.col("n_shingles") - F.coalesce("n_hot", F.lit(0))).alias("ns"),
            )
        )
    else:
        rare_ex = ex
        counts = docs.select("id", F.col("n_shingles").alias("ns"))

    idx = (
        rare_ex.groupBy("sh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    inter = (
        idx.select(F.explode(pair_combos).alias("p"))
        .groupBy(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # AQE broadcasts `counts` when small; at web scale it stays a shuffle join
    counted = (
        inter.join(counts.select(F.col("id").alias("id1"), F.col("ns").alias("n1")), "id1")
        .join(counts.select(F.col("id").alias("id2"), F.col("ns").alias("n2")), "id2")
    )

    def finalize(result: DataFrame) -> DataFrame:
        if persisted:
            # materialize the pairs (≪ corpus: bounded by near-dup mass
            # + cap² per shingle) so the shingle cache can be released
            # NOW rather than leaking for the session (the k_hop_paths
            # lesson, VERDICT r2); same eager-output discipline as
            # dup_clusters
            result = result.localCheckpoint(eager=True)
            ex.unpersist()
        return result

    return counted, finalize


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
    hash_shingles: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    intersection via a self-join on shingle; |union| = |A|+|B|-|A∩B|.
    Shingles appearing in more than ``max_shingle_df`` docs are dropped
    before the join (they carry no dedup signal and dominate the
    shuffle — at web scale this cap is what keeps the join feasible).
    The drop is a broadcast ANTI-join against the HOT set: by
    construction |hot| ≤ n_shingle_rows / max_shingle_df (≪ corpus), so
    broadcasting it avoids re-shuffling every exploded shingle row
    (measured 28.5s → 0.2s at 100k docs vs the old inner join on the
    rare set, which is ~99% of all shingles).

    ``hash_shingles`` (default): shingles are int64 xxhash64 values
    (hashed_word_shingles) — the production path. ``False`` joins on
    the exact shingle strings — bit-portable to the DuckDB oracle
    (dedup_ngram_jaccard query); results differ only on 64-bit hash
    collisions (~1e-6 at 10M shingles), pinned equal on the test corpus
    by test_dedup.py::test_ngram_hashed_twin_lockstep."""
    counted, finalize = _ngram_pair_counts(
        df, text_col, id_col, n, max_shingle_df, hash_shingles, materialize
    )
    jac = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    result = (
        counted.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return finalize(result)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
    hash_shingles: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Near-SUBSET pairs by word-n-gram max-containment
    |A∩B| / min(|A|, |B|) — the asymmetric twin of Jaccard (Broder
    1997's containment, symmetrized with the smaller side as the
    denominator, the form LSH-Ensemble / DataSketch popularized).

    Jaccard misses wholesale quotation: a 100-shingle doc embedded
    verbatim inside a 10,000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0. This is the signal for boilerplate-wrapped
    re-posts, quote-heavy aggregators, and doc-inside-doc training
    leakage, where the small side should usually be dropped.

    Returns (id1, id2, containment, n1, n2) — the shingle counts are
    kept so the caller can tell which side is the contained one (the
    smaller ns). Same candidate machinery, shuffle discipline, and
    hot-shingle cap as ngram_jaccard_pairs (one pair-count shuffle over
    the inverted index, never a doc×doc join); a wholly-contained-in-a
    -hot-shingle-set doc scores on its RARE shingles only, like the
    Jaccard path. Docs with zero rare shingles cannot form candidates
    and are absent, also like the Jaccard path."""
    counted, finalize = _ngram_pair_counts(
        df, text_col, id_col, n, max_shingle_df, hash_shingles, materialize
    )
    cont = F.col("common") / F.least("n1", "n2")
    result = (
        counted.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "containment", "n1", "n2")
    )
    return finalize(result)


def _check_hasher(hasher: str) -> None:
    if hasher not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hasher {hasher!r} (use 'xxhash64' or 'md5')")


def _perm_hash(hasher: str, seed: int, p: int):
    """Permutation ``p``'s one-argument shingle hash. Built here, not as
    a ``lambda x, p=p: ...`` in a loop: F.transform picks its (x) or
    (x, index) form from the lambda's arity, so a defaulted second
    parameter would silently turn every permutation into the indexed
    form."""
    if hasher == "md5":
        return lambda x: F.md5(F.concat(F.lit(f"{p}:"), x))
    return lambda x: F.xxhash64(F.lit(f"{seed}:{p}"), x)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, sig) — num_perm min-hashes per doc, computed entirely
    MAP-SIDE as ``array_min(transform(shingles, hash))`` per
    permutation over the per-doc shingle array: no explode, no
    aggregation hash table, no shuffle at all. The shingle array is
    materialized in its own projection so the num_perm transforms
    reference an attribute, not num_perm copies of the builder.

    ``hasher="xxhash64"`` (production): shingles are int64 hashes
    (hashed_words_shingles), permutation p hashes ``("{seed}:{p}", x)``
    and ``sig`` is array<long> — each re-hash runs over an 8-byte input
    instead of a ~25-char string, measured 1.7× on the signature stage
    at 500k docs. ``hasher="md5"``: shingles are strings
    (words_shingles), permutation p is ``md5("{p}:" || shingle)`` and
    ``sig`` is array<string> — reproducible in any SQL engine
    (minhash_lsh_pairs_md5_oracle_sql). ``seed`` salts only xxhash64;
    the md5 inputs are fixed so the oracle SQL needs no seed."""
    _check_hasher(hasher)
    shingles = hashed_words_shingles if hasher == "xxhash64" else words_shingles
    # null/too-short text yields a null or empty shingle array -> a
    # NULL signature; xxhash64 SKIPS null inputs, so in the banding
    # stage every all-null signature would share one constant band
    # hash and a corpus with many null docs degenerates to a single
    # quadratic LSH bucket. Such docs carry nothing to dedup: drop them
    # here (the old explode-based path dropped them implicitly).
    docs = (
        df.select(F.col(id_col).alias("id"), split_words(text_col).alias("_ws"))
        .select("id", shingles(F.col("_ws"), shingle_n).alias("_sh"))
        .where(F.col("_sh").isNotNull() & (F.size("_sh") > 0))
    )
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("_sh"), _perm_hash(hasher, seed, i)))
            for i in range(num_perm)
        ]
    )
    return docs.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard-estimate verify.

    Docs sharing any of ``bands`` band-hashes become candidates (join on
    (band, band_hash) — LSH turns the O(n²) pair space into bucket-local
    joins). Candidates are verified with the signature-estimated
    Jaccard (fraction of matching min-hashes) ≥ threshold.
    ``hasher`` picks every hash in the pipeline (minhash_signatures,
    _band_bucket_expr): ``xxhash64`` is the production path (8-byte
    keys through the shuffle), ``md5`` the value-exact twin of
    minhash_lsh_pairs_md5_oracle_sql."""
    assert num_perm % bands == 0
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_n, seed, hasher
    ).cache()
    band_cols = _band_bucket_expr(num_perm, bands, hasher)
    buckets = sigs.select("id", band_cols.alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("id1"), F.col("sig").alias("sig1"))
    sb = sigs.select(F.col("id").alias("id2"), F.col("sig").alias("sig2"))
    est = F.size(
        F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda v: v)
    ) / F.lit(float(num_perm))
    return (
        cands.join(sa, "id1")
        .join(sb, "id2")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )


def minhash_lsh_pairs_md5_oracle_sql(
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The DuckDB SQL equivalent of ``minhash_lsh_pairs(hasher="md5")``
    — same md5 permutation hashes, band hashes, candidate join, and signature
    Jaccard estimate, generated for the given parameters."""
    rows_per_band = num_perm // bands
    band_selects = " UNION ALL ".join(
        f"SELECT id, {b} AS b, "
        f"md5({' || '.join(f'sig[{b * rows_per_band + j + 1}]' for j in range(rows_per_band))}) AS bh"
        " FROM sigarr"
        for b in range(bands)
    )
    match_terms = " + ".join(
        f"(CASE WHEN s1.sig[{p + 1}] = s2.sig[{p + 1}] THEN 1 ELSE 0 END)"
        for p in range(num_perm)
    )
    return f"""
    WITH norm AS (
      SELECT {id_col} AS id, trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g')) AS t
      FROM {table}),
    words AS (SELECT id, string_split(t, ' ') AS ws FROM norm),
    shingles AS (
      -- lateral unnest: unbounded positions (no silent word-length cap)
      SELECT DISTINCT id, array_to_string(ws[i:i+{shingle_n - 1}], ' ') AS sh
      FROM words, unnest(range(1, greatest(len(ws) - {shingle_n - 1}, 1) + 1)) u(i)),
    sigs AS (
      SELECT id, p, min(md5(p::VARCHAR || ':' || sh)) AS mh
      FROM shingles CROSS JOIN range(0, {num_perm}) s(p)
      GROUP BY id, p),
    sigarr AS (SELECT id, list(mh ORDER BY p) AS sig FROM sigs GROUP BY id),
    bandkeys AS ({band_selects}),
    cands AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM bandkeys a JOIN bandkeys b ON a.b = b.b AND a.bh = b.bh AND a.id < b.id)
    SELECT id1, id2, ({match_terms}) / {float(num_perm)} AS est_jaccard
    FROM cands JOIN sigarr s1 ON id1 = s1.id JOIN sigarr s2 ON id2 = s2.id
    WHERE ({match_terms}) / {float(num_perm)} >= {threshold}
    """


def split_leakage_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    splits: dict | None = None,
    split_seed: int = 0,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Cross-split near-duplicate LEAKAGE audit: MinHash-LSH near-dup
    pairs whose two members land in DIFFERENT deterministic
    train/val/test splits — the pairs that contaminate evaluation (a
    val/test doc with a training-set near-duplicate scores memorized,
    not generalized; Brown et al. 2020 appendix C and The Pile both
    audit exactly this before release). Returns
    (id1, id2, split1, split2, est_jaccard).

    Scale shape: the split is a PURE HASH FUNCTION of the key
    (sampling.split_case_expr), so both sides classify map-side on the
    pair stream — zero joins and zero shuffles beyond the LSH pair
    generation itself, vs. the naive two joins against a corpus-sized
    assignment table. ``hasher="md5"`` is bit-portable to
    split_leakage_oracle_sql; xxhash64 is the production path (see
    minhash_lsh_pairs)."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_perm, bands, shingle_n, threshold, seed, hasher
    )
    from kglids_spark.operators.sampling import split_case_expr

    def _split_of(side: str) -> F.Column:
        # split_case_expr reads key_cols by name: alias the pair side
        # to the id column's name inside a nested struct-free select
        return split_case_expr([side], splits, split_seed)

    out = pairs.select(
        "id1",
        "id2",
        _split_of("id1").alias("split1"),
        _split_of("id2").alias("split2"),
        "est_jaccard",
    )
    return out.filter(F.col("split1") != F.col("split2"))


def near_dup_group_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Cross-GROUP near-duplicate matrix: MinHash-LSH pairs rolled up
    by the (unordered) group pair of their two members — the "which
    feeds resell the same crawl" audit a mixture plan consults before
    weighting sources. Returns (group_a, group_b, n_pairs) with
    group_a <= group_b (least/greatest canonicalization, so the matrix
    is symmetric-free).

    Unlike split_leakage_pairs the group is NOT a function of the id,
    so each pair side looks up its group — but the lookup table is a
    2-column (id, group) projection and the pair set is tiny relative
    to the corpus, so AQE broadcasts the pair side into both joins;
    the matrix aggregation is dictionary-sized (|groups|²/2 rows).
    ``hasher`` as in minhash_lsh_pairs."""
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_perm, bands, shingle_n, threshold, seed, hasher
    )
    g = df.select(F.col(id_col).alias("id"), F.col(group_col).alias("g"))
    joined = (
        pairs.join(g.withColumnRenamed("id", "id1").withColumnRenamed("g", "g1"), "id1")
        .join(g.withColumnRenamed("id", "id2").withColumnRenamed("g", "g2"), "id2")
    )
    return (
        joined.groupBy(
            F.least("g1", "g2").alias("group_a"),
            F.greatest("g1", "g2").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def near_dup_group_matrix_oracle_sql(
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    group_col: str = "source",
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL equivalent of near_dup_group_matrix(hasher="md5"):
    the md5 pair query joined to the group projection on both
    sides and rolled up by the canonicalized group pair."""
    pair_sql = minhash_lsh_pairs_md5_oracle_sql(
        num_perm, bands, shingle_n, threshold, table, text_col, id_col
    )
    return f"""
    SELECT least(ga.{group_col}, gb.{group_col}) AS group_a,
           greatest(ga.{group_col}, gb.{group_col}) AS group_b,
           count(*) AS n_pairs
    FROM ({pair_sql}) pairs
    JOIN {table} ga ON pairs.id1 = ga.{id_col}
    JOIN {table} gb ON pairs.id2 = gb.{id_col}
    GROUP BY 1, 2
    """


def _duckdb_split_case(col: str, splits: dict | None, seed: int) -> str:
    """DuckDB CASE expression mirroring sampling.split_case_expr
    bit-for-bit: u = first 8 md5 hex chars of 'split:<seed>' || US ||
    key, as a fraction of 2^32."""
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    u = (
        f"CAST(('0x' || substring(md5('split:{seed}' || chr(31) || "
        f"CAST({col} AS VARCHAR)), 1, 8)) AS UBIGINT) / 4294967296.0"
    )
    whens, edge = [], 0.0
    names = list(splits)
    for name in names[:-1]:
        edge += float(splits[name])
        whens.append(f"WHEN {u} < {edge!r} THEN '{name}'")
    return f"CASE {' '.join(whens)} ELSE '{names[-1]}' END"


def split_leakage_oracle_sql(
    num_perm: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    splits: dict | None = None,
    split_seed: int = 0,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL equivalent of split_leakage_pairs(hasher="md5"): the
    md5 MinHash-LSH pair query wrapped with the split CASE on each
    side and the straddle filter."""
    pair_sql = minhash_lsh_pairs_md5_oracle_sql(
        num_perm, bands, shingle_n, threshold, table, text_col, id_col
    )
    c1 = _duckdb_split_case("id1", splits, split_seed)
    c2 = _duckdb_split_case("id2", splits, split_seed)
    return f"""
    SELECT id1, id2, {c1} AS split1, {c2} AS split2, est_jaccard
    FROM ({pair_sql}) pairs
    WHERE ({c1}) <> ({c2})
    """


_SIMHASH_BITS = {"xxhash64": 64, "md5": 16}


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, simhash:long) — bit-majority of per-word hashes, as one
    conditional sum per bit in one aggregation. ``hasher`` fixes the
    word-hash width: ``xxhash64`` (production) votes 64 bits;
    ``md5`` votes the 16 bits of the first 4 hex digits of md5(word),
    reproducible in any SQL engine (simhash_pairs_md5_oracle_sql)."""
    _check_hasher(hasher)
    bits = _SIMHASH_BITS[hasher]
    h = (
        F.xxhash64("w")
        if hasher == "xxhash64"
        else F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long")
    )
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    return _simhash_assemble(ex.groupBy("id").agg(*votes), bits)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming, blocked on
    (max_hamming+1) bit-chunks: by pigeonhole, any pair within the
    Hamming radius agrees exactly on at least one chunk, so the join is
    chunk-bucket-local instead of all-pairs. ``hasher`` as in
    simhash_signatures; the radius must leave every chunk ≥ 1 bit wide
    (max_hamming < 64 for xxhash64, < 16 for md5)."""
    sigs = simhash_signatures(df, text_col, id_col, hasher)
    return hamming_near_dup_pairs(
        sigs, sig_col="simhash", max_hamming=max_hamming, bits=_SIMHASH_BITS[hasher]
    )


def hamming_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """(id1, id2, hamming) pairs with Hamming(signature) ≤ max_hamming
    over ANY (id, 64-bit-signature) frame — the pigeonhole chunk
    blocking shared by text SimHash (``simhash_pairs``) and image
    dHash (``multimodal.perceptual_hashes``): signatures split into
    (max_hamming+1) bit-chunks, any in-radius pair agrees exactly on
    ≥ 1 chunk, so candidates join bucket-locally instead of
    all-pairs.

    ``max_hamming`` must satisfy 0 ≤ max_hamming < bits AND leave every
    chunk at least one bit wide (max_hamming+1 ≤ bits) — a zero-width
    chunk would silently degrade the blocking join to all-pairs, the
    exact quadratic blow-up this operator exists to avoid, so it raises
    instead (the ann.py k-clamp convention)."""
    n_chunks = max_hamming + 1
    if max_hamming < 0 or n_chunks > bits:
        raise ValueError(
            f"max_hamming must be in [0, {bits - 1}] (got {max_hamming}): "
            "each of the max_hamming+1 pigeonhole chunks needs >= 1 bit"
        )
    chunk_bits = bits // n_chunks
    sigs = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("simhash"))
    # signed-64 wraparound: a full-width chunk mask is all-ones (-1),
    # not 2^64-1 (which overflows a Java long in lit())
    mask = (1 << chunk_bits) - 1 if chunk_bits < 64 else -1
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright("simhash", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_assemble(agg: DataFrame, bits: int) -> DataFrame:
    """Fold per-bit vote sums b0..b{bits-1} into one simhash long."""
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return agg.select("id", sim.alias("simhash"))


def simhash_pairs_md5_oracle_sql(
    max_hamming: int = 3,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL equivalent of ``simhash_pairs(hasher="md5")``."""
    bits = 16
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    hexpos = "strpos('0123456789abcdef', substr(md5(w), {k}, 1)) - 1"
    h_expr = " + ".join(
        f"({hexpos.format(k=k + 1)}) * {16 ** (3 - k)}" for k in range(4)
    )
    vote_cols = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(bits)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT id, simhash, {c} AS ci, (simhash >> {c * chunk_bits}) & {mask} AS cv FROM sigs"
        for c in range(n_chunks)
    )
    return f"""
    WITH norm AS (
      SELECT {id_col} AS id, trim(regexp_replace(lower({text_col}), '\\s+', ' ', 'g')) AS t
      FROM {table}),
    w AS (SELECT id, unnest(string_split(t, ' ')) AS w FROM norm),
    hv AS (SELECT id, {h_expr} AS h FROM w),
    votes AS (SELECT id, {vote_cols} FROM hv GROUP BY id),
    sigs AS (SELECT id, {sim_expr} AS simhash FROM votes),
    chunks AS ({chunk_selects})
    SELECT DISTINCT a.id AS id1, b.id AS id2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.ci = b.ci AND a.cv = b.cv AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold. With
    ``block_col`` the join is bucket-local (e.g. an LSH sign-bucket
    from ann.lsh_bucket_expr); without it this is the exact O(n²)
    baseline for small corpora / tests."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = df.select(*cols)
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            cosine_similarity(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    bench_text: str = "text",
    bench_id: str = "bench_id",
    n: int = 8,
    hash_shingles: bool = True,
) -> DataFrame:
    """Test-set decontamination: training docs that share ≥1 word
    n-gram with a benchmark/eval document (the published n-gram-overlap
    decontamination protocol; n=8..13 word grams are the common
    settings). Returns one row per contaminated (training doc, bench
    doc) pair: (doc_id, bench_id, n_common, bench_ngrams,
    frac_bench = n_common / bench_ngrams) — filter frac_bench to taste
    downstream (≥ 1 gram flags verbatim leakage; high fractions flag
    full-document inclusion).

    Scale design: the benchmark side is tiny (10³–10⁵ eval docs)
    against a corpus of billions, so the benchmark's exploded n-gram
    set is BROADCAST — the corpus is scanned once, its n-grams checked
    map-side against the broadcast hash set, and only the matching
    (doc, bench) hits (bounded by real contamination, ≪ corpus) enter
    the aggregation shuffle. No corpus-wide shuffle at any point.

    ``hash_shingles`` joins on int64 xxhash64 grams (production; 8-byte
    broadcast keys); ``False`` uses the literal gram strings, which is
    what the DuckDB oracle mirrors (benchmark_contamination query).
    """
    mk = hashed_words_shingles if hash_shingles else words_shingles
    b = benchmark.select(
        F.col(bench_id).alias("bench_id"), split_words(bench_text).alias("_ws")
    ).select("bench_id", mk(F.col("_ws"), n).alias("grams"))
    b_ex = b.select(
        "bench_id", F.size("grams").alias("bench_ngrams"), F.explode("grams").alias("g")
    )
    c_ex = corpus.select(
        F.col(corpus_id).alias("doc_id"), split_words(corpus_text).alias("_ws")
    ).select("doc_id", F.explode(mk(F.col("_ws"), n)).alias("g"))
    return (
        c_ex.join(F.broadcast(b_ex), "g")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.max("bench_ngrams").alias("bench_ngrams"),
        )
        .withColumn(
            "frac_bench", F.col("n_common") / F.col("bench_ngrams")
        )
    )


def incremental_dedup_exact(
    new_docs: DataFrame,
    prior_digests: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of a NEW ingestion batch against a previously
    processed corpus — the incremental-crawl discipline: a restarted
    or continuing pipeline must not reprocess (or re-admit) content it
    already shipped. Survivors are the new docs whose normalized-
    content digest (a) is absent from ``prior_digests`` (a one-column
    ``digest`` ledger frame, e.g. the output of
    ``exact_dedup_ledger``) and (b) is the batch-minimum id for that
    digest (within-batch exact dedup, keep-min-id — the
    fuzzy_dedup_survivors keeper convention). Docs with NULL text
    carry no content evidence and all survive.

    Plan: one digest projection, a digest-keyed min-id aggregation
    (map-side combined), a semi-join of winners, and one anti-join
    against the ledger — at 10^12 rows the ledger side is the big
    one, and the anti-join shuffles both sides by an 8-byte-hashable
    digest key (or broadcast when the ledger fits); the batch never
    shuffles whole except keyed by digest."""
    # local import: text.py imports from this module at module level
    from kglids_spark.operators.text import content_digest_expr

    d = new_docs.withColumn("_dg", content_digest_expr(text_col))
    nulls = d.filter(F.col("_dg").isNull()).drop("_dg")
    hasdg = d.filter(F.col("_dg").isNotNull())
    winners = hasdg.groupBy("_dg").agg(F.min(id_col).alias(id_col))
    kept = hasdg.join(winners, ["_dg", id_col], "left_semi")
    if prior_digests is not None:
        ledger = prior_digests.select(F.col("digest").alias("_dg"))
        kept = kept.join(ledger, "_dg", "left_anti")
    return kept.drop("_dg").unionByName(nulls)


def exact_dedup_ledger(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(digest): the distinct normalized-content digests of a corpus —
    the ledger incremental_dedup_exact anti-joins future batches
    against. Append each processed batch's ledger to the store (a
    digest is 32 hex chars; 10^12 docs ≈ tens of TB raw, bucketable
    by digest prefix for file-pruned anti-joins)."""
    from kglids_spark.operators.text import content_digest_expr

    return (
        df.select(content_digest_expr(text_col).alias("digest"))
        .filter(F.col("digest").isNotNull())
        .distinct()
    )


def _band_bucket_expr(num_perm: int, bands: int, hasher: str = "xxhash64"):
    """explode(array<struct(band, bh)>) over a ``sig`` column — the
    banding expression minhash_lsh_pairs uses, shared with the
    incremental path so both bucket identically. The band hash is
    xxhash64 over the band's min-hashes, or md5 over their
    concatenation for ``hasher="md5"``."""
    assert num_perm % bands == 0
    _check_hasher(hasher)
    rows_per_band = num_perm // bands

    def band_hash(cols):
        return F.md5(F.concat(*cols)) if hasher == "md5" else F.xxhash64(*cols)

    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    band_hash(
                        [F.col("sig")[i * rows_per_band + j] for j in range(rows_per_band)]
                    ).alias("bh"),
                )
                for i in range(bands)
            ]
        )
    )


def minhash_dedup_ledger(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig:array<long>): the MinHash signatures of a processed
    corpus — the ledger ``incremental_dedup_minhash`` screens future
    batches against (the near-dup analog of ``exact_dedup_ledger``).
    Append each batch's SURVIVOR signatures to the store; num_perm
    longs per doc ≈ 0.5 TB per 10^9 docs at the default 64
    permutations, bucketable by id for file-pruned reads. The
    (num_perm, shingle_n, seed) triple is part of the ledger's
    contract — signatures hashed under different parameters are
    incomparable, so persist them alongside the store and refuse
    mixed appends (the constraint_set_hash discipline)."""
    return minhash_signatures(df, text_col, id_col, num_perm, shingle_n, seed)


def incremental_dedup_minhash(
    new_docs: DataFrame,
    prior_sigs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    broadcast_batch: bool = True,
) -> DataFrame:
    """NEAR-dup dedup of a NEW ingestion batch against a previously
    processed corpus — the fuzzy half of the incremental-crawl
    discipline (``incremental_dedup_exact`` catches byte-identical
    re-crawls; this catches the reworded/boilerplate-shifted ones).
    Survivors are the new docs whose signature-estimated Jaccard
    (fraction of matching min-hashes) is < ``threshold`` against
    EVERY prior doc sharing an LSH band bucket — the exact candidate
    + verify semantics of ``minhash_lsh_pairs``, applied across the
    batch/ledger boundary, so survivors equal "batch ids forming no
    cross pair" in the full-corpus pair set (pinned by
    test_incremental_minhash_lockstep_vs_pairs).

    Docs with NULL/empty text have no signature, carry no content
    evidence, and all survive (the incremental_dedup_exact
    convention). WITHIN-batch near-dups are deliberately out of
    scope — compose ``fuzzy_dedup_survivors`` over the batch first.

    Plan: at 10^12 rows the ledger is the big side and the batch the
    small one, so the batch's band buckets (WITH signatures) broadcast
    and the ledger's bucket stream — a zero-shuffle map-side
    projection of the signature store — joins against them in place:
    the ledger is scanned ONCE and never shuffled, and the Jaccard
    verify runs inside the same map task because both signatures are
    already on the row. ``broadcast_batch=False`` drops the hint for
    a batch too large to broadcast (AQE then plans an exchange keyed
    on the 16-byte (band, bh))."""
    sigs_new = minhash_signatures(
        new_docs, text_col, id_col, num_perm, shingle_n, seed
    )
    if prior_sigs is None:
        return new_docs
    bucket = _band_bucket_expr(num_perm, bands)
    new_b = sigs_new.select("id", "sig", bucket.alias("b")).select(
        F.col("id").alias("_nid"),
        F.col("sig").alias("_nsig"),
        F.col("b.band").alias("band"),
        F.col("b.bh").alias("bh"),
    )
    old_b = prior_sigs.select("sig", bucket.alias("b")).select(
        F.col("sig").alias("_osig"),
        F.col("b.band").alias("band"),
        F.col("b.bh").alias("bh"),
    )
    probe = F.broadcast(new_b) if broadcast_batch else new_b
    est = F.size(
        F.filter(F.zip_with("_nsig", "_osig", lambda x, y: x == y), lambda v: v)
    ) / F.lit(float(num_perm))
    doomed = (
        old_b.join(probe, ["band", "bh"])
        .withColumn("_est", est)
        .filter(F.col("_est") >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new_docs.join(doomed, id_col, "left_anti")


def token_ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    hash_grams: bool = True,
) -> DataFrame:
    """Decontamination at the TOKEN level — the published protocol for
    pre-tokenized corpora (n-gram overlap on token ids, n=8..13),
    operating directly on the engine's (id, tokens:array<int>) input
    shape instead of text. Returns one row per corpus doc:
    (doc_id, n_grams, n_matched, contaminated) where n_grams counts
    the doc's DISTINCT token n-grams and n_matched those appearing
    anywhere in the benchmark; docs shorter than n tokens (or with
    NULL tokens) keep a row with both counts 0.

    Scale shape: grams build map-side by slicing the token array
    (array_distinct BEFORE the explode, so duplicate windows never
    leave the row); the benchmark's distinct gram set broadcasts
    (eval suites are tiny against a trillion-sequence corpus); the
    only corpus-wide shuffle is the map-side-combined per-doc count.
    ``hash_grams`` keys the join on ``xxhash64`` of the gram array
    (8-byte broadcast keys, production default); ``False`` joins the
    literal int arrays — what the DuckDB oracle mirrors."""
    elem = None
    for f in corpus.schema.fields:
        if f.name == tokens_col:
            elem = f.dataType
    if elem is None:
        raise ValueError(f"column {tokens_col!r} not in corpus")

    def gram_stream(df: DataFrame) -> DataFrame:
        t = F.col(tokens_col)
        windows = F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.slice(t, i + 1, n),
                )
            ),
        ).otherwise(F.array().cast(T.ArrayType(elem)))
        out = df.select(F.col(id_col).alias("id"), F.explode(windows).alias("g"))
        if hash_grams:
            out = out.select("id", F.xxhash64("g").alias("g"))
        return out

    bench_grams = (
        gram_stream(benchmark).select("g").distinct().withColumn("hit", F.lit(1))
    )
    # ONE pass over the corpus gram stream: the broadcast LEFT join
    # tags each gram with a hit marker, and a single map-side-combined
    # groupBy folds both counts — computing n_grams and n_matched from
    # separate branches would tokenize + explode the whole corpus twice
    # and add a second shuffle plus a doc-level SortMergeJoin between
    # the two aggregates (measured 1.7x slower at 500k docs).
    per_doc = (
        gram_stream(corpus)
        .join(F.broadcast(bench_grams), "g", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_matched"),
        )
    )
    all_ids = corpus.select(F.col(id_col).alias("id"))
    return (
        all_ids.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            (F.coalesce("n_matched", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over duplicate pairs → (id, cluster_id)
    where cluster_id is the MIN id in the component — the step that
    turns any pair family (exact / minhash / simhash / ngram /
    embedding) into keep-one-per-cluster dedup decisions.

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes min(own label, neighbors' labels, its
    LABEL's label); the label-chasing join halves label-tree depth per
    round (path doubling), so convergence is O(log(max component
    diameter)) rounds, not O(diameter) — a chain of 1000 dups converges
    in ~10 rounds. Each round is two hash joins + a groupBy on the
    PAIRS table (≪ corpus: only docs with a duplicate partner appear).

    Lineage discipline: the pointer-jump self-join references the
    previous labels frame FOUR times per round, so without truncation
    the logical plan grows ~4^rounds (measured: a 2^31-char plan string
    OOMed the driver at round ~6). Each round's result is therefore
    eagerly localCheckpoint-ed — plan depth stays O(1) — and the
    superseded rounds' checkpoint blocks are unpersisted via their
    LogicalRDD handles before returning, so only the returned frame's
    blocks remain (same no-leak discipline as similarity.k_hop_paths).
    Converged when no label changes.
    """
    edges = pairs.select(
        F.col(id1).alias("src"), F.col(id2).alias("dst")
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    interim = [labels]
    for _ in range(max_iters):
        neigh = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("src", "id")
        )
        stepped = (
            labels.join(neigh, "id", "left")
            .select("id", F.least("label", F.coalesce("nmin", "label")).alias("label"))
        )
        # pointer jumping: label := label(label)
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("label"), F.col("label").alias("ll")
                ).alias("t"),
                "label",
                "left",
            )
            .select(F.col("id"), F.least("label", F.coalesce("ll", "label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        interim.append(jumped)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    out = labels.select("id", F.col("label").alias("cluster_id")).localCheckpoint(
        eager=True
    )
    sym.unpersist()
    _release_local_checkpoints(interim)
    return out


def _release_local_checkpoints(frames) -> None:
    """Unpersist the checkpoint blocks behind eagerly localCheckpoint-ed
    DataFrames. A checkpointed frame's analyzed plan is a LogicalRDD
    whose ``rdd`` is the persisted (lineage-truncated) RDD; unpersisting
    it frees the blocks deterministically instead of waiting for the
    ContextCleaner. Only call on frames that are no longer needed."""
    for df in frames:
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getName().endswith("LogicalRDD"):
                plan.rdd().unpersist(False)
        except Exception:  # pragma: no cover - best-effort release
            pass


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    min_count: int = 2,
    hash_spans: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Exact duplicate-SPAN detection — the substring-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), hash-based distributed variant: every
    ``window``-word span occurring at >= ``min_count`` positions
    corpus-wide, with every position it occurs at. Doc-level dedup
    (exact_dup_groups) misses these; span hits are what drive
    train-set memorization of boilerplate and license headers.

    Returns (id, pos, span, n_occurrences): one row per occurrence of
    a duplicated span; ``pos`` is the 0-based word offset. Docs
    shorter than ``window`` words have no full span and are excluded.

    Scale: spans ride as int64 xxhash64 of the window's words (8-byte
    shuffle keys, no span-string allocation; ``hash_spans=False``
    switches to the exact strings for bit-portable oracles — results
    differ only on 64-bit collisions, pinned equal on the test corpus
    by test_duplicate_spans_hashed_twin_lockstep). Occurrence counts
    come from a map-side-combined groupBy — NOT a count-over-window,
    which has no partial aggregation and would funnel a boilerplate
    span's 10^8 occurrences through one task — and join back onto the
    span stream keyed on the same column, so AQE can plan/reuse the
    exchange. The reference has no substring dedup; nearest analog is
    its column-content hashing (SURVEY.md §2.6 F3/F4)."""
    base = df.select(
        F.col(id_col).alias("id"), split_words(text_col).alias("_ws")
    ).filter(F.size("_ws") >= window)
    grams = base.select(
        "id", F.posexplode(_zip_ngrams(F.col("_ws"), window)).alias("pos", "_g")
    )
    if hash_spans:
        key = F.xxhash64(*[F.col("_g")[str(k)] for k in range(window)])
    else:
        key = F.concat_ws(" ", *[F.col("_g")[str(k)] for k in range(window)])
    spans = grams.select("id", "pos", key.alias("span"))
    # both join sides read the span stream (count pass + probe pass);
    # without a persist each side re-scans the parquet and re-explodes
    # the corpus — measured 46.2 s vs 11.8 s warm (59.0 vs 41.4 cold)
    # at 500k docs. MEMORY_AND_DISK evicts gracefully when the span
    # stream outgrows executor memory (same tradeoff ngram_jaccard
    # documents: spill-to-disk beats decode-twice); the result — the
    # duplicated-occurrence stream, bounded by real duplicate mass —
    # is eagerly checkpointed so the corpus-sized persist releases
    # before return.
    from pyspark import StorageLevel

    if materialize:
        spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    out = spans.join(dup, "span").select(
        F.col("id").alias(id_col), "pos", "span", "n_occurrences"
    )
    if not materialize:
        # lazy, unpersisted variant: both join sides re-derive the
        # span stream (the double-scan the persist exists to avoid) —
        # for PLAN inspection (bench_plans/ snapshots, plan tests),
        # where a checkpointed result would read as Scan ExistingRDD
        # and make the structure guard vacuous
        return out
    out = out.localCheckpoint(eager=True)
    spans.unpersist()
    return out


def dup_span_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    min_count: int = 2,
    hash_spans: bool = True,
) -> DataFrame:
    """(id, n_spans, n_dup_spans, dup_fraction) per document — the
    filter signal pipelines actually threshold on ("drop docs whose
    duplicated-span share exceeds X", the document-level form of Lee
    et al.'s substring dedup; Gopher/Dolma use the same shape as
    'duplicate n-gram fraction').

    Same two-scan plan as duplicate_spans plus one per-doc aggregation
    of the (small) duplicated-occurrence stream; docs shorter than
    ``window`` words have no spans and report fraction 0.0 over 0
    spans. Left join keeps duplicate-free docs with n_dup_spans = 0."""
    base = df.select(
        F.col(id_col).alias("id"), split_words(text_col).alias("_ws")
    )
    totals = base.select(
        "id",
        F.greatest(F.size("_ws") - (window - 1), F.lit(0)).alias("n_spans"),
    )
    per_doc = (
        duplicate_spans(
            df,
            text_col=text_col,
            id_col=id_col,
            window=window,
            min_count=min_count,
            hash_spans=hash_spans,
        )
        .groupBy(F.col(id_col).alias("id"))
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        totals.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            # raw IEEE division, no rounding: int/int under 2^53 is
            # correctly-rounded float64, bit-identical across engines
            F.when(
                F.col("n_spans") > 0,
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    min_count: int = 2,
    hash_spans: bool = True,
    materialize: bool = True,
) -> DataFrame:
    """Duplicated-span REMOVAL — the rewrite half of Lee et al. 2022's
    substring dedup (duplicate_spans detects; this excises): every
    ``window``-word span occurring at >= ``min_count`` positions
    corpus-wide keeps exactly its FIRST occurrence — the minimum
    (doc_id, pos), corpus_line_dedup's keeper discipline — and every
    OTHER occurrence's words are cut from the rebuilt text.

    Returns (id, text_clean, n_words, n_removed_spans,
    n_removed_words): ``text_clean`` is the surviving NORMALIZED words
    re-joined by single spaces (spans are keyed on normalized words,
    so the rewrite is in the same space — the C4-line-dedup analog
    rebuilds raw lines because lines ARE its keys); ``n_removed_spans``
    counts excised span occurrences, ``n_removed_words`` the words cut
    (overlapping excised spans share words, so it can be less than
    spans * window). Every doc in ``df`` appears: dup-free docs pass
    through with 0 removals, NULL-text docs emit ('', NULL, 0, 0).

    Plan: the span stream (int64 xxhash64 keys; string twin for the
    oracle) persists once; one groupBy yields count + keeper min-struct
    (map-side-combined, O(1) buffer); non-keeper duplicated
    occurrences — bounded by real duplicate mass — aggregate to a
    per-doc sorted start list, which joins back (AQE broadcasts when
    small). The rewrite is map-side: sorted starts fold into merged
    disjoint [lo,hi] intervals (one pass), and the word filter probes
    those intervals — a wall-of-boilerplate doc collapses to ONE
    interval, so the per-doc cost is O(n_words * n_maximal_runs), not
    O(n_words * n_occurrences)."""
    from pyspark import StorageLevel

    base = df.select(
        F.col(id_col).alias("id"), split_words(text_col).alias("_ws")
    )
    spans_src = base.filter(F.size("_ws") >= window).select(
        "id", F.posexplode(_zip_ngrams(F.col("_ws"), window)).alias("pos", "_g")
    )
    if hash_spans:
        key = F.xxhash64(*[F.col("_g")[str(k)] for k in range(window)])
    else:
        key = F.concat_ws(" ", *[F.col("_g")[str(k)] for k in range(window)])
    spans = spans_src.select("id", "pos", key.alias("span"))
    if materialize:
        spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
    stats = (
        spans.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("id", "pos")).alias("keeper"),
        )
        .filter(F.col("n_occ") >= min_count)
    )
    doomed = (
        spans.join(stats, "span")
        .filter(
            (F.col("keeper.id") != F.col("id")) | (F.col("keeper.pos") != F.col("pos"))
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )
    w = F.lit(window)
    starts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    # fold sorted starts into merged disjoint intervals: each start s
    # covers [s, s+window-1]; a start inside-or-adjacent-to the open
    # interval extends it, otherwise a new interval opens
    empty = F.array().cast("array<struct<lo:int,hi:int>>")
    merged = F.aggregate(
        starts,
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        F.greatest(F.element_at(acc, -1)["hi"], s + w - 1).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(s.alias("lo"), (s + w - 1).alias("hi"))))
        ),
    )
    joined = base.join(doomed, "id", "left").withColumn("_iv", merged)
    kept = F.filter(
        F.col("_ws"),
        lambda x, i: ~F.exists(
            F.col("_iv"), lambda m: (i >= m["lo"]) & (i <= m["hi"])
        ),
    )
    out = joined.select(
        F.col("id").alias(id_col),
        F.coalesce(F.array_join(kept, " "), F.lit("")).alias("text_clean"),
        F.size("_ws").alias("n_words"),
        F.coalesce(F.size("_starts"), F.lit(0)).alias("n_removed_spans"),
        F.coalesce(F.size("_ws") - F.size(kept), F.lit(0)).alias("n_removed_words"),
    )
    if not materialize:
        return out
    out = out.localCheckpoint(eager=True)
    spans.unpersist()
    return out


def fuzzy_dedup_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """The standard fuzzy-dedup workflow in ONE call: MinHash-LSH
    candidate pairs → connected-component clustering → keep the MIN id
    per cluster. Returns the surviving rows of ``df`` unchanged (plus
    nothing — this is a filter), so it drops into a pipeline between
    cleaning and tokenization.

    Pure composition of the oracled pieces (minhash_lsh_pairs,
    dup_clusters), so its correctness rides their value-exact oracles
    and the composition test; the doomed set is (cluster members with
    id != cluster_id), removed by a single left_anti join — the
    duplicate mass never rides through the driver."""
    pairs = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        seed=seed,
    )
    clusters = dup_clusters(pairs)
    doomed = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(doomed, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    prune near-duplicates WITHIN each cluster only — the clustering is
    what makes semantic dedup tractable at corpus scale, shrinking the
    pairwise search from O(n²) global to Σ O(|cluster|²).

    Returns the SURVIVORS (id, cluster): within a cluster, any doc
    whose cosine to a lower-id doc meets ``threshold`` is pruned, so
    exactly the cluster-local minima of each near-dup relation remain
    (the standard keep-lowest-id policy; same convention as
    embedding_near_dup_pairs consumers). Null / wrong-dimension
    vectors get a NULL cluster from kmeans_assign and are kept — they
    carry no evidence of duplication.

    Scale design: assignment is map-side (broadcast codebook — numpy
    matmul beyond 16 centroids). The pruning stage shuffles each
    cluster to ONE applyInPandas group and does the pairwise search as
    a numpy normalize + GEMM (U @ U.T) on the cluster matrix — the
    published algorithm's actual kernel. The first version expressed
    the pair stage as a cluster-blocked self-join with a higher-order
    cosine expression; at 50k vectors / 64 clusters (~19M pairs) that
    ran >9 min because higher-order lambdas evaluate interpreted,
    while the GEMM form finishes in seconds (the same lesson as round
    3's per-gram re-split, measured by bench_families.py — this is
    why the family bench exists). Only the DOOMED ids leave the
    worker, so shuffle output is bounded by the duplicate mass. Each
    cluster must fit one task's memory (m×m float32 scores): choose k
    so m = n/k is ~10³-10⁴, and for stragglers compose an LSH block
    (ann.lsh_bucket_expr) into the grouping key. The doomed-id set
    stays a DataFrame (left_anti join), never a driver collect."""
    import pandas as pd

    from kglids_spark.operators.ann import kmeans_assign

    assigned = kmeans_assign(df, centroids, vec_col=vec_col, out_col="_sem_cluster")
    in_cluster = assigned.filter(F.col("_sem_cluster").isNotNull())

    id_type = df.schema[id_col].dataType.simpleString()

    def _doomed(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"_doomed_id": pdf["_sid"][:0]})
        order = np.argsort(pdf["_sid"].to_numpy(), kind="stable")
        ids = pdf["_sid"].to_numpy()[order]
        V = np.stack(pdf["_sv"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        U = V / norms
        m = len(ids)
        doomed = np.zeros(m, dtype=bool)
        # blocked GEMM: score block memory capped at ~256 MB so a
        # skewed giant cluster degrades to more block passes instead
        # of an m×m allocation (m=50k would be a 20 GB matrix)
        block = max(1, int(32_000_000 // m))
        col_idx = np.arange(m)[None, :]
        for s in range(0, m, block):
            e = min(s + block, m)
            S = U[s:e] @ U.T
            # round before comparing so the decision is bit-stable
            # across engines (the DuckDB oracle mirrors the same 5-dp
            # rounding; GEMM vs per-pair summation differ only in the
            # last ulps)
            np.round(S, 5, out=S)
            hit = (S >= threshold) & (col_idx > np.arange(s, e)[:, None])
            doomed |= hit.any(axis=0)
        return pd.DataFrame({"_doomed_id": ids[doomed]})

    doomed = (
        in_cluster.select(
            F.col(id_col).alias("_sid"),
            F.col(vec_col).alias("_sv"),
            "_sem_cluster",
        )
        .groupBy("_sem_cluster")
        .applyInPandas(_doomed, f"_doomed_id {id_type}")
        .withColumnRenamed("_doomed_id", id_col)
    )
    return assigned.join(doomed, id_col, "left_anti").select(
        F.col(id_col), F.col("_sem_cluster").alias("cluster")
    )
