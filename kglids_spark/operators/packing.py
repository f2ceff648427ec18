"""Sequence packing: assign documents to fixed-capacity training bins.

A 10^12-token pretraining pipeline packs tokenized documents into
fixed-length context windows (e.g. 8192 tokens). The natural layout is
a GLOBAL running sum of n_tok in a deterministic document order, with
bin_id = floor(running_sum_before_doc / seq_len) — but a naive
``Window.orderBy(...)`` with no partition key collapses the whole table
into ONE task (Spark warns WindowExec: "No Partition Defined"), which
is a non-starter at scale.

Scale design — the classic two-phase distributed prefix sum:
1. per-bucket partial sums: one map-side-combined groupBy over the
   logical buckets (plans/buckets.bucket_expr ordering is NOT used here
   — packing needs a TOTAL order, so buckets are contiguous ranges of
   the sort key, derived from a deterministic hash prefix);
2. the n_buckets partial sums (tiny) come to the driver, a running
   offset per bucket is computed and joined back (broadcast);
3. intra-bucket running sums use a per-bucket window (parallel across
   buckets), + the bucket's offset = the exact global prefix sum.

The result is identical to the single-task global window for any
bucket count (tested), so verdict-style identity holds under N vs 4N
parallelism.

No reference analog (the reference profiles CSV lakes, it does not
build training batches); this is part of the beyond-reference
training-pipeline family (driver brief), next to dedup/ANN/text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_RANGE_BUCKETS = 256


def _order_key(key: str) -> F.Column:
    # deterministic, data-independent total order: hash of the doc key
    # (spreads adjacent source docs across bins — the usual shuffle-
    # before-pack); ties broken by the key itself. The unsigned shift
    # keeps the key non-negative so Spark's SIGNED long sort agrees
    # with the top-bits range bucketing below.
    return F.shiftrightunsigned(F.xxhash64(F.col(key)), 1)


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    *,
    key: str = "doc_id",
    n_tok_col: str = "n_tok",
    n_buckets: int = DEFAULT_RANGE_BUCKETS,
    order_col: F.Column | None = None,
    bucket_col: F.Column | None = None,
) -> DataFrame:
    """Assign each document the training bin where it STARTS under
    greedy concatenation in a deterministic global order.

    Returns the input columns + ``pack_offset`` (global token offset of
    the document's first token) + ``bin_id`` (= pack_offset // seq_len)
    + ``bin_pos`` (token offset within the bin). Documents may span
    bins (offset + n_tok can cross a boundary) — splitting is the
    reader's job; the assignment here is exact and total-order stable.

    Custom ordering: pass ``order_col`` (any orderable type) together
    with ``bucket_col``, a coarse int key that is MONOTONE in
    ``order_col`` (every row of bucket b sorts before every row of
    b+1) — e.g. an md5-hex order with its first byte as bucket for a
    cross-engine-portable layout. Default: xxhash64-derived order with
    top-16-bit range buckets.
    """
    if (order_col is None) != (bucket_col is None):
        raise ValueError("order_col and bucket_col must be passed together")
    if order_col is None:
        okey = _order_key(key)
        # contiguous range buckets over the hash order: the top 16 bits
        # of the 63-bit order key → bucket b holds exactly the keys
        # that sort between buckets b-1 and b+1 (monotone in okey), so
        # per-bucket sums compose into a global prefix
        top16 = F.shiftrightunsigned(okey, 63 - 16)  # [0, 2^16)
        bkt = F.floor(top16 * n_buckets / (1 << 16)).cast("int")
    else:
        okey, bkt = order_col, bucket_col.cast("int")
    df_b = df.withColumn("_pack_bucket", bkt).withColumn("_okey", okey)

    # phase 1: per-bucket totals (map-side combined; n_buckets rows)
    totals = (
        df_b.groupBy("_pack_bucket")
        .agg(F.sum(n_tok_col).alias("_bucket_tokens"))
        .collect()
    )
    # phase 2: driver-side running offsets over the observed buckets
    # (plans/offsets.py — sorted numpy exclusive cumsum, no Python
    # loop; see test_packing large-bucket property test)
    from kglids_spark.plans.offsets import exclusive_offsets

    offs = exclusive_offsets(
        [(r._pack_bucket, int(r._bucket_tokens or 0)) for r in totals]
    )
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(offs, "_pack_bucket int, _bucket_offset long")
    )

    # phase 3: intra-bucket exclusive running sum (parallel windows)
    w = (
        Window.partitionBy("_pack_bucket")
        .orderBy("_okey", key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(n_tok_col).over(w), F.lit(0))
    out = (
        df_b.join(off_df, "_pack_bucket")
        .withColumn("pack_offset", (F.col("_bucket_offset") + within).cast("long"))
        # integral `div`, NOT `/`: long / int is double-valued in Spark
        # and loses exactness past ~2^53 — at which point bin_id stops
        # matching floor(pack_offset / seq_len) and the row lands in
        # the wrong bin
        .withColumn("bin_id", F.expr(f"pack_offset div {int(seq_len)}"))
        .withColumn("bin_pos", F.pmod(F.col("pack_offset"), F.lit(seq_len)).cast("int"))
        .drop("_pack_bucket", "_okey", "_bucket_offset")
    )
    return out


def bin_fill_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-bin packing diagnostics: docs starting in the bin and tokens
    contributed by those docs (> seq_len means the tail spills into the
    next bin; the packer allows spanning)."""
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("docs_started"),
            F.sum("n_tok").alias("tokens_started"),
            F.min("bin_pos").alias("first_pos"),
        )
        .withColumn("capacity", F.lit(seq_len))
    )


def chunk_sequences(
    df: DataFrame,
    max_len: int,
    stride: int | None = None,
    min_len: int = 1,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Split each token sequence into fixed-length windows — the
    universal pre-packing step for documents longer than the model
    context (disjoint chunks at the default stride = max_len;
    overlapping sliding windows at stride < max_len, the standard
    eval/perplexity protocol). Returns
    (id, chunk_id, tokens, n_tok) with chunk_id 0-based in document
    order; trailing chunks shorter than ``min_len`` are dropped.
    NULL/empty token arrays yield no chunks.

    Pure map-side expression — chunk starts come from ``sequence``
    over the ONCE-projected token array (the split_words discipline),
    each chunk is a ``slice``, and the explode emits rows where the
    input partition lives. Zero shuffle."""
    if max_len <= 0:
        raise ValueError(f"max_len must be positive, got {max_len}")
    if stride is None:
        stride = max_len
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    if not 1 <= min_len <= max_len:
        raise ValueError(f"min_len must be in [1, {max_len}], got {min_len}")
    base = df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("_t"))
    t = F.col("_t")
    starts = F.when(
        F.size(t) >= 1, F.sequence(F.lit(0), F.size(t) - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.filter(
        F.transform(starts, lambda s: F.slice(t, s + 1, max_len)),
        lambda c: F.size(c) >= min_len,
    )
    out = base.select(
        "id", F.posexplode(chunks).alias("chunk_id", tokens_col)
    )
    return out.select(
        F.col("id").alias(id_col),
        "chunk_id",
        tokens_col,
        F.size(tokens_col).alias("n_tok"),
    )


def materialize_bins(
    df: DataFrame,
    seq_len: int,
    *,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    n_buckets: int = DEFAULT_RANGE_BUCKETS,
    order_col: F.Column | None = None,
    bucket_col: F.Column | None = None,
) -> DataFrame:
    """Build the actual fixed-length training windows pack_sequences
    only ASSIGNS: concatenate the token arrays in the deterministic
    pack order and cut the stream every ``seq_len`` tokens, documents
    spanning bins split at the boundary. This is the final
    batch-construction step before a training run — the reader
    consumes (bin_id, tokens) rows of exactly seq_len tokens (the last
    bin may be shorter) plus the per-bin document spans it needs for
    attention masking / loss boundaries across concatenated documents.

    Returns (bin_id, tokens, n_tok, n_docs, span_docs, span_starts,
    span_lens) with the spans sorted by position; parallel arrays
    rather than array<struct> so the row hashes identically across
    engines. Documents with empty/NULL token arrays contribute no
    tokens and are excluded (they occupy zero stream positions).

    Scale shape: the offsets come from pack_sequences' two-phase
    prefix sum (never a single-task window); each document then emits
    its ≤ ceil(L/seq_len)+1 bin pieces MAP-SIDE (sequence + slice over
    the once-projected array), and the only corpus-sized shuffle is
    the groupBy(bin_id) that brings each bin's ~seq_len tokens
    together — the minimum any window builder must move. Bin contents
    tile the bin contiguously, so array_sort on (start, doc, piece)
    structs is deterministic with unique starts."""
    # normalize n_tok BEFORE the prefix sum: size(NULL) is -1 under
    # Spark's legacy (non-ANSI) semantics and NULL under ANSI — either
    # would corrupt every later document's offset (a -1 shifts the
    # running sum; the clamp makes NULL-token docs occupy exactly zero
    # stream positions, as documented)
    df = df.withColumn(
        n_tok_col, F.greatest(F.col(n_tok_col).cast("long"), F.lit(0))
    )
    packed = pack_sequences(
        df,
        seq_len,
        key=key,
        n_tok_col=n_tok_col,
        n_buckets=n_buckets,
        order_col=order_col,
        bucket_col=bucket_col,
    )
    S = F.lit(int(seq_len))
    o = F.col("pack_offset")
    L = F.col(n_tok_col).cast("long")
    t = F.col(tokens_col)
    # bins spanned: floor(o/S) .. floor((o+L-1)/S); pack_sequences
    # already materialized the first as bin_id (integral div)
    b_last = F.expr(f"(pack_offset + cast({n_tok_col} as bigint) - 1) div {int(seq_len)}")

    def _piece(b):
        gstart = F.greatest(o, b * S)  # global stream position
        gend = F.least(o + L, (b + 1) * S)
        return F.struct(
            b.alias("b"),
            (gstart - b * S).cast("int").alias("start"),
            F.slice(t, (gstart - o + 1).cast("int"), (gend - gstart).cast("int")).alias(
                "piece"
            ),
        )

    pieces = F.transform(F.sequence(F.col("bin_id"), b_last), _piece)
    expl = (
        packed.where(L >= 1)
        .select(F.col(key).alias("_doc"), F.explode(pieces).alias("_p"))
        .select(
            F.col("_p.b").alias("bin_id"),
            F.col("_p.start").alias("_start"),
            F.col("_doc"),
            F.col("_p.piece").alias("_piece"),
        )
    )
    agg = expl.groupBy("bin_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_start"), F.col("_doc"), F.col("_piece")))
        ).alias("_ps")
    )
    ps = F.col("_ps")
    return agg.select(
        "bin_id",
        F.flatten(F.transform(ps, lambda p: p["_piece"])).alias(tokens_col),
        F.transform(ps, lambda p: p["_doc"]).alias("span_docs"),
        F.transform(ps, lambda p: p["_start"]).alias("span_starts"),
        F.transform(ps, lambda p: F.size(p["_piece"]).cast("int")).alias("span_lens"),
    ).select(
        "bin_id",
        tokens_col,
        F.size(tokens_col).cast("int").alias("n_tok"),
        F.size("span_docs").cast("int").alias("n_docs"),
        "span_docs",
        "span_starts",
        "span_lens",
    )


def lm_examples(
    bins: DataFrame,
    *,
    tokens_col: str = "tokens",
    mask_id: int = -100,
) -> DataFrame:
    """Turn materialize_bins windows into causal-LM training examples:
    ``input_ids`` (the window), ``labels`` (next token, with positions
    whose successor belongs to a DIFFERENT document masked to
    ``mask_id`` — the standard cross-document loss mask over packed
    windows, so the model never learns to predict doc B's first token
    from doc A's last), and ``segment_ids`` (0-based span index per
    position, the input attention-isolation kernels consume).

    The window's last position is always masked (no successor). Pure
    zero-shuffle array expressions over the span arrays
    materialize_bins already emits — the indexed-lambda transform
    keeps everything in whole-stage codegen, no explode, no Python."""
    t = F.col(tokens_col)
    seg = F.flatten(
        F.transform(
            F.col("span_lens"),
            lambda ln, i: F.array_repeat(i.cast("int"), ln),
        )
    )
    bins_s = bins.withColumn("segment_ids", seg)
    s = F.col("segment_ids")
    n = F.size(t)
    labels = F.transform(
        t,
        lambda x, i: F.when(
            (i < n - 1) & (F.element_at(s, i + 2) == F.element_at(s, i + 1)),
            F.element_at(t, i + 2),
        ).otherwise(F.lit(int(mask_id)).cast("bigint")),
    )
    return bins_s.select(
        "bin_id",
        t.alias("input_ids"),
        labels.alias("labels"),
        "segment_ids",
        F.col("n_tok"),
    )


def span_corruption_examples(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    span_len: int = 3,
    noise_pct: int = 15,
    sentinel_base: int = 100_000,
) -> DataFrame:
    """T5-style span-corruption (denoising) examples — the
    encoder-decoder twin of lm_examples: fixed-length token spans are
    selected for masking, each masked span is replaced by ONE sentinel
    id in ``input_ids`` (sentinel_base - k for the k-th masked span,
    the <extra_id_k> convention), and ``labels`` is the concatenation
    sentinel_0 span_0 sentinel_1 span_1 ... closed by the
    next-unused sentinel as EOS (Raffel et al. 2020 §3.1.4).

    Deterministic, engine-portable noise: block b of a document is
    masked iff the first 8 hex digits of md5(id ':' b), read as an
    integer, fall under ``noise_pct`` % 100 — reproducible across
    runs, partitionings, and engines (the md5-twin convention), with
    expected mask density noise_pct/100. Pure zero-shuffle array
    expressions: blocks/flags/pieces project once, the span index k is
    a prefix count over the flag array — O(blocks²) element touches
    per document, so run this AFTER chunk_sequences bounds documents
    to the model context (T5's own order of operations: examples are
    corrupted at input length, ~171 blocks at 512/3 — trivial; an
    unchunked book would not be). Returns
    (id, input_ids, labels, n_tok, n_masked_spans)."""
    if span_len <= 0:
        raise ValueError(f"span_len must be positive, got {span_len}")
    if not 0 <= noise_pct <= 100:
        raise ValueError(f"noise_pct must be in [0, 100], got {noise_pct}")
    t = F.col("_t")
    n = F.size(t)
    nblk = F.expr(f"(size(_t) + {span_len - 1}) div {span_len}")
    bs = F.when(n >= 1, F.sequence(F.lit(0), nblk - 1)).otherwise(
        F.array().cast("array<long>")
    )
    base = df.select(
        F.col(id_col), F.col(tokens_col).alias("_t")
    ).withColumn("_bs", bs)
    hash8 = lambda b: F.conv(  # noqa: E731 — md5-twin block selector
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":"), b.cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    staged = base.withColumn(
        "_flags", F.transform(F.col("_bs"), lambda b: hash8(b) % 100 < noise_pct)
    ).withColumn(
        "_pieces",
        F.transform(
            F.col("_bs"), lambda b: F.slice(t, (b * span_len + 1).cast("int"), span_len)
        ),
    )
    flags, pieces = F.col("_flags"), F.col("_pieces")
    # k(b): 0-based index of masked block b among masked blocks =
    # prefix count of set flags up to b (inclusive) minus one
    k_of = lambda i: (  # noqa: E731
        F.size(F.filter(F.slice(flags, 1, (i + 1).cast("int")), lambda x: x)) - 1
    )
    sent = lambda k: (F.lit(int(sentinel_base)) - k).cast("bigint")  # noqa: E731
    input_ids = F.flatten(
        F.transform(
            F.col("_bs"),
            lambda b, i: F.when(
                F.element_at(flags, (i + 1).cast("int")), F.array(sent(k_of(i)))
            ).otherwise(F.element_at(pieces, (i + 1).cast("int"))),
        )
    )
    label_spans = F.flatten(
        F.transform(
            F.col("_bs"),
            lambda b, i: F.when(
                F.element_at(flags, (i + 1).cast("int")),
                F.concat(
                    F.array(sent(k_of(i))), F.element_at(pieces, (i + 1).cast("int"))
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )
    )
    n_masked = F.size(F.filter(flags, lambda x: x))
    return staged.select(
        F.col(id_col),
        input_ids.alias("input_ids"),
        F.concat(label_spans, F.array(sent(n_masked))).alias("labels"),
        # NULL token arrays behave like empty ones (no blocks, EOS-only
        # labels); greatest clamps size(NULL) = -1 to 0
        F.greatest(n, F.lit(0)).cast("int").alias("n_tok"),
        n_masked.cast("int").alias("n_masked_spans"),
    )


def truncation_stats(
    df: DataFrame,
    seq_lens: list[int],
    len_col: str = "n_tok",
) -> DataFrame:
    """Pick-your-seq_len analytic: for each candidate window length L,
    one row (seq_len, n_docs, docs_truncated, total_tokens,
    tokens_kept_truncate, kept_frac, n_chunks) quantifying what the
    two standard batch-construction strategies cost at that L —
    truncate-at-L loses ``total_tokens − tokens_kept_truncate`` tokens
    (Σ min(n_tok, L)), chunk-at-L (chunk_sequences / pack_sequences
    keep everything) emits ``n_chunks`` = Σ ceil(n_tok / L) windows.
    The curve across L is what you consult BEFORE committing a corpus
    to a training window size.

    One map-side-combined aggregation computes every L's cells in a
    single scan of the length column (conditional sums, one per
    candidate L — a handful, unlike a histogram's many cells, so no
    explode and no shuffle beyond the 1-row reduction); the per-L rows
    are then a driver-side unpivot of that single row. NULL lengths
    are excluded everywhere (not_null's job)."""
    if not seq_lens:
        raise ValueError("seq_lens must name at least one candidate length")
    if any(int(s) <= 0 for s in seq_lens):
        raise ValueError(f"seq_lens must be positive, got {sorted(seq_lens)}")
    n = F.col(len_col).cast("long")
    aggs = [
        F.count(n).alias("n_docs"),
        F.coalesce(F.sum(n), F.lit(0)).alias("total_tokens"),
    ]
    for s in sorted(set(int(s) for s in seq_lens)):
        L = F.lit(s)
        aggs.append(
            F.coalesce(F.sum((n > L).cast("long")), F.lit(0)).alias(f"tr_{s}")
        )
        # least() SKIPS nulls (least(NULL, L) = L), which would credit
        # every NULL length with L kept tokens — gate on isNotNull so
        # NULLs stay excluded like everywhere else
        aggs.append(
            F.coalesce(
                F.sum(F.when(n.isNotNull(), F.least(n, L))), F.lit(0)
            ).alias(f"kept_{s}")
        )
        aggs.append(
            F.coalesce(F.sum(F.ceil(n / L)), F.lit(0)).alias(f"ch_{s}")
        )
    row = df.agg(*aggs).collect()[0]
    out = [
        (
            s,
            int(row["n_docs"]),
            int(row[f"tr_{s}"]),
            int(row["total_tokens"]),
            int(row[f"kept_{s}"]),
            (
                float(row[f"kept_{s}"]) / float(row["total_tokens"])
                if row["total_tokens"]
                else None
            ),
            int(row[f"ch_{s}"]),
        )
        for s in sorted(set(int(s) for s in seq_lens))
    ]
    return df.sparkSession.createDataFrame(
        out,
        "seq_len long, n_docs long, docs_truncated long, total_tokens long, "
        "tokens_kept_truncate long, kept_frac double, n_chunks long",
    )
