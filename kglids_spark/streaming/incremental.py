"""Incremental validation with Structured Streaming.

The reference is batch-only (SURVEY.md §2.8); its closest incremental
behaviors are skip-existing-profiles (profile_data.py:66-84) and the
on-demand Flask profiler (kglids_server.py:70-99). This module gives
the engine a streaming ingestion path anyway, because a 10^12-row
training table is appended continuously in practice:

- validate_stream: file-source stream over a tokens directory →
  foreachBatch(validate) → each micro-batch appends verdicts to the
  same resumable ledger as batch runs. Known defect: the ledger's
  resume is keyed on (suite, bucket) only, so once an epoch has
  completed every bucket, the rows of later epochs that fall in those
  buckets are NOT validated (ROADMAP direction 2; epoch 1's rows are
  skipped with ``buckets_this_run=0``).
- windowed_event_counts: watermarked tumbling-window aggregation, the
  canonical late-data pattern, used by tests as a streaming smoke.
- stateful_sessionize: custom stateful operator via
  applyInPandasWithState — per-user session counting with an explicit
  cross-batch state struct (the batch twin is entry_queries
  sessionize_events, lag + gap-flag cumsum).

Every foreachBatch monitor shares one epoch discipline: the query
starts in ``_start_stream`` (file-source read, stream checkpoint,
drain-and-stop when ``trigger_once``); each output is written by
``_write_epoch``, a dynamic overwrite of the epoch's own partition,
so an at-least-once replay of a batch replaces its output instead of
duplicating it; and earlier epochs' output is read back only through
``_read_epochs``, which treats a missing or still-empty output folder
as "no earlier epoch" and raises on anything else.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators.validate import validate
from kglids_spark.session import local_frame
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import TOKENS_SCHEMA


def _start_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    process,
    checkpoint_dir: str,
    trigger_once: bool,
    max_files_per_trigger: int | None = None,
):
    """Start ``foreachBatch(process)`` over new parquet files in
    ``input_dir``; returns the StreamingQuery (caller stops it)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    writer = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_epoch(frame: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``frame`` as the ``epoch=epoch_id`` partition of ``path``,
    replacing only that partition: a replayed batch overwrites its own
    output and leaves every other epoch's untouched."""
    frame.withColumn("epoch", F.lit(int(epoch_id)).cast("long")).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("epoch").parquet(path)


def _read_epochs(spark: SparkSession, path: str) -> DataFrame | None:
    """Earlier epochs' output at ``path``, or None before the first
    epoch has written any: the folder is missing, or holds no data file
    yet (a crash inside epoch 0's first write). Any other failure — a
    torn footer, a listing error — raises: reading it as "no earlier
    epoch" would silently reset the state derived from it."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as ex:
        # getCondition is Spark 4's name (getErrorClass its deprecated
        # alias); message text changes between versions
        if ex.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def validate_stream(
    spark: SparkSession,
    input_dir: str,
    ledger_root: str,
    constraints: list[C.Constraint],
    checkpoint_dir: str,
    n_buckets: int = 64,
    trigger_once: bool = True,
):
    """Stream new parquet files from ``input_dir`` through the batch
    validator. Returns the StreamingQuery (caller stops it)."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        ledger = TableStore(batch_df.sparkSession, ledger_root)
        validate(
            batch_df,
            constraints,
            n_buckets=n_buckets,
            ledger=ledger,
            run_id=f"stream-epoch-{epoch_id}",
            extract_violation_rows=False,
        )

    return _start_stream(
        spark, input_dir, TOKENS_SCHEMA, process, checkpoint_dir, trigger_once
    )


def stateful_sessionize(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-user session counts as a custom stateful streaming operator
    (applyInPandasWithState). State per user = (last event epoch,
    sessions so far, events so far); a new session starts when the gap
    from the previous event exceeds ``gap_seconds``. Each micro-batch
    emits the user's running totals (update semantics) — on a fully
    drained, time-ordered input the final row per user equals the
    batch lag+cumsum sessionization (entry_queries.sessionize_events).

    The per-batch work is vectorized numpy over the Arrow batch (diff
    against the previous-event epoch), not a per-row Python loop; the
    state struct is what Spark checkpoints, so a restarted stream
    resumes session counting without reprocessing history.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            ts = pdf["ts"].to_numpy().astype("datetime64[s]").astype("int64")
            first_prev = ts[0] - gap_seconds - 1 if last_ts is None else last_ts
            prev = np.concatenate(([first_prev], ts[:-1]))
            n_sessions += int((ts - prev > gap_seconds).sum())
            n_events += len(ts)
            last_ts = int(ts[-1])
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_ts long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_exact(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for continuously-ingested corpora:
    normalize → md5 content digest → ``dropDuplicatesWithinWatermark``
    on the digest. State is BOUNDED — Spark evicts digest state older
    than the watermark, so this holds on an unbounded stream where a
    plain ``dropDuplicates`` would grow state forever; duplicates
    arriving within the watermark of the first copy are dropped
    exactly, later re-arrivals are a documented (and at training-data
    scale, desired-cheap) miss that the periodic batch pass
    (dedup.exact_duplicates, its batch twin) catches. Emits the first
    arrival of each digest unchanged."""
    from kglids_spark.operators.text import content_digest_expr

    s = docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "digest", content_digest_expr(F.col(text_col))
    )
    return s.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["digest"])


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the standard
    late-data-tolerant streaming aggregate."""
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def fd_monitor_stream(
    rows_stream: DataFrame,
    determinant: str,
    dependent: str,
) -> DataFrame:
    """Incremental functional-dependency monitor: per determinant key,
    stateful (lo, hi) bounds over the non-null dependent values seen so
    far (applyInPandasWithState) — a violation surfaces the moment any
    batch makes lo != hi, INCLUDING cross-batch contradictions the
    per-batch twin (constraints.fd_violating_groups on the batch) cannot
    see. Emits (determinant, violated, n_rows) updates per key per
    batch; state per key is two strings, so memory is
    O(distinct determinants), the same bound the batch evaluator's
    groupBy carries.

    This is the streaming face of the batch ``fd`` constraint kind
    (validate.py) — the batch path re-evaluates globally per run; this
    localizes WHICH ingestion batch first broke the dependency. NULL
    determinants: Spark's groupBy-with-state keys NULL like GROUP BY,
    matching the batch semantics; NULL dependents carry no evidence and
    are filtered before grouping."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if determinant in ("violated", "n_rows"):
        raise ValueError(
            f"determinant column {determinant!r} collides with the "
            "monitor's output columns — rename it upstream"
        )

    def fn(key, pdfs, state):
        lo, hi, n = state.get if state.exists else (None, None, 0)
        for pdf in pdfs:
            vals = pdf[dependent].dropna()
            n += len(pdf)
            if len(vals):
                bmin, bmax = str(vals.min()), str(vals.max())
                lo = bmin if lo is None or bmin < lo else lo
                hi = bmax if hi is None or bmax > hi else hi
        state.update((lo, hi, n))
        yield pd.DataFrame(
            {
                determinant: [key[0]],
                "violated": [lo is not None and lo != hi],
                "n_rows": [n],
            }
        )

    src = rows_stream.filter(F.col(dependent).isNotNull()).select(
        F.col(determinant), F.col(dependent).cast("string").alias(dependent)
    )
    det_type = rows_stream.schema[determinant].dataType.simpleString()
    # backtick-quote the interpolated name: a determinant like
    # 'user-id' or 'order col' is a legal DataFrame column but would
    # fail bare-DDL parsing
    quoted = f"`{determinant}`"
    return src.groupBy(determinant).applyInPandasWithState(
        fn,
        outputStructType=f"{quoted} {det_type}, violated boolean, n_rows long",
        stateStructType="lo string, hi string, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_filter_stream(
    spark: SparkSession,
    input_dir: str,
    weights: dict,
    bias: float,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "xxhash64",
    buckets: int = 8192,
    md5_width: int = 2,
    trigger_once: bool = True,
):
    """Streaming quality gate: each ingestion micro-batch is scored
    under a FIXED pre-trained hashed-n-gram LR model
    (quality_classifier.score_quality_lr — the model was fit offline
    by train_quality_lr and broadcasts into every batch), surviving
    documents (quality_prob >= threshold) land under
    ``out_dir``/docs and a one-row verdict (epoch, n_docs, n_kept,
    mean_prob) under ``out_dir``/verdicts — so a quality regression is
    localized to the ingestion batch that shipped it, which the batch
    scorer (a whole-table statement) cannot do.

    foreachBatch keeps the scoring in the batch engine (the per-doc
    aggregation is map-side-combined; no streaming state grows); both
    outputs are epoch-partitioned (module docstring)."""
    from kglids_spark.operators.quality_classifier import score_quality_lr

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        scored = score_quality_lr(
            batch_df,
            weights,
            bias,
            text_col=text_col,
            id_col=id_col,
            hasher=hasher,
            buckets=buckets,
            md5_width=md5_width,
        )
        joined = batch_df.join(scored, id_col)
        kept = joined.filter(F.col("quality_prob") >= threshold)
        _write_epoch(kept, epoch_id, f"{out_dir}/docs")
        row = joined.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("quality_prob") >= threshold).cast("long")
            ).alias("n_kept"),
            F.avg("quality_prob").alias("mean_prob"),
        ).collect()[0]
        verdict = local_frame(
            sess,
            [
                (
                    int(row.n_docs),
                    int(row.n_kept or 0),
                    float(row.mean_prob) if row.mean_prob is not None else None,
                )
            ],
            "n_docs long, n_kept long, mean_prob double",
        )
        _write_epoch(verdict, epoch_id, f"{out_dir}/verdicts")

    schema = spark.read.parquet(input_dir).schema
    return _start_stream(spark, input_dir, schema, process, checkpoint_dir, trigger_once)


def near_dup_filter_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    trigger_once: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming incremental NEAR-dup gate: each ingestion micro-batch
    is screened against the MinHash-signature ledger of everything the
    stream has already admitted (dedup.incremental_dedup_minhash —
    LSH band-bucket candidates + signature-Jaccard verify), then
    within-batch near-dups collapse to their keep-min-id survivor
    (dedup.fuzzy_dedup_survivors). Survivors land under
    ``out_dir``/docs and their signatures extend the ledger under
    ``out_dir``/sig_ledger, so admission is monotone: once a document
    ships, every later near-duplicate of it is dropped, across any
    number of batches, without ever re-reading shipped text —
    streaming_dedup_exact's bounded-watermark state cannot give that
    guarantee for REWORDED re-crawls, and its exact-digest key misses
    them entirely.

    State is the ledger, not the stream engine: foreachBatch keeps
    every join in the batch engine (the ledger is scanned map-side
    against the broadcast batch buckets — see incremental_dedup_minhash
    for the 10^12-row plan); the docs and the ledger are both
    epoch-partitioned (module docstring), so a replayed batch replaces
    its own ledger shard, and it screens against every OTHER epoch's
    shard only. A ledger that cannot be read fails the batch rather
    than admitting it unscreened. The (num_perm, bands, shingle_n,
    seed, threshold) tuple is the ledger's contract; changing it
    against an existing ledger produces incomparable signatures
    (minhash_dedup_ledger docstring), so it is pinned in a params.json
    the stream refuses to contradict."""
    import json
    import os

    from kglids_spark.operators import dedup as DD

    params = {
        "num_perm": num_perm,
        "bands": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "threshold": threshold,
    }
    params_path = os.path.join(out_dir, "params.json")
    if os.path.exists(params_path):
        with open(params_path) as f:
            prior = json.load(f)
        if prior != params:
            raise ValueError(
                f"near_dup_filter_stream: ledger at {out_dir} was built "
                f"with {prior}, got {params} — signatures are "
                "incomparable across parameter changes; use a fresh "
                "out_dir or the ledger's parameters"
            )
    else:
        os.makedirs(out_dir, exist_ok=True)
        with open(params_path, "w") as f:
            json.dump(params, f)

    ledger_dir = f"{out_dir}/sig_ledger"
    docs_dir = f"{out_dir}/docs"
    kw = dict(
        text_col=text_col, id_col=id_col, num_perm=num_perm, shingle_n=shingle_n, seed=seed
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        ledger = _read_epochs(sess, ledger_dir)  # None: first batch
        if ledger is not None:
            ledger = ledger.where(F.col("epoch") != int(epoch_id)).select("id", "sig")
        batch = DD.fuzzy_dedup_survivors(batch_df, bands=bands, threshold=threshold, **kw)
        kept = DD.incremental_dedup_minhash(
            batch, ledger, bands=bands, threshold=threshold, **kw
        )
        _write_epoch(kept, epoch_id, docs_dir)
        # survivors' signatures extend the ledger (epoch-partitioned:
        # a replay overwrites its own shard). Read back from the docs
        # shard just written so the signature pass scans the small
        # survivor set, not the raw batch.
        shipped = sess.read.parquet(docs_dir).where(F.col("epoch") == int(epoch_id))
        _write_epoch(DD.minhash_dedup_ledger(shipped, **kw), epoch_id, ledger_dir)

    # max_files_per_trigger bounds per-epoch work (and, with
    # trigger_once, drains the backlog as a SEQUENCE of micro-batches
    # instead of one big one — each later file then really screens
    # against the earlier files' ledger)
    schema = spark.read.parquet(input_dir).schema
    return _start_stream(
        spark, input_dir, schema, process, checkpoint_dir, trigger_once,
        max_files_per_trigger,
    )


def drift_monitor_stream(
    spark: SparkSession,
    input_dir: str,
    baseline_hist: list[int],
    spec,
    out_dir: str,
    checkpoint_dir: str,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    trigger_once: bool = True,
    group_col: str | None = None,
):
    """Per-micro-batch distribution-drift monitor: each batch's
    histogram and row count (one ``drift.histogram_df`` action, a
    map-side-combined count per cell index) is compared against a
    FIXED baseline histogram (e.g. resolved from a ledger snapshot,
    the batch path's "KS/PSI vs a baseline Iceberg snapshot") and a
    one-row verdict (epoch, n_rows, ks, psi, passes)
    is appended to ``out_dir`` as parquet. The stream thereby flags
    WHICH ingestion batch drifted, which the batch validator — a
    whole-table statement — cannot localize.

    ``group_col`` sharpens the localization one level further — WHICH
    FEED inside the batch drifted: verdict rows become one per
    (epoch, group) via drift.grouped_drift, whose KS/PSI folds reduce
    entirely in-plan, so even a million-feed batch never collects
    per-group rows to the driver (the parquet write streams from the
    executors; semantics stay pinned to evaluate_drift by the batch
    operator's tests).

    foreachBatch keeps the heavy work in the batch engine: the
    histogram is the same ``histogram_df`` reduction to O(n_cells)
    rows as the batch drift pass, so state never grows with the
    stream."""
    from kglids_spark.operators import drift as D

    def process_grouped(batch_df: DataFrame, epoch_id: int) -> None:
        g = D.grouped_drift(
            batch_df, spec, baseline_hist, group_col, ks_threshold, psi_threshold
        )
        _write_epoch(g, epoch_id, out_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        row = D.histogram_df(batch_df, spec).collect()[0]
        verdict = D.evaluate_drift(
            list(row.hist), baseline_hist, ks_threshold, psi_threshold
        )
        frame = local_frame(
            batch_df.sparkSession,
            [
                (
                    int(row.n_rows),
                    float(verdict["ks"]),
                    float(verdict["psi"]),
                    bool(verdict["ks_pass"]),
                    bool(verdict["psi_pass"]),
                )
            ],
            "n_rows long, ks double, psi double, ks_pass boolean, psi_pass boolean",
        )
        _write_epoch(frame, epoch_id, out_dir)

    return _start_stream(
        spark, input_dir, TOKENS_SCHEMA,
        process if group_col is None else process_grouped,
        checkpoint_dir, trigger_once,
    )


def token_drift_monitor_stream(
    spark: SparkSession,
    input_dir: str,
    baseline_cells: list[int],
    out_dir: str,
    checkpoint_dir: str,
    array_col: str = "tokens",
    vocab_size: int = 50257,
    nbins: int = 64,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    trigger_once: bool = True,
    group_col: str | None = None,
):
    """Per-micro-batch TOKEN-ID distribution drift: each batch's
    vocabulary-usage histogram (drift.token_histogram_df — the explode
    combines map-side into ≤ nbins+2 cells, so only a dictionary ever
    leaves the executors) is compared against a fixed baseline
    snapshot's cells, appending one verdict row (epoch, n_docs,
    n_tokens, ks, psi, passes) per batch. This catches WHICH ingestion
    batch swapped tokenizers / remapped the vocabulary — the failure
    mode the scalar n_tok monitor (drift_monitor_stream) is blind to,
    localized the way the batch-path token_distribution_drift (a
    whole-table statement) cannot.

    Statistics and cell layout are shared verbatim with the batch
    operator (token_distribution_drift calls the same ks_statistic /
    psi over the same bucketing), so the stream's verdicts are pinned
    to the batch twin's on identical rows.

    ``group_col`` sharpens the localization one level further — WHICH
    FEED inside the batch swapped tokenizers: verdict rows become one
    per (epoch, group) via drift.grouped_token_drift, whose KS/PSI
    folds reduce entirely in-plan (the parquet write streams from the
    executors; a million-feed batch never collects per-group rows to
    the driver)."""
    from kglids_spark.operators import drift as D

    if len(baseline_cells) > nbins + 2:
        raise ValueError(
            f"baseline has {len(baseline_cells)} cells, expected <= {nbins + 2}"
        )

    def process_grouped(batch_df: DataFrame, epoch_id: int) -> None:
        g = D.grouped_token_drift(
            batch_df,
            baseline_cells,
            group_col,
            array_col=array_col,
            vocab_size=vocab_size,
            nbins=nbins,
            ks_threshold=ks_threshold,
            psi_threshold=psi_threshold,
        )
        _write_epoch(g, epoch_id, out_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        n_docs = batch_df.count()
        verdict = D.token_distribution_drift(
            batch_df,
            baseline_cells,
            array_col=array_col,
            vocab_size=vocab_size,
            nbins=nbins,
            ks_threshold=ks_threshold,
            psi_threshold=psi_threshold,
        )
        frame = local_frame(
            batch_df.sparkSession,
            [
                (
                    int(n_docs),
                    int(sum(verdict["cells"])),
                    float(verdict["ks"]),
                    float(verdict["psi"]),
                    bool(verdict["ks_pass"]),
                    bool(verdict["psi_pass"]),
                )
            ],
            "n_docs long, n_tokens long, ks double, psi double, "
            "ks_pass boolean, psi_pass boolean",
        )
        _write_epoch(frame, epoch_id, out_dir)

    return _start_stream(
        spark, input_dir, TOKENS_SCHEMA,
        process if group_col is None else process_grouped,
        checkpoint_dir, trigger_once,
    )


def compliance_monitor_stream(
    spark: SparkSession,
    input_dir: str,
    constraints: list,
    out_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    files_per_trigger: int | None = None,
):
    """Incremental ratio-compliance gate: each micro-batch counts its
    violations for every compliance constraint and the verdict is
    CUMULATIVE — the pass/fail reflects all rows ever streamed, which
    is the batch operator's global-ratio semantics (a per-batch ratio
    would flap on small batches; the question "is ≥ 99% of everything
    we ingested compliant" has one running answer). Appends one row
    per (epoch, constraint): n_rows, n_violations, cum_rows,
    cum_violations, passed.

    State lives in the output table itself: the cumulative totals
    re-derive from prior epochs' rows (epoch < current), so the
    foreachBatch needs no state store, and a replayed epoch re-reads
    the SAME prior rows and replaces its own partition.
    The pass rule is the engine's exact integer boundary comparison
    (constraints.compliance_passed). ``files_per_trigger`` bounds
    each micro-batch for testing multi-epoch behavior."""
    from kglids_spark.operators import constraints as C

    comp = [c for c in constraints if c.kind == "compliance"]
    if not comp or len(comp) != len(constraints):
        raise ValueError(
            "compliance_monitor_stream takes compliance constraints only "
            f"(got kinds {sorted({c.kind for c in constraints})})"
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(C.violation_expr(c, batch_df).cast("long")).alias(f"_v{i}")
            for i, c in enumerate(comp)
        ]
        row = batch_df.agg(*aggs).collect()[0]
        prior = {c.cid: (0, 0) for c in comp}
        earlier = _read_epochs(sess, out_dir)  # None: first epoch
        if earlier is not None:
            # epoch < current: replays re-read the same prior rows and
            # replace their own partition — idempotent by construction
            for r in (
                earlier.filter(F.col("epoch") < int(epoch_id))
                .groupBy("constraint_id")
                .agg(
                    F.sum("n_rows").alias("n"), F.sum("n_violations").alias("v")
                )
                .collect()
            ):
                prior[r.constraint_id] = (int(r.n or 0), int(r.v or 0))
        out_rows = []
        n = int(row["_n"] or 0)
        for i, c in enumerate(comp):
            nv = int(row[f"_v{i}"] or 0)
            pn, pv = prior.get(c.cid, (0, 0))
            cum_n, cum_v = pn + n, pv + nv
            ok = C.compliance_passed(c, cum_n, cum_v)
            out_rows.append((c.cid, n, nv, cum_n, cum_v, bool(ok)))
        frame = local_frame(
            sess,
            out_rows,
            "constraint_id string, n_rows long, n_violations long, "
            "cum_rows long, cum_violations long, passed boolean",
        )
        _write_epoch(frame, epoch_id, out_dir)

    return _start_stream(
        spark, input_dir, TOKENS_SCHEMA, process, checkpoint_dir, trigger_once,
        files_per_trigger,
    )
