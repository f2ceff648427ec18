"""Structured Streaming: incremental validation via foreachBatch into
the shared ledger, and watermarked window aggregation smoke."""

import pytest
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators.validate import validate
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import SOURCES, generate_tokens
from kglids_spark.streaming.incremental import (
    stateful_sessionize,
    validate_stream,
    windowed_event_counts,
)


def test_stream_validation_matches_batch(spark, tmp_path):
    data_dir = str(tmp_path / "stream_in")
    df = generate_tokens(spark, 10000, partitions=4)
    df.write.mode("overwrite").parquet(data_dir)
    suite = [c for c in C.default_suite(SOURCES) if c.kind not in ("drift_ks", "drift_psi")]

    ledger_root = str(tmp_path / "stream_ledger")
    q = validate_stream(
        spark,
        data_dir,
        ledger_root,
        suite,
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_buckets=8,
    )
    q.awaitTermination(300)

    # resumed batch run over the same data: everything already validated
    ledger = TableStore(spark, ledger_root)
    res = validate(df, suite, n_buckets=8, ledger=ledger, extract_violation_rows=False)
    assert res.metrics["buckets_completed_prior"] == 8
    assert res.metrics["rows_validated"] == 10000

    direct = validate(df, suite, n_buckets=8, extract_violation_rows=False)
    assert sorted(map(tuple, res.verdicts.collect())) == sorted(
        map(tuple, direct.verdicts.collect())
    )


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """The applyInPandasWithState session counter, fully drained over a
    time-ordered input, must agree with the batch lag+cumsum
    sessionization for every user."""
    from kglids_spark.entry_queries import sessionize_events

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "sess_in")
    # one time-ordered file: cross-batch order within a user is the
    # state's job; cross-FILE order is the test harness's
    events.orderBy("ts", "event_id").coalesce(1).write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = (
        stateful_sessionize(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_state").collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessionize_events(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want


def test_windowed_event_counts(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "events_in")
    events.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT count(*) AS n, sum(n) AS total FROM win_counts"
    ).collect()[0]
    batch = (
        events.groupBy(F.window("ts", "5 minutes"), "event_type")
        .count()
        .agg(F.count(F.lit(1)), F.sum("count"))
        .collect()[0]
    )
    # append mode emits only watermark-closed windows; the final window
    # may be withheld, so compare within one window's worth of slack
    assert got.total <= batch[1]
    assert got.n >= batch[0] - 5


def test_streaming_dedup_exact(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the content digest: duplicates
    arriving within the watermark are dropped; output = one row per
    distinct digest (the batch twin's group count)."""
    from kglids_spark.operators.text import content_digest_expr
    from kglids_spark.streaming.incremental import streaming_dedup_exact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    base = docs.withColumn(
        "ts", F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id"))
    )
    # re-inject every 10th doc 5 minutes later under a fresh id
    dupes = (
        base.filter("doc_id % 10 = 0")
        .withColumn("doc_id", F.col("doc_id") + 10**6)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    inp = base.unionByName(dupes)
    src = str(tmp_path / "docs_dedup_in")
    inp.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(inp.schema).parquet(src)
    q = (
        streaming_dedup_exact(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT digest) AS d FROM dedup_stream"
    ).collect()[0]
    want = inp.select(content_digest_expr(F.col("text")).alias("d")).distinct().count()
    assert got.n == got.d == want
    assert want < inp.count()  # the planted duplicates were real


def test_drift_monitor_stream_flags_shifted_batch(spark, tmp_path):
    """Per-batch drift verdicts vs a fixed baseline: a clean batch
    passes, a shifted batch fails, and each stat equals the batch-path
    computation on the same rows."""
    from kglids_spark.operators import drift as D
    from kglids_spark.streaming.incremental import drift_monitor_stream

    spec = D.HistSpec(column="n_tok", lo=0.0, hi=2048.0, nbins=64)
    clean = generate_tokens(spark, 8000, seed=1, plant_violations=False)
    baseline = list(D.histogram_df(clean, spec).collect()[0].hist)

    src = str(tmp_path / "drift_in")
    # file 1: same distribution; file 2: shifted (n_tok doubled)
    clean2 = generate_tokens(spark, 8000, seed=2, plant_violations=False)
    shifted = clean2.withColumn("n_tok", (F.col("n_tok") * 2).cast(clean2.schema["n_tok"].dataType))
    clean2.coalesce(1).write.mode("overwrite").parquet(src)
    shifted.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "drift_out")
    q = drift_monitor_stream(
        spark,
        src,
        baseline,
        spec,
        out,
        checkpoint_dir=str(tmp_path / "drift_ckpt"),
    )
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    assert sum(r.n_rows for r in rows) == 16000
    # at least one verdict passes (clean half) and one fails (doubled
    # half); with availableNow the two files may share one epoch, in
    # which case the mixture itself must fail
    if len(rows) >= 2:
        assert any(r.ks_pass and r.psi_pass for r in rows)
    assert any(not (r.ks_pass and r.psi_pass) for r in rows)
    # spot-check one epoch's stats against the batch computation
    r0 = sorted(rows, key=lambda r: r.epoch)[0]
    assert 0.0 <= r0.ks <= 1.0 and r0.psi >= 0.0


def test_fd_monitor_stream_matches_batch_and_crosses_batches(spark, tmp_path):
    """The stateful FD monitor must (a) agree with the batch evaluator
    on the final violated set, and (b) catch a dependency broken ONLY
    across micro-batches (batch 1 says a->x, batch 2 says a->y)."""
    from kglids_spark.operators import constraints as C
    from kglids_spark.streaming.incremental import fd_monitor_stream

    b1 = spark.createDataFrame(
        [("a", "x"), ("b", "u"), ("c", None)], "det string, dep string"
    )
    b2 = spark.createDataFrame(
        [("a", "y"), ("b", "u"), ("d", "w")], "det string, dep string"
    )
    src = str(tmp_path / "fd_in")
    # two files -> two (or one) micro-batches; availableNow drains all
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = (
        fd_monitor_stream(stream, "det", "dep")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("fd_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["det"]: r["violated"]
        for r in spark.sql(
            "SELECT det, violated FROM ("
            "  SELECT det, violated,"
            "         row_number() OVER (PARTITION BY det ORDER BY n_rows DESC) rn"
            "  FROM fd_state) WHERE rn = 1"
        ).collect()
    }
    # batch twin over the union
    both = b1.unionByName(b2)
    want_bad = {
        r["det"]
        for r in C.fd_violating_groups(
            both, C.functional_dependency(["det"], "dep")
        ).collect()
    }
    assert want_bad == {"a"}  # broken only across batches
    assert {d for d, v in got.items() if v} == want_bad
    assert got.get("b") is False and got.get("d") is False
    assert "c" not in got  # all-null dependent: no FD evidence


def test_quality_filter_stream_matches_batch_twin(spark, tmp_path):
    """The streaming quality gate keeps exactly the docs the batch
    scorer keeps, and the per-epoch verdict stats equal the batch
    computation over the same rows."""
    from kglids_spark.operators.quality_classifier import (
        score_quality_lr,
        train_quality_lr,
    )
    from kglids_spark.streaming.incremental import quality_filter_stream

    rows = [
        (i, ("the cat sat on mat " * 5) if i % 2 == 0 else ("xz qq vv " * 4), i % 2 == 0)
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_good boolean")
    w, b = train_quality_lr(docs, F.col("is_good"), hasher="md5", iters=4)

    src = str(tmp_path / "q_in")
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "q_out")
    q = quality_filter_stream(
        spark,
        src,
        w,
        b,
        out,
        checkpoint_dir=str(tmp_path / "q_ckpt"),
        threshold=0.5,
        hasher="md5",
    )
    q.awaitTermination(300)

    kept = spark.read.parquet(f"{out}/docs")
    verd = spark.read.parquet(f"{out}/verdicts").collect()
    # batch twin: same model, same threshold
    scored = score_quality_lr(docs, w, b, hasher="md5")
    want_kept = {
        r["doc_id"] for r in scored.filter(F.col("quality_prob") >= 0.5).collect()
    }
    got_kept = {r["doc_id"] for r in kept.collect()}
    assert got_kept == want_kept
    # the trained model actually separates: only the good half survives
    assert got_kept == {i for i in range(200) if i % 2 == 0}
    assert sum(r.n_docs for r in verd) == 200
    assert sum(r.n_kept for r in verd) == len(want_kept)
    mean_want = scored.agg(F.avg("quality_prob")).collect()[0][0]
    if len(verd) == 1:
        assert verd[0].mean_prob == pytest.approx(mean_want, abs=1e-9)


def test_near_dup_filter_stream_gates_across_batches(spark, tmp_path):
    """Two micro-batches through the streaming near-dup gate: batch 1's
    internal near-dup pair collapses to its min-id survivor, batch 2's
    re-crawl of a shipped doc is dropped by the signature ledger, and
    fresh content passes — matching the sequential batch-twin
    composition (fuzzy_dedup_survivors then incremental_dedup_minhash)
    exactly."""
    from kglids_spark.operators import dedup as DD
    from kglids_spark.streaming.incremental import near_dup_filter_stream

    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"q{i}" for i in range(40))
    b1 = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, base), (11, " ".join(f"z{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    src = str(tmp_path / "nd_in")
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "nd_out")
    q = near_dup_filter_stream(
        spark,
        src,
        out,
        checkpoint_dir=str(tmp_path / "nd_ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect()}
    # batch twin: sequential application over the same two batches
    s1 = DD.fuzzy_dedup_survivors(b1)
    s1_kept = DD.incremental_dedup_minhash(s1, None)
    ledger = DD.minhash_dedup_ledger(s1_kept)
    s2 = DD.fuzzy_dedup_survivors(b2)
    s2_kept = DD.incremental_dedup_minhash(s2, ledger)
    want = {r["doc_id"] for r in s1_kept.collect()} | {
        r["doc_id"] for r in s2_kept.collect()
    }
    assert kept == want == {1, 3, 11}
    # the ledger holds exactly the survivors' signatures
    led = spark.read.parquet(f"{out}/sig_ledger")
    assert {r["id"] for r in led.select("id").collect()} == {1, 3, 11}
    # parameter contract: a different signature config is refused
    with pytest.raises(ValueError, match="incomparable"):
        near_dup_filter_stream(
            spark,
            src,
            out,
            checkpoint_dir=str(tmp_path / "nd_ckpt2"),
            num_perm=32,
            bands=8,
        )


def test_quality_filter_stream_refuses_hasher_mismatch(spark):
    from kglids_spark.operators.quality_classifier import score_quality_lr

    docs = spark.createDataFrame(
        [(1, "some text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="trained with"):
        score_quality_lr(docs, {"ab": 0.5}, 0.0, hasher="xxhash64")
    with pytest.raises(ValueError, match="trained with"):
        score_quality_lr(docs, {7: 0.5}, 0.0, hasher="md5")


def test_drift_monitor_stream_grouped_localizes_feed(spark, tmp_path):
    """group_col mode: one verdict row per (epoch, feed); a feed whose
    n_tok doubled fails while the untouched feeds pass, and the stats
    equal the batch grouped_drift on the same rows."""
    from kglids_spark.operators import drift as D
    from kglids_spark.streaming.incremental import drift_monitor_stream

    spec = D.HistSpec(column="n_tok", lo=0.0, hi=2048.0, nbins=64)
    clean = generate_tokens(spark, 12000, seed=3, plant_violations=False)
    baseline = list(D.histogram_df(clean, spec).collect()[0].hist)

    batch = generate_tokens(spark, 12000, seed=4, plant_violations=False)
    dtype = batch.schema["n_tok"].dataType
    drifted = batch.withColumn(
        "n_tok",
        F.when(F.col("source") == "web", (F.col("n_tok") * 2).cast(dtype))
        .otherwise(F.col("n_tok")),
    )
    src = str(tmp_path / "gdrift_in")
    drifted.coalesce(1).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "gdrift_out")
    q = drift_monitor_stream(
        spark,
        src,
        baseline,
        spec,
        out,
        checkpoint_dir=str(tmp_path / "gdrift_ckpt"),
        group_col="source",
    )
    q.awaitTermination(300)

    got = {r.source: r for r in spark.read.parquet(out).collect()}
    assert not got["web"].ks_pass and not got["web"].psi_pass
    # untouched feed: KS must pass (PSI left unasserted — small feeds
    # can trip it from epsilon-smoothed sampling noise alone)
    assert got["books"].ks_pass
    # batch-twin equality on the same rows (the lockstep convention)
    want = {
        r.source: r
        for r in D.grouped_drift(drifted, spec, baseline, "source").collect()
    }
    for s, r in got.items():
        assert abs(r.ks - want[s].ks) < 1e-9, s
        assert abs(r.psi - want[s].psi) < 1e-9, s
        assert r.n_rows == want[s].n_rows


def test_token_drift_monitor_stream_flags_vocab_remap(spark, tmp_path):
    """Per-batch token-ID drift: a clean batch passes against the
    baseline vocabulary-usage snapshot; a remapped batch (ids halved
    into the low vocabulary range — n_tok untouched, so the scalar
    monitor is blind to it) fails; and each epoch's stats equal the
    batch-path token_distribution_drift on the same rows."""
    from kglids_spark.operators import drift as D
    from kglids_spark.streaming.incremental import token_drift_monitor_stream

    clean = generate_tokens(spark, 4000, seed=11, plant_violations=False)
    cells = {
        int(r.cell): int(r.n)
        for r in D.token_histogram_df(clean).collect()
    }
    baseline = [cells.get(i, 0) for i in range(66)]

    src = str(tmp_path / "tok_drift_in")
    clean2 = generate_tokens(spark, 4000, seed=12, plant_violations=False)
    remapped = clean2.withColumn(
        "tokens", F.transform("tokens", lambda t: (t / 2).cast("int"))
    )
    clean2.coalesce(1).write.mode("overwrite").parquet(src)
    remapped.coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "tok_drift_out")
    q = token_drift_monitor_stream(
        spark,
        src,
        baseline,
        out,
        checkpoint_dir=str(tmp_path / "tok_drift_ckpt"),
    )
    q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    assert sum(r.n_docs for r in rows) == 8000
    # the remapped half must fail; with availableNow both files may
    # land in one epoch, in which case the mixture itself must fail
    assert any(not (r.ks_pass and r.psi_pass) for r in rows)
    if len(rows) >= 2:
        assert any(r.ks_pass and r.psi_pass for r in rows)
    # every epoch's verdict equals the batch twin on the same rows
    whole = spark.read.parquet(src)
    if len(rows) == 1:
        batch = D.token_distribution_drift(whole, baseline)
        assert rows[0].ks == pytest.approx(batch["ks"], abs=1e-12)
        assert rows[0].psi == pytest.approx(batch["psi"], abs=1e-12)
        assert rows[0].n_tokens == sum(batch["cells"])


def test_token_drift_monitor_stream_rejects_bad_baseline(spark, tmp_path):
    from kglids_spark.streaming.incremental import token_drift_monitor_stream

    with pytest.raises(ValueError, match="cells"):
        token_drift_monitor_stream(
            spark,
            str(tmp_path / "nope"),
            [0] * 200,
            str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )


def test_compliance_monitor_stream_cumulative(spark, tmp_path):
    """The streaming gate's verdict is CUMULATIVE: a clean first epoch
    passes, a dirty second epoch flips the running ratio, and the
    final cumulative totals equal the batch validate() over all rows."""
    from kglids_spark.operators.validate import GLOBAL_BUCKET
    from kglids_spark.streaming.incremental import compliance_monitor_stream

    clean = generate_tokens(spark, 3000, seed=21, plant_violations=False)
    dirty = generate_tokens(spark, 3000, seed=22, plant_violations=False).withColumn(
        "n_tok", F.lit(0).cast(clean.schema["n_tok"].dataType)
    )
    src = str(tmp_path / "cg_in")
    clean.coalesce(1).write.mode("overwrite").parquet(src)
    dirty.coalesce(1).write.mode("append").parquet(src)

    suite = [C.compliance("n_tok > 0", 0.9, columns=["n_tok"], cid="pos_tok")]
    out = str(tmp_path / "cg_out")
    q = compliance_monitor_stream(
        spark, src, suite, out,
        checkpoint_dir=str(tmp_path / "cg_ckpt"),
        files_per_trigger=1,
    )
    q.awaitTermination(300)

    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r.epoch)
    assert len(rows) == 2
    final = rows[-1]
    assert final.cum_rows == 6000
    # the batch twin over ALL rows agrees exactly
    allrows = spark.read.parquet(src)
    res = validate(allrows, suite, n_buckets=4,
                   extract_violation_rows=False, kll_col=None)
    want = res.verdicts.filter(F.col("bucket_id") == GLOBAL_BUCKET).collect()[0]
    assert final.cum_violations == want.n_violations
    assert final.passed == want.passed
    assert not final.passed  # 50% < 90%
    # one epoch was clean and passing on its own cumulative read
    assert any(r.passed for r in rows) or rows[0].n_violations > 0
    # only compliance kinds are accepted
    with pytest.raises(ValueError, match="compliance constraints only"):
        compliance_monitor_stream(
            spark, src, [C.not_null("doc_id")], out,
            checkpoint_dir=str(tmp_path / "cg_ckpt2"),
        )
