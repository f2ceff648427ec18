"""The streaming monitors' shared epoch discipline: a batch replayed
after a crash before its commit rewrites only its own epoch partition
and leaves every output as the first run wrote it; an unreadable
earlier-epoch read fails the batch; and a continuously triggered query
writes what a drain-and-stop query writes."""

from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kglids_spark.operators import constraints as C
from kglids_spark.operators import drift as D
from kglids_spark.sources.tokens import generate_tokens
from kglids_spark.streaming import incremental as I

SPEC = D.HistSpec(column="n_tok", lo=0.0, hi=2048.0, nbins=64)


@pytest.fixture(scope="module")
def tokens_src(spark, tmp_path_factory):
    """Three token files, the last with n_tok doubled (drift) and a
    quarter of its rows at n_tok 0 (compliance violations)."""
    src = str(tmp_path_factory.mktemp("epochs") / "tokens_in")
    for seed in (31, 32, 33):
        df = generate_tokens(spark, 1500, seed=seed, plant_violations=False)
        if seed == 33:
            dtype = df.schema["n_tok"].dataType
            df = df.withColumn(
                "n_tok",
                F.when(F.pmod(F.xxhash64("doc_id"), F.lit(4)) == 0, F.lit(0))
                .otherwise(F.col("n_tok") * 2)
                .cast(dtype),
            )
        df.coalesce(1).write.mode("append").parquet(src)
    return src


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def docs_src(spark, tmp_path_factory):
    """Two text files: the second re-crawls a doc of the first."""
    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"q{i}" for i in range(40))
    fresh = " ".join(f"z{i}" for i in range(40))
    src = str(tmp_path_factory.mktemp("epochs") / "docs_in")
    _docs(spark, [(1, base), (2, base), (3, other)]).coalesce(1).write.parquet(src)
    _docs(spark, [(10, base), (11, fresh)]).coalesce(1).write.mode("append").parquet(src)
    return src


@pytest.fixture(scope="module")
def quality_model(spark):
    from kglids_spark.operators.quality_classifier import train_quality_lr

    rows = [
        (i, ("the cat sat on mat " * 5) if i % 2 == 0 else ("xz qq vv " * 4), i % 2 == 0)
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_good boolean")
    return train_quality_lr(docs, F.col("is_good"), hasher="md5", iters=4)


@pytest.fixture(scope="module")
def baselines(spark):
    """(n_tok histogram, token-id cells) of a clean table."""
    clean = generate_tokens(spark, 3000, seed=30, plant_violations=False)
    hist = list(D.histogram_df(clean, SPEC).collect()[0].hist)
    cells = {int(r.cell): int(r.n) for r in D.token_histogram_df(clean).collect()}
    return hist, [cells.get(i, 0) for i in range(66)]


@pytest.fixture(scope="module")
def inputs(tokens_src, docs_src, quality_model, baselines):
    return tokens_src, docs_src, quality_model, baselines


def _start(case, spark, inputs, out, ckpt, trigger_once=True):
    """Start ``case``'s monitor over ``inputs`` = (tokens_src, docs_src,
    quality_model, baselines); returns (query, output dirs)."""
    tokens_src, docs_src, quality_model, (hist, cells) = inputs
    if case in ("drift", "drift_grouped"):
        q = I.drift_monitor_stream(
            spark, tokens_src, hist, SPEC, out, ckpt,
            trigger_once=trigger_once,
            group_col="source" if case == "drift_grouped" else None,
        )
        return q, [out]
    if case == "token_drift":
        q = I.token_drift_monitor_stream(
            spark, tokens_src, cells, out, ckpt, trigger_once=trigger_once
        )
        return q, [out]
    if case == "compliance":
        suite = [C.compliance("n_tok > 0", 0.9, columns=["n_tok"], cid="pos_tok")]
        q = I.compliance_monitor_stream(
            spark, tokens_src, suite, out, ckpt, trigger_once=trigger_once,
            files_per_trigger=1,
        )
        return q, [out]
    if case == "quality":
        w, b = quality_model
        q = I.quality_filter_stream(
            spark, docs_src, w, b, out, ckpt, hasher="md5", trigger_once=trigger_once
        )
        return q, [f"{out}/docs", f"{out}/verdicts"]
    assert case == "near_dup"
    q = I.near_dup_filter_stream(
        spark, docs_src, out, ckpt, trigger_once=trigger_once, max_files_per_trigger=1
    )
    return q, [f"{out}/docs", f"{out}/sig_ledger"]


def _read_back(spark, path):
    df = spark.read.parquet(path)
    return df.schema, sorted(map(tuple, df.collect()), key=repr)


def _files_by_epoch(path) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for f in Path(path).glob("epoch=*/*.parquet"):
        out.setdefault(f.parent.name, set()).add(f.name)
    return out


CASES = ["drift", "drift_grouped", "token_drift", "compliance", "quality", "near_dup"]


@pytest.mark.parametrize("case", CASES)
def test_epoch_replay_rewrites_only_its_partition(spark, inputs, tmp_path, case):
    """Losing the last epoch's commit (a crash after the batch's writes,
    before the stream committed it) makes the restarted query replay
    that epoch: its partition files are rewritten, every other epoch's
    files are untouched, and every output reads back as before."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    args = (case, spark, inputs, out, ckpt)
    q, outputs = _start(*args)
    q.awaitTermination(300)
    first = {p: _read_back(spark, p) for p in outputs}
    files = {p: _files_by_epoch(p) for p in outputs}

    commits = Path(ckpt) / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    if case in ("compliance", "near_dup"):
        assert last >= 1  # one file per trigger: a replay over real prior epochs
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)

    q, _ = _start(*args)
    q.awaitTermination(300)
    last_part = f"epoch={last}"
    for p in outputs:
        assert _read_back(spark, p) == first[p], p
        now = _files_by_epoch(p)
        assert now.keys() == files[p].keys(), p
        for part, names in now.items():
            if part == last_part:
                assert names and names.isdisjoint(files[p][part]), (p, part)
            else:
                assert names == files[p][part], (p, part)


def test_near_dup_corrupt_ledger_fails_the_batch(spark, tmp_path):
    """An unreadable signature ledger fails the query; the batch is
    never admitted as if nothing had shipped before it."""
    src = str(tmp_path / "in")
    doc = " ".join(f"w{i}" for i in range(40))
    _docs(spark, [(1, doc)]).coalesce(1).write.parquet(src)
    out, ckpt = tmp_path / "out", str(tmp_path / "ckpt")
    q = I.near_dup_filter_stream(spark, src, str(out), ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    assert (out / "sig_ledger" / "epoch=0").is_dir()

    (out / "sig_ledger" / "epoch=0" / "part-0.parquet").write_bytes(b"not a parquet file")
    _docs(spark, [(2, doc)]).coalesce(1).write.mode("append").parquet(src)
    q = I.near_dup_filter_stream(spark, src, str(out), ckpt, max_files_per_trigger=1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert not (out / "docs" / "epoch=1").exists()


def test_read_epochs_none_only_before_first_write(spark, tmp_path):
    """No folder, or a folder holding no data file yet (what a crash
    inside the first write leaves), reads as "no earlier epoch"."""
    assert I._read_epochs(spark, str(tmp_path / "missing")) is None
    (tmp_path / "torn" / "_temporary" / "0").mkdir(parents=True)
    assert I._read_epochs(spark, str(tmp_path / "torn")) is None
    local = spark.createDataFrame([(1,)], "n long")
    I._write_epoch(local, 0, str(tmp_path / "written"))
    assert I._read_epochs(spark, str(tmp_path / "written")).collect() == [(1, 0)]


def test_continuous_trigger_matches_drain_and_stop(spark, inputs, tmp_path):
    """trigger_once=False (the production mode) drains the same files
    into the same epochs as trigger_once=True."""
    runs = {}
    for trigger_once in (True, False):
        d = tmp_path / str(trigger_once)
        q, (out,) = _start(
            "compliance", spark, inputs, str(d / "out"), str(d / "ckpt"),
            trigger_once=trigger_once,
        )
        if trigger_once:
            q.awaitTermination(300)
        else:
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        runs[trigger_once] = _read_back(spark, out)
    assert runs[False] == runs[True]
    assert len(runs[True][1]) == 3  # one row per file: three epochs
