"""`cli prepare` — the one-call LLM training-data pipeline (round 5):
gopher filter -> corpus line dedup -> MinHash fuzzy dedup -> BPE
tokenize -> sequence packing, each stage observable through the JSON
summary's per-stage counts. The fixture plants one casualty per stage
so a pass proves every stage actually ran: a NULL-text doc (dropped by
the explicit non-null filter), a 3-word doc (gopher min_words), a
boilerplate line shared by several docs (line dedup keeps the first
occurrence only), and an exact clone pair (fuzzy dedup keeps the min
id)."""

from __future__ import annotations

import json

import pytest

from kglids_spark.cli import main

BOILER = "subscribe to the newsletter of the day and share it"

# relaxed thresholds: the tiny fixture docs are short and repetitive by
# construction; min_words stays binding so the gopher stage has a kill
RELAX = [
    "--gopher-threshold", "min_words=5",
    "--gopher-threshold", "max_mean_word_len=30",
    "--gopher-threshold", "max_dup_word_frac=1.0",
    "--gopher-threshold", "max_top_word_frac=1.0",
    "--gopher-threshold", "max_top_2gram_frac=1.0",
    "--gopher-threshold", "min_alpha_word_frac=0.0",
    "--gopher-threshold", "min_stop_words=0",
]


def _sentence(i: int, j: int) -> str:
    return (
        f"the quick document {i} line {j} speaks of data and tokens "
        f"that have weight w{i}x{j} with meaning"
    )


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    rows = []
    for i in range(30):
        body = "\n".join(_sentence(i, j) for j in range(4))
        if i < 8:  # docs 0..7 share a boilerplate footer line
            body = body + "\n" + BOILER
        rows.append((f"doc{i:03d}", body, f"src{i % 3}"))
    # near-clone pair: SINGLE-line docs differing by one appended word,
    # so corpus line dedup keeps both (the lines are distinct) while
    # the word-shingle Jaccard is 58/59 — fuzzy dedup keeps the min id
    clone = " ".join(f"q{k}" for k in range(60))
    rows.append(("clone_a", clone, "src0"))
    rows.append(("clone_b", clone + " extraword", "src1"))
    # gopher casualty: 3 words < min_words=5
    rows.append(("tiny", "the of and", "src2"))
    # dropped before any stage by the explicit non-null filter
    rows.append(("nulldoc", None, "src0"))
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    p = str(tmp_path_factory.mktemp("prep") / "docs")
    df.coalesce(2).write.mode("overwrite").parquet(p)
    return p


def _run(docs_path, tmp_path, capsys, *extra):
    out = str(tmp_path / "out")
    rc = main(
        [
            "prepare",
            "--input", docs_path,
            "--out", out,
            "--source-col", "source",
            "--merges", "12",
            "--seq-len", "64",
            # the fixture docs share a sentence template (true Jaccard
            # ~0.4); 0.8 keeps 64-perm estimation noise from promoting
            # template pairs while the planted EXACT clone still trips
            "--minhash-threshold", "0.8",
            *RELAX,
            *extra,
        ]
    )
    assert rc == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return out, json.loads(line)


def test_prepare_end_to_end(spark, docs_path, tmp_path, capsys):
    out, summary = _run(docs_path, tmp_path, capsys)
    c = summary["stage_counts"]
    # one planted casualty per stage
    assert c["input"] == 34
    assert c["non_null_text"] == 33     # nulldoc gone
    assert c["gopher"] == 32            # tiny gone
    assert c["linededup"] == 32         # rewrites text, drops no doc
    assert c["fuzzy"] == 31             # clone_b gone
    assert summary["rows"] == 31
    assert summary["n_merges"] == 12
    assert summary["vocab_size"] > 12   # alphabet + merge symbols
    assert summary["n_bins"] >= 1

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {f"doc{i:03d}" for i in range(30)} | {"clone_a"}
    assert sorted(spark.read.parquet(out).columns) == sorted(
        ["doc_id", "tokens", "n_tok", "source", "pack_offset", "bin_id", "bin_pos"]
    )
    for r in rows.values():
        assert r.n_tok == len(r.tokens) > 0
        assert all(isinstance(t, int) for t in r.tokens)
        # packing invariants: bin derives exactly from the offset
        assert r.bin_id == r.pack_offset // 64
        assert r.bin_pos == r.pack_offset % 64
    # greedy packing is gapless: offsets tile the token stream
    offs = sorted((r.pack_offset, r.n_tok) for r in rows.values())
    assert offs[0][0] == 0
    for (o1, n1), (o2, _) in zip(offs, offs[1:]):
        assert o2 == o1 + n1


def test_prepare_line_dedup_rewrites_boilerplate(spark, docs_path, tmp_path, capsys):
    # skip tokenize+pack: the output is the cleaned DOCUMENT table, so
    # the line-dedup rewrite is directly inspectable
    out, summary = _run(docs_path, tmp_path, capsys, "--skip", "tokenize,pack")
    assert "n_merges" not in summary
    rows = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert sorted(spark.read.parquet(out).columns) == ["doc_id", "source", "text"]
    keepers = [d for d, t in rows.items() if BOILER in t]
    # exactly one of the 8 boilerplate-carrying docs keeps the line —
    # the first occurrence (min doc_id, min line pos)
    assert keepers == ["doc000"]


def test_prepare_skip_stages(spark, docs_path, tmp_path, capsys):
    out, summary = _run(
        docs_path, tmp_path, capsys, "--skip", "gopher,fuzzy,tokenize,pack"
    )
    c = summary["stage_counts"]
    assert "gopher" not in c and "fuzzy" not in c
    assert c["linededup"] == 33  # only the null drop before it
    assert summary["rows"] == 33


def test_prepare_stage_dir_resume(spark, docs_path, tmp_path, capsys):
    sd = str(tmp_path / "stages")
    out1, s1 = _run(docs_path, tmp_path, capsys, "--stage-dir", sd)
    assert s1["stages_resumed"] == []
    rows1 = {(r.doc_id, tuple(r.tokens)) for r in spark.read.parquet(out1).collect()}

    out2, s2 = _run(docs_path, tmp_path, capsys, "--stage-dir", sd)
    # every checkpointed stage (and the learned BPE model) is READ, not
    # recomputed; counts and output are byte-identical
    assert s2["stages_resumed"] == ["gopher", "linededup", "fuzzy", "bpe_learn"]
    assert s2["stage_counts"] == s1["stage_counts"]
    rows2 = {(r.doc_id, tuple(r.tokens)) for r in spark.read.parquet(out2).collect()}
    assert rows2 == rows1


def test_prepare_stage_dir_refuses_config_mismatch(docs_path, tmp_path, capsys):
    sd = str(tmp_path / "stages")
    _run(docs_path, tmp_path, capsys, "--stage-dir", sd)
    with pytest.raises(SystemExit) as ei:
        _run(
            docs_path, tmp_path, capsys,
            "--stage-dir", sd, "--minhash-threshold", "0.9",
        )
    assert "different configuration" in str(ei.value)


@pytest.mark.parametrize(
    "extra,msg",
    [
        (["--skip", "tokenize"], "requires skipping pack"),
        (["--skip", "nosuchstage"], "unknown stages"),
        (["--gopher-threshold", "min_words"], "KEY=VALUE"),
        (["--gopher-threshold", "min_words=abc"], "not a number"),
        (["--gopher-threshold", "no_such_rule=1"], "unknown gopher threshold"),
    ],
)
def test_prepare_usage_errors(docs_path, tmp_path, extra, msg):
    with pytest.raises(SystemExit) as ei:
        main(
            [
                "prepare",
                "--input", docs_path,
                "--out", str(tmp_path / "out"),
                *extra,
            ]
        )
    assert msg in str(ei.value)


def test_prepare_jsonl_input(spark, docs_path, tmp_path, capsys):
    """--input-format jsonl runs the same pipeline off a gzip JSONL
    corpus; a planted malformed line is dropped and counted as
    corrupt_json_dropped instead of failing the job."""
    import glob
    import gzip
    import os

    from kglids_spark.sources.tables import write_jsonl

    jl = str(tmp_path / "docs_jl")
    write_jsonl(spark.read.parquet(docs_path), jl, compression="gzip")
    part = sorted(glob.glob(jl + "/*.json.gz"))[0]
    with open(part, "rb") as f:
        data = gzip.decompress(f.read())
    with open(part, "wb") as f:
        f.write(gzip.compress(data + b"this is not json\n"))
    # hadoop's LocalFS verifies .crc sidecars; the rewrite invalidated it
    for crc in glob.glob(jl + "/.*.crc"):
        os.unlink(crc)
    out, summary = _run(
        jl, tmp_path, capsys,
        "--input-format", "jsonl",
        "--input-schema", "doc_id string, text string, source string",
    )
    c = summary["stage_counts"]
    assert c["corrupt_json_dropped"] == 1
    assert c["input"] == 34
    assert c["fuzzy"] == 31
    assert summary["rows"] == 31
    assert spark.read.parquet(out).count() == 31


def test_prepare_dedup_ledger_across_runs(spark, docs_path, tmp_path, capsys):
    """The --dedup-ledger flow: run 1 ships a corpus and records its
    signatures; run 2 over a second crawl containing a near-dup of a
    shipped doc drops it at the ledger stage while fresh content
    passes; a re-run of run 2 is idempotent (its own shard is excluded
    from its own screen)."""
    ledger = str(tmp_path / "ledger")
    out1, s1 = _run(
        docs_path, tmp_path / "r1", capsys, "--dedup-ledger", ledger,
        "--skip", "tokenize,pack",
    )
    assert s1["stage_counts"]["ledger"] == s1["stage_counts"]["fuzzy"]  # empty ledger

    # second crawl: a near-dup of shipped clone_a + a fresh doc
    clone = " ".join(f"q{k}" for k in range(60))
    batch2 = spark.createDataFrame(
        [
            ("recrawl_a", clone + " tailword", "src0"),
            ("fresh_doc", " ".join(f"fresh{k} token{k}" for k in range(30)), "src1"),
        ],
        "doc_id string, text string, source string",
    )
    b2 = str(tmp_path / "docs2")
    batch2.write.mode("overwrite").parquet(b2)
    out2, s2 = _run(
        b2, tmp_path / "r2", capsys, "--dedup-ledger", ledger,
        "--skip", "tokenize,pack",
        # the two batch-2 docs are short/fresh; keep gopher out of the way
        "--gopher-threshold", "min_words=2",
    )
    kept2 = {r.doc_id for r in spark.read.parquet(out2).collect()}
    assert kept2 == {"fresh_doc"}                       # recrawl_a gated
    assert s2["stage_counts"]["ledger"] == 1

    out2b, s2b = _run(
        b2, tmp_path / "r2b", capsys, "--dedup-ledger", ledger,
        "--skip", "tokenize,pack",
        "--gopher-threshold", "min_words=2",
    )
    kept2b = {r.doc_id for r in spark.read.parquet(out2b).collect()}
    assert kept2b == kept2 and s2b["stage_counts"] == s2["stage_counts"]

    # parameter contract: a different threshold is refused
    with pytest.raises(SystemExit, match="incomparable"):
        _run(
            b2, tmp_path / "r3", capsys, "--dedup-ledger", ledger,
            "--skip", "tokenize,pack",
            "--minhash-threshold", "0.6",
        )


def test_prepare_dedup_ledger_corrupt_shard_fails(spark, docs_path, tmp_path, capsys):
    """An unreadable signature shard fails the run: the ledger is never
    read as empty (which would ship near-dups of earlier runs), and the
    failed run adds no shard of its own."""
    ledger = tmp_path / "ledger"
    _run(docs_path, tmp_path / "r1", capsys, "--dedup-ledger", str(ledger),
         "--skip", "tokenize,pack")
    (shard,) = (ledger / "sigs").iterdir()
    for f in shard.iterdir():
        f.unlink()
    (shard / "part-0.parquet").write_bytes(b"not a parquet file")
    # another gopher setting gives the second run its own shard tag
    with pytest.raises(Exception, match="(?i)not a parquet file"):
        _run(docs_path, tmp_path / "r2", capsys, "--dedup-ledger", str(ledger),
             "--skip", "tokenize,pack", "--gopher-threshold", "min_words=2")
    assert list((ledger / "sigs").iterdir()) == [shard]


def test_prepare_strip_html_stage(spark, tmp_path, capsys):
    """--strip-html extracts text before any other stage reads it:
    markup-wrapped docs pass gopher (tags would otherwise sink the
    alpha-word fraction) and the output text is the recovered prose."""
    body = " ".join(
        f"the quick crawl page {k} has words and meaning w{k}" for k in range(3)
    )
    rows = [
        (
            f"h{i}",
            f'<html><head><style>x {{y}}</style></head><body><h1>Page {i}</h1>'
            f"<p>{body} tail{i}</p><script>var x=1;</script></body></html>",
            "web",
        )
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    src = str(tmp_path / "html_docs")
    df.write.mode("overwrite").parquet(src)
    out, s = _run(
        src, tmp_path, capsys, "--strip-html", "--skip", "tokenize,pack"
    )
    assert s["stage_counts"]["html"] == 6 and s["stage_counts"]["gopher"] == 6
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts["h0"].startswith("Page 0\n")
    assert "<" not in texts["h0"] and "var x" not in texts["h0"]


def test_prepare_emit_examples(spark, docs_path, tmp_path, capsys):
    """--emit examples ships the ready-to-train shape: fixed-length
    windows with next-token labels masked at document boundaries."""
    out, summary = _run(docs_path, tmp_path, capsys, "--emit", "examples")
    assert summary["n_bins"] >= 1
    rows = spark.read.parquet(out).collect()
    assert sorted(spark.read.parquet(out).columns) == sorted(
        ["bin_id", "input_ids", "labels", "segment_ids", "n_tok"]
    )
    assert len(rows) == summary["rows"] == summary["n_bins"]
    full = [r for r in rows if r.n_tok == 64]
    assert full  # 31 surviving docs × ~40 BPE tokens >> one 64-window
    for r in rows:
        assert len(r.input_ids) == len(r.labels) == len(r.segment_ids) == r.n_tok
        for i in range(r.n_tok):
            if i + 1 < r.n_tok and r.segment_ids[i + 1] == r.segment_ids[i]:
                assert r.labels[i] == r.input_ids[i + 1]
            else:
                assert r.labels[i] == -100


def test_prepare_emit_windows_requires_pack(docs_path, tmp_path, capsys):
    with pytest.raises(SystemExit, match="pack stage"):
        _run(docs_path, tmp_path, capsys, "--emit", "windows", "--skip", "pack")


def test_prepare_emit_windows(spark, docs_path, tmp_path, capsys):
    """--emit windows ships the materialized bins with their span
    arrays; every bin except the last is exactly --seq-len tokens and
    the spans tile each bin contiguously."""
    out, summary = _run(docs_path, tmp_path, capsys, "--emit", "windows")
    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r.bin_id)
    assert sorted(spark.read.parquet(out).columns) == sorted(
        ["bin_id", "tokens", "n_tok", "n_docs", "span_docs",
         "span_starts", "span_lens"]
    )
    assert len(rows) == summary["rows"] == summary["n_bins"]
    assert [r.bin_id for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r.n_tok == 64
    for r in rows:
        pos = 0
        for st, ln in zip(r.span_starts, r.span_lens):
            assert st == pos and ln >= 1
            pos += ln
        assert pos == r.n_tok == len(r.tokens)
        assert r.n_docs == len(r.span_docs) == len(r.span_starts)


def test_cli_shard(spark, docs_path, tmp_path, capsys):
    """`cli shard` writes shard=K/ directories with balanced row counts
    and a truthful balance summary; assignment is deterministic."""
    out = str(tmp_path / "shards")
    rc = main(
        ["shard", "--input", docs_path, "--out", out, "--n-shards", "4"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 34
    assert summary["rows_max"] - summary["rows_min"] <= 1
    back = spark.read.parquet(out)
    assert back.count() == 34
    assert back.select("shard").distinct().count() == 4
    # deterministic: a re-shard assigns identically
    out2 = str(tmp_path / "shards2")
    main(["shard", "--input", docs_path, "--out", out2, "--n-shards", "4"])
    capsys.readouterr()
    a = {(r.doc_id, r.shard) for r in back.collect()}
    b = {(r.doc_id, r.shard) for r in spark.read.parquet(out2).collect()}
    assert a == b


def test_cli_shard_bad_size_col(docs_path, tmp_path, capsys):
    with pytest.raises(SystemExit, match="not in input columns"):
        main(
            ["shard", "--input", docs_path, "--out", str(tmp_path / "s"),
             "--n-shards", "4", "--size-col", "nope"]
        )


def test_cli_shard_size_balanced(spark, tmp_path, capsys):
    p = str(tmp_path / "tok_in")
    spark.range(200).selectExpr(
        "cast(id as string) as doc_id", "cast(id % 37 + 1 as int) as n_tok"
    ).write.parquet(p)
    out = str(tmp_path / "shards_sz")
    rc = main(
        ["shard", "--input", p, "--out", out, "--n-shards", "5",
         "--size-col", "n_tok"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows"] == 200 and summary["size_col"] == "n_tok"
    assert summary["rows_max"] - summary["rows_min"] <= 1
    # LPT-lite: totals within a few max-sizes of each other
    assert summary["total_max"] - summary["total_min"] <= 5 * 37
