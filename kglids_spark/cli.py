"""spark-submit / python -m entry point.

Usage:
    python -m kglids_spark.cli generate --rows 100000 --out /tmp/tokens
    python -m kglids_spark.cli validate --input /tmp/tokens \
        --ledger /tmp/ledger [--buckets 64] [--baseline /tmp/base_hist.json]
    python -m kglids_spark.cli profile --input /tmp/tokens [--exact]

On a real cluster the same module runs via
``spark-submit --py-files kglids_spark.zip -m kglids_spark.cli ...``
(north_rule: spark-submit --py-files job, resumable from checkpoint).
"""

from __future__ import annotations

import argparse
import json
import math
import sys

from pyspark.sql import functions as F

from kglids_spark.session import get_spark
from kglids_spark.operators import constraints as C
from kglids_spark.operators import drift as D
from kglids_spark.operators.validate import validate
from kglids_spark.operators.profiler import profile_table
from kglids_spark.sources.tables import TableStore
from kglids_spark.sources.tokens import SOURCES, generate_tokens


def _parse_vector_sanity(spec: str):
    """'COL [dim=D] [norm=LO:HI]' → a vector_sanity constraint; clean
    SystemExit usage errors (matching the --check/--metric paths)."""
    parts = spec.split()
    if not parts:
        raise SystemExit("--vector-sanity: empty spec")
    col, dim, nlo, nhi = parts[0], None, None, None
    for opt in parts[1:]:
        key, sep, val = opt.partition("=")
        if key not in ("dim", "norm") or not sep:
            raise SystemExit(
                f"--vector-sanity {spec!r}: unknown option {opt!r} "
                "(expected 'dim=D' and/or 'norm=LO:HI')"
            )
        try:
            if key == "dim":
                dim = int(val)
            else:
                lo_s, _, hi_s = val.partition(":")
                nlo = float(lo_s) if lo_s else None
                nhi = float(hi_s) if hi_s else None
        except ValueError:
            raise SystemExit(f"--vector-sanity {spec!r}: {opt!r} is not numeric")
    return C.vector_sanity(col, dim=dim, norm_lo=nlo, norm_hi=nhi)


def _group_drift_summary(gd, group_col: str, cap: int, fields: list[str]) -> dict:
    """Bounded JSON summary of a per-group drift frame, shared by
    validate --drift-by and token-drift --by: exact totals reduce
    in-plan to ONE row, only the ≤ cap worst failing groups (by PSI)
    are ever collected — listed worst first, each carrying its group
    value as ``"group"`` (null for the NULL group, so it never
    collides with a real "None" group) — and the frame PERSISTS
    across the two actions: without the persist each action re-runs
    the grouped explode/aggregation against the raw input (review r5).
    ``fields`` names the per-group row fields to surface; floats round
    to 6 dp."""
    gd = gd.persist()
    try:
        tot = gd.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("ks_pass") | ~F.col("psi_pass")).cast("int")).alias(
                "failed"
            ),
        ).collect()[0]
        worst = (
            gd.filter(~F.col("ks_pass") | ~F.col("psi_pass"))
            .orderBy(F.desc("psi"))
            .limit(cap)
            .collect()
        )
    finally:
        gd.unpersist()
    return {
        "group_col": group_col,
        "groups_total": int(tot.n),
        "groups_failed": int(tot.failed or 0),
        "failing": [
            {
                "group": _json_value(r[group_col]),
                **{
                    f: (round(r[f], 6) if isinstance(r[f], float) else r[f])
                    for f in fields
                },
            }
            for r in worst
        ],
    }


def _json_value(v):
    """A group value as JSON: scalars stay native (NULL → null), any
    other type (dates, decimals, structs) becomes its string form."""
    return v if v is None or isinstance(v, (bool, int, float, str)) else str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kglids_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a deterministic tokens table")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--partitions", type=int, default=None)
    g.add_argument("--no-violations", action="store_true")
    g.add_argument(
        "--bucket-partitioned",
        type=int,
        default=None,
        metavar="N_BUCKETS",
        help="materialize bucket_id and write PARTITIONED BY (bucket_id) "
        "— the Iceberg bucket(N, doc_id) layout; validate then gets "
        "file-level resume pruning",
    )

    v = sub.add_parser("validate", help="run the constraint suite")
    v.add_argument("--input", required=True)
    v.add_argument("--ledger", default=None)
    v.add_argument("--buckets", type=int, default=64)
    v.add_argument("--baseline", default=None, help="JSON file with baseline histogram")
    v.add_argument(
        "--baseline-snapshot",
        default=None,
        help="bucket_stats snapshot id to use as the drift baseline "
        "(time-travel read; the id is reported as stats_snapshot in metrics)",
    )
    v.add_argument(
        "--baseline-store",
        default=None,
        help="TableStore root holding the baseline snapshot (defaults to --ledger)",
    )
    v.add_argument(
        "--suite",
        default=None,
        metavar="FILE",
        help="JSON constraint suite (constraints.suite_to_json format) "
        "replacing the default suite; --check/--metric/--fd/--volume "
        "still append to it",
    )
    v.add_argument(
        "--check",
        action="append",
        default=[],
        metavar="PRED @@ COL1,COL2",
        help="extra expression constraint: SQL predicate, '@@', then "
        "the columns it reads (repeatable)",
    )
    v.add_argument(
        "--compliance",
        action="append",
        default=[],
        metavar="PRED @@ COLS @@ MIN_RATIO",
        help="ratio-compliance constraint (Deequ hasCompliance), e.g. "
        "'n_tok > 0 @@ n_tok @@ 0.99': fail only when fewer than "
        "MIN_RATIO of rows satisfy the predicate (repeatable)",
    )
    v.add_argument(
        "--metric",
        action="append",
        default=[],
        metavar="COL STAT LO HI",
        help="extra metric-threshold constraint, e.g. 'n_tok mean 1 1e6' "
        "(stat: null_rate|mean|stddev|min|max; repeatable)",
    )
    v.add_argument(
        "--fd",
        action="append",
        default=[],
        metavar="SPEC",
        help="extra functional-dependency constraint, e.g. 'doc_id -> source' "
        "or 'a,b -> c' (determinants -> dependent); append '@@ predicate' "
        "for a conditional FD scoped to matching rows, e.g. "
        "'doc_id -> source @@ n_tok > 0'; repeatable",
    )
    v.add_argument(
        "--element-range",
        action="append",
        default=[],
        metavar="COL LO HI",
        help="array-element bounds constraint, e.g. 'tokens 0 50256' — "
        "every element non-NULL and within [LO, HI] (the token-id-vs-"
        "vocabulary check); repeatable",
    )
    v.add_argument(
        "--vector-sanity",
        action="append",
        default=[],
        metavar="SPEC",
        help="float-vector sanity constraint, e.g. 'embedding', "
        "'embedding dim=128', 'embedding dim=128 norm=0.1:100' — every "
        "element finite (no NaN/Inf/NULL), optional exact dimension, "
        "optional L2-norm band; repeatable",
    )
    v.add_argument(
        "--volume",
        default=None,
        metavar="LO[:HI]",
        help="table-level row-count bound, e.g. '--volume 1000' (at least) "
        "or '--volume 1000:2000000'",
    )
    v.add_argument(
        "--outlier-fence",
        action="append",
        default=[],
        metavar="COL K MAXRATE",
        help="Tukey-fence outlier verdict, e.g. 'n_tok 1.5 0.01': fail "
        "when the fraction outside [Q1-K*IQR, Q3+K*IQR] exceeds "
        "MAXRATE — the data-derived sibling of a fixed range bound "
        "(costs one extra quantile+count pass per column; repeatable, "
        "one spec per column; an empty or all-NULL column fails)",
    )
    v.add_argument(
        "--drift-by",
        default=None,
        metavar="COLUMN",
        help="localize the drift verdict per value of this grouping "
        "column (e.g. the skewed 'source' feed column): the JSON gains "
        "a group_drift section with per-group counts and the worst "
        "failing groups; requires a drift constraint in the suite",
    )
    v.add_argument(
        "--drift-by-cap",
        type=int,
        default=20,
        metavar="N",
        help="max failing groups listed in group_drift (worst by PSI; "
        "totals are always exact) — keeps the JSON line bounded at "
        "millions of groups",
    )
    v.add_argument("--no-violation-rows", action="store_true")
    v.add_argument(
        "--fail-on-violation",
        action="store_true",
        help="exit 2 if any constraint fails (CI gate); default exits 0 "
        "and reports verdicts in JSON only",
    )
    v.add_argument(
        "--quarantine",
        default=None,
        metavar="DIR",
        help="write the full offending input records (left_semi on the "
        "violating keys) to this parquet directory; rows whose KEY is "
        "null (not_null(doc_id) violations) cannot be joined back and "
        "appear only in the violations set",
    )
    v.add_argument(
        "--max-violations",
        type=int,
        default=None,
        metavar="N",
        help="deterministic per-constraint cap on materialized violation "
        "rows (hash-minimum sample; verdict counts are unaffected)",
    )
    v.add_argument("--cpus", type=int, default=None)

    h = sub.add_parser(
        "history",
        help="print the run-lineage rows of a validation ledger "
        "(run_id, constraint hash, bucketing, metrics) as JSON lines",
    )
    h.add_argument("--ledger", required=True)
    h.add_argument("--limit", type=int, default=20)

    an = sub.add_parser(
        "anomaly",
        help="flag the latest validation run's metrics that sit outside "
        "k standard deviations of the trailing window of prior runs "
        "(same constraint suite) — yesterday's valid runs define "
        "today's normal",
    )
    an.add_argument("--ledger", required=True)
    an.add_argument("--window", type=int, default=7, metavar="N",
                    help="trailing prior runs to compare against")
    an.add_argument("--k", type=float, default=3.0,
                    help="z-score threshold")
    an.add_argument(
        "--metric",
        action="append",
        default=None,
        metavar="KEY",
        help="restrict monitoring to these lineage metric keys "
        "(repeatable; default: every numeric data metric, excluding "
        "identities and host timings)",
    )
    an.add_argument(
        "--constraint-hash",
        default=None,
        help="pin the run series to this suite hash (default: the "
        "latest run's)",
    )
    an.add_argument(
        "--min-history",
        type=int,
        default=3,
        metavar="N",
        help="skip metrics with fewer prior observations than this",
    )
    an.add_argument(
        "--fail-on-anomaly",
        action="store_true",
        help="exit 2 if any metric is flagged (CI gate)",
    )

    td = sub.add_parser(
        "token-drift",
        help="KS + PSI verdicts on the TOKEN-ID distribution of a "
        "tokens table vs a baseline tokens table — catches tokenizer "
        "swaps / vocab remaps that leave sequence lengths (and so the "
        "n_tok drift check) unchanged",
    )
    td.add_argument("--input", required=True, help="current tokens parquet")
    td.add_argument("--baseline", required=True, help="baseline tokens parquet")
    td.add_argument("--array-col", default="tokens")
    td.add_argument("--vocab-size", type=int, default=50257)
    td.add_argument("--nbins", type=int, default=64)
    td.add_argument("--ks-threshold", type=float, default=0.1)
    td.add_argument("--psi-threshold", type=float, default=0.2)
    td.add_argument(
        "--by",
        default=None,
        metavar="COLUMN",
        help="localize per value of this grouping column (e.g. the "
        "source feed): the JSON gains a group section with per-feed "
        "totals and the worst failing feeds by PSI",
    )
    td.add_argument(
        "--by-cap",
        type=int,
        default=20,
        metavar="N",
        help="max failing groups listed under --by (totals stay exact)",
    )
    td.add_argument(
        "--fail-on-drift",
        action="store_true",
        help="exit 2 if either verdict fails (CI gate; with --by, any "
        "failing feed also fails the gate)",
    )
    td.add_argument("--cpus", type=int, default=None)

    ti = sub.add_parser(
        "token-info",
        help="information-statistics summary of a tokens table: per-doc "
        "entropy / cross-entropy / KL quantiles plus the truncate-vs-"
        "chunk cost curve per candidate seq_len — the pick-your-window "
        "analytics a training run consults before committing",
    )
    ti.add_argument("--input", required=True, help="tokens parquet")
    ti.add_argument("--id-col", default="doc_id")
    ti.add_argument("--array-col", default="tokens")
    ti.add_argument(
        "--seq-lens",
        default="512,1024,2048",
        metavar="L1,L2,...",
        help="candidate window lengths for the truncation curve",
    )
    ti.add_argument("--cpus", type=int, default=None)

    p = sub.add_parser("profile", help="single-pass column profiles")
    p.add_argument("--input", required=True)
    p.add_argument("--exact", action="store_true")

    dp = sub.add_parser(
        "diff",
        help="per-row token-array equality between two tokenized tables "
        "(the reference-parity invariant): verdict summary as JSON; "
        "exit 2 on any non-match with --fail-on-diff",
    )
    dp.add_argument("--left", required=True, help="parquet tokens table")
    dp.add_argument("--right", required=True, help="parquet tokens table")
    dp.add_argument("--id-col", default="doc_id")
    dp.add_argument("--tokens-col", default="tokens")
    dp.add_argument(
        "--out", default=None, help="write the per-row diff (only non-match rows) here"
    )
    dp.add_argument("--fail-on-diff", action="store_true")
    dp.add_argument("--cpus", type=int, default=None)

    tk = sub.add_parser(
        "tokenize",
        help="learn a BPE tokenizer on a document table and write the "
        "validation engine's tokens input shape "
        "(doc_id, tokens:array<int>, n_tok, source)",
    )
    tk.add_argument("--input", required=True, help="parquet of documents")
    tk.add_argument("--out", required=True, help="tokens parquet output")
    tk.add_argument("--text-col", default="text")
    tk.add_argument("--id-col", default="doc_id")
    tk.add_argument(
        "--source-col",
        default=None,
        help="column copied through as 'source' (omitted if absent)",
    )
    tk.add_argument("--merges", type=int, default=200)
    tk.add_argument(
        "--merge-batch",
        type=int,
        default=16,
        help="max non-interacting merges applied per Spark round "
        "(provably identical to 1; higher = fewer driver round-trips)",
    )
    tk.add_argument(
        "--vocab-out", default=None, help="optional JSON file for the vocab + merges"
    )
    tk.add_argument("--cpus", type=int, default=None)

    pr = sub.add_parser(
        "prepare",
        help="one-call LLM training-data pipeline over a raw document "
        "table: gopher quality filter -> corpus-wide line dedup -> "
        "MinHash fuzzy dedup -> optional n-gram decontamination "
        "(--decontaminate-against) -> optional CCNet tertile quality "
        "filter (--drop-quality-buckets) -> BPE tokenize -> sequence "
        "packing; writes the packed tokens table and prints one JSON "
        "summary line with per-stage surviving row counts and timings",
    )
    pr.add_argument("--input", required=True, help="parquet of documents")
    pr.add_argument("--out", required=True, help="output parquet")
    pr.add_argument(
        "--input-format",
        choices=["parquet", "jsonl", "warc"],
        default="parquet",
        help="jsonl reads gzip/plain JSON-Lines via read_jsonl_corpus "
        "(malformed lines are dropped and counted as "
        "corrupt_json_dropped); warc reads WARC/WET crawl containers "
        "via read_warc — response/conversion records become (doc_id = "
        "record id, text = HTTP body, source = container file), best "
        "combined with --strip-html for response crawls",
    )
    pr.add_argument(
        "--input-schema",
        default=None,
        metavar="DDL",
        help="explicit DDL schema for --input-format jsonl (e.g. "
        "'doc_id long, text string, source string'); omitting it "
        "falls back to sampling inference (no corrupt capture)",
    )
    pr.add_argument("--text-col", default="text")
    pr.add_argument("--id-col", default="doc_id")
    pr.add_argument(
        "--source-col",
        default=None,
        help="column copied through as 'source' (omitted if absent)",
    )
    pr.add_argument(
        "--skip",
        default="",
        help="comma list of stages to skip: gopher,linededup,fuzzy,"
        "tokenize,pack (skipping tokenize requires skipping pack)",
    )
    pr.add_argument(
        "--gopher-threshold",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="override a gopher_filter threshold (repeatable), e.g. "
        "--gopher-threshold min_stop_words=0; unknown keys raise",
    )
    pr.add_argument(
        "--decontaminate-against",
        default=None,
        metavar="PARQUET",
        help="optional benchmark/eval document table (parquet with a "
        "text column); enables a decontamination stage after fuzzy "
        "dedup that drops every document sharing >=1 word n-gram with "
        "any benchmark document (the published n-gram-overlap "
        "protocol; the benchmark gram set broadcasts, the corpus "
        "never shuffles)",
    )
    pr.add_argument(
        "--decon-ngram",
        type=int,
        default=8,
        help="n-gram size for --decontaminate-against (default 8)",
    )
    pr.add_argument(
        "--bench-text-col",
        default="text",
        help="text column of the --decontaminate-against table",
    )
    pr.add_argument(
        "--drop-quality-buckets",
        default="",
        metavar="BUCKETS",
        help="comma list of CCNet quality buckets to drop (from "
        "head,middle,tail); non-empty enables the optional ccnet stage "
        "after fuzzy dedup: train a char-trigram LM on the surviving "
        "corpus, score every document, rank into equal-count tertiles, "
        "and drop the listed buckets (Wenzek et al. 2020 keep "
        "head/middle by dropping tail)",
    )
    pr.add_argument(
        "--strip-html",
        action="store_true",
        help="treat the text column as raw HTML and extract text first "
        "(script/style/comment content removed, block-closing tags "
        "become newlines so the line operators keep paragraph "
        "structure, core entities decoded) — the ingestion step for "
        "crawl-shaped corpora",
    )
    pr.add_argument(
        "--dedup-ledger",
        default=None,
        metavar="DIR",
        help="MinHash-signature ledger directory for INCREMENTAL "
        "near-dup dedup across prepare runs (the continuing-crawl "
        "discipline): after fuzzy dedup, documents near-dup with any "
        "previously shipped document are dropped (ledger stage), and "
        "the documents surviving every document-level stage append "
        "their signatures to the ledger; signature parameters are "
        "pinned in DIR/params.json and a mismatched re-run is refused; "
        "a re-run of the same input+config overwrites its own ledger "
        "shard (idempotent) and never screens against itself",
    )
    pr.add_argument("--merges", type=int, default=200)
    pr.add_argument("--merge-batch", type=int, default=16)
    pr.add_argument("--seq-len", type=int, default=2048)
    pr.add_argument(
        "--emit",
        choices=["packed", "windows", "examples"],
        default="packed",
        help="output shape: 'packed' (default) keeps one row per "
        "document with its bin assignment (doc_id, tokens, pack_offset, "
        "bin_id, bin_pos); 'windows' materializes the fixed-length "
        "training windows (bin_id, tokens, span arrays); 'examples' "
        "additionally emits causal-LM (input_ids, labels, segment_ids) "
        "with cross-document loss masking — the ready-to-train shape",
    )
    pr.add_argument("--minhash-threshold", type=float, default=0.5)
    pr.add_argument("--line-min-count", type=int, default=2)
    pr.add_argument(
        "--vocab-out", default=None, help="optional JSON file for the vocab + merges"
    )
    pr.add_argument(
        "--stage-dir",
        default=None,
        help="directory for per-stage parquet checkpoints; a re-run "
        "reads a stage's completed checkpoint (atomic _SUCCESS marker) "
        "instead of recomputing it, making the pipeline resumable "
        "stage-by-stage; the run configuration is pinned in the "
        "directory and a mismatched re-run is refused",
    )
    pr.add_argument("--cpus", type=int, default=None)

    q = sub.add_parser(
        "sql",
        help="ad-hoc Spark SQL over a directory of parquet tables "
        "(each <name>.parquet registered as view <name>)",
    )
    q.add_argument("--sf-dir", required=True)
    q.add_argument("query", help="SQL text")
    q.add_argument("--limit", type=int, default=100)

    a = sub.add_parser(
        "abstract",
        help="AST-abstract a directory of .py pipeline scripts into a "
        "statements table (reference run_kglids.py stage 2)",
    )
    a.add_argument("--scripts", required=True, help="directory of .py files")
    a.add_argument("--out", default=None, help="parquet output for statement rows")

    md = sub.add_parser(
        "media-dedup",
        help="perceptual near-duplicate pairs over a media parquet "
        "(media_id, kind, payload, ...): image dHash / audio "
        "energy-envelope / video majority-frame-vote signatures, one "
        "shared pigeonhole Hamming pair-join",
    )
    md.add_argument("--input", required=True, help="media table parquet")
    md.add_argument(
        "--kind",
        choices=["image", "audio", "video", "all"],
        default="all",
        help="which modality legs to run (default: all)",
    )
    md.add_argument("--max-hamming", type=int, default=3)
    md.add_argument(
        "--out",
        default=None,
        help="parquet dir for pair rows (kind, id1, id2, hamming)",
    )
    md.add_argument("--cpus", type=int, default=None)

    dc = sub.add_parser(
        "datacard",
        help="one-JSON corpus data card over a documents table: scale, "
        "length quantiles, quality moments, language/source mix, "
        "exact-duplicate rate — the release-note summary",
    )
    dc.add_argument("--input", required=True, help="documents table")
    dc.add_argument(
        "--input-format", choices=["parquet", "jsonl"], default="parquet"
    )
    dc.add_argument("--input-schema", default=None, metavar="DDL")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--source-col", default=None)
    dc.add_argument("--top-k", type=int, default=10)
    dc.add_argument(
        "--exact-dup",
        action="store_true",
        help="exact count_distinct for the duplicate rate instead of HLL",
    )
    dc.add_argument(
        "--zipf",
        action="store_true",
        help="add the word rank-frequency (Zipf) slope to the card "
        "(one extra word-count explode; ~-1 is healthy natural language)",
    )
    dc.add_argument("--cpus", type=int, default=None)

    sh = sub.add_parser(
        "shard",
        help="write a table as size-balanced training shards: round-robin "
        "over the size-descending global rank (or the hash order with no "
        "--size-col), one shard=K/ parquet directory per shard — the "
        "layout a striding data loader consumes",
    )
    sh.add_argument("--input", required=True, help="input table parquet")
    sh.add_argument("--out", required=True, help="output directory")
    sh.add_argument("--n-shards", type=int, required=True)
    sh.add_argument("--id-col", default="doc_id")
    sh.add_argument(
        "--size-col",
        default=None,
        help="column to balance shard totals on (e.g. n_tok); omitted = "
        "exact ±1 row balance in deterministic hash order",
    )
    sh.add_argument("--cpus", type=int, default=None)

    lk = sub.add_parser(
        "leakage",
        help="cross-split near-duplicate leakage audit over a documents "
        "parquet: MinHash-LSH pairs straddling the deterministic "
        "train/val/test split (the eval-contamination check run "
        "before a corpus release)",
    )
    lk.add_argument("--input", required=True, help="documents table parquet")
    lk.add_argument("--text-col", default="text")
    lk.add_argument("--id-col", default="doc_id")
    lk.add_argument(
        "--splits",
        default="train=0.9,val=0.05,test=0.05",
        help="comma list of name=fraction (must sum to 1 within 1e-6)",
    )
    lk.add_argument("--split-seed", type=int, default=0)
    lk.add_argument("--num-perm", type=int, default=64)
    lk.add_argument("--bands", type=int, default=16)
    lk.add_argument("--threshold", type=float, default=0.5)
    lk.add_argument(
        "--out", default=None, help="parquet dir for leakage pair rows"
    )
    lk.add_argument(
        "--fail-on-leakage",
        action="store_true",
        help="exit 2 if any near-dup pair straddles splits (CI gate)",
    )
    lk.add_argument("--cpus", type=int, default=None)

    z = sub.add_parser(
        "package",
        help="zip the kglids_spark package for spark-submit --py-files "
        "(north_rule: the job ships as one archive to every executor)",
    )
    z.add_argument("--out", default="kglids_spark.zip")

    args = ap.parse_args(argv)

    if args.cmd == "package":
        # no SparkSession needed: pure-stdlib zip of the package tree
        import os
        import zipfile

        pkg_root = os.path.dirname(os.path.abspath(__file__))
        with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, dirnames, filenames in os.walk(pkg_root):
                dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                for fn in sorted(filenames):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "kglids_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
            n_files = len(zf.namelist())
        print(json.dumps({"written": args.out, "files": n_files}))
        return 0

    spark = get_spark(app_name=f"kglids_spark.{args.cmd}", cpus=getattr(args, "cpus", None))

    if args.cmd == "generate":
        df = generate_tokens(
            spark,
            args.rows,
            seed=args.seed,
            plant_violations=not args.no_violations,
            partitions=args.partitions,
        )
        w = df.write.mode("overwrite")
        if args.bucket_partitioned:
            from kglids_spark.plans.buckets import with_bucket

            df = with_bucket(df, n_buckets=args.bucket_partitioned)
            w = df.write.mode("overwrite").partitionBy("bucket_id")
        w.parquet(args.out)
        print(json.dumps({"written": args.out, "rows": args.rows}))
        return 0

    if args.cmd == "validate":
        if args.quarantine and args.no_violation_rows:
            raise SystemExit(
                "--quarantine needs violation rows; drop --no-violation-rows"
            )
        df = spark.read.parquet(args.input)
        if args.suite:
            # clean usage errors, matching the --check/--metric paths
            try:
                with open(args.suite) as f:
                    suite = C.suite_from_json(f.read())
            except OSError as e:
                raise SystemExit(f"--suite {args.suite!r}: {e}")
            except (ValueError, KeyError) as e:
                raise SystemExit(
                    f"--suite {args.suite!r}: invalid suite JSON "
                    f"(constraints.suite_to_json format): {e}"
                )
        else:
            suite = C.default_suite(SOURCES)
        for spec in args.check:
            # rpartition: '@@' may legitimately appear inside a SQL
            # string literal in the predicate; the column list cannot
            # contain it
            pred, sep, colspec = spec.rpartition("@@")
            if not sep:
                raise SystemExit(
                    f"--check {spec!r}: expected 'PREDICATE @@ col1,col2'"
                )
            cols = [c.strip() for c in colspec.split(",") if c.strip()]
            suite.append(C.expression(pred.strip(), columns=cols))
        for spec in args.compliance:
            # rsplit: the trailing cols/ratio fields cannot contain
            # '@@', the leading SQL predicate may (inside a literal)
            parts = spec.rsplit("@@", 2)
            if len(parts) != 3:
                raise SystemExit(
                    f"--compliance {spec!r}: expected "
                    "'PREDICATE @@ col1,col2 @@ MIN_RATIO'"
                )
            pred, colspec, ratio_s = parts
            cols = [c.strip() for c in colspec.split(",") if c.strip()]
            try:
                ratio = float(ratio_s)
            except ValueError:
                raise SystemExit(
                    f"--compliance {spec!r}: MIN_RATIO must be a number, "
                    f"got {ratio_s.strip()!r}"
                )
            try:
                suite.append(C.compliance(pred.strip(), ratio, columns=cols))
            except ValueError as e:
                raise SystemExit(f"--compliance {spec!r}: {e}")
        for spec in args.metric:
            # clean usage error (matching --check) instead of a raw
            # ValueError traceback on a malformed spec
            parts = spec.split()
            if len(parts) != 4:
                raise SystemExit(
                    f"--metric {spec!r}: expected 'COL STAT LO HI' "
                    "(e.g. 'n_tok mean 100 5000')"
                )
            col, stat, lo, hi = parts
            try:
                lo_f, hi_f = float(lo), float(hi)
            except ValueError:
                raise SystemExit(
                    f"--metric {spec!r}: bounds must be numbers, got {lo!r} {hi!r}"
                )
            suite.append(C.metric_range(col, stat, lo_f, hi_f))
        for spec in args.fd:
            # optional conditional scope: 'a,b -> c @@ predicate'.
            # partition on the FIRST '@@' — the opposite of --check's
            # rpartition, because here the predicate comes LAST: a SQL
            # string literal inside it may contain '@@', while the FD
            # column spec before it cannot
            fd_spec, at_sep, where = spec.partition("@@")
            if not at_sep:
                fd_spec, where = spec, None
            else:
                where = where.strip()
                if not where:
                    raise SystemExit(
                        f"--fd {spec!r}: empty predicate after '@@'"
                    )
            dets_s, sep, dep = fd_spec.partition("->")
            dets = [c.strip() for c in dets_s.split(",") if c.strip()]
            dep = dep.strip()
            # '->' in dep means a second arrow ('a -> b -> c') — reject
            # at parse time instead of a raw AnalysisException later
            if not sep or not dets or not dep or "->" in dep:
                raise SystemExit(
                    f"--fd {spec!r}: expected 'det1,det2 -> dependent"
                    "[ @@ predicate]' (exactly one '->')"
                )
            suite.append(C.functional_dependency(dets, dep, where=where))
        for spec in args.element_range:
            parts = spec.split()
            if len(parts) != 3:
                raise SystemExit(
                    f"--element-range {spec!r}: expected 'COL LO HI' "
                    "(e.g. 'tokens 0 50256')"
                )
            col, lo_s, hi_s = parts
            try:
                lo_i, hi_i = int(lo_s), int(hi_s)
            except ValueError:
                raise SystemExit(
                    f"--element-range {spec!r}: bounds must be integers, "
                    f"got {lo_s!r} {hi_s!r}"
                )
            suite.append(C.element_range(col, lo_i, hi_i))
        for spec in args.vector_sanity:
            suite.append(_parse_vector_sanity(spec))
        # parse fence specs up front (usage errors fail fast, matching
        # --check/--metric); the passes themselves run after validate —
        # the fences depend on the column's own quantiles, so they
        # cannot ride the single stats scan
        fence_specs = []
        for spec in args.outlier_fence:
            parts = spec.split()
            if len(parts) != 3:
                raise SystemExit(
                    f"--outlier-fence {spec!r}: expected 'COL K MAXRATE' "
                    "(e.g. 'n_tok 1.5 0.01')"
                )
            col, k_s, rate_s = parts
            if any(col == seen for seen, _, _ in fence_specs):
                # one verdict key per column: a second spec would
                # silently overwrite the first
                raise SystemExit(
                    f"--outlier-fence {spec!r}: {col!r} already has a "
                    "fence spec (one per column)"
                )
            try:
                fence_specs.append((col, float(k_s), float(rate_s)))
            except ValueError:
                raise SystemExit(
                    f"--outlier-fence {spec!r}: K and MAXRATE must be "
                    f"numbers, got {k_s!r} {rate_s!r}"
                )
        if args.volume is not None:
            lo_s, _, hi_s = args.volume.partition(":")
            try:
                lo_v = int(lo_s)
                hi_v = float(hi_s) if hi_s else float("inf")
            except ValueError:
                raise SystemExit(
                    f"--volume {args.volume!r}: expected 'LO' or 'LO:HI' integers"
                )
            suite.append(C.volume(lo_v, hi_v))
        baseline_hist = None
        if args.baseline:
            with open(args.baseline) as f:
                baseline_hist = json.load(f)
        ledger = TableStore(spark, args.ledger) if args.ledger else None
        res = validate(
            df,
            suite,
            n_buckets=args.buckets,
            ledger=ledger,
            baseline_hist=baseline_hist,
            baseline_snapshot_id=args.baseline_snapshot,
            baseline_store=TableStore(spark, args.baseline_store)
            if args.baseline_store
            else None,
            extract_violation_rows=not args.no_violation_rows,
            max_violations_per_constraint=args.max_violations,
            drift_by=args.drift_by,
        )
        group_drift = None
        if res.group_drift is not None:
            group_drift = _group_drift_summary(
                res.group_drift,
                args.drift_by,
                args.drift_by_cap,
                ["n_rows", "ks", "psi", "ks_pass", "psi_pass"],
            )
        summary = {
            r.constraint_id: {"violations": r.total, "passed": bool(r.ok)}
            for r in res.verdicts.groupBy("constraint_id")
            .agg(F.sum("n_violations").alias("total"), F.min("passed").alias("ok"))
            .collect()
        }
        for col, k_f, rate_f in fence_specs:
            from kglids_spark.operators.profiler import iqr_outliers

            row = iqr_outliers(df, col, k=k_f).collect()[0]
            rate = float(row.outlier_rate or 0.0)
            summary[f"outlier_fence({col})"] = {
                "violations": int(row.n_below + row.n_above),
                # an empty or all-NULL column fails: a rate over
                # nothing asserts nothing (the metric_range contract)
                "passed": row.n_checked > 0 and rate <= rate_f,
            }
            res.metrics[f"outlier_rate({col})"] = round(rate, 6)
            res.metrics[f"outlier_fence_lo({col})"] = row.lo_fence
            res.metrics[f"outlier_fence_hi({col})"] = row.hi_fence
        if args.quarantine:
            # full offending records (not just ids) for downstream
            # triage/reprocessing — the Deequ/DLT quarantine pattern.
            # left_semi on the distinct violating keys: one join + one
            # write, and bounded when --max-violations caps the ids
            bad_keys = res.violations.select("doc_id").distinct()
            df.join(bad_keys, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(args.quarantine)
        out = {"metrics": res.metrics, "verdict_summary": summary}
        if group_drift is not None:
            out["group_drift"] = group_drift
        print(json.dumps(out, default=str))
        if args.fail_on_violation and any(not v["passed"] for v in summary.values()):
            return 2
        return 0

    if args.cmd == "history":
        store = TableStore(spark, args.ledger)
        if not store.exists("runs"):
            print(json.dumps({"error": "no runs table in ledger", "ledger": args.ledger}))
            return 1
        rows = (
            store.read("runs")
            .orderBy(F.desc("ts"))
            .limit(args.limit)
            .collect()
        )
        for r in rows:
            # new ledgers store metrics as JSON; ledgers written before
            # that change hold a Python repr — surface those raw rather
            # than failing the whole history listing
            try:
                metrics = json.loads(r.metrics)
            except (TypeError, ValueError):
                metrics = r.metrics
            print(
                json.dumps(
                    {
                        "run_id": r.run_id,
                        "constraint_hash": r.constraint_hash,
                        "n_buckets": r.n_buckets,
                        "ts": r.ts,
                        "metrics": metrics,
                    }
                )
            )
        return 0

    if args.cmd == "anomaly":
        from kglids_spark.operators.anomaly import detect_anomalies

        store = TableStore(spark, args.ledger)
        try:
            context, flags = detect_anomalies(
                store,
                window=args.window,
                k=args.k,
                metrics=args.metric,
                constraint_hash=args.constraint_hash,
                min_history=args.min_history,
            )
        except ValueError as e:
            raise SystemExit(str(e))
        print(
            json.dumps(
                {
                    **context,
                    "anomalies": {
                        a.metric: {
                            "value": a.value,
                            "window_mean": a.window_mean,
                            "window_std": a.window_std,
                            # inf = constant window, any move is news;
                            # null keeps the line strict RFC-8259 (the
                            # suite_to_json convention)
                            "z": None if math.isinf(a.z) else a.z,
                        }
                        for a in flags
                    },
                },
                default=str,
            )
        )
        if args.fail_on_anomaly and flags:
            return 2
        return 0

    if args.cmd == "token-info":
        from kglids_spark.operators import frequency as FR
        from kglids_spark.operators import packing as PK

        try:
            seq_lens = [int(s) for s in args.seq_lens.split(",") if s.strip()]
        except ValueError:
            raise SystemExit(
                f"--seq-lens {args.seq_lens!r}: expected comma-separated integers"
            )
        if not seq_lens or any(s <= 0 for s in seq_lens):
            raise SystemExit(
                f"--seq-lens {args.seq_lens!r}: lengths must be positive integers"
            )
        df = spark.read.parquet(args.input)
        info = FR.token_information_scores(
            df, id_col=args.id_col, array_col=args.array_col
        )
        qs = F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9))
        stats = info.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_tok") == 0).cast("long")).alias("n_empty"),
            *[
                F.percentile_approx(c, qs, F.lit(10000)).alias(c)
                for c in ("entropy", "cross_entropy", "kl")
            ],
        ).collect()[0]
        trunc = PK.truncation_stats(
            # greatest(size, 0): NULL arrays count as 0-token docs in
            # BOTH report sections (size(NULL) is NULL under ANSI and
            # -1 under legacy sizeOfNull — either would make the
            # truncation rows disagree with n_docs/n_empty above)
            df.select(
                F.greatest(F.size(args.array_col), F.lit(0))
                .cast("long")
                .alias("n_tok")
            ),
            seq_lens,
        ).collect()
        rnd = lambda xs: (  # noqa: E731
            [round(float(x), 6) for x in xs] if xs is not None else None
        )
        print(
            json.dumps(
                {
                    "n_docs": int(stats["n_docs"]),
                    "n_empty": int(stats["n_empty"] or 0),
                    "entropy_p10_p50_p90": rnd(stats["entropy"]),
                    "cross_entropy_p10_p50_p90": rnd(stats["cross_entropy"]),
                    "kl_p10_p50_p90": rnd(stats["kl"]),
                    "truncation": [
                        {
                            "seq_len": r.seq_len,
                            "docs_truncated": r.docs_truncated,
                            "tokens_kept_truncate": r.tokens_kept_truncate,
                            "kept_frac": round(r.kept_frac, 6)
                            if r.kept_frac is not None
                            else None,
                            "n_chunks": r.n_chunks,
                        }
                        for r in sorted(trunc, key=lambda r: r.seq_len)
                    ],
                }
            )
        )
        return 0

    if args.cmd == "token-drift":
        from kglids_spark.operators import drift as D

        n_cells = args.nbins + 2
        base_cells = [0] * n_cells
        for r in D.token_histogram_df(
            spark.read.parquet(args.baseline),
            array_col=args.array_col,
            vocab_size=args.vocab_size,
            nbins=args.nbins,
        ).collect():
            base_cells[int(r["cell"])] = int(r["n"])
        out = D.token_distribution_drift(
            spark.read.parquet(args.input),
            base_cells,
            array_col=args.array_col,
            vocab_size=args.vocab_size,
            nbins=args.nbins,
            ks_threshold=args.ks_threshold,
            psi_threshold=args.psi_threshold,
        )
        report = {
            "ks": round(out["ks"], 6),
            "psi": round(out["psi"], 6),
            "ks_pass": out["ks_pass"],
            "psi_pass": out["psi_pass"],
            "cells": out["cells"],
            "baseline_cells": base_cells,
        }
        any_group_failed = False
        if args.by:
            g = D.grouped_token_drift(
                spark.read.parquet(args.input),
                base_cells,
                args.by,
                array_col=args.array_col,
                vocab_size=args.vocab_size,
                nbins=args.nbins,
                ks_threshold=args.ks_threshold,
                psi_threshold=args.psi_threshold,
            )
            report["group"] = _group_drift_summary(
                g, args.by, args.by_cap, ["n_tokens", "ks", "psi"]
            )
            any_group_failed = report["group"]["groups_failed"] > 0
        print(json.dumps(report))
        if args.fail_on_drift and (
            not (out["ks_pass"] and out["psi_pass"]) or any_group_failed
        ):
            return 2
        return 0

    if args.cmd == "tokenize":
        from kglids_spark.operators import tokenizer as TK

        df = spark.read.parquet(args.input)
        merges = TK.learn_bpe(
            df,
            text_col=args.text_col,
            n_merges=args.merges,
            batch_size=args.merge_batch,
        )
        vocab = TK.bpe_vocab(merges, TK.corpus_alphabet(df, args.text_col))
        tt = TK.text_to_tokens_table(
            df,
            merges,
            vocab,
            text_col=args.text_col,
            id_col=args.id_col,
            source_col=args.source_col,
        )
        tt.write.mode("overwrite").parquet(args.out)
        if args.vocab_out:
            with open(args.vocab_out, "w") as f:
                json.dump(
                    {"merges": [list(m) for m in merges], "vocab": vocab}, f
                )
        n = spark.read.parquet(args.out).count()
        print(
            json.dumps(
                {
                    "written": args.out,
                    "rows": n,
                    "n_merges": len(merges),
                    "vocab_size": len(vocab),
                }
            )
        )
        return 0

    if args.cmd == "prepare":
        import time as _time

        from pyspark import StorageLevel

        from kglids_spark.operators import dedup as DD
        from kglids_spark.operators import text as TX
        from kglids_spark.operators import tokenizer as TK
        from kglids_spark.operators.packing import pack_sequences

        STAGES = ("gopher", "linededup", "fuzzy", "tokenize", "pack")
        skip = {s.strip() for s in args.skip.split(",") if s.strip()}
        unknown = skip - set(STAGES)
        if unknown:
            raise SystemExit(
                f"--skip: unknown stages {sorted(unknown)} "
                f"(choose from {list(STAGES)})"
            )
        if "tokenize" in skip and "pack" not in skip:
            raise SystemExit(
                "--skip tokenize requires skipping pack too "
                "(packing reads the tokens table)"
            )
        if args.emit != "packed" and "pack" in skip:
            raise SystemExit(
                f"--emit {args.emit} builds the training windows, which "
                "requires both the tokenize and pack stages — remove them "
                "from --skip"
            )

        drop_buckets = {
            b.strip() for b in args.drop_quality_buckets.split(",") if b.strip()
        }
        bad_buckets = drop_buckets - {"head", "middle", "tail"}
        if bad_buckets:
            raise SystemExit(
                f"--drop-quality-buckets: unknown buckets {sorted(bad_buckets)} "
                "(choose from head,middle,tail)"
            )
        if drop_buckets == {"head", "middle", "tail"}:
            raise SystemExit(
                "--drop-quality-buckets: dropping all three buckets would "
                "empty the corpus"
            )

        tcol, icol = args.text_col, args.id_col

        gthresh: dict = {}
        for spec in args.gopher_threshold:
            k, sep, v = spec.partition("=")
            if not sep:
                raise SystemExit(
                    f"--gopher-threshold {spec!r}: expected KEY=VALUE"
                )
            try:
                gthresh[k.strip()] = float(v)
            except ValueError:
                raise SystemExit(
                    f"--gopher-threshold {spec!r}: {v!r} is not a number"
                )

        resumed: list = []
        if args.stage_dir:
            # pin the run configuration in the checkpoint directory —
            # the validate ledger's constraint-hash discipline: resuming
            # a stage under different parameters would silently serve
            # stale data, so a mismatched re-run is refused instead
            import os

            os.makedirs(args.stage_dir, exist_ok=True)
            conf = {
                "input": args.input,
                "input_format": args.input_format,
                "input_schema": args.input_schema,
                "text_col": tcol,
                "id_col": icol,
                "skip": sorted(skip),
                "gopher_thresholds": {k: gthresh[k] for k in sorted(gthresh)},
                "line_min_count": args.line_min_count,
                "minhash_threshold": args.minhash_threshold,
                "merges": args.merges,
                "drop_quality_buckets": sorted(drop_buckets),
                "decontaminate_against": args.decontaminate_against,
                "decon_ngram": args.decon_ngram,
                "dedup_ledger": args.dedup_ledger,
                "strip_html": bool(args.strip_html),
            }
            conf_path = os.path.join(args.stage_dir, "_PREPARE_CONF.json")
            if os.path.exists(conf_path):
                with open(conf_path) as f:
                    prior = json.load(f)
                # a stage dir pinned before the ccnet/decontamination
                # stages existed is equivalent to running with them off
                prior.setdefault("drop_quality_buckets", [])
                prior.setdefault("decontaminate_against", None)
                prior.setdefault("decon_ngram", args.decon_ngram)
                prior.setdefault("input_format", "parquet")
                prior.setdefault("input_schema", None)
                prior.setdefault("dedup_ledger", None)
                prior.setdefault("strip_html", False)
                if prior != conf:
                    raise SystemExit(
                        f"--stage-dir {args.stage_dir!r} holds checkpoints "
                        "for a different configuration; clear it or point "
                        "at a fresh directory"
                    )
            else:
                with open(conf_path, "w") as f:
                    json.dump(conf, f)

        counts: dict = {}
        if args.input_format == "jsonl":
            from kglids_spark.sources.tables import read_jsonl_corpus

            df = read_jsonl_corpus(spark, args.input, args.input_schema)
            if "_corrupt_json" in df.columns:
                n_all = df.count()
                df = df.filter(F.col("_corrupt_json").isNull()).drop(
                    "_corrupt_json"
                )
                counts["corrupt_json_dropped"] = n_all - df.count()
        elif args.input_format == "warc":
            from pyspark import StorageLevel as _SL

            from kglids_spark.sources.warc import http_payload_text, read_warc

            recs = read_warc(spark, args.input).persist(_SL.MEMORY_AND_DISK)
            n_corrupt = recs.filter(
                F.col("warc_type") == "_corrupt_file"
            ).count()
            if n_corrupt:
                counts["corrupt_warc_files"] = n_corrupt
            kept = recs.filter(
                F.lower("warc_type").isin("response", "conversion")
            )
            txt = http_payload_text(kept)
            # keep successful fetches (2xx) and envelope-free records
            # (WET conversions); chunked/compressed bodies would decode
            # as framing noise or mojibake — drop them
            df = txt.filter(
                (
                    F.col("http_status").isNull()
                    | F.col("http_status").between(200, 299)
                )
                & ~F.col("http_encoded")
            ).select(
                F.col("record_id").alias(icol),
                F.col("text").alias(tcol),
                F.col("file").alias(args.source_col or "source"),
            )
            # cut lineage at the text-sized documents frame so the
            # container payloads (and their persist) release before the
            # pipeline stages run
            df = df.localCheckpoint(eager=True)
            recs.unpersist()
        else:
            df = spark.read.parquet(args.input)
        base_cols = df.columns
        counts["input"] = df.count()
        timings: dict = {}

        def _stage(name, fn, cur):
            # persist-then-count per stage: each stage's lineage ends at
            # the previous stage's materialized frame, so the per-stage
            # counts (the pipeline's tuning surface) don't recompute the
            # whole chain; the previous frame releases as soon as the
            # next is counted. With --stage-dir the stage materializes
            # to parquet instead and a completed checkpoint is READ on
            # re-run, not recomputed.
            t0 = _time.time()
            if args.stage_dir:
                import os

                path = os.path.join(args.stage_dir, name)
                if os.path.exists(os.path.join(path, "_SUCCESS")):
                    resumed.append(name)
                else:
                    fn(cur).write.mode("overwrite").parquet(path)
                nxt = spark.read.parquet(path)
            else:
                nxt = fn(cur).persist(StorageLevel.MEMORY_AND_DISK)
            counts[name] = nxt.count()
            timings[name] = round(_time.time() - t0, 2)
            cur.unpersist()
            return nxt

        # NULL text carries no signal through any stage (gopher KEEPS
        # null-text docs by contract, the dedups pass them through) — a
        # training pipeline wants them gone, so prepare drops them
        # first and reports the drop as its own stage count
        cur = df.filter(F.col(tcol).isNotNull()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        counts["non_null_text"] = cur.count()

        if args.strip_html:
            # markup -> text BEFORE any quality/dedup signal is read:
            # tags would otherwise count as words, entities as
            # punctuation, and boilerplate <script> bodies as content
            cur = _stage(
                "html", lambda d: TX.extract_html_text(d, tcol, tcol), cur
            )

        if "gopher" not in skip:
            try:
                cur = _stage(
                    "gopher",
                    lambda d: TX.gopher_filter(
                        d, text_col=tcol, thresholds=gthresh or None
                    )
                    .filter(F.col("keep"))
                    .select(*base_cols),
                    cur,
                )
            except ValueError as e:
                # unknown threshold key — a usage error, not a crash
                raise SystemExit(f"--gopher-threshold: {e}")
        if "linededup" not in skip:

            def _linededup(d):
                rebuilt = TX.corpus_line_dedup(
                    d,
                    text_col=tcol,
                    id_col=icol,
                    min_count=args.line_min_count,
                ).select(F.col(icol), F.col("text_clean").alias(tcol))
                keep = [c for c in base_cols if c != tcol]
                if keep == [icol]:
                    return rebuilt.select(*base_cols)
                # re-attach the passthrough columns; both sides are
                # co-keyed on the id, one shuffle join
                return d.select(*keep).join(rebuilt, icol).select(*base_cols)

            cur = _stage("linededup", _linededup, cur)
        if "fuzzy" not in skip:
            cur = _stage(
                "fuzzy",
                lambda d: DD.fuzzy_dedup_survivors(
                    d,
                    text_col=tcol,
                    id_col=icol,
                    threshold=args.minhash_threshold,
                ),
                cur,
            )
        ledger_sig_dir = ledger_run_tag = None
        if args.dedup_ledger:
            import hashlib
            import os

            lp = {
                "num_perm": 64,
                "bands": 16,
                "shingle_n": 3,
                "seed": 42,
                "threshold": args.minhash_threshold,
            }
            lp_path = os.path.join(args.dedup_ledger, "params.json")
            if os.path.exists(lp_path):
                with open(lp_path) as f:
                    lp_prior = json.load(f)
                if lp_prior != lp:
                    raise SystemExit(
                        f"--dedup-ledger {args.dedup_ledger!r} was built "
                        f"with {lp_prior}, got {lp} — signatures are "
                        "incomparable across parameter changes; use a "
                        "fresh directory or the ledger's parameters"
                    )
            else:
                os.makedirs(args.dedup_ledger, exist_ok=True)
                with open(lp_path, "w") as f:
                    json.dump(lp, f)
            ledger_sig_dir = os.path.join(args.dedup_ledger, "sigs")
            # deterministic shard tag: a re-run of the same input+config
            # overwrites its own shard (idempotent) and is excluded from
            # its own screen — the near_dup_filter_stream epoch
            # discipline, keyed by config instead of epoch
            ledger_run_tag = hashlib.md5(
                json.dumps(
                    {
                        "input": args.input,
                        "threshold": args.minhash_threshold,
                        "skip": sorted(skip),
                        "gopher": sorted(gthresh.items()),
                        "line_min_count": args.line_min_count,
                    },
                    sort_keys=True,
                ).encode()
            ).hexdigest()[:12]
            try:
                prior_sigs = (
                    spark.read.parquet(ledger_sig_dir)
                    .filter(F.col("run") != ledger_run_tag)
                    .select("id", "sig")
                )
            except Exception:
                prior_sigs = None  # first run: no ledger shards yet
            cur = _stage(
                "ledger",
                lambda d: DD.incremental_dedup_minhash(
                    d,
                    prior_sigs,
                    text_col=tcol,
                    id_col=icol,
                    threshold=args.minhash_threshold,
                ),
                cur,
            )
        if args.decontaminate_against:
            bench_df = spark.read.parquet(args.decontaminate_against)

            def _decon(d):
                hits = (
                    DD.benchmark_contamination(
                        d,
                        bench_df,
                        corpus_text=tcol,
                        corpus_id=icol,
                        bench_text=args.bench_text_col,
                        bench_id=args.bench_text_col,  # any column works as id
                        n=args.decon_ngram,
                    )
                    .select(F.col("doc_id").alias(icol))
                    .distinct()
                )
                return d.join(hits, icol, "left_anti")

            cur = _stage("decontaminate", _decon, cur)
        if drop_buckets:
            # CCNet quality stage (opt-in): self-train a char-trigram
            # LM on the corpus that SURVIVED dedup (training on dups
            # would bias the model toward boilerplate), rank docs into
            # equal-count tertiles by mean logprob, keep the others
            def _ccnet(d):
                scored = TX.char_lm_train_score(d, text_col=tcol, id_col=icol)
                bucketed = TX.ccnet_buckets(scored, id_col=icol)
                keep_ids = bucketed.filter(
                    ~F.col("bucket_label").isin(sorted(drop_buckets))
                ).select(icol)
                # both sides key on the doc id — one co-keyed join
                return d.join(keep_ids, icol).select(*base_cols)

            cur = _stage("ccnet", _ccnet, cur)

        if args.dedup_ledger:
            # what SHIPS is what later runs must not re-admit: append
            # the final doc-level survivors' signatures as this run's
            # shard (dir-partition layout run=<tag>, so the parent read
            # discovers a `run` column and the screen above can exclude
            # this run's own prior shard)
            import os

            DD.minhash_dedup_ledger(cur, text_col=tcol, id_col=icol).write.mode(
                "overwrite"
            ).parquet(os.path.join(ledger_sig_dir, f"run={ledger_run_tag}"))

        extra: dict = {}
        if "tokenize" not in skip:
            import os

            t0 = _time.time()
            vocab_ckpt = (
                os.path.join(args.stage_dir, "vocab.json")
                if args.stage_dir
                else None
            )
            if vocab_ckpt and os.path.exists(vocab_ckpt):
                # the learned model is the expensive driver-loop half of
                # tokenization — resume it like any other stage
                with open(vocab_ckpt) as f:
                    vj = json.load(f)
                merges = [tuple(m) for m in vj["merges"]]
                vocab = vj["vocab"]
                resumed.append("bpe_learn")
            else:
                merges = TK.learn_bpe(
                    cur,
                    text_col=tcol,
                    n_merges=args.merges,
                    batch_size=args.merge_batch,
                )
                vocab = TK.bpe_vocab(merges, TK.corpus_alphabet(cur, tcol))
                if vocab_ckpt:
                    with open(vocab_ckpt, "w") as f:
                        json.dump(
                            {
                                "merges": [list(m) for m in merges],
                                "vocab": vocab,
                            },
                            f,
                        )
            out_df = TK.text_to_tokens_table(
                cur,
                merges,
                vocab,
                text_col=tcol,
                id_col=icol,
                source_col=args.source_col,
            )
            if "pack" not in skip:
                if args.emit == "packed":
                    out_df = pack_sequences(out_df, args.seq_len)
                else:
                    from kglids_spark.operators.packing import (
                        lm_examples,
                        materialize_bins,
                    )

                    out_df = materialize_bins(out_df, args.seq_len)
                    if args.emit == "examples":
                        out_df = lm_examples(out_df)
            out_df.write.mode("overwrite").parquet(args.out)
            timings["tokenize_pack"] = round(_time.time() - t0, 2)
            extra = {"n_merges": len(merges), "vocab_size": len(vocab)}
            if args.vocab_out:
                with open(args.vocab_out, "w") as f:
                    json.dump(
                        {"merges": [list(m) for m in merges], "vocab": vocab}, f
                    )
        else:
            cur.write.mode("overwrite").parquet(args.out)
        cur.unpersist()
        out_back = spark.read.parquet(args.out)
        n_out = out_back.count()
        if "pack" not in skip and "tokenize" not in skip:
            extra["n_bins"] = out_back.select("bin_id").distinct().count()
        if args.stage_dir:
            extra["stages_resumed"] = resumed
        print(
            json.dumps(
                {
                    "written": args.out,
                    "rows": n_out,
                    "stage_counts": counts,
                    "stage_sec": timings,
                    **extra,
                }
            )
        )
        return 0

    if args.cmd == "diff":
        from kglids_spark.operators import parity

        d = parity.token_equality_diff(
            spark.read.parquet(args.left),
            spark.read.parquet(args.right),
            id_col=args.id_col,
            tokens_col=args.tokens_col,
        )
        if args.out:
            # persist so the summary and the non-match extraction share
            # one join, then release before the session ends
            d = d.persist()
        summary = {
            r["verdict"]: r["n_rows"]
            for r in parity.token_equality_summary(d).collect()
        }
        if args.out:
            d.filter(F.col("verdict") != "match").write.mode("overwrite").parquet(
                args.out
            )
            d.unpersist()
        n_bad = sum(v for k, v in summary.items() if k != "match")
        print(json.dumps({"verdicts": summary, "n_non_match": n_bad}))
        if args.fail_on_diff and n_bad:
            return 2
        return 0

    if args.cmd == "profile":
        from kglids_spark.session import WIDE_ARRAY_SCAN_CONF, scoped_sql_conf

        df = spark.read.parquet(args.input)
        prof = profile_table(df, table_id=args.input.rstrip("/").split("/")[-1], exact=args.exact)
        # profiling scans every column incl. wide token arrays — run the
        # collect under the wide-array reader-batch profile
        with scoped_sql_conf(spark, WIDE_ARRAY_SCAN_CONF):
            rows = prof.collect()
        for row in rows:
            print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "media-dedup":
        from kglids_spark.operators import multimodal as MM

        if not 0 <= args.max_hamming <= 63:
            raise SystemExit(
                f"--max-hamming {args.max_hamming}: must be in [0, 63] "
                "(64-bit signatures; each pigeonhole chunk needs >= 1 bit)"
            )

        legs = {
            "image": MM.image_near_dup_pairs,
            "audio": MM.audio_near_dup_pairs,
            "video": MM.video_near_dup_pairs,
        }
        if args.kind != "all":
            legs = {args.kind: legs[args.kind]}
        media = spark.read.parquet(args.input)
        summary: dict[str, int] = {}
        all_pairs = None
        for kind, fn in legs.items():
            pairs = fn(media, max_hamming=args.max_hamming).withColumn(
                "kind", F.lit(kind)
            ).select("kind", "id1", "id2", "hamming")
            # the one-call ops eagerly checkpoint, so counting and a
            # later union/write reuse the materialized (small) result
            summary[kind] = pairs.count()
            all_pairs = pairs if all_pairs is None else all_pairs.unionByName(pairs)
        if args.out:
            all_pairs.write.mode("overwrite").parquet(args.out)
        print(
            json.dumps(
                {
                    "pairs_by_kind": summary,
                    "n_pairs": sum(summary.values()),
                    "max_hamming": args.max_hamming,
                    **({"written": args.out} if args.out else {}),
                }
            )
        )
        return 0

    if args.cmd == "datacard":
        from kglids_spark.operators.text import corpus_datacard

        if args.input_format == "jsonl":
            from kglids_spark.sources.tables import read_jsonl_corpus

            df = read_jsonl_corpus(spark, args.input, args.input_schema)
            if "_corrupt_json" in df.columns:
                df = df.filter(F.col("_corrupt_json").isNull()).drop(
                    "_corrupt_json"
                )
        else:
            df = spark.read.parquet(args.input)
        card = corpus_datacard(
            df,
            text_col=args.text_col,
            source_col=args.source_col,
            top_k=args.top_k,
            exact_dup=args.exact_dup,
            zipf=args.zipf,
        )
        print(json.dumps(card))
        return 0

    if args.cmd == "shard":
        from kglids_spark.operators.sampling import assign_shards

        df = spark.read.parquet(args.input)
        if args.size_col is not None and args.size_col not in df.columns:
            raise SystemExit(
                f"--size-col {args.size_col!r} not in input columns {df.columns}"
            )
        # no extra persist: ranked_prefix already materialized the
        # stamped frame via an eager localCheckpoint, so the write and
        # the summary aggregate are two narrow reads of that base
        sharded = assign_shards(
            df, args.n_shards, size_col=args.size_col, id_col=args.id_col
        )
        sharded.write.mode("overwrite").partitionBy("shard").parquet(args.out)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        if args.size_col is not None:
            aggs.append(F.sum(F.col(args.size_col).cast("long")).alias("total"))
        per = {
            r["shard"]: r.asDict()
            for r in sharded.groupBy("shard").agg(*aggs).collect()
        }
        # shards absent from the aggregate (n_shards > n_rows, or an
        # empty input) hold zero rows — the summary must say so rather
        # than report the minimum over non-empty shards only
        rows = [per.get(s, {}).get("n_rows", 0) for s in range(args.n_shards)]
        summary = {
            "written": args.out,
            "n_shards": args.n_shards,
            "rows": int(sum(rows)),
            "rows_min": int(min(rows)),
            "rows_max": int(max(rows)),
        }
        if args.size_col is not None:
            tot = [
                int(per.get(s, {}).get("total") or 0)
                for s in range(args.n_shards)
            ]
            summary["size_col"] = args.size_col
            summary["total_min"] = min(tot)
            summary["total_max"] = max(tot)
        print(json.dumps(summary))
        return 0

    if args.cmd == "leakage":
        from kglids_spark.operators import dedup as D

        try:
            splits = {
                part.split("=", 1)[0].strip(): float(part.split("=", 1)[1])
                for part in args.splits.split(",")
                if part.strip()
            }
        except (IndexError, ValueError):
            raise SystemExit(f"--splits {args.splits!r}: expected name=frac[,name=frac...]")
        if len(splits) < 2:
            raise SystemExit("--splits needs >= 2 splits (nothing can straddle one)")
        if abs(sum(splits.values()) - 1.0) > 1e-6:
            raise SystemExit(f"--splits fractions sum to {sum(splits.values())}, expected 1")
        if args.num_perm <= 0 or args.num_perm % args.bands:
            raise SystemExit(
                f"--num-perm {args.num_perm} must be a positive multiple of --bands {args.bands}"
            )
        pairs = D.split_leakage_pairs(
            spark.read.parquet(args.input),
            text_col=args.text_col,
            id_col=args.id_col,
            splits=splits,
            split_seed=args.split_seed,
            num_perm=args.num_perm,
            bands=args.bands,
            threshold=args.threshold,
        )
        # the pair set is small (near-dups that also straddle splits);
        # persist so the summary groupBy and the optional write don't
        # re-run the LSH join
        pairs = pairs.localCheckpoint(eager=True)
        by_splits = {
            f"{r.split1}->{r.split2}": r.n
            for r in pairs.groupBy("split1", "split2")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
        n = sum(by_splits.values())
        print(
            json.dumps(
                {
                    "n_leakage_pairs": n,
                    "by_splits": dict(sorted(by_splits.items())),
                    "threshold": args.threshold,
                    "splits": splits,
                    **({"written": args.out} if args.out else {}),
                }
            )
        )
        if args.fail_on_leakage and n:
            return 2
        return 0

    if args.cmd == "sql":
        import glob
        import os

        from kglids_spark.sources.tables import load_testdata

        names = [
            os.path.splitext(os.path.basename(p))[0]
            for p in glob.glob(os.path.join(args.sf_dir, "*.parquet"))
        ]
        load_testdata(spark, args.sf_dir, tables=sorted(names))
        for row in spark.sql(args.query).limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
        return 0

    if args.cmd == "abstract":
        import glob
        import os

        from kglids_spark.operators.pipelines import abstract_pipelines_df

        files = sorted(glob.glob(os.path.join(args.scripts, "*.py")))
        scripts = spark.createDataFrame(
            [(os.path.splitext(os.path.basename(f))[0], open(f).read()) for f in files],
            "pipeline_id string, source string",
        )
        stmts = abstract_pipelines_df(spark, scripts)
        if args.out:
            stmts.write.mode("overwrite").parquet(args.out)
        counts = {
            r["library"]: r["n"]
            for r in stmts.groupBy("library").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(
            json.dumps(
                {"pipelines": len(files), "statements": stmts.count(), "by_library": counts}
            )
        )
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
