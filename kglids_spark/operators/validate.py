"""End-to-end validation orchestration: plan → collect per-bucket
sketches → merge → evaluate → verdicts + violations, resumable.

Reference analogs: the skip-already-profiled filter
(kg_governor/data_profiling/profile_data.py:66-84) becomes an anti-join
against the checkpoint ledger's completed-bucket set; the
JSON-per-column side-effect writes (model/column_profile.py:58-64)
become transactional appends of mergeable sketch rows.

Scale design (10^12 rows, 1000 executors):
- ONE main scan per run computes, per logical bucket: row count, every
  row-level violation count, an HLL++ sketch of doc_id
  (hll_sketch_agg — binary, mergeable), and a KLL quantile sketch with
  min/max of the KLL column (kll_sketch_agg_double). All are JVM
  aggregates with map-side partials; the shuffle moves only n_buckets
  small rows.
- The exact fixed-width histogram of the drift column maps each row
  to one cell index (drift.cell_expr) and drift.cell_counts counts per
  (bucket, cell), map-side combined, over the same persisted slim
  frame; at most n_buckets × n_cells rows reach the driver, which
  zero-fills one array per bucket.
- Uniqueness adds the one unavoidable key shuffle (groupBy doc_id),
  bucket-local because buckets hash the same key; only the number of
  duplicated keys per bucket is collected. The stats pass persists
  nothing but the slim frame: when a unique constraint fails,
  extraction runs the key shuffle again over the dirty buckets only.
- Stats first: the aggregate, the duplicate-key counts and the cell
  counts are collected ONCE each, with no join in Spark; the driver
  builds one bucket_stats row per bucket from them
  (_bucket_stats_rows) and merges those with the prior rows the resume
  read collected: per bucket the earliest (completed_at, run_id) wins,
  so sketch merges are idempotent (SURVEY.md §7.2 hard-parts 1-3). The
  distinct-key estimate is one hll_union_agg over the winners'
  sketches. No single task aggregates all buckets, so nothing is tiered.
- Resume: on an Iceberg table partitioned by bucket(N, doc_id) the
  NOT IN filter on the completed buckets prunes file scans, so a
  restarted job reads only unvalidated data.
- Extraction only when needed: if no row or uniqueness count of this
  run is non-zero, violation extraction is skipped; otherwise only the
  failing constraints are extracted, over the dirty buckets.
- Commit order: violations -> bucket_stats -> runs, the completion
  marker last. Violation rows are read back only for runs that won at
  least one bucket, so a run that died mid-commit neither loses nor
  duplicates rows on resume.
- Frames built from driver-side values (verdicts, lineage, bucket_stats
  rows) are Arrow-backed local relations (session.local_frame), and no
  cached frame outlives a call.
- Verdicts are keyed on the logical bucket, never
  spark_partition_id(), so N- and 4N-executor runs produce identical
  pass/fail matrices (tested in tests/test_validate.py).
"""

from __future__ import annotations

import json
import logging
import math
import struct
import time
import uuid
import functools
from contextlib import ExitStack
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kglids_spark.operators import constraints as C
from kglids_spark.operators import drift as D
from kglids_spark.plans.buckets import BUCKET_COL, DEFAULT_BUCKETS, with_bucket
from kglids_spark.session import WIDE_ARRAY_SCAN_CONF, local_frame, scoped_sql_conf
from kglids_spark.sources.tables import TableStore

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("bucket_id", T.IntegerType(), False),
        T.StructField("constraint_id", T.StringType(), False),
        T.StructField("n_checked", T.LongType(), False),
        T.StructField("n_violations", T.LongType(), False),
        T.StructField("passed", T.BooleanType(), False),
    ]
)

GLOBAL_BUCKET = -1  # verdict rows for table-level constraints

_KLL_FAMILY = 15  # DataSketches family id of a KLL sketch

log = logging.getLogger(__name__)


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: dict
    # per-group drift localization — only when validate(..., drift_by=...)
    group_drift: DataFrame | None = None


def _flag(i: int) -> str:
    """Slim-frame column holding the i-th row constraint's violation
    flag."""
    return f"_viol_{i}"


def _stats_pass(
    slim_df: DataFrame,
    n_flags: int,
    key: str,
    kll_col: str | None = None,
    metric_cols: list[str] = (),
) -> DataFrame:
    """The main per-bucket aggregate (one scan) over the slim frame,
    which carries the i-th row constraint's violation flag as
    ``_flag(i)``: one row per bucket with the row count, an HLL sketch
    of the key and the flag sums (each under its flag's name). The
    duplicate-key counts and the drift histogram are separate small
    results; ``_bucket_stats_rows`` joins them on the driver.

    ``kll_col``: also attach min, max and a KLL quantile sketch
    (Spark's native ``kll_sketch_agg_double``, k=200) of that column,
    cast with try_cast so a non-numeric value counts as NULL. They are
    aggregates of the same groupBy as the HLL sketch, and the sketch
    bytes ride the same bucket_stats row, so resume semantics are
    identical to the histogram and HLL sketches."""
    aggs = [F.count(F.lit(1)).alias("n_rows"), F.hll_sketch_agg(F.col(key)).alias("hll_key")]
    if kll_col is not None:
        v = F.col(kll_col).try_cast("double")
        aggs += [
            F.min(v).alias("v_min"),
            F.max(v).alias("v_max"),
            F.kll_sketch_agg_double(v).alias("kll"),
        ]
    # metric constraints: mergeable per-bucket sums — the cross-bucket
    # merge (driver side, n_buckets rows) reconstructs the EXACT global
    # stat, so metric verdicts share resume semantics with the sketches
    for m in metric_cols:
        # try_cast: ANSI mode is on, a plain cast THROWS on non-numeric
        # strings instead of nulling
        c = F.col(m).try_cast("double")
        aggs += [
            # null_rate counts RAW nulls — the double cast would turn a
            # non-numeric column into 100% "missing" (cast-null ≠ null)
            F.count(F.col(m)).alias(f"_m_nn_{m}"),
            F.count(c).alias(f"_m_n_{m}"),
            F.sum(c).alias(f"_m_s_{m}"),
            F.sum(c * c).alias(f"_m_q_{m}"),
            F.min(c).alias(f"_m_lo_{m}"),
            F.max(c).alias(f"_m_hi_{m}"),
        ]
    aggs += [F.sum(F.col(_flag(i)).cast("long")).alias(_flag(i)) for i in range(n_flags)]
    return slim_df.groupBy(BUCKET_COL).agg(*aggs)


def _bucket_stats_rows(
    stats: DataFrame,
    dup_keys: DataFrame | None,
    cells: DataFrame | None,
    row_cs: list[C.Constraint],
    unique_cs: list[C.Constraint],
    drift_spec: D.HistSpec | None,
    lineage: dict,
) -> tuple[list[dict], T.StructType]:
    """Collect the three small results of the stats pass (the
    ``_stats_pass`` aggregate, ``dup_keys``: the number of duplicated
    keys per bucket, ``cells``: the drift column's (bucket, cell)
    counts) and build one bucket_stats row per bucket on the driver,
    with its schema. ``viol_counts`` maps each row constraint to its
    flag sum and each unique constraint to the bucket's duplicate-key
    count; ``hist`` is the bucket's zero-filled cell array (the
    NULL-value cell is skipped, so an all-NULL bucket stores zeros);
    ``lineage`` (run_id, constraint_hash, n_buckets, completed_at) ends
    every row. Without a KLL column, v_min, v_max and kll are NULL."""
    flags = {_flag(i) for i in range(len(row_cs))}
    # the aggregate's own fields keep their Spark types and metadata
    # (bucket_id's records the bucket count for the ledger manifest)
    fields = [f for f in stats.schema.fields if f.name not in flags]
    rows = [r.asDict() for r in stats.collect()]
    n_dup = {} if dup_keys is None else dict(dup_keys.collect())
    hists: dict[int, list[int]] = {}
    for b, cell, n in [] if cells is None else cells.collect():
        hist = hists.setdefault(b, [0] * drift_spec.n_cells)
        if cell is not None:
            hist[cell] = n
    no_kll = "kll" not in stats.columns
    for r in rows:
        b = r[BUCKET_COL]
        viol = {c.cid: r.pop(_flag(i)) or 0 for i, c in enumerate(row_cs)}
        viol.update({c.cid: n_dup.get(b, 0) for c in unique_cs})
        r["viol_counts"] = viol
        r["hist"] = None if drift_spec is None else hists[b]
        if no_kll:
            r.update(v_min=None, v_max=None, kll=None)
        r.update(lineage)
    # nullability as the earlier Spark-assembled rows declared it, so
    # every snapshot of the ledger has one parquet schema
    fields += [
        T.StructField("viol_counts", T.MapType(T.StringType(), T.LongType(), not row_cs), False),
        T.StructField("hist", T.ArrayType(T.LongType(), drift_spec is None)),
    ]
    if no_kll:
        fields += [
            T.StructField("v_min", T.DoubleType()),
            T.StructField("v_max", T.DoubleType()),
            T.StructField("kll", T.BinaryType()),
        ]
    fields += [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("constraint_hash", T.StringType(), False),
        T.StructField("n_buckets", T.IntegerType(), False),
        T.StructField("completed_at", T.DoubleType(), False),
    ]
    return rows, T.StructType(fields)


def _kll_items(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(items, weights) of one DataSketches compact KLL-doubles sketch,
    the bytes ``kll_sketch_agg_double`` returns. An 8-byte header
    (preamble ints, serial version, family id, flags, k, m) is the
    whole empty form, and the single-item form adds one double. The
    full form continues to a 20-byte preamble (n: int64, min k: uint16,
    level count L: uint8, pad), then L int32 level offsets (the top
    level ends with the blob), min, max, and the retained items, level
    0 first. A level-i item stands for 2^i rows. Raises ValueError on
    bytes that are not such a sketch."""
    if len(blob) < 8 or blob[2] != _KLL_FAMILY:
        raise ValueError("not a DataSketches KLL sketch")
    flags = blob[3]
    if flags & 1 and len(blob) == 8:  # empty
        return np.empty(0), np.empty(0, np.int64)
    if flags & 4 and len(blob) == 16:  # single item
        return np.frombuffer(blob, "<f8", 1, 8), np.ones(1, np.int64)
    if flags & 5 or len(blob) < 20 or blob[:2] != b"\x05\x01":
        raise ValueError("malformed KLL-doubles sketch header")
    n, n_levels = struct.unpack_from("<q2xB", blob, 8)
    data = 20 + 4 * n_levels + 16
    n_items, rem = divmod(len(blob) - data, 8)
    if n_levels == 0 or n_items < 0 or rem:
        raise ValueError("KLL-doubles sketch length does not match its levels")
    offsets = np.frombuffer(blob, "<i4", n_levels, 20)
    sizes = np.diff(np.append(offsets - offsets[0], n_items))
    level_weight = np.left_shift(1, np.arange(n_levels, dtype=np.int64))
    if (sizes < 0).any() or sizes @ level_weight != n:
        raise ValueError("KLL-doubles sketch levels do not add up to its n")
    return np.frombuffer(blob, "<f8", n_items, data), np.repeat(level_weight, sizes)


def _kll_union_quantiles(blobs: list[bytes], qs: list[float]) -> list[float | None]:
    """Quantiles of the union of per-bucket KLL sketches, computed on
    the driver: every retained item of every sketch with its weight,
    pooled and sorted; the q-quantile is the smallest item whose
    cumulative weight reaches ceil(q·n) (DataSketches' inclusive rule,
    so one blob reproduces ``kll_sketch_get_quantile_double`` for
    0 < q < 1). DataSketches' own merge is randomized; this union is a
    pure function of the set of blobs, so a resumed run and both merge
    paths report bit-identical quantiles. None when every sketch is
    empty."""
    parts = [_kll_items(b) for b in blobs]
    items = np.concatenate([np.empty(0)] + [p[0] for p in parts])
    if items.size == 0:
        return [None for _ in qs]
    order = np.argsort(items, kind="stable")
    items = items[order]
    cum = np.cumsum(np.concatenate([p[1] for p in parts])[order])
    return [float(items[np.searchsorted(cum, math.ceil(q * cum[-1]))]) for q in qs]


def _earliest_per_bucket(rows) -> list[dict]:
    """Idempotent-merge rule over bucket_stats rows (dicts): per bucket,
    the earliest (completed_at, run_id) wins, so buckets re-validated by
    resumed or concurrent runs never double count. Returned in bucket
    order, so the driver-side sums over them are deterministic."""
    best: dict[int, dict] = {}
    for r in rows:
        b = r["bucket_id"]
        if b not in best or (r["completed_at"], r["run_id"]) < (
            best[b]["completed_at"], best[b]["run_id"]
        ):
            best[b] = r
    return [best[b] for b in sorted(best)]


def _slim_projection(
    df_b: DataFrame, violations: list[Column], key: str, sketch_cols: list[str]
) -> DataFrame:
    """Project the bucketed frame down to the key, the bucket, the
    columns the sketches read, and one boolean per row constraint
    (``_flag(i)``: true iff the row violates the i-th). The wide token
    and vector arrays (the bulk of the bytes at 10^12 rows) are decoded
    ONCE here and never enter the slim frame; it then feeds both the
    stats aggregation and the violation-row extraction, halving input
    I/O when both passes run."""
    cols = dict.fromkeys([key, BUCKET_COL, *sketch_cols])
    return df_b.select(
        *[F.col(x) for x in cols], *[v.alias(_flag(i)) for i, v in enumerate(violations)]
    )


def validate(df: DataFrame, constraints: list[C.Constraint], **kwargs) -> ValidationResult:
    """Run the constraint suite (see ``_validate_impl`` for the full
    contract). Wraps the pass in the wide-array reader-batch profile
    (session.WIDE_ARRAY_SCAN_CONF): the token scans that dominate this
    pass want small column vectors, while the session default stays
    tuned for narrow scans (bench_ab.py A/B, BENCH.md round 3)."""
    with scoped_sql_conf(df.sparkSession, WIDE_ARRAY_SCAN_CONF), ExitStack() as release:
        return _validate_impl(df, constraints, release, **kwargs)


def _validate_impl(
    df: DataFrame,
    constraints: list[C.Constraint],
    release: ExitStack,
    *,
    key: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    ledger: TableStore | None = None,
    run_id: str | None = None,
    baseline_hist: list[int] | None = None,
    baseline_snapshot_id: str | None = None,
    baseline_store: TableStore | None = None,
    drift_spec: D.HistSpec | None = None,
    extract_violation_rows: bool = True,
    max_violations_per_constraint: int | None = None,
    dims: dict[str, DataFrame] | None = None,
    kll_col: str | None = "auto",
    drift_by: str | None = None,
) -> ValidationResult:
    """``release`` unpersists every frame this call caches when
    ``validate`` returns or raises.

    ``dims`` maps a referential constraint's dim_table name to its
    DataFrame for dim-table RI (vs a literal valid_values vocabulary).

    ``drift_by`` localizes the drift verdict to a grouping column
    (north_star: WHICH skewed ``source`` feed moved the n_tok mixture,
    not just that it moved): ``result.group_drift`` holds one row per
    group (group, n_rows, ks, psi, ks_pass, psi_pass) from
    ``drift.grouped_drift`` against the SAME resolved baseline as the
    global verdict — explicit ``baseline_hist`` > snapshot > self. Like
    FD (a global property), it is recomputed over the full input each
    run rather than per resumable bucket; per-group histograms and both
    statistics reduce entirely in-plan, so the frame is lazy and safe
    at millions of groups (the CLI caps what it collects). Under a
    self-baseline the global verdict is trivially passing while groups
    are compared to the run's own mixture — still the localization you
    want. Requires a drift constraint in the suite.

    ``baseline_snapshot_id`` resolves the drift baseline from a
    ``bucket_stats`` table AS OF that snapshot (TableStore time travel
    — the north-star "KS/PSI vs a baseline Iceberg snapshot"):
    per-bucket histograms from the snapshot are deduped (earliest run
    per bucket) and merged. The snapshot is read from
    ``baseline_store`` if given, else from ``ledger`` — use a separate
    store when the current run ledgers into a different table than the
    baseline run (the run ledger also drives resume bucket-skipping,
    which a baseline read must not interfere with). An explicit
    ``baseline_hist`` wins over both."""
    spark = df.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    t_start = time.time()
    chash = C.constraint_set_hash(constraints)

    row_cs = C.row_constraints(constraints)
    unique_cs = [c for c in constraints if c.kind == "unique"]
    for c in row_cs:
        if c.kind in ("expression", "compliance") and not c.params.get("columns"):
            raise ValueError(
                f"{c.cid}: {c.kind} constraints must declare the columns "
                "they read (constraints.expression/compliance(..., "
                "columns=[...]))"
            )
    for c in unique_cs:
        if c.column != key:
            # copies of a non-key value span buckets: bucket-local
            # counts would undercount and move with n_buckets
            raise ValueError(
                f"{c.cid}: unique is checked on the bucketing key only; "
                f"validate with key={c.column!r} to check {c.column!r}"
            )
    drift_cs = [c for c in constraints if c.kind in ("drift_ks", "drift_psi")]
    schema_cs = [c for c in constraints if c.kind == "schema_type"]
    metric_cs = [c for c in constraints if c.kind == "metric"]
    fd_cs = [c for c in constraints if c.kind == "fd"]
    volume_cs = [c for c in constraints if c.kind == "volume"]
    metric_cols = sorted({c.column for c in metric_cs})
    if drift_cs and drift_spec is None:
        drift_spec = D.HistSpec(column=drift_cs[0].column)
    if drift_by is not None and not drift_cs:
        raise ValueError("drift_by requires a drift_ks/drift_psi constraint in the suite")

    def this_suite(ledger_rows: DataFrame) -> DataFrame:
        """Ledger rows written under this suite and this bucketing."""
        return ledger_rows.filter(
            (F.col("constraint_hash") == chash) & (F.col("n_buckets") == n_buckets)
        )

    # dim-table RI: pre-join a membership flag so the constraint stays a
    # row-level expression inside the single-pass aggregate. Catalyst
    # broadcasts small dims; big dims become a shuffle join feeding the
    # same single scan (never a second pass).
    checked = df
    violations: list[Column] = []
    for i, c in enumerate(row_cs):
        if c.kind == "referential" and c.params.get("valid_values") is None:
            dim_name = c.params.get("dim_table")
            if not dims or dim_name not in dims:
                raise ValueError(
                    f"{c.cid}: pass dims={{'{dim_name}': <DataFrame>}} or literal valid_values"
                )
            ok = f"__ri_ok_{i}"
            dim = dims[dim_name].select(F.col(c.column)).distinct().withColumn(ok, F.lit(True))
            checked = checked.join(dim, on=c.column, how="left")
            violations.append(F.col(c.column).isNotNull() & F.col(ok).isNull())
        else:
            violations.append(C.violation_expr(c, checked))

    df_b = with_bucket(checked, key, n_buckets)

    # ---- resume: skip completed buckets -------------------------------
    # the prior rows are collected whole: the merge below runs on the
    # driver over prior + new rows
    prior_rows: list[dict] = []
    if ledger is not None and ledger.exists("bucket_stats"):
        prior_rows = [r.asDict() for r in this_suite(ledger.read("bucket_stats")).collect()]
    completed = {r["bucket_id"] for r in prior_rows}
    remaining_df = df_b
    if completed:
        # On Iceberg: bucket partition pruning turns this into file skips.
        remaining_df = df_b.filter(~F.col(BUCKET_COL).isin(sorted(completed)))

    if kll_col == "auto":
        # default: sketch the drift column (n_tok in the north-star
        # suite) so quantiles ship with every run's bucket_stats
        kll_col = drift_spec.column if drift_spec is not None else None

    # ---- slim projection: decode wide arrays once ----------------------
    # (every row constraint collapses to its violation flag here; the
    # stats aggregate, the uniqueness shuffle, the histogram and the
    # violation extraction all read this one persisted frame, so the
    # heavy parquet scan of the token arrays happens exactly once per run)
    sketch_cols = [drift_spec.column] if drift_spec is not None else []
    sketch_cols += metric_cols if kll_col is None else [*metric_cols, kll_col]
    slim_df = _slim_projection(remaining_df, violations, key, sketch_cols).persist()
    release.callback(slim_df.unpersist)

    # ---- collect sketches for remaining buckets ------------------------
    # three small results, joined per bucket on the driver: the
    # aggregate (n_buckets rows), the duplicate-key count per bucket
    # (the one key shuffle) and the drift column's (bucket, cell)
    # counts (n_buckets × n_cells rows). The driver merges these rows
    # with the prior rows, derives every verdict from them, and later
    # commits the same rows to the ledger (never a recompute).
    new_rows, stats_schema = _bucket_stats_rows(
        _stats_pass(slim_df, len(row_cs), key, kll_col=kll_col, metric_cols=metric_cols),
        (
            C.duplicate_keys(slim_df, key, BUCKET_COL).groupBy(BUCKET_COL).count()
            if unique_cs
            else None
        ),
        None if drift_spec is None else D.cell_counts(slim_df, drift_spec, [BUCKET_COL]),
        row_cs,
        unique_cs,
        drift_spec,
        {"run_id": run_id, "constraint_hash": chash, "n_buckets": n_buckets,
         "completed_at": time.time()},
    )
    merged_rows = _earliest_per_bucket(prior_rows + new_rows)
    sketches = [(bytes(r["hll_key"]),) for r in merged_rows if r["hll_key"] is not None]
    est = 0
    if sketches:
        est_val = (
            local_frame(spark, sketches, "hll binary")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("hll")))
            .collect()[0][0]
        )
        est = int(est_val) if est_val is not None else 0

    # ---- baseline from a ledger snapshot (time travel) -----------------
    if baseline_hist is None and baseline_snapshot_id is not None:
        src = baseline_store or ledger
        if src is None:
            raise ValueError("baseline_snapshot_id requires a ledger or baseline_store")
        # filter to THIS constraint suite + bucketing before the merge:
        # a ledger holding appends from runs with a different constraint
        # hash or bucket count would otherwise silently mix incompatible
        # per-bucket histograms (colliding bucket_ids under different
        # bucketings) into the drift baseline
        snap = this_suite(src.read("bucket_stats", snapshot_id=baseline_snapshot_id))
        prior = _earliest_per_bucket(
            r.asDict() for r in snap.select("bucket_id", "run_id", "completed_at", "hist").collect()
        )
        n_cells = drift_spec.n_cells if drift_spec is not None else None
        hists = [
            list(r["hist"])
            for r in prior
            if r["hist"] is not None and (n_cells is None or len(r["hist"]) == n_cells)
        ]
        if not hists:
            raise ValueError(
                f"snapshot {baseline_snapshot_id} holds no histograms compatible "
                f"with the current drift spec ({n_cells} cells)"
            )
        baseline_hist = D.merge_histograms(hists)

    # ---- verdicts -------------------------------------------------------
    verdict_rows: list[tuple] = []
    n_rows_total = 0
    baseline = baseline_hist
    # compliance is counted per bucket (it rides the scan, checkpoints,
    # and resumes like every row constraint) but VERDICTED globally: a
    # per-bucket ratio would flip with bucket boundaries, so totals
    # accumulate here and one GLOBAL row is emitted after the loop
    compliance_cs = [c for c in row_cs if c.kind == "compliance"]
    compliance_totals = {c.cid: 0 for c in compliance_cs}
    for r in merged_rows:
        n_rows_total += r["n_rows"]
        vc = r["viol_counts"] or {}
        for c in row_cs + unique_cs:
            nv = int(vc.get(c.cid, 0))
            if c.kind == "compliance":
                compliance_totals[c.cid] += nv
                continue
            verdict_rows.append((int(r["bucket_id"]), c.cid, int(r["n_rows"]), nv, nv == 0))

    merged_hist = D.merge_histograms([list(r["hist"]) for r in merged_rows if r["hist"] is not None])
    for c in compliance_cs:
        nv = compliance_totals[c.cid]
        ok = C.compliance_passed(c, n_rows_total, nv)
        verdict_rows.append((GLOBAL_BUCKET, c.cid, n_rows_total, nv, bool(ok)))

    sketch_metrics = {}
    if kll_col is not None:
        q25, q50, q75 = _kll_union_quantiles(
            [bytes(r["kll"]) for r in merged_rows if r["kll"] is not None], [0.25, 0.5, 0.75]
        )
        mins = [r["v_min"] for r in merged_rows if r["v_min"] is not None]
        maxs = [r["v_max"] for r in merged_rows if r["v_max"] is not None]
        sketch_metrics = {
            f"{kll_col}_min": min(mins) if mins else None,
            f"{kll_col}_max": max(maxs) if maxs else None,
            f"{kll_col}_median_kll": q50,
            f"{kll_col}_iqr_kll": (q75 - q25) if q25 is not None else None,
        }

    metric_values: dict = {}
    if metric_cs:
        for m in metric_cols:
            nn = sum(r.get(f"_m_nn_{m}") or 0 for r in merged_rows)
            n = sum(r.get(f"_m_n_{m}") or 0 for r in merged_rows)
            s = sum(r.get(f"_m_s_{m}") or 0.0 for r in merged_rows)
            q = sum(r.get(f"_m_q_{m}") or 0.0 for r in merged_rows)
            lows = [r.get(f"_m_lo_{m}") for r in merged_rows]
            highs = [r.get(f"_m_hi_{m}") for r in merged_rows]
            lows = [v for v in lows if v is not None]
            highs = [v for v in highs if v is not None]
            mean = s / n if n else None
            var = max(q / n - mean * mean, 0.0) if n else None
            metric_values[m] = {
                "null_rate": 1.0 - (nn / n_rows_total) if n_rows_total else None,
                "mean": mean,
                "stddev": math.sqrt(var) if var is not None else None,
                "min": min(lows) if lows else None,
                "max": max(highs) if highs else None,
            }
        # empty input / all-null column -> stat is None -> verdict FAILS
        # (metric_range's documented contract); a verdict row is always
        # emitted, like schema constraints below
        for c in metric_cs:
            val = metric_values[c.column][c.params["stat"]]
            ok = val is not None and c.params["lo"] <= val <= c.params["hi"]
            verdict_rows.append(
                (GLOBAL_BUCKET, c.cid, n_rows_total, int(not ok), bool(ok))
            )

    # functional dependencies: GLOBAL properties (a new row can
    # contradict a row validated in a prior run), so they re-evaluate
    # over the FULL input each run — like drift, unlike row-level kinds.
    # The scan reads only determinant + dependent columns (pruned); one
    # map-side-combined groupBy shuffle per constraint (C.fd_groups);
    # verdict counts come from a single 1-row action over its groups.
    fd_metrics: dict = {}
    fd_viol_frames: list[DataFrame] = []
    for c in fd_cs:
        dets = list(c.params["determinants"])
        grouped = C.fd_groups(df, c)
        if extract_violation_rows:
            grouped = grouped.persist()
            release.callback(grouped.unpersist)
        row = grouped.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("violated").cast("long")).alias("bad"),
        ).collect()[0]
        n_groups = int(row["n"] or 0)
        n_bad = int(row["bad"] or 0)
        verdict_rows.append((GLOBAL_BUCKET, c.cid, n_groups, n_bad, n_bad == 0))
        fd_metrics[c.cid] = n_bad
        if extract_violation_rows:
            # a conditional FD's where predicate scopes the semi-join
            # too: an out-of-scope row is never flagged by a bad group
            fd_df = C.fd_scope(df, c)
            bad_groups = grouped.filter(F.col("violated")).select(
                *[F.col(d).alias(f"_fd_det_{j}") for j, d in enumerate(dets)]
            )
            # null-safe equality: a NULL determinant forms its own group
            # (GROUP BY semantics), so its rows must match it in the
            # semi-join too — plain equi-join would drop them
            cond = None
            for j, d in enumerate(dets):
                term = fd_df[d].eqNullSafe(bad_groups[f"_fd_det_{j}"])
                cond = term if cond is None else (cond & term)
            fd_viol_frames.append(
                fd_df.join(bad_groups, cond, "left_semi").select(
                    F.col(key), F.lit(c.cid).alias("constraint_id")
                )
            )

    # volume: table-level row-count bound over the MERGED totals, so a
    # resumed run checks the bound against all buckets ever validated
    # under this constraint hash — zero extra scans
    for c in volume_cs:
        ok = c.params["lo"] <= n_rows_total <= c.params["hi"]
        verdict_rows.append(
            (GLOBAL_BUCKET, c.cid, int(n_rows_total), int(not ok), bool(ok))
        )

    drift_metrics = {}
    if drift_cs and merged_hist:
        if baseline is None:
            baseline = merged_hist  # self-comparison => trivially passing
        for c in drift_cs:
            # Drift is a table-level property: per-bucket histograms are
            # kept only as mergeable sketches. Per-bucket PSI/KS verdicts
            # would fail from sampling noise alone on small buckets
            # (observed: clean 625-row buckets exceed PSI 0.2 vs the
            # global distribution purely from epsilon-smoothed noise).
            gstat = (
                D.ks_statistic(merged_hist, baseline)
                if c.kind == "drift_ks"
                else D.psi(merged_hist, baseline)
            )
            thr = c.params["threshold"]
            verdict_rows.append((GLOBAL_BUCKET, c.cid, n_rows_total, int(gstat > thr), gstat <= thr))
            drift_metrics[c.cid] = gstat

    # per-group drift localization (drift_by): same resolved baseline,
    # same thresholds as the global verdict; stays a lazy DataFrame —
    # nothing per-group ever reaches the driver here
    group_drift = None
    if drift_by is not None and drift_cs and merged_hist:
        ks_thr = next(
            (c.params["threshold"] for c in drift_cs if c.kind == "drift_ks"), 0.1
        )
        psi_thr = next(
            (c.params["threshold"] for c in drift_cs if c.kind == "drift_psi"), 0.2
        )
        group_drift = D.grouped_drift(
            df.select(F.col(drift_by), F.col(drift_spec.column)),
            drift_spec,
            baseline if baseline is not None else merged_hist,
            drift_by,
            ks_threshold=ks_thr,
            psi_threshold=psi_thr,
        )

    # schema constraints: table-level verdicts
    schema_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in schema_cs:
        ok = schema_fields.get(c.column) == c.params["expected"]
        verdict_rows.append((GLOBAL_BUCKET, c.cid, 1, int(not ok), ok))

    verdicts = local_frame(spark, verdict_rows, VERDICT_SCHEMA)

    # ---- violation rows --------------------------------------------------
    # This run's counts decide whether extraction runs at all: a clean
    # run (every row and uniqueness count of its buckets is 0) skips
    # it; otherwise only the failing constraints are extracted, over
    # the dirty buckets of the persisted slim frame, which covers only
    # unvalidated buckets, so a resumed run never re-extracts completed
    # ones.
    viols_new = None
    if extract_violation_rows:
        failing = {cid for r in new_rows for cid, n in r["viol_counts"].items() if n}
        dirty = [r["bucket_id"] for r in new_rows if any(r["viol_counts"].values())]
        if failing:
            src = slim_df
            if len(dirty) < len(new_rows):
                src = slim_df.filter(F.col(BUCKET_COL).isin(dirty))
            flags = [(c.cid, F.col(_flag(i))) for i, c in enumerate(row_cs) if c.cid in failing]
            parts = [C.failed_rows(src, flags, key)] if flags else []
            if any(uc.cid in failing for uc in unique_cs):
                # the key shuffle again, over the dirty buckets only
                dups = C.duplicate_keys(src, key, BUCKET_COL)
                parts += [
                    dups.select(F.col(key), F.lit(uc.cid).alias("constraint_id"))
                    for uc in unique_cs
                    if uc.cid in failing
                ]
            viols_new = functools.reduce(DataFrame.unionByName, parts)
            # deterministic per-constraint cap (hash-minimum selection,
            # the verdict-identity discipline): verdict COUNTS are
            # unaffected — they come from the stats pass — only the
            # materialized row sample is bounded. Applied before the
            # ledger append, so the ledger stores <= cap rows per
            # constraint per run.
            if max_violations_per_constraint is not None:
                viols_new = C.cap_violations(viols_new, max_violations_per_constraint, key=key)

    # ---- commit: violations -> bucket_stats -> runs ----------------------
    # bucket_stats is the completion record of a bucket and runs the
    # run's marker, so both go last. A run that dies before its
    # bucket_stats commit owns no bucket: the read-back below drops its
    # violation rows, and the resume re-extracts those buckets.
    empty_viols = T.StructType(
        [slim_df.schema[key], T.StructField("constraint_id", T.StringType())]
    )
    stats_snapshot = None
    if ledger is not None:
        if viols_new is not None:
            ledger.append(
                "violations",
                viols_new.withColumn("constraint_hash", F.lit(chash))
                .withColumn("n_buckets", F.lit(n_buckets))
                .withColumn("run_id", F.lit(run_id)),
            )
        # a full resume has no new rows: it reports the snapshot that
        # already holds every bucket instead of appending an empty one
        if new_rows:
            stats_snapshot = ledger.append(
                "bucket_stats",
                local_frame(
                    spark, [tuple(r[f] for f in stats_schema.names) for r in new_rows], stats_schema
                ),
            )
        else:
            stats_snapshot = ledger.snapshot_id("bucket_stats")
    if not extract_violation_rows:
        viols = local_frame(spark, [], empty_viols)
    elif ledger is not None and ledger.exists("violations"):
        winners = sorted({r["run_id"] for r in merged_rows})
        viols = (
            this_suite(ledger.read("violations"))
            .filter(F.col("run_id").isin(winners))
            .select(key, "constraint_id")
        )
        # re-cap the MERGED read: each resumed run appends its own
        # <= cap rows per constraint, so the union can exceed the
        # cap — the returned set must honor it (deterministic:
        # hash-minimum over the merged rows)
        if max_violations_per_constraint is not None:
            viols = C.cap_violations(viols, max_violations_per_constraint, key=key)
    elif viols_new is not None:  # no ledger
        # materialize while the slim frame is still cached, without a
        # cache entry that would outlive this call
        viols = viols_new.localCheckpoint()
    else:
        viols = local_frame(spark, [], empty_viols)
    # FD violation rows are recomputed per run (global property) and
    # unioned into the RESULT only — never appended to the ledger, which
    # would duplicate them across resumed runs. Materialized eagerly so
    # the persisted grouped frames can be released.
    for fv in fd_viol_frames:
        if max_violations_per_constraint is not None:
            fv = C.cap_violations(fv, max_violations_per_constraint, key=key)
        viols = viols.unionByName(fv.localCheckpoint())

    # ---- lineage metrics -------------------------------------------------
    elapsed = time.time() - t_start
    # executor metrics ride the lineage row (north_star: "lineage
    # (snapshot id, constraint-set hash, executor metrics)"); guarded —
    # the py4j status APIs are best-effort across Spark builds
    exec_metrics: dict = {}
    try:
        sc = spark.sparkContext
        exec_metrics = {
            "n_executors": int(sc._jsc.sc().getExecutorMemoryStatus().size()),
            "default_parallelism": int(sc.defaultParallelism),
            "master": sc.master,
        }
    except Exception:  # pragma: no cover
        log.warning("run %s: executor metrics unavailable", run_id, exc_info=True)
    metrics = {
        "run_id": run_id,
        "constraint_hash": chash,
        "n_buckets": n_buckets,
        "buckets_completed_prior": len(completed),
        "buckets_this_run": len(merged_rows) - len(completed),
        "rows_validated": int(n_rows_total),
        "distinct_key_estimate": int(est),
        "elapsed_sec": elapsed,
        "sequences_per_sec": (int(n_rows_total) / elapsed) if elapsed > 0 else 0.0,
        **({"stats_snapshot": stats_snapshot} if stats_snapshot else {}),
        **({"executors": exec_metrics} if exec_metrics else {}),
        **sketch_metrics,
        **drift_metrics,
        **fd_metrics,
        **{
            f"{stat}({m})": v
            for m, stats_ in metric_values.items()
            for stat, v in stats_.items()
            if v is not None
        },
    }
    if ledger is not None:
        lineage = local_frame(
            spark,
            # json, not repr: the cli history surface promises
            # machine-readable lines, and a repr string forces
            # consumers into ast.literal_eval
            [(run_id, chash, n_buckets, time.time(), json.dumps(metrics, default=str))],
            "run_id string, constraint_hash string, n_buckets int, ts double, metrics string",
        )
        ledger.append("runs", lineage)
    return ValidationResult(
        verdicts=verdicts, violations=viols, metrics=metrics, group_drift=group_drift
    )
