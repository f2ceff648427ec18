"""Constraint registry + vectorized evaluation.

Constraint families (BASELINE.json north_star): not_null, unique,
range, token-length consistency, referential integrity, distribution
drift (KS/PSI — see drift.py), and schema checks. The reference has no
constraint engine; its nearest analogs are the fine-grained type rules
(kg_governor/data_profiling/fine_grained_type_detector.py:16-41 →
our `schema`/`dtype` family) and similarity thresholds. Everything
row-level compiles to a single Spark Column expression so the whole
suite evaluates in ONE scan with whole-stage codegen — no per-row
Python anywhere.

Uniqueness is the one constraint that needs a shuffle. validate()
checks ``unique`` on the bucketing key only: rows are bucketed by
xxhash64(key) (plans/buckets.py), so all copies of a key land in the
same logical bucket and per-bucket duplicate detection is globally
exact *and* mergeable across resumed runs. Any other column's copies
span buckets, so validate() refuses it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kglids_spark.session import local_frame


@dataclass(frozen=True)
class Constraint:
    cid: str
    kind: str  # one of KNOWN_KINDS
    column: str | None = None
    params: dict = field(default_factory=dict)

    def signature(self) -> str:
        items = ",".join(f"{k}={self.params[k]}" for k in sorted(self.params))
        return f"{self.cid}:{self.kind}:{self.column}:{items}"


# Format of the sketch bytes in bucket_stats rows. It leads the suite
# signature, so a ledger holding another format (the earlier pure-numpy
# KLL) never resumes or merges into a run of this one.
SKETCH_FORMAT = "sketches=datasketches-kll-doubles"


def constraint_set_hash(constraints: list[Constraint]) -> str:
    """Stable hash of the sketch format and the constraint suite — part
    of checkpoint lineage so a resumed run refuses to merge sketches
    from a different suite or format."""
    import hashlib

    sig = "|".join([SKETCH_FORMAT, *sorted(c.signature() for c in constraints)])
    return hashlib.md5(sig.encode()).hexdigest()


# ---------------------------------------------------------------------------
# factory helpers


def not_null(column: str, cid: str | None = None) -> Constraint:
    return Constraint(cid or f"not_null({column})", "not_null", column)


def unique(column: str, cid: str | None = None) -> Constraint:
    return Constraint(cid or f"unique({column})", "unique", column)


def in_range(column: str, lo: float, hi: float, cid: str | None = None) -> Constraint:
    return Constraint(cid or f"range({column})", "range", column, {"lo": lo, "hi": hi})


def tok_len_consistency(
    array_col: str = "tokens", len_col: str = "n_tok", cid: str | None = None
) -> Constraint:
    return Constraint(
        cid or f"consistency({len_col}=size({array_col}))",
        "tok_len_consistency",
        len_col,
        {"array_col": array_col},
    )


def element_range(
    array_col: str, lo: int, hi: int, cid: str | None = None
) -> Constraint:
    """Every ELEMENT of ``array_col`` non-NULL and within ``[lo, hi]``
    — the token-id-vs-vocabulary-bounds check for pre-tokenized
    sequences (a corrupt shard, a truncated int32 column, or a
    tokenizer/vocab mismatch shows up as out-of-range or NULL ids long
    before a training job does). Row-level and zero-shuffle: the probe
    compiles to a short-circuiting higher-order ArrayExists evaluated
    inside the same single stats scan as every other row constraint,
    and validate's slim projection materializes it ONCE so the wide
    token array — the bulk of the bytes at 10^12 rows — is decoded
    exactly once per run, like every row constraint's input. A NULL
    array itself does not violate; that is ``not_null``'s job."""
    return Constraint(
        cid or f"element_range({array_col})",
        "element_range",
        array_col,
        {"lo": int(lo), "hi": int(hi)},
    )


def vector_sanity(
    array_col: str,
    dim: int | None = None,
    norm_lo: float | None = None,
    norm_hi: float | None = None,
    cid: str | None = None,
) -> Constraint:
    """Embedding-column sanity: every element finite (no NULL/NaN/±Inf),
    optionally an exact dimension, optionally an L2-norm band.

    The three float-vector failure modes that slip past every scalar
    constraint: a NaN/Inf poisoned by upstream math (one NaN silently
    zeroes a whole similarity row downstream), a ragged batch that
    changed dimension mid-corpus (concat of two encoder versions), and
    collapsed/exploding vectors (norm ≈ 0 or ≫ expected — dead encoder
    or missing normalization). All three compile to ONE zero-shuffle
    boolean over the array — a short-circuiting exists for finiteness,
    size() for the dimension, an in-order F.aggregate fold for the
    squared norm — evaluated inside the same single stats scan as every
    other row constraint; validate's slim projection materializes the
    probe once so the wide vector column never enters the slim frame.
    A NULL array itself does not violate (not_null's job). A vector
    with a non-finite element is a violation regardless of the norm
    band (its norm is NaN — the fold keeps left-to-right order, so the
    probe is deterministic and bit-portable to the SQL oracle)."""
    return Constraint(
        cid or f"vector_sanity({array_col})",
        "vector_sanity",
        array_col,
        {
            "dim": int(dim) if dim is not None else None,
            "norm_lo": float(norm_lo) if norm_lo is not None else None,
            "norm_hi": float(norm_hi) if norm_hi is not None else None,
        },
    )


def vector_sanity_probe(c: Constraint) -> Column:
    """Column<boolean>: true iff the row violates ``c`` (vector_sanity);
    what violation_expr returns for that kind."""
    arr = F.col(c.column)
    inf = F.lit(float("inf"))
    bad = arr.isNotNull() & F.exists(
        arr, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == inf)
    )
    if c.params.get("dim") is not None:
        bad = bad | (arr.isNotNull() & (F.size(arr) != F.lit(c.params["dim"])))
    if c.params.get("norm_lo") is not None or c.params.get("norm_hi") is not None:
        norm = F.sqrt(
            F.aggregate(
                arr,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        out_of_band = F.lit(False)
        if c.params.get("norm_lo") is not None:
            out_of_band = out_of_band | (norm < F.lit(c.params["norm_lo"]))
        if c.params.get("norm_hi") is not None:
            out_of_band = out_of_band | (norm > F.lit(c.params["norm_hi"]))
        # NaN norm (non-finite element) -> comparisons are false, but
        # the finiteness disjunct above already fires for that row
        bad = bad | (arr.isNotNull() & F.coalesce(out_of_band, F.lit(False)))
    return bad


def referential(
    column: str,
    valid_values: list | None = None,
    dim_table: str | None = None,
    cid: str | None = None,
) -> Constraint:
    """RI against a closed vocabulary (broadcast literal / bloom) or a
    dim table name resolved at evaluation time (broadcast anti-join).
    Reference analog: SURVEY.md §2.3 J8."""
    return Constraint(
        cid or f"referential({column})",
        "referential",
        column,
        {"valid_values": tuple(valid_values) if valid_values else None, "dim_table": dim_table},
    )


def drift_ks(column: str, threshold: float = 0.1, cid: str | None = None) -> Constraint:
    return Constraint(cid or f"drift_ks({column})", "drift_ks", column, {"threshold": threshold})


def drift_psi(column: str, threshold: float = 0.2, cid: str | None = None) -> Constraint:
    return Constraint(cid or f"drift_psi({column})", "drift_psi", column, {"threshold": threshold})


def schema_type(column: str, expected_type: str, cid: str | None = None) -> Constraint:
    """Schema assertion: the column exists with the expected Spark SQL
    type string (replaces the reference's inference-then-dispatch)."""
    return Constraint(
        cid or f"schema({column}:{expected_type})", "schema_type", column, {"expected": expected_type}
    )


def expression(
    predicate: str, columns: list[str] | None = None, cid: str | None = None
) -> Constraint:
    """Arbitrary row-level SQL predicate every valid row must satisfy
    (the Deequ `satisfies` analog — beyond the reference's fixed
    kinds). A row violates iff the predicate does not evaluate TRUE,
    so a NULL predicate result counts as a violation — wrap the
    predicate in coalesce(...) to opt out.

    ``columns`` declares which columns the predicate reads (validate
    raises if the declaration is missing); validate evaluates the
    predicate in its slim projection, so only its one violation flag
    rides the persisted slim frame. The predicate text and column list
    enter the constraint signature, so checkpoint lineage distinguishes
    suites that differ only in an expression."""
    return Constraint(
        cid or f"expression({predicate})",
        "expression",
        None,
        {"predicate": predicate, "columns": tuple(columns or ())},
    )


def compliance(
    predicate: str,
    min_ratio: float,
    columns: list[str] | None = None,
    cid: str | None = None,
) -> Constraint:
    """Ratio compliance (Deequ's ``hasCompliance`` analog): the suite
    passes iff at least ``min_ratio`` of validated rows satisfy the
    predicate — the tolerance-aware sibling of ``expression``, which
    demands EVERY row comply. Real pipelines assert "≥ 99% of docs
    have n_tok > 0", not "all docs" — one malformed crawl record must
    not fail the table, a thousand must.

    Counting is row-level (the predicate rides the same single stats
    scan, per-bucket totals checkpoint and resume like every row
    constraint, and violating rows are extractable for triage), but
    the VERDICT is global: the ratio evaluates once over the merged
    totals of every bucket ever validated under this constraint hash —
    per-bucket ratio verdicts would flip with bucket boundaries.
    Empty input fails (a ratio over nothing asserts nothing — the
    metric_range contract). NULL predicate results count as
    non-compliant, like ``expression``; ``columns`` must declare what
    the predicate reads, as for ``expression``."""
    r = float(min_ratio)
    if not (0.0 <= r <= 1.0):
        raise ValueError(f"min_ratio must be within [0, 1], got {min_ratio}")
    return Constraint(
        cid or f"compliance({predicate}>={r:g})",
        "compliance",
        None,
        {"predicate": predicate, "columns": tuple(columns or ()), "min_ratio": r},
    )


def compliance_fraction(c: Constraint) -> tuple[int, int]:
    """min_ratio as an exact (numerator, denominator) pair, via the
    DECIMAL string of the float (Fraction(str(0.8)) == 4/5, not the
    binary float 0.8000…0444). The pass rule everywhere is the exact
    integer comparison ``(n − nv) · denom ≥ num · n`` — a dataset with
    exactly min_ratio compliant rows PASSES, which the float form
    ``nv ≤ (1−r)·n`` gets wrong at the boundary ((1.0−0.8)·10 =
    1.9999…96 < 2 in IEEE doubles)."""
    from fractions import Fraction

    f = Fraction(str(c.params["min_ratio"]))
    return f.numerator, f.denominator


def compliance_passed(c: Constraint, n_rows: int, n_violations: int) -> bool:
    """The compliance verdict over ``n_rows`` validated rows of which
    ``n_violations`` do not comply: the exact integer rule of
    compliance_fraction. Empty input fails (a ratio over nothing
    asserts nothing — the metric_range contract)."""
    num, den = compliance_fraction(c)
    return n_rows > 0 and (n_rows - n_violations) * den >= num * n_rows


METRIC_STATS = ("null_rate", "mean", "stddev", "min", "max")


def metric_range(
    column: str, stat: str, lo: float, hi: float, cid: str | None = None
) -> Constraint:
    """Table-level assertion on an aggregated column statistic
    (Deequ's hasMean/hasStddev/hasCompleteness analog): the suite
    passes iff ``lo <= stat(column) <= hi``. stat ∈ METRIC_STATS.

    Evaluated from the SAME single stats scan as everything else: each
    bucket contributes mergeable sums (n, non-null, Σx, Σx², min, max),
    the cross-bucket merge is exact, so resume semantics match the
    sketches — no extra pass, no approximation. stddev is the
    population form (√(E[x²] − E[x]²)). A column with zero non-null
    values fails every stat except null_rate."""
    if stat not in METRIC_STATS:
        raise ValueError(f"stat must be one of {METRIC_STATS}, got {stat!r}")
    return Constraint(
        cid or f"metric({stat}({column}) in [{lo},{hi}])",
        "metric",
        column,
        {"stat": stat, "lo": float(lo), "hi": float(hi)},
    )


def functional_dependency(
    determinants: list[str],
    dependent: str,
    cid: str | None = None,
    where: str | None = None,
) -> Constraint:
    """Functional dependency ``determinants -> dependent`` (Deequ has
    no direct analog; closest published shape is the FD checks in data
    -cleaning systems like HoloClean): the suite passes iff no
    determinant-value combination maps to two distinct non-null
    dependent values.

    Semantics: rows with a NULL dependent carry no FD evidence and are
    ignored; a violation is a determinant GROUP (min(dep) != max(dep)
    over its non-null dependents — exact for the >=2-distinct test on
    any orderable type, no hashing, no countDistinct expansion).

    ``where`` makes it a CONDITIONAL functional dependency (the CFD of
    the data-cleaning literature, Bohannon et al. 2007): only rows
    satisfying the SQL predicate carry FD evidence — e.g. ``doc_id ->
    source`` may hold only WHERE ``source != 'mirror'``. The predicate
    filters BEFORE grouping (it pushes into the pruned scan), the cid
    records it, and a NULL/false predicate row is simply out of scope.

    FD is a GLOBAL property — a new row can contradict a row validated
    in a prior run — so validate() re-evaluates it over the full input
    each run rather than incrementally (like drift, unlike row-level
    kinds). The check reads only the determinant + dependent columns
    (column-pruned scan) and costs one map-side-combined groupBy
    shuffle keyed on the determinants."""
    dets = tuple(determinants)
    if not dets:
        raise ValueError("functional_dependency needs >=1 determinant column")
    params: dict = {"determinants": dets}
    base_cid = f"fd({','.join(dets)} -> {dependent})"
    if where is not None:
        where = where.strip()
        if not where:
            raise ValueError("where predicate must be a non-empty SQL expression")
        params["where"] = where
        base_cid = f"fd({','.join(dets)} -> {dependent} | {where})"
    return Constraint(cid or base_cid, "fd", dependent, params)


def volume(lo: int, hi: float = float("inf"), cid: str | None = None) -> Constraint:
    """Table-level row-count bound (Deequ's hasSize analog): the suite
    passes iff ``lo <= total rows validated <= hi``. Evaluated from the
    merged per-bucket totals — zero extra scans, and resume-correct
    (the bound applies to ALL buckets ever validated under this
    constraint hash, not just this run's increment). Catches silent
    upstream truncation / duplication that no per-row predicate can."""
    lo_i, hi_f = int(lo), float(hi)
    # cid built from the NORMALIZED bounds so volume(8, 8) and
    # volume(8, 8.0) share a cid (and thus a constraint hash — resume
    # lineage must not fork on an int-vs-float spelling)
    return Constraint(
        cid or f"volume(rows in [{lo_i},{hi_f:g}])",
        "volume",
        None,
        {"lo": lo_i, "hi": hi_f},
    )


def default_suite(valid_source_values: list[str]) -> list[Constraint]:
    """The fixture constraint suite (FIXTURES.md F5.2)."""
    return [
        not_null("doc_id"),
        unique("doc_id"),
        in_range("n_tok", 1, 8192),
        tok_len_consistency(),
        referential("source", valid_source_values),
        drift_ks("n_tok"),
        drift_psi("n_tok"),
    ]


def suite_to_json(constraints: list[Constraint]) -> str:
    """Serialize a constraint suite to JSON — the reproducible-config
    surface for spark-submit jobs (cli --suite): the SAME file yields
    the SAME constraint_set_hash, so checkpoint lineage and resume
    semantics carry across machines and submissions. Tuples flatten to
    JSON arrays; volume's open upper bound (float inf) serializes as
    null — Python's default non-strict `Infinity` literal is not
    RFC-8259 JSON and jq/strict parsers reject the file (ADVICE r4).
    allow_nan=False guarantees no non-portable literal ever sneaks
    into the portable surface (an unexpected NaN raises instead)."""
    import json
    import math

    def enc(v):
        if isinstance(v, tuple):
            return list(v)
        if isinstance(v, float) and math.isinf(v):
            return None
        return v

    return json.dumps(
        [
            {
                "cid": c.cid,
                "kind": c.kind,
                "column": c.column,
                "params": {k: enc(v) for k, v in c.params.items()},
            }
            for c in constraints
        ],
        indent=2,
        allow_nan=False,
    )


KNOWN_KINDS = frozenset(
    {
        "not_null", "unique", "range", "tok_len_consistency", "referential",
        "drift_ks", "drift_psi", "schema_type", "expression", "metric",
        "fd", "volume", "element_range", "vector_sanity", "compliance",
    }
)


def suite_from_json(text: str) -> list[Constraint]:
    """Inverse of suite_to_json. JSON arrays load back as tuples (the
    factories' canonical param form), so hash/signature round-trip
    bit-exactly: constraint_set_hash(suite_from_json(suite_to_json(s)))
    == constraint_set_hash(s).

    Unknown kinds raise: validate() dispatches by kind and silently
    skips what it does not recognize, so a typo'd kind in a CI suite
    would otherwise pass --fail-on-violation vacuously — the check
    that never ran cannot fail."""
    import json

    out: list[Constraint] = []
    for d in json.loads(text):
        if d.get("kind") not in KNOWN_KINDS:
            raise ValueError(
                f"constraint {d.get('cid')!r}: unknown kind {d.get('kind')!r} "
                f"(known: {sorted(KNOWN_KINDS)})"
            )
        params = {
            k: tuple(v) if isinstance(v, list) else v
            for k, v in d.get("params", {}).items()
        }
        # volume's open upper bound round-trips as null (see
        # suite_to_json) — only that slot maps back to inf; other None
        # params (e.g. referential's valid_values) stay None
        if d.get("kind") == "volume" and params.get("hi") is None:
            params["hi"] = float("inf")
        out.append(Constraint(d["cid"], d["kind"], d.get("column"), params))
    return out


# ---------------------------------------------------------------------------
# row-level compilation

ROW_LEVEL_KINDS = {
    "not_null",
    "range",
    "tok_len_consistency",
    "referential",
    "expression",
    "compliance",
    "element_range",
    "vector_sanity",
}


class BloomFilter:
    """Minimal pure-python bloom filter over 64-bit hashes, for RI dims
    too big to ship as an `isin` literal but cheap as a broadcast bitmap
    (the `bloom_filter_agg` SQL function is not exposed in this Spark
    build). Double hashing: h_i = h1 + i*h2 (Kirsch-Mitzenmacher)."""

    def __init__(self, n_items: int, fpp: float = 0.001):
        import numpy as np

        m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
        self.m = (m + 63) // 64 * 64
        self.k = max(1, int(round(self.m / max(n_items, 1) * math.log(2))))
        self.bits = np.zeros(self.m // 64, dtype=np.uint64)

    def _hashes(self, h64: int):
        h1 = h64 & 0xFFFFFFFF
        h2 = (h64 >> 32) & 0xFFFFFFFF
        for i in range(self.k):
            yield (h1 + i * h2) % self.m

    def add_hash(self, h64: int) -> None:
        import numpy as np

        for pos in self._hashes(h64):
            # numpy 2 refuses uint64 |= python-int (unsafe cast)
            self.bits[pos // 64] |= np.uint64(1) << np.uint64(pos % 64)

    def might_contain(self, h64: int) -> bool:
        import numpy as np

        return all(
            (self.bits[p // 64] >> np.uint64(p % 64)) & np.uint64(1)
            for p in self._hashes(h64)
        )


def violation_expr(c: Constraint, df: DataFrame) -> Column:
    """Column<boolean>: true iff the row violates constraint ``c``."""
    if c.kind == "not_null":
        return F.col(c.column).isNull()
    if c.kind == "range":
        col = F.col(c.column)
        return col.isNotNull() & ((col < F.lit(c.params["lo"])) | (col > F.lit(c.params["hi"])))
    if c.kind == "tok_len_consistency":
        arr, n = F.col(c.params["array_col"]), F.col(c.column)
        return n.isNotNull() & (F.size(arr) != n)
    if c.kind == "referential":
        col = F.col(c.column)
        vals = c.params.get("valid_values")
        if vals is None:
            raise ValueError(f"{c.cid}: dim-table RI is resolved in validate.py, not here")
        return col.isNotNull() & ~col.isin(list(vals))
    if c.kind in ("expression", "compliance"):
        # violation iff the predicate is not TRUE (NULL -> violation);
        # compliance counts identically — only its VERDICT differs
        # (a global ratio instead of zero-violations)
        p = F.expr(c.params["predicate"])
        return F.coalesce(~p, F.lit(True))
    if c.kind == "element_range":
        arr = F.col(c.column)
        lo, hi = F.lit(c.params["lo"]), F.lit(c.params["hi"])
        # short-circuiting ArrayExists: NULL array is not_null's job
        return arr.isNotNull() & F.exists(
            arr, lambda x: x.isNull() | (x < lo) | (x > hi)
        )
    if c.kind == "vector_sanity":
        return vector_sanity_probe(c)
    raise ValueError(f"{c.cid}: kind {c.kind} is not row-level")


def row_constraints(constraints: list[Constraint]) -> list[Constraint]:
    return [c for c in constraints if c.kind in ROW_LEVEL_KINDS]


def grouped_verdicts(
    df: DataFrame, constraints: list[Constraint], group_col: str
) -> DataFrame:
    """(group, constraint_id, n_checked, n_violations, passed): every
    ROW-LEVEL constraint evaluated per value of ``group_col`` — the
    per-source/per-crawl verdict a multi-feed pipeline needs (the
    whole-table validate() localizes failures to resumable buckets;
    this localizes them to a data feed).

    One scan: each constraint is a conditional-sum aggregate in a
    single groupBy (map-side combined — the shuffle carries one row
    per group per partition), then the wide verdict row unpivots via
    an in-plan struct explode (no SQL-string stack, so constraint ids
    need no escaping). Non-row-level kinds (unique, drift, fd, volume,
    metric) are refused — they have whole-table semantics that a
    per-group conditional sum cannot express."""
    rows_c = row_constraints(constraints)
    bad = [c.cid for c in constraints if c not in rows_c]
    if bad:
        raise ValueError(
            f"grouped_verdicts takes row-level constraints only; got {bad}"
        )
    if not rows_c:
        raise ValueError("no row-level constraints given")
    def _passed(c: Constraint, i: int) -> Column:
        # compliance passes on a per-group RATIO (empty group =
        # vacuous pass here — the feed contributed no evidence; the
        # whole-table verdict in validate() still fails empty input);
        # every other row kind demands zero violations. Exact integer
        # boundary semantics via compliance_fraction — decimal(38,0)
        # products stay exact up to ~10^22-row groups
        if c.kind == "compliance":
            num, den = compliance_fraction(c)
            dec = "decimal(38,0)"
            compliant = (F.col("_n") - F.col(f"_v{i}")).cast(dec)
            return compliant * F.lit(den) >= F.lit(num) * F.col("_n").cast(dec)
        return F.col(f"_v{i}") == 0

    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(violation_expr(c, df).cast("long")).alias(f"_v{i}")
        for i, c in enumerate(rows_c)
    ]
    wide = df.groupBy(group_col).agg(*aggs)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c.cid).alias("constraint_id"),
                    F.col(f"_v{i}").alias("n_violations"),
                    _passed(c, i).alias("passed"),
                )
                for i, c in enumerate(rows_c)
            ]
        )
    )
    return wide.select(group_col, F.col("_n").alias("n_checked"), pairs.alias("_p")).select(
        group_col,
        F.col("_p.constraint_id").alias("constraint_id"),
        "n_checked",
        F.col("_p.n_violations").alias("n_violations"),
        F.col("_p.passed").alias("passed"),
    )


def fd_scope(df: DataFrame, c: Constraint) -> DataFrame:
    """The rows FD constraint ``c`` speaks about: all of ``df``, or for
    a conditional FD only the rows satisfying its ``where`` predicate
    (it filters before grouping and pushes into the pruned scan)."""
    where = c.params.get("where")
    return df.filter(F.expr(where)) if where else df


def fd_groups(df: DataFrame, c: Constraint) -> DataFrame:
    """Every evidence group of FD constraint ``c``: one row per
    determinant-value combination of the in-scope rows with a non-null
    dependent, with the group's row count (``n_rows_in_group``) and
    ``violated`` — true iff the group holds >=2 distinct dependent
    values.

    min(dep) != max(dep) is an EXACT >=2-distinct test on any orderable
    type and keeps the aggregation buffer O(1) per group (countDistinct
    would materialize the distinct set per group); the groupBy partial-
    aggregates map-side, so the shuffle carries one row per distinct
    determinant per partition, never the corpus. NULL determinants form
    their own group (SQL GROUP BY semantics); NULL dependents are
    ignored (they carry no FD evidence)."""
    dep = c.column
    return (
        fd_scope(df, c)
        .filter(F.col(dep).isNotNull())
        .groupBy(*[F.col(d) for d in c.params["determinants"]])
        .agg(
            F.count(F.lit(1)).alias("n_rows_in_group"),
            (F.min(dep) != F.max(dep)).alias("violated"),
        )
    )


def fd_violating_groups(df: DataFrame, c: Constraint) -> DataFrame:
    """The violating groups of fd_groups: determinant columns plus
    ``n_rows_in_group``."""
    return fd_groups(df, c).filter(F.col("violated")).drop("violated")


def failed_rows(
    df: DataFrame, flags: list[tuple[str, Column]], key: str = "doc_id"
) -> DataFrame:
    """(key, constraint_id) rows for every true flag, in a single scan:
    ``flags`` pairs each constraint id with its boolean violation
    Column; an array of failed ids per row is filtered and exploded."""
    if not flags:
        return local_frame(df.sparkSession, [], f"{key} string, constraint_id string")
    failed = F.array_compact(F.array(*[F.when(v, F.lit(cid)) for cid, v in flags]))
    return (
        df.select(F.col(key), failed.alias("_failed"))
        .filter(F.size("_failed") > 0)
        .select(key, F.explode("_failed").alias("constraint_id"))
    )


def extract_violations(
    df: DataFrame, constraints: list[Constraint], key: str = "doc_id"
) -> DataFrame:
    """(doc_id, constraint_id) rows for every row-level violation
    (failed_rows over violation_expr). Unique-constraint violations
    come from evaluate_uniqueness()."""
    return failed_rows(
        df, [(c.cid, violation_expr(c, df)) for c in row_constraints(constraints)], key
    )


def cap_violations(
    viols: DataFrame, cap: int, key: str = "doc_id"
) -> DataFrame:
    """Deterministic per-constraint cap on violation rows: keep the
    ``cap`` rows with the SMALLEST xxhash64(key, constraint_id) per
    constraint — at 10^12 rows a single broken constraint emits
    billions of violation rows, and shipping them all to the results
    table is neither useful (triage reads a sample) nor cheap.

    Hash-minimum selection makes the kept set a pure function of the
    data — stable across runs, partitionings, and cluster sizes (the
    verdict-identity discipline), unlike LIMIT (planner-ordered) or a
    rand() sample. Two-phase distributed top-k so no reducer ever sees
    a constraint's full violation stream: per-PARTITION prune to the
    cap smallest hashes (mapInPandas, O(cap) memory), then one window
    over the ≤ cap × n_partitions candidates — the window's per-group
    input is bounded regardless of how skewed violations are across
    constraints."""
    schema = viols.schema
    hashed = viols.withColumn("_vh", F.xxhash64(F.col(key), F.col("constraint_id")))

    def prune(batches):
        for pdf in batches:
            yield (
                pdf.sort_values("_vh", kind="stable")
                .groupby("constraint_id", sort=False)
                .head(cap)
            )

    pruned = hashed.mapInPandas(prune, hashed.schema)
    from pyspark.sql import Window

    w = Window.partitionBy("constraint_id").orderBy("_vh", key)
    return (
        pruned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select(*[F.col(f.name) for f in schema.fields])
    )


def duplicate_keys(
    df: DataFrame, column: str, bucket_col: str = "bucket_id"
) -> DataFrame:
    """(bucket, column, count) for every non-null value of ``column``
    that occurs more than once in its bucket. Exact across the table
    only when the buckets hash ``column`` itself: then grouping is
    bucket-local and the shuffle is the minimal exact-uniqueness
    shuffle (map-side partial counts)."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(bucket_col, column)
        .count()
        .filter(F.col("count") > 1)
    )


def evaluate_uniqueness(
    df: DataFrame, column: str, bucket_col: str = "bucket_id"
) -> tuple[DataFrame, DataFrame]:
    """Exact duplicate detection over duplicate_keys. Returns
    (per_bucket_counts, violations).

    per_bucket_counts: (bucket_id, dup_keys, dup_rows) — dup_keys is the
    number of distinct duplicated values, dup_rows the number of excess
    rows. violations: one (key, cid) row per duplicated value."""
    counts = duplicate_keys(df, column, bucket_col)
    per_bucket = counts.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("dup_keys"), F.sum(F.col("count") - 1).alias("dup_rows")
    )
    violations = counts.select(F.col(column), F.lit(f"unique({column})").alias("constraint_id"))
    return per_bucket, violations
