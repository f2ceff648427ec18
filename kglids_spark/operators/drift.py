"""Distribution-drift detection: histograms + two-sample KS and PSI.

The reference has no drift operator (SURVEY.md §2.4 A14 — ours); the
north_star pins KS + PSI on `n_tok` histograms vs a baseline snapshot.

Design for 10^12 rows: every histogram layout maps a row to one small
cell code (equi-width ``cell_expr``, token-ID ``token_bucket_expr``,
the equi-depth bin index), and ``cell_counts`` is the one counter: a
map-side-combined groupBy per (group, cell), so the shuffle carries at
most groups × n_cells rows of mergeable exact counts. ``_densify``
zero-fills each group's counts into a dense array in-plan (grouped
verdicts, streaming monitors); ``dense_cells`` zero-fills collected
counts on the driver (global verdicts, the CLI baseline). The KS/PSI
arithmetic runs on the ≤(nbins+2)-long count arrays, O(nbins)
regardless of data size (SURVEY.md §4).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class HistSpec:
    column: str
    lo: float = 0.0
    hi: float = 8192.0
    nbins: int = 64

    def __post_init__(self) -> None:
        # a zero or infinite width would fail (or bin nothing) only
        # inside a Spark job; reject the spec here instead
        if not (
            self.nbins >= 1
            and math.isfinite(self.lo)
            and self.hi > self.lo
            and 0 < self.width < math.inf
        ):
            raise ValueError(
                f"HistSpec({self.column}): needs nbins >= 1 and finite lo < hi, "
                f"got lo={self.lo}, hi={self.hi}, nbins={self.nbins}"
            )

    @property
    def width(self) -> float:
        return (self.hi - self.lo) / self.nbins

    @property
    def n_cells(self) -> int:
        # [underflow, bin_0..bin_{n-1}, overflow]
        return self.nbins + 2


def cell_expr(spec: HistSpec) -> Column:
    """Histogram cell of ``spec.column`` as an int, NULL for a NULL
    value: 0 below ``lo``, ``nbins + 1`` above ``hi`` (NaN included —
    Spark orders NaN above +inf), else ``k + 1`` for bin ``k``, the
    half-open ``[lo + k*width, lo + (k+1)*width)``, with the last bin
    closed at ``hi``. ``floor((v - lo) / width)`` can round one bin off
    near an edge, so ``k`` is corrected by one step against the edges,
    computed as ``spec.lo + i * spec.width`` in the same double
    arithmetic as every other consumer of the spec's bin edges."""
    v = F.col(spec.column).cast("double")
    lo, width, last = F.lit(spec.lo), F.lit(spec.width), spec.nbins - 1

    def edge(i: Column) -> Column:
        return lo + i.cast("double") * width

    k = F.least(F.greatest(F.floor((v - lo) / width), F.lit(0)), F.lit(last))
    k = (
        F.when(v < edge(k), k - 1)
        .when((k < last) & (v >= edge(k + 1)), k + 1)
        .otherwise(k)
    )
    return (
        F.when(v < lo, F.lit(0))
        .when(v > F.lit(spec.hi), F.lit(spec.nbins + 1))
        # not otherwise(): greatest/least skip NULLs, so k is 0 there
        .when(v.isNotNull(), k + 1)
        .cast("int")
    )


def cell_counts(df: DataFrame, cell: Column, group_cols: list[str] | None = None) -> DataFrame:
    """(*group_cols, _cell, count): the number of rows per group and
    ``cell`` value (e.g. ``cell_expr(spec)``), empty cells absent. A
    NULL cell counts in the NULL ``_cell``. One map-side-combined
    groupBy, so the shuffle moves at most groups × n_cells rows,
    whatever the row count."""
    return df.groupBy(*(group_cols or []), cell.alias("_cell")).count()


def _densify(counts: DataFrame, n_cells: int, keys: list[str]) -> DataFrame:
    """(*keys, hist: array<long>, n_rows) from ``cell_counts`` rows:
    each group's counts zero-filled into one dense ``n_cells`` array by
    a second, groups-sized aggregate. The NULL cell is left out of
    ``hist`` (a map key cannot be NULL) but its rows count in
    ``n_rows``; the global form (no keys) returns one row even on empty
    input."""
    per_group = counts.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(
                F.when(F.col("_cell").isNotNull(), F.struct("_cell", "count"))
            )
        ).alias("_m"),
        F.sum("count").alias("n_rows"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_cells - 1)),
        lambda i: F.coalesce(F.element_at("_m", i), F.lit(0).cast("long")),
    )
    return per_group.select(
        *keys, dense.alias("hist"), F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows")
    )


def dense_cells(rows, n_cells: int) -> list[int]:
    """Driver-side zero-fill: collected ``(cell, count)`` rows into one
    ``n_cells``-long count list, skipping the NULL cell."""
    out = [0] * n_cells
    for cell, n in rows:
        if cell is not None:
            out[int(cell)] = int(n)
    return out


def histogram_df(df: DataFrame, spec: HistSpec, group_cols: list[str] | None = None) -> DataFrame:
    """(*group_cols, hist: array<long>, n_rows): the exact histogram
    of ``spec.column`` per group (one row overall without groups), and
    the group's row count, NULL values included. A group whose values
    are all NULL gets a row of zeros, and the global form returns one
    row even on empty input."""
    keys = list(group_cols or [])
    return _densify(cell_counts(df, cell_expr(spec), keys), spec.n_cells, keys)


def merge_histograms(hists: list[list[int]]) -> list[int]:
    if not hists:
        return []
    out = [0] * len(hists[0])
    for h in hists:
        for i, v in enumerate(h):
            out[i] += int(v or 0)
    return out


# ---------------------------------------------------------------------------
# driver-side statistics over merged histograms (O(nbins))


def ks_statistic(h1: list[int], h2: list[int]) -> float:
    """Two-sample KS statistic approximated on a shared binning: max
    |ECDF1 - ECDF2| over bin edges. Exact when values are integers and
    bin width divides the range (true for n_tok in [0, 8192])."""
    n1, n2 = sum(h1), sum(h2)
    if n1 == 0 or n2 == 0:
        return 0.0
    d, c1, c2 = 0.0, 0.0, 0.0
    for a, b in zip(h1, h2):
        c1 += a / n1
        c2 += b / n2
        d = max(d, abs(c1 - c2))
    return d


def psi(h_actual: list[int], h_expected: list[int], eps: float = 1e-6) -> float:
    """Population Stability Index with epsilon smoothing:
    sum((p-q) * ln(p/q)). Conventional thresholds: <0.1 stable,
    0.1-0.2 moderate, >0.2 drifted."""
    n1, n2 = sum(h_actual), sum(h_expected)
    if n1 == 0 or n2 == 0:
        return 0.0
    total = 0.0
    for a, e in zip(h_actual, h_expected):
        p = max(a / n1, eps)
        q = max(e / n2, eps)
        total += (p - q) * math.log(p / q)
    return total


def js_divergence(h1: list[int], h2: list[int]) -> float:
    """Jensen-Shannon divergence on a shared binning (natural log, so
    bounded by ln 2 ≈ 0.693): 0.5·KL(P‖M) + 0.5·KL(Q‖M) with
    M = (P+Q)/2. Unlike PSI it needs no epsilon floor — a cell empty
    on one side contributes only its other-side mass against M, and a
    cell empty on both sides contributes nothing — so it is the
    smoothing-free symmetric divergence to quote when PSI's eps choice
    would dominate (sparse histograms, many empty cells)."""
    n1, n2 = sum(h1), sum(h2)
    if n1 == 0 or n2 == 0:
        return 0.0
    total = 0.0
    for a, b in zip(h1, h2):
        p = a / n1
        q = b / n2
        m = 0.5 * (p + q)
        if p > 0:
            total += 0.5 * p * math.log(p / m)
        if q > 0:
            total += 0.5 * q * math.log(q / m)
    return total


def emd_statistic(h1: list[int], h2: list[int], bin_width: float = 1.0) -> float:
    """1D Wasserstein-1 (earth-mover) distance between two histograms
    on a shared binning: bin_width · Σ |ECDF1 − ECDF2|, the closed
    form of the 1D transport problem. Where KS reports only the WORST
    single gap between the CDFs, EMD integrates ALL of it — a mixture
    that shifts slightly everywhere moves EMD but barely moves KS —
    and its unit is the histogram's x-axis unit (e.g. tokens for an
    n_tok histogram), so thresholds read in domain terms."""
    n1, n2 = sum(h1), sum(h2)
    if n1 == 0 or n2 == 0:
        return 0.0
    c1, c2, total = 0.0, 0.0, 0.0
    for a, b in zip(h1, h2):
        c1 += a / n1
        c2 += b / n2
        total += abs(c1 - c2)
    return bin_width * total


def chi2_statistic(h_actual: list[int], h_expected: list[int]) -> float:
    """Pearson chi-square statistic of the actual histogram against
    the baseline's proportions: Σ (o_i − e_i)² / e_i with expected
    counts e_i = n_actual · q_i — the classic goodness-of-fit test,
    completing the standard drift-stat set (KS for worst CDF gap, PSI
    for smoothed log-ratio mass, JSD for bounded symmetric
    divergence, EMD for transport distance, chi-square for
    count-scaled cell deviations with a known null distribution —
    χ²_{k−1}, so an actual p-value is available when the analyst
    wants one). Cells empty in the BASELINE are excluded from the sum
    (their expected count is 0 — the textbook applicability rule) but
    their ACTUAL mass still counts in n_actual, so mass appearing
    where the baseline had none still shifts every expected count and
    the statistic; a direct read on such cells is JSD's job, which
    needs no exclusion. Empty either side reports 0.0 (the shared
    n==0 convention)."""
    n1, n2 = sum(h_actual), sum(h_expected)
    if n1 == 0 or n2 == 0:
        return 0.0
    total = 0.0
    for o, b in zip(h_actual, h_expected):
        if b == 0:
            continue
        e = n1 * (b / n2)
        total += (o - e) * (o - e) / e
    return total


def evaluate_drift(
    actual_hist: list[int],
    baseline_hist: list[int],
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> dict:
    ks = ks_statistic(actual_hist, baseline_hist)
    p = psi(actual_hist, baseline_hist)
    return {
        "ks": ks,
        "psi": p,
        "ks_pass": ks <= ks_threshold,
        "psi_pass": p <= psi_threshold,
    }


def token_bucket_expr(
    token_col: Column | str, vocab_size: int, nbins: int
) -> Column:
    """Histogram cell of a token ID under the HistSpec cell layout
    ([underflow, bin_0..bin_{nbins-1}, overflow]): floor(id * nbins /
    vocab_size) — bit-portable to an engine that uses exact integer
    division (the oracle's `//`), because the numerator id*nbins stays
    < 2^53 (exact as a double) and a non-integer true quotient is at
    least 1/vocab_size ≈ 2^-32 away from the next integer, many orders
    above double ulp at quotients < nbins — so the double division can
    never round across the floor boundary."""
    x = F.col(token_col) if isinstance(token_col, str) else token_col
    return (
        F.when(x < 0, F.lit(0))
        .when(x >= vocab_size, F.lit(nbins + 1))
        .otherwise(F.floor(x * nbins / F.lit(vocab_size)) + 1)
        .cast("long")
    )


def _token_cell_counts(
    df: DataFrame,
    array_col: str,
    vocab_size: int,
    nbins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``cell_counts`` of every non-NULL token id in ``array_col``
    under ``token_bucket_expr``. NULL arrays and NULL elements
    contribute nothing; the counts combine map-side into ≤ nbins+2
    rows per group, so the one Exchange carries a dictionary, never
    the corpus."""
    keys = list(group_cols or [])
    toks = df.select(*keys, F.explode(array_col).alias("_tok")).where(
        F.col("_tok").isNotNull()
    )
    return cell_counts(toks, token_bucket_expr("_tok", vocab_size, nbins), keys)


def padded_token_baseline(baseline_cells: list[int], nbins: int) -> list[int]:
    """A token baseline's cells zero-padded to ``nbins + 2``; longer raises."""
    n_cells = nbins + 2
    if len(baseline_cells) > n_cells:
        raise ValueError(
            f"baseline has {len(baseline_cells)} cells, expected <= {n_cells} "
            f"(nbins={nbins} + under/overflow) — nbins/vocab_size must match "
            "the baseline's"
        )
    return list(baseline_cells) + [0] * (n_cells - len(baseline_cells))


def token_histogram_df(
    df: DataFrame,
    array_col: str = "tokens",
    vocab_size: int = 50257,
    nbins: int = 64,
) -> DataFrame:
    """(cell, n): exact histogram of TOKEN-ID values across every
    sequence in the corpus — the vocabulary-usage distribution, which
    the scalar n_tok histogram cannot see (a tokenizer swap, a vocab
    remap, or a corrupted shard shifts WHICH ids occur long before it
    shifts sequence lengths). Empty cells are absent (the driver-side
    consumers zero-fill with ``dense_cells``)."""
    return _token_cell_counts(df, array_col, vocab_size, nbins).select(
        F.col("_cell").alias("cell"), F.col("count").alias("n")
    )


def token_distribution_drift(
    df: DataFrame,
    baseline_cells: list[int],
    array_col: str = "tokens",
    vocab_size: int = 50257,
    nbins: int = 64,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> dict:
    """KS + PSI verdicts on the token-ID distribution vs a baseline
    snapshot's cells (a prior ``token_histogram_df`` collect, padded
    or not — missing trailing cells are zero). One dictionary-sized
    aggregation; the statistics are O(nbins) driver math shared with
    the oracled scalar drift path (ks_statistic / psi)."""
    base = padded_token_baseline(baseline_cells, nbins)
    cur = dense_cells(token_histogram_df(df, array_col, vocab_size, nbins).collect(), len(base))
    out = evaluate_drift(cur, base, ks_threshold, psi_threshold)
    out["cells"] = cur
    return out


def grouped_drift(
    df: DataFrame,
    spec: HistSpec,
    baseline_hist: list[int],
    group_col: str,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group KS + PSI of ``spec.column`` against a fixed baseline
    histogram — drift failure LOCALIZATION: the global suite verdict
    says *that* the mixture moved, this says *which feed* moved it
    (north_star: the skewed `source` column is exactly the group you
    want this over). Returns (group, n_rows, ks, psi, ks_pass,
    psi_pass), one row per group, NULL groups included.

    Scale shape: per-group histograms are ``histogram_df`` — the same
    ``cell_counts`` as validate's per-bucket pass, no explode; the
    baseline (nbins+2 longs, e.g. a ledger snapshot's merged ``hist``
    rows) enters the plan as a literal; the KS and PSI reductions are
    zero-shuffle higher-order ``F.aggregate`` folds over the zipped
    cell arrays, so results never leave the executors — no per-group
    driver loop, fine at 10^6 groups.
    ``evaluate_drift`` stays the right tool for the single global
    verdict; this is its distributed many-groups sibling. Semantics
    match evaluate_drift cell-for-cell: a group with zero in-range
    rows reports ks=psi=0.0 (the n==0 convention), and the baseline
    must come from the SAME HistSpec (length-mismatch raises)."""
    if len(baseline_hist) != spec.n_cells:
        raise ValueError(
            f"baseline has {len(baseline_hist)} cells, spec wants {spec.n_cells}"
        )
    return _fold_drift_verdicts(
        histogram_df(df, spec, group_cols=[group_col]),
        baseline_hist,
        group_col,
        "n_rows",
        ks_threshold,
        psi_threshold,
        eps,
    )


def _fold_drift_verdicts(
    h: DataFrame,
    baseline_hist: list[int],
    group_col: str,
    n_alias: str,
    ks_threshold: float,
    psi_threshold: float,
    eps: float,
) -> DataFrame:
    """Shared tail of the grouped drift operators: given a frame with
    (group_col, hist: array<long>) and a baseline cell list, emit
    one (group, n, ks, psi, ks_pass, psi_pass) row per group with the
    KS and PSI reductions as zero-shuffle higher-order ``F.aggregate``
    folds over the zipped cell arrays — results never leave the
    executors, no per-group driver loop. Semantics match
    evaluate_drift cell-for-cell, including the n==0 → 0.0
    convention."""
    n2 = float(sum(baseline_hist))
    if n2 <= 0:
        raise ValueError("baseline histogram is empty")
    base = F.array(*[F.lit(float(v)) for v in baseline_hist])
    h = h.withColumn("__cells", F.transform("hist", lambda x: x.cast("double")))
    h = h.withColumn("__n1", F.aggregate("__cells", F.lit(0.0), lambda a, x: a + x))
    n1 = F.col("__n1")
    pairs = F.zip_with(
        F.col("__cells"),
        base,
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    ks_fold = F.aggregate(
        pairs,
        F.struct(
            F.lit(0.0).alias("c1"), F.lit(0.0).alias("c2"), F.lit(0.0).alias("d")
        ),
        lambda acc, p: F.struct(
            (acc["c1"] + p["a"] / n1).alias("c1"),
            (acc["c2"] + p["b"] / F.lit(n2)).alias("c2"),
            F.greatest(
                acc["d"],
                F.abs((acc["c1"] + p["a"] / n1) - (acc["c2"] + p["b"] / F.lit(n2))),
            ).alias("d"),
        ),
        lambda acc: acc["d"],
    )
    p1 = lambda p: F.greatest(p["a"] / n1, F.lit(eps))  # noqa: E731
    p2 = lambda p: F.greatest(p["b"] / F.lit(n2), F.lit(eps))  # noqa: E731
    psi_fold = F.aggregate(
        pairs,
        F.lit(0.0),
        lambda acc, p: acc + (p1(p) - p2(p)) * F.log(p1(p) / p2(p)),
    )
    ks_c = F.when(n1 > 0, ks_fold).otherwise(F.lit(0.0))
    psi_c = F.when(n1 > 0, psi_fold).otherwise(F.lit(0.0))
    return h.select(
        F.col(group_col),
        n1.cast("long").alias(n_alias),
        ks_c.alias("ks"),
        psi_c.alias("psi"),
        (ks_c <= F.lit(ks_threshold)).alias("ks_pass"),
        (psi_c <= F.lit(psi_threshold)).alias("psi_pass"),
    )


def grouped_token_drift(
    df: DataFrame,
    baseline_cells: list[int],
    group_col: str,
    array_col: str = "tokens",
    vocab_size: int = 50257,
    nbins: int = 64,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-group token-ID distribution drift vs a fixed baseline
    snapshot: one (group, n_tokens, ks, psi, ks_pass, psi_pass) row
    per value of ``group_col`` — WHICH FEED swapped tokenizers or
    remapped its vocabulary, the localization the global
    token_distribution_drift (a whole-table statement) cannot give and
    the scalar grouped_drift (n_tok histograms) cannot see.

    Plan: the token cells counted per (group, cell) by ``cell_counts``
    — the Exchange carries groups × ≤ nbins+2 rows, never the corpus —
    then each group's dense cell array assembles in-plan (``_densify``)
    and the shared KS/PSI folds reduce in-plan. Cell layout and
    statistics match the global operator bucket-for-bucket; a group
    with only NULL arrays never appears in the exploded stream
    (explode of NULL yields nothing), so absent groups mean no token
    evidence."""
    base = padded_token_baseline(baseline_cells, nbins)
    h = _densify(
        _token_cell_counts(df, array_col, vocab_size, nbins, [group_col]),
        len(base),
        [group_col],
    )
    return _fold_drift_verdicts(
        h, base, group_col, "n_tokens", ks_threshold, psi_threshold, eps
    )


def equidepth_edges(
    df: DataFrame,
    column: str,
    nbins: int = 16,
    exact: bool = True,
    round_dp: int = 6,
) -> list[float]:
    """Interior quantile edges (nbins − 1 of them) of ``column`` from a
    baseline frame — the equal-MASS binning. The equi-width HistSpec
    wastes most of its cells on a heavy-tailed column (n_tok: half the
    bins may hold <1% of the mass, so a tail shift barely moves KS);
    equi-depth bins give every cell the same baseline mass, the
    standard fix. ``exact`` uses the interpolated ``percentile`` (one
    aggregate; its buffer holds the column — query-scale); at 10^12
    rows use ``exact=False`` (mergeable KLL ``percentile_approx``).
    Edges ROUND to ``round_dp`` so two engines computing interpolated
    quantiles with different float paths agree on the binning —
    a raw-bit edge difference would flip boundary values between
    neighboring bins."""
    if nbins < 2:
        raise ValueError(f"nbins must be >= 2, got {nbins}")
    col = F.col(column).cast("double")
    qs = [i / nbins for i in range(1, nbins)]
    qarr = F.array(*[F.lit(q) for q in qs])
    if exact:
        row = df.agg(F.percentile(col, qarr).alias("e")).collect()[0]
    else:
        row = df.agg(
            F.percentile_approx(col, qarr, F.lit(10000)).alias("e")
        ).collect()[0]
    if row["e"] is None:
        raise ValueError(f"{column}: no non-null values to derive edges from")
    edges = [round(float(v), round_dp) for v in row["e"]]
    # discrete / low-cardinality columns repeat quantiles; duplicate
    # edges would create structurally-empty cells in BOTH histograms
    # (invisible to KS and PSI, silently shrinking the effective bin
    # count) — deduplicate so every returned edge separates real mass.
    # Callers see fewer bins than requested on such columns; the
    # equal-mass guarantee holds per REMAINING cell.
    out: list[float] = []
    for v in edges:
        if not out or v != out[-1]:
            out.append(v)
    return out


def equidepth_histogram(df: DataFrame, column: str, edges: list[float]) -> list[int]:
    """Counts per equi-depth bin under ``edges`` (interior edges from
    :func:`equidepth_edges`): bin index = #edges ≤ value, giving
    len(edges)+1 cells with no under/overflow (the outer bins are
    open). The bin index is counted by ``cell_counts``, so the
    Exchange carries ≤ nbins rows; NULLs get a NULL bin and are
    excluded."""
    col = F.col(column).cast("double")
    idx = sum(
        ((col >= F.lit(float(e))).cast("int") for e in edges),
        F.when(col.isNotNull(), F.lit(0)),
    )
    return dense_cells(cell_counts(df, idx).collect(), len(edges) + 1)


def equidepth_drift(
    df: DataFrame,
    baseline_df: DataFrame,
    column: str,
    nbins: int = 16,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    exact: bool = True,
) -> dict:
    """KS + PSI on the equal-mass binning DERIVED FROM THE BASELINE:
    edges from baseline quantiles, both frames histogrammed on those
    edges, then the shared driver math. On a heavy-tailed column this
    is strictly more sensitive than the equi-width HistSpec path — the
    baseline occupies every cell equally (PSI's epsilon floor never
    dominates) and a tail shift moves full cells rather than the one
    overflow bucket. Returns the evaluate_drift dict plus the edges
    and both cell lists."""
    edges = equidepth_edges(baseline_df, column, nbins=nbins, exact=exact)
    base = equidepth_histogram(baseline_df, column, edges)
    cur = equidepth_histogram(df, column, edges)
    out = evaluate_drift(cur, base, ks_threshold, psi_threshold)
    out["edges"] = edges
    out["cells"] = cur
    out["baseline_cells"] = base
    return out
