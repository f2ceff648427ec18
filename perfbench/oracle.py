"""An oracle for the default suite computed by DuckDB over the same
parquet files, and the check every benchmark pass must pass.

The oracle shares no evaluation code with the engine: each constraint is
restated as SQL from its parameters.
"""

from __future__ import annotations

import bisect
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from workloads import SUITE


def _sql_literal(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def row_predicates() -> dict[str, str]:
    """SQL violation predicate per row-level constraint of ``SUITE``, over
    a table holding ``n_elems``, the length of the checked array column
    (the suite checks one, ``tokens``)."""
    out = {}
    for c in SUITE:
        col, p = c.column, c.params
        if c.kind == "not_null":
            out[c.cid] = f"{col} IS NULL"
        elif c.kind == "range":
            out[c.cid] = f"{col} IS NOT NULL AND ({col} < {p['lo']} OR {col} > {p['hi']})"
        elif c.kind == "tok_len_consistency":
            out[c.cid] = f"{col} IS NOT NULL AND n_elems <> {col}"
        elif c.kind == "referential":
            vocab = ", ".join(_sql_literal(v) for v in p["valid_values"])
            out[c.cid] = f"{col} IS NOT NULL AND {col} NOT IN ({vocab})"
    return out


def build_oracle(flat_dir: Path) -> dict:
    """Exact per-constraint violation counts, the violation rows, the row
    count, the distinct non-null ``doc_id`` count and the ``n_tok``
    value counts (for exact ranks)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute("SET memory_limit = '1GB'")
        # one decode of the token arrays; every query below reads this table
        con.execute(
            "CREATE TABLE t AS SELECT doc_id, len(tokens) AS n_elems, n_tok, source "
            f"FROM read_parquet('{flat_dir}/*.parquet')"
        )
        (n_rows,) = con.execute("SELECT count(*) FROM t").fetchone()
        counts, violations = {}, []
        for cid, pred in row_predicates().items():
            rows = con.execute(f"SELECT doc_id FROM t WHERE {pred}").fetchall()
            counts[cid] = len(rows)
            violations += [[d, cid] for (d,) in rows]
        for c in SUITE:
            if c.kind == "unique":
                dups = con.execute(
                    f"SELECT {c.column} FROM t WHERE {c.column} IS NOT NULL "
                    f"GROUP BY {c.column} HAVING count(*) > 1"
                ).fetchall()
                counts[c.cid] = len(dups)
                violations += [[d, c.cid] for (d,) in dups]
            elif c.kind in ("drift_ks", "drift_psi"):
                counts[c.cid] = 0  # self-baseline: the table is its own reference
        (distinct,) = con.execute(
            "SELECT count(DISTINCT doc_id) FROM t WHERE doc_id IS NOT NULL"
        ).fetchone()
        ntok = con.execute(
            "SELECT n_tok, count(*) FROM t WHERE n_tok IS NOT NULL GROUP BY n_tok ORDER BY n_tok"
        ).fetchall()
    finally:
        con.close()
    return {
        "n_rows": n_rows,
        "counts": counts,
        "violations": sorted(violations, key=lambda r: (r[1], r[0] or "")),
        "distinct_doc_ids": distinct,
        "ntok_values": [v for v, _ in ntok],
        "ntok_counts": [n for _, n in ntok],
    }


def exact_cdf(oracle: dict, value: float) -> float:
    """Share of non-null ``n_tok`` values <= ``value``."""
    i = bisect.bisect_right(oracle["ntok_values"], value)
    counts = oracle["ntok_counts"]
    return sum(counts[:i]) / sum(counts)


@dataclass
class Check:
    problems: list[str] = field(default_factory=list)
    hll_rel_err: float | None = None
    kll_rank_err: float | None = None


def check(result, oracle: dict) -> Check:
    """Compare one ``ValidationResult`` with the oracle: per-constraint
    totals, verdict consistency, rows validated and the violation rows
    as a multiset."""
    out = Check()
    totals: Counter = Counter()
    for v in result.verdicts.collect():
        totals[v.constraint_id] += v.n_violations
        if v.passed != (v.n_violations == 0):
            out.problems.append(f"verdict {v.constraint_id}@{v.bucket_id} passed={v.passed} "
                                f"with {v.n_violations} violations")
    for cid, n in oracle["counts"].items():
        if totals.get(cid, 0) != n:
            out.problems.append(f"{cid}: engine {totals.get(cid, 0)} != oracle {n}")
    extra = set(totals) - set(oracle["counts"])
    if extra:
        out.problems.append(f"unexpected constraints {sorted(extra)}")
    m = result.metrics
    if m["rows_validated"] != oracle["n_rows"]:
        out.problems.append(f"rows_validated {m['rows_validated']} != {oracle['n_rows']}")
    got = Counter((r[0], r[1]) for r in result.violations.collect())
    want = Counter((d, cid) for d, cid in oracle["violations"])
    if got != want:
        out.problems.append(
            f"violation rows differ: {sum((got - want).values())} extra, "
            f"{sum((want - got).values())} missing"
        )
    exact = oracle["distinct_doc_ids"]
    out.hll_rel_err = abs(m["distinct_key_estimate"] - exact) / exact
    median = m.get("n_tok_median_kll")
    if median is not None:
        out.kll_rank_err = abs(exact_cdf(oracle, median) - 0.5)
    return out
