"""Spans around calls into the engine's layers, recorded from the
benchmark's own files. Each span sets a Spark job tag, so the event log
folds into the same spans (see eventlog.py)."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from kglids_spark.sources.tables import TableStore


@dataclass
class Span:
    name: str
    tag: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; nothing is written until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        tag = f"pb.{name}.{len(self.spans)}"
        s = Span(name, tag, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(tag)
        self.sc.addJobTag(tag)
        try:
            yield s
        finally:
            self.sc.removeJobTag(tag)
            self._stack.pop()
            s.end = time.time()

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.tag]


class TracedTableStore(TableStore):
    """A ``TableStore`` that records a span around every append and read.
    Behaviour is unchanged: each call goes straight to ``TableStore``."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def append(self, table, df, *args, **kwargs):
        with self.tracer.span(f"tables.append.{table}"):
            return super().append(table, df, *args, **kwargs)

    def read(self, table, snapshot_id=None):
        with self.tracer.span("tables.read"):
            return super().read(table, snapshot_id)


def layer_calls(spark, path: str, suite) -> dict:
    """One call per layer, each forced to completion by an action. They
    run under the wide-array reader profile that ``validate()`` uses."""
    from pyspark.sql import functions as F

    from kglids_spark.operators import constraints as C
    from kglids_spark.operators import drift as D
    from kglids_spark.plans.buckets import BUCKET_COL, with_bucket

    def read():
        return spark.read.parquet(path)

    row_cs = C.row_constraints(suite)
    key = next(c.column for c in suite if c.kind == "unique")
    drift_col = next(c.column for c in suite if c.kind.startswith("drift"))

    def row_eval():
        df = read()
        df.agg(*[F.sum(C.violation_expr(c, df).cast("long")) for c in row_cs]).collect()

    calls = {
        "sources.scan": lambda: read().agg(F.sum(F.size("tokens"))).collect(),
        "plans.with_bucket": lambda: with_bucket(read(), key).groupBy(BUCKET_COL).count().collect(),
        "constraints.row_eval": row_eval,
        "constraints.uniqueness": lambda: C.evaluate_uniqueness(
            with_bucket(read(), key), key)[0].collect(),
        "constraints.extract": lambda: C.extract_violations(read(), row_cs, key=key).count(),
        "drift.histogram": lambda: D.histogram_df(read(), D.HistSpec(drift_col)).collect(),
    }
    try:
        from kglids_spark.operators.arrow_stats import collect_bucket_sketches
    except ImportError:
        pass  # the Python KLL stage is gone: its layer does no work
    else:
        calls["arrow_stats.kll"] = lambda: collect_bucket_sketches(read(), drift_col, key=key).collect()
    return calls
