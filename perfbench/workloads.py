"""The benchmark's workloads and the constraint suite they validate.

Why each workload exists, and which layer metric should move which
end-to-end metric on it, is in METRICS.md next to this file.
"""

from __future__ import annotations

from dataclasses import dataclass

from kglids_spark.operators import constraints as C
from kglids_spark.sources.tokens import SOURCES

N_ROWS = 100_000
N_BUCKETS = 64
# resume_half's seed ledger holds buckets [0, RESUME_SPLIT) as committed
RESUME_SPLIT = N_BUCKETS // 2
SUITE = C.default_suite(SOURCES)


@dataclass(frozen=True)
class Workload:
    name: str
    plant: bool  # planted violations in the input
    layout: str  # "flat" parquet files or "bucketed" hive dirs
    ledger: str | None  # None, "fresh" (empty per pass) or "resume"


WORKLOADS = {
    w.name: w
    for w in (
        Workload("clean_gate", plant=False, layout="flat", ledger=None),
        Workload("dirty_ledger", plant=True, layout="flat", ledger="fresh"),
        Workload("resume_half", plant=True, layout="bucketed", ledger="resume"),
    )
}
