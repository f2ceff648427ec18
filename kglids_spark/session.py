"""SparkSession factory with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster: the same conf
(AQE, skew-join handling, Arrow batching) applies unchanged under
spark-submit on a real cluster. The reference sizes its local mode
from physical RAM (reference: kg_governor/data_global_schema_builder/
build_data_global_schema.py:36,81-82); we instead expose parallelism
explicitly so the N-vs-4N scaling evidence is reproducible.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Reader-batch profile for wide array<int32> token scans: ~1.8 MB
# column vectors instead of ~7 MB at the 4096-row default, measured
# 3-5x on the 15 GB tokens scan together with the GC profile below.
# Scoped (not session-wide) because the same small batch costs ~10% on
# narrow-row scans (bench_ab.py interleaved A/B, BENCH.md round 3).
WIDE_ARRAY_SCAN_CONF = {"spark.sql.parquet.columnarReaderBatchSize": "1024"}


@contextmanager
def scoped_sql_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of a block, restoring the
    previous values (or unsetting) afterwards. SQL confs are consulted
    at action/planning time, so this scopes correctly around a pass
    that runs its actions inside the block; frames returned lazily and
    collected later run under the caller's conf."""
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A DataFrame of driver-side Python values: ``rows`` (tuples in
    ``schema``'s field order) go to the JVM as one Arrow table and plan
    as a ``LocalTableScan``. ``createDataFrame(list)`` plans a Python
    RDD instead, so every action on it starts a Python worker task
    (measured 0.42 s wall per ``count()`` of a 2-row frame vs 0.15 s
    through Arrow, local[2] on a 4-core host)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


_MAX_DEFAULT_HEAP_MB = 16 * 1024


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap when SPARK_GRAFT_DRIVER_MEM is unset: half of
    physical memory, at most 16 GiB (16g when ``meminfo`` is
    unreadable). -Xms pins the whole heap, so a fixed 16g got a test
    JVM OOM-killed at 13 GB RSS on a 15 GB host."""
    try:
        with open(meminfo) as f:
            total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, IndexError, ValueError):
        return f"{_MAX_DEFAULT_HEAP_MB}m"
    return f"{min(_MAX_DEFAULT_HEAP_MB, total_kb // 2048)}m"


def _driver_mem() -> str:
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def _mem_mb() -> int:
    """Parse the driver heap (``_driver_mem``) as a JVM-style size
    string into MiB.

    Unit-aware (``512m`` is 512 MiB, not 512 GiB): the -Xms/-Xmn GC
    flags derived from this must never exceed the -Xmx that Spark sets
    from the same string, or the JVM refuses to start. A bare number is
    MiB (Spark's default unit for memory confs); unparseable values
    fall back to 16g."""
    mem = _driver_mem().strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", mem)
    if not m:
        return _MAX_DEFAULT_HEAP_MB
    n, unit = int(m.group(1)), m.group(2)
    mb = {
        "k": n // 1024,
        "": n,
        "m": n,
        "g": n * 1024,
        "t": n * 1024 * 1024,
    }[unit]
    # NO floor above the parsed value: -Xmx comes from the same string,
    # and -Xms greater than -Xmx aborts JVM startup. Tiny (even zero
    # after k->MiB floor-div) values only forfeit the pre-sized heap.
    return max(mb, 1)


def _gc_opts(heap_mb: int) -> str:
    # young gen must stay strictly inside the heap: a 256m floor would
    # make -Xmn == -Xms at small heaps (zero old gen -> JVM abort)
    young = max(heap_mb * 3 // 4, 1)
    return f"-XX:+UseParallelGC -Xms{heap_mb}m -Xmn{young}m"


def get_spark(
    app_name: str = "kglids_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for columnar validation.

    - AQE on: runtime partition coalescing + skew-join splitting (the
      reference hand-rolls skew balance by shuffling pair indexes,
      build_data_global_schema.py:156-158; AQE subsumes that).
    - Arrow on, with a bounded batch size because ``tokens`` arrays
      are wide (avg ~500 ints/row): 10k rows/batch keeps Arrow
      buffers ~20 MB.
    - shuffle partitions default to 2x cores locally; on a real
      cluster this is set per-job from input size.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # GC profile for scan-heavy validation (measured on the 15 GB
        # tokens table, local[8]):
        # - G1 (the JVM default) collapses under many threads
        #   allocating the ~7MB-per-batch column vectors a wide
        #   array<int> parquet scan produces at the default 4096-row
        #   batch (humongous-allocation thrash): 24-65s per scan.
        # - ParallelGC alone still spent 70s of a 112s scan series in
        #   GC pauses (177 pauses, 32 full GCs): decode garbage churns
        #   through an adaptively-undersized young gen.
        # - ParallelGC + a young gen sized to ~3/4 of the heap + 1024-row
        #   reader batches (~1.8MB vectors) → 9.7-12s per scan, GC
        #   pauses negligible. The engine's design keeps long-lived heap
        #   small (slim projections, sketch rows — never wide arrays),
        #   so giving decode garbage most of the heap is the right
        #   trade for any executor size; on a real cluster the same
        #   flags go in spark.executor.extraJavaOptions.
        #
        # The 1024-row reader batch is NOT set session-wide: a same-
        # weather interleaved A/B (bench_ab.py, BENCH.md round 3)
        # measured it costing ~10% (median pairwise) on the narrow-row
        # query suite it was never meant for. It is scoped to the
        # wide-token passes via scoped_sql_conf(WIDE_ARRAY_SCAN_CONF)
        # in validate()/profile_tables() instead.
        .config("spark.driver.extraJavaOptions", _gc_opts(_mem_mb()))
        .config("spark.executor.extraJavaOptions", _gc_opts(_mem_mb()))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
