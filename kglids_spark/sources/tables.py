"""Table IO: testdata loaders and an Iceberg-or-parquet TableStore.

The sandbox has no Iceberg catalog jars, so TableStore emulates the two
Iceberg features the engine depends on — snapshot ids and transactional
append — with parquet directories plus a JSON manifest. The interface
is deliberately narrow (read / append / snapshot_id) so a real Iceberg
catalog drops in by swapping ``format("iceberg")`` for the parquet
calls (SURVEY.md §7.2 hard-part 5).

Reference analog: one JSON file per column profile with md5 filenames
(kg_governor/data_profiling/model/column_profile.py:58-64) and .nt
fragments concatenated by the driver — replaced here by transactional
table appends.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_testdata(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Load driver-provided parquet tables and register temp views."""
    out: dict[str, DataFrame] = {}
    for name in tables or TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def _bucketing_props(df: DataFrame) -> dict:
    """Snapshot-manifest properties for a frame bucketed by
    plans.buckets.with_bucket: the bucket count rides the manifest so
    readers can validate requested-vs-stored bucketing even though a
    hive partition write drops StructField metadata."""
    from kglids_spark.plans.buckets import stored_n_buckets

    n = stored_n_buckets(df)
    return {"n_buckets": n} if n is not None else {}


class TableStore:
    """Parquet-dir table store with Iceberg-style snapshot manifests.

    Layout:  <root>/<table>/data/part-*.parquet
             <root>/<table>/manifest.json   {"snapshots": [{"id", "ts", "op"}]}
    Appends write to a unique subdir then record a snapshot — readers
    only see data listed in the manifest, giving atomic-append
    semantics good enough for checkpoint ledgers in the sandbox.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"snapshots": []}

    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table)["snapshots"])

    def snapshot_id(self, table: str) -> str | None:
        snaps = self._load_manifest(table)["snapshots"]
        return snaps[-1]["id"] if snaps else None

    def append(
        self,
        table: str,
        df: DataFrame,
        op: str = "append",
        partition_by: list[str] | None = None,
    ) -> str:
        """``partition_by`` writes the snapshot hive-partitioned by the
        given columns — the emulation of Iceberg's
        ``PARTITIONED BY (bucket(N, doc_id))``. Readers that filter on
        a partition column then get real file pruning (PartitionFilters
        in the scan node), which is what makes resume-time
        completed-bucket exclusion skip I/O instead of rows
        (tested in tests/test_validate.py::test_partition_pruning)."""
        return self._commit(table, df, op, partition_by, keep_prior=True)

    def overwrite(
        self, table: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        # new snapshot replaces all prior ones (readers use the manifest)
        return self._commit(table, df, "overwrite", partition_by, keep_prior=False)

    def _commit(
        self,
        table: str,
        df: DataFrame,
        op: str,
        partition_by: list[str] | None,
        keep_prior: bool,
    ) -> str:
        """Write ``df`` as a new snapshot dir, then swap in a manifest
        listing the prior snapshots (``keep_prior``) plus the new one
        with one atomic ``os.replace``."""
        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self._tdir(table), "data", snap_id)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        manifest = self._load_manifest(table) if keep_prior else {"snapshots": []}
        manifest["snapshots"].append(
            {"id": snap_id, "ts": time.time(), "op": op, "path": data_dir,
             **({"partition_by": partition_by} if partition_by else {}),
             **_bucketing_props(df)}
        )
        os.makedirs(self._tdir(table), exist_ok=True)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(table))
        return snap_id

    def read(self, table: str, snapshot_id: str | None = None) -> DataFrame:
        """Read the table as of a snapshot (time-travel emulation)."""
        manifest = self._load_manifest(table)
        snaps = manifest["snapshots"]
        if snapshot_id is not None:
            upto = [s for s in snaps if s["id"] == snapshot_id]
            if not upto:
                raise KeyError(f"snapshot {snapshot_id} not found for {table}")
            idx = snaps.index(upto[0])
            snaps = snaps[: idx + 1]
            # respect overwrites: keep only snapshots after the last overwrite
        live: list[dict] = []
        for s in snaps:
            if s["op"] == "overwrite":
                live = [s]
            else:
                live.append(s)
        if not live:
            raise KeyError(f"table {table} is empty")
        # mergeSchema: snapshots written by older engine versions may
        # lack newer sketch columns — they read back as nulls
        df = self.spark.read.option("mergeSchema", "true").parquet(
            *[s["path"] for s in live]
        )
        # Re-attach the recorded bucket count: hive partition columns
        # are directory keys, so the StructField metadata with_bucket
        # wrote is lost in the round trip — the manifest carries it
        # instead, and with_bucket then validates requested-vs-stored
        # bucketing instead of blindly trusting the column (ADVICE r2).
        ns = {s.get("n_buckets") for s in live if s.get("n_buckets") is not None}
        from kglids_spark.plans.buckets import BUCKET_COL, META_N_BUCKETS

        if len(ns) == 1 and BUCKET_COL in df.columns:
            df = df.withMetadata(BUCKET_COL, {META_N_BUCKETS: int(ns.pop())})
        return df


def read_csv_table(
    spark: SparkSession,
    path: str,
    na_markers: tuple[str, ...] = (" ", "?", "-"),
    header: bool = True,
):
    """CSV source with the reference's read-time semantics
    (kg_governor/data_profiling/profile_data.py:111-120): the markers
    ' ', '?', '-' coerce to null, then whole-column numeric coercion is
    attempted (pd.to_numeric(errors='ignore') equivalent: a string
    column becomes numeric only if every non-null value parses).

    One schema-inference pass + one coercion check pass over the
    header-driven string schema; at scale, prefer parquet/Iceberg and
    treat this as an ingest-edge connector."""
    from pyspark.sql import functions as F

    df = spark.read.csv(path, header=header, inferSchema=False)
    # null-marker coercion on every string column
    for f in df.schema.fields:
        c = F.col(f.name)
        df = df.withColumn(f.name, F.when(F.trim(c).isin([m.strip() for m in na_markers]) | (c == ""), None).otherwise(c))
    # numeric coercion: single agg pass computing parse ratios
    checks = []
    for f in df.schema.fields:
        c = F.col(f.name)
        num = c.try_cast("double")
        checks.append(
            (F.count(num) == F.count(c)).alias(f"{f.name}__allnum")
        )
        checks.append(
            F.coalesce(F.avg((num == F.round(num)).cast("double")), F.lit(0.0)).alias(f"{f.name}__intratio")
        )
    flags = df.agg(*checks).collect()[0].asDict()
    for f in df.schema.fields:
        if flags.get(f"{f.name}__allnum"):
            target = "bigint" if flags.get(f"{f.name}__intratio", 0) == 1.0 else "double"
            df = df.withColumn(f.name, F.col(f.name).cast(target))
    return df


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    partitions: int | None = None,
) -> None:
    """JSON-Lines sink — the interchange format public corpora ship in
    (one JSON object per line; Dolma, RedPajama, The Pile all publish
    this shape). ``compression`` maps to Spark's text-codec option
    (gzip/bzip2/deflate/none). Scale note: gzip parts are NOT
    splittable — one read task per file — so the writer keeps the
    input partitioning (many medium files) unless ``partitions``
    explicitly coalesces; never write one giant .gz."""
    w = df.repartition(partitions) if partitions else df
    writer = w.write.mode("overwrite")
    if compression and compression != "none":
        writer = writer.option("compression", compression)
    writer.json(path)


def read_jsonl_corpus(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-Lines source. With an explicit ``schema`` (string DDL or
    StructType) the read is ONE text scan + a from_json projection —
    no driver-blocking inference job over 100 TB of text, and
    malformed lines land in ``_corrupt_json`` (the raw line) instead
    of failing the job, so a bad shard surfaces as countable,
    quarantineable rows. from_json is a plain codegen expression, so —
    unlike Spark's built-in ``columnNameOfCorruptRecord`` channel,
    which refuses any query whose pruned references collapse to the
    corrupt column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — every
    downstream query shape works, including
    ``filter(_corrupt_json.isNotNull()).count()``. Blank lines are
    skipped (matching spark.read.json). Without a schema, falls back
    to Spark's sampling inference (no corrupt capture)."""
    if schema is None:
        return spark.read.json(path)
    from pyspark.sql.types import StringType, StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if "_corrupt_json" not in st.fieldNames():
        # as a FIELD of from_json's target struct the corrupt channel
        # is an ordinary expression output — the file-scan restriction
        # does not apply
        st = st.add("_corrupt_json", StringType())
    from pyspark.sql import functions as F

    raw = spark.read.text(path).filter(F.trim("value") != "")
    parsed = raw.select(
        F.from_json(
            F.col("value"),
            st,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_json"},
        ).alias("_r")
    )
    return parsed.select("_r.*")
