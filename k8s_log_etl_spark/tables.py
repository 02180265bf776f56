"""Loaders for the driver-provisioned parquet tables.

Tables (TPC-H-ish star schema + events/documents/embeddings) live at
``{sf_dir}/{name}.parquet``. Reading through ``spark.read.parquet`` keeps
predicate pushdown / column pruning / partition-size splitting — at
100 TB these scans split by ``spark.sql.files.maxPartitionBytes`` across
executors for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts arrives as parquet TIMESTAMP(NANOS) in some data drops
        # (Spark rejects it without the legacy flag) and TIMESTAMP(MICROS)
        # in others (read as TIMESTAMP_NTZ). Normalize either to a
        # session-tz TimestampType; session tz is UTC so the NTZ cast is
        # value-preserving and matches what DuckDB reads.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ensure_min_parallelism(df: DataFrame, spark: SparkSession, *keys: str) -> DataFrame:
    """Repartition a scan whose split count is below the session's core
    count. The driver's test parquet is one row-group per table, so every
    scan is otherwise a single task and the whole (shuffle-free) pipeline
    runs on one core. At production scale input splits far exceed
    parallelism and this is a no-op — the policy costs one cheap narrow
    check (`getNumPartitions`, no job).

    With `keys`, repartition by HASH on those columns instead of
    round-robin (round-14): a keyless repartition first pays a LOCAL
    SORT of its input on the (single) scan task so retried tasks
    reproduce their row assignment (sortBeforeRepartition, guide §2.5)
    — measured as a net regression on the collect_set edge builds. A
    hash exchange always avoids that sort. It is ALSO reused by the
    downstream aggregation (no second exchange) only when `keys` equal
    that aggregation's group key; with any other keys the aggregation
    still shuffles again."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if keys:
            from pyspark.sql import functions as F

            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df


def spill_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint for DATA-SIZED intermediates: SERIALIZED
    memory+disk storage instead of the default deserialized level.

    Why (round-8 second-decade finding): `df.localCheckpoint()` stores
    the materialized partitions as DESERIALIZED row objects
    (MEMORY_AND_DISK_DESER) — each row becomes a JVM object whose
    holder array must fully materialize before the block manager can
    decide to spill. At synth-sf10 the ~40 coalesced partitions of the
    co-purchase edge list each tried to hold ~10M row objects at once
    and 32 concurrent tasks OOM'd a 64 GiB heap — on data that is only
    ~6 GB serialized. PySpark's StorageLevel.MEMORY_AND_DISK is the
    SERIALIZED level (unlike Scala's name-twin), so blocks stream
    compactly and spill incrementally; the dataset survives any SF at
    the cost of per-read deserialization. Use for corpus/edge-sized
    frames; keep the plain default for the tiny iteration-sync frames
    (vocab pieces, centroids) where object form is faster and size is
    bounded."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def dataset_cache_path(sf_dir: str, kind: str, *tables: str) -> str:
    """User-owned, content-fingerprinted cache directory for build-once
    artifacts derived from ``sf_dir`` (persisted LSH indexes, trained
    weight tables, ...).

    The path is keyed by an md5 over (absolute sf_dir, and for every
    source ``table`` the sorted (relative filename, size, mtime_ns) of
    its parquet files), so:

    * regenerating the dataset in place changes the fingerprint — a
      stale artifact is never silently reused;
    * two different parent dirs with the same basename don't collide
      (the absolute path is in the digest);
    * the root lives under the caller's home cache dir (created 0700),
      not a predictable world-writable /tmp name another local user
      could pre-populate.

    Returns ``<cache_root>/<kind>/<fingerprint>`` (not created); the
    caller writes the artifact there and checks ``_SUCCESS`` as before.
    """
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for table in tables:
        tdir = os.path.join(sf_dir, f"{table}.parquet")
        entries = []
        if os.path.isdir(tdir):
            for root, _dirs, files in os.walk(tdir):
                for fn in files:
                    fp = os.path.join(root, fn)
                    st = os.stat(fp)
                    entries.append(
                        (os.path.relpath(fp, tdir), st.st_size, st.st_mtime_ns)
                    )
        elif os.path.exists(tdir):  # single-file parquet
            st = os.stat(tdir)
            entries.append((f"{table}.parquet", st.st_size, st.st_mtime_ns))
        for e in sorted(entries):
            h.update(repr(e).encode())
    root = os.environ.get(
        "SPARK_GRAFT_CACHE_DIR",
        os.path.join(os.path.expanduser("~"), ".cache", "spark_graft"),
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    return os.path.join(root, kind, h.hexdigest())


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can be written in
    Spark SQL where that is clearer than the DataFrame API."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
