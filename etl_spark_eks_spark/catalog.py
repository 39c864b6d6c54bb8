"""Catalog: load the fixture star schema and register named views.

The reference's "catalog" is a Glue database + crawler + a fixed-schema
external table over an S3 parquet prefix (reference: addons.tf:285-365).
Spark-native equivalent: ``spark.read.parquet`` per table + temp views,
so both the DataFrame API and ``spark.sql`` see the same names — the
same names DuckDB pre-registers for the oracle.

The crawler resolves a table's schema once and every reader takes it
from the catalog. ``raw_table`` does the same within one process: the
first read of a table runs Spark's parquet schema inference (one Spark
job), and every later read passes the stored schema to
``spark.read.schema(...)``, which launches no job. The cache key is the
path, the files' name/size/mtime fingerprint (a fixture regenerated in
place is re-inferred) and the session confs that steer inference.

Scale note: at 100 TB these would be real catalog tables (partitioned,
possibly bucketed on join keys) whose schemas a metastore holds; the
loader keeps a single entry point so that swap is one function.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark_eks_spark.sources.parquet_io import fixture_fingerprint

TABLES: tuple[str, ...] = (
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session confs that change what parquet schema inference returns for
# the same files.
_INFERENCE_CONFS: tuple[str, ...] = (
    NANOS_AS_LONG,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

# (path, fixture fingerprint, inference conf values) -> inferred schema.
# Two concurrent misses on one key both infer and store the same
# schema, so the dict needs no lock.
_SCHEMAS: dict[tuple, T.StructType] = {}


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of a fixture table as stored, columns un-normalized.

    The schema comes from the process-wide cache; a miss runs the
    inferring read and stores its schema. Reading ``events`` sets
    nanosAsLong on the session and leaves it set: the scan needs it at
    execution time, including a stream's scans over staged copies.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
    path = table_path(sf_dir, name)
    key = (
        path,
        fixture_fingerprint(sf_dir, name),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY §2 A1), multi-file capable, with the schema
    inferred from the footers once per process (``raw_table``). That
    cache stands in, within one process, for the Glue table schema the
    crawler writes once; at 100 TB a metastore holds it.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    read natively; we read it as int64 nanos (legacy conf) and truncate
    to microseconds with integer DIV — bit-identical to DuckDB's own
    ns->µs truncation, so oracle comparisons stay exact. (Float division
    would lose precision: 2024 epoch-nanos ≈ 1.7e18 > 2^53.)
    """
    df = raw_table(spark, sf_dir, name)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def widen(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's full parallelism.

    Compute-heavy per-row operators (MinHash signatures, SimHash,
    shingle fingerprints, pairwise similarity) inherit their parallelism
    from the scan. A 100 TB table scans as thousands of splits and needs
    nothing; the small single-file fixtures scan as ONE partition, which
    serializes interpreted higher-order expressions onto one core. This
    is the explicit small-input/wide-compute escape hatch — a cheap
    round-robin exchange of the (small) input, never of the pairwise
    output — and a literal no-op whenever the input already carries at
    least session parallelism (a 100 TB scan must NOT be re-shuffled
    just to run a per-row expression; the conditional is what makes
    this safe to leave in the operators at scale).
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= partitions:
        return df
    return df.repartition(partitions)


def adaptive_width(df: DataFrame, per_part_bytes: int = 2 << 20) -> int:
    """Scale-adaptive partition floor for CODEGEN/Arrow-batched stages
    (round 12, guide §2: derive partitioning from input size, not a
    constant tuned for local mode). ``widen()``'s full-session fan-out
    is load-bearing for INTERPRETED per-row expressions (no codegen,
    no CSE — 32-way parallelism beats per-task overhead even on a
    5k-row fixture), but once a pipeline's per-row work is integer
    codegen or a numpy batch kernel, fixture-sized inputs pay ~10 ms
    of scheduling per task per stage for nothing (measured: 32-task
    stages of 0.3-0.6 s over KB-scale tables). The right width is the
    scan-size estimate divided by a chunk, floored at 4 (hostile
    local[3] sweeps still overlap) and capped at session parallelism.
    At real scale the estimate exceeds the cap and ``widen`` is a
    no-op anyway, so only tiny inputs narrow — pass the result as
    ``widen(df, adaptive_width(df))``."""
    sc = df.sparkSession.sparkContext
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return sc.defaultParallelism
    return max(4, min(sc.defaultParallelism, -(-size // per_part_bytes)))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view (SURVEY §2 B1).

    Mirrors the reference's crawler-populated Glue database: after this,
    ``spark.sql("SELECT ... FROM lineitem ...")`` works like Athena over
    the crawled table (reference: addons.tf:285-297).
    """
    # The events read sets nanosAsLong, and that conf is part of the
    # schema-cache key: set it first, so every table is cached under the
    # value the later reads see.
    spark.conf.set(NANOS_AS_LONG, "true")
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
