"""Loaders for the driver-generated star schema (TESTDATA.md).

All queries take (spark, sf_dir) and load via these helpers so that the
physical reading strategy is controlled in exactly one place. At cluster
scale the same call sites would point at partitioned/bucketed tables; on
the test data they are single parquet files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from discogs_xml_to_parquet_spark.staging import source_fingerprint

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# path -> (source_fingerprint, schema). Reading parquet without a schema
# runs a Spark job over the footers on every load; a long-lived session
# reloads the same files, so the schema is reused until the file's
# fingerprint (mtime_ns + size) changes.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, sf_dir, f"{name}.parquet")


def _read_parquet(spark: SparkSession, sf_dir: str, file: str) -> DataFrame:
    path = f"{sf_dir}/{file}"
    try:
        fp = source_fingerprint(sf_dir, file)
    except OSError:  # missing, or not on the local filesystem
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fp, df.schema)
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(MICROS) (reads
    natively as timestamp_ntz) and TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]). For
    the nanos generation: read raw nanos via the legacy conf and
    rebuild a timestamp_ntz:

    - integer `div` (never `/`: double division of an 1.7e18 nanos value
      rounds in the last microseconds)
    - epoch + exact DECIMAL microsecond interval, so the result is
      independent of the session timezone (timestamp_micros() would
      detour through TimestampType and shift under a non-UTC session)

    Truncation ns->us matches DuckDB's TIMESTAMP_NS->TIMESTAMP cast,
    keeping oracle comparisons exact. Both lanes land on the same
    timestamp_ntz column type, so queries never see the difference.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _read_parquet(spark, sf_dir, "events.parquet")
    ts_dtype = dict(raw.dtypes)["ts"]
    if ts_dtype == "bigint":
        ts = F.expr(
            "TIMESTAMP_NTZ '1970-01-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, 0, 0, CAST(ts DIV 1000 AS DECIMAL(26,6)) / 1000000)"
        )
    elif ts_dtype == "timestamp_ntz":
        ts = F.col("ts")
    else:
        # refuse rather than cast: a UTC-adjusted TIMESTAMP(MICROS)
        # would arrive as session-zoned 'timestamp', and casting it to
        # timestamp_ntz shifts values under a non-UTC session -- the
        # exact TimestampType detour the nanos lane above avoids
        raise TypeError(
            f"events.ts has dtype {ts_dtype!r}; expected TIMESTAMP_NS "
            "(read as bigint via nanosAsLong) or timestamp_ntz. A "
            "session-zoned 'timestamp' would silently shift under a "
            "non-UTC session timezone."
        )
    return raw.select(
        "event_id", ts.alias("ts"), "user_id", "event_type", "value", "props"
    )


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load() + round-robin repartition to defaultParallelism (one task
    per core, one wave), for compute-bound per-row pipelines over
    under-partitioned sources. Each test table is ONE parquet file = one
    partition, so signature folds / pandas stages would otherwise run on
    a single core until the first shuffle; the same holds for any
    single-big-gzip or few-file input. Skip it for scan-shaped
    aggregations. AQE never coalesces a round-robin exchange, so a
    fixed count above the core count reaches every stage that reads the
    frame: at sf0.1 on local[4], q_curation_pipeline took 4.50 s with 64
    partitions and 2.84 s with 4 (medians of 6 interleaved runs)."""
    return load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )
