"""Parquet sink layouts beyond the reference's single file
(main.rs:219-226): partitioned and size-targeted writes. The
single-file layout itself is `convert(single_file=True)`.

Layout decisions are the write-side half of every scan optimization:
- partitionBy on a low-cardinality pruning key (date, lang, bucket)
  turns matching filters into directory pruning (PartitionFilters)
- repartition before write controls file count/size: the classic
  failure is 1000 tasks x 1000 partition keys = a million tiny files;
  repartitioning by the partition columns gives one task per key
- maxRecordsPerFile caps file size without an extra shuffle
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      max_records_per_file: int = 1_000_000,
                      compact: bool = True) -> None:
    """Partitioned snappy parquet; `compact` pre-shuffles rows to their
    partition key so each key writes one file per key (avoiding the
    tasks x keys small-file explosion)."""
    out = df.repartition(*partition_cols) if compact else df
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path, compression="snappy")
    )
