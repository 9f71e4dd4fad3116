"""Data-retention (TTL) enforcement on a partitioned table: expired
whole partitions are DROPPED by metadata, only the one partition the
cutoff cuts THROUGH is rewritten -- O(1) per expired partition plus
O(boundary), never O(table).

The lifecycle operator every 100 TB deployment runs nightly (GDPR /
cost retention: "keep 36 months"), and the reason tables are
partitioned by time in the first place. It is distinct from both of
its siblings: VACUUM (q_vacuum_retention) reclaims unreferenced
VERSIONS of rows the table still logically holds; MERGE/DELETE
(q_merge_upsert / q_delete_merge_on_read) change arbitrary rows.
TTL's predicate is aligned with the partition key BY DESIGN, which is
what makes it nearly free:

  - months wholly before the cutoff: the directory is unlinked --
    no data file is opened, the cost is one metadata operation per
    partition regardless of its size (at 100 TB, dropping a 2 TB
    month costs the same as a 2 MB one);
  - the ONE month the cutoff date falls inside: a copy-on-write
    rewrite of that single partition keeping rows >= the cutoff
    (tablefmt's in-place partition swap, scoped to one partition);
  - every younger month: untouched, byte-identical.

Both halves ride in the driver row, the merge.py pattern: the oracle
reconstructs the retained table relationally (a row surviving past
the cutoff, a live row dropped with its partition, or a boundary row
mis-filtered all break the per-priority checksums; `n_dropped_months`
is re-derived by the oracle from the date domain), and the layout
booleans carry the physical proof -- `dropped_without_read` (expired
dirs were unlinked, and neither the engine nor the fact computation
ever opens a file inside them: the inventory is scoped to young
months, and pytest plants a root-proof read trap -- an expired "file"
that is really a directory, which errors ANY read attempt even under
root's DAC_OVERRIDE -- before enforcement), `untouched_preserved`
(every younger month byte-identical, both directions), and
`boundary_rewritten` (exactly one partition got new files).

Scale shape: one filtered read + write of the boundary partition;
driver-side metadata for everything else. The per-run scratch copy is
harness isolation (the lane mutates its table), same as merge.py.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark import tablefmt
from discogs_xml_to_parquet_spark.functions.exact import dsum, rev_sql
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import work_dir as _work_dir
from discogs_xml_to_parquet_spark.tablefmt import (
    _inventory,
    _link_or_copy,
    staged_partitioned_orders,
)

_CUTOFF = "1998-07-15"          # retain o_orderdate >= this
_CUTOFF_MONTH = "1998-07"       # the partition the cutoff cuts through


def _inventory_young(table: str) -> dict[str, tuple[int, str]]:
    """tablefmt's _inventory restricted to the partitions the policy
    must NOT touch (months after the boundary). Restricting it is
    load-bearing twice over: inventorying the whole table would (a)
    md5-read every EXPIRED byte driver-side, falsifying the lane's
    no-read claim in substance even though the engine never scans
    them, and (b) cost O(table) in a lane whose point is
    O(1)+O(boundary)."""
    out: dict[str, tuple[int, str]] = {}
    for d in Path(table).glob("o_month=*"):
        if d.is_dir() and d.name.split("=", 1)[1] > _CUTOFF_MONTH:
            for rel, v in _inventory(str(d)).items():
                out[f"{d.name}/{rel}"] = v
    return out


def enforce_ttl(spark: SparkSession, table: str) -> dict:
    """Apply the retention policy to the o_month-partitioned table at
    `table`, in place. Returns the layout facts."""
    months = sorted(
        d.name for d in Path(table).glob("o_month=*") if d.is_dir())
    expired = [m for m in months
               if m.split("=", 1)[1] < _CUTOFF_MONTH]
    boundary = f"o_month={_CUTOFF_MONTH}"
    before_young = _inventory_young(table)

    # 1. whole expired partitions: unlink, never read
    for m in expired:
        shutil.rmtree(Path(table) / m)

    # 2. the boundary partition: copy-on-write rewrite of ONE dir
    boundary_rewritten = False
    if boundary in months:
        kept = (
            spark.read.option("basePath", table)
            .parquet(f"{table}/{boundary}")
            .filter(F.col("o_orderdate")
                    >= F.lit(_CUTOFF).cast("timestamp"))
        )
        tablefmt.swap_partitions(table, kept, ["o_month"],
                                 listed=[boundary])
        boundary_rewritten = True

    after_young = _inventory_young(table)
    return {
        "n_dropped_months": len(expired),
        # no file under an expired dir was ever opened -- pytest
        # proves it mechanically with a root-proof trap (an expired
        # "file" that is really a directory errors ANY read, even
        # under DAC_OVERRIDE)
        "dropped_without_read": all(
            not (Path(table) / m).exists() for m in expired),
        # full-dict equality, both directions: a changed young file
        # AND a stray new one both flip it (merge.py's discipline)
        "untouched_preserved": before_young == after_young,
        "boundary_rewritten": boundary_rewritten,
    }


_REV_SQL = rev_sql("o_totalprice")


@query(
    "q_retention_ttl",
    oracle=f"""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_live,
       {_REV_SQL} AS total_price,
       (SELECT CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS
                TIMESTAMP), '%Y-%m')) AS BIGINT) FROM orders
        WHERE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
              < '{_CUTOFF_MONTH}') AS n_dropped_months,
       TRUE AS dropped_without_read,
       TRUE AS untouched_preserved,
       TRUE AS boundary_rewritten
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_CUTOFF}'
GROUP BY 1
ORDER BY 1
""",
)
def q_retention_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL enforcement round trip: everything before 1998-07-15 is
    expired -- ~42 whole months unlink as metadata, the single
    1998-07 partition is rewritten keeping its tail, younger months
    stay byte-identical -- then the WHOLE retained table is
    checksummed per priority against the relational reconstruction.
    `n_dropped_months` is re-derived by the oracle from the date
    domain, so dropping one partition too few or too many breaks the
    row even before the checksums do."""
    base = staged_partitioned_orders(spark, sf_dir)
    scratch = _work_dir("ttl_scratch", sf_dir)
    # hardlink clone; expired dirs are unlinked, never written through,
    # and test_ttl's base-inventory check pins the base's inodes
    shutil.copytree(base, scratch, copy_function=_link_or_copy)
    facts = enforce_ttl(spark, scratch)
    return (
        spark.read.parquet(scratch)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .withColumn("n_dropped_months",
                    F.lit(facts["n_dropped_months"]).cast("bigint"))
        .withColumn("dropped_without_read",
                    F.lit(bool(facts["dropped_without_read"])))
        .withColumn("untouched_preserved",
                    F.lit(bool(facts["untouched_preserved"])))
        .withColumn("boundary_rewritten",
                    F.lit(bool(facts["boundary_rewritten"])))
        .orderBy("priority")
    )
