"""Transactional streaming MERGE sink: a checkpointed changelog
stream applies NON-idempotent updates (price increments) to a
partitioned table through foreachBatch, exactly once across a
kill/resume -- the Delta `txnAppId`/`txnVersion` idempotent-sink
pattern built from the repo's own versioned manifests.

Structured Streaming's foreachBatch contract is AT-LEAST-ONCE: after
a crash, the first uncommitted batch is REPLAYED with the same
batchId. For an append sink the file-sink transaction log absorbs
that (q_stream_restart); for a MERGE sink the sink itself must be
transactional, because re-applying an increment corrupts state (+10
becomes +20) -- the exact failure this lane's oracle would catch.
The mechanism, shared with every real table format: the applied
batchId set (`_applied.json`) travels INSIDE the version manifest, so
data + log commit in ONE tablefmt version publish. A batchId the
current version already lists is SKIPPED (the replay gate); otherwise
the batch's months are rewritten (broadcast join on the delta keys,
+10.00 / status 'U') into the next version. A crash before the
`_current` flip leaves an orphan version dir and an unchanged table;
the replay's publish replaces the orphan -- never a double apply.

The changelog shards are TIME-ALIGNED (one file per quarter of the
1995-01..1996-06 update window, disjoint keys by construction), so
each micro-batch rewrites only its quarter's months and the final
state is independent of batch boundaries -- run 2 coalescing several
late shards into one batch is equivalent by design.

The harness mirrors q_stream_restart: run 1 sees 3 of 6 shards,
batch-per-file, and is KILLED at its first commit; the remaining
shards land; run 2 resumes from the same checkpoint (replaying any
in-flight batch into the transactional sink -- the skip gate's
moment) and drains. The oracle reconstructs the fully-updated table
relationally: a lost batch (missing +10s), a double-applied one
(+20s), or a survivor dropped by the partition rewrite all break the
per-month checksums. In-lane guards pin that the applied set is
duplicate-free and exactly matches the version chain, and that the
stream WAL was extended, never rewritten.

Scale shape: per batch, cost is O(affected partitions' bytes) +
O(delta) (broadcast keys, no base shuffle) + one metadata flip;
recovery is O(one batch replay) regardless of history; the version
chain is the same reference-counted structure q_vacuum_retention
reclaims.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark import tablefmt
from discogs_xml_to_parquet_spark.functions.exact import dsum, rev_sql
from discogs_xml_to_parquet_spark.queries.streaming_restart import (
    _commit_blobs,
    _committed_batches,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import (
    source_fingerprint as _source_fingerprint,
    staged as _staged,
    work_dir as _work_dir,
)
from discogs_xml_to_parquet_spark.tablefmt import staged_partitioned_orders
from discogs_xml_to_parquet_spark.tables import load

_UPD_MOD = 3
_WIN_LO, _WIN_HI = "1995-01-01", "1996-07-01"   # six quarters
_QUARTERS = [("1995-01-01", "1995-04-01"), ("1995-04-01", "1995-07-01"),
             ("1995-07-01", "1995-10-01"), ("1995-10-01", "1996-01-01"),
             ("1996-01-01", "1996-04-01"), ("1996-04-01", "1996-07-01")]
_FIRST_SHARDS = 3
_DRAIN_TIMEOUT_SEC = 600
_VERSION = 1
_DELTA_SCHEMA = "o_orderkey BIGINT, o_month STRING"
_PART = ["o_month"]


def staged_delta_shards(spark: SparkSession, sf_dir: str) -> str:
    """The update changelog as six time-aligned files: shard q{i}
    holds the keys (o_orderkey % 3 == 0) of quarter i -- disjoint
    keys, quarter-local months. Built once per container."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = _source_fingerprint(sf_dir, "orders.parquet")

    def build(tmp: str) -> None:
        o = load(spark, sf_dir, "orders")
        for i, (lo, hi) in enumerate(_QUARTERS):
            part = (
                o.filter(
                    (F.col("o_orderkey") % _UPD_MOD == 0)
                    & (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
                )
                .select(
                    "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM")
                    .alias("o_month"),
                )
                .coalesce(1)
            )
            sub = Path(tmp) / f"_build_q{i}"
            part.write.mode("overwrite").parquet(str(sub))
            (src,) = sub.glob("part-*.parquet")
            shutil.move(str(src), str(Path(tmp) / f"q{i}.parquet"))
            shutil.rmtree(sub)

    return _staged(
        f"spark_graft_smdelta_v{_VERSION}_{slug}_{fp}", build
    )


def _applied_meta(applied: list[int]) -> dict[str, str]:
    return {"_applied.json": json.dumps({"applied": applied})}


def init_table(spark: SparkSession, sf_dir: str, root: Path) -> None:
    """v0: pointer manifest over the shared staged base + an empty
    applied set; `_current` -> v0."""
    tablefmt.init_version(root, staged_partitioned_orders(spark, sf_dir),
                          _PART, meta=_applied_meta([]))


def _current_version(root: Path) -> tuple[str, list[int]]:
    cur = tablefmt.current_version(root)
    meta = json.loads((root / cur / "_applied.json").read_text())
    return cur, meta["applied"]


def apply_batch(spark: SparkSession, root: Path,
                batch_df: DataFrame, batch_id: int) -> str:
    """One transactional MERGE: skip if this batchId already committed
    (the at-least-once replay gate), else publish the batch's months
    as the next version with the applied set in its manifest -- data
    and the applied set commit in one `_current` flip. Returns
    'skipped' or the new version name."""
    cur, applied = _current_version(root)
    if batch_id in applied:
        return "skipped"
    # learn the batch's months from a filesystem listing of its own
    # partitioned spill (no driver-side collect -- merge.py's rule);
    # the lane's designed mid-batch kill interrupts this near-every
    # run, so the spill lives in a scratch freed on every exit
    with tablefmt.scratch_dir(root) as spill:
        batch_df.write.mode("overwrite").partitionBy(*_PART).parquet(
            str(spill))
        months = [m.split("=", 1)[1]
                  for m in tablefmt.partitions(spill, _PART)]
        merged = spark.read.parquet(str(root / cur)).filter(
            F.col("o_month").isin(months))
        if months:   # an empty batch commits only metadata
            keys = spark.read.parquet(str(spill)).select(
                "o_orderkey").withColumn("_hit", F.lit(True))
            merged = (
                merged.join(F.broadcast(keys), "o_orderkey", "left")
                .select(
                    "o_orderkey", "o_custkey",
                    F.when(F.col("_hit"), F.lit("U"))
                    .otherwise(F.col("o_orderstatus"))
                    .alias("o_orderstatus"),
                    F.when(F.col("_hit"), F.col("o_totalprice") + 10.0)
                    .otherwise(F.col("o_totalprice"))
                    .alias("o_totalprice"),
                    "o_orderdate", "o_orderpriority", "o_month",
                )
            )
        return tablefmt.publish_version(
            root, merged, _PART, meta=_applied_meta(applied + [batch_id]))


def run_merge_sink_lane(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Execute the kill/resume cycle against the transactional sink;
    returns (final table read through `_current`, facts)."""
    import time

    shards = sorted(Path(staged_delta_shards(spark, sf_dir))
                    .glob("q*.parquet"))
    if len(shards) != len(_QUARTERS):
        raise RuntimeError(f"expected {len(_QUARTERS)} delta shards, "
                           f"found {shards}")
    run_root = Path(_work_dir("stream_merge", sf_dir))
    run_root.mkdir()
    src = run_root / "src"
    src.mkdir()
    table = run_root / "table"
    ckpt = str(run_root / "ckpt")
    init_table(spark, sf_dir, table)
    for p in shards[:_FIRST_SHARDS]:
        shutil.copy(p, src / p.name)

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(spark, table, batch_df, batch_id)

    def start(max_files: int | None):
        r = spark.readStream.schema(_DELTA_SCHEMA)
        if max_files is not None:
            r = r.option("maxFilesPerTrigger", max_files)
        return (
            r.parquet(str(src))
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start(max_files=1)
    deadline = time.monotonic() + _DRAIN_TIMEOUT_SEC
    while q1.isActive and not _committed_batches(ckpt):
        if time.monotonic() > deadline:
            q1.stop()
            raise RuntimeError("merge-sink lane run 1: no commit within "
                               f"{_DRAIN_TIMEOUT_SEC}s")
        time.sleep(0.01)
    q1.stop()
    q1.awaitTermination()
    run1 = _committed_batches(ckpt)
    run1_blobs = _commit_blobs(ckpt)

    for p in shards[_FIRST_SHARDS:]:
        shutil.copy(p, src / p.name)

    q2 = start(max_files=None)
    if not q2.awaitTermination(_DRAIN_TIMEOUT_SEC):
        q2.stop()
        raise RuntimeError("merge-sink lane run 2 did not finish within "
                           f"{_DRAIN_TIMEOUT_SEC}s")
    total = _committed_batches(ckpt)
    blobs2 = _commit_blobs(ckpt)
    rewritten = [i for i, b in run1_blobs.items() if blobs2.get(i) != b]
    if total[:len(run1)] != run1 or rewritten:
        raise RuntimeError(
            f"stream WAL violated: run1={run1} total={total} "
            f"rewritten={rewritten}")
    cur, applied = _current_version(table)
    if len(applied) != len(set(applied)):
        raise RuntimeError(f"batch applied twice: {applied}")
    if sorted(applied) != total:
        raise RuntimeError(
            f"sink txn log disagrees with stream WAL: applied={applied} "
            f"committed={total}")
    facts = {
        "applied": applied,
        "versions": cur,
        "batches_applied_once": len(applied) == len(set(applied)),
        "sink_matches_wal": sorted(applied) == total,
    }
    return spark.read.parquet(str(table / cur)), facts


_REV_SQL = rev_sql("o_totalprice")


@query(
    "q_stream_merge_sink",
    oracle=f"""
WITH final AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month,
         CASE WHEN o_orderkey % {_UPD_MOD} = 0
                   AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
                   AND o_orderdate < TIMESTAMP '{_WIN_HI}'
              THEN o_totalprice + 10.0 ELSE o_totalprice
         END AS o_totalprice,
         CASE WHEN o_orderkey % {_UPD_MOD} = 0
                   AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
                   AND o_orderdate < TIMESTAMP '{_WIN_HI}'
              THEN 'U' ELSE o_orderstatus
         END AS o_orderstatus
  FROM orders
)
SELECT o_month,
       COUNT(*) AS n_rows,
       {_REV_SQL} AS revenue,
       COUNT(*) FILTER (WHERE o_orderstatus = 'U') AS n_updated,
       TRUE AS batches_applied_once,
       TRUE AS sink_matches_wal
FROM final
GROUP BY 1
ORDER BY 1
""",
)
def q_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE with a kill mid-stream: six quarterly update
    shards drain through a foreachBatch sink that rewrites only each
    batch's month partitions and commits data + the applied-batchId
    set in one atomic manifest flip; the stream is killed at its
    first commit and resumed after the late shards land. The final
    table, read through `_current`, must equal the relational
    reconstruction of ALL updates applied EXACTLY once -- a replayed
    increment (+20), a lost batch, or a dropped survivor each break
    the per-month checksums. The booleans pin the sink txn log:
    duplicate-free and exactly the stream WAL's committed set."""
    result, facts = run_merge_sink_lane(spark, sf_dir)
    return (
        result.groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.when(F.col("o_orderstatus") == "U", 1)).alias(
                "n_updated"),
        )
        .withColumn("batches_applied_once",
                    F.lit(bool(facts["batches_applied_once"])))
        .withColumn("sink_matches_wal",
                    F.lit(bool(facts["sink_matches_wal"])))
        .orderBy("o_month")
    )
