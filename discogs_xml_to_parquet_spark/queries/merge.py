"""Copy-on-write MERGE (upsert) into a partitioned table, rewriting
only the partitions the delta touches.

The production shape behind every lakehouse MERGE INTO: a partitioned
base table receives a batch of updates + inserts whose keys fall in a
known partition range (here: a backfill window, 1995-H1 -- in Delta /
Iceberg the range comes from the delta's file statistics). The engine
must NOT rewrite the table; it must

  1. read ONLY the affected partitions (static partition pruning on
     the partition column -- at 100 TB this is the difference between
     scanning 6 months and scanning 80),
  2. anti-join the survivors against the delta keys with the delta
     BROADCAST (a MERGE delta is update-batch-sized, never
     fact-sized),
  3. write the merged partitions as NEW files and commit by
     tablefmt's in-place partition swap (directory renames) -- rows
     in untouched partitions are never read, never rewritten, and
     their files stay byte-identical.

Both halves of the contract ride in the driver row: the relational
oracle reconstructs the merged table from `orders` in pure SQL (so a
dropped survivor, a double-applied update, or a lost insert breaks
the hash), and the layout booleans carry the copy-on-write proof --
`untouched_preserved` (every file outside the affected months is
byte-identical, none added or removed) and `affected_rewritten`
(every affected month's file set was fully replaced).

Scale shape: the only data pass is over the AFFECTED partitions
(plan-gated PartitionFilters in tests/test_merge.py); the anti-join
is a BroadcastHashJoin LeftAnti (no shuffle of the base); the commit
is driver-side metadata. Cost is O(affected bytes) + O(delta), never
O(table). The per-run scratch copy of the staged base is harness
isolation only (the lane mutates its table; staged artifacts are
build-once-shared), not part of the operator's cost model.

SCD2 (queries/scd.py) and CDC compaction (queries/cdc.py) cover the
*semantic* merge variants; this lane is the *physical* one -- which
files a MERGE may touch.

Measured at sf0.1 (150k orders, 80 month partitions, local[16]):
the COW merge writes 0.2 MB across 6 partitions vs 2.5 MB for a
naive full-table rewrite of the same upsert -- 12.5x less I/O, the
ratio that scales (affected/total partitions); wall clock at this
toy scale is scheduling-bound and the full rewrite's single job even
wins it (1.9 s vs 2.8 s), exactly the fixed-cost regime README's
scaling section documents for sub-second queries. The manifest-
pruned diff routes 12k rows through its full-outer join vs 148k for
a diff of all 80 months (1.3 s vs 1.7 s) -- at 100 TB those row and
byte ratios are the whole cost model.
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
from discogs_xml_to_parquet_spark.tables import load

_UPD_MOD = 7             # update keys: o_orderkey % 7 == 0 in-window
_INS_MOD = 13            # insert seeds: o_orderkey % 13 == 0 in-window
# Insert keys are seed keys offset by 1 + MAX(o_orderkey), derived
# from the DATA (broadcast 1-row scalar, same subquery in the oracle):
# a fixed literal offset collided with the 10x corpus's 1e8-spaced
# shard keys, silently turning inserts into updates -- caught by
# q_table_diff's 10x lane, where the "inserts" classified as changed.
_INS_OFFSET_SQL = "1 + (SELECT MAX(o_orderkey) FROM orders)"
_WIN_LO, _WIN_HI = "1995-01-01", "1995-07-01"   # delta backfill window
_MONTH_LO, _MONTH_HI = "1995-01", "1995-06"     # its partition range
_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority", "o_month"]
_PART = ["o_month"]
_REV = rev_sql("o_totalprice")   # the shared oracle-side dsum mirror


def delta_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE source: deterministic updates (+10.00 price, status
    'U') and inserts (offset keys, status 'I') confined to the
    1995-H1 backfill window, derived from the live orders table so
    the DuckDB oracle can re-derive it in SQL."""
    o = load(spark, sf_dir, "orders")
    win = (
        (F.col("o_orderdate") >= F.lit(_WIN_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_WIN_HI).cast("timestamp"))
    )
    ins_base = o.agg((F.max("o_orderkey") + 1).alias("_ins_base"))
    upd = o.filter(win & (F.col("o_orderkey") % _UPD_MOD == 0)).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(10.0)).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    ins = (
        o.filter(win & (F.col("o_orderkey") % _INS_MOD == 0))
        .crossJoin(F.broadcast(ins_base))
        .select(
            (F.col("o_orderkey") + F.col("_ins_base")).alias("o_orderkey"),
            "o_custkey",
            F.lit("I").alias("o_orderstatus"),
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    return upd.unionByName(ins).withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM"))


def affected_read(spark: SparkSession, scratch: str) -> DataFrame:
    """The pruned base read: only the delta's partition range. The
    month predicate is on the PARTITION column, so the scan carries
    PartitionFilters and never opens the other ~74 month dirs
    (plan-gated in tests/test_merge.py)."""
    return spark.read.parquet(scratch).filter(
        (F.col("o_month") >= _MONTH_LO) & (F.col("o_month") <= _MONTH_HI))


def merged_affected(window_read: DataFrame,
                    delta: DataFrame) -> DataFrame:
    """The MERGE dataflow shared by the in-place swap and the
    versioned publish: restrict the statically-pruned window read to
    the delta's months (broadcast semi join -- the delta-stats
    pruning level), drop rows the delta replaces (broadcast
    LeftAnti), union the delta in."""
    delta_months = delta.select("o_month").distinct()
    survivors = (
        window_read
        .join(F.broadcast(delta_months), on="o_month", how="left_semi")
        .join(F.broadcast(delta.select("o_orderkey")),
              on="o_orderkey", how="left_anti")
    )
    return survivors.select(*_COLS).unionByName(delta.select(*_COLS))


def merge_upsert(spark: SparkSession, scratch: str,
                 delta: DataFrame) -> list[str]:
    """Execute the copy-on-write MERGE against the table at `scratch`
    in place (tablefmt.swap_partitions). Returns the list of swapped
    partition dir names.

    The rewrite set is DELTA-DRIVEN: the statically-pruned window
    read is further restricted (broadcast semi join) to the months
    the delta actually touches, so a window month with no delta rows
    -- and in the limit an EMPTY delta -- is never rewritten
    (pytest: test_merge_empty_delta_is_noop). This is the two-level
    pruning a real MERGE runs: coarse static range from the job spec,
    exact partition set from the delta's own stats."""
    merged = merged_affected(affected_read(spark, scratch), delta)
    return tablefmt.swap_partitions(scratch, merged, _PART,
                                    check=_check_months_in_window)


def _month_of(relpath: str) -> str:
    return relpath.split("/", 1)[0]


def _check_months_in_window(months: list[str]) -> None:
    """Abort (before anything is swapped or published) if the merged
    write produced a partition OUTSIDE affected_read's static window:
    such a partition holds ONLY delta rows -- its pre-existing base
    rows were pruned away, so committing it would silently destroy
    them (ADVICE r10)."""
    bad = [m for m in months
           if not (_MONTH_LO <= m.split("=", 1)[1] <= _MONTH_HI)]
    if bad:
        raise ValueError(
            f"merge delta touches months {bad} outside the pruned read "
            f"window [{_MONTH_LO}, {_MONTH_HI}]; committing would drop "
            "every pre-existing row of those partitions -- widen the "
            "window or split the delta")


def run_merge(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Stage base, copy a per-run scratch table, MERGE, and audit the
    file inventory. Returns (scratch dir, layout facts)."""
    base = staged_partitioned_orders(spark, sf_dir)
    scratch = _work_dir("merge_scratch", sf_dir)
    # hardlink clone (0.74 s of the sf1 wall as a byte copy); the
    # untouched_preserved boolean pins that the base's inodes survive
    shutil.copytree(base, scratch, copy_function=_link_or_copy)
    before = _inventory(scratch)
    months = merge_upsert(spark, scratch, delta_frame(spark, sf_dir))
    after = _inventory(scratch)
    window = set(months)
    out_b = {r: v for r, v in before.items()
             if _month_of(r) not in window}
    out_a = {r: v for r, v in after.items()
             if _month_of(r) not in window}
    in_b = {r for r in before if _month_of(r) in window}
    in_a = {r for r in after if _month_of(r) in window}
    facts = {
        "months": months,
        # untouched partitions: identical file set, sizes, and bytes
        "untouched_preserved": out_b == out_a,
        # affected partitions: completely new files, every month
        # in the delta's range that exists in base was swapped
        "affected_rewritten": (
            bool(in_a) and not (in_b & in_a)
            and all(_MONTH_LO <= m.split("=", 1)[1] <= _MONTH_HI
                    for m in months)
        ),
    }
    return scratch, facts


@query(
    "q_merge_upsert",
    oracle=f"""
WITH delta AS (
  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
         'U' AS o_orderstatus,
         strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month
  FROM orders
  WHERE o_orderkey % {_UPD_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
  UNION ALL
  SELECT o_orderkey + {_INS_OFFSET_SQL}, o_totalprice, 'I',
         strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
  FROM orders
  WHERE o_orderkey % {_INS_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
),
merged AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month,
         o_totalprice, o_orderstatus
  FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
  UNION ALL
  SELECT o_month, o_totalprice, o_orderstatus FROM delta
)
SELECT o_month,
       COUNT(*) AS n_rows,
       {_REV} AS revenue,
       COUNT(*) FILTER (WHERE o_orderstatus = 'U') AS n_updated,
       COUNT(*) FILTER (WHERE o_orderstatus = 'I') AS n_inserted,
       TRUE AS untouched_preserved,
       TRUE AS affected_rewritten
FROM merged
GROUP BY 1
ORDER BY 1
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE round trip: the o_month-partitioned orders
    table absorbs a 1995-H1 update+insert delta by rewriting ONLY the
    six affected month partitions, then the WHOLE merged table is
    checksummed per month against the SQL reconstruction -- a row
    dropped from an untouched month, a survivor lost to the
    anti-join, a double-applied update, or a missing insert all break
    the hash. The booleans carry the layout half of the contract:
    `untouched_preserved` = every file outside the affected months is
    byte-identical (none added, removed, or rewritten), and
    `affected_rewritten` = every affected month's file set was fully
    replaced and stayed inside the delta's partition range."""
    scratch, facts = run_merge(spark, sf_dir)
    return (
        spark.read.parquet(scratch)
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            F.count(F.when(F.col("o_orderstatus") == "U", 1)).alias(
                "n_updated"),
            F.count(F.when(F.col("o_orderstatus") == "I", 1)).alias(
                "n_inserted"),
        )
        .withColumn("untouched_preserved",
                    F.lit(bool(facts["untouched_preserved"])))
        .withColumn("affected_rewritten",
                    F.lit(bool(facts["affected_rewritten"])))
        .orderBy("o_month")
    )


# --- time travel: versioned manifests over the same COW merge --------

def versioned_merge(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """The MERGE as a real table format runs it (the versioned layout
    of tablefmt): v0 is a manifest of pointers over the staged base,
    and the merge publishes v1, which holds NEW dirs for the affected
    months and points at THE SAME dirs as v0 for everything else;
    `_current` flips to v1 while old readers keep v0.

    What this buys at 100 TB: storage for a new version is O(affected
    bytes) (`n_shared` months cost nothing -- pinned by symlink
    identity), publish is one metadata rename, and time travel /
    snapshot isolation fall out: v0 remains a complete, immutable,
    readable table. Returns (table root, facts)."""
    base = staged_partitioned_orders(spark, sf_dir)
    table = Path(_work_dir("ttable", sf_dir))
    tablefmt.init_version(table, base, _PART)
    v0 = table / "v0"
    merged = merged_affected(affected_read(spark, str(v0)),
                             delta_frame(spark, sf_dir))
    v1 = table / tablefmt.publish_version(table, merged, _PART)
    months = tablefmt.partitions(v0, _PART)
    shared = [m for m in months if (v1 / m).is_symlink()]
    facts = {
        "rewritten": [m for m in months if m not in shared],
        "n_shared": len(shared),
        # storage sharing: every untouched month in v1 resolves to the
        # exact directory v0 reads -- zero new bytes for those months
        "storage_shared": all(
            (v1 / m).resolve() == (v0 / m).resolve() for m in shared),
        # snapshot isolation: v0 still lists every month as before
        "v0_intact": months == tablefmt.partitions(base, _PART),
        "current": tablefmt.current_version(table),
    }
    return str(table), facts


@query(
    "q_time_travel",
    oracle=f"""
WITH delta AS (
  SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice,
         'U' AS o_orderstatus
  FROM orders
  WHERE o_orderkey % {_UPD_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
  UNION ALL
  SELECT o_orderkey + {_INS_OFFSET_SQL}, o_totalprice, 'I'
  FROM orders
  WHERE o_orderkey % {_INS_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
),
merged AS (
  SELECT o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
  UNION ALL
  SELECT o_totalprice, o_orderstatus FROM delta
)
SELECT 'v0' AS version, COUNT(*) AS n_rows,
       {_REV} AS revenue,
       0 AS n_changed, TRUE AS storage_shared, TRUE AS v0_intact
FROM orders
UNION ALL
SELECT 'v1', COUNT(*),
       {_REV},
       COUNT(*) FILTER (WHERE o_orderstatus IN ('U', 'I')),
       TRUE, TRUE
FROM merged
ORDER BY version
""",
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation over the COW merge: version v0 (the
    pre-merge table) and version v1 (post-merge, resolved through the
    `_current` pointer) are BOTH read back and checksummed -- v0
    against the raw orders table (time travel must see the world
    before the merge), v1 against the SQL-reconstructed merged table.
    The booleans pin the format properties: `storage_shared` = every
    untouched month in v1 resolves to v0's exact directory (new
    version costs O(affected) bytes), `v0_intact` = the old manifest
    still lists every partition."""
    table, facts = versioned_merge(spark, sf_dir)
    cur = facts["current"]

    def snap(version: str, tag: str) -> DataFrame:
        return (
            spark.read.parquet(str(Path(table) / version))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("o_totalprice")).alias("revenue"),
                F.count(F.when(
                    F.col("o_orderstatus").isin("U", "I"), 1)).alias(
                        "n_changed"),
            )
            .withColumn("version", F.lit(tag))
        )

    return (
        snap("v0", "v0").unionByName(snap(cur, "v1"))
        .withColumn("storage_shared",
                    F.lit(bool(facts["storage_shared"])))
        .withColumn("v0_intact", F.lit(bool(facts["v0_intact"])))
        .select("version", "n_rows", "revenue", "n_changed",
                "storage_shared", "v0_intact")
        .orderBy("version")
    )


# --- table diff: change data feed from the manifest diff -------------

def manifest_diff(table: str) -> tuple[list[str], list[str]]:
    """Driver-side metadata pass: which partitions CAN differ between
    v0 and v1? Exactly those whose manifest entries resolve to
    different directories -- under copy-on-write, a shared pointer is
    a proof of byte-equality, so the diff never has to read those
    partitions at all. Returns (differing months, shared months)."""
    t = Path(table)
    months = sorted(p.name for p in (t / "v0").glob("o_month=*"))
    diff, same = [], []
    for m in months:
        a, b = (t / "v0" / m).resolve(), (t / "v1" / m).resolve()
        (diff if a != b else same).append(m)
    return diff, same


def snapshot_diff(spark: SparkSession, table: str,
                  months: list[str]) -> DataFrame:
    """The data pass of the diff, restricted to the months the
    manifest diff named: full-outer join v0 x v1 on the key within
    those partitions only, classifying each key as added / removed /
    changed (any non-key column differs) / unchanged. At 100 TB this
    is the whole trick: the join is over O(affected) bytes, and the
    change classification is a row-local struct compare."""
    if not months:
        # a no-op delta diffs to nothing: every partition's pointers
        # coincide, manifest_diff names no months, and there is
        # nothing to read (ADVICE r10: min() of an empty sequence)
        return spark.createDataFrame(
            [], "o_month string, change string")
    keys = [m.split("=", 1)[1] for m in months]
    lo, hi = min(keys), max(keys)

    def side(version: str, tag: str) -> DataFrame:
        df = spark.read.parquet(str(Path(table) / version)).filter(
            (F.col("o_month") >= lo) & (F.col("o_month") <= hi)
        ).filter(F.col("o_month").isin(keys))
        return df.select(
            "o_orderkey", "o_month",
            F.struct(*(c for c in _COLS
                       if c not in ("o_orderkey", "o_month"))).alias(tag),
        )
    old = side("v0", "old")
    new = side("v1", "new")
    return (
        old.join(new, on=["o_orderkey", "o_month"], how="full_outer")
        .select(
            "o_month",
            F.when(F.col("old").isNull(), F.lit("added"))
            .when(F.col("new").isNull(), F.lit("removed"))
            .when(F.col("old") != F.col("new"), F.lit("changed"))
            .otherwise(F.lit("unchanged")).alias("change"),
        )
    )


@query(
    "q_table_diff",
    oracle=f"""
WITH months AS (
  SELECT DISTINCT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
           AS o_month
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
    AND (o_orderkey % {_UPD_MOD} = 0 OR o_orderkey % {_INS_MOD} = 0)
),
classified AS (
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS o_month,
         CASE WHEN o_orderkey % {_UPD_MOD} = 0 THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM orders
  WHERE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m')
          IN (SELECT o_month FROM months)
  UNION ALL
  SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m'), 'added'
  FROM orders
  WHERE o_orderkey % {_INS_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
)
SELECT o_month, change, COUNT(*) AS n_keys, TRUE AS metadata_pruned
FROM classified
GROUP BY o_month, change
ORDER BY o_month, change
""",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two published snapshots, driven by
    the MANIFEST diff: partitions whose v0/v1 pointers resolve to the
    same directory are byte-equal by construction and never read;
    only the differing months pay a full-outer key join, whose rows
    are classified added / removed / changed / unchanged and counted
    per month. The oracle reconstructs the expected feed from the
    delta definition (updates -> changed, inserts -> added, window
    survivors -> unchanged, nothing removed), so a key mis-classified,
    lost, or duplicated by the diff breaks the hash;
    `metadata_pruned` pins that the manifest diff named ONLY months
    inside the delta's range (every shared month skipped)."""
    table, _ = versioned_merge(spark, sf_dir)
    diff_months, shared = manifest_diff(table)
    # every differing month inside the delta's range, and most of the
    # table proven byte-equal without reading it
    pruned = (
        bool(diff_months)
        and all(_MONTH_LO <= m.split("=", 1)[1] <= _MONTH_HI
                for m in diff_months)
        and len(shared) > len(diff_months)
    )
    return (
        snapshot_diff(spark, table, diff_months)
        .groupBy("o_month", "change")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .withColumn("metadata_pruned", F.lit(bool(pruned)))
        .orderBy("o_month", "change")
    )


# --- retention: multi-generation publish + reference-counted VACUUM --

def publish_next_version(spark: SparkSession, table: str,
                         delta: DataFrame) -> str:
    """Apply `delta` on top of the CURRENT version and publish the
    result as the next manifest: new directories for the months the
    delta touches, pointers to the previous version's targets for
    everything else, `_current` flipped atomically. Generalizes the
    v0->v1 step of versioned_merge to any chain length -- each
    generation costs O(its affected months), and every historical
    version stays a complete readable table until vacuumed."""
    prev = Path(table) / tablefmt.current_version(table)
    merged = merged_affected(affected_read(spark, str(prev)), delta)
    return tablefmt.publish_version(table, merged, _PART,
                                    check=_check_months_in_window)


def delta2_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SECOND deterministic delta for the multi-generation chain:
    +5.00 price, status 'V', keys % 11 == 0, confined to 1995-Q2 --
    a NARROWER window than delta_frame's H1, so v2 re-rewrites a
    subset of v1's months (04-06) and shares the rest (01-03): the
    shape that gives VACUUM both branches to prove (unreferenced
    first-generation dirs die, still-referenced ones outlive their
    snapshot). Derived from the live orders table so the DuckDB
    oracle re-derives it in SQL."""
    o = load(spark, sf_dir, "orders")
    win = (
        (F.col("o_orderdate") >= F.lit(_WIN2_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_WIN_HI).cast("timestamp"))
    )
    return (
        o.filter(win & (F.col("o_orderkey") % _UPD2_MOD == 0))
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("V").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(5.0)).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
    )


_UPD2_MOD = 11
_WIN2_LO = "1995-04-01"


def _snapshot_inventory(vdir: Path) -> dict[str, tuple[int, str]]:
    """Resolved file inventory of one version manifest: every data
    file each month pointer leads to, keyed by month/name -- the
    byte-level identity of the SNAPSHOT (not of the manifest dir,
    whose entries may be pointers). Reuses _inventory per resolved
    month dir so the hidden-file and hashing rules cannot drift."""
    out: dict[str, tuple[int, str]] = {}
    for m in sorted(vdir.glob("o_month=*")):
        for rel, fp in _inventory(str(m.resolve())).items():
            out[f"{m.name}/{rel}"] = fp
    return out


def run_retention(spark: SparkSession, sf_dir: str) -> tuple[str, dict]:
    """Build the 3-generation chain (v0 base manifest, v1 = delta1's
    H1 merge, v2 = delta2's Q2 merge on top), vacuum with
    keep=[v0, v2], and audit what retention must and must not do.
    Returns (table root, facts):

    - bytes_reclaimed > 0: exactly v1's own copies of the months v2
      re-rewrote (04-06) are unreferenced and die;
    - kept_intact: the RESOLVED file inventories of v0 and v2 are
      byte-identical across the vacuum -- including v1-generation
      dirs that v2 still points at (01-03): a data file outlives the
      snapshot that created it until no kept manifest references it;
    - expired_unreadable: v1 can no longer serve its snapshot (its
      month set shrank -- pointers stripped, unreferenced dirs gone).
    """
    table, _ = versioned_merge(spark, sf_dir)
    publish_next_version(spark, str(table), delta2_frame(spark, sf_dir))
    t = Path(table)
    keep_before = {v: _snapshot_inventory(t / v) for v in ("v0", "v2")}
    v1_months_before = sorted(
        p.name for p in (t / "v1").glob("o_month=*"))
    vfacts = vacuum(table, keep=["v0", "v2"])
    keep_after = {v: _snapshot_inventory(t / v) for v in ("v0", "v2")}
    v1_months_after = sorted(
        p.name for p in (t / "v1").glob("o_month=*")
    ) if (t / "v1").exists() else []
    facts = {
        "bytes_reclaimed": vfacts["bytes_reclaimed"],
        "deleted_dirs": vfacts["deleted_dirs"],
        "kept_intact": keep_before == keep_after,
        "expired_unreadable": (
            len(v1_months_after) < len(v1_months_before)),
    }
    return table, facts


@query(
    "q_vacuum_retention",
    oracle=f"""
WITH d1u AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderkey % {_UPD_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
),
d2 AS (
  SELECT o_orderkey, o_totalprice + 5.0 AS o_totalprice,
         'V' AS o_orderstatus
  FROM orders
  WHERE o_orderkey % {_UPD2_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN2_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
),
v2 AS (
  SELECT o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d1u)
    AND o_orderkey NOT IN (SELECT o_orderkey FROM d2)
  UNION ALL
  SELECT o_totalprice + 10.0, 'U' FROM orders
  WHERE o_orderkey % {_UPD_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
    AND o_orderkey NOT IN (SELECT o_orderkey FROM d2)
  UNION ALL
  SELECT o_totalprice, 'I' FROM orders
  WHERE o_orderkey % {_INS_MOD} = 0
    AND o_orderdate >= TIMESTAMP '{_WIN_LO}'
    AND o_orderdate < TIMESTAMP '{_WIN_HI}'
  UNION ALL
  SELECT o_totalprice, o_orderstatus FROM d2
)
SELECT 'v0' AS version, COUNT(*) AS n_rows,
       {_REV} AS revenue,
       0 AS n_changed,
       TRUE AS bytes_reclaimed, TRUE AS kept_intact,
       TRUE AS expired_unreadable
FROM orders
UNION ALL
SELECT 'v2', COUNT(*),
       {_REV},
       COUNT(*) FILTER (WHERE o_orderstatus IN ('U', 'I', 'V')),
       TRUE, TRUE, TRUE
FROM v2
ORDER BY version
""",
)
def q_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-counted retention over the 3-generation publish
    chain: v0 and v2 are read back AFTER vacuum(keep=[v0, v2]) and
    checksummed -- v0 against the raw orders table, v2 against the
    SQL reconstruction of delta1-then-delta2 applied over base (a
    key double-applied, a v1 survivor lost, or a still-referenced
    v1-generation file deleted by the vacuum all break the hash).
    The booleans carry the retention contract: `bytes_reclaimed` =
    exactly the unreferenced first-generation dirs died and freed
    bytes, `kept_intact` = both kept snapshots resolve to
    byte-identical file inventories across the vacuum (data files
    outlive their creating snapshot until unreferenced),
    `expired_unreadable` = the expired v1 lost months and can no
    longer serve its snapshot. Weekly-retention shape at 100 TB:
    the whole pass is driver-side metadata + unlink of unreferenced
    dirs -- no data is read or rewritten (the two snapshot reads
    here are the AUDIT, not the vacuum)."""
    table, facts = run_retention(spark, sf_dir)

    def snap(version: str, tag: str) -> DataFrame:
        return (
            spark.read.parquet(str(Path(table) / version))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("o_totalprice")).alias("revenue"),
                F.count(F.when(
                    F.col("o_orderstatus").isin("U", "I", "V"), 1)).alias(
                        "n_changed"),
            )
            .withColumn("version", F.lit(tag))
        )

    return (
        snap("v0", "v0").unionByName(snap("v2", "v2"))
        .withColumn("bytes_reclaimed",
                    F.lit(bool(facts["bytes_reclaimed"] > 0)))
        .withColumn("kept_intact", F.lit(bool(facts["kept_intact"])))
        .withColumn("expired_unreadable",
                    F.lit(bool(facts["expired_unreadable"])))
        .select("version", "n_rows", "revenue", "n_changed",
                "bytes_reclaimed", "kept_intact", "expired_unreadable")
        .orderBy("version")
    )


def vacuum(table: str, keep: list[str]) -> dict:
    """Reference-counted retention: delete every partition directory
    OWNED by this table (a real dir under an expired version -- never
    a pointer target outside the table, which belongs to the shared
    base) that no KEPT manifest references, then drop the expired
    manifests themselves. This is a table format's VACUUM: kept
    snapshots stay byte-identical (their pointers resolve to the same
    inodes), expired snapshots stop being readable, and reclaimed
    bytes are exactly the re-rewritten months' old generations.
    Returns {'deleted_dirs': [...], 'bytes_reclaimed': int}."""
    t = Path(table)
    versions = sorted(p.name for p in t.glob("v*") if p.is_dir())
    missing = [v for v in keep if v not in versions]
    if missing:
        # a typo'd keep list would otherwise build an empty referenced
        # set and delete every table-owned partition while reporting
        # success (ADVICE r10)
        raise ValueError(
            f"vacuum keep names non-existent versions {missing}; "
            f"existing: {versions}")
    current = tablefmt.current_version(t)
    if current not in keep:
        raise ValueError(
            f"vacuum must keep the current version {current!r} "
            f"(keep={keep}); retention never expires the live table")
    referenced = {
        (t / v / m.name).resolve()
        for v in keep for m in (t / v).glob("o_month=*")
    }
    deleted, reclaimed = [], 0
    for v in versions:
        if v in keep:
            continue
        for m in sorted((t / v).glob("o_month=*")):
            if m.is_symlink():
                m.unlink()  # a pointer, not data -- always droppable
                continue
            target = m.resolve()
            if target not in referenced:
                reclaimed += sum(
                    f.stat().st_size for f in target.rglob("*")
                    if f.is_file())
                shutil.rmtree(target)
                deleted.append(f"{v}/{m.name}")
            # else: a KEPT manifest points at this dir -- the data
            # file outlives the snapshot that created it (exactly a
            # real format's file/manifest split); the expired version
            # dir survives as an unreadable husk holding it
        if not any((t / v).iterdir()):
            (t / v).rmdir()
    return {"deleted_dirs": deleted, "bytes_reclaimed": reclaimed}
