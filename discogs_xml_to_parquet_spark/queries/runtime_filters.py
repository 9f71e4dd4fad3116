"""Physical join-strategy showcases: runtime filters (DPP + bloom),
AQE skew-join splitting, and bucketed co-located joins -- the family
of 100 TB join optimizations demonstrated as driver rows.

Runtime filters (VERDICT r7 item 8 -- the one classic 100 TB join
optimization the inventory did not yet demonstrate as a driver row):

Both are OPTIMIZER-injected filters, not hand-built ones (the
hand-built broadcast bloom table already exists as
q_decontaminate_bloom): the query declares a plain join and Catalyst
inserts a filter on the fact side computed at runtime from the dim
side --

- DPP: when the fact is PARTITIONED on the join key, the dim side's
  filtered key set becomes a partition filter
  (`dynamicpruningexpression` in PartitionFilters), so whole fact
  partitions are never read. At 100 TB this is the difference between
  scanning 3 months and scanning 7 years.
- Runtime bloom filter: when the dim carries a selective predicate but
  is too big to broadcast (shuffle join), a `bloom_filter_agg` of the
  dim keys is computed first and `might_contain` is pushed into the
  fact scan, so fact rows that cannot match never reach the shuffle.

tests/test_plans.py gates that BOTH filters appear in the registered
query's executed plan (test_dpp_query_prunes_partitions,
test_bloom_query_injects_runtime_filter).
"""

from __future__ import annotations

import tempfile
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import dsum, rev_sql
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import (
    source_fingerprint,
    stage_df,
    staged,
)
from discogs_xml_to_parquet_spark.tables import load

# bump when the staged-fact construction changes
_FACT_VERSION = 1

_REV_SQL = rev_sql("(l_extendedprice * (1 - l_discount))")


# moved to staging.py (shared harness utilities, outside the queries
# package so consumers don't drag this module into the driver window);
# re-bound here for the existing call sites and tests
_source_fingerprint = source_fingerprint
_staged = staged


def month_partitioned_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Stage lineitem partitioned by ship month (the layout a 100 TB
    fact would ship with -- date-keyed partitions) once per container
    per (sf_dir, source fingerprint); DPP needs a partitioned source to
    prune. repartition on the partition column first so each month
    lands in one task -> one file, not files x tasks."""
    slug = sf_dir.strip("/").replace("/", "_")
    return _staged(
        f"spark_graft_dpp_fact_v{_FACT_VERSION}_{slug}_"
        f"{_source_fingerprint(sf_dir)}",
        lambda tmp: (
            load(spark, sf_dir, "lineitem")
            .withColumn("ship_month",
                        F.date_format("l_shipdate", "yyyy-MM"))
            .repartition("ship_month")
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(tmp)
        ),
    )


def dpp_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-dim join against the partitioned fact: dim = the distinct
    order months of 1995-Q1 (derived from the orders table, so the key
    set is data, not a foldable literal -- the shape of a calendar dim
    filtered to a quarter). The broadcast hint keeps the dim side
    broadcast (DPP's default reuseBroadcastOnly=true reuses that exact
    exchange for the pruning subquery -- the filter is free)."""
    fact = spark.read.parquet(month_partitioned_lineitem(spark, sf_dir))
    dim = (
        load(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .distinct()
        .filter((F.col("yr") == 1995) & (F.col("qtr") == 1))
    )
    return (
        fact.join(F.broadcast(dim), fact.ship_month == dim.month)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .select(F.lit("dpp").alias("lane"), F.col("month").alias("key"),
                "n_rows", "revenue")
    )


def bloom_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selectively-filtered orders joined to lineitem as a SHUFFLE
    join: the optimizer injects bloom_filter_agg(o_orderkey) /
    might_contain(l_orderkey) into the fact scan. The caller's session
    must have broadcast disabled (the 100 TB premise: the filtered dim
    is still too big to broadcast) and the bloom application threshold
    lowered to fire at test scale -- see q_join_bloom_dpp."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .select(F.lit("bloom").alias("lane"),
                F.col("o_orderpriority").alias("key"), "n_rows", "revenue")
    )


def scoped_session(spark: SparkSession) -> SparkSession:
    """A sibling SparkSession (same SparkContext, OWN runtime conf)
    with the runtime-filter knobs a 100 TB deployment would set:
    broadcast off (the premise that makes runtime filters matter) and
    the bloom application-side threshold at 0 so the injection fires
    at test scale (the default 10 GB gate exists precisely because
    blooms only pay off on big scans). Scoping via newSession keeps
    the knobs out of the shared session -- every other registered
    query keeps its measured plan."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "0")
    return s2


# ---------------------------------------------------------------------------
# AQE skew-join showcase (VERDICT r8 item 7): the optimizer-native twin
# of operators/skew.py's manual salting. Same scoped-session pattern as
# q_join_bloom_dpp: the knobs a 100 TB deployment would tune live on a
# sibling session, the oracle pins that the rewrite is physical only.
# ---------------------------------------------------------------------------


def multi_file_documents(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as a 16-file parquet directory (lang/source/
    n_chars only -- the join never needs text), once per container per
    (sf_dir, source fingerprint).

    Why staging is REQUIRED for the skew demo and not a test crutch:
    AQE splits a skewed reduce partition on MAP-OUTPUT boundaries
    (ShufflePartitionsUtil.createSkewPartitionSpecs), so a shuffle fed
    by ONE map task -- which is what a single-row-group testdata file
    produces at any maxPartitionBytes -- is unsplittable no matter how
    skewed (measured: detection reports 0 skewed partitions). A real
    deployment's fact arrives from thousands of scan tasks; 16 files
    recreate that mapper fan-out at test scale."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = _source_fingerprint(sf_dir, "documents.parquet")
    return _staged(
        f"spark_graft_skew_docs_v{_FACT_VERSION}_{slug}_{fp}",
        lambda tmp: (
            load(spark, sf_dir, "documents")
            .select("lang", "source", "n_chars")
            .repartition(16)
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )


def skew_session(spark: SparkSession) -> SparkSession:
    """Sibling session with AQE skew-join knobs sized to test scale:
    detection factor 1.5 / threshold 1 KB / advisory 1 KB stand in for
    the defaults (5.0 / 256 MB / 64 MB), because the corpus's language
    skew (en ~ 2.1-2.4x the median language) is real but milder than
    the whale-key skew the defaults assume, and the testdata fits in
    kilobytes. Broadcast is disabled -- the 100 TB premise where skew
    handling matters is a dim side too big to broadcast (a 3-row dim
    would broadcast in production; the skewed SHUFFLE mechanics being
    demonstrated are the same either way)."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
    s2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "1KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    return s2


def skew_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mean-length join-back over the multilingual corpus:
    fact = documents keyed by lang (en dominates -- the Zipf language
    mix every multilingual training corpus has), dim = per-lang totals.
    The dim is staged (stage_df, 5 rows) so the join sees it
    through a plain ensure-requirements exchange -- adjacent to its
    aggregate the SMJ children would not match AQE's skew pattern --
    and the downstream aggregate keys on source (not lang), so the
    skew split introduces no extra shuffle and AQE keeps it.

    Above-average test is exact integer cross-multiplication:
    n_chars * n_lang > sum_chars_lang (longs; ~1e4 * corpus rows --
    no overflow until ~1e14 docs per language)."""
    docs = spark.read.parquet(multi_file_documents(spark, sf_dir))
    per_lang = (
        docs.groupBy("lang")
        .agg(F.sum("n_chars").alias("sum_c"),
             F.count(F.lit(1)).alias("n_l"))
        .transform(stage_df)
    )
    return (
        docs.join(per_lang, "lang")
        .filter(F.col("n_chars") * F.col("n_l") > F.col("sum_c"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            F.sum("n_chars").cast("long").alias("chars_above"),
        )
    )


@query(
    "q_join_aqe_skew",
    oracle="""
WITH pl AS (
  SELECT lang, SUM(n_chars) AS sum_c, COUNT(*) AS n_l
  FROM documents GROUP BY lang
)
SELECT d.source AS source,
       COUNT(*) AS n_above_avg,
       CAST(SUM(d.n_chars) AS BIGINT) AS chars_above
FROM documents d JOIN pl ON d.lang = pl.lang
WHERE d.n_chars * pl.n_l > pl.sum_c
GROUP BY 1
ORDER BY 1
""",
)
def q_join_aqe_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join showcase: per source, how many documents are
    longer than their LANGUAGE's average length -- a shuffle join on
    the skewed lang key whose oversized 'en' partition AQE splits at
    runtime (OptimizeSkewedJoin: the executed plan shows
    SortMergeJoin(skew=true) over an 'AQEShuffleRead skewed',
    plan-gated in tests/test_plans.py).

    This is the optimizer-native twin of q_skew_salted_join
    (operators/skew.py): salting rewrites the QUERY to pre-spread a
    known hot key; AQE rebalances the PLAN from runtime shuffle stats
    with no query change, which is the right default at 100 TB where
    the hot keys aren't known up front. Like there, the oracle is the
    plain relational join -- the skew split is physical, not
    semantic."""
    return skew_lane(skew_session(spark), sf_dir).orderBy("source")


# ---------------------------------------------------------------------------
# Bucketed co-located join (round 9): the WRITE-TIME twin of the
# runtime strategies above. DPP/bloom/skew all mitigate a shuffle that
# still happens; bucketing removes it entirely by paying the
# partitioning cost once at write. operators/bucketing.py holds the
# write/join primitives (pytest-gated since r3); this is the driver row.
# ---------------------------------------------------------------------------

_BUCKETS = 16

# serializes the tableExists-then-write below (ADVICE r9): sibling
# sessions of one app share the catalog AND the app-scoped path, so two
# in-process callers could race past the existence check and
# concurrently overwrite the same table
_BUCKET_LOCK = threading.Lock()


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage lineitem and orders as co-bucketed catalog tables
    (bucketBy(16) on their join keys + sortBy), once per Spark
    application per (sf_dir, source fingerprints).

    Isolation notes: the in-memory catalog lives in SharedState, so
    sibling sessions (newSession) see the tables, but a CONCURRENT
    process (pytest vs driver) has its own catalog and its own
    app-scoped path -- no cross-process write race by construction.
    Names embed both sources' fingerprints so regenerated testdata can
    never serve a stale layout (same contract as the DPP fact)."""
    slug = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    fp = (_source_fingerprint(sf_dir, "lineitem.parquet")
          + _source_fingerprint(sf_dir, "orders.parquet"))
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    li_t = f"li_bkt_{slug}_{fp}"
    o_t = f"o_bkt_{slug}_{fp}"
    root = Path(tempfile.gettempdir()) / f"spark_graft_bkt_{app}"
    from discogs_xml_to_parquet_spark.operators.bucketing import (
        write_bucketed,
    )
    with _BUCKET_LOCK:
        if not spark.catalog.tableExists(li_t):
            write_bucketed(load(spark, sf_dir, "lineitem"), li_t,
                           str(root / li_t), ["l_orderkey"], _BUCKETS)
        if not spark.catalog.tableExists(o_t):
            write_bucketed(load(spark, sf_dir, "orders"), o_t,
                           str(root / o_t), ["o_orderkey"], _BUCKETS)
    return li_t, o_t


def bucketed_session(spark: SparkSession) -> SparkSession:
    """Sibling session with broadcast disabled: the 100 TB premise is a
    fact-to-fact join where NEITHER side broadcasts (at test scale the
    planner would otherwise just broadcast orders and never exercise
    the bucketed layout)."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return s2


def bucketed_join_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join stage alone (pre-aggregation), so the plan gate can
    assert the join subplan has NO Exchange: bucket i of lineitem joins
    bucket i of orders directly (plan shows `Bucketed: true`,
    `SelectedBucketsCount: 16 out of 16` on both scans and a
    SortMergeJoin with no shuffle children)."""
    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    li, o = spark.table(li_t), spark.table(o_t)
    return li.join(o, li.l_orderkey == o.o_orderkey)


@query(
    "q_join_bucketed",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       """ + _REV_SQL + """ AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: full-corpus revenue by order priority
    through a lineitem |><| orders join that never shuffles, because
    both facts were written bucketBy(16) on their join keys
    (tests/test_plans.py::test_bucketed_query_join_has_no_exchange).

    The 100 TB story: a fact table that is repeatedly joined on the
    same key should be STORED pre-partitioned on it -- the shuffle
    every DPP/bloom/skew-mitigated join still pays becomes a one-time
    write cost, and each of the N downstream joins reads bucket i
    against bucket i with zero exchange. The only shuffle left in this
    plan is the 5-group priority aggregate above the join. The oracle
    is the plain relational join on the live tables, pinning that the
    bucketed layout is physical, not semantic."""
    lane = bucketed_join_lane(bucketed_session(spark), sf_dir)
    return (
        lane.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_join_bloom_dpp",
    oracle="""
WITH dim AS (
  SELECT DISTINCT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month
  FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = 1995
    AND quarter(CAST(o_orderdate AS DATE)) = 1
),
dpp AS (
  SELECT 'dpp' AS lane,
         strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS key,
         COUNT(*) AS n_rows,
         """ + _REV_SQL + """ AS revenue
  FROM lineitem
  JOIN dim ON strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') = dim.month
  GROUP BY 1, 2
),
bloom AS (
  SELECT 'bloom' AS lane, o_orderpriority AS key,
         COUNT(*) AS n_rows,
         """ + _REV_SQL + """ AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
  GROUP BY 1, 2
)
SELECT lane, key, n_rows, revenue FROM dpp
UNION ALL
SELECT lane, key, n_rows, revenue FROM bloom
ORDER BY lane, key
""",
)
def q_join_bloom_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter showcase, two lanes UNIONed:

    - 'dpp' rows: 1995-Q1 revenue by ship month off the
      month-partitioned fact -- the executed plan reads 3 of ~84 fact
      partitions (PartitionFilters: dynamicpruningexpression);
    - 'bloom' row: urgent/high-value order revenue through a shuffle
      join -- the fact scan carries might_contain(l_orderkey) built
      from the filtered orders keys.

    Both lanes run on a scoped sibling session (broadcast disabled,
    bloom threshold 0 -- see scoped_session); the oracle is the plain
    relational spelling of both joins, so correctness pins that the
    injected filters are filters, not semantics."""
    s2 = scoped_session(spark)
    return (
        dpp_lane(s2, sf_dir)
        .unionAll(bloom_lane(s2, sf_dir))
        .orderBy("lane", "key")
    )
