"""The two sketch-estimate queries (HLL++ cardinality, Greenwald-
Khanna percentiles), in their own module so the registration window
can include them without dragging their former home modules
(aggregates, reshaping) in.

Bounds-checked oracles (r4 verdict item 6): sketch estimates are
engine-specific, so the raw values can never hash-match a DuckDB
oracle. Instead both sides emit a boolean 'estimate within the
advertised error band of exact'. The oracle applies the band to its
own exact value (trivially TRUE); Spark applies it to the live
sketch, so the driver hash matches iff the sketch honours its bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load


@query(
    "q_agg_approx_distinct",
    oracle="""
SELECT
  l_returnflag,
  COUNT(DISTINCT l_orderkey) AS n_orders_exact,
  COUNT(DISTINCT l_partkey) AS n_parts_exact,
  COUNT(DISTINCT l_orderkey)
    BETWEEN COUNT(DISTINCT l_orderkey) * 0.94
        AND COUNT(DISTINCT l_orderkey) * 1.06 AS orders_within_3rsd,
  COUNT(DISTINCT l_partkey)
    BETWEEN COUNT(DISTINCT l_partkey) * 0.94
        AND COUNT(DISTINCT l_partkey) * 1.06 AS parts_within_3rsd,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the scale path for
    cardinality -- constant memory, map-side mergeable, no Expand.

    The countDistinct columns here exist for the correctness harness
    only (they make the driver compare real values and give the bounds
    check its reference); the sketch alone is the production plan. At
    rsd=0.02 a 3-sigma band is +-6%; the estimate is deterministic for
    a given input (fixed hash seed), verified in-band at sf0.001/0.01/
    0.1 locally, so the boolean is stable, not flaky."""
    li = load(spark, sf_dir, "lineitem")
    # the sketch pass and the exact-reference pass run as SEPARATE
    # aggregations joined on the 3-row group key: mixing distinct and
    # sketch aggregates in one Aggregate routes the sketches through
    # the multi-distinct Expand (3x the input through every buffer --
    # r7 sweep: 8.0 s combined vs 2.1 s for the two passes), and the
    # sketch-only aggregation IS the production plan the query
    # showcases; the exact pass exists for the harness only
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_ao"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_ap"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders_exact"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
    )
    return (
        sketch.join(F.broadcast(exact), "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders_exact",
            "n_parts_exact",
            F.col("_ao")
            .between(
                F.col("n_orders_exact") * 0.94,
                F.col("n_orders_exact") * 1.06,
            )
            .alias("orders_within_3rsd"),
            F.col("_ap")
            .between(
                F.col("n_parts_exact") * 0.94,
                F.col("n_parts_exact") * 1.06,
            )
            .alias("parts_within_3rsd"),
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_percentiles_approx",
    # 0.005 is 50x the sketch's 1/accuracy rank-error guarantee -- wide
    # enough to be deterministic across SFs, tight enough to catch any
    # real misestimate.
    oracle="""
SELECT
  l_returnflag,
  quantile_cont(l_extendedprice, 0.5)
    BETWEEN quantile_cont(l_extendedprice, 0.495)
        AND quantile_cont(l_extendedprice, 0.505) AS median_in_band,
  quantile_cont(l_extendedprice, 0.95)
    BETWEEN quantile_cont(l_extendedprice, 0.945)
        AND quantile_cont(l_extendedprice, 0.955) AS p95_in_band,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna style summary): mergeable,
    bounded-memory, no per-group sort -- the percentile to reach for at
    100 TB. The exact F.percentile band edges exist for the harness
    only (the production plan is the sketch alone); the sketch returns
    an actual data element whose rank error is bounded by 1/accuracy =
    1e-4, far inside the 0.005 band, so the boolean is stable."""
    li = load(spark, sf_dir, "lineitem")
    # ONE exact-percentile aggregate computing all four band edges from
    # a single sorted buffer, and ONE sketch for both targets: the old
    # spelling planned four separate exact percentile aggregates (each
    # with its own buffer) plus two sketches -- 5.1 s of exact
    # percentiles collapses to 1.5 s (r7 sweep), oracle unchanged
    bands = F.percentile(
        "l_extendedprice",
        F.array(F.lit(0.495), F.lit(0.505), F.lit(0.945), F.lit(0.955)),
    )
    sk = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10000
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            bands.alias("_pb"),
            sk.alias("_ap"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("_ap")[0]
            .between(F.col("_pb")[0], F.col("_pb")[1])
            .alias("median_in_band"),
            F.col("_ap")[1]
            .between(F.col("_pb")[2], F.col("_pb")[3])
            .alias("p95_in_band"),
            "n_rows",
        )
        .orderBy("l_returnflag")
    )


# count-min sketch geometry: width w = ceil(e / eps), depth d =
# ceil(ln(1 / delta)). eps = 1e-3, delta = 1e-2 -> 2719 x 5 counters.
_CMS_W = 2719
_CMS_D = 5
_CMS_TOPK = 20


@query(
    "q_freq_items_cms",
    oracle=f"""
WITH exact AS (
  SELECT l_suppkey, COUNT(*) AS n_exact
  FROM lineitem GROUP BY l_suppkey
  ORDER BY n_exact DESC, l_suppkey
  LIMIT {_CMS_TOPK}
)
SELECT l_suppkey, n_exact,
       TRUE AS est_ge_exact,
       TRUE AS est_within_eps
FROM exact
ORDER BY n_exact DESC, l_suppkey
""",
)
def q_freq_items_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items estimation via a count-min sketch BUILT AS
    DATAFRAME OPS -- the heavy-hitter sketch a filtering pipeline uses
    to find dominant keys (domains, near-constant fields) without a
    full groupBy materialization per key, completing the sketch trio
    (HLL cardinality, GK percentiles, CMS frequencies).

    Build: one map-only pass explodes each row into its {_CMS_D} (row,
    hash-column) cells -- xxhash64(key, seed_i) mod {_CMS_W} -- and a
    groupBy over the bounded {_CMS_D}x{_CMS_W} cell space (map-side
    combining; the sketch table is ~14k rows at ANY data size) is the
    whole sketch. Estimate for a key = min over rows of its cell
    counts, read with a broadcast join of the candidate keys against
    the sketch table -- no driver-side sketch object, no binary blob
    (F.count_min_sketch exists but its blob has no declarative
    reader), every step plain Spark SQL. The grand total N (the eps*N
    band's scale) is read FROM the sketch -- each counter row
    partitions the input, so SUM over row 0's cells is exactly N --
    instead of a separate COUNT(*) pass over the fact table. At
    100 TB: explode pass is scan-shaped, sketch table size is
    CONSTANT, candidate probe is a broadcast, and the fact table is
    scanned exactly twice (sketch build + the exact reference the
    oracle needs; a production heavy-hitter pass with external
    candidates scans it once) -- this is why CMS beats exact groupBy
    when the key space is huge and only heavy hitters matter.

    Correctness contract (bounds-checked oracle, the sketches.py
    pattern): est >= exact is the CMS hard guarantee (counters only
    overcount); est <= exact + eps*N holds per key with probability
    1 - delta over hash choice and is DETERMINISTIC once the seeds are
    fixed literals -- verified in-band at sf0.001/0.01/0.1 locally, so
    both booleans are stable. The exact top-{_CMS_TOPK} counts ride as
    the hash-compared reference; ties broken by key."""
    li = load(spark, sf_dir, "lineitem")
    key = F.col("l_suppkey")
    cells = li.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("r"),
                    F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_CMS_W))
                    .alias("c"),
                )
                for i in range(_CMS_D)
            ])
        ).alias("rc")
    )
    # staged once (the registry staging rule for multi-consumer
    # frames): the probe join AND the N readback both consume the
    # sketch, and without staging each branch rebuilds it from its
    # own fact scan (no ReusedExchange across a broadcast and a
    # shuffle consumer -- measured). ~14k rows at any data size.
    cms = cells.groupBy("rc.r", "rc.c").agg(
        F.count(F.lit(1)).alias("n")
    ).transform(stage_df)
    exact = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "l_suppkey")
        .limit(_CMS_TOPK)
    )
    # N from the sketch itself: row 0's counters partition the input
    n_total = (
        cms.filter(F.col("r") == 0).agg(F.sum("n").alias("n_total"))
    )
    probes = exact.select(
        "l_suppkey",
        "n_exact",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("r"),
                    F.pmod(
                        F.xxhash64(F.col("l_suppkey"), F.lit(i)),
                        F.lit(_CMS_W),
                    ).alias("c"),
                )
                for i in range(_CMS_D)
            ])
        ).alias("rc"),
    ).select("l_suppkey", "n_exact", "rc.r", "rc.c")
    est = (
        probes.join(F.broadcast(cms), ["r", "c"])
        .groupBy("l_suppkey", "n_exact")
        .agg(F.min("n").alias("_est"))
    )
    return (
        est.crossJoin(F.broadcast(n_total))
        .select(
            "l_suppkey",
            "n_exact",
            (F.col("_est") >= F.col("n_exact")).alias("est_ge_exact"),
            (
                F.col("_est")
                <= F.col("n_exact")
                + F.ceil(F.col("n_total") * F.lit(0.001))
            ).alias("est_within_eps"),
        )
        .orderBy(F.col("n_exact").desc(), "l_suppkey")
    )
