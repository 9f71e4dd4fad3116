"""Incremental view maintenance (IVM): refresh a stored view from
delta scans + mergeable-state combination instead of a full recompute
-- the single-table rollup (q_incremental_rollup) and, since r12, the
JOIN view (q_incremental_join_view) that is the other half of what a
warehouse actually maintains (VERDICT r11 item 4).

Join-view delta rule: for V = agg(A |x| B) with month-partitioned
appends dA / dB, the new pairs decompose DISJOINTLY as

    delta(A |x| B) = dA |x| B0  UNION  A0 |x| dB  UNION  dA |x| dB

(B0/A0 = the pre-cutoff halves), so refresh = merge(MV, agg of the
three delta terms). EVERY scan in the refresh carries a month
PartitionFilter -- the two delta slices AND the two complement slices
-- and the stored MV enters as its materialized form, never as a
recomputation of A0 |x| B0: the base pair term, the O(history x
history) work, is paid once at MV creation and never again
(plan-gated in tests/test_incremental.py).

The 100 TB pattern this demonstrates: a daily rollup over an append-only
event stream should never rescan history. Store the aggregate in a
MERGEABLE form -- count, exact scaled-integer sum (functions/exact.py's
decimal(38,0) accumulator: associative, order-independent, so a
two-level base+delta merge is bit-identical to a one-shot sum), min,
max -- then each refresh scans ONLY the new partition and merges:

    merged(k) = combine(base(k), delta(k))
    combine   = (n1+n2, s1+s2, min(m1,m2), max(M1,M2))

Non-mergeable forms (avg stored as a double, median, distinct counts as
exact values) force the full rescan; the fix is to store the mergeable
decomposition (sum+count here; HLL sketches for distinct -- see
queries/sketches.py) and derive the display value at read time.

The driver row splits events at a cutoff (max ts - 7 days, derived from
the data so the same query is meaningful at every SF; a production
refresh boundary is a literal checkpoint timestamp, which additionally
pushes down into the delta scan as a plain parquet filter), builds the
base rollup, localCheckpoints it (standing in for the stored MV -- the
refresh plan reads it as an RDD scan, not a second parquet scan), and
merges the delta. The cutoff falls mid-day, so the boundary day exists
in BOTH halves and the merge combines real partial aggregates, not
disjoint key sets. The oracle is the ONE-SHOT rollup over all events:
correctness pins merge(base, delta) == recompute(all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.exact import (
    rev_sql,
    scaled,
    unscale,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import (
    source_fingerprint as _source_fingerprint,
    stage_df,
    staged as _staged,
)
from discogs_xml_to_parquet_spark.tablefmt import staged_partitioned_orders
from discogs_xml_to_parquet_spark.tables import load

_SUM_SQL = ("CAST(SUM(CAST(floor((value) * 1000000 + 0.5) AS BIGINT)) "
            "AS DOUBLE) / 1000000")

# ---- join-view IVM (q_incremental_join_view) ------------------------
# Refresh boundary: months >= the cutoff are the deltas, on EACH
# side's own time column (o_orderdate month for orders, l_shipdate
# month for lineitem -- this corpus's ship dates are independent of
# order dates, so neither delta implies the other and all three cross
# terms are genuinely non-empty).
_JV_CUTOFF = "2001-06"
_JV_VERSION = 1


def staged_lineitem_by_shipmonth(spark: SparkSession,
                                 sf_dir: str) -> str:
    """lineitem as an l_month(=ship month)-partitioned tree -- the
    append layout whose newest partitions ARE the delta. Built once
    per container per (sf_dir, fingerprint), atomic publish (the
    merge.py staging discipline)."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = _source_fingerprint(sf_dir, "lineitem.parquet")
    return _staged(
        f"spark_graft_jv_lineitem_v{_JV_VERSION}_{slug}_{fp}",
        lambda tmp: (
            load(spark, sf_dir, "lineitem")
            .withColumn("l_month",
                        F.date_format("l_shipdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("l_month")
            .parquet(tmp)
        ),
    )


def _jv_state(pairs: DataFrame) -> DataFrame:
    """The join view's mergeable per-priority state: item count +
    exact scaled revenue (sum of l_extendedprice * (1 - l_discount));
    both accumulators are associative, so any grouping of delta terms
    merges exactly."""
    return pairs.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            scaled(F.col("l_extendedprice")
                   * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(38,0)")
        ).alias("rev_scaled"),
    )


def merge_join_states(*states: DataFrame) -> DataFrame:
    """Combine mergeable join-view states (MV + delta terms)."""
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy("priority").agg(
        F.sum("n_items").alias("n_items"),
        F.sum("rev_scaled").alias("rev_scaled"),
    )


def _rollup(df: DataFrame) -> DataFrame:
    """The mergeable per-(day, event_type) aggregate state."""
    return (
        df.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(scaled("value").cast("decimal(38,0)")).alias("sum_scaled"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def merge_rollups(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Combine two mergeable rollup states; associativity of every
    accumulator (long +, decimal(38,0) +, double min/max) makes this
    exact under any grouping of increments."""
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_scaled").alias("sum_scaled"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@query(
    "q_incremental_rollup",
    oracle="""
SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       """ + _SUM_SQL + """ AS sum_value,
       """ + _SUM_SQL + """ / COUNT(*) AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type rollup maintained incrementally: base state
    over ts < cutoff (staged -- the stored materialized view), delta
    over the trailing 7 days, merged by partial-aggregate combination.
    The oracle recomputes from scratch, so a hash match proves the
    merge is exact -- including on the boundary day both halves touch.

    avg is DERIVED (sum/count) at read time, never stored: storing the
    quotient is the classic IVM bug (averages don't merge).

    Scale shape: refresh cost is O(delta) scan + a merge keyed on
    (day, event_type) whose left side is the compact MV (days x types
    rows), not the corpus; the full-history scan happens once at MV
    creation. The cutoff crossJoin is a 1-row broadcast (same pattern
    as Q22's threshold scalar)."""
    e = load(spark, sf_dir, "events")
    cut = F.broadcast(
        e.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cut"))
    )
    tagged = e.crossJoin(cut)
    base = stage_df(_rollup(
        tagged.filter(F.col("ts") < F.col("cut"))
    ))
    delta = _rollup(tagged.filter(F.col("ts") >= F.col("cut")))
    merged = merge_rollups(base, delta)
    return (
        merged.select(
            "day",
            "event_type",
            "n_events",
            unscale(F.col("sum_scaled")).alias("sum_value"),
            (unscale(F.col("sum_scaled")) / F.col("n_events")).alias(
                "avg_value"
            ),
            "min_value",
            "max_value",
        )
        .orderBy("day", "event_type")
    )


def _jv_orders(df: DataFrame) -> DataFrame:
    return df.select("o_orderkey", "o_orderpriority")


def _jv_items(df: DataFrame) -> DataFrame:
    return df.select("l_orderkey", "l_extendedprice", "l_discount")


def join_view_base(spark: SparkSession, orders_dir: str,
                   lineitem_dir: str) -> DataFrame:
    """MV creation: the view state over A0 |x| B0 (both sides'
    pre-cutoff partitions) -- the one-time full-history join the
    refresh never repeats."""
    a0 = spark.read.parquet(orders_dir).filter(
        F.col("o_month") < _JV_CUTOFF)
    b0 = spark.read.parquet(lineitem_dir).filter(
        F.col("l_month") < _JV_CUTOFF)
    return _jv_state(_jv_items(b0).join(
        _jv_orders(a0),
        F.col("l_orderkey") == F.col("o_orderkey")))


def join_view_refresh(spark: SparkSession, mv: DataFrame,
                      orders_dir: str, lineitem_dir: str) -> DataFrame:
    """One IVM refresh of the join view: merge the stored MV with the
    three disjoint delta terms dA|x|B0, A0|x|dB, dA|x|dB. Every scan
    here is month-PartitionFiltered (the deltas AND the complements);
    the base pair term A0|x|B0 never re-joins -- the MV enters as its
    materialized form (plan-gated: the refresh plan holds exactly one
    ExistingRDD and three joins).

    The delta side of each term is broadcast: a refresh window is
    O(ingest cadence x refresh interval) by construction -- bounded
    by OPERATIONS, not by table size (unlike setsim's corpus-sized
    frames) -- and a deployment whose window outgrows executor memory
    narrows the window, the knob IVM exists to provide. The
    complement sides (the 100 TB halves) are therefore never
    shuffled."""
    on = F.col("l_orderkey") == F.col("o_orderkey")
    orders = spark.read.parquet(orders_dir)
    items = spark.read.parquet(lineitem_dir)
    a0 = _jv_orders(orders.filter(F.col("o_month") < _JV_CUTOFF))
    da = _jv_orders(orders.filter(F.col("o_month") >= _JV_CUTOFF))
    b0 = _jv_items(items.filter(F.col("l_month") < _JV_CUTOFF))
    db = _jv_items(items.filter(F.col("l_month") >= _JV_CUTOFF))
    t_a = _jv_state(b0.join(F.broadcast(da), on))        # dA |x| B0
    t_b = _jv_state(a0.join(F.broadcast(db), on))        # A0 |x| dB
    t_ab = _jv_state(db.join(F.broadcast(da), on))       # dA |x| dB
    merged = merge_join_states(mv, t_a, t_b, t_ab)
    return (
        merged.select(
            "priority",
            "n_items",
            unscale(F.col("rev_scaled")).alias("revenue"),
        )
        .orderBy("priority")
    )


@query(
    "q_incremental_join_view",
    oracle=f"""
SELECT o_orderpriority AS priority,
       COUNT(*) AS n_items,
       {rev_sql("(l_extendedprice * (1 - l_discount))")} AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY 1
""",
)
def q_incremental_join_view(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-priority revenue view over orders |x| lineitem, maintained
    INCREMENTALLY: the stored MV covers both sides' pre-cutoff months,
    and one refresh folds in the three delta-join terms (new orders
    against old items, old orders against new items, new against
    new -- each non-empty on this corpus because ship dates are
    independent of order dates). The oracle recomputes the view from
    scratch over the raw tables, so a hash match proves the delta
    decomposition is exact: a pair double-counted across terms, a
    cross-boundary pair missed, or a stale MV row all break it."""
    orders_dir = staged_partitioned_orders(spark, sf_dir)
    items_dir = staged_lineitem_by_shipmonth(spark, sf_dir)
    mv = stage_df(join_view_base(spark, orders_dir, items_dir))
    return join_view_refresh(spark, mv, orders_dir, items_dir)
