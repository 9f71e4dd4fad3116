"""Feature-engineering statistics: exact per-group median absolute
deviation (the robust spread estimator) and per-row z-score
normalization from exact fixed-point moments.

Exactness: both queries follow the house discipline -- order
statistics are computed over the DISTINCT-value domain with integer
cumulative counts (no float accumulation at all), and the z-score's
mean/stddev come from exact 100-scaled integer sums with the final
double expression shared VERBATIM between selectExpr and the oracle,
so every IEEE op runs in the same order in both engines.

Scale shapes: MAD never sorts the data -- it aggregates to (group,
value, count), runs a per-group window over that domain table, and
broadcasts the 3-row median table back; normalization is one two-phase
aggregate plus a broadcast join, i.e. two scans' worth of work
regardless of group count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.operators import prefix as P
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load

# shared final-expression text (Spark selectExpr == DuckDB outer
# SELECT) for the z-score: inputs are exact integers (p100 per-row
# 100-scaled value, sp/spp group sums, n group count), every op is
# correctly-rounded IEEE double math in identical order.
_ZSCORE = (
    "(CAST(p100 AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(n_rows AS DOUBLE)) / "
    "sqrt(CAST(n_rows AS DOUBLE)*CAST(spp AS DOUBLE)"
    " - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)) * CAST(n_rows AS DOUBLE)"
)
# z = (x - mean) / pop-stddev; in p100 units the 1/100 scales cancel,
# so no descale term. pop-stddev = sqrt(n*spp - sp^2)/n, arranged
# divide-then-multiply so both engines associate identically.


def _median_of(
    counts: DataFrame, group: str, value: str, stage: bool = True,
    bounds: list[float] | None = None
) -> DataFrame:
    """Lower median per group from a (group, value, cnt) table:
    value at rank ceil(n/2) in value order. Returns (group, med).
    Integer ranks over the distinct-value domain -- no data sort, and
    no one-task-per-group either: with 3 groups over a ~583k-value
    domain, Window.partitionBy(group) was 3 giant single tasks. A
    median is a rank LOOKUP, so this uses the distributed selection
    operator (operators/prefix.py value_at_ranks, r8): per-bucket
    weight totals locate the median's bucket and only that bucket
    (~domain/P rows) is ever window-sorted -- strictly less work than
    materializing the full cumulative table the r7 spelling built.

    Pass stage=False when `counts` is already staged (checkpointed)
    by the caller -- value_at_ranks consumes it in three plan
    branches, and re-staging a checkpoint just copies it. Pass
    `bounds` (a sorted boundary list) to skip the operator's own
    approxQuantile sketch -- balance-only, see quantile_bounds."""
    sel = P.value_at_ranks(
        counts, value, F.col("cnt"),
        {"med": F.floor((F.col("n_g") + 1) / 2)},
        group_cols=[group], stage=stage, bounds=bounds,
    )
    return sel.select(group, "med")


@query(
    "q_stats_mad",
    oracle="""
WITH vc AS (
  SELECT l_returnflag AS g, l_extendedprice AS v, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), med1 AS (
  SELECT g, MIN(v) AS med FROM (
    SELECT g, v,
           SUM(cnt) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER (PARTITION BY g) AS n_g
    FROM vc
  ) WHERE cum >= (n_g + 1) // 2 GROUP BY g
), dev AS (
  SELECT vc.g, abs(vc.v - m.med) AS v, SUM(cnt) AS cnt
  FROM vc JOIN med1 m ON vc.g = m.g
  GROUP BY vc.g, abs(vc.v - m.med)
), med2 AS (
  SELECT g, MIN(v) AS mad FROM (
    SELECT g, v,
           SUM(cnt) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER (PARTITION BY g) AS n_g
    FROM dev
  ) WHERE cum >= (n_g + 1) // 2 GROUP BY g
)
SELECT med1.g AS l_returnflag, med1.med AS median_price, med2.mad AS mad_price
FROM med1 JOIN med2 ON med1.g = med2.g
ORDER BY l_returnflag
""",
)
def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median absolute deviation: lower median (value
    at rank ceil(n/2)) of the price, then lower median of |price -
    median|. Neither pass sorts the data: each aggregates to the
    (group, distinct value, count) domain table (map-side combining),
    runs an integer cumulative window over that domain, and the 3-row
    median table broadcasts back. |x - med| is one IEEE subtraction --
    exact and engine-identical -- and everything else is integer
    comparison, so the result hashes exactly."""
    li = load(spark, sf_dir, "lineitem")
    # Stage the domain table ONCE at query level: it feeds the first
    # median's three selection branches AND the deviation re-aggregate.
    # Without this the first value_at_ranks checkpoints its own copy
    # and `dev` recomputes the fact scan+aggregate from parquet -- two
    # full corpus passes where one suffices (the fix is what dominates
    # at 100 TB; locally 8.2 -> 7.2 s interleaved). med1 (3 rows) is
    # staged too: it feeds both the deviation join and the output.
    vc = li.groupBy(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt")).transform(stage_df)
    # ONE boundary sketch serves BOTH selection passes (r15, VERDICT
    # r14 item 8): the deviation domain |v - med| doesn't need its own
    # approxQuantile action -- its bucket boundaries derive
    # arithmetically from the price sketch (|b - sketch-median| per
    # boundary, sorted). Boundary quality is balance-only, never
    # correctness (any sorted list gives a monotone pure _pid, see
    # operators/prefix.py), and the groups share one price
    # distribution here, so the derived set splits the deviation
    # domain about as evenly as a measured one. One fewer driver
    # action + domain pass per run.
    bounds1 = P.quantile_bounds(vc, "v")
    med1 = _median_of(
        vc, "g", "v", stage=False, bounds=bounds1).transform(stage_df)
    med_star = bounds1[len(bounds1) // 2] if bounds1 else 0.0
    dev_bounds = sorted(abs(b - med_star) for b in bounds1)
    dev = (
        vc.join(F.broadcast(med1), "g")
        .select("g", F.abs(F.col("v") - F.col("med")).alias("v"), "cnt")
        .groupBy("g", "v")
        .agg(F.sum("cnt").alias("cnt"))
    )
    med2 = _median_of(
        dev, "g", "v", bounds=dev_bounds).withColumnRenamed("med", "mad")
    return (
        med1.join(med2, "g")
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("med").alias("median_price"),
            F.col("mad").alias("mad_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_feature_normalize",
    oracle=f"""
WITH scaled AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) AS p100
  FROM lineitem
), sums AS (
  SELECT l_returnflag, COUNT(*) AS n_rows,
         SUM(p100) AS sp, SUM(p100 * p100) AS spp
  FROM scaled GROUP BY l_returnflag
)
SELECT s.l_orderkey, s.l_linenumber, s.l_returnflag,
       {_ZSCORE} AS z_price
FROM scaled s JOIN sums USING (l_returnflag)
ORDER BY l_orderkey, l_linenumber
""",
)
def q_feature_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row z-score normalization against per-group exact moments
    (the feature-standardization step of any ML data pipeline). One
    two-phase aggregate produces (n, sum, sum-of-squares) per group in
    exact 100-scaled integers; the K-row moment table broadcasts back
    onto the stream (map-only second pass -- the corpus shuffles
    zero times); the z expression is one shared double text, so both
    engines run the identical IEEE tree on identical integers."""
    li = load(spark, sf_dir, "lineitem")
    scaled = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("p100"),
    )
    sums = scaled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("p100").alias("sp"),
        F.sum(F.col("p100") * F.col("p100")).alias("spp"),
    )
    return (
        scaled.join(F.broadcast(sums), "l_returnflag")
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            f"{_ZSCORE} AS z_price",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --- int8 embedding quantization --------------------------------------
#
# Identical expression text in Spark (selectExpr) and DuckDB: inputs
# are f32 (exact when widened to double), and every double op appears
# in the same order in both engines, so the integer codes match
# bit-for-bit. floor(x + 0.5) rather than round(): DuckDB rounds
# half-away-from-zero, Spark HALF_UP -- floor is the one both share.
_Q_CODE = (
    "CAST(floor((CAST(v AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5)"
    " AS BIGINT)"
)


@query(
    "q_embedding_quantize",
    oracle=f"""
WITH rng AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
), coded AS (
  SELECT vec_id, mn, mx,
         list_transform(embedding, v -> {_Q_CODE}) AS codes
  FROM rng WHERE mx > mn
)
SELECT vec_id,
       CAST(len(codes) AS INT) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS q_sum,
       CAST(len(list_filter(codes, c -> c = 0)) AS BIGINT) AS n_lo,
       CAST(len(list_filter(codes, c -> c = 255)) AS BIGINT) AS n_hi
FROM coded
ORDER BY vec_id
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 (asymmetric min/max) quantization audit -- the
    compression step every large-scale ANN index and KV-cache-style
    embedding store applies before serving. Each vector's [min, max]
    range maps to codes 0..255 via floor((v-mn)*255/(mx-mn)+0.5); the
    query emits the code checksum and the saturation counts (n_lo/n_hi
    = how many dims pinned to the range ends -- the outlier diagnostic
    that motivates per-channel or clipped quantization). Entirely
    map-only JVM higher-order functions over the embedding array; at
    100 TB this is a scan-bound rewrite pass whose output parquet is
    1/4 the size. Constant vectors (mx == mn) are excluded in both
    engines (no defined scale)."""
    e = load(spark, sf_dir, "embeddings")
    rng = e.selectExpr(
        "vec_id",
        "embedding",
        "CAST(array_min(embedding) AS DOUBLE) AS mn",
        "CAST(array_max(embedding) AS DOUBLE) AS mx",
    ).filter("mx > mn")
    coded = rng.selectExpr(
        "vec_id", f"transform(embedding, v -> {_Q_CODE}) AS codes"
    )
    return coded.selectExpr(
        "vec_id",
        "CAST(size(codes) AS INT) AS n_dims",
        "CAST(aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)"
        " AS BIGINT) AS q_sum",
        "CAST(size(filter(codes, c -> c = 0)) AS BIGINT) AS n_lo",
        "CAST(size(filter(codes, c -> c = 255)) AS BIGINT) AS n_hi",
    ).orderBy("vec_id")


# --- exact interpolated percentiles (percentile_cont) -----------------
#
# Shared interpolation text: inputs are exact (integer ranks, parquet
# doubles passed through), and the expression tree is identical in
# both engines, so the interpolated double matches bit-for-bit. The
# fraction (n-1)*P % 100 / 100.0 is computed from integers the same
# way on both sides -- NOT via each engine's percentile_cont builtin,
# whose internal op order is unspecified.
_INTERP = (
    "v_lo + (v_hi - v_lo) * (CAST(frac_pct AS DOUBLE) / 100.0)"
)


def _pcont_ranks(pct: int) -> tuple[Column, Column]:
    """(rank of v_lo, rank of v_hi) for percentile_cont(pct/100) as
    expressions over the per-group total `n_g` (value_at_ranks
    provides it): 0-based position h = (n-1)*pct/100 brackets between
    the order statistics at ranks (h div 1)+1 and (h div 1)+2, the
    latter capped at n. Integer arithmetic mirrors _pcont_sql
    exactly."""
    k1 = F.expr(f"(n_g - 1) * {pct} div 100") + 1
    return k1, F.least(k1 + 1, F.col("n_g"))


def _pcont_sql(pct: int, tag: str) -> str:
    """DuckDB mirror of _pcont_parts over the shared pc/cum/tot CTEs."""
    return f"""
{tag}_lo AS (
  SELECT l_returnflag, MIN(v) AS {tag}_v_lo
  FROM cum WHERE cum >= (n_g - 1) * {pct} // 100 + 1
  GROUP BY l_returnflag
),
{tag}_hi AS (
  SELECT l_returnflag, MIN(v) AS {tag}_v_hi
  FROM cum WHERE cum >= least((n_g - 1) * {pct} // 100 + 2, n_g)
  GROUP BY l_returnflag
),
{tag}_f AS (
  SELECT l_returnflag, (n_g - 1) * {pct} % 100 AS {tag}_frac FROM tot
)"""


@query(
    "q_percentile_cont_exact",
    oracle=f"""
WITH pc AS (
  SELECT l_returnflag, l_extendedprice AS v, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
), tot AS (
  SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n_g
  FROM pc GROUP BY l_returnflag
), cum AS (
  SELECT pc.l_returnflag, v,
         SUM(cnt) OVER (PARTITION BY pc.l_returnflag ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
         n_g
  FROM pc JOIN tot USING (l_returnflag)
),{_pcont_sql(50, "p50")},{_pcont_sql(95, "p95")}
SELECT t.l_returnflag, t.n_g,
       {_INTERP.replace("v_lo", "p50_v_lo").replace("v_hi", "p50_v_hi")
               .replace("frac_pct", "p50_frac")} AS p50_price,
       {_INTERP.replace("v_lo", "p95_v_lo").replace("v_hi", "p95_v_hi")
               .replace("frac_pct", "p95_frac")} AS p95_price
FROM tot t
JOIN p50_lo USING (l_returnflag) JOIN p50_hi USING (l_returnflag)
JOIN p50_f USING (l_returnflag)
JOIN p95_lo USING (l_returnflag) JOIN p95_hi USING (l_returnflag)
JOIN p95_f USING (l_returnflag)
ORDER BY t.l_returnflag
""",
)
def q_percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the percentile_cont semantics)
    per return flag -- linear interpolation between the two bracketing
    order statistics at h = (n-1)*p. Both order statistics come from a
    cumulative-count window over the (group, DISTINCT value) domain
    table -- the same no-data-sort shape as q_stats_mad -- and the
    interpolation runs in ONE shared expression text over integer
    ranks and pass-through parquet doubles, so the result doubles are
    bit-identical across engines (each engine's percentile_cont
    builtin would not be). 3-row joins broadcast; the only corpus-
    sized work is the first (flag, price) aggregate."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_returnflag"), F.col("l_extendedprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # ONE distributed selection serves all four rank lookups
    # (operators/prefix.py value_at_ranks, r8): the cumulative domain
    # table is never materialized -- bucket counts locate each rank's
    # bucket and only those buckets are window-sorted. (The r7
    # spelling built + checkpointed the full cumulative table and
    # filtered it four times.)
    k50_lo, k50_hi = _pcont_ranks(50)
    k95_lo, k95_hi = _pcont_ranks(95)
    out = P.value_at_ranks(
        counts, "v", F.col("cnt"),
        {"p50_v_lo": k50_lo, "p50_v_hi": k50_hi,
         "p95_v_lo": k95_lo, "p95_v_hi": k95_hi},
        group_cols=["l_returnflag"],
    ).withColumn(
        "p50_frac", (F.col("n_g") - 1) * 50 % 100
    ).withColumn(
        "p95_frac", (F.col("n_g") - 1) * 95 % 100
    )
    e50 = (
        _INTERP.replace("v_lo", "p50_v_lo")
        .replace("v_hi", "p50_v_hi")
        .replace("frac_pct", "p50_frac")
    )
    e95 = (
        _INTERP.replace("v_lo", "p95_v_lo")
        .replace("v_hi", "p95_v_hi")
        .replace("frac_pct", "p95_frac")
    )
    return out.selectExpr(
        "l_returnflag",
        "n_g",
        f"{e50} AS p50_price",
        f"{e95} AS p95_price",
    ).orderBy("l_returnflag")
