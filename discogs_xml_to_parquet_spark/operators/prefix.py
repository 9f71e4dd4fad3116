"""Distributed prefix (running) aggregates over a global ordering.

Spark's `Window.orderBy(...)` WITHOUT a partitionBy collapses the whole
input into ONE task (`Exchange SinglePartition` + single sort) -- fine
for a 32-row day table, a scale-killer when the ordered domain is the
data itself (e.g. a running sum over 58M distinct prices at 100x). The
classic distributed spelling used here:

  1. assign every row a bucket id `_pid` that is MONOTONE along the
     ordering -- all rows of bucket i order before all rows of bucket
     i+1, equal leading keys share a bucket;
  2. a WITHIN-bucket running aggregate (window partitioned by `_pid`
     -- each bucket is one bounded task, so the longest task is
     ~domain/P rows, not the domain);
  3. per-bucket totals (P rows) get a tiny prefix scan of their own
     (the only SinglePartition exchange left -- over P rows), and the
     resulting bucket OFFSETS broadcast-join back.

Bucket assignment (r8, replacing r7's repartitionByRange +
spark_partition_id): `_pid` is a PURE FUNCTION of the leading order
column -- count of quantile boundaries the value passes, boundaries
fetched once per call via approxQuantile (a Greenwald-Khanna sketch
pass; P-1 doubles to the driver -- statistics metadata, not data).
The r7 ADVICE found the real hazard in the partition-id spelling: the
ranged frame feeds TWO plan branches (the within-bucket window and
the offsets aggregate), each branch instantiated its own
rangepartitioning exchange (no ReusedExchange, measured), and
repartitionByRange boundary sampling depends on upstream
intra-partition row order, which a cluster does not guarantee stable
across evaluations -- so the branches could disagree on `_pid` and
silently mis-add offsets. A pure-function `_pid` is branch-safe BY
CONSTRUCTION -- re-evaluating it anywhere always yields the same
bucket -- and the explicit range exchange disappears entirely (the
window's hash exchange on (group, _pid) does the placement). The
input is ALSO staged once (staging.stage_df, see _bucketed) so the
three consumers (sketch, window, offsets) evaluate the upstream one
time -- for q_budget_select the upstream is a tokenization pass worth
seconds per duplicate evaluation.

Boundary quality only affects load BALANCE, never correctness: any
monotone bucket function yields the same cumulative values, so a
skewed sketch or duplicate boundaries just means uneven buckets.
tests/test_prefix.py pins value-identity against the single-task
spelling including boundary/tie straddling; tests/test_plans.py
asserts no domain-ordered unpartitioned window in the consumer plans.

Cost: one upstream evaluation + one domain materialization + a coarse
sketch over materialized rows + one hash exchange of the domain
(window) + one partial-aggregated exchange (offsets, P rows per
mapper) + one broadcast, no single-task stage. Exactness: pure
integer/ordered arithmetic, same cumulative values as the single-task
spelling -- oracles unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.staging import stage_df

_PARTS = 32  # buckets; size to executor count at scale


def _leading(df: DataFrame, order_cols: list[Column]) -> tuple[str, bool]:
    """(column name, descending?) of the leading sort key. The
    operator's contract: the leading key is a PLAIN COLUMN of df
    (every tie-broken total order here starts with one), with Spark's
    default null placement -- introspected from the Column repr, the
    only surface PySpark exposes for sort direction."""
    s = str(order_cols[0])  # Column<'v ASC NULLS FIRST'>
    inner = s[len("Column<'"):-2]
    if "DESC NULLS FIRST" in inner or "ASC NULLS LAST" in inner:
        raise ValueError(
            f"non-default null placement unsupported: {inner}")
    name = inner.split(" ")[0]
    if name not in df.columns:
        raise ValueError(
            f"leading order key {name!r} must be a plain column of df "
            f"(columns: {df.columns})")
    return name, " DESC" in inner


def quantile_bounds(
    df: DataFrame, name: str, parts: int = _PARTS
) -> list[float]:
    """The boundary sketch _bucketed uses (one approxQuantile driver
    action at coarse precision), exposed (r15, VERDICT r14 item 8) so
    a caller running SEVERAL selection passes can pay the sketch once
    and derive the later passes' boundaries arithmetically -- boundary
    quality affects load BALANCE only, never correctness (any sorted
    double list yields a monotone pure `_pid`), so a derived boundary
    set is exactly as correct as a measured one."""
    probs = [i / parts for i in range(1, parts)]
    return df.approxQuantile(name, probs, max(0.02, 1.0 / (4 * parts)))


def _bucketed(
    df: DataFrame, order_cols: list[Column], parts: int,
    stage: bool = True, bounds: list[float] | None = None
) -> DataFrame:
    """df + `_pid` = quantile bucket of the leading order key,
    monotone along the order, pure per row (branch-safe -- see module
    docstring).

    `stage` runs the input through staging.stage_df first: the
    operator consumes it in THREE places (boundary sketch,
    within-bucket window, offsets aggregate), and staging turns that into one upstream evaluation +
    two cheap re-reads (measured: materializing the 583k-row sf0.1
    price domain costs ~0.2 s over computing it; re-read 0.17 s;
    recomputing an expensive upstream like q_budget_select's
    tokenization pass costs SECONDS per extra branch). Because `_pid`
    is pure, staging is purely a COST choice, never a correctness one
    -- but interleaved A/B at sf0.1 measured staged FASTER on every
    call site (mad 6.2 vs 11.0 s, histogram 1.8 vs 3.2 s: the serial
    materialization job is cheaper than re-running even a scan-shaped
    aggregate upstream in three plan branches), so the default stands
    everywhere. The boundary sketch runs at coarse
    precision (0.5 s at relErr 0.02 vs 2.1 s at high precision --
    precision only buys balance, never correctness).

    `bounds` (r15): a precomputed sorted boundary list skips the
    sketch action entirely -- for callers that already hold one (or
    can derive one) for this domain. Purely a balance input, same as
    the sketch it replaces."""
    if stage:
        df = stage_df(df)
    name, desc = _leading(df, order_cols)
    if bounds is None:
        bounds = quantile_bounds(df, name, parts)
    if not bounds:  # empty input: one bucket
        return df.withColumn("_pid", F.lit(0))
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    v = F.col(name).cast("double")  # monotone; compares to sketch doubles
    if desc:
        cnt = F.aggregate(
            arr, F.lit(0), lambda a, b: a + F.when(v < b, 1).otherwise(0)
        )
        pid = F.when(v.isNull(), F.lit(parts - 1)).otherwise(cnt)
    else:
        cnt = F.aggregate(
            arr, F.lit(0), lambda a, b: a + F.when(v > b, 1).otherwise(0)
        )
        pid = F.when(v.isNull(), F.lit(0)).otherwise(cnt)
    return df.withColumn("_pid", pid)


def running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str,
    parts: int = _PARTS,
    group_cols: list[str] | tuple[str, ...] = (),
    stage: bool = True,
) -> DataFrame:
    """df + `out` = inclusive running sum of `value` over the total
    order `order_cols` (which must be total -- break ties with a unique
    key, the registry-wide determinism rule).

    Contract (ADVICE r8): the LEADING key of `order_cols` must be a
    plain NUMERIC column of df with default null placement -- the
    bucket boundaries come from approxQuantile, which accepts only
    numeric columns. Expressions, strings, or custom null placement
    raise fast in _leading/_bucketed; narrower than the old
    repartitionByRange spelling accepted, by design (purity of `_pid`
    is what makes the operator branch-safe).

    `group_cols` restarts the sum per group WITHOUT one-task-per-group
    (the Window.partitionBy(g) trap when groups are few and huge --
    e.g. 3 return flags over a ~583k-value price domain): the bucket
    function is global, the within-bucket window restarts per
    (group, _pid), and the offsets accumulate per group across its
    buckets."""
    gcols = list(group_cols)
    r = _bucketed(df, order_cols, parts, stage)
    w_in = Window.partitionBy(*gcols, "_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = r.withColumn("_local", F.sum(value).over(w_in))
    w_off = Window.partitionBy(*gcols).orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        r.groupBy(*gcols, "_pid")
        .agg(F.sum(value).alias("_ptot"))
        .withColumn("_off", F.sum("_ptot").over(w_off))
        .select(*gcols, "_pid", "_off")
    )
    return (
        r.join(F.broadcast(offs), gcols + ["_pid"])
        # mirror Window sum's null semantics exactly: NULL only when
        # the whole inclusive frame holds no non-null value -- i.e.
        # BOTH the within-bucket sum and the prior-bucket carry are
        # null. Coalescing only _off (the old spelling) returned NULL
        # whenever a row's own bucket prefix was all-null, dropping
        # the carried total (review r11; latent -- current callers
        # sum non-null counts).
        .withColumn(out, F.when(
            F.col("_local").isNull() & F.col("_off").isNull(),
            F.lit(None),
        ).otherwise(
            F.coalesce(F.col("_local"), F.lit(0))
            + F.coalesce(F.col("_off"), F.lit(0))
        ))
        .select(*df.columns, out)  # join reorders keys first; restore
    )


def running_max_strict(
    df: DataFrame,
    order_cols: list[Column],
    value: Column,
    out: str,
    parts: int = _PARTS,
    stage: bool = True,
) -> DataFrame:
    """df + `out` = max of `value` over rows STRICTLY preceding in the
    total order `order_cols` (null for the first row) -- the skyline /
    dominance scan primitive. Same leading-key contract as running_sum:
    a plain numeric column of df, default null placement (see its
    docstring; tests/test_prefix.py pins the Column-repr surface the
    introspection relies on)."""
    r = _bucketed(df, order_cols, parts, stage)
    w_in = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = r.withColumn("_local", F.max(value).over(w_in))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        r.groupBy("_pid")
        .agg(F.max(value).alias("_ptot"))
        .withColumn("_off", F.max(F.col("_ptot")).over(w_off))
        .select("_pid", "_off")
    )
    return (
        r.join(F.broadcast(offs), "_pid")
        .withColumn(out, F.greatest(F.col("_local"), F.col("_off")))
        .drop("_pid", "_local", "_off")
    )


def value_at_ranks(
    df: DataFrame,
    order_col: str,
    weight: Column,
    rank_exprs: dict[str, Column],
    group_cols: list[str] | tuple[str, ...] = (),
    parts: int = _PARTS,
    stage: bool = True,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Distributed SELECTION: per group, the value of `order_col` at
    one or more target ranks (1-based, in `weight` units; value at
    rank k = MIN(v) with cumulative weight >= k -- the discrete order
    statistic both engines agree on). Each entry of `rank_exprs` maps
    an output column name to a rank expression over `n_g` (the group's
    exact total weight, provided by this operator), e.g.
    {"med": F.floor((F.col("n_g") + 1) / 2)}.

    Returns one row per group: (*group_cols, n_g, <tag> columns).

    Why not running_sum + filter: a rank LOOKUP does not need the
    cumulative value on every row. This operator computes per-bucket
    weight totals (G x P rows), locates each target rank's bucket with
    a tiny prefix scan over those totals, and window-sorts ONLY the
    hit buckets (~domain/P rows per lookup) -- the full domain is
    never window-sorted at all. Cost: one upstream evaluation
    (staged), one coarse boundary sketch, one map-side-combined
    aggregate of the domain, and one broadcast-joined mini-sort of the
    candidate buckets. At 100 TB the domain passes are scan-shaped
    (codegen, no sort); the only sorts touch 1/P of the domain.

    Ranks outside [1, n_g] find no bucket and yield null -- callers'
    rank expressions (median, percentile_cont brackets) are bounded by
    construction."""
    gcols = list(group_cols)
    r = _bucketed(df, [F.col(order_col).asc()], parts, stage, bounds)
    bc = r.groupBy(*gcols, "_pid").agg(F.sum(weight).alias("_bn"))
    w_bc = Window.partitionBy(*gcols).orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bc = bc.withColumn(
        "_before", F.coalesce(F.sum("_bn").over(w_bc), F.lit(0))
    )
    tot = bc.groupBy(*gcols).agg(F.sum("_bn").cast("bigint").alias("n_g"))
    tags = list(rank_exprs)
    ranks = tot.select(
        *gcols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(t).alias("_tag"),
                    rank_exprs[t].cast("bigint").alias("_rank"),
                )
                for t in tags
            ])
        ).alias("_tr"),
    ).select(*gcols, F.col("_tr._tag").alias("_tag"),
             F.col("_tr._rank").alias("_rank"))
    sel = (
        ranks.join(bc, gcols) if gcols else ranks.crossJoin(bc)
    ).filter(
        (F.col("_rank") > F.col("_before"))
        & (F.col("_rank") <= F.col("_before") + F.col("_bn"))
    ).select(*gcols, "_tag", "_rank", "_pid", "_before")
    cand = r.join(F.broadcast(sel), gcols + ["_pid"])
    w_in = Window.partitionBy(*gcols, "_pid", "_tag").orderBy(
        order_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals = (
        cand.withColumn("_lc", F.sum(weight).over(w_in))
        .filter(F.col("_before") + F.col("_lc") >= F.col("_rank"))
        .groupBy(*gcols, "_tag")
        .agg(F.min(order_col).alias("_v"))
    )
    piv = vals.groupBy(*gcols).agg(*[
        F.min(F.when(F.col("_tag") == t, F.col("_v"))).alias(t)
        for t in tags
    ]) if gcols else vals.agg(*[
        F.min(F.when(F.col("_tag") == t, F.col("_v"))).alias(t)
        for t in tags
    ])
    # LEFT join: a group whose every rank expression lands outside
    # [1, n_g] has no piv row; the contract says its (n_g) row returns
    # with null tag columns, not silently vanishes (review r11). The
    # ungrouped branch needs no left join: a global agg over an empty
    # `vals` still yields exactly one (all-null) row.
    return (tot.join(F.broadcast(piv), gcols, "left") if gcols
            else tot.crossJoin(F.broadcast(piv)))
