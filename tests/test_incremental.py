"""Incremental rollup: the merge must equal the one-shot recompute for
ANY refresh boundary, not just the registered query's 7-day cutoff —
the property that makes an IVM pipeline restartable at arbitrary
checkpoints. Also pins three-way merge associativity (base + two
deltas), the shape of two consecutive refreshes."""

from __future__ import annotations

from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.incremental import (
    _rollup,
    merge_rollups,
)
from discogs_xml_to_parquet_spark.tables import load
from tests.conftest import SF_SMOKE


def _final(df):
    return (
        df.select(
            "day", "event_type", "n_events",
            F.col("sum_scaled").cast("string").alias("sum_s"),
            "min_value", "max_value",
        )
        .orderBy("day", "event_type")
        .collect()
    )


def test_merge_equals_recompute_at_any_boundary(spark):
    e = load(spark, SF_SMOKE, "events")
    want = _final(_rollup(e))
    # three boundaries: near the start, mid-corpus, near the end --
    # each splits at least one day across base/delta
    for frac_days in (2, 15, 27):
        cut = e.agg(
            (F.min("ts") + F.expr(f"INTERVAL {frac_days} DAYS")
             + F.expr("INTERVAL 7 HOURS")).alias("cut")
        )
        tagged = e.crossJoin(F.broadcast(cut))
        base = _rollup(tagged.filter(F.col("ts") < F.col("cut")))
        delta = _rollup(tagged.filter(F.col("ts") >= F.col("cut")))
        got = _final(merge_rollups(base, delta))
        assert got == want, f"merge != recompute at day {frac_days}"


def test_three_way_merge_is_associative(spark):
    """Two consecutive refreshes: ((base ⊕ delta1) ⊕ delta2) must equal
    the one-shot rollup — the accumulators (long +, decimal(38,0) +,
    double min/max) are associative, so any refresh cadence lands on
    the same state."""
    e = load(spark, SF_SMOKE, "events")
    want = _final(_rollup(e))
    cuts = e.agg(
        (F.min("ts") + F.expr("INTERVAL 10 DAYS")).alias("c1"),
        (F.min("ts") + F.expr("INTERVAL 20 DAYS")
         + F.expr("INTERVAL 3 HOURS")).alias("c2"),
    )
    tagged = e.crossJoin(F.broadcast(cuts))
    base = _rollup(tagged.filter(F.col("ts") < F.col("c1")))
    d1 = _rollup(tagged.filter(
        (F.col("ts") >= F.col("c1")) & (F.col("ts") < F.col("c2"))))
    d2 = _rollup(tagged.filter(F.col("ts") >= F.col("c2")))
    got = _final(merge_rollups(merge_rollups(base, d1), d2))
    assert got == want


def test_merge_with_empty_delta_is_identity(spark):
    """A refresh that finds no new rows must leave the stored state
    bit-identical -- the no-op refresh a scheduled IVM job hits most
    of the time."""
    e = load(spark, SF_SMOKE, "events")
    base = _rollup(e)
    empty = _rollup(e.filter(F.lit(False)))
    assert _final(merge_rollups(base, empty)) == _final(base)


# ---- join-view IVM (q_incremental_join_view, r12) -------------------


def test_join_refresh_scans_are_all_partition_pruned(spark):
    """Every scan in the refresh plan -- both deltas AND both
    complements -- carries a month PartitionFilter: the refresh never
    lists, let alone reads, outside its term's month slice, and the
    stored MV enters as its materialized form (exactly one
    ExistingRDD), so the O(history x history) base pair term never
    re-joins."""
    from discogs_xml_to_parquet_spark.queries.incremental import (
        _JV_CUTOFF,
        join_view_base,
        join_view_refresh,
        staged_lineitem_by_shipmonth,
    )
    from discogs_xml_to_parquet_spark.tablefmt import (
        staged_partitioned_orders,
    )
    from tests.test_plans import plan_of

    a_dir = staged_partitioned_orders(spark, SF_SMOKE)
    b_dir = staged_lineitem_by_shipmonth(spark, SF_SMOKE)
    mv = join_view_base(spark, a_dir, b_dir).localCheckpoint()
    plan = plan_of(join_view_refresh(spark, mv, a_dir, b_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan ExistingRDD") == 1, tree
    # three terms x two sides = six scans, every one pruned
    n_scans = plan.count("PartitionFilters:")
    assert n_scans == 6, plan
    for seg in plan.split("PartitionFilters:")[1:]:
        pf = seg.splitlines()[0]
        assert _JV_CUTOFF in pf, pf
        assert pf.strip() not in ("[]",), pf


def test_join_delta_terms_are_disjoint_and_nonvacuous(spark):
    """The three delta terms partition the new pairs: every term is
    non-empty on this corpus (ship dates independent of order dates),
    and MV pairs + term pairs == the full join's pair count -- no
    pair double-counted across terms, none missed."""
    from discogs_xml_to_parquet_spark.queries.incremental import (
        _JV_CUTOFF,
        _jv_state,
        join_view_base,
        staged_lineitem_by_shipmonth,
    )
    from discogs_xml_to_parquet_spark.tablefmt import (
        staged_partitioned_orders,
    )

    a_dir = staged_partitioned_orders(spark, SF_SMOKE)
    b_dir = staged_lineitem_by_shipmonth(spark, SF_SMOKE)
    orders = spark.read.parquet(a_dir)
    items = spark.read.parquet(b_dir)
    on = F.col("l_orderkey") == F.col("o_orderkey")

    def pairs(a, b):
        return b.join(a, on).count()

    a0 = orders.filter(F.col("o_month") < _JV_CUTOFF)
    da = orders.filter(F.col("o_month") >= _JV_CUTOFF)
    b0 = items.filter(F.col("l_month") < _JV_CUTOFF)
    db = items.filter(F.col("l_month") >= _JV_CUTOFF)
    n_base = pairs(a0, b0)
    n_terms = [pairs(da, b0), pairs(a0, db), pairs(da, db)]
    assert all(n > 0 for n in n_terms), n_terms
    total = pairs(orders, items)
    assert n_base + sum(n_terms) == total
    # and the registered state agrees with the raw pair counts
    mv_items = sum(
        r["n_items"]
        for r in join_view_base(spark, a_dir, b_dir).collect())
    assert mv_items == n_base
    del _jv_state  # imported for API-stability only


def test_join_refresh_equals_recompute(spark):
    """merge(MV, delta terms) == the one-shot view over the staged
    trees, cell-exact -- the IVM contract, independent of the DuckDB
    oracle (which pins the same thing against the raw tables)."""
    from discogs_xml_to_parquet_spark.queries.incremental import (
        _jv_items,
        _jv_orders,
        _jv_state,
        join_view_base,
        join_view_refresh,
        staged_lineitem_by_shipmonth,
    )
    from discogs_xml_to_parquet_spark.tablefmt import (
        staged_partitioned_orders,
    )
    from discogs_xml_to_parquet_spark.functions.exact import unscale

    a_dir = staged_partitioned_orders(spark, SF_SMOKE)
    b_dir = staged_lineitem_by_shipmonth(spark, SF_SMOKE)
    mv = join_view_base(spark, a_dir, b_dir).localCheckpoint()
    got = join_view_refresh(spark, mv, a_dir, b_dir).collect()
    want = (
        _jv_state(
            _jv_items(spark.read.parquet(b_dir)).join(
                _jv_orders(spark.read.parquet(a_dir)),
                F.col("l_orderkey") == F.col("o_orderkey"))
        )
        .select("priority", "n_items",
                unscale(F.col("rev_scaled")).alias("revenue"))
        .orderBy("priority")
        .collect()
    )
    assert got == want
