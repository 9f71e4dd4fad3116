"""Copy-on-write MERGE invariants (queries/merge.py): partition-pruned
read, broadcast anti-join, file-level copy-on-write contract, and
idempotence (re-applying the same delta is a no-op on content)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.merge import (
    _MONTH_HI,
    _MONTH_LO,
    affected_read,
    delta_frame,
    merge_upsert,
    run_merge,
)
from discogs_xml_to_parquet_spark.tablefmt import (
    _inventory,
    staged_partitioned_orders,
)
from tests.conftest import SF_SMOKE


def test_merge_read_is_partition_pruned(spark):
    """The base read must prune on the PARTITION column: the scan's
    PartitionFilters carry the month bounds, so only the delta's 6
    month dirs (of ~80) are ever opened -- the O(affected), never
    O(table), property a 100 TB MERGE lives on."""
    from tests.test_plans import plan_of

    scratch = staged_partitioned_orders(spark, SF_SMOKE)
    plan = plan_of(affected_read(spark, scratch))
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert _MONTH_LO in pf and _MONTH_HI in pf, pf
    # and the data-column side carries NO pushed filter: the predicate
    # is resolved entirely from directory names
    assert ">= 1995-01" in pf, pf


def test_merge_antijoin_broadcasts_delta(spark):
    """The survivors anti-join must broadcast the delta keys: a MERGE
    delta is batch-sized, and shuffling the base to join it would cost
    more than the rewrite itself."""
    from tests.test_plans import plan_of

    scratch = staged_partitioned_orders(spark, SF_SMOKE)
    delta = delta_frame(spark, SF_SMOKE)
    lane = affected_read(spark, scratch).join(
        F.broadcast(delta.select("o_orderkey")),
        on="o_orderkey", how="left_anti")
    plan = plan_of(lane)
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_merge_copy_on_write_contract(spark):
    """File-level audit: untouched partitions byte-identical, affected
    partitions fully replaced, swap confined to the delta's range."""
    scratch, facts = run_merge(spark, SF_SMOKE)
    assert facts["untouched_preserved"], facts
    assert facts["affected_rewritten"], facts
    months = [m.split("=", 1)[1] for m in facts["months"]]
    assert all(_MONTH_LO <= m <= _MONTH_HI for m in months), months
    shutil.rmtree(scratch, ignore_errors=True)


def test_merge_is_idempotent(spark):
    """Upsert algebra: applying the same delta twice must yield the
    same table -- updates overwrite to the same values, inserts
    replace their own first-pass copies via the anti-join."""
    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = tempfile.mkdtemp(prefix="spark_graft_merge_idem_")
    shutil.rmtree(scratch)
    shutil.copytree(base, scratch)
    delta = delta_frame(spark, SF_SMOKE)
    merge_upsert(spark, scratch, delta)
    once = spark.read.parquet(scratch).cache()
    n_once = once.count()
    merge_upsert(spark, scratch, delta)
    twice = spark.read.parquet(scratch)
    assert twice.count() == n_once
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    once.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)


def test_merge_counts(spark):
    """Row accounting: rows == base + inserts; every update key's
    price moved by exactly +10.00 (checked via the scaled-exact sum
    delta on one month)."""
    from discogs_xml_to_parquet_spark.tables import load

    scratch, _ = run_merge(spark, SF_SMOKE)
    o = load(spark, SF_SMOKE, "orders")
    n_base = o.count()
    win = (
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    n_ins = o.filter(win & (F.col("o_orderkey") % 13 == 0)).count()
    n_upd = o.filter(win & (F.col("o_orderkey") % 7 == 0)).count()
    merged = spark.read.parquet(scratch)
    assert merged.count() == n_base + n_ins
    assert merged.filter(F.col("o_orderstatus") == "I").count() == n_ins
    assert merged.filter(F.col("o_orderstatus") == "U").count() == n_upd
    shutil.rmtree(scratch, ignore_errors=True)


def test_merge_empty_delta_is_noop(spark):
    """A delta with zero rows must leave the table byte-identical --
    no partition rewritten, no file touched (the guard a scheduled
    MERGE job relies on when a feed goes quiet)."""
    from discogs_xml_to_parquet_spark.queries.merge import _COLS

    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = tempfile.mkdtemp(prefix="spark_graft_merge_empty_")
    shutil.rmtree(scratch)
    shutil.copytree(base, scratch)
    before = _inventory(scratch)
    empty = delta_frame(spark, SF_SMOKE).filter(F.lit(False))
    months = merge_upsert(spark, scratch, empty)
    assert months == []
    assert _inventory(scratch) == before
    assert set(empty.columns) == set(_COLS)
    shutil.rmtree(scratch, ignore_errors=True)


def test_merge_out_of_window_delta_raises(spark):
    """ADVICE r10 guard: a delta month outside affected_read's pruned
    window has NO base survivors (they were pruned away), so
    committing it would silently destroy the partition's pre-existing
    rows. The merge must abort BEFORE the swap and leave the table
    byte-identical."""
    import pytest

    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = tempfile.mkdtemp(prefix="spark_graft_merge_oow_")
    shutil.rmtree(scratch)
    shutil.copytree(base, scratch)
    before = _inventory(scratch)
    rogue = delta_frame(spark, SF_SMOKE).limit(5).withColumn(
        "o_month", F.lit("1996-01"))
    with pytest.raises(ValueError, match="outside the pruned read"):
        merge_upsert(spark, scratch, rogue)
    assert _inventory(scratch) == before  # atomic abort: nothing swapped
    shutil.rmtree(scratch, ignore_errors=True)


def test_publish_out_of_window_delta_raises(spark):
    """The same guard on the versioned publish path: nothing published,
    `_current` still names the previous version, previous manifests
    untouched."""
    from pathlib import Path

    import pytest

    from discogs_xml_to_parquet_spark.queries.merge import (
        publish_next_version,
        versioned_merge,
    )

    table, _ = versioned_merge(spark, SF_SMOKE)
    rogue = delta_frame(spark, SF_SMOKE).limit(5).withColumn(
        "o_month", F.lit("1994-12"))
    with pytest.raises(ValueError, match="outside the pruned read"):
        publish_next_version(spark, table, rogue)
    assert (Path(table) / "_current").read_text() == "v1"
    assert not (Path(table) / "v2").exists()
    shutil.rmtree(table, ignore_errors=True)


def test_vacuum_rejects_bad_keep(spark):
    """ADVICE r10 guard: a typo'd keep list must raise instead of
    building an empty referenced set and deleting the whole table; and
    retention may never expire the version `_current` points at."""
    from pathlib import Path

    import pytest

    from discogs_xml_to_parquet_spark.queries.merge import (
        vacuum,
        versioned_merge,
    )

    table, _ = versioned_merge(spark, SF_SMOKE)
    before = sorted(str(p) for p in Path(table).rglob("*"))
    with pytest.raises(ValueError, match="non-existent versions"):
        vacuum(table, keep=["v3"])
    with pytest.raises(ValueError, match="current version"):
        vacuum(table, keep=["v0"])  # current is v1
    assert sorted(str(p) for p in Path(table).rglob("*")) == before
    shutil.rmtree(table, ignore_errors=True)


def test_snapshot_diff_empty_months_is_empty_frame(spark):
    """ADVICE r10 guard: a no-op delta yields an empty manifest diff;
    snapshot_diff must return an empty (o_month, change) frame, not
    crash on min() of an empty sequence."""
    from discogs_xml_to_parquet_spark.queries.merge import snapshot_diff

    out = snapshot_diff(spark, "/nonexistent-table", [])
    assert out.columns == ["o_month", "change"]
    assert out.count() == 0


def test_time_travel_versions(spark):
    """Versioned-manifest properties: v0 readable and equal to the
    base AFTER v1 publishes (snapshot isolation), untouched months
    resolve to the same directories in both versions (O(affected)
    storage), the pointer names v1, and the two snapshots differ by
    exactly the insert count."""
    from pathlib import Path

    from discogs_xml_to_parquet_spark.queries.merge import (
        versioned_merge,
    )
    from discogs_xml_to_parquet_spark.tables import load

    table, facts = versioned_merge(spark, SF_SMOKE)
    assert facts["current"] == "v1"
    assert facts["v0_intact"]
    assert facts["storage_shared"]
    assert facts["n_shared"] > len(facts["rewritten"])  # most months shared

    v0 = spark.read.parquet(str(Path(table) / "v0"))
    v1 = spark.read.parquet(str(Path(table) / "v1"))
    o = load(spark, SF_SMOKE, "orders")
    n_base = o.count()
    assert v0.count() == n_base  # time travel sees the pre-merge world
    n_ins = v1.filter(F.col("o_orderstatus") == "I").count()
    assert v1.count() == n_base + n_ins
    # v0 content equals base orders exactly (checksum columns)
    assert v0.filter(
        F.col("o_orderstatus").isin("U", "I")).count() == 0
    shutil.rmtree(table, ignore_errors=True)


def test_table_diff_manifest_pruning(spark):
    """The diff's scan set comes from METADATA: every month whose
    v0/v1 manifest pointers coincide is skipped (byte-equal by
    copy-on-write construction), every differing month lies in the
    delta's range, and a self-diff (v0 vs v0 semantics: no differing
    months) reads nothing."""
    from discogs_xml_to_parquet_spark.queries.merge import (
        manifest_diff,
        snapshot_diff,
        versioned_merge,
    )

    table, _ = versioned_merge(spark, SF_SMOKE)
    diff_months, shared = manifest_diff(table)
    assert diff_months and shared
    assert len(shared) > len(diff_months)
    months = [m.split("=", 1)[1] for m in diff_months]
    assert all(_MONTH_LO <= m <= _MONTH_HI for m in months)

    # no false diffs: within the differing months, every key the
    # delta did NOT touch classifies as unchanged
    rows = (
        snapshot_diff(spark, table, diff_months)
        .groupBy("change").count().collect()
    )
    by = {r["change"]: r["count"] for r in rows}
    assert "removed" not in by  # the merge never deletes
    assert by.get("added", 0) > 0 and by.get("changed", 0) > 0
    assert by.get("unchanged", 0) > by.get("changed", 0)
    shutil.rmtree(table, ignore_errors=True)


def test_table_diff_reads_are_partition_pruned(spark):
    """The diff's two snapshot reads carry the differing months as
    PartitionFilters -- the shared ~74 month dirs are pruned at
    listing time on BOTH sides of the full-outer join."""
    from discogs_xml_to_parquet_spark.queries.merge import (
        manifest_diff,
        snapshot_diff,
        versioned_merge,
    )
    from tests.test_plans import plan_of

    table, _ = versioned_merge(spark, SF_SMOKE)
    diff_months, _shared = manifest_diff(table)
    plan = plan_of(snapshot_diff(spark, table, diff_months))
    assert plan.count("PartitionFilters") >= 2, plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "1995-0" in pf, pf
    shutil.rmtree(table, ignore_errors=True)


def test_multi_generation_publish_and_vacuum(spark):
    """Three-generation chain + reference-counted VACUUM: v2 applies a
    second, narrower delta on top of v1; vacuuming everything but v2
    deletes EXACTLY the table-owned dirs no kept manifest references
    (v1's first-generation copies of the re-rewritten months), never
    the shared base's storage, and v2's content survives vacuum
    byte-identically."""
    from pathlib import Path

    from discogs_xml_to_parquet_spark.queries.merge import (
        publish_next_version,
        vacuum,
        versioned_merge,
    )

    table, _ = versioned_merge(spark, SF_SMOKE)
    # v1's OWNED months = the dirs the first merge actually rewrote
    # (a delta-free window month stays a pointer, e.g. 1995-05 at
    # this SF)
    v1_owned = sorted(
        p.name for p in (Path(table) / "v1").glob("o_month=*")
        if not p.is_symlink())
    # second delta: re-touch a SUBSET of the window months (narrower
    # range), so v2 rewrites some of v1's months and shares the rest
    delta2 = delta_frame(spark, SF_SMOKE).filter(
        (F.col("o_month") >= "1995-02") & (F.col("o_month") <= "1995-03")
    ).withColumn("o_orderstatus", F.lit("W"))
    cur = publish_next_version(spark, table, delta2)
    assert cur == "v2"

    v2_before = (
        spark.read.parquet(str(Path(table) / "v2"))
        .groupBy("o_orderstatus").count().collect()
    )
    by = {r["o_orderstatus"]: r["count"] for r in v2_before}
    assert by.get("W", 0) > 0  # the second generation landed

    facts = vacuum(table, keep=["v2"])
    # exactly v1's own copies of the re-rewritten months die: v1 owned
    # six real dirs; v2 re-rewrote 1995-02/03, so those two v1 dirs
    # are unreferenced; v1's other four dirs are v2 pointer targets
    assert sorted(facts["deleted_dirs"]) == [
        "v1/o_month=1995-02", "v1/o_month=1995-03"]
    assert facts["bytes_reclaimed"] > 0
    # v0 was pure pointers -> gone entirely; v1 survives only as a
    # data husk holding exactly its owned-and-still-referenced dirs
    # (its snapshot is no longer readable: every pointer stripped)
    assert not (Path(table) / "v0").exists()
    v1_left = sorted(p.name for p in (Path(table) / "v1").iterdir())
    expect = [m for m in v1_owned
              if m not in ("o_month=1995-02", "o_month=1995-03")]
    assert v1_left == expect
    assert not any(
        p.is_symlink() for p in (Path(table) / "v1").iterdir())

    v2_after = (
        spark.read.parquet(str(Path(table) / "v2"))
        .groupBy("o_orderstatus").count().collect()
    )
    assert sorted(map(tuple, v2_after)) == sorted(map(tuple, v2_before))
    # the shared staged base is untouched: a fresh versioned_merge
    # still stages/reads it fine
    table2, facts2 = versioned_merge(spark, SF_SMOKE)
    assert facts2["v0_intact"]
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(table2, ignore_errors=True)


def test_run_retention_facts(spark):
    """The q_vacuum_retention lane's layout audit: vacuum(keep=[v0,v2])
    over the 3-generation chain reclaims EXACTLY v1's own copies of
    the months v2 re-rewrote (1995-04..06, delta2's Q2 window), both
    kept snapshots stay byte-identical, and the expired v1 loses
    months (pointers stripped + unreferenced dirs gone)."""
    from discogs_xml_to_parquet_spark.queries.merge import run_retention

    table, facts = run_retention(spark, SF_SMOKE)
    assert facts["bytes_reclaimed"] > 0
    assert facts["kept_intact"]
    assert facts["expired_unreadable"]
    deleted = sorted(facts["deleted_dirs"])
    # every reclaimed dir is a v1 generation of a Q2 month (delta2's
    # window); at least one exists. (Which Q2 months v1 owns is
    # SF-dependent -- a delta-free month stays a pointer, e.g.
    # 1995-05 at the smoke SF.)
    assert deleted, facts
    assert all(
        d.startswith("v1/o_month=1995-0") and d[-1] in "456"
        for d in deleted), deleted
    shutil.rmtree(table, ignore_errors=True)


def test_vacuum_keep_all_is_noop(spark):
    """Retention guard: vacuuming while keeping every version deletes
    nothing and reclaims zero bytes."""
    from pathlib import Path

    from discogs_xml_to_parquet_spark.queries.merge import (
        vacuum,
        versioned_merge,
    )

    table, _ = versioned_merge(spark, SF_SMOKE)
    before = sorted(str(p) for p in Path(table).rglob("*"))
    facts = vacuum(table, keep=["v0", "v1"])
    assert facts == {"deleted_dirs": [], "bytes_reclaimed": 0}
    assert sorted(str(p) for p in Path(table).rglob("*")) == before
    shutil.rmtree(table, ignore_errors=True)
