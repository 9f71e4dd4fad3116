"""Merge-on-read deletion-vector invariants (queries/
deletion_vectors.py): the MOR read never shuffles the base, the DELETE
leaves every base file byte-identical, sidecars stay delta-sized, and
the MOR->COW compaction folds them away losslessly."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
    _DEL_MOD,
    apply_deletion_vectors,
    delete_keys,
    mor_read,
    write_deletion_vectors,
)
from discogs_xml_to_parquet_spark.tablefmt import (
    _inventory,
    staged_partitioned_orders,
)
from tests.conftest import SF_SMOKE


def test_mor_read_is_broadcast_left_anti(spark):
    """The read-side merge tax is ONE BroadcastHashJoin LeftAnti: the
    base is scanned, never shuffled; the key set rides as a
    broadcast."""
    from tests.test_plans import plan_of

    base = staged_partitioned_orders(spark, SF_SMOKE)
    dv_dir, _ = write_deletion_vectors(spark, SF_SMOKE, base)
    plan = plan_of(mor_read(spark, base, dv_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LeftAnti" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Exchange hashpartitioning" not in tree, tree


def test_delete_leaves_base_byte_identical(spark):
    """The merge-on-read point: after the DELETE, every base data file
    is byte-identical -- nothing rewritten, nothing removed -- and the
    facts the driver row carries are actually true, not vacuous."""
    base = staged_partitioned_orders(spark, SF_SMOKE)
    before = _inventory(base)
    _, facts = write_deletion_vectors(spark, SF_SMOKE, base)
    assert _inventory(base) == before
    assert facts["base_untouched"] is True
    assert facts["dv_smaller_than_rewrite"] is True
    assert facts["n_dv_months"] > 0


def test_compaction_folds_sidecars_losslessly(spark, tmp_path):
    """MOR -> COW: after apply_deletion_vectors on a scratch copy, a
    PLAIN scan (no merge tax) returns exactly what the MOR read
    returned before, the compacted partitions' DVs are gone, and the
    live row set equals the predicate's complement."""
    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = str(tmp_path / "tbl")
    shutil.copytree(base, scratch)
    dv_dir, _ = write_deletion_vectors(spark, SF_SMOKE, scratch)
    want = sorted(
        r["o_orderkey"]
        for r in mor_read(spark, scratch, dv_dir)
        .select("o_orderkey").collect()
    )
    months = apply_deletion_vectors(spark, scratch, dv_dir)
    assert months, "no partitions compacted"
    assert not list(Path(dv_dir).glob("o_month=*"))
    got = sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(scratch)
        .select("o_orderkey").collect()
    )
    assert got == want
    assert all(k % _DEL_MOD != 0 for k in got)


def test_mor_read_with_no_sidecars_is_plain_scan(spark, tmp_path):
    """An empty _dv root means 'no deletes', not a schema-inference
    crash: the MOR read must return the full base."""
    base = staged_partitioned_orders(spark, SF_SMOKE)
    empty_dv = tmp_path / "dv"
    empty_dv.mkdir()
    n_base = spark.read.parquet(base).count()
    assert mor_read(spark, base, str(empty_dv)).count() == n_base


def test_compaction_drops_fully_deleted_partition(spark, tmp_path):
    """A DELETE that empties a partition entirely: compaction must
    remove the partition directory, not crash moving a file that was
    never written."""
    tbl = str(tmp_path / "t")
    spark.createDataFrame(
        [(17, "1995-01", 1.0), (34, "1995-01", 2.0), (5, "1995-02", 3.0)],
        "o_orderkey long, o_month string, o_totalprice double",
    ).write.partitionBy("o_month").parquet(tbl)
    dv = str(tmp_path / "dv")
    delete_keys(spark, tbl).write.partitionBy("o_month").parquet(dv)
    months = apply_deletion_vectors(spark, tbl, dv)
    assert "o_month=1995-01" in months
    assert not (Path(tbl) / "o_month=1995-01").exists()
    assert [r["o_orderkey"] for r in
            spark.read.parquet(tbl).collect()] == [5]


# ---- positional deletion vectors (r12) -------------------------------


def test_positional_read_is_broadcast_left_anti(spark):
    """Same read-side contract as the equality form: ONE
    BroadcastHashJoin LeftAnti on the delta-sized (file, position)
    set; the base is scanned, never shuffled."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        positional_read,
        write_positional_dvs,
    )
    from tests.test_plans import plan_of

    base = staged_partitioned_orders(spark, SF_SMOKE)
    pdv_dir, _ = write_positional_dvs(spark, SF_SMOKE, base)
    plan = plan_of(positional_read(spark, base, pdv_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LeftAnti" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "Exchange hashpartitioning" not in tree, tree


def test_positional_read_never_reads_key_column(spark):
    """THE advantage over equality sidecars, pinned in the plan: an
    aggregate over (priority, totalprice) through the positional MOR
    read never reads o_orderkey -- the subtraction rides the scan's
    row identity. The equality sibling's plan, by contrast, must
    carry the key into every read just to apply the anti-join."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        mor_read,
        positional_read,
        write_deletion_vectors,
        write_positional_dvs,
    )
    from discogs_xml_to_parquet_spark.functions.exact import dsum
    from pyspark.sql import functions as F2
    from tests.test_plans import plan_of

    base = staged_partitioned_orders(spark, SF_SMOKE)

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            dsum(F2.col("o_totalprice")).alias("t"))

    pdv_dir, _ = write_positional_dvs(spark, SF_SMOKE, base)
    assert "o_orderkey" not in plan_of(
        agg(positional_read(spark, base, pdv_dir)))
    dv_dir, _ = write_deletion_vectors(spark, SF_SMOKE, base)
    assert "o_orderkey" in plan_of(agg(mor_read(spark, base, dv_dir)))


def test_positional_delete_leaves_base_byte_identical(spark):
    """After the positional DELETE every base data file is
    byte-identical (md5, not just stat) and the driver-row facts are
    true, not vacuous."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        write_positional_dvs,
    )

    base = staged_partitioned_orders(spark, SF_SMOKE)
    before = _inventory(base)
    _, facts = write_positional_dvs(spark, SF_SMOKE, base)
    assert _inventory(base) == before
    assert facts["base_untouched"] is True
    assert facts["pdv_smaller_than_rewrite"] is True
    assert facts["n_pdv_months"] > 0


def test_positional_subtraction_matches_predicate(spark):
    """The position set resolved at write time subtracts EXACTLY the
    predicate's rows at read time -- the row-identity round trip
    (file paths and indices stable across the two scans)."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        _PDEL_MOD,
        positional_read,
        write_positional_dvs,
    )

    base = staged_partitioned_orders(spark, SF_SMOKE)
    pdv_dir, _ = write_positional_dvs(spark, SF_SMOKE, base)
    live = sorted(
        r["o_orderkey"]
        for r in positional_read(spark, base, pdv_dir)
        .select("o_orderkey").collect())
    want = sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(base)
        .filter(F.col("o_orderkey") % _PDEL_MOD != 0)
        .select("o_orderkey").collect())
    assert live == want


def test_positional_compaction_folds_losslessly(spark, tmp_path):
    """MOR -> COW for the positional form: after apply_positional_dvs
    on a scratch copy, a PLAIN scan equals what the MOR read returned,
    and the compacted partitions' delete files are gone."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        _PDEL_MOD,
        apply_positional_dvs,
        positional_read,
        write_positional_dvs,
    )

    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = str(tmp_path / "tbl")
    shutil.copytree(base, scratch)
    pdv_dir, _ = write_positional_dvs(spark, SF_SMOKE, scratch)
    want = sorted(
        r["o_orderkey"]
        for r in positional_read(spark, scratch, pdv_dir)
        .select("o_orderkey").collect())
    months = apply_positional_dvs(spark, scratch, pdv_dir)
    assert months, "no partitions compacted"
    assert not list(Path(pdv_dir).glob("o_month=*"))
    got = sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(scratch)
        .select("o_orderkey").collect())
    assert got == want
    assert all(k % _PDEL_MOD != 0 for k in got)


def test_positional_read_with_no_sidecars_is_plain_scan(spark, tmp_path):
    """An empty _pdv root means 'no deletes', not a schema-inference
    crash."""
    from discogs_xml_to_parquet_spark.queries.deletion_vectors import (
        positional_read,
    )

    base = staged_partitioned_orders(spark, SF_SMOKE)
    empty = tmp_path / "pdv"
    empty.mkdir()
    n_base = spark.read.parquet(base).count()
    assert positional_read(spark, base, str(empty)).count() == n_base
