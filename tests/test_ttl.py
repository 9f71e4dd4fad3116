"""TTL-enforcement invariants (queries/ttl.py): expired partitions
are dropped WITHOUT reading a byte (proven mechanically by making them
unreadable first), exactly one boundary partition is rewritten, and
younger months survive byte-identically."""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.ttl import (
    _CUTOFF,
    _CUTOFF_MONTH,
    enforce_ttl,
)
from discogs_xml_to_parquet_spark.tablefmt import (
    _inventory,
    staged_partitioned_orders,
)
from tests.conftest import SF_SMOKE


def _scratch(spark, tmp_path) -> str:
    base = staged_partitioned_orders(spark, SF_SMOKE)
    scratch = str(tmp_path / "tbl")
    shutil.copytree(base, scratch)
    return scratch


def test_expired_partitions_dropped_without_read(spark, tmp_path):
    """The O(1)-per-partition claim, proven mechanically with a trap
    ROOT CANNOT BYPASS: every data file inside every expired partition
    is replaced by a DIRECTORY of the same name (chmod 000 is vacuous
    under uid 0's DAC_OVERRIDE, which is how this suite runs). Any
    read attempt -- parquet footer, md5 inventory, open() -- raises
    IsADirectoryError regardless of privilege, so a clean run + the
    dirs being gone proves metadata-only disposal in substance."""
    scratch = _scratch(spark, tmp_path)
    expired = [d for d in Path(scratch).glob("o_month=*")
               if d.name.split("=", 1)[1] < _CUTOFF_MONTH]
    assert expired
    n_trapped = 0
    for d in expired:
        for p in list(d.rglob("*")):
            if p.is_file() and not p.name.startswith(("_", ".")):
                p.unlink()
                p.mkdir()        # same name, now a directory
                (p / "trap").write_text("read attempts must fail")
                n_trapped += 1
    assert n_trapped
    facts = enforce_ttl(spark, scratch)
    assert facts["dropped_without_read"] is True
    assert facts["n_dropped_months"] == len(expired)
    assert not any(
        d.name.split("=", 1)[1] < _CUTOFF_MONTH
        for d in Path(scratch).glob("o_month=*"))


def test_boundary_partition_keeps_exact_tail(spark, tmp_path):
    """The one rewritten partition holds exactly the rows at or after
    the cutoff timestamp -- no off-by-one-day at the month's seam."""
    scratch = _scratch(spark, tmp_path)
    want = sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(
            f"{scratch}/o_month={_CUTOFF_MONTH}")
        .filter(F.col("o_orderdate") >= F.lit(_CUTOFF).cast("timestamp"))
        .select("o_orderkey").collect())
    facts = enforce_ttl(spark, scratch)
    assert facts["boundary_rewritten"] is True
    got = sorted(
        r["o_orderkey"]
        for r in spark.read.parquet(
            f"{scratch}/o_month={_CUTOFF_MONTH}")
        .select("o_orderkey").collect())
    assert got == want and got


def test_young_partitions_byte_identical(spark, tmp_path):
    """Months after the boundary are never rewritten: their file
    inventory (names, sizes, md5) is unchanged by enforcement."""
    scratch = _scratch(spark, tmp_path)
    before = {r: v for r, v in _inventory(scratch).items()
              if r.split("/", 1)[0].split("=", 1)[1] > _CUTOFF_MONTH}
    facts = enforce_ttl(spark, scratch)
    after = {r: v for r, v in _inventory(scratch).items()
             if r.split("/", 1)[0].split("=", 1)[1] > _CUTOFF_MONTH}
    assert facts["untouched_preserved"] is True
    assert before == after and before


def test_driver_row_hardlink_scratch_never_touches_base(spark):
    """The registered query's scratch is a HARDLINK clone (r12: a
    byte copy billed O(table) I/O to an O(1)+O(boundary) lane);
    safety rests on enforcement never modifying file content in
    place. Run the full driver row and require every shared-base data
    file byte-identical after it -- a content-mutating regression in
    enforce_ttl would corrupt the base through the links and break
    every sibling lane staged on it."""
    from discogs_xml_to_parquet_spark import registry

    registry.load_all_queries()
    base = staged_partitioned_orders(spark, SF_SMOKE)
    before = _inventory(base)
    rows = registry.QUERIES["q_retention_ttl"](spark, SF_SMOKE).collect()
    assert rows and all(r["untouched_preserved"] for r in rows)
    assert _inventory(base) == before
