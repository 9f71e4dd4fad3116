"""The Python DataSource conversion lane
(sources/discogs_datasource.py): parity with the native lane,
per-file partitioning, and the strict error model through the
connector surface."""

from __future__ import annotations

import gzip
import tempfile
from pathlib import Path

import pytest

from discogs_xml_to_parquet_spark.sources.discogs_datasource import (
    register_discogs_source,
)
from discogs_xml_to_parquet_spark.sources.discogs_xml import read_releases
from discogs_xml_to_parquet_spark.sources.fixture import (
    write_fixture_gz,
    write_synthetic_releases,
)


def _corpus_paths() -> tuple[str, str]:
    small = write_fixture_gz(
        f"{tempfile.gettempdir()}/discogs_fixture/releases.xml.gz")
    big = write_synthetic_releases(
        f"{tempfile.gettempdir()}/discogs_synth150", 150, n_files=2,
        start_id=1001)
    return small, big


def test_datasource_matches_native_lane(spark):
    """Row-identical nested output vs the native XML source on the
    full 153-release fixture corpus -- the connector is the strict
    conformance lane, not a new dialect."""
    register_discogs_source(spark)
    small, big = _corpus_paths()
    ds = (
        spark.read.format("discogs_releases").load(small)
        .unionByName(spark.read.format("discogs_releases").load(big))
    )
    native = read_releases(spark, small).unionByName(
        read_releases(spark, f"{big}/*.xml.gz"))
    # same names and types; nullability flags differ by construction
    # (the Python DataSource surface marks every field nullable)
    assert [(f.name, f.dataType) for f in ds.schema.fields] == [
        (f.name, f.dataType) for f in native.schema.fields]
    assert ds.count() == 153
    assert ds.exceptAll(native).count() == 0
    assert native.exceptAll(ds).count() == 0


def test_datasource_one_partition_per_file(spark):
    """gzip is unsplittable: the connector must plan exactly one
    input partition per dump file (the listing is driver-side
    metadata; the parse runs where the partition runs)."""
    register_discogs_source(spark)
    _, big = _corpus_paths()
    df = spark.read.format("discogs_releases").load(big)
    assert df.rdd.getNumPartitions() == 2


def test_datasource_strict_error_model(spark, tmp_path):
    """The reference's FAILFAST semantics survive the connector: a
    malformed release (unknown attribute, main.rs:496-500) fails the
    read instead of yielding a row."""
    register_discogs_source(spark)
    bad = tmp_path / "bad.xml.gz"
    bad.write_bytes(gzip.compress(
        b'<releases>\n<release id="9" status="Draft" foo="bar">'
        b"<title>t</title></release>\n</releases>"))
    with pytest.raises(Exception, match="unknown attribute"):
        spark.read.format("discogs_releases").load(str(bad)).collect()


def test_datasource_rejects_release_without_title(spark, tmp_path):
    """title is a non-nullable output column: a <release> without
    <title> is rejected by the parser itself, with a message naming
    the element, not by a null check downstream."""
    register_discogs_source(spark)
    bad = tmp_path / "notitle.xml.gz"
    bad.write_bytes(gzip.compress(
        b'<releases>\n<release id="9" status="Accepted">'
        b"<genres><genre>Rock</genre></genres></release>\n</releases>"))
    with pytest.raises(Exception, match="missing <title>"):
        spark.read.format("discogs_releases").load(str(bad)).collect()


def test_strict_convert_of_empty_input_keeps_output(spark, tmp_path):
    """The strict lane lists its input before the write: an empty
    input raises while a previous conversion's output is intact (the
    source's own listing runs after the overwrite cleared it)."""
    from discogs_xml_to_parquet_spark.sources.discogs_xml import convert

    small, _ = _corpus_paths()
    out = str(tmp_path / "out")
    convert(spark, small, out, strict=True)
    n = spark.read.parquet(out).count()
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no input files"):
        convert(spark, str(empty), out, strict=True)
    assert spark.read.parquet(out).count() == n == 3


def test_datasource_empty_listing_raises(spark, tmp_path):
    """An empty input directory is a planning-time error, not an
    empty DataFrame -- matching the strict lane's contract."""
    register_discogs_source(spark)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="no input files"):
        spark.read.format("discogs_releases").load(str(empty)).collect()


def test_datasource_streaming_incremental_ingest(spark, tmp_path):
    """The connector's readStream lane: an append-only drop directory
    ingested incrementally through a checkpoint. Run 1 (availableNow)
    processes the two initial dump files into a parquet sink; a third
    file lands; run 2 resumes from the checkpoint and processes ONLY
    the new file -- no re-parse, no duplicate rows, offsets carried by
    the checkpoint's own log."""
    import shutil

    from pyspark.sql import functions as F

    register_discogs_source(spark)
    drop = tmp_path / "drop"
    drop.mkdir()
    gen1 = write_synthetic_releases(
        str(tmp_path / "gen1"), 40, n_files=2, start_id=5001)
    for i, f in enumerate(sorted(Path(gen1).glob("*.xml.gz"))):
        shutil.copy(f, drop / f"a{i}-releases.xml.gz")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once() -> None:
        q = (
            spark.readStream.format("discogs_releases")
            .load(str(drop))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain in 180s"

    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 40
    assert first.select(F.min("id")).first()[0] == 5001

    gen2 = write_synthetic_releases(
        str(tmp_path / "gen2"), 10, n_files=1, start_id=9001)
    shutil.copy(next(iter(Path(gen2).glob("*.xml.gz"))),
                drop / "z-new-releases.xml.gz")
    run_once()
    final = spark.read.parquet(sink)
    assert final.count() == 50  # 40 + 10, nothing reprocessed
    assert final.filter(F.col("id") >= 9001).count() == 10
    assert final.select("id").distinct().count() == 50

    # BACKFILL (ADVICE r10): a file whose name sorts BEFORE every
    # committed one. Positional offsets into the re-sorted listing
    # would shift every index -- re-ingesting a0 (duplicates) and
    # permanently skipping the backfill; filename-SET offsets plan
    # exactly the new file, once.
    gen3 = write_synthetic_releases(
        str(tmp_path / "gen3"), 5, n_files=1, start_id=12001)
    shutil.copy(next(iter(Path(gen3).glob("*.xml.gz"))),
                drop / "0-backfill-releases.xml.gz")
    run_once()
    after = spark.read.parquet(sink)
    assert after.count() == 55
    assert after.filter(F.col("id") >= 12001).count() == 5
    assert after.select("id").distinct().count() == 55  # no re-ingest


def test_stream_offsets_accept_legacy_positional_format(tmp_path):
    """Checkpoints committed before the r11 filename-set offsets hold
    {'index': N}; a restart must replay the same batch the old
    positional contract would have planned, not crash on KeyError.
    Mixed legacy/new ranges (the exact shape of the first post-upgrade
    microbatch) must also resolve."""
    import shutil

    from discogs_xml_to_parquet_spark.sources.discogs_datasource import (
        _ReleasesStreamReader,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    gen = write_synthetic_releases(
        str(tmp_path / "gen"), 30, n_files=3, start_id=100)
    for i, f in enumerate(sorted(Path(gen).glob("*.xml.gz"))):
        shutil.copy(f, drop / f"f{i}-releases.xml.gz")
    r = _ReleasesStreamReader({"path": str(drop)})
    files = sorted(str(p) for p in drop.glob("*.xml.gz"))

    legacy = [p.path for p in r.partitions({"index": 1}, {"index": 3})]
    assert legacy == files[1:3]
    mixed = [p.path for p in r.partitions({"index": 2},
                                          {"files": files})]
    assert mixed == files[2:]
    import pytest

    with pytest.raises(ValueError, match="unrecognized stream offset"):
        r.partitions({"bogus": 1}, {"files": files})


def test_datasource_sql_consumption_via_view(spark):
    """SQL consumers: the connector read registered as a view is
    fully queryable from spark.sql. (CREATE TABLE ... USING a Python
    DataSource does NOT forward OPTIONS to the reader in Spark 4.1 --
    the docstring documents the view route instead of claiming DDL.)"""
    register_discogs_source(spark)
    _, big = _corpus_paths()
    spark.read.format("discogs_releases").load(big).createOrReplaceTempView(
        "releases_v")
    row = spark.sql(
        "SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi, "
        "SUM(size(artists)) AS a FROM releases_v").first()
    assert (row["n"], row["lo"], row["hi"]) == (150, 1001, 1150)
    assert row["a"] > 0
    assert spark.sql(
        "SELECT COUNT(DISTINCT status) FROM releases_v").first()[0] >= 2
