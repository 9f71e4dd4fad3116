"""Driver row for the Python DataSource conversion lane
(sources/discogs_datasource.py): the strict lane's read path into
the Discogs corpus, as a registerable `format("discogs_releases")`
connector.

Same fixture corpus and the same generator-derived expected parquet
as the conversion trio (queries/conversion.py), so the driver
hash-compares the connector's output exactly like the native lane's
-- a row the connector drops, mis-nests, or mis-defaults breaks the
hash. The flattened projection mirrors `discogs_xml_conversion`
column-for-column; what changes is the INGEST PATH: spark.read on a
registered Python DataSource, one InputPartition per dump file,
executor-side streaming parse, Arrow-batched row transfer.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.sources.discogs_datasource import (
    register_discogs_source,
)
from discogs_xml_to_parquet_spark.sources.fixture import (
    write_expected_flat_parquet,
    write_fixture_gz,
    write_synthetic_releases,
)

# Same idempotent expected-output parquet the conversion oracles read
# (identical path + contents; whichever module imports first writes).
_EXPECTED_FLAT = write_expected_flat_parquet(
    f"{tempfile.gettempdir()}/discogs_expected/flat.parquet")


def read_via_datasource(spark: SparkSession) -> DataFrame:
    """Fixture (ids 1-3) + synthetic corpus (ids 1001-1150) through
    the registered connector. The small fixture is a single file and
    the synthetic corpus a 2-file directory, so the listing exercises
    both `partitions()` shapes."""
    register_discogs_source(spark)
    small = write_fixture_gz(
        f"{tempfile.gettempdir()}/discogs_fixture/releases.xml.gz")
    big = write_synthetic_releases(
        f"{tempfile.gettempdir()}/discogs_synth150", 150, n_files=2,
        start_id=1001)
    return (
        spark.read.format("discogs_releases").load(small)
        .unionByName(spark.read.format("discogs_releases").load(big))
    )


@query(
    "q_source_python_datasource",
    oracle=f"""
SELECT id, status, title, n_artists, n_null_anv, n_genres, n_styles,
       n_labels, is_main_release, master_id
FROM read_parquet('{_EXPECTED_FLAT}')
ORDER BY id
""",
)
def q_source_python_datasource(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Flattened per-release projection of the connector's output --
    the same deterministic 153-row result as discogs_xml_conversion,
    hash-compared against the same generator-derived expected parquet,
    but ingested through the Spark 4 Python DataSource API instead of
    the native XML source: conformance of the strict lane."""
    df = read_via_datasource(spark)
    return df.select(
        "id",
        "status",
        "title",
        F.size("artists").alias("n_artists"),
        F.size(F.filter("artists", lambda a: a["anv"].isNull())).alias(
            "n_null_anv"),
        F.size("genres").alias("n_genres"),
        F.size("styles").alias("n_styles"),
        F.size("labels").alias("n_labels"),
        "is_main_release",
        "master_id",
    ).orderBy("id")
