"""The Discogs releases source as a Spark 4 Python DataSource -- a
registerable `format("discogs_releases")` connector, and the strict
conversion lane's one read path (`read_releases_strict` registers it
and reads through it). After `register_discogs_source(spark)`, any
consumer reads the dump with

    spark.read.format("discogs_releases").load("/path/to/dumps")

(SQL consumers go through a view over that reader -- Spark 4.1's
`CREATE TABLE ... USING <python-datasource>` does not forward OPTIONS
to the Python reader, verified empirically, so the path-bearing load
must happen DataFrame-side; tests pin the view route.)

and gets OUTPUT_SCHEMA rows with the reference's strict rejection
semantics (main.rs:32-55 error model) from the strict parser
(`_parse_file_stream`): one InputPartition per dump file (gzip is
unsplittable -- the same per-file parallelism every other lane uses,
main.rs:63-71's own constraint), incremental pyarrow.fs streams, O(1
release) memory. Rows go back to the JVM as Arrow batches; the driver
only ever sees the file listing (`partitions()`, metadata-sized).
Parity with the native lane is pinned by tests/test_datasource.py and
by the q_source_python_datasource driver row.

The SAME registration also serves `spark.readStream` (the
`streamReader` below): an append-only drop directory ingested
incrementally through a checkpoint, one microbatch partition per
newly arrived dump file -- the continuous-ingest twin of the batch
read, restart-exactness pinned in
tests/test_datasource.py::test_datasource_streaming_incremental_ingest.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from discogs_xml_to_parquet_spark.sources.discogs_xml import (
    OUTPUT_SCHEMA,
    _list_input_files,
    _parse_file_stream,
)


class _ReleaseFilePartition(InputPartition):
    """One dump file = one partition (gzip is unsplittable)."""

    def __init__(self, path: str) -> None:
        self.path = path


class _ReleasesReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "discogs_releases: a path is required -- "
                ".load('/dir/of/dumps')")
        self._path = path

    def partitions(self) -> list[InputPartition]:
        # Driver-side listing only (file/dir/glob, any pyarrow.fs
        # scheme); _list_input_files raises on an empty listing,
        # matching the strict lane's contract.
        return [_ReleaseFilePartition(p)
                for p in _list_input_files(self._path)]

    def read(self, partition: _ReleaseFilePartition) -> Iterator[tuple]:
        # Executor-side: stream-parse one file; rows go back to the
        # JVM as Arrow batches (the API's transfer path).
        yield from _parse_file_stream(partition.path)


class _ReleasesStreamReader(DataSourceStreamReader):
    """Incremental dump ingest: the offset is the SET of file names
    already planned from the drop directory -- how new Discogs dumps
    arrive (a new dated file lands; existing files are never
    rewritten). Each microbatch plans one partition per newly arrived
    file; the parse is the same executor-side streaming parse as the
    batch lane.

    Determinism contract (what makes restart/replay exact): a batch's
    file set is end_files - start_files, recorded VERBATIM in the
    offsets -- `partitions(start, end)` never consults the live
    directory, so it is a pure function of the committed offsets and
    replays identically after a restart. Set offsets (not positions
    in a re-sorted listing -- ADVICE r10) also make arrival ORDER
    irrelevant: a backfilled file whose name sorts before committed
    ones is simply absent from `start` and gets planned exactly once,
    where a positional offset would shift every index, re-ingesting
    one committed file and skipping the new one. Offset size is the
    file listing itself -- driver-side metadata (Spark's own file
    source persists the same thing in its file-stream log)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "discogs_releases: a path is required -- "
                ".load('/dir/of/dumps')")
        self._path = path

    def _listing(self) -> list[str]:
        # allow_empty: an initially-empty drop directory is a stream
        # with zero batches, not an error
        return _list_input_files(self._path, allow_empty=True)

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._listing()}

    def _files_of(self, offset: dict) -> set[str]:
        """Resolve an offset to its file set. Accepts the legacy
        positional format ({'index': N}, written by checkpoints
        committed before the r11 set-offset fix) by reproducing the
        old contract exactly: the first N files of the current sorted
        listing -- so a restart from an old checkpoint replays the
        same batch the old code would have planned instead of dying
        on KeyError."""
        if "files" in offset:
            return set(offset["files"])
        if "index" in offset:
            return set(self._listing()[:offset["index"]])
        raise ValueError(f"unrecognized stream offset {offset!r}")

    def partitions(self, start: dict, end: dict):
        new = sorted(self._files_of(end) - self._files_of(start))
        return [_ReleaseFilePartition(p) for p in new]

    def read(self, partition: _ReleaseFilePartition) -> Iterator[tuple]:
        yield from _parse_file_stream(partition.path)

    def commit(self, end: dict) -> None:
        # Nothing to clean up: offsets are file sets and the
        # checkpoint's own offset log is the source of truth.
        pass


class DiscogsReleasesDataSource(DataSource):
    """`USING discogs_releases` -- the strict conversion as a source,
    batch (`spark.read`) and streaming (`spark.readStream`)."""

    @classmethod
    def name(cls) -> str:
        return "discogs_releases"

    def schema(self) -> StructType:
        return OUTPUT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _ReleasesReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ReleasesStreamReader(self.options)


def register_discogs_source(spark: SparkSession) -> None:
    """Idempotent per-session registration (re-register overwrites)."""
    spark.dataSource.register(DiscogsReleasesDataSource)
