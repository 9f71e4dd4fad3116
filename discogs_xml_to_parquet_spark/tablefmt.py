"""The on-disk table format of the table-format queries (MERGE, time
travel, diff, VACUUM, the streaming MERGE sink, the composed snapshot
read, deletion-vector compaction, TTL) and the one copy-on-write
commit they all go through.

Lives OUTSIDE the queries package for the same reason as staging.py: a
queries-to-queries import would drag the helper's home module into the
driver window with every consumer.

Layout. A table is a tree of hive-style partition dirs
(`o_month=1995-01/`, or `o_year=1995/o_bucket=2/` two levels deep;
the depth is the number of partition columns). A VERSIONED table root
holds one manifest dir per version plus a pointer file:

    <table>/v0/<partition>...   each entry a symlink to a dir owned by
    <table>/v1/<partition>...   an earlier version or the staged base,
    <table>/_current            or a real dir this version wrote; the
                                live version's name ("v1")

plus optional metadata files inside a version dir (the streaming
sink's `_applied.json`). A shared pointer is a byte-equality proof:
a new version costs O(rewritten partitions) bytes, and every older
version stays a complete readable table until vacuumed.

Commit protocol, both flavours:

  1. the rewrite is written partitioned into a scratch dir BESIDE the
     table (same filesystem, so publishing is renames, not copies);
     the scratch is removed on every exit path, a failed write
     included;
  2. the partition set is whatever partition dirs the write produced;
  3. the caller's `check` sees that set before anything is published
     (a raise there leaves the table untouched);
  4a. in-place swap (`swap_partitions`): each written or listed
     partition dir is replaced by its rewrite, or dropped when the
     rewrite emptied it;
  4b. version publish (`publish_version`): the next version `v{n+1}`
     (n from `_current`) gets the rewritten partitions moved in and
     every other partition of the current version as a pointer to its
     target, then `_current` is flipped atomically (write-temp +
     rename). A crash before the flip leaves an orphan version dir
     and an unchanged table; the next publish replaces the orphan.

Rewriting never modifies a data file's content in place (partition
dirs are replaced whole), which is what makes hardlink clones of a
shared staged base (`_link_or_copy`) safe.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.staging import source_fingerprint, staged
from discogs_xml_to_parquet_spark.tables import load

_BASE_VERSION = 1


def staged_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """orders as an o_month-partitioned tree (the base table a MERGE
    targets). Built once per container per (sf_dir, fingerprint),
    atomic publish."""
    slug = sf_dir.strip("/").replace("/", "_")
    fp = source_fingerprint(sf_dir, "orders.parquet")
    return staged(
        f"spark_graft_merge_base_v{_BASE_VERSION}_{slug}_{fp}",
        lambda tmp: (
            load(spark, sf_dir, "orders")
            .withColumn("o_month",
                        F.date_format("o_orderdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(tmp)
        ),
    )


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink when possible, byte-copy across filesystems (os.link
    raises EXDEV when the staged base and the clone sit on different
    mounts). The copy_function of every per-run clone of a staged
    base: the clone is harness isolation, and a byte copy would bill
    O(table) I/O to lanes whose cost is O(affected)."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _data_files(root: str) -> Iterator[Path]:
    """Visible data files under `root`: hidden sidecars (.crc,
    _SUCCESS) are excluded, the contract is about the files a
    manifest points at."""
    for p in sorted(Path(root).rglob("*")):
        if p.is_file() and not p.name.startswith(("_", ".")):
            yield p


def _inventory(root: str) -> dict[str, tuple[int, str]]:
    """Data files under `root` -> (size, md5): byte-level identity."""
    return {
        str(p.relative_to(root)): (
            p.stat().st_size, hashlib.md5(p.read_bytes()).hexdigest())
        for p in _data_files(root)
    }


def _stat_inventory(root: str) -> dict[str, tuple[int, int]]:
    """Data files under `root` -> (size, mtime_ns): 'no file was
    rewritten, resized, or removed' without reading a byte, for the
    in-row facts of lanes whose cost is O(delta). Byte-level identity
    stays in the tests (`_inventory`)."""
    return {
        str(p.relative_to(root)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in _data_files(root)
    }


def partitions(root: str | Path, cols: list[str]) -> list[str]:
    """Relative paths of the partition dirs (or pointers) under
    `root`, one level per partition column, sorted."""
    pattern = "/".join(f"{c}=*" for c in cols)
    return sorted(str(p.relative_to(root))
                  for p in Path(root).glob(pattern) if p.is_dir())


@contextmanager
def scratch_dir(table: str | Path) -> Iterator[Path]:
    """A scratch dir beside `table` (same filesystem), removed on every
    exit path."""
    scratch = Path(tempfile.mkdtemp(prefix="spark_graft_rewrite_",
                                    dir=Path(table).parent))
    try:
        yield scratch
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@contextmanager
def _rewrite(table: Path, df: DataFrame, cols: list[str],
             check: Callable[[list[str]], None] | None,
             ) -> Iterator[tuple[Path, list[str]]]:
    """Steps 1-3 of the commit: write `df` partitioned into a scratch
    dir and run `check` on the written partition set."""
    with scratch_dir(table) as scratch:
        df.write.mode("overwrite").partitionBy(*cols).parquet(str(scratch))
        written = partitions(scratch, cols)
        if check is not None:
            check(written)
        yield scratch, written


def swap_partitions(table: str, df: DataFrame, cols: list[str],
                    listed: Iterable[str] = (),
                    check: Callable[[list[str]], None] | None = None,
                    ) -> list[str]:
    """Rewrite partitions of the table at `table` in place: every
    partition `df` writes, and every `listed` one, is replaced by its
    rewrite -- or dropped when the rewrite left it empty. Returns the
    replaced partitions."""
    t = Path(table)
    with _rewrite(t, df, cols, check) as (scratch, written):
        replaced = sorted(set(listed) | set(written))
        for c in replaced:
            if (t / c).exists():
                shutil.rmtree(t / c)
            if c in written:
                (t / c).parent.mkdir(parents=True, exist_ok=True)
                shutil.move(str(scratch / c), str(t / c))
    return replaced


def current_version(table: str | Path) -> str:
    """The live version's name, as `_current` records it."""
    return (Path(table) / "_current").read_text()


def _flip(table: Path, version: str) -> None:
    tmp = table / "_current.tmp"
    tmp.write_text(version)
    os.replace(tmp, table / "_current")


def _write_meta(vdir: Path, meta: dict[str, str] | None) -> None:
    for name, text in (meta or {}).items():
        (vdir / name).write_text(text)


def init_version(table: str | Path, base: str, cols: list[str],
                 meta: dict[str, str] | None = None) -> None:
    """Create the versioned table at `table` with v0 = a pointer to
    every partition of `base`, and `_current` -> v0."""
    t = Path(table)
    v0 = t / "v0"
    v0.mkdir(parents=True)
    for c in partitions(base, cols):
        (v0 / c).parent.mkdir(parents=True, exist_ok=True)
        (v0 / c).symlink_to(Path(base) / c)
    _write_meta(v0, meta)
    _flip(t, "v0")


def publish_version(table: str | Path, df: DataFrame, cols: list[str],
                    check: Callable[[list[str]], None] | None = None,
                    meta: dict[str, str] | None = None) -> str:
    """Publish `df`'s partitions as the next version of the table at
    `table`: rewritten partitions move in, every other partition of
    the current version is a pointer to its target, `meta` files are
    written, and `_current` flips. Returns the new version's name."""
    t = Path(table)
    prev = t / current_version(t)
    name = f"v{int(prev.name[1:]) + 1}"
    vdir = t / name
    with _rewrite(t, df, cols, check) as (scratch, written):
        if vdir.exists():   # orphan of a crashed attempt
            shutil.rmtree(vdir)
        vdir.mkdir()
        for c in written:
            (vdir / c).parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(scratch / c), str(vdir / c))
        for c in partitions(prev, cols):
            if c not in written:
                (vdir / c).parent.mkdir(parents=True, exist_ok=True)
                (vdir / c).symlink_to((prev / c).resolve())
        _write_meta(vdir, meta)
        _flip(t, name)
    return name
