"""The table format's single owner (discogs_xml_to_parquet_spark/
tablefmt.py): no query module hand-rolls the commit, and a commit
whose write fails leaves neither a scratch dir nor a changed table."""

from __future__ import annotations

import ast
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.queries.merge import (
    delta_frame,
    merge_upsert,
    publish_next_version,
    versioned_merge,
)
from discogs_xml_to_parquet_spark.tablefmt import (
    _inventory,
    current_version,
    staged_partitioned_orders,
)
from tests.conftest import SF_SMOKE

QUERIES = Path(__file__).resolve().parent.parent / (
    "discogs_xml_to_parquet_spark/queries")
# queries/_paths.py mints unique OUTPUT dirs for the round-trip sinks,
# not a rewrite scratch
SINK_DIRS = "_paths.py"


def _layout_calls(tree: ast.AST) -> list[str]:
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name in ("symlink_to", "mkdtemp"):
                hits.append(name)
        elif isinstance(node, ast.Constant) and node.value in (
                "_current", "_current.tmp"):
            hits.append(node.value)
    return hits


def test_tablefmt_is_the_only_commit():
    """Structural: no query module builds a manifest pointer
    (symlink_to), names the `_current` pointer file, or mkdtemp's a
    rewrite scratch -- the versioned layout, the pointer flip and the
    scratch lifetime are tablefmt's alone."""
    found = {
        p.name: hits
        for p in sorted(QUERIES.glob("*.py"))
        if (hits := _layout_calls(ast.parse(p.read_text())))
    }
    assert set(found.get(SINK_DIRS, [])) <= {"mkdtemp"}, found
    found.pop(SINK_DIRS, None)
    assert found == {}


def _scratch_dirs(*roots: Path) -> set[Path]:
    return {p for r in roots for p in r.glob("spark_graft_*")}


def _failing_delta(spark):
    """A well-formed in-window delta whose o_custkey raises at
    execution: the commit's write job fails mid-flight."""
    return delta_frame(spark, SF_SMOKE).withColumn(
        "o_custkey", F.raise_error(F.lit("injected write failure")))


def test_failed_swap_leaves_no_scratch_and_table_intact(spark, tmp_path):
    base = staged_partitioned_orders(spark, SF_SMOKE)
    table = tmp_path / "tbl"
    shutil.copytree(base, table)
    before = _inventory(str(table))
    tmp = Path(tempfile.gettempdir())
    scratch_before = _scratch_dirs(tmp, tmp_path)
    with pytest.raises(Exception, match="injected write failure"):
        merge_upsert(spark, str(table), _failing_delta(spark))
    assert _scratch_dirs(tmp, tmp_path) == scratch_before
    assert _inventory(str(table)) == before


def test_failed_publish_leaves_no_scratch_and_table_intact(spark):
    table, _ = versioned_merge(spark, SF_SMOKE)
    t = Path(table)
    before = _inventory(table)
    tree = sorted(str(p.relative_to(t)) for p in t.rglob("*"))
    scratch_before = _scratch_dirs(t.parent)
    with pytest.raises(Exception, match="injected write failure"):
        publish_next_version(spark, table, _failing_delta(spark))
    assert _scratch_dirs(t.parent) == scratch_before
    assert _inventory(table) == before
    assert sorted(str(p.relative_to(t)) for p in t.rglob("*")) == tree
    assert current_version(table) == "v1"
    shutil.rmtree(table, ignore_errors=True)
