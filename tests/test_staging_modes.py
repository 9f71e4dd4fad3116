"""stage_df's two staging modes (VERDICT r12 item 5), and the rule
that it is the engine's only lineage cut.

Every lineage cut in the engine goes through staging.stage_df. Default
= localCheckpoint (executor-memory blocks; a lost executor kills the
job). Production = SPARK_GRAFT_CHECKPOINT_DIR set, which swaps the
SAME call sites to reliable checkpoint() files under the configured
dir, so a 1000-executor run survives node loss by replaying from the
checkpoint store. These tests pin that the switch (a) actually engages
(files appear under the dir) at a query from every module that stages,
(b) changes no values, and (c) cannot be bypassed: no materialization
call outside staging.py except the two documented exceptions.
"""

from __future__ import annotations

import ast
import os
import shutil
import tempfile
from collections import Counter
from pathlib import Path

import pytest

from discogs_xml_to_parquet_spark import registry

registry.load_all_queries()

SF = "/root/testdata/sf0.001"


@pytest.fixture
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="spark_graft_reliable_ckpt_")
    try:
        yield d
    finally:
        os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
        shutil.rmtree(d, ignore_errors=True)


def _rows(spark, name):
    df = registry.QUERIES[name](spark, SF)
    return sorted(tuple(r) for r in df.collect())


# one query per module that stages through stage_df: incremental's
# stored MV, then each module migrated off raw localCheckpoint calls
RELIABLE_MODE_QUERIES = [
    "q_incremental_rollup",
    "q_curation_pipeline",  # curation_full
    "q_stats_mad",  # features + operators/prefix
    "q_freq_items_cms",  # sketches
    "q_triangle_count",  # analytics_extra
    "q_dedup_semantic",  # curation_extra
    "q_join_aqe_skew",  # runtime_filters.skew_lane
    "q_distribution_drift",  # drift
    "q15_top_supplier",  # tpch_extra2
    "q_stream_static_enrich",  # streaming_queries
]


@pytest.mark.parametrize("name", RELIABLE_MODE_QUERIES)
def test_reliable_checkpoint_mode_same_values(spark, ckpt_dir, monkeypatch,
                                              name):
    """A staged query end-to-end in BOTH modes: identical rows, and
    the reliable mode demonstrably wrote checkpoint files (otherwise
    the env switch could silently no-op and this test would pass
    vacuously) without a single executor-local checkpoint (a raw
    localCheckpoint beside the query's stage_df calls would bypass
    the mode while the files still appear)."""
    default_rows = _rows(spark, name)

    df_class = type(spark.range(1))
    local_checkpoint = df_class.localCheckpoint
    local_calls = []

    def spy(self, *args, **kwargs):
        local_calls.append(self)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(df_class, "localCheckpoint", spy)
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    reliable_rows = _rows(spark, name)

    assert reliable_rows == default_rows
    written = [p for p in Path(ckpt_dir).rglob("*") if p.is_file()]
    assert written, "reliable mode engaged but wrote no checkpoint files"
    assert not local_calls, "a staging site bypassed reliable mode"


def test_reliable_mode_covers_the_iterative_lane(spark, ckpt_dir):
    """The iterative consumer (LPA's between-round label staging)
    under reliable checkpoints: same communities as the default mode."""
    name = "q_label_propagation"
    default_rows = _rows(spark, name)
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    assert _rows(spark, name) == default_rows


def test_reliable_mode_covers_connected_components(spark, ckpt_dir):
    """operators/graph.py's two-phase fixpoint stages every round
    through stage_df too (r13: its rounds were raw localCheckpoints,
    the one staged surface VERDICT r12 item 5's migration missed).
    Under reliable checkpoints it must label exactly as in the default
    mode, and the checkpoint dir must actually receive files from the
    round loop."""
    from discogs_xml_to_parquet_spark.operators.graph import (
        connected_components_two_phase,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 8), (8, 9), (9, 10)],
        ["src", "dst"],
    )

    def labels():
        return sorted(
            tuple(r) for r in connected_components_two_phase(edges).collect()
        )

    default = labels()
    assert default == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6),
                       (7, 7), (8, 7), (9, 7), (10, 7)]

    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckpt_dir
    assert labels() == default
    written = [p for p in Path(ckpt_dir).rglob("*") if p.is_file()]
    assert written, "reliable mode engaged but wrote no checkpoint files"


PACKAGE = Path(__file__).resolve().parent.parent / "discogs_xml_to_parquet_spark"
MATERIALIZERS = ("localCheckpoint", "checkpoint", "persist", "cache")
# the only materialization calls allowed outside stage_df, by file:
# graph_iter persists the src-partitioned edge list and its out-degree
# table (only InMemoryRelation keeps the hash partitioning the rank
# rounds consume), and formats_extra caches because Spark refuses a
# corrupt-record-column-only scan on an uncached frame
ALLOWED_CALLS = Counter({
    ("staging.py", "localCheckpoint"): 1,
    ("staging.py", "checkpoint"): 1,
    ("queries/graph_iter.py", "persist"): 2,
    ("queries/formats_extra.py", "cache"): 1,
})


def _engine_modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text())


def test_stage_df_is_the_only_lineage_cut():
    """Structural: every localCheckpoint / checkpoint / persist /
    cache CALL in the engine (comments and docstrings don't count) is
    stage_df's own or one of the documented exceptions, so reliable
    mode cannot be bypassed by a raw call at a new site, and none of
    them is lazy."""
    calls = Counter(
        (rel, node.func.attr)
        for rel, tree in _engine_modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MATERIALIZERS
    )
    assert calls == ALLOWED_CALLS
    # every cut is eager: no call in the engine passes an `eager` flag
    lazy = [
        rel
        for rel, tree in _engine_modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.keyword) and node.arg == "eager"
    ]
    assert not lazy, f"eager= passed in {lazy}"


def test_checkpoint_dir_env_read_only_in_staging():
    """The local-vs-reliable policy lives in stage_df alone: no other
    engine module names the env var in code (a docstring may)."""
    readers = {
        rel
        for rel, tree in _engine_modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and node.value == "SPARK_GRAFT_CHECKPOINT_DIR"
    }
    assert readers == {"staging.py"}
