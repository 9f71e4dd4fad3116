"""The driver-window rotation policy, pinned (VERDICT r6 item 6).

registry.window() derives the recommended first-50 registration order
from the CORRECTNESS_r*.json artifacts; these tests assert the static
import order in queries/__init__.py agrees with it, so window planning
can no longer drift as hand-maintained prose.

Since r9 the derivation is ROUND-PINNED (VERDICT r8 item 1): the r7
and r8 suites both went red at judging time because the driver landing
the round's artifact re-ranked the just-checked queries -- a designed
tripwire that fired twice is a process bug. window(max_round=
DERIVED_AT_ROUND) ignores artifacts newer than the pinned round, so
landing the next CORRECTNESS_r*.json cannot flip this suite;
re-deriving is one deliberate commit: bump DERIVED_AT_ROUND to the
newest artifact's round, update CHANGED/PIN, and paste the order
printed by
`python scripts/window_plan.py --max-round <round> --changed <changed>`.
"""

from __future__ import annotations

from discogs_xml_to_parquet_spark import registry

registry.load_all_queries()

WINDOW_SIZE = 50

# The round whose artifacts this derivation used (artifacts r1..r15;
# CORRECTNESS_r16.json and later are ignored by the fixed-point test).
DERIVED_AT_ROUND = 15

# Policy inputs that artifacts cannot express -- queries whose code
# changed since their LAST green driver row (r15 for most, r10 for the
# quality_model/multimodal_audio/decontam/scoring lanes, r11-r13 for
# the table-format lanes):
# - the three connected-components consumers moved from min-label
#   rounds onto the size-dispatched operators/graph.py entry point;
# - the tables.load_spread users, whose spread went from a fixed 64
#   partitions to defaultParallelism (q_curation_pipeline is also the
#   dispatcher's original consumer);
# - the table-format queries, whose commits moved into tablefmt.py.
CHANGED = frozenset({
    "q_dedup_components", "q_curation_keep_best", "q_entity_resolution",
    "q_curation_pipeline", "q_dedup_minhash_lsh", "q_dedup_simhash_banded",
    "q_decontaminate_ngram", "q_quality_classifier",
    "q_multimodal_audio_energy", "q_tfidf_top_terms",
    "q_text_fingerprint", "q_dedup_chunks",
    "q_merge_upsert", "q_time_travel", "q_table_diff",
    "q_vacuum_retention", "q_snapshot_read", "q_stream_merge_sink",
    "q_delete_merge_on_read", "q_delete_positional_dv", "q_retention_ttl",
})
# CHANGED members the 50-query cut leaves out: with module siblings
# and import deps the changed set is 53 queries, and these come last
# in registration order among equals
CHANGED_PAST_CUT = frozenset({"q_retention_ttl", "q_snapshot_read"})
PIN: tuple[str, ...] = ()


def test_import_order_is_policy_fixed_point():
    """The first 50 registered queries ARE the policy window."""
    want = registry.window(
        size=WINDOW_SIZE, changed=CHANGED, pin=PIN,
        max_round=DERIVED_AT_ROUND,
    )
    got = list(registry.QUERIES)[:WINDOW_SIZE]
    assert got == want, (
        "queries/__init__.py import order disagrees with the "
        "artifact-derived rotation policy;\nre-derive it "
        "(scripts/window_plan.py --max-round N prints this ready to "
        f"paste): policy={want}\nactual={got}"
    )


def test_derivation_is_stable_under_new_artifacts(tmp_path):
    """The VERDICT r8 item-1 regression test: a NEWER artifact landing
    in the artifacts dir must not change the pinned derivation. Builds
    a copy of the repo-root artifacts plus a fake CORRECTNESS_r99.json
    that greens every registered query -- without the max_round pin
    that re-ranks everything."""
    import glob
    import json
    import os
    import shutil

    repo = os.path.join(os.path.dirname(__file__), "..")
    for fp in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        shutil.copy(fp, tmp_path)
    fake = {n: {"rows_match": True, "schema_match": True,
                "hash_match": True, "err": None}
            for n in registry.QUERIES}
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(fake))
    pinned = registry.window(
        size=WINDOW_SIZE, artifacts_dir=str(tmp_path),
        changed=CHANGED, pin=PIN, max_round=DERIVED_AT_ROUND,
    )
    baseline = registry.window(
        size=WINDOW_SIZE, changed=CHANGED, pin=PIN,
        max_round=DERIVED_AT_ROUND,
    )
    assert pinned == baseline


def test_window_contains_every_never_checked_query():
    """Invariant behind rank 0: a query with no driver row anywhere
    (as of the pinned round) must never wait outside the window."""
    import os

    latest = registry._latest_green_round(
        os.path.join(os.path.dirname(__file__), ".."),
        max_round=DERIVED_AT_ROUND,
    )
    never = [n for n in registry.QUERIES if n not in latest]
    win = set(list(registry.QUERIES)[:WINDOW_SIZE])
    missing = [n for n in never if n not in win]
    assert not missing, f"never-checked queries outside window: {missing}"


def test_r16_window_contents():
    """The round-16 membership decisions, pinned explicitly: every
    CHANGED query but the two the cut leaves out is in, with its
    module and the modules it imports (matching, then dedup and the
    curation_full fold, clustering + curation_extra, text_analysis,
    then the r10-evidence quality_model, multimodal_audio, decontam and
    scoring, then the table-format modules merge, streaming_merge with
    its streaming_restart dep, and deletion_vectors), where the 50-cut
    lands. ttl and snapshot_read (with its lakehouse dep) are first in
    line next round, then the r9-evidence cohort."""
    win = list(registry.QUERIES)[:WINDOW_SIZE]
    assert CHANGED - set(win) == CHANGED_PAST_CUT, sorted(
        CHANGED - set(win))
    for must in (
        # matching and dedup ride their CHANGED members
        "q_fuzzy_levenshtein", "q_fuzzy_blocked_stats",
        "q_dedup_exact", "q_dedup_containment",
        # the curation_full dependency fold
        "q_pack_sequences", "q_pack_greedy", "q_quality_repetition",
        "q_quality_gopher_filter",
        # curation_extra's clustering dep
        "q_kmeans_assign", "q_kmeans_update", "q_dedup_semantic",
        # r10-evidence siblings of CHANGED load_spread users
        "q_quality_rare_bigrams", "q_decontaminate_bloom",
        "q_bm25_search", "q_inverted_index",
        # streaming_merge's import dep
        "q_stream_restart",
    ):
        assert must in win, must
    assert win[0] == "q_fuzzy_levenshtein"      # matching leads
    assert win[-1] == "q_delete_positional_dv"  # cut after deletion_vectors
    after = list(registry.QUERIES)[WINDOW_SIZE:]
    assert after[:3] == [
        "q_retention_ttl", "q_lakehouse_read_path", "q_snapshot_read"]
    for out in (
        # r9-green past the cut
        "q_window_rank_dense", "q_subquery_scalar", "q_map_funcs",
        "q_json_struct", "q1_pricing_summary", "q_filter_project",
        "q_string_funcs", "q_ann_bruteforce_topk", "q_ann_lsh_buckets",
        # r15-green, unchanged: rotated out
        "q_setsim_prefix_join", "q_pagerank_bipartite",
        "q_label_propagation", "q_join_bucketed", "q_join_bloom_dpp",
        "q_source_binaryfile", "q4_order_priority", "q_zorder_layout",
        # r10-r13-green stays out
        "q_profile_columns", "q_sessionize_events", "q_scd2_merge",
        "q_stats_mad", "q_bpe_encode", "q_incremental_rollup",
    ):
        assert out not in win, out


def test_module_deps_reflect_imports():
    """The dependency scan that lets window() fold import-dragged
    modules forward must see the known edges (ast-based since r8 --
    ADVICE r7: the old regex dropped all but the first name of a
    multi-module import) -- and must NOT see edges to the shared
    staging and table-format helpers, which live outside the queries
    package precisely so consumers don't drag a query module into the
    window."""
    deps = registry._module_deps()
    assert set(deps["curation_full"]) >= {"dedup", "packing", "quality"}
    assert "clustering" in deps["curation_extra"]
    assert "streaming_restart" in deps["streaming_merge"]
    assert [m for m, d in deps.items() if "merge" in d] == []
    for consumer in ("binary_source", "schema_evolution",
                     "streaming_restart", "compaction"):
        assert "runtime_filters" not in deps.get(consumer, []), consumer


def test_module_deps_multi_import(tmp_path, monkeypatch):
    """Regression for the ADVICE r7 regex bug: a single
    `from ...queries import a, b` line must yield BOTH modules."""
    import textwrap

    from discogs_xml_to_parquet_spark import queries as qpkg

    mod = tmp_path / "fake_dep_probe.py"
    mod.write_text(textwrap.dedent("""\
        from discogs_xml_to_parquet_spark.queries import dedup, packing
        from discogs_xml_to_parquet_spark.queries.quality import x
        import discogs_xml_to_parquet_spark.queries.scoring
    """))
    (tmp_path / "__init__.py").write_text("")
    monkeypatch.setattr(qpkg, "__file__", str(tmp_path / "__init__.py"))
    deps = registry._module_deps()
    assert deps["fake_dep_probe"] == ["dedup", "packing", "quality",
                                      "scoring"]
