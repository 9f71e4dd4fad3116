"""Query modules; importing this package registers every named query.

Import order IS driver-check order (the registry dict preserves
insertion order and the driver checks the first 50 registered queries).
Rotation policy: queries with no CORRECTNESS row anywhere go first,
then fixed/changed queries, then pinned modules, then the module whose
passing evidence is oldest.

The policy is CODE, not prose: registry.window() derives this order
from the CORRECTNESS_r*.json artifacts (VERDICT r6 item 6), and
tests/test_window.py pins that the first 50 imports below agree with
it. The derivation is PINNED to the artifacts that existed when it was
made (window(max_round=DERIVED_AT_ROUND) -- VERDICT r8 item 1): the
driver landing the next CORRECTNESS_r*.json cannot flip the
fixed-point test red; re-deriving is a deliberate commit that bumps
DERIVED_AT_ROUND and pastes the order
`python scripts/window_plan.py --max-round <round> --changed ...` prints.

Round-16 window (the first 50), derived by window(changed=CHANGED in
tests/test_window.py, pin=(), max_round=15). The design intent:
re-green every query whose code changed since its last green row --
the three connected-components consumers moved onto the size-
dispatched operators/graph.py entry point, the tables.load_spread
users now spread to defaultParallelism, and the table-format queries
now commit through tablefmt.py -- in registration order among equals:

- 1-6: matching CHANGED (q_entity_resolution's CC stage);
- 7-17: dedup CHANGED (q_dedup_components + q_curation_keep_best's
  CC stage; q_dedup_minhash_lsh + q_dedup_simhash_banded spread);
- 18-22: packing + quality + curation_full ride the dependency fold
  (curation_full imports dedup/packing/quality; q_curation_pipeline
  spreads and is the CC dispatcher's original consumer);
- 23-27: clustering + curation_extra (q_dedup_chunks spreads;
  clustering is curation_extra's import dep);
- 28-34: text_analysis (q_text_fingerprint spreads);
- 35-42: the r10-evidence spread users with their module siblings --
  quality_model, multimodal_audio, decontam, scoring;
- 43-50: the table-format queries -- merge, streaming_merge with its
  streaming_restart dep, deletion_vectors.

The CHANGED set (53 queries with module siblings and deps) overflows
the 50: ttl, then snapshot_read with its lakehouse dep, wait just past
the cut, ahead of the r9-evidence cohort (windows, subqueries,
semistructured, relational, scalars, similarity). The helpers the
staged lanes share live in ../staging.py and ../tablefmt.py, OUTSIDE
this package, so importing them cannot drag a query module forward in
the window.
"""

from discogs_xml_to_parquet_spark.queries import (  # noqa: F401
    # 1-6: matching CHANGED (q_entity_resolution's CC stage)
    matching,
    # 7-17: dedup CHANGED (two CC consumers, two load_spread users)
    dedup,
    # 18-22: the curation_full dependency fold (imports dedup,
    # packing, quality; q_curation_pipeline is CHANGED)
    packing,
    quality,
    curation_full,
    # 23-27: q_dedup_chunks CHANGED + its clustering dep
    clustering,
    curation_extra,
    # 28-34: q_text_fingerprint CHANGED
    text_analysis,
    # 35-42: r10-evidence load_spread users CHANGED
    quality_model,
    multimodal_audio,
    decontam,
    scoring,
    # 43-50: the table-format queries CHANGED (commit via tablefmt);
    # streaming_restart is streaming_merge's import dep
    merge,
    streaming_restart,
    streaming_merge,
    deletion_vectors,
    # --- 50-query window cut ---
    # CHANGED past the cut: first in line next round (lakehouse is
    # snapshot_read's import dep)
    ttl,
    lakehouse,
    snapshot_read,
    # the r9-evidence cohort on evidence age
    windows,
    subqueries,
    semistructured,
    relational,
    scalars,
    similarity,
)
from discogs_xml_to_parquet_spark.registry import query as _query

# q_ann_bruteforce_topk is registered manually (demoted from the
# similarity module in r3). It registers HERE -- directly after its
# module -- so its registration slot matches the policy order, which
# groups it with similarity.
_query("q_ann_bruteforce_topk", oracle=similarity.BRUTEFORCE_ORACLE)(
    similarity.q_ann_bruteforce_topk
)

from discogs_xml_to_parquet_spark.queries import (  # noqa: F401,E402
    # r10-green
    compaction,
    profiling,
    drift,
    timeseries,
    text_extra,
    stats_extra,
    windows_extra,
    scd,
    cdc,
    vocab,
    formats_extra,
    sampling,
    # r11-green
    schema_evolution,
    multimodal_image,
    quantile_rollup,
    kll_quantiles,
    partition_evolution,
    python_datasource,
    tpch_extra,
    aggregates,
    formats,
    # r12-green
    theta_sets,
    bucket_pruning,
    analytics_extra,
    features,
    sketch_rollup,
    constraints,
    conversion,
    reshaping,
    joins,
    nested,
    python_udfs,
    # r13-green
    tokenize,
    file_skipping,
    incremental,
    streaming_queries,
    sketches,
    tpch_extra2,
    pipeline,
    ranges,
    cohorts,
    setops,
    temporal,
    # r15-green (freshest evidence, rotated out of the window)
    setsim,
    graph_iter,
    runtime_filters,
    binary_source,
    tpch_extra3,
    layout,
)
