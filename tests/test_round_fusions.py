"""Spark-vs-Spark equivalence pins for the round-6 algebraic fusions.

Each round-6 perf rewrite (capstone exact-edge drop, PageRank round-1
constant propagation, LPA round-1 min-neighbor degeneration) is
justified by an algebraic argument in its docstring; the DuckDB oracle
pins the result END-to-end, but these tests pin the argument itself by
running the UNFUSED spelling in Spark against the shipped fused one --
so a future edit that breaks the precondition (e.g. near-dup pairs no
longer computed over canonical-only texts) fails here with a targeted
message instead of as an opaque oracle hash mismatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark import registry
from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module", autouse=True)
def _load():
    registry.load_all_queries()


def test_capstone_exact_edges_are_redundant(spark):
    """CC over near pairs UNION exact-dup edges must label survivors
    identically to CC over near pairs alone: exact-dup nodes are
    leaves with strictly-larger doc_ids and identical quality, so they
    neither bridge components nor win keep-best."""
    from discogs_xml_to_parquet_spark.operators import graph as G
    from discogs_xml_to_parquet_spark.operators.text import (
        quality_score,
        token_stats,
    )
    from discogs_xml_to_parquet_spark.queries.dedup import (
        minhash_near_dup_pairs,
    )
    from discogs_xml_to_parquet_spark.queries.quality import (
        gopher_keep_filter,
    )
    from discogs_xml_to_parquet_spark.tables import load_spread

    sf = SF_SMOKE
    d = load_spread(spark, sf, "documents")
    kept = gopher_keep_filter(d).select("doc_id", "text")
    hashed = kept.select("doc_id", F.md5("text").alias("text_hash"))
    groups = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("keep_id")
    )
    mapped = hashed.join(groups, "text_hash").select("doc_id", "keep_id")
    exact_pairs = mapped.filter(
        F.col("doc_id") != F.col("keep_id")
    ).select(F.col("keep_id").alias("id1"), F.col("doc_id").alias("id2"))
    canonical = kept.join(
        groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "semi"
    )
    collapsed = (
        quality_score(token_stats(canonical))
        .select("doc_id", "n_tokens", "quality_score")
        .localCheckpoint()
    )
    near = minhash_near_dup_pairs(
        spark, sf, docs=kept.join(collapsed.select("doc_id"), "doc_id", "semi")
    ).select("id1", "id2").localCheckpoint()

    def survivors(pairs):
        comp = G.connected_components(
            pairs.select(
                F.col("id1").alias("src"), F.col("id2").alias("dst")
            )
        )
        stats = collapsed
        labeled = stats.join(
            comp, stats["doc_id"] == comp["id"], "left"
        ).select(
            stats["doc_id"],
            "n_tokens",
            "quality_score",
            F.coalesce("comp", stats["doc_id"]).alias("component"),
        )
        w = Window.partitionBy("component").orderBy(
            F.col("quality_score").desc(), F.col("doc_id")
        )
        return (
            labeled.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", "n_tokens")
        )

    with_exact = _rows(survivors(near.union(exact_pairs)))
    without = _rows(survivors(near))
    assert with_exact == without
    assert len(without) > 0


def test_pagerank_round1_fusion_equivalence(spark):
    """The shipped fused PageRank must equal the unfused spelling that
    materializes the uniform rank vector and joins it in round 1."""
    from discogs_xml_to_parquet_spark.queries.graph_iter import (
        _ITERS,
        _SCALE,
        _TOP,
    )
    from discogs_xml_to_parquet_spark.tables import load

    sf = SF_SMOKE
    li = load(spark, sf, "lineitem")
    o_node = F.col("l_orderkey") * 2
    p_node = F.col("l_partkey") * 2 + 1
    edges = li.select(o_node.alias("src"), p_node.alias("dst")).union(
        li.select(p_node.alias("src"), o_node.alias("dst"))
    )
    ewd = (
        edges.distinct()
        .withColumn(
            "odeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .localCheckpoint()
    )
    nodes = ewd.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).selectExpr(
        "node", f"CAST({_SCALE} div n AS BIGINT) AS r"
    )
    for _ in range(_ITERS):
        contrib = (
            ewd.join(ranks, ewd["src"] == ranks["node"])
            .selectExpr("dst", "r div odeg AS part")
            .groupBy("dst")
            .agg(F.sum("part").alias("s"))
        )
        ranks = contrib.crossJoin(F.broadcast(nn)).selectExpr(
            "dst AS node",
            f"CAST((15 * ({_SCALE} div n)) div 100"
            " + (85 * s) div 100 AS BIGINT) AS r",
        )
    unfused = (
        ranks.select("node", F.col("r").alias("rank_scaled"))
        .selectExpr(
            "CASE WHEN node % 2 = 0 THEN 'o' || CAST(node div 2 AS STRING)"
            " ELSE 'p' || CAST(node div 2 AS STRING) END AS node",
            "rank_scaled",
        )
        .orderBy(F.desc("rank_scaled"), "node")
        .limit(_TOP)
    )
    fused = registry.QUERIES["q_pagerank_bipartite"](spark, sf)
    assert _rows(unfused) == _rows(fused)


def test_lpa_round1_fusion_equivalence(spark):
    """The shipped fused LPA must equal the unfused spelling whose
    round 1 runs the general join+count+rank plurality."""
    from discogs_xml_to_parquet_spark.queries.graph_iter import _LPA_ITERS
    from discogs_xml_to_parquet_spark.tables import load

    sf = SF_SMOKE
    li = load(spark, sf, "lineitem")
    s_node = F.col("l_suppkey") * 2
    p_node = F.col("l_partkey") * 2 + 1
    edges = (
        li.select(s_node.alias("src"), p_node.alias("dst"))
        .union(li.select(p_node.alias("src"), s_node.alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for it in range(_LPA_ITERS):
        counted = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(edges["src"].alias("n2"), "lbl")
            .groupBy("n2", "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("n2").orderBy(F.desc("cnt"), "lbl")
        labels = (
            counted.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("n2").alias("node"), "lbl")
        )
        if it < _LPA_ITERS - 1:
            labels = labels.localCheckpoint()
    unfused = (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )
    fused = registry.QUERIES["q_label_propagation"](spark, sf)
    assert _rows(unfused) == _rows(fused)
