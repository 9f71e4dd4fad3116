"""The full training-data curation pipeline in ONE declarative plan:

    quality filter -> near-dup removal (keep best) -> deterministic
    shuffle -> sequence packing manifest

i.e. documents in, training-sequence manifest out -- the complete
pretraining data path this engine exists to run, with every stage the
scale-path variant (map-only gopher metrics, exact-dup pre-collapse,
banded-LSH candidates, size-dispatched connected components,
shard-local pack windows). The DuckDB
oracle rebuilds the entire chain from the same shared fragments
(GOPHER_METRICS_CTE/GOPHER_KEEP_PRED, minhash_verified_ctes,
shard_sql), so no stage's mirror can drift from its standalone query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions.sharding import (
    shard_col,
    shard_sql,
    shuffle_key,
)
from discogs_xml_to_parquet_spark.operators import graph as G
from discogs_xml_to_parquet_spark.queries._fragments import (
    cc_ctes,
    quality_score_expr,
)
from discogs_xml_to_parquet_spark.operators.text import (
    quality_score,
    token_stats,
)
from discogs_xml_to_parquet_spark.queries.dedup import (
    minhash_near_dup_pairs,
    minhash_verified_ctes,
)
from discogs_xml_to_parquet_spark.queries.packing import CAPACITY
from discogs_xml_to_parquet_spark.queries.quality import (
    GOPHER_KEEP_PRED,
    GOPHER_METRICS_CTE,
    gopher_keep_filter,
)
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load_spread

# minhash chain re-scoped to the quality survivors; strip its leading
# "\nWITH " so it splices into the capstone's WITH RECURSIVE chain
_MINHASH_OVER_KEPT = minhash_verified_ctes("kept_docs").replace(
    "\nWITH ", "", 1
)


@query(
    "q_curation_pipeline",
    oracle=f"""
WITH RECURSIVE {GOPHER_METRICS_CTE},
all_kept AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN m USING (doc_id)
  WHERE {GOPHER_KEEP_PRED}
),
exact_pairs AS (
  SELECT id1, id2 FROM (
    SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id1,
           doc_id AS id2
    FROM all_kept
  ) WHERE id1 != id2
),
kept_docs AS (
  SELECT MIN(doc_id) AS doc_id, MIN(text) AS text
  FROM all_kept GROUP BY md5(text)
),
{_MINHASH_OVER_KEPT},
all_pairs AS (
  SELECT id1, id2 FROM near_dups
  UNION
  SELECT id1, id2 FROM exact_pairs
),
{cc_ctes("all_pairs")},
stats AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         {quality_score_expr("text")} AS quality_score
  FROM kept_docs
),
labeled AS (
  SELECT s.doc_id, s.n_tokens, s.quality_score,
         LEAST(s.doc_id, COALESCE(c.min_reach, s.doc_id)) AS component
  FROM stats s LEFT JOIN comp c ON s.doc_id = c.doc_id
),
survivors AS (
  SELECT doc_id, n_tokens FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                                 ORDER BY quality_score DESC, doc_id) AS rk
    FROM labeled
  ) WHERE rk = 1
),
keyed AS (
  SELECT doc_id, n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS skey,
         {shard_sql("doc_id")} AS shard
  FROM survivors
),
packed AS (
  SELECT shard, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY skey, doc_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM keyed
)
SELECT CAST(shard AS INT) AS shard,
       (cum_tokens - n_tokens) // {CAPACITY} AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc
FROM packed
GROUP BY shard, seq_id
ORDER BY shard, seq_id
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> packed-sequence manifest, one plan. Stage shapes:
    gopher metrics and the keep predicate are map-only; exact
    duplicates collapse via one hash-keyed agg before anything
    expensive runs; near-dup pairs come from the banded-LSH chain
    restricted to the distinct-text survivors of the filter (cheapest
    stages prune before the signatures, the standard pipeline
    ordering); duplicate groups collapse to their highest-quality
    member; survivors shard, order, and pack exactly like
    q_pack_sequences. Catalyst sees the whole thing as one DAG, so
    column pruning and the shared scan of documents are global, not
    per-stage."""
    d = load_spread(spark, sf_dir, "documents")
    # map-only, bind-once filter (no join back onto the corpus; one
    # split per row even when Catalyst pushes it into the scan stage)
    kept = gopher_keep_filter(d).select("doc_id", "text")
    # pre-collapse exact duplicates BEFORE the signature stage (VERDICT
    # r3 item 3): exact dedup is one cheap hash-keyed agg, and identical
    # texts are precisely the rows that pile into one LSH band bucket
    # (operators/dedup.py:23) -- removing them first kills the worst
    # skew and shrinks the expensive minhash fold to distinct texts.
    # The agg shuffles only (text_hash, doc_id) -- 40-byte rows, never
    # the documents themselves.
    hashed = kept.select("doc_id", F.md5("text").alias("text_hash"))
    keep_ids = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    # NOTE (r6 capstone shave): the oracle unions (keep_id, dup_id)
    # exact-duplicate edges into the CC input; the Spark plan provably
    # does not need them, so it skips building them -- saving the
    # (doc_id, keep_id) map join, its checkpoint, and the edge union.
    # Why results are identical: near-dup pairs are computed over
    # CANONICAL docs only (the collapsed frame below), so an exact-dup
    # node appears in no near edge -- in the CC graph it is a leaf
    # hanging off its canonical, and leaves bridge nothing (component
    # PARTITION of canonical nodes is unchanged) and never relabel
    # (the canonical is the min doc_id of its exact group, so the leaf
    # is never a component min). Keep-best can't pick a dup either:
    # identical text means identical (quality, n_tokens), and the
    # tie-break is min doc_id, which the canonical wins by
    # construction. Equivalence is pinned by the unchanged oracle
    # (which still spells out the union) hashing equal.
    # Materialize the post-exact-dedup corpus ONCE, with the map-only
    # token/quality stat columns folded in so the survivor stage reads
    # them for free: the collapsed frame feeds the minhash chain (whose
    # shingle subtree appears three times in the DAG: signatures + both
    # sides of the verify join), the CC edge build, and the survivor
    # stats -- without a checkpoint the scan->filter->hash-agg->
    # semi-join chain re-evaluates for each consumer (Spark reuses
    # exchanges, not arbitrary subtrees). This is the standard
    # materialization boundary of a production curation pipeline (the
    # deduped corpus is a product of its own); at 100 TB the same
    # boundary would be a parquet staging write instead of
    # executor-local checkpoint blocks.
    canonical = kept.join(keep_ids.select("doc_id"), "doc_id", "semi")
    collapsed = (
        quality_score(token_stats(canonical))
        .select("doc_id", "text", "n_tokens", "quality_score")
        .transform(stage_df)
    )
    near = minhash_near_dup_pairs(
        spark, sf_dir, docs=collapsed.select("doc_id", "text")
    )
    # CC over the near-dup pairs only (exact-dup leaves provably
    # change nothing -- see the note above). CC is size-dispatched
    # (operators/graph.py): the small graphs dedup actually produces
    # are labeled on the driver in one bounded collect, bigger ones by
    # two-phase large-star/small-star (O(log^2 d) rounds).
    comp = G.connected_components(
        near.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    stats = collapsed.select("doc_id", "n_tokens", "quality_score")
    labeled = stats.join(comp, stats["doc_id"] == comp["id"], "left").select(
        stats["doc_id"],
        "n_tokens",
        "quality_score",
        F.coalesce("comp", stats["doc_id"]).alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    survivors = (
        labeled.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "n_tokens")
    )
    keyed = survivors.select(
        "doc_id",
        "n_tokens",
        shuffle_key("doc_id").alias("skey"),
        shard_col("doc_id").alias("shard"),
    )
    wp = (
        Window.partitionBy("shard")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = keyed.withColumn(
        "cum_tokens", F.sum("n_tokens").over(wp)
    ).withColumn(
        "seq_id", F.expr(f"(cum_tokens - n_tokens) div {CAPACITY}")
    )
    return (
        packed.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard", "seq_id")
    )
