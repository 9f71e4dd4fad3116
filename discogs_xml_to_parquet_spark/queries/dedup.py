"""Deduplication queries over the documents/embeddings tables --
north-star training-data-pipeline operators (BASELINE.json), each
oracle-checked end to end including the hash math.

Every signature computation is mirrored digit-for-digit in DuckDB SQL
(md5 hex is engine-independent; list_sum/aggregate are both in-order
folds), so even the MinHash-LSH bucketing is exact-verified rather than
rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.functions import vector as V
from discogs_xml_to_parquet_spark.queries._fragments import (
    cc_ctes,
    quality_score_expr,
)
from discogs_xml_to_parquet_spark.operators import dedup as D
from discogs_xml_to_parquet_spark.operators import graph as G
from discogs_xml_to_parquet_spark.operators import similarity as S
from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.tables import load, load_spread

# Shared DuckDB CTE: distinct word-3-gram shingles per document.
def sh_cte(source: str = "documents") -> str:
    """Shingle CTE over any doc-shaped relation (doc_id, text) -- the
    capstone pipelines re-scope it to their filtered survivors."""
    return f"""
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {source})
)
"""


_SH_CTE = sh_cte()

# DuckDB mirror of operators.dedup.shingle_hash32: Horner over the first
# 8 hex digits of md5(s).
_H32 = "0"
for _i in range(1, 9):
    _H32 = f"({_H32} * 16 + strpos('0123456789abcdef', md5(s)[{_i}]) - 1)"

# DuckDB mirror of minhash_signature: one list element per (a, b) pair.
_SIG_ELEMS = ",\n    ".join(
    f"list_min(list_transform(vs, v -> ({a} * v + {b}) % {D.MERSENNE31}))"
    for a, b in D.HASH_AB
)

# DuckDB mirror of band_keys (4 bands x 4 rows).
_BAND_ELEMS = ",\n    ".join(
    "md5(" + " || '|' || ".join(
        f"CAST(sig[{b * 4 + r + 1}] AS VARCHAR)" for r in range(4)
    ) + ")"
    for b in range(4)
)


@query(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_id
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-keyed group, min doc_id survives. The shuffle
    carries 32-byte keys, not documents -- at 100 TB this is a cheap
    pre-pass that also removes the worst skew source for MinHash-LSH
    (huge buckets of identical docs)."""
    d = load(spark, sf_dir, "documents")
    return D.exact_dedup(d, "doc_id", "text").orderBy("keep_id")


# Full CTE chain shingles -> signatures -> bands -> verified pairs,
# shared by the LSH query and the components query built on its output.
def minhash_verified_ctes(source: str = "documents") -> str:
    """The whole LSH chain (shingles -> signatures -> bands ->
    candidates -> jaccard-verified near_dups) over any doc-shaped
    relation; ONE builder for every oracle that embeds it."""
    return f"""
WITH {sh_cte(source)},
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {_H32}) AS vs, shingles
  FROM sh WHERE len(shingles) > 0
),
sigs AS (
  SELECT doc_id, [
    {_SIG_ELEMS}
  ] AS sig
  FROM hashed
),
band_arr AS (
  SELECT doc_id, [
    {_BAND_ELEMS}
  ] AS bkeys
  FROM sigs
),
bands AS (
  SELECT doc_id, b, bkeys[b + 1] AS band_key
  FROM band_arr, generate_series(0, 3) AS g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
  FROM bands a
  JOIN bands c ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
),
verified AS (
  SELECT id1, id2,
         len(list_intersect(s1.shingles, s2.shingles))
           / (len(s1.shingles) + len(s2.shingles)
              - len(list_intersect(s1.shingles, s2.shingles))) AS jaccard_sim
  FROM cand
  JOIN sh s1 ON cand.id1 = s1.doc_id
  JOIN sh s2 ON cand.id2 = s2.doc_id
),
near_dups AS (
  SELECT id1, id2, jaccard_sim FROM verified WHERE jaccard_sim >= 0.5
)"""


_MINHASH_VERIFIED_CTES = minhash_verified_ctes()


def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str,
                           docs: DataFrame | None = None) -> DataFrame:
    """Verified near-dup pairs (id1 < id2, jaccard >= 0.5); the shared
    Spark pipeline behind q_dedup_minhash_lsh and q_dedup_components.
    Pass `docs` to run the chain over a filtered corpus (the capstone
    pipelines); by default loads the whole documents table.
    load_spread: the shingle+signature folds are compute-bound and the
    source is one file -- without spreading they run on one core."""
    d = docs if docs is not None else load_spread(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", D.word_shingles(F.col("text")).alias("shingles")
    ).filter(F.size("shingles") > 0)
    # repartition = an explicit exchange barrier: without it, projection
    # collapse inlines the whole signature fold into each of the 16
    # element_at references in band_keys (16x recompute). The shuffled
    # payload is (doc_id, 16x32B sig) ~ 0.5 KB/doc -- negligible at any
    # scale, and the bands stage then reads sig as a materialized column.
    sigs = (
        sh.select("doc_id", D.minhash_signature(F.col("shingles")).alias("sig"))
        .repartition("doc_id")
        .select("doc_id", D.band_keys(F.col("sig")).alias("bands"))
    )
    # The verify sides recompute word_shingles rather than reuse a
    # materialized shingle frame: shingling is a map-only projection
    # (scales linearly, no shuffle), while checkpointing shingles
    # stores a frame larger than the corpus -- measured at sf0.1 the
    # recompute costs ~0.1-0.3 s vs a shingle checkpoint (round-5
    # interleaved A/B/C experiment), and a candidate-restricted verify
    # (semi-join the corpus on candidate ids first) was strictly
    # slower still: the extra broadcast exchanges outweigh the saved
    # map work at every SF where the candidate set is small.
    cand = D.lsh_candidate_pairs(sigs, "doc_id", "bands")
    s1 = sh.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("sh2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", D.jaccard(F.col("sh1"), F.col("sh2")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= 0.5)
    )


@query(
    "q_dedup_minhash_lsh",
    oracle=_MINHASH_VERIFIED_CTES + """
SELECT id1, id2, jaccard_sim FROM near_dups
ORDER BY id1, id2
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, exact-verified.

    Stages (see operators/dedup.py for the scale analysis): per-row
    signature (no shuffle) -> band explode + self-join (the one wide
    shuffle, on band_key) -> Jaccard verification join by doc_id.
    16 hashes, 4 bands x 4 rows: candidate threshold ~ (1/4)^(1/4) ~ 0.7
    similarity; the 0.5 Jaccard filter keeps verified near-dups."""
    return minhash_near_dup_pairs(spark, sf_dir).orderBy("id1", "id2")


@query(
    "q_dedup_components",
    oracle=_MINHASH_VERIFIED_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n" + cc_ctes() + """
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS component
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
ORDER BY d.doc_id
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup groups: connected components
    (operators/graph.py, labeled on the driver up to its size bound,
    large-star/small-star above it), every document labeled with its
    component's minimum doc_id (singletons label themselves).
    This is the step that turns pairwise similarity into 'keep one per
    group'. Oracle: DuckDB recursive-CTE transitive closure."""
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    comp = G.connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_dedup_simhash",
    oracle="""
WITH tk AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t ->
    (strpos('0123456789abcdef', md5(t)[1]) - 1) * 4096 +
    (strpos('0123456789abcdef', md5(t)[2]) - 1) * 256 +
    (strpos('0123456789abcdef', md5(t)[3]) - 1) * 16 +
    (strpos('0123456789abcdef', md5(t)[4]) - 1)) AS vs
  FROM documents WHERE text IS NOT NULL
),
sums AS (
  SELECT doc_id, list_transform(generate_series(0, 15), j ->
    list_sum(list_transform(vs, v -> CASE WHEN ((v >> (15 - j)) & 1) = 1 THEN 1 ELSE -1 END))) AS s
  FROM tk
)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 15), j ->
         CASE WHEN s[j+1] > 0 THEN (CAST(1 AS BIGINT) << (15 - j)) ELSE 0 END)) AS BIGINT) AS simhash
FROM sums
ORDER BY doc_id
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (near-dups differ in few
    bits). Pure per-row nested-fold math; spread across cores (the
    single-file source would otherwise serialize the folds); the
    grouping/banding on the fingerprint reuses the LSH machinery."""
    d = load_spread(spark, sf_dir, "documents")
    # NULL-text guard on BOTH sides (the banded variant documents why,
    # ADVICE r2): Spark's fold propagates NULL while the oracle's CASE
    # collapses a NULL vote sum to bit 0 -- a latent divergence on any
    # corpus with null text (review r11)
    return d.filter(F.col("text").isNotNull()).select(
        "doc_id", D.simhash16(F.col("text")).alias("simhash")
    ).orderBy("doc_id")


_SIMHASH_CTES = """
WITH tk AS (
  SELECT doc_id, list_transform(string_split(text, ' '), t ->
    (strpos('0123456789abcdef', md5(t)[1]) - 1) * 4096 +
    (strpos('0123456789abcdef', md5(t)[2]) - 1) * 256 +
    (strpos('0123456789abcdef', md5(t)[3]) - 1) * 16 +
    (strpos('0123456789abcdef', md5(t)[4]) - 1)) AS vs
  FROM documents WHERE doc_id < 250 AND text IS NOT NULL
),
sums AS (
  SELECT doc_id, list_transform(generate_series(0, 15), j ->
    list_sum(list_transform(vs, v -> CASE WHEN ((v >> (15 - j)) & 1) = 1 THEN 1 ELSE -1 END))) AS s
  FROM tk
),
sigs AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 15), j ->
           CASE WHEN s[j+1] > 0 THEN (CAST(1 AS BIGINT) << (15 - j)) ELSE 0 END)) AS BIGINT) AS simhash
  FROM sums
)
"""


@query(
    "q_dedup_simhash_pairs",
    oracle=_SIMHASH_CTES + """
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id1, id2
""",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance <= 3 over the 16-bit
    fingerprints (bounded slice; at scale, band the fingerprint into
    nibbles and equi-join on any shared band -- pigeonhole guarantees
    a band match at distance <= 3 with 4 bands -- then verify, exactly
    like the MinHash pipeline)."""
    d = load_spread(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 250) & F.col("text").isNotNull())
    sigs = d.select("doc_id", D.simhash16(F.col("text")).alias("simhash"))
    a, b = sigs.alias("a"), sigs.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .orderBy("id1", "id2")
    )


# ONE spelling of the DF-capped shared-shingle candidate stage for BOTH
# its consumers (q_dedup_ngram_jaccard, q_dedup_containment) -- the
# matching.py _BLOCKED_CTES rule: a cap/bound tweak applied to one
# query must not silently desynchronize the other (review r11).
_SHINGLE_CAND_CTES = """bounded AS (SELECT * FROM sh WHERE doc_id < 1000),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM bounded),
kept AS (
  SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY s) AS df FROM ex)
  WHERE df <= 100
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
),"""


def _shingle_candidates(spark: SparkSession, sf_dir: str):
    """The Spark half of the shared stage: bounded docs -> word
    shingles -> DF<=100 cap -> distinct shared-shingle candidate
    pairs. Returns (cand(id1, id2), sh(doc_id, shingles)) for the
    per-query verification joins."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sh = d.select(
        "doc_id", D.word_shingles(F.col("text")).alias("shingles")
    ).filter(F.size("shingles") > 0)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    w_df = Window.partitionBy("s")
    kept = ex.withColumn("df", F.count(F.lit(1)).over(w_df)).filter(
        F.col("df") <= 100
    )
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"),
                F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    return cand, sh


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_SH_CTE},
{_SHINGLE_CAND_CTES}
verified AS (
  SELECT id1, id2,
         len(list_intersect(s1.shingles, s2.shingles))
           / (len(s1.shingles) + len(s2.shingles)
              - len(list_intersect(s1.shingles, s2.shingles))) AS jaccard_sim
  FROM cand
  JOIN bounded s1 ON cand.id1 = s1.doc_id
  JOIN bounded s2 ON cand.id2 = s2.doc_id
)
SELECT id1, id2, jaccard_sim FROM verified
WHERE jaccard_sim >= 0.6
ORDER BY id1, id2
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct n-gram-Jaccard near-dup: candidates = any shared shingle.

    Deliberately the non-LSH baseline: candidate count grows with
    shingle document frequency (a shingle in d docs contributes
    O(d^2) pairs), which is exactly the blow-up MinHash-LSH avoids.
    The standard mitigation is implemented: shingles whose document
    frequency exceeds 100 are dropped before candidate generation
    (boilerplate shingles pair everything with everything and carry no
    dedup signal; the cap is the same DF-cap lever as q_fuzzy_blocked).
    Bounded to doc_id < 1000 to keep the pair space honest (1000, not
    250: at sf0.1 the near-dup pairs are spread through the id space
    and the first 250 ids hold none above the 0.6 threshold, which
    would make the check vacuous at bench SF)."""
    cand, sh = _shingle_candidates(spark, sf_dir)
    s1 = sh.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("sh2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", D.jaccard(F.col("sh1"), F.col("sh2")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= 0.6)
        .orderBy("id1", "id2")
    )


@query(
    "q_dedup_embedding_cosine",
    oracle="""
WITH n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 2000)
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
           / (a.nrm * b.nrm) AS cos_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id1, id2, cos_sim FROM pairs
WHERE cos_sim >= 0.40
ORDER BY id1, id2
""",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup). Brute-force
    O(n^2) self-join is the correctness baseline; the scale path --
    hyperplane-LSH bucketing so only same-bucket pairs are compared --
    is q_ann_lsh_buckets in queries/similarity.py. Cosine values are
    bit-identical across engines (in-order folds + IEEE sqrt/div), so
    the pair set is exact. Bounded to vec_id < 2000 to keep the
    deliberately-quadratic pair space honest at larger SFs (the same
    bound the oracle carries). Threshold 0.40 is chosen from the
    observed cosine distribution of the synthetic embeddings (max
    pairwise cosine ~0.48-0.60 depending on SF; 0.95 matched nothing,
    a vacuous green in round 1) -- it yields tens-to-hundreds of pairs
    at every SF."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    n = e.select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("v"),
    ).withColumn("nrm", F.sqrt(V.norm2(F.col("v"))))
    # the corpus arrives as ONE parquet file = one partition; without a
    # repartition the broadcast NLJ evaluates every pair on a single
    # core (74s -> ~3s at sf0.1 on 32 cores)
    a, b = n.repartition(64).alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            (V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.40)
        .orderBy("id1", "id2")
    )


# 64-bit SimHash mirror: token hash = two 32-bit md5 halves (_H32 over
# hex digits 1-8; _H32B over 9-16), 4 x 16-bit band values.
_H32B = "0"
for _i in range(9, 17):
    _H32B = f"({_H32B} * 16 + strpos('0123456789abcdef', md5(s)[{_i}]) - 1)"

_SIMHASH64_CTES = f"""
WITH tk AS (
  SELECT doc_id, list_transform(string_split(text, ' '), s -> [{_H32}, {_H32B}]) AS vs
  FROM documents
  WHERE text IS NOT NULL
),
sums AS (
  SELECT doc_id, list_transform(generate_series(0, 63), j ->
    list_sum(list_transform(vs, v -> CASE WHEN j < 32
      THEN ((v[1] >> (31 - j)) & 1) * 2 - 1
      ELSE ((v[2] >> (63 - j)) & 1) * 2 - 1 END))) AS s
  FROM tk
),
sigs AS (
  SELECT doc_id, list_transform(generate_series(0, 3), b ->
    CAST(list_sum(list_transform(generate_series(0, 15), k ->
      CASE WHEN s[b * 16 + k + 1] > 0 THEN (CAST(1 AS BIGINT) << (15 - k)) ELSE 0 END)) AS BIGINT)) AS bands
  FROM sums
),
ex AS (
  SELECT doc_id, bands, b, bands[b + 1] AS band_val
  FROM sigs, generate_series(0, 3) AS g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, a.bands AS ba, c.doc_id AS id2, c.bands AS bb
  FROM ex a
  JOIN ex c ON a.b = c.b AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)"""


@query(
    "q_dedup_simhash_banded",
    oracle=_SIMHASH64_CTES + """
SELECT id1, id2,
       CAST(list_sum(list_transform(generate_series(1, 4),
         i -> bit_count(xor(ba[i], bb[i])))) AS INT) AS hamming
FROM cand
WHERE list_sum(list_transform(generate_series(1, 4),
        i -> bit_count(xor(ba[i], bb[i])))) <= 3
ORDER BY id1, id2
""",
)
def q_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, the scale path (VERDICT r1 item 4):
    64-bit fingerprint (the canonical production width) kept as
    4 x 16-bit band values; candidates come from an equi-join on
    (band_no, band_value) -- pigeonhole guarantees any pair at Hamming
    distance <= 3 shares at least one band, so recall vs the all-pairs
    theta join is exact (test_simhash_banded_full_recall_vs_all_pairs)
    -- then Hamming verification on the candidates only. Runs over the
    WHOLE documents table, no doc_id bound. 16-bit bands (not 8): the
    synthetic corpus's shared vocabulary biases fingerprint bits, and
    candidate volume grows with the square of bucket occupancy -- the
    8-bit-band variant produced 2.5M candidates at sf0.1, the 16-bit
    one ~100k for identical recall. Verification runs BEFORE the
    distinct so the dedup exchange carries matches, not candidates.
    q_dedup_simhash_pairs remains as the bounded all-pairs recall
    baseline. Skew: exact-duplicate documents share fingerprints and
    pile into one bucket -- run exact dedup first. NULL text is
    filtered identically on both sides (ADVICE r2: DuckDB's CASE would
    otherwise collapse NULL vote sums to band 0 while Spark's NULL
    bands drop out of the equi-join)."""
    d = load_spread(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # repartition = materialization barrier: without it the 64-slot
    # vote fold inlines into each of the 4 band expressions
    sums = d.select(
        "doc_id", D.simhash64_bit_sums(F.col("text")).alias("s")
    ).repartition("doc_id")
    sigs = sums.select(
        "doc_id", D.simhash64_bands_from_sums(F.col("s")).alias("bands")
    )
    # posexplode_OUTER, deliberately: plain posexplode makes the
    # optimizer infer a `size(bands) > 0` filter (InferFiltersFromGenerate)
    # and push it through both exchanges into the single-task scan stage,
    # re-evaluating the whole 64-slot fold there on one core (12.7s ->
    # 0.8s at sf0.1). The array is always length 4, so outer semantics
    # are identical.
    ex = sigs.select(
        "doc_id",
        "bands",
        F.posexplode_outer("bands").alias("band_no", "band_val"),
    )
    # SHUFFLE_MERGE, explicitly (r15, VERDICT r14 item 3; guide 3.1):
    # the Generate-blinded size estimate otherwise makes the planner
    # broadcast the whole exploded band frame as the build side -- an
    # O(corpus) HashedRelation that grows with the data while its
    # estimate never does (the r14 fuzzy failure class). Hinted, both
    # sides shuffle on (band_no, band_val); identical subtrees, so AQE
    # stage reuse pays one exchange, and AQE's skew-join splitting
    # handles the exact-dup band pileups the docstring warns about.
    a, b = ex.alias("a"), ex.alias("b").hint("shuffle_merge")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            D.band_hamming(F.col("a.bands"), F.col("b.bands")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .orderBy("id1", "id2")
    )


@query(
    "q_dedup_embedding_lsh",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{S.lsh_bucket_norm_sql()},
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_sum(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]))
           / (a.nrm * b.nrm) AS cos_sim
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id1, id2, cos_sim FROM pairs
WHERE cos_sim >= 0.30
ORDER BY id1, id2
""",
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH buckets, the scale path
    (VERDICT r1 item 6): bucket the WHOLE corpus with 8 sign bits (a
    per-row projection against literal planes -- no shuffle), then an
    equi-join on bucket produces only in-bucket candidate pairs
    (expected bucket size n/256), cosine-verified at 0.30 (threshold
    from the observed in-bucket cosine distribution: ~20-30 pairs per
    SF; bucket-mates are angularly close by construction). Recall is
    approximate -- cross-bucket near-dups are missed, the standard LSH
    trade -- with q_dedup_embedding_cosine as the bounded exact
    baseline. At 100 TB, writing the corpus partitioned by bucket makes
    this a partition-local join with zero wide shuffle."""
    e = load(spark, sf_dir, "embeddings").repartition(64)
    n = S.with_lsh_bucket(
        e.select(F.col("vec_id"), V.as_double(F.col("embedding")).alias("v")),
        "v",
        "bucket",
    ).withColumn("nrm", F.sqrt(V.norm2(F.col("v"))))
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            (V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.30)
        .orderBy("id1", "id2")
    )


@query(
    "q_curation_keep_best",
    oracle=_MINHASH_VERIFIED_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + ",\n" + cc_ctes() + f""",
labeled AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(c.min_reach, d.doc_id)) AS component,
         {quality_score_expr("d.text")} AS quality_score
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                               ORDER BY quality_score DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY component) AS n_members
  FROM labeled
)
SELECT component, doc_id AS keep_id, n_members, quality_score AS best_quality
FROM ranked WHERE rk = 1
ORDER BY component
""",
)
def q_curation_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline these operators exist for,
    composed in one declarative plan: MinHash-LSH near-dup pairs ->
    connected components (dedup groups) -> per-doc quality score ->
    keep the highest-quality member of each group (tie-break min
    doc_id). Output: one row per surviving document with its group
    size. Every stage is the scale-path variant (banded LSH candidates,
    size-dispatched CC, per-row quality arithmetic); the oracle rebuilds
    the whole chain -- signatures, transitive closure, quality argmax --
    relationally in DuckDB."""
    from discogs_xml_to_parquet_spark.operators.text import (
        quality_score,
        token_stats,
    )
    from pyspark.sql import Window as W

    pairs = minhash_near_dup_pairs(spark, sf_dir)
    comp = G.connected_components(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    docs = load(spark, sf_dir, "documents")
    labeled = (
        quality_score(token_stats(docs))
        .select("doc_id", "quality_score")
        .join(comp, F.col("doc_id") == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
            "quality_score",
        )
    )
    w = W.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    wc = W.partitionBy("component")
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            "n_members",
            F.col("quality_score").alias("best_quality"),
        )
        .orderBy("component")
    )


@query(
    "q_dedup_containment",
    oracle=f"""
WITH {_SH_CTE},
{_SHINGLE_CAND_CTES}
verified AS (
  SELECT id1, id2,
         len(list_intersect(s1.shingles, s2.shingles))
           / least(len(s1.shingles), len(s2.shingles)) AS containment_sim,
         len(list_intersect(s1.shingles, s2.shingles))
           / (len(s1.shingles) + len(s2.shingles)
              - len(list_intersect(s1.shingles, s2.shingles))) AS jaccard_sim
  FROM cand
  JOIN bounded s1 ON cand.id1 = s1.doc_id
  JOIN bounded s2 ON cand.id2 = s2.doc_id
)
SELECT id1, id2, containment_sim, jaccard_sim FROM verified
WHERE containment_sim >= 0.8
ORDER BY id1, id2
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup: |A n B| / min(|A|, |B|) over word
    shingles -- the sub-document duplication detector. A short doc
    pasted inside a longer one scores ~1.0 here while symmetric
    Jaccard stays low (the union dilutes it), which is why substring-
    level dedup pipelines (Lee et al.-style) key on containment, not
    Jaccard. Same candidate discipline as q_dedup_ngram_jaccard:
    DF-capped shared-shingle blocking (no all-pairs), then exact
    verification on the candidate set only; both scores are emitted so
    the asymmetry is visible in the result. The candidate stage is the
    SAME code and the SAME oracle fragment as q_dedup_ngram_jaccard
    (_shingle_candidates / _SHINGLE_CAND_CTES)."""
    cand, sh = _shingle_candidates(spark, sf_dir)
    s1 = sh.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("sh1"))
    s2 = sh.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("sh2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            D.containment(F.col("sh1"), F.col("sh2")).alias("containment_sim"),
            D.jaccard(F.col("sh1"), F.col("sh2")).alias("jaccard_sim"),
        )
        .filter(F.col("containment_sim") >= 0.8)
        .orderBy("id1", "id2")
    )
