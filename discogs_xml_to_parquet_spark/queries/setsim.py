"""Exact set-similarity join via prefix filtering (the AllPairs /
PPJoin candidate-generation family): all document pairs with token-set
Jaccard >= 0.95, EXACTLY -- no MinHash/SimHash approximation.

This is the exactness-required counterpart of queries/dedup.py's LSH
lanes. The lossless trick: order every set's distinct tokens by a
GLOBAL rarity total order (set frequency, then token), and emit only
each set's first |d| - ceil(t*|d|) + 1 tokens as join keys. For any
pair with J >= t, the globally-smallest COMMON token provably falls
inside BOTH prefixes (if it fell outside one, the >= ceil(t*|d|)
common tokens would have to fit in the ceil(t*|d|) - 1 positions
behind it), so the prefix equi-join misses nothing, while stopword-ish
high-frequency tokens never become join keys.

r11 rewrite -- DISTINCT-SET COLLAPSE (VERDICT r10 item 1): the r10
plan ran the prefix join over DOCUMENTS, and on this template corpus
-- where near-duplicate cliques share even their rarest tokens -- the
candidate space grew as sum over tokens of C(df_docs, 2): measured
22x wall for 10x data, the suite's one superlinear scaling. The
collapse restores the scale story losslessly:

  1. group documents by the md5 of their sorted distinct-token array
     -- each exact-token-set clique becomes ONE representative set;
  2. run prefix generation, the length + positional residual filters,
     and broadcast verification over DISTINCT SETS only (candidate
     space: sum of C(df_sets, 2) -- the clique structure that made
     the corpus adversarial is now collapsed out of the join);
  3. expand arithmetically: every qualifying (set_a, set_b) pair
     crosses its two member lists (same n_common/n_union for every
     doc pair, by definition of equal token sets), and every clique
     with >= 2 members contributes its intra-clique pairs with
     J = 1 >= t (n_common = n_union = |set|).

Output is EXACT and the brute-force oracle is unchanged -- a hash
match still pins the losslessness theorem plus the collapse algebra
on this corpus, not just the arithmetic.

Scale shape: candidates come from an equi-join on prefix tokens of
distinct sets, pruned IN the join by the two other lossless
AllPairs/PPJoin filters as residuals -- the LENGTH filter (J >= t
forces t*|B| <= |A|) and the POSITIONAL filter (tokens behind the
matched prefix positions bound the achievable overlap:
1 + min(|A|-pos_a, |B|-pos_b) >= ceil(t/(1+t) * (|A|+|B|))) -- both
provable drops, both integer arithmetic, both evaluated before any
pair materializes past the join. Verification joins the
set-count-sized sorted-token table twice, broadcast ONLY while the
distinct-set count is under _BROADCAST_MAX_ROWS (r12, VERDICT r11
item 1: the set and membership tables are O(corpus) on a
low-duplication corpus, so an unconditional hint is an OOM at
100 TB): under the cap the arrays ship once per executor and
|A intersect B| is computed map-side; over it the same joins shuffle
on set_id and AQE picks the strategy. The expansion joins are the
same size-conditional equi-joins on set_id, and their output
cardinality IS the final answer -- output-bound by construction. The
threshold comparison is exact integer cross-multiplication
(20*i >= 19*u), no floats anywhere.

r12 rewrite -- SURROGATE IDS + DEDUP AFTER VERIFY (on top of the r11
collapse): profiling the r11 plan at sf1 showed the wall was NOT in
the broadcast build the r11 notes guessed at, but in the candidate
stream itself -- 9.6M matched pairs distinct-ed as md5-STRING pairs
(the pipeline's one big exchange, ~64 B/row both sides hash-agg'd),
then verified. Three changes, each measured in isolation:

  1. every set gets an 8-byte surrogate `sid` at MV materialization
     (md5 stays the collapse identity -- 128-bit, collision-safe at
     any corpus size; the surrogate is collision-free by
     construction, a dimension-table key);
  2. the pre-verification distinct is GONE (measured multiplicity
     ~1.0); the dedup runs after the threshold filter, on the 20k
     qualifying set pairs instead of 9.6M candidates;
  3. the verification CPU is rebalanced by one explicit pair-keyed
     exchange of (sid_a, sid_b) longs -- without it the
     array_intersect work runs inside the prefix join's TOK-keyed
     output partitions, where the clique-shared rare tokens
     concentrate the match explosion on a few cores (measured 9 s
     skewed vs 1.7 s rebalanced at sf0.1, identical row counts).

Measured (local[32], same box): the r10 plan = 47.2 s at sf0.1 /
69.6 s at sf1; the r11 collapse = ~5.5 s / ~19 s (22x -> ~4-5x);
the r12 plan = 4.4-5.3 s at sf0.1 / 12.8-14.6 s at sf1 -- the
sf1/sf0.1 wall ratio lands at ~2.9x for 10x data and exactly 10x
output, under r9's <= ~4x bound with margin. The other r11 lever
stays: localCheckpoint staging of the fan-out frames (doc_sets /
sets / members / ranked tokens) removes ~10 s of lineage recompute
the ~10-consumer DAG otherwise pays.

r14 rewrite -- INTERNED TOKEN IDS (VERDICT r13 item 3): the r13 sf10
lane measured the candidate stream exactly linear (9.6M -> 96M per
decade) but decade2 wall at 6.9x -- the residual super-linearity is
pure verification CPU: array_intersect over STRING token arrays pays
UTF8 hashing + equality per element per candidate. The rarity join
already exists (every token row joins the per-token df table), so the
global token dictionary is free to mint there: distinct tokens get an
8-byte surrogate `tid` (monotonically_increasing_id frozen by
stage_df -- the same dimension-key trick as `sid`), the candidate
self-join keys on tid (8-byte probes instead of variable-length
strings), and verification intersects SORTED LONG arrays rebuilt
per-set from the already-sid-partitioned ranked frame (the groupBy
reuses the window's exchange -- zero added shuffles). The md5 stays
the collapse identity; the string arrays never ride a broadcast or a
join again after the dictionary join. Exactness is untouched: the
dictionary is bijective (tid equality <=> token equality), so the
oracle hash-match at sf0.01 pins the interning on top of the collapse
and prefix-filter theorems.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load

# Jaccard threshold 0.95 = 19/20: selective on the template-generated
# corpus (~1.6% of all pairs) where 0.6 would pass more than half
_T_NUM, _T_DEN = 19, 20

# Broadcast ceiling for the verification / expansion build sides
# (VERDICT r11 item 1): the distinct-set table (with its token
# arrays) and the doc-level membership table are O(corpus), not O(K)
# -- on a LOW-duplication 100 TB corpus "distinct sets" ~= documents,
# and a FORCED broadcast of an unbounded frame is a guaranteed
# driver/executor OOM no matter how much smaller it is than the
# candidate space. Below the ceiling the hint is strictly better (the
# candidate pairs -- the big side -- never shuffle); above it the
# joins run as plain equi-joins on set_id and AQE picks the strategy
# from runtime sizes. 2M rows of (set_id, ~100-token array) is
# O(100 MB) serialized -- comfortably inside executor memory, far
# under Spark's 8 GB broadcast hard cap.
_BROADCAST_MAX_ROWS = 2_000_000

# Byte ceiling for the same build sides (VERDICT r12 item 3): the row
# cap alone is corpus-DEPENDENT -- 2M rows of 10-token sets is
# ~100 MB, but 2M rows of 5k-token legal documents is ~50 GB, past
# the 8 GB broadcast hard cap and any executor's memory. The gate
# therefore also MEASURES the build side: one map-only aggregate over
# the already-staged frame sums per-token payload + slot overhead
# (no sampling -- the frames are cached, the pass is a column scan),
# and a side over EITHER cap joins by shuffle. 512 MiB keeps the
# hashed relation a comfortable fraction of a production executor
# heap while still broadcasting every bench-scale corpus.
_BROADCAST_MAX_BYTES = 512 * 2**20

# Per-row / per-element byte estimates for the broadcast build sides
# (r14: the verification arrays are interned LONGS, so the estimate
# is exact-ish -- 8 B payload + UnsafeArrayData slot/alignment; the
# string token arrays never ride a broadcast anymore). Per-row fixed
# cost: the non-array columns + row/array headers + hash-table entry.
_ITOK_BYTES = 16
_ISET_ROW_OVERHEAD = 64
_SETS_ROW_OVERHEAD = 96
_MEMBERS_ROW_OVERHEAD = 56


def _doc_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, set_id): each document's sorted distinct-token
    array and the md5 identity of that array -- computed ROW-LOCALLY
    with HOFs (split -> filter -> array_distinct -> array_sort), no
    explode and no groupBy. This matters because the frame fans out
    to several consumers (membership, distinct sets, verification
    arrays) and Spark recomputes lineage per consumer: a map-only
    lineage re-runs as a scan + string ops, where the r11-draft
    collect_set spelling re-ran a full explode + shuffle per consumer
    (measured 23 s -> 4 s at sf0.1). Zero-token docs are dropped --
    they share no token with anything (the oracle's brute-force join
    can never see them) and would otherwise form a degenerate 0/0
    Jaccard clique. The \\x1f separator in the md5 input keeps
    ("ab","c") and ("a","bc") from colliding."""
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"),
                lambda t: t != "",
            )
        )
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .withColumn("set_id", F.md5(F.concat_ws("\x1f", "toks")))
    )


def _token_dict(sets: DataFrame) -> DataFrame:
    """The global token dictionary: per-token set frequency plus an
    interned 8-byte id (monotonically_increasing_id, to be frozen by
    the caller's stage_df). Factored out of _ranked_tokens (r15) so
    setsim_pairs can materialize it CONCURRENTLY with the broadcast-
    gate stats job -- the dictionary's content is gate-independent."""
    return (
        sets.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("tid", F.monotonically_increasing_id())
    )


def _ranked_tokens(sets: DataFrame, bc_dict=lambda df: df,
                   tok_dict: DataFrame | None = None) -> DataFrame:
    """Every (set, token) row with the token's interned 8-byte id and
    its per-set rarity position: tokens rank under the global rarity
    order (set frequency, then token) via a row_number window
    PARTITIONED BY the set's surrogate id (bounded, never global).
    The interned `tid` (r14) is minted on the per-token df table that
    the rarity join ALREADY builds -- monotonically_increasing_id
    frozen by stage_df, bijective with the token string -- so
    dictionary assignment costs zero extra shuffles: the stok-side
    exchange on tok and the df groupBy existed in r11-r13; the tid
    column just rides the same join. Downstream, candidate join keys
    and verification arrays are all longs; the token STRING dies
    here."""
    stok = sets.select("sid", "n", F.explode("toks").alias("tok"))
    if tok_dict is None:
        tok_dict = stage_df(_token_dict(sets))
    # bc_dict wraps the DICTIONARY side explicitly (r14 optimization
    # round, guide 3.1): a localCheckpoint'd frame surfaces NO size
    # stats (LogicalRDD defaults to spark.sql.defaultSizeInBytes), so
    # the planner treated the few-hundred-row dictionary as
    # unbroadcastable and instead broadcast the OTHER side -- the full
    # exploded (sid, n, tok) stream, 112 MiB / 854k rows at sf1
    # (measured from the final AQE plan: BroadcastHashJoin BuildLeft
    # over stok). The caller gates bc_dict on measured corpus stats
    # the same way as the verification broadcasts (setsim_pairs: the
    # distinct-token count is bounded by total_toks, already measured
    # there). The DEFAULT is the identity, not F.broadcast (ADVICE
    # r14): an unconditional broadcast of a corpus-wide dictionary is
    # the exact failure class the gates exist for, so every caller
    # must opt in explicitly with a measured gate.
    return stok.join(bc_dict(tok_dict), "tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("sid").orderBy("df", "tok")
        ),
    ).select("sid", "tid", "pos", "n")


def _prefix_filter(ranked: DataFrame) -> DataFrame:
    """Only the first |d| - ceil(t*|d|) + 1 rarity positions survive
    as join keys (all-integer ceil); (pos, n) ride along so the
    candidate join can evaluate the positional and length filters as
    residuals."""
    return ranked.filter(
        F.col("pos")
        <= F.col("n")
        - F.expr(f"({_T_NUM} * n + {_T_DEN} - 1) DIV {_T_DEN}")
        + 1
    ).select("sid", "tid", "pos", "n")


def _ranked_prefix(sets: DataFrame) -> DataFrame:
    """Prefix tokens of the distinct sets (the r11-r13 entry point,
    kept factored so the plan gate can inspect the ranking stage's
    window spec directly -- the query stages the ranked frame, which
    cuts this lineage out of the final plan)."""
    return _prefix_filter(_ranked_tokens(sets))


@query(
    "q_setsim_prefix_join",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da AS doc_a, db AS doc_b,
       CAST(i AS BIGINT) AS n_common,
       CAST(sa.n + sb.n - i AS BIGINT) AS n_union
FROM inter
JOIN sz sa ON sa.doc_id = da
JOIN sz sb ON sb.doc_id = db
WHERE i * 20 >= 19 * (sa.n + sb.n - i)
ORDER BY 1, 2
""",
)
def q_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with exact token-set Jaccard >= 0.95, found
    by collapsing identical token sets, prefix-filtering candidate
    generation over the distinct sets, exact integer verification, and
    arithmetic expansion back to document pairs. The oracle enumerates
    candidates the brute-force way (any shared token), so equality
    proves both the prefix filter and the collapse dropped no
    qualifying pair."""
    return setsim_pairs(load(spark, sf_dir, "documents"))


def setsim_pairs(docs: DataFrame,
                 broadcast_max_rows: int = _BROADCAST_MAX_ROWS,
                 broadcast_max_bytes: int = _BROADCAST_MAX_BYTES,
                 ) -> DataFrame:
    """The full exact-Jaccard pipeline over any (doc_id, text) frame
    -- factored from the registered query so tests can drive it with
    adversarial synthetic corpora (threshold-boundary pairs, subset
    chains, identical-set cliques) beyond the bench corpus.

    `broadcast_max_rows` / `broadcast_max_bytes` cap the
    verification/expansion broadcast hints (see _BROADCAST_MAX_ROWS /
    _BROADCAST_MAX_BYTES): counts AND measured build-side bytes are
    read off the already-materialized staged frames (a map-only pass
    over cached partitions, no lineage recompute), and any frame over
    EITHER cap joins by shuffle instead -- the size-conditional plan
    the same code serves at 60 k docs and at 100 TB, corpus-width
    independent since r13 (a few million short sets broadcast; the
    same row count of 5k-token documents shuffles). Tests drive the
    above-threshold path with broadcast_max_rows=0, the byte path
    with a wide-document corpus under the row cap, and pin both plans
    (test_setsim_broadcast.py)."""
    # 1. collapse: one row per doc with its sorted distinct-token
    # array (row-local HOFs -- see _doc_sets); identical arrays share
    # an md5 set_id. Staged ONCE (localCheckpoint, the same pattern
    # as matching.py/incremental.py): the frame fans out to the
    # membership, distinct-set, prefix, verification, and expansion
    # branches -- without staging, every branch re-runs the
    # tokenization from the scan (measured ~10 s of pure recompute
    # at sf0.1 across the ~10 consumers of this lineage).
    doc_sets = stage_df(_doc_sets(docs))
    # Each distinct set also gets an 8-byte SURROGATE id (r12): the
    # md5 remains the collapse IDENTITY (128-bit -- collision-safe at
    # any corpus size), but every downstream join/comparison keys on
    # `sid`, a dimension-table surrogate minted at MV materialization
    # (monotonically_increasing_id frozen by the localCheckpoint --
    # stable for the run, collision-free by construction). The
    # candidate stream carries two ids per matched row, so 8-byte
    # longs vs 32-char hex strings is a 4x cut in its width and in
    # every hash probe against the verification build side.
    sets = (
        doc_sets.select("set_id", "toks")
        .dropDuplicates(["set_id"])
        .withColumn("n", F.size("toks"))
        .withColumn("sid", F.monotonically_increasing_id())
        .transform(stage_df)  # one dedup serves 4 branches; sid frozen
    )
    # size-conditional broadcast hints (VERDICT r11 item 1, byte gate
    # r12 item 3): counts AND build-side byte estimates come off the
    # eager staged frames -- map-only passes over cached partitions,
    # no lineage recompute. members has one row per DOC (sid long +
    # doc_id, fixed width); the slim (set_id, sid) mapping and the
    # interned verification arrays (r14: LONGS -- total_toks * 16 B,
    # the quantity the row cap cannot see) are gated separately, each
    # on its own count and its own bytes.
    # ONE action for both stat frames (r14 optimization round): the
    # set-side and member-side aggregates are each a map-only pass
    # over a cached staged frame, but as separate .first() calls they
    # were two driver round-trips -- a broadcast-NL cross join of the
    # two 1-row aggregates collects both in one job (measured 1.17 s
    # -> 0.80 s at sf1; pure scheduling latency, same bytes scanned).
    # OVERLAPPED with the token-dictionary staging (r15, VERDICT r14
    # item 6; guide 2.6 "overlap independent jobs"): the dictionary's
    # CONTENT is gate-independent (only whether it broadcasts is
    # gated), so its groupBy + checkpoint runs on a second driver
    # thread while this thread collects the stats row -- two
    # independent jobs back-filling each other's stragglers instead
    # of two serial rungs of the staging ladder. Both pool targets go
    # through `inherit`, which copies this thread's local properties
    # (job group, scheduler pool) and session tags into the worker, so
    # the overlapped jobs stay attributable to -- and cancellable
    # with -- the caller's job group.
    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(docs.sparkSession)
    with ThreadPoolExecutor(max_workers=1) as pool:
        tok_dict_fut = pool.submit(
            inherit(lambda: stage_df(_token_dict(sets))))
        set_stats = (
            sets.agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                .alias("total_toks"),
            )
            .crossJoin(
                doc_sets.agg(
                    F.count(F.lit(1)).alias("doc_rows"),
                    F.coalesce(
                        F.sum(F.length(F.col("doc_id").cast("string"))),
                        F.lit(0).cast("long"),
                    ).alias("id_bytes"),
                )
            )
            .first()
        )
        tok_dict = tok_dict_fut.result()
    n_sets = set_stats["rows"]
    slim_bytes = n_sets * _SETS_ROW_OVERHEAD
    iset_bytes = (set_stats["total_toks"] * _ITOK_BYTES
                  + n_sets * _ISET_ROW_OVERHEAD)
    n_docs = set_stats["doc_rows"]
    members_bytes = (set_stats["id_bytes"]
                     + n_docs * _MEMBERS_ROW_OVERHEAD)
    bc_slim = F.broadcast if (
        n_sets <= broadcast_max_rows
        and slim_bytes <= broadcast_max_bytes) else (lambda df: df)
    bc_iset = F.broadcast if (
        n_sets <= broadcast_max_rows
        and iset_bytes <= broadcast_max_bytes) else (lambda df: df)
    bc_mem = F.broadcast if (
        n_docs <= broadcast_max_rows
        and members_bytes <= broadcast_max_bytes) else (lambda df: df)
    # dictionary-broadcast gate (same discipline as bc_slim/bc_iset):
    # the distinct-token count is bounded above by total_toks (sum of
    # distinct-set sizes), already measured off the staged frame; 48 B
    # ~= one short token string + df/tid longs + slot overhead. Under
    # the caps the dictionary ships once per executor and the tid join
    # is map-side; over them it shuffles on tok and AQE picks.
    bc_dict = F.broadcast if (
        set_stats["total_toks"] <= broadcast_max_rows
        and set_stats["total_toks"] * 48 <= broadcast_max_bytes
    ) else (lambda df: df)

    # membership on the surrogate key (one gated set-table join at
    # staging, then the three expansion joins all probe by long) --
    # OVERLAPPED (r15, guide 2.6) with the ranked/isets chain below:
    # members and ranked share no dependency once the gates are known,
    # so the membership join+checkpoint runs on a second driver thread
    # while this thread stages the ranked frame and the verification
    # arrays. Two jobs in flight: enough to fill each other's task
    # tails, not enough to fight for executors.
    def _stage_members() -> DataFrame:
        return (
            doc_sets.join(bc_slim(sets.select("set_id", "sid")), "set_id")
            .select("sid", "doc_id")
            .transform(stage_df)
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        members_fut = pool.submit(inherit(_stage_members))
        # 2. every (set, token) row with its interned tid and rarity
        # position (see _ranked_tokens), staged ONCE: the prefix
        # filter (both sides of the candidate self-join), and the
        # verification-array rebuild below, all read it. The groupBy(sid)
        # that re-assembles each set's SORTED LONG array re-shuffles on
        # sid: the staged frame's LogicalRDD does not carry the window's
        # sid partitioning (see stage_df).
        ranked = stage_df(
            _ranked_tokens(sets, bc_dict=bc_dict, tok_dict=tok_dict))
        isets = (
            ranked.groupBy("sid")
            .agg(
                F.sort_array(F.collect_list("tid")).alias("itoks"),
                F.max("n").alias("n"),
            )
            .transform(stage_df)
        )
        members = members_fut.result()
    prefix = _prefix_filter(ranked)
    a, b = prefix.alias("a"), prefix.alias("b")
    # LENGTH filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
    # POSITIONAL filter: overlap <= 1 + min(|A|-pos_a, |B|-pos_b)
    # (the matched token plus whatever follows it on both sides), and
    # J >= t needs overlap >= t/(1+t)*(|A|+|B|); a qualifying pair's
    # globally-smallest common token is in both prefixes AND satisfies
    # this bound, so keeping a pair when ANY matched row passes is
    # lossless. Integer form throughout. J = 1 pairs (identical sets)
    # cannot appear here -- they collapsed to one set_id -- and are
    # reconstructed in the intra-clique expansion below.
    # NO pre-verification distinct (r12): a pair can match on several
    # prefix tokens, but the measured multiplicity is ~1.0 on this
    # corpus (prefix length ~= |d|/20 + 1), while distinct-ing the
    # candidate stream cost a full exchange + two-sided hash-agg of
    # its WIDEST incarnation -- 9.6M candidate rows at sf1, the
    # pipeline's single largest shuffle, carried as md5-string pairs
    # in r11. The dedup moves AFTER the threshold filter (qualifying
    # set pairs: 20k rows at sf1, output-bound).
    cand = a.join(
        b,
        (F.col("a.tid") == F.col("b.tid"))
        & (F.col("a.sid") < F.col("b.sid"))
        & (F.col("a.n") * _T_DEN >= _T_NUM * F.col("b.n"))
        & (F.col("b.n") * _T_DEN >= _T_NUM * F.col("a.n"))
        & (
            (
                F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                + 1
            )
            * (_T_NUM + _T_DEN)
            >= _T_NUM * (F.col("a.n") + F.col("b.n"))
        ),
    ).select(
        F.col("a.sid").alias("sid_a"),
        F.col("b.sid").alias("sid_b"),
    )
    # 3. verification over sets: the interned-array table is one row
    # per DISTINCT SET -- below the cap, broadcast it so the candidate
    # pairs (the big side) never shuffle and the long arrays ship once
    # per executor; above it, shuffle on sid (AQE picks from runtime
    # sizes). BOTH sides join the SAME canonical frame via aliases
    # (no per-side column renames inside the build side): identical
    # broadcast children canonicalize equal, so ReuseExchange ships
    # the array table ONCE instead of building it per join -- at sf1
    # the array broadcast is the verification stage's dominant
    # cost, and r11's renamed-projection spelling built it twice
    # (plan-gated in test_setsim_broadcast.py). The intersect runs
    # over SORTED LONG arrays (r14): no UTF8 hashing or byte-wise
    # equality per element per candidate -- the decade2 CPU the r13
    # sf10 lane measured on the exactly-linear 96M-candidate stream.
    # ... but the verification work must NOT run inside the prefix
    # join's output partitions: those are keyed by TOK, and the match
    # explosion concentrates in the few partitions holding the
    # clique-shared rare tokens -- measured 9 s for the skewed
    # spelling vs 1.7 s rebalanced at sf0.1, with identical row
    # counts. One explicit pair-keyed exchange of the (sid_a, sid_b)
    # long pairs (16 bytes/row -- 4x narrower than r11's md5-string
    # distinct, and no hash-agg on either side) spreads the
    # array_intersect CPU evenly; the partition count is pinned so
    # AQE's byte-targeted coalescing cannot fold this CPU-bound stage
    # onto a handful of cores (150 MB of pairs at sf1 is "3
    # partitions" by bytes but 32 cores of intersect work).
    n_shuffle = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = cand.repartition(n_shuffle, "sid_a", "sid_b")
    va, vb = isets.alias("va"), isets.alias("vb")
    qual = (
        cand.join(bc_iset(va), F.col("sid_a") == F.col("va.sid"))
        .join(bc_iset(vb), F.col("sid_b") == F.col("vb.sid"))
        .withColumn(
            "n_common",
            F.size(F.array_intersect("va.itoks", "vb.itoks"))
            .cast("long"),
        )
        .withColumn(
            "n_union",
            (F.col("va.n") + F.col("vb.n") - F.col("n_common"))
            .cast("long"),
        )
        .filter(F.col("n_common") * _T_DEN >= _T_NUM * F.col("n_union"))
        .select("sid_a", "sid_b", "n_common", "n_union")
        # the one dedup, AFTER the threshold filter: qualifying set
        # pairs only (output-bound, 3 orders smaller than candidates)
        .dropDuplicates(["sid_a", "sid_b"])
    )
    # 4. expansion. Cross pairs: every member of set_a x every member
    # of set_b (n_common/n_union identical for all of them -- equal
    # token sets by construction); the doc-count-sized membership
    # table broadcasts below the cap, output cardinality = the answer
    # itself. Same one-build discipline: the THREE membership joins
    # (two cross sides + the intra self-join's build side) all
    # broadcast the same canonical frame, so the doc-level table ships
    # once, not three times.
    xa, xb = members.alias("xa"), members.alias("xb")
    cross = (
        qual.join(bc_mem(xa), F.col("sid_a") == F.col("xa.sid"))
        .join(bc_mem(xb), F.col("sid_b") == F.col("xb.sid"))
        .select(
            F.least("xa.doc_id", "xb.doc_id").alias("doc_a"),
            F.greatest("xa.doc_id", "xb.doc_id").alias("doc_b"),
            "n_common", "n_union",
        )
    )
    # Intra-clique pairs: two docs with the SAME token set have J = 1
    # >= t always; n_common = n_union = |set|. The size lookup joins
    # the canonical interned frame (the spare itoks column rides a
    # broadcast that already shipped for verification -- reuse beats
    # a second, slimmer build).
    vs = isets.alias("vs")
    intra = (
        members.alias("x")
        .join(bc_mem(members.alias("y")),
              (F.col("x.sid") == F.col("y.sid"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .join(bc_iset(vs), F.col("x.sid") == F.col("vs.sid"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("vs.n").cast("long").alias("n_common"),
            F.col("vs.n").cast("long").alias("n_union"),
        )
    )
    return cross.unionByName(intra).orderBy("doc_a", "doc_b")
