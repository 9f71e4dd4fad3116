"""Distribution drift between two corpus snapshots -- the
observability operator a training-data pipeline runs on every refresh:
did the value distribution of a stream/feature shift since the last
snapshot enough to re-examine upstream?

Statistic: per group, the L-infinity distance between the two
snapshots' binned share vectors, in exact integer micro-shares
(share = n_bin * 1e6 DIV n_total -- integer floor division, identical
in Spark `DIV` and DuckDB `//` for non-negatives). The classic PSI/KL
forms need a libm log whose last bit differs across engines (the same
reason scoring.py's tf-idf uses df-discounting); L-inf over exact
integer shares keeps the driver's value-hash compare exact while
ranking drifting groups the same way in practice.

Scale shape: ONE corpus pass -- both snapshots' bin counts come from a
single conditional aggregation (sum(case when old)/sum(case when new)
per (group, bin)), then a bins->group reduce over the tiny staged
(groups x bins) table. No join between the snapshots, no per-snapshot
re-scan, no window. The only other input touch is the 1-row cutoff
scalar (a ts-column-only aggregate that a literal production refresh
boundary eliminates, as in queries/incremental.py). At 100 TB this is
the cheapest possible drift pass: one scan + two K-sized shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from discogs_xml_to_parquet_spark.registry import query
from discogs_xml_to_parquet_spark.staging import stage_df
from discogs_xml_to_parquet_spark.tables import load

# fixed-width value bins: events.value sits in [0, ~500); 10 bins of 50
_BIN_W = 50
_N_BINS = 10
# snapshot boundary: 15 days past the earliest event -- mid-corpus for
# the 30-day generator span at every SF (derived, so SF-portable)
_SPLIT_DAYS = 15


@query(
    "q_distribution_drift",
    oracle="""
WITH cut AS (
  SELECT MIN(CAST(ts AS TIMESTAMP)) + INTERVAL 15 DAY AS c FROM events
),
binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50) AS BIGINT), 9) AS bin,
         SUM(CASE WHEN CAST(ts AS TIMESTAMP) < cut.c THEN 1 ELSE 0 END)
           AS n_old,
         SUM(CASE WHEN CAST(ts AS TIMESTAMP) >= cut.c THEN 1 ELSE 0 END)
           AS n_new
  FROM events, cut
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(n_old) AS t_old, SUM(n_new) AS t_new
  FROM binned GROUP BY 1
)
SELECT b.event_type,
       CAST(t.t_old AS BIGINT) AS n_old,
       CAST(t.t_new AS BIGINT) AS n_new,
       CAST(MAX(ABS(b.n_old * 1000000 // NULLIF(t.t_old, 0)
                    - b.n_new * 1000000 // NULLIF(t.t_new, 0))) AS BIGINT)
         AS linf_drift_micro
FROM binned b JOIN tot t USING (event_type)
GROUP BY 1, 2, 3
ORDER BY 1
""",
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: how far the binned value distribution of the
    second half-month drifted from the first, as max |share_old -
    share_new| over 10 fixed bins, in exact integer micro-shares.
    The oracle recomputes the identical integer statistic in SQL, so
    the hash pins binning, the conditional single-scan split, AND the
    floor-division share arithmetic."""
    e = load(spark, sf_dir, "events")
    cut = F.broadcast(
        e.agg(
            (F.min("ts") + F.expr(f"INTERVAL {_SPLIT_DAYS} DAYS")).alias("c")
        )
    )
    binned = (
        e.crossJoin(cut)
        .select(
            "event_type",
            F.least(
                F.floor(F.col("value") / _BIN_W).cast("long"),
                F.lit(_N_BINS - 1),
            ).alias("bin"),
            F.when(F.col("ts") < F.col("c"), 1).otherwise(0).alias("is_old"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("is_old").alias("n_old"),
            F.sum(1 - F.col("is_old")).alias("n_new"),
        )
        # binned feeds BOTH the per-group totals and the drift compare;
        # stage the (groups x bins)-row table once so the corpus is
        # scanned exactly once (same multi-consumer contract as Q15's
        # revenue view and the CMS counter table)
        .transform(stage_df)
    )
    w_tot = (
        binned.groupBy("event_type")
        .agg(F.sum("n_old").alias("t_old"), F.sum("n_new").alias("t_new"))
    )
    return (
        binned.join(F.broadcast(w_tot), "event_type")
        .select(
            "event_type", "t_old", "t_new",
            # NULLIF guards the zero-snapshot divisor (ADVICE r9): a
            # group present in only one half yields NULL drift in BOTH
            # engines (DuckDB's bare // would raise; Spark's DIV would
            # silently NULL) instead of diverging.
            F.abs(
                F.expr("n_old * 1000000 DIV nullif(t_old, 0)")
                - F.expr("n_new * 1000000 DIV nullif(t_new, 0)")
            ).alias("bin_drift"),
        )
        .groupBy("event_type")
        .agg(
            F.max("t_old").cast("long").alias("n_old"),
            F.max("t_new").cast("long").alias("n_new"),
            F.max("bin_drift").cast("long").alias("linf_drift_micro"),
        )
        .orderBy("event_type")
    )
