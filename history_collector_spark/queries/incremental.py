"""Incremental corpus maintenance — the two patterns a continuously-
ingesting 100 TB pipeline needs so nightly work costs O(delta), not
O(corpus).

- `assign_global_ids` — contiguous global row numbers WITHOUT a global
  sort. The naive `row_number() OVER (ORDER BY ...)` is an
  `Exchange SinglePartition` of the whole corpus — the one plan shape
  the plan-guard suite bans. The two-phase form: rank within each
  source partition (one key-partitioned window), aggregate per-source
  counts (source-sized frame), prefix-sum the offsets on that tiny
  frame, broadcast them back, add. Exchanges touch corpus rows once,
  on the high-cardinality partition key; the prefix sum runs over the
  handful of sources.

- `incremental_agg_merge` — materialized-aggregate maintenance by
  partial-state merge: the standing per-(event_type, day) stats table
  (count / sum / min / max — all algebraic) absorbs a late-arriving
  delta by UNIONing states and re-aggregating with the combiner
  (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes). The corpus
  is scanned zero times on the delta path; only state-table-sized and
  delta-sized data move. The oracle recomputes from scratch and must
  agree exactly — the algebraic-merge correctness property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.functions.ranking import grouped_range_rank
from history_collector_spark.registry import register


@register(
    "assign_global_ids",
    oracle="""
    SELECT doc_id, source,
           CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT)
             AS global_id
    FROM documents
    """,
)
def assign_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global ids in (source, doc_id) order via the two-phase
    range-rank helper: range-slice the corpus on the full sort key,
    rank locally per slice, prefix-sum only the per-slice counts (a
    task-count-sized frame) and broadcast the offsets back. The round-6
    version ranked WITHIN source first — which still pushed every doc
    of a hot source through one task's sort; ranking over range slices
    bounds every sort by the split size instead."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return grouped_range_rank(
        docs, [], [F.col("source"), F.col("doc_id")], rank_col="global_id"
    ).select("doc_id", "source", "global_id")


_CUTOVER = "1970-01-08"  # events before this day are the standing state


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n,
           sum(value) AS total,
           min(value) AS vmin,
           max(value) AS vmax
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        "value",
        F.col("ts"),
    )
    cut = F.lit(_CUTOVER).cast("timestamp")

    def agg_states(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )

    # Standing state (in production: read from the materialized table)
    # and the late delta, each aggregated to partial states…
    base_state = agg_states(ev.filter(F.col("ts") < cut))
    delta_state = agg_states(ev.filter(F.col("ts") >= cut))

    # …then the ALGEBRAIC combiner: states union and re-aggregate with
    # each stat's merge function. No corpus scan on this path — inputs
    # are two state tables keyed by (event_type, day).
    merged = (
        base_state.unionByName(delta_state)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("total").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
    )
    return merged
