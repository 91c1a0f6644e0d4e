"""Streaming ANN serving: micro-batched queries probe the STATIC
bucketed IVF index — the online half of the ANN story whose offline
halves (bucketed index build, own-list probe, PQ-ADC, nprobe sweep)
are already driver-gated.

Shape: query vectors arrive as a file stream (3 micro-batches); each
batch stream-static-joins the bucketed index table on the list id and
scores candidates with the JVM-side cosine fold — exactly the
lookup a 100 TB serving tier runs per request batch, where the index
is a bucketed table and the probe join reads co-located buckets (the
index side never exchanges; only the tiny per-batch query side moves).
No streaming state at all: the index IS the state, like
streaming_static_join_e2e. Per-query top-k ranking happens after the
stream completes (ranking inside a micro-batch would be per-batch
anyway — the batches partition the query set, so post-stream ranking
over the union is equal BY CONSTRUCTION, and the e2e proves it by
matching the batch oracle).

Reference parity note: no ANN surface in the reference —
LLM-pipeline extension tier (round-9 wave).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.functions.nlp import cosine, l2_norm
from history_collector_spark.queries.similarity import (
    _COS_SQL,
    _EMB_NORM_SQL,
    ivf_bucketed_index,
)
from history_collector_spark.registry import register
from history_collector_spark.streaming.replay import (
    range_bucket,
    replay_feed,
    run_replay,
)

_Q_MOD = 103  # disjoint from ann_ivf_bucketed_probe's % 101 set
_N_FILES = 3


def _query_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """The probe-query feed as _N_FILES vec_id-range parquet files with
    increasing mtimes (same replay idiom as the other streaming e2e)."""

    def build() -> DataFrame:
        q = (
            table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") % _Q_MOD == 0)
            .select("vec_id", "label", "embedding")
        )
        return range_bucket(q, F.col("vec_id"), _N_FILES)

    return replay_feed(
        spark, sf_dir, "annq", build, ("vec_id", "label", "embedding"), _N_FILES
    )


@register(
    "streaming_ann_probe_e2e",
    oracle=f"""
    WITH {_EMB_NORM_SQL}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL} AS cos_sim,
             CAST(row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_SQL} DESC, c.vec_id) AS INT) AS rank
      FROM emb q JOIN emb c
        ON q.label = c.label AND q.vec_id != c.vec_id
      WHERE q.vec_id % {_Q_MOD} = 0
    ) WHERE rank <= 5
    """,
)
def streaming_ann_probe_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query stream -> stream-static bucket join -> cosine scoring ->
    post-stream top-5 per query, equal to the batch IVF probe over the
    same query set. The static side is the BUCKETED index table
    (ivf_bucketed_index), so per micro-batch the index scan reads its
    co-located buckets — the zero-index-exchange serving plan,
    now proven equivalent under micro-batch arrival."""
    tab = ivf_bucketed_index(spark, sf_dir)
    index = spark.table(tab).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("ilabel"),
        F.col("embedding").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )

    def score(stream: DataFrame) -> DataFrame:
        queries = stream.select(
            F.col("vec_id").alias("query_id"),
            "label",
            F.col("embedding").alias("qemb"),
            l2_norm(F.col("embedding")).alias("qnrm"),
        )
        return queries.join(
            index,
            (queries.label == index.ilabel)
            & (F.col("query_id") != F.col("neighbor_id")),
        ).select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("qemb"), F.col("cemb"), F.col("qnrm"), F.col("cnrm")
            ).alias("cos_sim"),
        )

    scored = run_replay(
        spark,
        _query_replay_dir(spark, sf_dir),
        score,
        schema="vec_id bigint, label int, embedding array<float>",
        name="annprobe",
        output_mode="append",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )
