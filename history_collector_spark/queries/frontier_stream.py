"""Streaming crawl-frontier scheduling: URL discoveries arrive in
micro-batches and per-host politeness state must carry ACROSS batches
— a host whose fetch budget was consumed by batch 1 must turn batch 2
away, which is precisely the stateful-streaming problem a real
incremental crawler has (the batch form, ``crawl_frontier_assign``,
plans one frozen frontier; this is the online twin).

Shape (the streaming construction kit of neardup_stream /
ann_stream): doc_id-range parquet replay files with pinned increasing
mtimes -> one ``applyInPandasWithState`` keyed by host whose state is
a single integer (URLs already admitted for that host) -> memory sink
-> post-stream per-host aggregate. State is O(1) per host — the
strongest possible state bound — and the admission decision for a
trillion-URL discovery stream touches only (host, count).

Equality contract: because the replay files partition doc_id ranges
in increasing order and the tracker admits within-batch arrivals in
doc_id order, the admitted set equals the batch rank-by-doc_id plan —
so the DuckDB oracle states the whole result closed-form over
``documents`` with one window, and the e2e proves the incremental
composition admits exactly the same URLs (budget enforcement loses
and invents nothing across batch boundaries).

Reference parity note: extends the reference's exactly-once ingest
loop (reference python/main.py:254-309) to the crawl-acquisition
tier; no frontier surface exists in the reference.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from history_collector_spark.catalog import table
from history_collector_spark.registry import register
from history_collector_spark.streaming.conf import python_state_partitions
from history_collector_spark.streaming.replay import (
    range_bucket,
    replay_feed,
    run_replay,
)

_N_FILES = 3
_BUDGET = 25  # per-host admissions per crawl cycle (spans batches)

_OUT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("doc_id", LongType()),
        StructField("slot", LongType()),
        StructField("admitted", IntegerType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("n_admitted", LongType())])


def _frontier_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Discovery feed: _N_FILES doc_id-range parquet files with
    increasing mtimes (the replay idiom shared by every streaming
    e2e here)."""

    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents").select("doc_id")
        return range_bucket(docs, F.col("doc_id"), _N_FILES)

    return replay_feed(spark, sf_dir, "frontier", build, ("doc_id",), _N_FILES)


def _admit(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-host admission: slot = URLs admitted so far + ordinal; a
    URL is admitted iff its slot is within budget. State = ONE long."""
    host = key[0]
    n = int(state.get[0]) if state.exists else 0
    hosts, ids, slots, adm = [], [], [], []
    for pdf in pdfs:
        for d in sorted(int(x) for x in pdf["doc_id"]):
            n += 1
            hosts.append(host)
            ids.append(d)
            slots.append(n)
            adm.append(1 if n <= _BUDGET else 0)
    state.update((n,))
    yield pd.DataFrame(
        {"host": hosts, "doc_id": ids, "slot": slots, "admitted": adm}
    )


@register(
    "streaming_frontier_e2e",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             'crawl' || CAST(doc_id % 17 AS VARCHAR) AS host,
             1 + (doc_id % 17) % 3 AS delay_s,
             row_number() OVER (PARTITION BY doc_id % 17
                                ORDER BY doc_id) AS slot
      FROM documents
    )
    SELECT host,
      CAST(count(*) AS BIGINT) AS n_discovered,
      CAST(sum(CASE WHEN slot <= {_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_admitted,
      CAST(max(CASE WHEN slot <= {_BUDGET} THEN doc_id END) AS BIGINT)
        AS last_admitted_doc,
      CAST(max(CASE WHEN slot <= {_BUDGET}
                    THEN (slot - 1) * delay_s END) AS BIGINT)
        AS makespan_s
    FROM f GROUP BY host
    """,
)
def streaming_frontier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL discoveries replayed as {_N_FILES} micro-batches; per-host
    budget state (one long per host) admits the first {_BUDGET}
    arrivals of each host ACROSS batch boundaries — batch 2's
    admissions depend on batch 1's consumption, which is the whole
    point of the test: the post-stream per-host report must equal the
    batch closed-form plan over the frozen frontier (arrival order =
    doc_id order by replay construction), proving the incremental
    admission loses and invents nothing. The politeness makespan is
    reconstructed from admitted slots and the host-constant delay —
    exact integers end to end."""

    def admit(stream: DataFrame) -> DataFrame:
        hosts = stream.select(
            "doc_id",
            F.concat(
                F.lit("crawl"), (F.col("doc_id") % 17).cast("string")
            ).alias("host"),
        )
        return hosts.groupBy("host").applyInPandasWithState(
            _admit,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # key_bound: politeness state is keyed by host; the discovery feed
    # constructs hosts as doc_id % 17
    rows = run_replay(
        spark,
        _frontier_replay_dir(spark, sf_dir),
        admit,
        schema="doc_id bigint",
        name="frontier",
        partitions=python_state_partitions(spark, key_bound=17),
        output_mode="append",
    )
    delay = 1 + (F.col("doc_id") % 17) % 3
    adm = F.col("admitted") == 1
    return rows.groupBy("host").agg(
        F.count("*").alias("n_discovered"),
        F.sum("admitted").cast("long").alias("n_admitted"),
        F.max(F.when(adm, F.col("doc_id"))).alias("last_admitted_doc"),
        F.max(
            F.when(adm, (F.col("slot") - 1) * delay)
        ).alias("makespan_s"),
    )
