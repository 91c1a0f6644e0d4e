"""Driver-verified end-to-end: file stream -> foreachBatch ->
exactly-once dual-table JDBC sink -> committed read-back.

This is the reference's core dataflow (gzip archive -> parse ->
payments/creations -> one Postgres transaction per file,
python/main.py:241-303 + python/adapters/postgres_storage_adapter.py:
28-51) run for real inside the correctness gate: the fixture replays
typed rows derived from `orders` as a 3-micro-batch file stream,
`JdbcDualSink` lands each epoch into an embedded Derby database
(payments + creations + the `lastfile` checkpoint, data before
checkpoint, replayed epochs skipped), and the query returns the
per-kind totals READ BACK through the committed-epoch visibility
predicate. The DuckDB oracle computes the same totals straight from
`orders` — so a row lost, duplicated, or left uncommitted by the sink
is a hash mismatch, not just a failed unit test.

Scale notes: the stream is stateless (no aggregation before the sink),
so per-micro-batch cost is the JDBC append itself; writes go through
Spark's partition-parallel JDBC writer. Derby is the in-process stand-
in for Postgres (same dialect path Spark uses for any JDBC url).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.registry import register
from history_collector_spark.sinks.jdbc import JdbcDualSink, committed_view
from history_collector_spark.streaming.replay import run_replay

_SLICE = 4096
_N_FILES = 3

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Landing dir of typed rows (3 parquet files = 3 micro-batches)
    and a Derby url unique to this (session, corpus)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    app = spark.sparkContext.applicationId.replace("-", "_")
    base = os.path.join(tempfile.gettempdir(), f"hc_jdbc_{app}_{tag}")
    landing = os.path.join(base, "landing")
    if not os.path.exists(os.path.join(base, "_FIXTURE_DONE")):
        rows = (
            table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < _SLICE)
            .select(
                F.when(F.col("o_orderkey") % 3 == 0, "creation")
                .otherwise("payment")
                .alias("type"),
                F.col("o_custkey").alias("source"),
                (F.col("o_orderkey") % 1000).cast("long").alias("amount"),
                (F.col("o_orderkey") % _N_FILES).alias("file_no"),
            )
        )
        for g in range(_N_FILES):
            rows.filter(F.col("file_no") == g).drop("file_no").coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(landing, f"g{g}"))
        # flatten: the file stream wants one directory of files
        flat = os.path.join(base, "flat")
        os.makedirs(flat, exist_ok=True)
        import glob
        import shutil

        for g in range(_N_FILES):
            for f in glob.glob(os.path.join(landing, f"g{g}", "part-*.parquet")):
                shutil.copy(f, os.path.join(flat, f"g{g}.parquet"))
        with open(os.path.join(base, "_FIXTURE_DONE"), "w") as fh:
            fh.write("ok")
    return os.path.join(base, "flat"), f"jdbc:derby:{base}/db;create=true"


@register(
    "streaming_jdbc_e2e",
    oracle=f"""
    SELECT 'creation' AS kind,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey % 1000) AS BIGINT) AS total
    FROM orders WHERE o_orderkey < {_SLICE} AND o_orderkey % 3 = 0
    UNION ALL
    SELECT 'payment' AS kind,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey % 1000) AS BIGINT) AS total
    FROM orders WHERE o_orderkey < {_SLICE} AND o_orderkey % 3 != 0
    """,
)
def streaming_jdbc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat, url = _fixture(spark, sf_dir)
    sink = JdbcDualSink(url, properties=_DERBY_PROPS)
    sink.ensure_tables(spark)

    run_replay(
        spark,
        flat,
        schema="type string, source bigint, amount bigint",
        name="jdbc",
        foreach_batch=sink,
    )

    committed = sink.last_committed(spark)
    out = []
    for kind, tbl in (("payment", "payments"), ("creation", "creations")):
        rows = committed_view(
            spark.read.jdbc(url, tbl, properties=_DERBY_PROPS), committed
        )
        out.append(
            rows.agg(
                F.lit(kind).alias("kind"),
                F.count("*").alias("n"),
                F.sum("amount").alias("total"),
            )
        )
    return out[0].unionByName(out[1])
