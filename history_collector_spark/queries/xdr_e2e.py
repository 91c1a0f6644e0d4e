"""End-to-end real-XDR triplet dataflow — the reference's per-file unit
of work (download triplet -> parse XDR -> closeTime dict -> result dict
-> filter/flatten ops -> rows, python/main.py:252-303) re-expressed as
one declarative Spark plan over the three archive readers.

The fixture is the ARCHIVER side: a deterministic binary archive triplet
derived from the `orders` table and written with the RFC 4506 writer
(sources/xdr_codec.py), so the DuckDB oracle can reproduce every output
column straight from `orders` — the decode itself is what's under test.
Tx hashes are codec-computed (sha256 domain-separated over the raw tx
bytes) and join transactions->results exactly like the reference's
results_dictionary lookup; they are not output columns because no SQL
oracle can re-marshal XDR bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.pinning import temp_dir
from history_collector_spark.registry import register
from history_collector_spark.sources import xdr_codec as xc
from history_collector_spark.sources.xdr import (
    read_archive,
    read_ledger_archive,
    read_results_archive,
    write_xdr_archive_file,
)

_N_ORDERS = 4096  # 64 ledgers x 64 orders -> exactly one archive file
_BASE_CLOSE = 1_535_594_286  # the suite's pinned epoch
_ISSUER = bytes(range(64, 96))


def _acct(tag: str, key: int) -> bytes:
    return hashlib.sha256(f"{tag}{key}".encode()).digest()


def _write_triplet(spark: SparkSession, sf_dir: str) -> str:
    rows = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < _N_ORDERS)
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    by_ledger: dict[int, list[tuple]] = {}
    for r in rows:
        by_ledger.setdefault(r["o_orderkey"] // 64, []).append(
            (r["o_orderkey"], r["o_custkey"])
        )

    net = xc.network_id(
        __import__(
            "history_collector_spark.sources.xdr", fromlist=["x"]
        ).DEFAULT_NETWORK_PASSPHRASE
    )
    tx_recs, res_recs, led_recs = [], [], []
    for ledger in range(_N_ORDERS // 64):
        led_recs.append(
            xc.build_ledger_entry(ledger, _BASE_CLOSE + 5 * ledger)
        )
        envs, results = [], []
        for okey, ckey in sorted(by_ledger.get(ledger, [])):
            op = xc.build_operation(
                xc.OP_PAYMENT,
                _acct("d", okey),
                okey * 100 + 7,
                asset_code="KIN",
                asset_issuer=_ISSUER,
            )
            tx_bytes = xc.build_transaction(
                _acct("s", ckey),
                fee=okey % 1000,
                seq_num=okey,
                memo_text=f"1-aaa1-{okey}",
                operations=[op],
            )
            envs.append(xc.build_envelope(tx_bytes))
            import struct as _struct

            tx_hash = hashlib.sha256(
                net + _struct.pack(">I", xc.ENVELOPE_TYPE_TX) + tx_bytes
            ).digest()
            code = -1 if okey % 7 == 0 else 0
            results.append(
                (tx_hash, okey % 1000 - okey % 3, code, [(xc.OP_PAYMENT, 0)])
            )
        tx_recs.append(xc.build_transaction_entry(ledger, envs))
        res_recs.append(xc.build_result_entry(ledger, results))

    d = temp_dir("hc_xdr_triplet_")
    write_xdr_archive_file(d, "transactions", "0000003f", tx_recs)
    write_xdr_archive_file(d, "ledger", "0000003f", led_recs)
    write_xdr_archive_file(d, "results", "0000003f", res_recs)
    return d


@register(
    "xdr_triplet_parity",
    oracle=f"""
    SELECT CAST(o_orderkey // 64 AS BIGINT) AS ledger_seq,
           sha256('s' || CAST(o_custkey AS VARCHAR)) AS source,
           sha256('d' || CAST(o_orderkey AS VARCHAR)) AS destination,
           CAST(o_orderkey * 100 + 7 AS BIGINT) AS amount,
           concat('1-aaa1-', CAST(o_orderkey AS VARCHAR)) AS memo,
           CAST(o_orderkey % 1000 AS INT) AS fee,
           CAST({_BASE_CLOSE} + 5 * (o_orderkey // 64) AS BIGINT) AS close_time,
           CAST(o_orderkey % 1000 - o_orderkey % 3 AS BIGINT) AS fee_charged,
           CASE WHEN o_orderkey % 7 = 0 THEN 'txFAILED'
                ELSE 'txSUCCESS' END AS tx_status
    FROM orders WHERE o_orderkey < {_N_ORDERS}
    """,
)
def xdr_triplet_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the triplet and join it the way write_data walks its two
    dicts: close_time by ledger_seq, result by tx hash. Both lookup
    sides are one archive file's worth of rows — broadcast, zero
    shuffles of the tx rows (at 100 TB the per-file unit stays bounded
    by protocol: 64 ledgers per file, so this plan scales per-file)."""
    d = _write_triplet(spark, sf_dir)
    txs = (
        read_archive(spark, f"{d}/transactions-*.xdr.gz")
        .select("ledger_seq", F.explode("txs").alias("t"))
        .select(
            "ledger_seq",
            F.col("t.hash").alias("tx_hash"),
            F.col("t.source").alias("source"),
            F.col("t.memo").alias("memo"),
            F.col("t.fee").alias("fee"),
            F.element_at("t.operations", 1).alias("op"),
        )
        .select(
            "ledger_seq", "tx_hash", "source", "memo", "fee",
            F.col("op.destination").alias("destination"),
            F.col("op.amount").alias("amount"),
        )
    )
    ledgers = read_ledger_archive(spark, f"{d}/ledger-*.xdr.gz").select(
        F.col("ledger_seq").alias("l_seq"), "close_time"
    )
    results = read_results_archive(spark, f"{d}/results-*.xdr.gz").select(
        F.col("tx_hash").alias("r_hash"), "fee_charged", "tx_status"
    )
    return (
        txs.join(F.broadcast(ledgers), txs.ledger_seq == ledgers.l_seq)
        .join(F.broadcast(results), txs.tx_hash == results.r_hash)
        .select(
            "ledger_seq", "source", "destination", "amount", "memo",
            "fee", "close_time", "fee_charged", "tx_status",
        )
    )
