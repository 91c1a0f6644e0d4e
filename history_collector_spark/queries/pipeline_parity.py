"""Flagship composed pipeline — parity with the reference's write_data
(python/main.py:126-202) end-to-end, as ONE declarative Spark plan.

The reference's loop: per 64-ledger batch, explode tx-sets into txs
(E1), probe ledgerSeq->closeTime (J1) and txHash->result (J2) hash maps
with miss->None, drop whole txs failing the app-id memo regex (F3),
enumerate-zip operations with op-results (E2/J3 — results may be
shorter for failed txs), keep payments matching the asset predicate
(F1/F2) and all creations, apply per-op source override (F4) and
conditional op-status (F5), project the 11-column fixed schemas (P1/P2)
and fan out into two tagged row kinds (E4 — unioned with a `type`
discriminator, the S3 adapter's own design,
python/adapters/s3_storage_adapter.py:125,143).

Here the XDR-shaped nested input (§1.1) is built deterministically from
orders+lineitem (each order = a tx, each lineitem = an operation,
64 orders = a ledger), then the pipeline runs exactly the reference's
dataflow. Scale notes: the ledger lookup is broadcast (tiny dim); the
results join is a shuffle hash join on tx hash (same cardinality as txs
— broadcasting it would be wrong at 100 TB); explodes are
pipeline-local; the only shuffles are the two nested-build groupBys and
the results join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.registry import register

APP_ID = "aaa1"
APP_ID_REGEX = r"^1-[A-z0-9]{4}-.*"  # [A-z] preserved from python/main.py:57-58


def _ops_per_tx(li: DataFrame) -> DataFrame:
    """Lineitems -> sorted array of operation structs per order.

    Leading struct fields (l_linenumber, l_partkey) define the sort, so
    op ordering is deterministic; the tagged-union asset arm and the
    optional-as-array source override mirror SURVEY §1.1.
    """
    op = F.struct(
        # every natural column leads the struct so the sort_array order
        # is fully determined (ties => identical rows => interchangeable)
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
        F.col("l_tax"),
        (F.col("l_linenumber") % 2).alias("type"),  # 1=payment, 0=creation
        F.col("l_suppkey").cast("string").alias("destination"),
        F.col("l_extendedprice").alias("amount"),
        (F.col("l_quantity") * 100).alias("starting_balance"),
        F.when(
            F.col("l_discount") <= 0.08,
            F.struct(
                F.when(F.col("l_tax") > 0.04, "KIN").otherwise("OTH").alias("assetCode"),
                F.concat(
                    F.lit("ISS"), (F.col("l_partkey") % 2).cast("string")
                ).alias("issuer"),
            ),
        ).alias("alphaNum4"),
        F.when(
            F.col("l_discount") > 0.07,
            F.array((F.col("l_suppkey") + 1000000).cast("string")),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("sourceAccount"),
    )
    return li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(op)).alias("operations")
    )


def _tx_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders + per-order ops -> ledger-level tx-set entries (the
    transaction_history_entry shape, python/main.py:133-136).

    Scale note: the app-id memo predicate (F3) is ALSO applied here, at
    the source, before the two collect_list shuffles. Catalyst cannot
    push a filter through collect_list+explode on its own, so the
    builder does it by hand — both nested-build shuffles then carry
    only the ~1/3 of txs that survive, and the post-explode F3 filter
    (kept for dataflow parity with python/main.py:142-148) becomes a
    no-op over already-filtered rows. Same final result, 3x less
    shuffle.
    """
    orders = table(spark, sf_dir, "orders")
    memo = F.concat(
        F.lit("1-"),
        F.lpad((F.col("o_custkey") % 3).cast("string"), 4, "a"),
        F.lit("-"),
        F.col("o_orderstatus"),
    )
    orders = orders.filter(
        memo.rlike(APP_ID_REGEX) & (F.split(memo, "-")[1] == APP_ID)
    )
    ops = _ops_per_tx(
        table(spark, sf_dir, "lineitem").join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        )
    )
    txs = (
        orders.join(ops, orders.o_orderkey == ops.l_orderkey, "left")
        .select(
            F.expr("o_orderkey div 64").alias("ledger_seq"),
            F.struct(
                F.md5(F.col("o_orderkey").cast("string")).alias("hash"),
                (F.col("o_orderkey") % 1000).cast("int").alias("fee"),
                F.concat(
                    F.lit("1-"),
                    F.lpad((F.col("o_custkey") % 3).cast("string"), 4, "a"),
                    F.lit("-"),
                    F.col("o_orderstatus"),
                ).alias("memo"),
                F.col("o_custkey").cast("string").alias("source"),
                F.col("o_orderstatus").alias("orderstatus"),
                (F.col("o_orderkey") % 1000 + 10).cast("int").alias("fee_charged"),
                # orders with no lineitems keep a NULL array: arrays_zip
                # of NULL posexplodes to zero rows, same as the oracle's
                # inner join against ops
                F.col("operations"),
                F.col("o_orderkey").alias("orderkey"),
            ).alias("tx"),
        )
    )
    return txs.groupBy("ledger_seq").agg(
        F.sort_array(F.collect_list("tx")).alias("txs")
    )


@register(
    "pipeline_parity",
    oracle=f"""
    WITH ops AS (
      SELECT l_orderkey,
             CAST(row_number() OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                                              l_quantity, l_extendedprice,
                                              l_discount, l_tax) - 1 AS INT)
               AS op_index,
             l_linenumber % 2 AS op_type,
             CAST(l_suppkey AS VARCHAR) AS destination,
             l_extendedprice AS amount,
             l_quantity * 100 AS starting_balance,
             (l_discount <= 0.08) AS has_asset,
             CASE WHEN l_tax > 0.04 THEN 'KIN' ELSE 'OTH' END AS asset_code,
             concat('ISS', CAST(l_partkey % 2 AS VARCHAR)) AS issuer,
             CASE WHEN l_discount > 0.07
                  THEN CAST(l_suppkey + 1000000 AS VARCHAR) END AS src_override
      FROM lineitem
    ), tx AS (
      SELECT o_orderkey, o_orderkey // 64 AS ledger_seq,
             md5(CAST(o_orderkey AS VARCHAR)) AS hash,
             CAST(o_orderkey % 1000 AS INT) AS fee,
             concat('1-', lpad(CAST(o_custkey % 3 AS VARCHAR), 4, 'a'), '-',
                    o_orderstatus) AS memo,
             CAST(o_custkey AS VARCHAR) AS tx_source,
             o_orderstatus
      FROM orders
    ), ledgers AS (
      SELECT o_orderkey // 64 AS ledger_seq, min(o_orderdate) AS close_time
      FROM orders GROUP BY 1 HAVING (o_orderkey // 64) % 5 != 0
    ), res AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 'txSUCCESS'
                  ELSE 'txFAILED' END AS tx_status,
             CAST(o_orderkey % 1000 + 10 AS INT) AS fee_charged
      FROM orders WHERE o_orderkey % 7 != 0
    ), joined AS (
      SELECT t.memo, t.fee, t.hash, t.tx_source,
             l.close_time, r.tx_status, r.fee_charged,
             o.op_index, o.op_type, o.destination, o.amount,
             o.starting_balance, o.has_asset, o.asset_code, o.issuer,
             o.src_override,
             CASE WHEN r.o_orderkey IS NOT NULL
                       AND (r.tx_status = 'txSUCCESS' OR o.op_index < 1)
                  THEN CASE WHEN o.op_type = 1 THEN 'paymentSuccess'
                            ELSE 'createSuccess' END END AS op_status
      FROM tx t
      JOIN ops o ON t.o_orderkey = o.l_orderkey
      LEFT JOIN ledgers l ON t.ledger_seq = l.ledger_seq
      LEFT JOIN res r ON t.o_orderkey = r.o_orderkey
      WHERE regexp_matches(t.memo, '{APP_ID_REGEX}')
        AND string_split(t.memo, '-')[2] = '{APP_ID}'
    )
    SELECT 'payment' AS type, coalesce(src_override, tx_source) AS source,
           destination, amount, memo, fee, fee_charged, op_index,
           tx_status, op_status, hash, close_time AS time
    FROM joined
    WHERE op_type = 1 AND has_asset AND asset_code = 'KIN' AND issuer = 'ISS0'
    UNION ALL
    SELECT 'creation' AS type, coalesce(src_override, tx_source) AS source,
           destination, starting_balance AS amount, memo, fee, fee_charged,
           op_index, tx_status, op_status, hash, close_time AS time
    FROM joined
    WHERE op_type = 0
    """,
)
def pipeline_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    entries = _tx_entries(spark, sf_dir)

    # J1 build side: ledger_seq -> close_time, only some ledgers have
    # headers so the left join exercises miss->NULL (python/main.py:134)
    ledgers = (
        orders.groupBy(F.expr("o_orderkey div 64").alias("ledger_seq"))
        .agg(F.min("o_orderdate").alias("close_time"))
        .filter(F.col("ledger_seq") % 5 != 0)
    )

    # J2 build side: hash -> (tx_status, fee_charged); some txs lack
    # results (python/main.py:138 .get -> None)
    results = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        F.md5(F.col("o_orderkey").cast("string")).alias("transactionHash"),
        F.when(F.col("o_orderstatus") == "F", "txSUCCESS")
        .otherwise("txFAILED")
        .alias("tx_status"),
        (F.col("o_orderkey") % 1000 + 10).cast("int").alias("res_fee_charged"),
    )

    # E1: explode tx-set -> transactions, carrying ledger_seq
    txs = entries.select("ledger_seq", F.explode("txs").alias("tx"))

    # J1: broadcast left join (ledger dim is tiny at any scale)
    txs = txs.join(F.broadcast(ledgers), "ledger_seq", "left")

    # F3: app-id memo filter — drops the whole tx before any op work
    txs = txs.filter(
        F.col("tx.memo").rlike(APP_ID_REGEX)
        & (F.split(F.col("tx.memo"), "-")[1] == APP_ID)
    )

    # J2: left join results by tx hash (same cardinality as txs -> NOT
    # broadcast; AQE picks the shuffle strategy)
    txs = txs.join(results, txs["tx.hash"] == results.transactionHash, "left")

    # op-results derived positionally from the ops array; failed txs get
    # a truncated array (zip-shorter semantics, python/main.py:155)
    op_results = F.transform(
        "tx.operations",
        lambda op: F.struct(
            F.when(op["type"] == 1, "paymentSuccess")
            .otherwise("createSuccess")
            .alias("code")
        ),
    )
    txs = txs.withColumn(
        "op_results",
        # no result row at all -> NULL (every op_status NULL); failed tx
        # -> truncated result array (zip-shorter); success -> full
        F.when(F.col("tx_status").isNull(), F.lit(None))
        .when(F.col("tx_status") == "txSUCCESS", op_results)
        .otherwise(F.slice(op_results, 1, 1)),
    )

    # E2 + J3: posexplode over arrays_zip; null-pad on the short side is
    # guarded into NULL op_status (F5)
    rows = txs.select(
        "tx", "close_time", "tx_status", "res_fee_charged",
        F.posexplode(
            F.arrays_zip("tx.operations", F.coalesce("op_results", F.array()))
        ).alias("op_index", "z"),
    )

    op = F.col("z.operations")
    opres = F.col("z.1")
    common = [
        # F4: optional-as-array source override, else tx-level source;
        # try_element_at = the reference's caught IndexError
        # (python/main.py:173-176) under ANSI mode
        F.coalesce(
            F.try_element_at(op["sourceAccount"], F.lit(1)), F.col("tx.source")
        ).alias("source"),
        op["destination"].alias("destination"),
        F.col("tx.memo").alias("memo"),
        F.col("tx.fee").alias("fee"),
        F.col("res_fee_charged").alias("fee_charged"),
        F.col("op_index"),
        F.col("tx_status"),
        # F5: conditional status — NULL when no op-result exists
        F.when(opres.isNotNull(), opres["code"]).alias("op_status"),
        F.col("tx.hash").alias("hash"),
        F.col("close_time").alias("time"),
    ]

    # F1/F2 + E4 in ONE pass: payments = type tag 1 + null-safe
    # conjunctive asset predicate; creations = type tag 0 (no asset
    # filter, python/main.py:184-199). A filter-per-arm union would run
    # the whole upstream (nested build + joins + explode) once per arm;
    # the disjunctive filter + when/otherwise projection is the same
    # tagged fan-out (the S3 adapter's own single-sink design,
    # python/adapters/s3_storage_adapter.py:125,143) at half the cost.
    is_payment = (
        (op["type"] == 1)
        & op["alphaNum4"].isNotNull()
        & (op["alphaNum4"]["assetCode"] == "KIN")
        & (op["alphaNum4"]["issuer"] == "ISS0")
    )
    return rows.filter(is_payment | (op["type"] == 0)).select(
        F.when(op["type"] == 1, "payment").otherwise("creation").alias("type"),
        *common[:2],
        F.when(op["type"] == 1, op["amount"])
        .otherwise(op["starting_balance"])
        .alias("amount"),
        *common[2:],
    ).select(
        "type", "source", "destination", "amount", "memo", "fee",
        "fee_charged", "op_index", "tx_status", "op_status", "hash", "time",
    )
