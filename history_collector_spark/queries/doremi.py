"""Domain reweighting for pretraining mixtures — a DoReMi-flavoured
multiplicative-weights loop (inspired by Xie et al. 2023,
arXiv:2305.10429) over per-source reference losses.

This is the LINEARIZED variant with STATIC reference losses: the
domain loss is the unigram-tokenizer fertility (pieces per token —
integer-derived, engine-exact; see queries/unigram_tok.py) computed
once, and each round applies ``w_i <- w_i * (1 + eta * loss_i)`` then
renormalizes. Full DoReMi recomputes excess loss against a proxy model
every round — that recomputation is exactly where a training loop
would plug in; the operator mechanics (bounded domain state, ordered
renormalization, fixed iteration count mirrored in a recursive-CTE
oracle) are identical. exp() is deliberately avoided: DuckDB and
Python libm disagree by 1 ulp on some inputs (measured), while the
rational update keeps every iteration bit-exact across engines.

Scale shape: the distributed work is the corpus (source, word) count
aggregate feeding fertility; the MW loop runs driver-side over
sources — bounded domain cardinality at any corpus size, the same
contract as events_bradley_terry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.registry import register
from history_collector_spark.queries.unigram_tok import (
    _dp_spark,
    _dp_sql,
    _SEG_SQL,
    _WORDS_SQL,
    _word_counts,
)

_MW_ITERS = 30
_MW_ETA = 0.1


@register(
    "curation_domain_reweight",
    oracle=f"""
    WITH RECURSIVE {_WORDS_SQL},
  {_dp_sql()},
  {_SEG_SQL},
    dom AS (
      SELECT swc.source,
             CAST(sum(swc.n) AS BIGINT) AS n_tokens,
             CAST(sum(swc.n * seg.n_pieces) AS DOUBLE) / sum(swc.n)
               AS loss
      FROM swc JOIN seg ON swc.word = seg.word
      GROUP BY swc.source
    ),
    idxd AS (
      SELECT source, n_tokens, loss,
             CAST(row_number() OVER (ORDER BY source) AS INT) AS i
      FROM dom
    ),
    mats AS (
      SELECT (SELECT list(loss ORDER BY i) FROM idxd) AS lv,
             (SELECT count(*) FROM idxd) AS nd
    ),
    mw AS (
      SELECT 0 AS it,
             (SELECT list(CAST(1.0 AS DOUBLE) / nd ORDER BY i)
              FROM idxd, mats) AS p
      UNION ALL
      SELECT it + 1,
        list_transform(
          list_transform(range(1, len(p)+1), i ->
            p[i] * (1.0 + {_MW_ETA} * m.lv[i])),
          x -> x / list_sum(
            list_transform(range(1, len(p)+1), i ->
              p[i] * (1.0 + {_MW_ETA} * m.lv[i]))))
      FROM mw, mats m WHERE it < {_MW_ITERS}
    ),
    final AS (SELECT p FROM mw WHERE it = {_MW_ITERS}),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM idxd)
    SELECT idxd.source, idxd.n_tokens,
           CAST(idxd.n_tokens AS DOUBLE) / tot.t AS baseline_share,
           idxd.loss, final.p[idxd.i] AS doremi_weight
    FROM idxd, final, tot
    """,
)
def curation_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weights after 30 multiplicative-weight
    rounds against the fertility reference loss, next to each
    source's baseline token share — the before/after a mixture tuner
    reads. High-fertility (hard-to-tokenize) domains are upweighted,
    the multiplicative tilt compounding geometrically with the
    iteration count.

    Driver math mirrors the oracle's recursive CTE operation-for-
    operation: multiply all domains first, one ordered sum, then the
    division — so the float path is bit-exact (audited EXACT)."""
    counts = _word_counts(spark, sf_dir)
    words = counts.groupBy("word").agg(F.sum("n").alias("n_occ"))
    seg = _dp_spark(words).select("word", "n_pieces")
    dom = (
        counts.join(F.broadcast(seg), "word")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            (
                F.sum(F.col("n") * F.col("n_pieces")).cast("double")
                / F.sum("n")
            ).alias("loss"),
        )
        .collect()  # BOUNDED: one row per source
    )
    dom = sorted(dom, key=lambda r: r["source"])
    losses = [float(r["loss"]) for r in dom]
    nd = len(dom)
    p = [1.0 / nd] * nd
    for _ in range(_MW_ITERS):
        tmp = [p[i] * (1.0 + _MW_ETA * losses[i]) for i in range(nd)]
        s = 0.0
        for v in tmp:
            s += v
        p = [v / s for v in tmp]
    total = sum(int(r["n_tokens"]) for r in dom)
    out = [
        (
            r["source"],
            int(r["n_tokens"]),
            int(r["n_tokens"]) / total,
            losses[i],
            p[i],
        )
        for i, r in enumerate(dom)
    ]
    return spark.createDataFrame(
        out,
        "source string, n_tokens bigint, baseline_share double,"
        " loss double, doremi_weight double",
    )


_BUDGET_TOKENS = 1_000_000


@register(
    "curation_token_budget_plan",
    oracle=f"""
    WITH RECURSIVE {_WORDS_SQL},
  {_dp_sql()},
  {_SEG_SQL},
    dom AS (
      SELECT swc.source,
             CAST(sum(swc.n) AS BIGINT) AS n_tokens,
             CAST(sum(swc.n * seg.n_pieces) AS DOUBLE) / sum(swc.n)
               AS loss
      FROM swc JOIN seg ON swc.word = seg.word
      GROUP BY swc.source
    ),
    idxd AS (
      SELECT source, n_tokens, loss,
             CAST(row_number() OVER (ORDER BY source) AS INT) AS i
      FROM dom
    ),
    mats AS (
      SELECT (SELECT list(loss ORDER BY i) FROM idxd) AS lv,
             (SELECT count(*) FROM idxd) AS nd
    ),
    mw AS (
      SELECT 0 AS it,
             (SELECT list(CAST(1.0 AS DOUBLE) / nd ORDER BY i)
              FROM idxd, mats) AS p
      UNION ALL
      SELECT it + 1,
        list_transform(
          list_transform(range(1, len(p)+1), i ->
            p[i] * (1.0 + {_MW_ETA} * m.lv[i])),
          x -> x / list_sum(
            list_transform(range(1, len(p)+1), i ->
              p[i] * (1.0 + {_MW_ETA} * m.lv[i]))))
      FROM mw, mats m WHERE it < {_MW_ITERS}
    ),
    final AS (SELECT p FROM mw WHERE it = {_MW_ITERS}),
    -- largest-remainder apportionment of the integer token budget:
    -- floor everyone, hand the leftover +1s to the largest remainders
    -- (remainder DESC, source ASC — fully deterministic)
    quota AS (
      SELECT idxd.source, idxd.i,
             final.p[idxd.i] * {_BUDGET_TOKENS} AS q
      FROM idxd, final
    ),
    floored AS (
      SELECT source, i, CAST(floor(q) AS BIGINT) AS base, q - floor(q) AS rem
      FROM quota
    ),
    leftover AS (
      SELECT {_BUDGET_TOKENS} - sum(base) AS k FROM floored
    ),
    ranked AS (
      SELECT source, base, rem,
             row_number() OVER (ORDER BY rem DESC, source) AS rr
      FROM floored
    )
    SELECT source,
           CAST(base + CASE WHEN rr <= leftover.k THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked, leftover
    """,
)
def curation_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer per-source token allocations for a 1M-token mixture:
    the DoReMi weights apportioned by the largest-remainder method
    (floor every quota, then +1 to the largest fractional remainders,
    ties to the lexicographically first source) — allocations sum to
    the budget EXACTLY, the property a sampling manifest needs before
    a dataloader consumes it.

    The remainder comparison consumes raw doubles, but each quota is
    the bit-exact MW weight (see curation_domain_reweight) times an
    integer constant — deterministic in both engines — and the
    (remainder DESC, source) order breaks every tie. All-integer
    output."""
    counts = _word_counts(spark, sf_dir)
    words = counts.groupBy("word").agg(F.sum("n").alias("n_occ"))
    seg = _dp_spark(words).select("word", "n_pieces")
    dom = (
        counts.join(F.broadcast(seg), "word")
        .groupBy("source")
        .agg(
            (
                F.sum(F.col("n") * F.col("n_pieces")).cast("double")
                / F.sum("n")
            ).alias("loss"),
        )
        .collect()  # BOUNDED: one row per source
    )
    dom = sorted(dom, key=lambda r: r["source"])
    losses = [float(r["loss"]) for r in dom]
    nd = len(dom)
    p = [1.0 / nd] * nd
    for _ in range(_MW_ITERS):
        tmp = [p[i] * (1.0 + _MW_ETA * losses[i]) for i in range(nd)]
        s = 0.0
        for v in tmp:
            s += v
        p = [v / s for v in tmp]
    import math

    quotas = [p[i] * _BUDGET_TOKENS for i in range(nd)]
    bases = [int(math.floor(q)) for q in quotas]
    rems = [quotas[i] - math.floor(quotas[i]) for i in range(nd)]
    k = _BUDGET_TOKENS - sum(bases)
    order = sorted(range(nd), key=lambda i: (-rems[i], dom[i]["source"]))
    alloc = list(bases)
    for i in order[:k]:
        alloc[i] += 1
    out = [(dom[i]["source"], alloc[i]) for i in range(nd)]
    return spark.createDataFrame(out, "source string, alloc_tokens bigint")
