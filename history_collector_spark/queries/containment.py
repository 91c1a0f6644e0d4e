"""n-gram containment similarity — subset-duplicate detection.

Jaccard misses the asymmetric case a pretraining dedup pass cares about:
a short document wholly embedded inside a longer one (quoted articles,
boilerplate-wrapped copies) scores low symmetric similarity but HIGH
containment C(A->B) = |S(A) & S(B)| / |S(A)| (Broder's containment,
public). This query emits both directions for every candidate pair
whose larger direction clears the threshold.

Scale shape — identical to dedup_ngram_jaccard's positional inverted
index (dedup.py): one shingle pass, a broadcast anti-join stop-shingle
prune (df cap bounds the per-key join fan-out at 100 TB), intersection
counts from a shingle-keyed self-join (cost sum df(g)^2, never
all-pairs), set sizes windowed onto the shingle rows. One extra
projection computes both direction ratios from the same intersection
count — no second join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from history_collector_spark.queries.dedup import NGRAM_DF_CAP, _doc_shingles
from history_collector_spark.registry import register
from history_collector_spark.pinning import pin_local

_THRESHOLD = 0.5


@register(
    "dedup_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS g
      FROM toks
    ),
    pruned AS (
      SELECT sh.doc_id, sh.lang, sh.g FROM sh
      ANTI JOIN (
        SELECT lang, g FROM sh GROUP BY lang, g HAVING count(*) > {NGRAM_DF_CAP}
      ) hot USING (lang, g)
    ),
    sets AS (
      SELECT doc_id, lang, list(g) AS s FROM pruned GROUP BY doc_id, lang
    )
    SELECT doc_a, doc_b, lang, c_a_in_b, c_b_in_a FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
               AS c_a_in_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
               AS c_b_in_a
      FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE greatest(c_a_in_b, c_b_in_a) >= {_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    hot = (
        sh.groupBy("lang", "g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > NGRAM_DF_CAP)
        .select("lang", "g")
    )
    sh = sh.join(F.broadcast(hot), ["lang", "g"], "left_anti")
    # r15: pin ex before the self-join — each side would otherwise
    # re-run the shingle explode + hot-gram anti-join + count window
    # (and sh itself is consumed twice more inside that subtree).
    ex = sh.withColumn(
        "n", F.count("*").over(Window.partitionBy("doc_id"))
    ).transform(pin_local)
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    c_ab = F.col("inter").cast("double") / F.col("na")
    c_ba = F.col("inter").cast("double") / F.col("nb")
    return (
        inter.select(
            "doc_a", "doc_b", "lang",
            c_ab.alias("c_a_in_b"), c_ba.alias("c_b_in_a"),
        )
        .filter(F.greatest("c_a_in_b", "c_b_in_a") >= _THRESHOLD)
    )
