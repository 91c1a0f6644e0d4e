"""Exact set-similarity join via prefix filtering (AllPairs/PPJoin
family) — the deterministic counterpart to the MinHash-LSH pipeline.

Where LSH (dedup.py) trades a small miss probability for bounded work,
prefix filtering is EXACT: under a global token order, any two sets
with Jaccard >= tau must share at least one element inside their
(|x| - ceil(tau*|x|) + 1)-element prefixes, so joining on prefix
elements yields a candidate superset with zero false negatives
(Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07 —
public literature, no code reused). Ordering tokens by ascending
document frequency makes prefixes maximally rare, so candidate volume
is costed by Σ over PREFIX tokens of df², a strict subset of the full
inverted-index join's Σ df² (dedup_ngram_jaccard) — the standard way
an exact similarity join survives web scale.

The reference has no similarity machinery at all (its dedup is the
per-ledger INSERT key, python/main.py:79-83); this operator exists for
the training-data curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.queries.dedup import _doc_shingles
from history_collector_spark.registry import register
from history_collector_spark.pinning import pin_local

_TAU = 0.6


@register(
    "dedup_prefix_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(text, '\\s+') AS t FROM documents
    ),
    sets AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= {_TAU}
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All doc pairs (within a language block) with trigram-shingle
    Jaccard >= 0.6, found EXACTLY — the oracle brute-forces every pair
    to prove no candidate is ever missed.

    Exact-duplicate collapse first (round-10 second-decade probe
    finding): pair enumeration is Θ(duplication²) in its OUTPUT by
    definition, and the naive form paid the per-pair set-intersection
    on every expanded pair — measured x48 sf1->sf10 on the 100x-dup
    probe corpus (839s; output itself grows x110 there). Collapsing
    identical (lang, md5(text)) classes first runs the whole
    prefix-filter + verify machinery on DISTINCT-text representatives
    only — constant in duplication multiplicity — then expands class
    pairs to doc pairs with a join that costs O(1) per output row
    (identical sets have identical Jaccard; within-class pairs are
    J = 1.0 exactly). Re-probed at x7.7 with ~12x more output rows —
    linear in output size, the floor for an exact pair enumerator.
    This is also the real pipeline order: exact dedup ALWAYS precedes
    near-dup at 100 TB.

    Plan shape: one narrow (lang, md5) aggregate for the classes; one
    (lang, g) hash join attaches df to each representative shingle row
    (the df table is a vocabulary-bounded map-side-combined aggregate);
    one doc_id shuffle assembles each rep's df-sorted shingle array
    (the same single inverted-index-style exchange dedup_ngram_jaccard
    pays); the prefix slice is row-local; the candidate self-join keys
    on prefix shingles only — rare by construction of the df ordering —
    the verify joins the bounded rep sets table twice by class id, and
    the expansion joins carry only ids + one double. No stage is ever
    all-pairs, and no per-pair array work scales with duplication."""
    cls = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5("text").alias("h")
    )
    classes = cls.groupBy("lang", "h").agg(
        F.min("doc_id").alias("cls_id"), F.count("*").alias("n")
    )
    # members/sets are each consumed by 3+ downstream joins; Spark
    # plans every consumer as its own subtree (0 ReusedExchange in the
    # r15 before-plan: 64 documents scans, 118 exchanges), so without a
    # pin the scan -> md5 -> shingle-explode -> df-join -> collect_list
    # chain executes once PER consumer. Pin both with the same persist
    # discipline as dedup._candidate_pairs: members is (cls_id, doc_id,
    # lang) — id-width rows; sets is one (id, lang, shingle-array) row
    # per DISTINCT text — the exact frame a production prefix-filter
    # index materializes anyway, a fraction of corpus bytes.
    members = (
        cls.join(classes, ["lang", "h"])
        .select("cls_id", "doc_id", "lang")
        .transform(pin_local)
    )
    reps = classes.select(F.col("cls_id").alias("doc_id"))

    sh = pin_local(_doc_shingles(spark, sf_dir).join(reps, "doc_id", "semi"))
    df = sh.groupBy("lang", "g").agg(F.count("*").alias("df"))
    keyed = sh.join(df, ["lang", "g"])
    # (df, g) struct sort = ascending global rarity order, total because
    # g is unique within the struct comparison
    docs = keyed.groupBy("doc_id", "lang").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("g")))
        ).alias("sorted")
    )
    sets = docs.select(
        "doc_id",
        "lang",
        F.transform(F.col("sorted"), lambda x: x["g"]).alias("s"),
        F.size("sorted").alias("n"),
    ).transform(pin_local)
    prefix_len = F.col("n") - F.ceil(F.lit(_TAU) * F.col("n")) + 1
    pre = sets.select(
        "doc_id",
        "lang",
        F.explode(
            F.slice(F.col("s"), F.lit(1), prefix_len.cast("int"))
        ).alias("g"),
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a")
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")
    )
    jac = F.size(F.array_intersect("s_a", "s_b")) / F.size(
        F.array_union("s_a", "s_b")
    ).cast("double")
    rep_pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _TAU)
        .select(
            F.col("doc_a").alias("cls_a"),
            F.col("doc_b").alias("cls_b"),
            "lang",
            "jaccard",
        )
    )

    # expansion: cross-class pairs inherit the representative Jaccard
    # verbatim (identical sets), within-class pairs are exactly 1.0;
    # docs with < 3 tokens have no shingle set and never pair (the
    # semi-join on `sets` keeps that contract for within-class too)
    ma = members.select(
        F.col("cls_id").alias("cls_a"), F.col("doc_id").alias("da")
    )
    mb = members.select(
        F.col("cls_id").alias("cls_b"), F.col("doc_id").alias("db")
    )
    cross = (
        rep_pairs.join(ma, "cls_a")
        .join(mb, "cls_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "lang",
            "jaccard",
        )
    )
    shingled = sets.select(F.col("doc_id").alias("cls_id"))
    m1 = members.join(shingled, "cls_id")
    within = (
        m1.alias("x")
        .join(
            m1.alias("y"),
            (F.col("x.cls_id") == F.col("y.cls_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.lang").alias("lang"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)
