"""Near-dup cluster assignment — connected components over the
MinHash-LSH duplicate pairs, the step that turns pairwise near-dup
evidence into one canonical document per cluster.

Algorithm: iterative min-label propagation (each node repeatedly takes
the minimum label among itself and its neighbors until fixpoint) — the
standard large-scale connected-components formulation: every iteration
is one shuffle join on doc_id, converging in O(diameter) rounds
(near-dup clusters are shallow, so 2-4 rounds in practice). The loop's
only driver-side work is the convergence check (a count), never data.
Labels are doc_ids, so the fixpoint (min doc_id reachable) is unique
and deterministic; the DuckDB oracle computes the same fixpoint with a
recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.catalog import table
from history_collector_spark.functions.scope import scoped_shuffle_partitions
from history_collector_spark.queries.dedup import (
    _BUCKETS_SQL,
    verified_pair_table,
)
from history_collector_spark.registry import register

_DUP_THRESHOLD = 0.5

# Shuffle width for the iterative CC/PageRank loops: they operate on
# the dup SUBGRAPH (edges/labels scale with duplication, not corpus),
# so per-round shuffles and checkpoints are sized to it. At a real
# 100 TB duplication mass this rises with the subgraph.
_ITER_PARTITIONS = 8


def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edges at jaccard >= threshold, read from the
    session-materialized pair table (dedup.verified_pair_table) — the
    LSH + candidate-pruned verify runs once per (session, corpus) and
    every graph consumer filters the shared result."""
    return (
        verified_pair_table(spark, sf_dir)
        .filter(F.col("jaccard") >= _DUP_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def _dup_pairs_with_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same edges as _dup_pairs but keeping the exact verify jaccard
    (a single int/int division per pair — bit-stable across engines)."""
    return verified_pair_table(spark, sf_dir).filter(
        F.col("jaccard") >= _DUP_THRESHOLD
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    shl AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks
    ),
    dup AS (
      SELECT doc_a, doc_b FROM cand
      JOIN shl x ON cand.doc_a = x.doc_id
      JOIN shl y ON cand.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / len(list_distinct(list_concat(x.s, y.s))) >= {_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM dup
      UNION ALL SELECT doc_b, doc_a FROM dup
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, min(v) AS cluster_id,
           (min(v) = u) AS is_canonical
    FROM reach GROUP BY u
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = cc_labels_table(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        (F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


# CC-labels memo: six registered queries (dedup_clusters itself, the
# representative/histogram pickers, and the cluster-census consumers)
# all need the SAME min-label fixpoint over the SAME session-pinned
# verified pair table — re-running the iterative loop (2-4 rounds x
# ~3 blocking jobs each) per consumer was ~1.5-3 s of pure fixed cost
# per query at sf0.1 (r15 measurement). Keyed by applicationId so a
# fresh session recomputes from parquet; the cached frame is the
# localCheckpoint the loop already produced (lineage truncated, a few
# bytes per dup-subgraph node) — the same session-materialization
# discipline as dedup.verified_pair_table, which this derives from.
_CC_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}


def cc_labels_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) min-label fixpoint over the near-dup edge set —
    edge-participating nodes only (isolated docs re-join as singleton
    clusters at the consumer)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _CC_LABELS_CACHE.get(key)
    if cached is not None:
        return cached

    dup = _dup_pairs(spark, sf_dir)
    # both directions of every edge in ONE pass over the (persisted)
    # pair table
    edges = dup.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                ),
                F.struct(
                    F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # the loop runs over the dup subgraph: size shuffles/checkpoints to
    # it, not the corpus-wide session default
    with scoped_shuffle_partitions(spark, _ITER_PARTITIONS):
        # cache: every iteration probes the same edge set
        edges = edges.repartition(_ITER_PARTITIONS, "u").persist()
        edges.count()

        # iterate ONLY over edge-participating nodes — duplicates are a
        # small fraction of any corpus, so each round's join touches
        # the dup subgraph, never the full table; isolated docs join
        # back as their own singleton clusters at the end
        # labels(node, label): the alias gives `node` a fresh attribute
        # id, so the edges-vs-labels joins below are unambiguous
        labels = (
            edges.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        while True:
            nbr = (
                edges.join(labels, edges.v == labels.node)
                .groupBy(edges.u.alias("nu"))
                .agg(F.min("label").alias("nbr_min"))
            )
            new_label = F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            )
            # carry the changed flag inside the checkpointed frame so
            # the convergence check scans the checkpoint, no extra join
            stepped = (
                labels.join(nbr, labels.node == nbr.nu, "left")
                .select(
                    "node",
                    new_label.alias("label"),
                    (new_label != F.col("label")).alias("chg"),
                )
                # truncate lineage each round or the plan doubles
                .localCheckpoint(eager=True)
            )
            changed = stepped.filter("chg").count()
            labels = stepped.drop("chg")
            if changed == 0:
                break
        edges.unpersist()

    _CC_LABELS_CACHE[key] = labels
    return labels


# ---------------------------------------------------------------------------
# Cluster-representative selection: the step AFTER connected components
# in a production fuzzy-dedup pass — each near-dup cluster keeps its
# best document (highest quality score, ties to the lowest doc_id) and
# the rest are dropped. Composes dedup_clusters with the shared quality
# scorer; the representative choice is one per-cluster window top-1.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_representative",
    oracle=f"""
    WITH RECURSIVE {_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    shl AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks
    ),
    dup AS (
      SELECT doc_a, doc_b FROM cand
      JOIN shl x ON cand.doc_a = x.doc_id
      JOIN shl y ON cand.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / len(list_distinct(list_concat(x.s, y.s))) >= {_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM dup
      UNION ALL SELECT doc_b, doc_a FROM dup
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    ),
    q AS (
      SELECT doc_id,
             (CASE WHEN len(string_split_regex(text, '\\s+')) >= 20
                   THEN 0.4 ELSE 0.0 END
              + CASE WHEN CAST(len(list_filter(
                        string_split_regex(lower(text), '\\s+'),
                        x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                        AS DOUBLE)
                      / len(string_split_regex(text, '\\s+'))
                      BETWEEN 0.01 AND 0.6 THEN 0.3 ELSE 0.0 END
              + CASE WHEN CAST(length(text)
                             - length(regexp_replace(text, '[0-9]', '', 'g'))
                        AS DOUBLE) / length(text) < 0.2
                     THEN 0.3 ELSE 0.0 END) AS quality
      FROM documents
    )
    SELECT cluster_id, rep_doc_id, n_members, rep_quality FROM (
      SELECT c.cluster_id,
             q.doc_id AS rep_doc_id,
             q.quality AS rep_quality,
             CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
               AS n_members,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, q.doc_id) AS rn
      FROM clusters c JOIN q ON c.doc_id = q.doc_id
    ) WHERE rn = 1
    """,
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: everything up to `clusters` is dedup_clusters
    (iterative CC over the dup subgraph only); quality is a map-only
    projection on the documents scan; the join is co-partitioned on
    doc_id and the representative pick is a single map-side-combined
    max-struct aggregate per cluster — no window at all, so even a
    pathological giant dup cluster reduces through partial aggregates
    instead of one task's sort. The tiebreak (quality DESC, doc_id ASC)
    is encoded as max(struct(quality, -doc_id)), matching the oracle's
    row_number order exactly.
    """
    from history_collector_spark.queries.text import with_quality

    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    q = with_quality(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "quality")
    joined = clusters.join(q, "doc_id")
    best = joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(
            F.struct(
                F.col("quality").alias("q"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("best"),
    )
    return best.select(
        "cluster_id",
        (-F.col("best.neg_id")).cast("long").alias("rep_doc_id"),
        "n_members",
        F.col("best.q").alias("rep_quality"),
    )


@register(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    shl AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks
    ),
    dup AS (
      SELECT doc_a, doc_b FROM cand
      JOIN shl x ON cand.doc_a = x.doc_id
      JOIN shl y ON cand.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / len(list_distinct(list_concat(x.s, y.s))) >= {_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM dup
      UNION ALL SELECT doc_b, doc_a FROM dup
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    ),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup component sizes — the one-page answer
    to "how much of the corpus sits in clone families, and how big is
    the biggest?". Rides the registered connected-components dataflow
    (memoized pair table + label propagation), then two bounded
    aggregations: components, then size-of-size. The histogram's key
    cardinality is at most the largest clone family — tiny — so the
    report is effectively free once components exist."""
    comp = dedup_clusters(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Near-dup split leakage: the eval-contamination failure mode that
# doc-granular hash splits cannot avoid — two near-identical documents
# hash to different train/val/test buckets, so the eval split "tests"
# text the model already trained on. The audit joins the connected
# components above with the same 90/5/5 md5 split curation_hash_split
# uses and reports, per eval split, how many docs share a clone family
# with a train doc. The companion query below (cluster_hash_split) is
# the fix: hash the CLUSTER id, so a clone family lands in one split
# by construction.
# ---------------------------------------------------------------------------

# the 90/5/5 md5 bucket rule, identical to curation_hash_split (the
# audit must use the exact same assignment it is auditing)
_SPLIT_BUCKET_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 4)) "
    "AS INT) % 100 AS INT)"
)
_SPLIT_CASE_SQL = (
    "CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'val' "
    "ELSE 'test' END"
)

# the dedup_clusters fixpoint as a reusable oracle prefix (recursive
# CTE over the LSH candidate pairs, verbatim from dedup_clusters)
_COMP_CTE = f"""{_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    shl AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks
    ),
    dup AS (
      SELECT doc_a, doc_b FROM cand
      JOIN shl x ON cand.doc_a = x.doc_id
      JOIN shl y ON cand.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / len(list_distinct(list_concat(x.s, y.s))) >= {_DUP_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM dup
      UNION ALL SELECT doc_b, doc_a FROM dup
    ),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    )"""


def _split_bucket(key: Column) -> Column:
    """Spark twin of _SPLIT_BUCKET_SQL (curation_hash_split's rule)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10)
        .cast("int") % 100
    )


def _split_of(bucket: Column) -> Column:
    return (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )


# ---------------------------------------------------------------------------
# Corpus-provenance rollups over the same dup evidence: which sources
# overlap (mirror detection) and how many tokens each source actually
# contributes once clone families are collapsed to one canonical doc.
# ---------------------------------------------------------------------------


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH {_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    shl AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 1, 1)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks
    ),
    dup AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
      FROM cand
      JOIN shl x ON cand.doc_a = x.doc_id
      JOIN shl y ON cand.doc_b = y.doc_id
      WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
              / len(list_distinct(list_concat(x.s, y.s))) >= {_DUP_THRESHOLD}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           max(jaccard) AS max_jaccard
    FROM dup
    JOIN documents da ON dup.doc_a = da.doc_id
    JOIN documents db ON dup.doc_b = db.doc_id
    GROUP BY least(da.source, db.source), greatest(da.source, db.source)
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources near-duplicate which: dup pairs rolled up to an
    unordered (source_a, source_b) matrix — the provenance view a
    curation team reads to find mirror sites and cross-source scrape
    overlap before deciding what to drop.

    Scale shape: the pair table is the memoized LSH+verify output
    (scales with duplication, not corpus); the two source lookups are
    doc_id-keyed joins against a two-column projection of the corpus
    (co-partitioned; at 100 TB the small pair side broadcasts or AQE
    picks the shuffle side); the rollup key space is bounded by
    source-pair count. max_jaccard is a stored-value endpoint
    (bit-stable), no float accumulation."""
    pairs = _dup_pairs_with_jaccard(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        ).join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
    )
    return j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
    )


@register(
    "dedup_token_yield",
    oracle=f"""
    WITH RECURSIVE {_COMP_CTE},
    tk AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT d.source AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.cluster_id = c.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical,
           CAST(sum(tk.n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN c.cluster_id = c.doc_id THEN tk.n_tokens
                         ELSE 0 END) AS BIGINT) AS retained_tokens,
           CAST(sum(CASE WHEN c.cluster_id = c.doc_id THEN tk.n_tokens
                         ELSE 0 END) AS DOUBLE) / sum(tk.n_tokens)
             AS token_yield
    FROM comp c
    JOIN documents d ON c.doc_id = d.doc_id
    JOIN tk ON c.doc_id = tk.doc_id
    GROUP BY d.source
    """,
)
def dedup_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dataset size after fuzzy dedup, per source: how many
    tokens survive keeping one canonical doc (min doc_id) per near-dup
    cluster — the number a pretraining-data budget actually uses.

    Scale shape: components from the memoized label propagation; token
    counts are a map-only projection; one co-partitioned doc_id join;
    the rollup is source-cardinality with map-side combine. token_yield
    is one int/int division (parity-exact, op order mirrored)."""
    comp = dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "is_canonical"
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    j = comp.join(docs, "doc_id")
    canon_tokens = F.sum(
        F.when(F.col("is_canonical"), F.col("n_tokens")).otherwise(F.lit(0))
    )
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).alias(
            "n_canonical"
        ),
        F.sum("n_tokens").alias("total_tokens"),
        canon_tokens.alias("retained_tokens"),
        (canon_tokens.cast("double") / F.sum("n_tokens")).alias(
            "token_yield"
        ),
    )


@register(
    "split_leakage_near_dup",
    oracle=f"""
    WITH RECURSIVE {_COMP_CTE},
    s AS (
      SELECT doc_id, cluster_id,
             {_SPLIT_CASE_SQL.format(b=_SPLIT_BUCKET_SQL.format(key="doc_id"))}
               AS split
      FROM comp
    ),
    ct AS (
      SELECT cluster_id,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
      FROM s GROUP BY cluster_id
    )
    SELECT s.split AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ct.has_train) AS BIGINT) AS n_contaminated,
           CAST(count(DISTINCT CASE WHEN ct.has_train = 1
                                    THEN s.cluster_id END) AS BIGINT)
             AS n_leaky_clusters,
           CAST(sum(ct.has_train) AS DOUBLE) / count(*) AS contamination_rate
    FROM s JOIN ct USING (cluster_id)
    WHERE s.split <> 'train'
    GROUP BY s.split
    """,
)
def split_leakage_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval split: docs whose near-dup cluster also contains a
    train doc under the doc-granular 90/5/5 md5 split.

    Scale shape: components come from the memoized dup-subgraph label
    propagation (dedup_clusters); the split is a map-only expression;
    `ct` is a map-side-combined max per cluster_id; the join back is
    co-partitioned on cluster_id (both sides are outputs of the same
    aggregation key); the final aggregate has two groups. No window,
    no driver-side data. contamination_rate is one int/int division,
    identical op order in the oracle (parity-safe)."""
    comp = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    s = comp.select(
        "doc_id",
        "cluster_id",
        _split_of(_split_bucket(F.col("doc_id"))).alias("split"),
    )
    ct = s.groupBy("cluster_id").agg(
        F.max((F.col("split") == "train").cast("int")).alias("has_train")
    )
    ev = s.filter(F.col("split") != "train").join(ct, "cluster_id")
    return ev.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("has_train").alias("n_contaminated"),
        F.countDistinct(
            F.when(F.col("has_train") == 1, F.col("cluster_id"))
        ).alias("n_leaky_clusters"),
        (F.sum("has_train").cast("double") / F.count("*")).alias(
            "contamination_rate"
        ),
    )


@register(
    "cluster_hash_split",
    oracle=f"""
    WITH RECURSIVE {_COMP_CTE}
    SELECT doc_id, cluster_id,
           {_SPLIT_CASE_SQL.format(
               b=_SPLIT_BUCKET_SQL.format(key="cluster_id"))} AS split,
           ({_SPLIT_CASE_SQL.format(
                b=_SPLIT_BUCKET_SQL.format(key="cluster_id"))}
            <> {_SPLIT_CASE_SQL.format(
                b=_SPLIT_BUCKET_SQL.format(key="doc_id"))}) AS moved
    FROM comp
    """,
)
def cluster_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test assignment: hash the near-dup
    CLUSTER id instead of the doc id, so every clone family lands in
    exactly one split (the fix for what split_leakage_near_dup
    measures). `moved` marks docs whose split differs from the
    doc-granular rule — the migration cost of adopting the fix.

    Scale shape: one map-only projection over the components output;
    the md5 bucket expressions are codegen'd per row. Nothing beyond
    dedup_clusters' own dataflow is shuffled."""
    comp = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    cl_split = _split_of(_split_bucket(F.col("cluster_id")))
    doc_split = _split_of(_split_bucket(F.col("doc_id")))
    return comp.select(
        "doc_id",
        "cluster_id",
        cl_split.alias("split"),
        (cl_split != doc_split).alias("moved"),
    )
