"""The one streaming replay harness.

Every streaming e2e query replays a bounded input as ordered
micro-batches and drains it through the same lifecycle, which lives
here and nowhere else:

1. **Feed.** ``replay_feed`` materializes a corpus slice once per
   (session, corpus, tag) as at most one parquet file per bucket, with
   strictly increasing pinned mtimes (``write_replay_files``; the file
   source orders micro-batches by modification time). ``range_bucket``
   is the usual bucketing: ``n`` equal ranges of one ordered column.
   Feed dirs are session memos shared by every consumer of the same
   feed, so they live outside the query scope.
2. **Run.** ``run_replay`` reads a replay dir one file per micro-batch
   (``maxFilesPerTrigger=1``) — or takes an already-built streaming
   frame — applies the caller's plan, starts it with the bounded
   ``availableNow`` trigger under scoped shuffle partitions (the state
   partition count a stateful stream bakes into its checkpoint),
   awaits it and stops it in ``finally``, so a batch that raises never
   leaves an active stream. It returns the memory sink as a table, or
   ``None`` for a foreachBatch sink. The sink view and the foreachBatch
   checkpoint dir belong to the query scope (``pinning.py``) and are
   released at the next top-level query.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from history_collector_spark.functions.scope import scoped_shuffle_partitions
from history_collector_spark.pinning import on_release, temp_dir
from history_collector_spark.streaming.conf import STREAM_STATE_PARTITIONS

_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

# (applicationId, sf_dir, tag) -> replay dir; keyed by applicationId so
# a fresh session (new JVM temp state) rebuilds. Dirs are left for the
# OS tempdir reaper.
_FEEDS: dict[tuple[str, str, str], str] = {}


def write_replay_files(
    feed: DataFrame,
    cols: Sequence[str],
    n_files: int,
    flat: str,
    bucket_col: str = "file_no",
) -> str:
    """Materialize ``feed`` into the empty dir ``flat`` as at most one
    parquet file per ``bucket_col`` value, named in bucket order with
    strictly increasing pinned mtimes, and return ``flat``.

    ONE Spark job: hash-repartition on the bucket column into
    ``n_files`` partitions (every bucket's rows land in exactly one
    task, so dynamic partitionBy emits exactly one file per non-empty
    bucket) — replacing the former n_files sequential
    filter+coalesce(1) passes over the feed. Measured at sf0.1: the
    6-bucket events feed dropped ~9 s -> ~1.5 s, which used to
    dominate the cold cost of whichever stateful e2e ran first in a
    session. Buckets with no rows produce no file — the stream simply
    has one fewer micro-batch, which no consumer's equality contract
    depends on (state still crosses every remaining boundary).
    """
    landing = os.path.join(flat, "_landing")
    (
        feed.repartition(n_files, bucket_col)
        .select(*cols, bucket_col)
        .write.partitionBy(bucket_col)
        .mode("overwrite")
        .parquet(landing)
    )
    # numeric sort: lexicographic would put bucket 10 before bucket 2
    dirs = sorted(
        glob.glob(os.path.join(landing, f"{bucket_col}=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    i = 0
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "part-*.parquet"))):
            dst = os.path.join(flat, f"{i:02d}.parquet")
            shutil.copy(p, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            i += 1
    shutil.rmtree(landing, ignore_errors=True)
    return flat


def range_bucket(df: DataFrame, x: Column, n: int) -> DataFrame:
    """``df`` plus ``file_no``: which of ``n`` equal ranges of ``x``
    each row falls in. The bounds are a map-only 1-row broadcast, so
    fixture construction never sorts globally."""
    bounds = df.agg(F.min(x).alias("mn"), F.max(x).alias("mx"))
    return df.crossJoin(F.broadcast(bounds)).withColumn(
        "file_no",
        F.floor(
            F.lit(n) * (x - F.col("mn")) / (F.col("mx") - F.col("mn") + F.lit(1))
        ).cast("int"),
    )


def replay_feed(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build: Callable[[], DataFrame],
    cols: Sequence[str],
    n_files: int,
    bucket_col: str = "file_no",
) -> str:
    """The replay dir of feed ``tag`` over ``sf_dir``: ``build()``'s
    ``cols`` written by ``write_replay_files`` into an ``hc_<tag>_``
    dir, once per session."""
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    flat = _FEEDS.get(key)
    if flat is None or not os.path.isdir(flat):
        flat = tempfile.mkdtemp(prefix=f"hc_{tag}_")
        write_replay_files(build(), cols, n_files, flat, bucket_col)
        _FEEDS[key] = flat
    return flat


def run_replay(
    spark: SparkSession,
    source: str | DataFrame,
    plan: Callable[[DataFrame], DataFrame] | None = None,
    *,
    schema: str | None = None,
    path_glob: str | None = None,
    name: str = "replay",
    partitions: int = STREAM_STATE_PARTITIONS,
    output_mode: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame | None:
    """Run one bounded stream to completion.

    ``source`` is a replay dir, read one file per micro-batch: parquet
    with ``schema``, or raw files (the binaryFile source) when
    ``schema`` is omitted, optionally filtered by the ``path_glob``
    file-name pattern; a streaming frame is taken as is. ``plan`` maps
    the source stream to the frame that is run. A memory sink named
    ``<name>_<uuid>`` collects the output and is returned as a table,
    unless ``foreach_batch`` receives every micro-batch instead."""
    if isinstance(source, str):
        reader = spark.readStream.option("maxFilesPerTrigger", 1)
        if path_glob is not None:
            reader = reader.option("pathGlobFilter", path_glob)
        if schema is None:
            reader = reader.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
            stream = reader.load(source)
        else:
            stream = reader.schema(schema).parquet(source)
    else:
        stream = source
    out = plan(stream) if plan is not None else stream
    writer = out.writeStream.trigger(availableNow=True)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    if foreach_batch is None:
        view = f"{name}_{uuid.uuid4().hex[:8]}"
        writer = writer.format("memory").queryName(view)
        on_release(lambda: spark.catalog.dropTempView(view))
    else:
        writer = writer.foreachBatch(foreach_batch).option(
            "checkpointLocation", temp_dir(f"hc_{name}_ck_")
        )
    with scoped_shuffle_partitions(spark, partitions):
        q = writer.start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    return None if foreach_batch is not None else spark.table(view)
