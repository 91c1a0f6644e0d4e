"""Streaming runtime sizing helpers."""

from __future__ import annotations

from pyspark.sql import SparkSession

# State-store parallelism for the driver-gated e2e streams. A stateful
# streaming query fixes its number of state partitions at FIRST start
# (it is baked into the checkpoint), and every micro-batch then runs
# that many state tasks per stateful operator — so an oversized value
# multiplies fixed per-task overhead across every trigger while an
# undersized one caps the stream's aggregate throughput. The e2e
# queries here replay bounded fixtures (thousands of rows across <=6
# micro-batches), where a handful of partitions is the right size; a
# production 100 TB ingest would start its (long-lived, checkpointed)
# query once with partitions sized to peak state volume instead —
# this knob scopes the choice per query instead of inheriting whatever
# batch-oriented session default is active.
STREAM_STATE_PARTITIONS = 8


def python_state_partitions(spark: SparkSession, key_bound: int | None = None) -> int:
    """State-partition count for PYTHON stateful operators
    (applyInPandasWithState).

    Two opposing costs (both measured at sf0.1/local[32], r15+r16):

    - every Python state partition is one Arrow round-trip through a
      worker process PER MICRO-BATCH (~60-200 ms each even for an
      empty partition), so partitions beyond the stream's key
      cardinality are pure per-trigger overhead — the r16 profile of
      streaming_gapless_e2e (2 stream keys) showed 32 partitions
      costing 2-7 s per batch vs ~1 s at 4;
    - for MANY-key, work-heavy trackers the round-trips run
      concurrently and parallelism wins — the near-dup bucket tracker
      (thousands of (band, bucket) keys) measured 4 partitions 11.8 s,
      8 partitions 7.4 s, 32 partitions 4.9 s in r15, and the
      user-keyed trackers (1500 keys) showed no change 32 -> 4.

    So the caller passes ``key_bound`` — the stream's known key-domain
    cardinality (a property of the feed, not of the local core count)
    — and the partition count is min(defaultParallelism, key_bound):
    scale-adaptive on any cluster shape, never more state tasks than
    keys. Callers with unbounded/large key domains omit it and get
    full parallelism; JVM-stateful streams keep the small module
    default above."""
    n = spark.sparkContext.defaultParallelism
    if key_bound is not None:
        n = max(1, min(n, key_bound))
    return n
