"""Query scope: nothing a query allocates outlives the next top-level
query — temp dirs, memory-sink views, streaming queries — and a stream
whose batch raises leaves the session usable (pinning.py,
streaming/replay.py)."""

from __future__ import annotations

import glob
import inspect
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from history_collector_spark import pinning, registry
from history_collector_spark.streaming.replay import run_replay, write_replay_files
from tests.conftest import TEST_SF_DIR


def _footprint(spark) -> tuple[set[str], set[str]]:
    dirs = set(glob.glob(os.path.join(tempfile.gettempdir(), "hc_*")))
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    return dirs, views


def _release() -> None:
    """What the next top-level query does on entry."""
    pinning.enter_query()
    pinning.leave_query()


def _replay_queries() -> list[str]:
    registry.load_all()
    return sorted(
        n for n, fn in registry.QUERIES.items()
        if "run_replay(" in inspect.getsource(fn)
    )


def test_streaming_queries_leak_nothing_across_runs(spark):
    """Every registered query that runs a stream, plus
    xdr_triplet_parity, twice in a row: the second run must add no
    hc_* dir, no temp view and leave no active stream. Session memos
    (replay feeds, indexes) are built by the first run and reused."""
    names = _replay_queries()
    assert len(names) == 22, names
    names.append("xdr_triplet_parity")

    def run_all() -> tuple[set[str], set[str]]:
        for n in names:
            assert registry.QUERIES[n](spark, TEST_SF_DIR).count() >= 0, n
            assert not spark.streams.active, n
        _release()
        return _footprint(spark)

    dirs1, views1 = run_all()
    dirs2, views2 = run_all()
    assert dirs2 - dirs1 == set()
    assert views2 - views1 == set()
    assert not spark.streams.active


def _collect_batch(batch_df, epoch_id: int) -> None:
    batch_df.collect()


@pytest.mark.parametrize("foreach_batch", [None, _collect_batch], ids=["memory", "foreachBatch"])
def test_raising_batch_leaves_session_usable(spark, foreach_batch):
    """A stream whose frame raises inside a micro-batch: run_replay
    re-raises, no stream stays active, the scoped shuffle-partition
    setting is restored, and the next query runs and releases the
    failed query's dirs and views."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    pinning.enter_query()
    try:
        feed = spark.range(20).withColumn("file_no", (F.col("id") % 2).cast("int"))
        flat = write_replay_files(feed, ("id",), 2, pinning.temp_dir("hc_boom_"))
        with pytest.raises(Exception, match="boom"):
            run_replay(
                spark, flat,
                lambda s: s.withColumn("x", F.raise_error(F.lit("boom"))),
                schema="id long", name="boom", foreach_batch=foreach_batch,
            )
    finally:
        pinning.leave_query()
    assert not spark.streams.active
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
    assert os.path.isdir(flat)  # released by the next query, not earlier

    rows = registry.QUERIES["streaming_window_counts"](spark, TEST_SF_DIR).count()
    assert rows > 0
    dirs, views = _footprint(spark)
    assert not any(os.path.basename(d).startswith("hc_boom_") for d in dirs)
    assert not any(v.startswith("boom_") for v in views)


def test_release_waits_for_top_level_entry():
    """Nested entries release nothing; the next top-level entry
    releases everything."""
    order: list[str] = []
    pinning.enter_query()
    try:
        d = pinning.temp_dir("hc_scope_")
        pinning.on_release(lambda: order.append("view"))
        pinning.enter_query()  # nested: a query calling another query
        pinning.leave_query()
        assert os.path.isdir(d) and not order
    finally:
        pinning.leave_query()
    assert os.path.isdir(d)
    _release()
    assert not os.path.exists(d) and order == ["view"]
