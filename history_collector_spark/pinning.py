"""Query scope: the owner of everything a query allocates for itself.

A registered query may allocate three kinds of QUERY-LOCAL objects,
each of which records one release action here:

- ``pin_local``: a persisted (MEMORY_AND_DISK) intermediate frame that
  several consumers of the one returned plan read, so its expensive
  subtree (shingle explodes, Arrow kernels, self-join feeds) runs once
  per materialization; released by ``unpersist``;
- ``temp_dir``: a fresh ``tempfile.mkdtemp`` directory for fixture
  files, stream checkpoints or a foreachBatch sink's output; released
  by removing the tree;
- ``on_release``: any other release action — ``streaming.replay.
  run_replay`` drops the memory-sink view each stream registers.

The registry's query wrapper calls ``enter_query``/``leave_query``
around every invocation. A TOP-LEVEL entry (depth 0 -> 1) first runs
every recorded release action; nested calls (a registered query
calling another's query function) release nothing. Release waits for the
NEXT top-level query rather than running when this one returns,
because the DataFrame a query returns is lazy: it still reads the
pinned frame, the files in its temp dirs and the memory sink's rows
when the caller materializes it. So at most one query's local objects
are ever live, a failed query's leftovers go with the next query, and
a re-invocation of the same query recomputes from the parquet inputs
(no cross-run result caching). A query that allocated nothing pays one
empty-list check.

Session-lifetime objects — the catalog/dedup/index memos and the
replay-feed dirs memoized in ``streaming.replay`` — are deliberately
NOT query-local and stay outside this scope.
"""

from __future__ import annotations

import functools
import logging
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)
_RELEASE: list[Callable[[], object]] = []
_DEPTH = 0


def pin_local(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) until the next top-level query."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _RELEASE.append(df.unpersist)
    return df


def temp_dir(prefix: str) -> str:
    """A fresh temp directory, removed at the next top-level query."""
    d = tempfile.mkdtemp(prefix=prefix)
    _RELEASE.append(functools.partial(shutil.rmtree, d, ignore_errors=True))
    return d


def on_release(action: Callable[[], object]) -> None:
    """Run ``action`` at the next top-level query."""
    _RELEASE.append(action)


def release() -> None:
    """Run (and forget) every recorded release action, newest first.
    A failed action (say, on a session stopped since) must not stop
    the others or the query being entered."""
    while _RELEASE:
        try:
            _RELEASE.pop()()
        except Exception:
            _LOG.debug("query-scope release action failed", exc_info=True)


def enter_query() -> None:
    """Query entry: a TOP-LEVEL entry releases the previous query's
    local objects; nested entries leave them alone."""
    global _DEPTH
    if _DEPTH == 0:
        release()
    _DEPTH += 1


def leave_query() -> None:
    global _DEPTH
    _DEPTH = max(0, _DEPTH - 1)
