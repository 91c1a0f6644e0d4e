"""Tracing for the per-layer run (``--trace 1``).

All spans are recorded from the benchmark's side of each layer boundary:
wrappers around ``catalog.table`` and ``pinning.pin_local`` (installed
before ``registry.load_all`` imports the query modules, which bind those
names at import), a ``StreamingQueryListener``, job and stage deltas read
from the SparkContext status store (which works with the UI disabled),
and a timed wrapper of the sink's ``write_batch``. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        # running totals of the wrapped calls
        self.totals = {"catalog.table_calls": 0, "catalog.table_s": 0.0, "pinning.pins": 0}
        self._stack: list[int] = []
        self._spark = None
        self._listener = None

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)

    # -- module wrappers ----------------------------------------------------
    def wrap_modules(self, catalog, pinning) -> None:
        table, pin_local = catalog.table, pinning.pin_local

        def traced_table(spark, sf_dir, name):
            if not self.enabled:
                return table(spark, sf_dir, name)
            t0 = time.perf_counter()
            with self.span("catalog.table", table=name):
                df = table(spark, sf_dir, name)
            self.totals["catalog.table_calls"] += 1
            self.totals["catalog.table_s"] += time.perf_counter() - t0
            return df

        def traced_pin_local(df):
            if self.enabled:
                self.totals["pinning.pins"] += 1
            with self.span("pinning.pin_local"):
                return pin_local(df)

        catalog.table = traced_table
        pinning.pin_local = traced_pin_local

    # -- streaming progress -------------------------------------------------
    def attach(self, spark) -> None:
        """Bind to a (new) session; the listener is added by enable()."""
        self._spark = spark
        self._listener = None
        if self.enabled:
            self._add_listener()

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self._spark.streams.addListener(self._listener)

    def enable(self) -> None:
        self.enabled = True
        if self._spark is not None and self._listener is None:
            self.wait_events()  # so no earlier, untraced progress arrives
            self._add_listener()

    def disable(self) -> None:
        self.enabled = False
        if self._listener is not None:
            self.wait_events()
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    # -- jobs and stages ----------------------------------------------------
    def wait_events(self) -> None:
        """Let the listener bus deliver every pending event, so the status
        store (and the progress listener) see all finished work."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_mark(self) -> int:
        """Id of the next job Spark will start: jobs ``range(a, b)`` ran
        between two marks."""
        if not self.enabled:
            return 0
        self.wait_events()
        return self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def job_metrics(self, job_ids) -> dict[str, float]:
        """Sum the status-store metrics of ``job_ids`` (skipped stages,
        whose work an earlier job already did, are not counted)."""
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        to_list = sc._jvm.scala.collection.JavaConverters.seqAsJavaList
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s"), 0.0)
        stage_ids: set[int] = set()
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # a job the store no longer (or never) kept
                continue
            m["jobs"] += 1
            stage_ids.update(int(s) for s in to_list(job.stageIds()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numTasks()
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            m["spill_mb"] += st.diskBytesSpilled() / 2**20
            m["gc_s"] += st.jvmGcTime() / 1e3
        return m
