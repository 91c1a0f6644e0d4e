"""The program under test, as the benchmark starts, restarts and stops it.

Set-up is what a user pays before the first query can run:
``session.get_spark`` + ``registry.load_all`` + one trivial job. The
first set-up in a process also launches the JVM; later ones stop the
SparkContext, drop the package from ``sys.modules`` and do all three
again, so ``load_all`` really re-imports every query module.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import time
from contextlib import nullcontext

PACKAGE = "history_collector_spark"


def _no_span(name):
    return nullcontext()


class Program:
    def __init__(self, cpus: int, work_dir: str, tracer=None):
        self.cpus = cpus
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None
        self.session = self.registry = self.catalog = self.pinning = None

    def _import(self) -> None:
        self.session = importlib.import_module(f"{PACKAGE}.session")
        self.registry = importlib.import_module(f"{PACKAGE}.registry")
        self.catalog = importlib.import_module(f"{PACKAGE}.catalog")
        self.pinning = importlib.import_module(f"{PACKAGE}.pinning")
        if self.tracer is not None:
            # before load_all: query modules bind these names at import
            self.tracer.wrap_modules(self.catalog, self.pinning)

    def start(self) -> dict[str, float]:
        """One set-up; returns the seconds spent in each step."""
        span = self.tracer.span if self.tracer is not None else _no_span
        t0 = time.perf_counter()
        self._import()
        with span("session.get_spark"):
            self.spark = self.session.get_spark(
                app_name="perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                    # keep the JVM's temp files, derby home and perf-data
                    # file out of /tmp
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                        f"-Dderby.system.home={self.work_dir} -XX:-UsePerfData"
                    ),
                },
            )
        t1 = time.perf_counter()
        with span("registry.load_all"):
            self.registry.load_all()
        t2 = time.perf_counter()
        self.spark.range(8).count()
        t3 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.attach(self.spark)
        return {"setup_s": t3 - t0, "get_spark_s": t1 - t0, "load_all_s": t2 - t1}

    def restart(self) -> dict[str, float]:
        self.spark.stop()
        for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[name]
        return self.start()

    def java_pid(self) -> int | None:
        gateway = self.spark.sparkContext._gateway if self.spark is not None else None
        proc = getattr(gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launched JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
