"""The two workloads. Each is a closed loop with one client.

``query_mix_small`` runs one untimed pass first: it computes every
query's result, compares it with the DuckDB oracle in
``registry.ORACLES`` and so also lets session memos fill and the JVM warm
up. The timed passes then repeat the whole list, in a seed-shuffled
order, until ``seconds`` have passed; one operation is one query: its
``registry.QUERIES[name]`` call plus a noop write of the returned frame.

``ledger_ingest`` lands newly generated 64-ledger files in rounds; each
round restarts ``start_ingest`` from the same checkpoint and drains the
new files into ``ExactlyOnceDualSink``. One operation is one micro-batch
(one file); the work a round completes is the operation rows it commits.
"""

from __future__ import annotations

import glob
import gzip
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import gen

KIN_ISSUER = bytes(range(32))
TABLE_SEED = 42
NETWORK_PASSPHRASE = "Test SDF Network ; September 2015"


@dataclass
class Window:
    """What one measured window produced."""

    op_s: list[float] = field(default_factory=list)
    op_kind: list[str] = field(default_factory=list)  # query name, or "batch"
    traced: list[bool] = field(default_factory=list)  # whether each op was traced
    wall_s: float = 0.0  # time in operations, failed ones too
    done: int = 0  # queries completed, or operation rows committed
    attempted: int = 0
    errors: list[str] = field(default_factory=list)  # one per failed operation
    layer: dict[str, float] = field(default_factory=dict)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Leaks:
    """What a pass leaves behind: ``hc_*`` temp dirs, temp views and
    memory tables, and streaming queries still running."""

    def __init__(self, prog):
        self.prog = prog
        self.per_pass: list[tuple[int, int, int]] = []

    def _state(self):
        spark = self.prog.spark
        dirs = set(glob.glob(os.path.join(os.environ["TMPDIR"], "hc_*")))
        views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        return dirs, views

    def start(self):
        self._before = self._state()

    def stop(self) -> None:
        """Count what the pass leaked; stop streams it left running.
        Leaked dirs and views are kept until the run ends: a session memo
        may still read them."""
        dirs, views = self._state()
        streams = self.prog.spark.streams.active
        self.per_pass.append(
            (len(dirs - self._before[0]), len(views - self._before[1]), len(streams))
        )
        for q in streams:
            q.stop()

    def layer(self) -> dict[str, float]:
        return {
            "registry.leaked_tmp_dirs": _mean(p[0] for p in self.per_pass),
            "registry.leaked_views": _mean(p[1] for p in self.per_pass),
            "registry.active_streams": _mean(p[2] for p in self.per_pass),
        }


def _trace_next(tracer, unit: int) -> bool:
    """Whether pass or round ``unit`` of a traced run is traced: every
    second one. Switches the tracer (wrappers, listener) on or off."""
    if tracer is None:
        return False
    traced = unit % 2 == 1
    if traced:
        tracer.enable()
    else:
        tracer.disable()
    return traced


def streaming_layer(progress: list[dict], batch_jobs: float) -> dict[str, float]:
    """Per-batch medians of the progress events' ``durationMs`` phases."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def phase(key):
        return _median(p["durationMs"].get(key, 0) for p in batches)

    def state(key):
        return _median(sum(op.get(key, 0) for op in p.get("stateOperators", [])) for p in batches)

    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.jobs_per_batch": batch_jobs / len(batches) if batches else 0.0,
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_memory_mb": state("memoryUsedBytes") / 2**20,
    }


# --------------------------------------------------------------------------
# Query workloads
# --------------------------------------------------------------------------


class QueryWorkload:
    """Queries over the generated sf0.01 tables."""

    # With fewer passes the ten samples above op_tail_s's percentile would
    # not all come from the heaviest queries, and the tail would jump to a
    # cheaper query whenever a run fits one pass less.
    MIN_PASSES = 5

    def __init__(self, queries: tuple[str, ...]):
        self.queries = queries

    def prepare(self, work_dir: str, seed: int) -> None:
        # The tables are the same in every run: the sf0.01 test tables the
        # queries are verified on. The seed sets the order of each pass.
        self.sf_dir = gen.write_tables(os.path.join(work_dir, "tables"), TABLE_SEED)

    def warmup(self, prog) -> tuple[int, list[str]]:
        """Untimed pass: every query's result against its DuckDB oracle."""
        import duckdb

        from tests.oracle_compare import assert_frames_match

        errors = []
        with duckdb.connect() as con:
            for t in prog.catalog.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name in self.queries:
                try:
                    got = prog.registry.QUERIES[name](prog.spark, self.sf_dir).toPandas()
                    assert_frames_match(got, con.sql(prog.registry.ORACLES[name]).df(), name=name)
                except Exception as e:  # a wrong or failed query is a counted failure
                    errors.append(f"{name}: check failed: {str(e)[:300]}")
        return len(self.queries), errors

    def window(self, prog, seconds: float, seed: int, tracer=None) -> Window:
        """Passes until ``seconds`` have passed. With a tracer, untraced and
        traced passes alternate, twice as many in all."""
        w = Window()
        leaks = Leaks(prog)
        records: list[dict] = []
        order = list(self.queries)
        rng = random.Random(seed)
        passes = 0
        min_passes = self.MIN_PASSES * (2 if tracer else 1)
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or passes < min_passes:
            traced = _trace_next(tracer, passes)
            passes += 1
            rng.shuffle(order)
            leaks.start()
            for name in order:
                w.attempted += 1
                t0 = time.perf_counter()
                try:
                    rec = self._op(prog, name, tracer if traced else None)
                except Exception as e:
                    w.errors.append(f"{name}: raised: {str(e)[:300]}")
                    continue
                finally:
                    w.wall_s += time.perf_counter() - t0
                w.op_s.append(rec["op_s"])
                w.op_kind.append(name)
                w.traced.append(traced)
                w.done += 1
                if traced:
                    records.append(rec)
            leaks.stop()
        if tracer:
            w.layer.update(leaks.layer())
            w.layer.update(self._layer(records))
        return w

    def check(self, prog) -> tuple[int, list[str]]:
        return 0, []  # checked in the warm-up pass

    def _op(self, prog, name: str, tracer) -> dict:
        fn, spark = prog.registry.QUERIES[name], prog.spark
        if tracer is None:
            t0 = time.perf_counter()
            df = fn(spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return {"op_s": time.perf_counter() - t0}
        totals0 = dict(tracer.totals)
        jobs0 = tracer.job_mark()
        t0 = time.perf_counter()
        with tracer.span("op", query=name):
            with tracer.span("queries.build"):
                df = fn(spark, self.sf_dir)
            t1 = time.perf_counter()
            jobs1 = tracer.job_mark()
            t2 = time.perf_counter()
            with tracer.span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        jobs2 = tracer.job_mark()
        rec = {"op_s": t3 - t0, "build_s": t1 - t0, "execute_s": t3 - t2}
        rec["build_jobs"] = jobs1 - jobs0
        rec.update(tracer.job_metrics(range(jobs0, jobs2)))
        rec.update({k: v - totals0[k] for k, v in tracer.totals.items()})
        return rec

    @staticmethod
    def _layer(records: list[dict]) -> dict[str, float]:
        """Means per operation."""
        layer = {
            "catalog.table_calls": "catalog.table_calls",
            "catalog.table_s": "catalog.table_s",
            "pinning.pins": "pinning.pins",
            "queries.build_s": "build_s",
            "queries.build_jobs": "build_jobs",
            "queries.execute_s": "execute_s",
            **{f"queries.{k}": k for k in (
                "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "gc_s")},
        }
        layer = {name: _mean(r[key] for r in records) for name, key in layer.items()}
        layer["queries.run_minus_cpu_s"] = layer["queries.executor_run_s"] - layer["queries.executor_cpu_s"]
        return layer


# --------------------------------------------------------------------------
# ledger_ingest
# --------------------------------------------------------------------------


def typed_rows(kin_issuer_hex: str):
    """Decoded entries -> one typed row per KIN payment or account
    creation, the rows ``ExactlyOnceDualSink`` splits on ``type``.

    This is the explode of the streaming tests plus the reference's
    filter: payments in KIN from the KIN issuer, and every creation."""
    from pyspark.sql import functions as F

    def transform(entries):
        txs = entries.select("file_seq", "ledger_seq", F.explode("txs").alias("tx"))
        ops = txs.select(
            "file_seq",
            "ledger_seq",
            F.col("tx.hash").alias("hash"),
            F.col("tx.memo").alias("memo_text"),
            F.col("tx.fee").alias("fee"),
            F.col("tx.source").alias("tx_source"),
            F.posexplode("tx.operations").alias("operation_index", "op"),
        )
        kin = (
            (F.col("op.type") == 1)
            & (F.col("op.asset.assetCode") == gen.KIN_CODE)
            & (F.col("op.asset.issuer") == kin_issuer_hex)
        )
        return ops.filter(kin | (F.col("op.type") == 0)).select(
            F.when(F.col("op.type") == 1, "payment").otherwise("creation").alias("type"),
            "file_seq",
            "ledger_seq",
            "hash",
            "operation_index",
            F.coalesce(F.try_element_at("op.sourceAccount", F.lit(1)), "tx_source").alias("source"),
            F.col("op.destination").alias("destination"),
            F.coalesce("op.amount", "op.starting_balance").alias("amount"),
            "memo_text",
            "fee",
        )

    return transform


class LedgerIngest:
    FILES_PER_ROUND = 4
    # The second round restarts the stream from its checkpoint; with one
    # round a slow host would time no restart and only four batches.
    MIN_ROUNDS = 2

    def prepare(self, work_dir: str, seed: int) -> None:
        self.dir = os.path.join(work_dir, "ledger")
        self.writer = gen.LedgerWriter(seed, KIN_ISSUER, NETWORK_PASSPHRASE)
        self.streams: list[dict] = []

    def _stream(self) -> dict:
        """A fresh landing dir, checkpoint and sink, fed in rounds."""
        from history_collector_spark.sinks.exactly_once import ExactlyOnceDualSink

        d = os.path.join(self.dir, f"stream{len(self.streams)}")
        s = {"landing": os.path.join(d, "landing"), "ckpt": os.path.join(d, "ckpt"),
             "sink": ExactlyOnceDualSink(os.path.join(d, "out")), "rounds": []}
        os.makedirs(s["landing"])
        os.makedirs(s["sink"].base_dir)
        self.streams.append(s)
        return s

    def _round(self, prog, s: dict, n_files: int, batch_fn):
        """Land ``n_files`` new files (generated here, before the clock
        starts) and drain them by restarting the ingest from the stream's
        checkpoint; returns (its batches, seconds, error or None)."""
        from history_collector_spark.streaming.ingest import start_ingest

        files = [self.writer.write(s["landing"]) for _ in range(n_files)]
        t0 = time.perf_counter()
        q, error = None, None
        try:
            q = start_ingest(
                prog.spark, s["landing"], s["ckpt"], batch_fn or s["sink"].write_batch,
                available_now=True, transform=typed_rows(KIN_ISSUER.hex()),
            )
            q.awaitTermination()
        except Exception as e:  # a failed round is a counted failure
            error = f"ingest round raised: {str(e)[:300]}"
        elapsed = time.perf_counter() - t0
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0] if q else []
        s["rounds"].append({"files": files, "epochs": [p["batchId"] for p in batches]})
        return batches, elapsed, error

    def warmup(self, prog) -> tuple[int, list[str]]:
        """An untimed one-file stream of its own, so the first timed batch
        does not pay for the first stream in the session; its output is
        checked with the others."""
        _, _, error = self._round(prog, self._stream(), 1, None)
        return 1, [error] if error else []

    def window(self, prog, seconds: float, seed: int, tracer=None) -> Window:
        w = Window()
        leaks = Leaks(prog)
        sink_records: list[dict] = []
        s = self._stream()
        batch_fn = self._traced_write(s["sink"], tracer, sink_records) if tracer else None
        n_progress = len(tracer.progress) if tracer else 0
        min_rounds = self.MIN_ROUNDS * (2 if tracer else 1)
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(s["rounds"]) < min_rounds:
            traced = _trace_next(tracer, len(s["rounds"]))
            leaks.start()
            w.attempted += self.FILES_PER_ROUND
            with tracer.span("ingest.round") if traced else nullcontext():
                batches, elapsed, error = self._round(
                    prog, s, self.FILES_PER_ROUND, batch_fn if traced else None
                )
            w.wall_s += elapsed
            leaks.stop()
            if error:
                w.errors.extend([error] * self.FILES_PER_ROUND)
                continue
            w.op_s.extend(p["durationMs"]["triggerExecution"] / 1e3 for p in batches)
            w.op_kind.extend("batch" for _ in batches)
            w.traced.extend(traced for _ in batches)
            w.done += sum(len(f.rows) for f in s["rounds"][-1]["files"])
        if tracer:
            tracer.enable()
            tracer.wait_events()  # the last round's progress events
            w.layer.update(leaks.layer())
            w.layer.update(
                streaming_layer(tracer.progress[n_progress:], sum(r["jobs"] for r in sink_records))
            )
            w.layer.update(self._sink_layer(s, sink_records))
            w.layer["sources.decode_mb_per_s"] = self._decode_rate(s, tracer)
        return w

    @staticmethod
    def _traced_write(sink, tracer, records: list[dict]):
        def write_batch(df, epoch_id):
            committed = sink.last_committed()
            jobs0 = tracer.job_mark()
            t0 = time.perf_counter()
            with tracer.span("sinks.write_batch", epoch=epoch_id):
                sink.write_batch(df, epoch_id)
            records.append({
                "epoch": epoch_id,
                "write_s": time.perf_counter() - t0,
                "skipped": committed is not None and epoch_id <= committed,
                "jobs": tracer.job_mark() - jobs0,
            })

        return write_batch

    def _sink_layer(self, s: dict, records: list[dict]) -> dict[str, float]:
        """Over the traced writes; bytes per row over every file written."""
        sink = s["sink"]
        rows = [r for v in _committed_rows(sink).values() for r in v]
        traced_epochs = {r["epoch"] for r in records}
        n_rows = sum(1 for r in rows if r[0] in traced_epochs)
        size = sum(
            os.path.getsize(p)
            for d in (sink.payments_dir, sink.creations_dir)
            for p in glob.glob(os.path.join(d, "*", "*.parquet"))
        )
        wall = sum(r["write_s"] for r in records)
        return {
            "sinks.write_batch_s": _median(r["write_s"] for r in records),
            "sinks.rows_committed": n_rows,
            "sinks.rows_per_s": n_rows / wall if wall else 0.0,
            "sinks.epochs_committed": sum(1 for r in records if not r["skipped"]),
            "sinks.epochs_skipped_on_replay": sum(1 for r in records if r["skipped"]),
            "sinks.bytes_per_row": size / len(rows) if rows else 0.0,
        }

    @staticmethod
    def _decode_rate(s: dict, tracer) -> float:
        """``xdr_codec.parse_transactions`` throughput over the stream's
        files, in MB of decompressed XDR per second, called in the driver."""
        from history_collector_spark.sources import xdr_codec

        total_bytes, total_s = 0, 0.0
        for f in (f for r in s["rounds"] for f in r["files"]):
            with open(f.path, "rb") as fh:
                payload = gzip.decompress(fh.read())
            t0 = time.perf_counter()
            with tracer.span("sources.parse_transactions", file=f.file_seq):
                xdr_codec.parse_transactions(
                    payload, with_hash=True, network_passphrase=NETWORK_PASSPHRASE
                )
            total_s += time.perf_counter() - t0
            total_bytes += len(payload)
        return total_bytes / 2**20 / total_s if total_s else 0.0

    def check(self, prog) -> tuple[int, list[str]]:
        """Per stream: committed rows equal the generator's ground truth,
        each restart round's epochs hold exactly that round's files, and
        no row is committed twice."""
        attempted, errors = 0, []
        for n, s in enumerate(self.streams):
            rows = _committed_rows(s["sink"])
            landed = [f for r in s["rounds"] for f in r["files"]]
            for kind in ("payment", "creation"):
                attempted += 1
                got = sorted(r[1:] for r in rows[kind])
                want = sorted(
                    (f.file_seq, h, i, d, a) for f in landed for (k, h, i, d, a) in f.rows if k == kind
                )
                if got != want:
                    errors.append(
                        f"stream {n} {kind}s: {len(got)} rows committed "
                        f"({len(got) - len(set(got))} duplicates), {len(want)} expected"
                    )
            files_of_epoch: dict[int, set[str]] = {}
            for r in rows["payment"] + rows["creation"]:
                files_of_epoch.setdefault(r[0], set()).add(r[1])
            for i, rnd in enumerate(s["rounds"]):
                attempted += 1
                seen = set().union(*(files_of_epoch.get(e, set()) for e in rnd["epochs"]))
                want = {f.file_seq for f in rnd["files"] if f.rows}
                if seen != want:
                    errors.append(
                        f"stream {n} round {i}: its epochs hold files {sorted(seen)}, "
                        f"expected {sorted(want)}"
                    )
        return attempted, errors


def _committed_rows(sink) -> dict[str, list[tuple]]:
    """(epoch_id, file_seq, hash, operation_index, destination, amount)
    per committed payment and creation, read straight from the files."""
    import pyarrow.dataset as ds

    cols = ["epoch_id", "file_seq", "hash", "operation_index", "destination", "amount"]
    out = {}
    for kind, path in (("payment", sink.payments_dir), ("creation", sink.creations_dir)):
        if not os.path.isdir(path):
            out[kind] = []
            continue
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
        out[kind] = list(zip(*(t.column(c).to_pylist() for c in cols)))
    return out


# --------------------------------------------------------------------------
# Workload table
# --------------------------------------------------------------------------

# Batch members of bench.py's HEADLINE set whose time is mostly fixed cost
# at sf0.01 (registry, catalog, plan build), none of them streaming.
# dedup_minhash_lsh reads a session memo and dedup_semantic pins a frame
# (the only pinning query under 2 s here). Of the candidates, these are the
# ones whose warm latency varied least between fresh JVMs on identical
# inputs; other queries of 1 s and more are left out so that a run fits
# five timed passes.
SMALL_MIX = (
    "trailing_hour_sum",
    "text_language_id",
    "embedding_quantize",
    "interval_coverage",
    "asof_join_last_signup",
    "dedup_minhash_lsh",
    "dedup_semantic",
)


def make(name: str):
    if name == "ledger_ingest":
        return LedgerIngest()
    if name == "query_mix_small":
        return QueryWorkload(SMALL_MIX)
    raise KeyError(name)


WORKLOADS = ("ledger_ingest", "query_mix_small")
