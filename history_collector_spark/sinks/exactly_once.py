"""Exactly-once dual-table sink — S5-S8 + S11 of SURVEY.md §2.1.

The reference's commit protocol (python/adapters/hc_storage_adapter.py:
47-59) is save = write payments + write creations + advance the
`lastfile` checkpoint, all-or-nothing; Postgres does it in one
transaction (python/adapters/postgres_storage_adapter.py:48-51), S3
writes data then a completion marker then last_file, with rollback
deleting partial objects (python/adapters/s3_storage_adapter.py:64-108).

Spark translation: an idempotent ``foreachBatch`` writer. Each batch
(keyed by its monotonically increasing batch/epoch id) writes both
tables into epoch-scoped partition directories with dynamic partition
overwrite — a replay of the same epoch overwrites its own output
instead of duplicating it — and then commits the `lastfile` marker.
Ordering guarantees: data first, marker last, so a crash between the
two leaves a re-runnable epoch, never a committed-but-missing one
(readers trust the marker, mirroring the reference's completion-marker
design).

One evaluation per epoch: ``write_epoch`` persists the epoch_id-stamped
batch for the epoch's own lifetime, so both tables' emptiness checks
and writes read the cache instead of re-running the file scan and the
XDR decode once each; it is unpersisted before the marker commits, also
when a write raises. The dynamic overwrite mode is a per-write option
(it takes precedence over the session conf), so the sink leaves the
session's ``partitionOverwriteMode`` as it found it.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from history_collector_spark.schemas import enforce_nullability, payments_schema


def write_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    targets: dict[str, str],
    write: Callable[[DataFrame, str], None],
) -> None:
    """Split one epoch's `type`-tagged rows into their tables, evaluating
    the batch once: ``write(rows, targets[kind])`` per non-empty kind.

    The epoch_id-stamped batch stays persisted only while this call
    runs; empty kinds write nothing, since empty batches still advance
    the checkpoint but write no files
    (python/tests/test_postgres_storage_adapter.py:230-251)."""
    tagged = batch_df.withColumn("epoch_id", F.lit(epoch_id)).persist()
    try:
        for kind, target in targets.items():
            rows = tagged.filter(F.col("type") == kind).drop("type")
            if not rows.isEmpty():
                write(rows, target)
    finally:
        tagged.unpersist()


class ExactlyOnceDualSink:
    """Dual-table epoch-partitioned sink with marker-based commit."""

    def __init__(self, base_dir: str, fmt: str = "parquet"):
        self.base_dir = base_dir
        self.fmt = fmt
        self.payments_dir = os.path.join(base_dir, "payments")
        self.creations_dir = os.path.join(base_dir, "creations")
        self.marker_path = os.path.join(base_dir, "last_file")

    # -- checkpoint (S8) ----------------------------------------------------
    def last_committed(self) -> int | None:
        """Highest committed epoch, or None before the first commit."""
        if not os.path.exists(self.marker_path):
            return None
        with open(self.marker_path) as f:
            return json.load(f)["epoch_id"]

    def _commit(self, epoch_id: int, extra: dict | None = None) -> None:
        # atomic rename = the transactional point (one marker, one move)
        payload = {"epoch_id": epoch_id, **(extra or {})}
        fd, tmp = tempfile.mkstemp(dir=self.base_dir)
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self.marker_path)

    # -- the foreachBatch body (S7) -----------------------------------------
    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Idempotent: replaying an epoch rewrites its own partitions.

        `batch_df` carries the unioned `type`-tagged rows (E4); the two
        tables split here, mirroring save(payments, creations, file)
        (python/adapters/hc_storage_adapter.py:47-59).
        """
        committed = self.last_committed()
        if committed is not None and epoch_id <= committed:
            return  # already fully committed — replay is a no-op
        write_epoch(
            batch_df,
            epoch_id,
            {"payment": self.payments_dir, "creation": self.creations_dir},
            self._write_rows,
        )
        self._commit(epoch_id)

    def _write_rows(self, rows: DataFrame, out_dir: str) -> None:
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .format(self.fmt)
            .save(out_dir)
        )

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write_batch(batch_df, epoch_id)


class PartitionedCsvSink:
    """S6: one CSV directory per ledger partition, headerless, empty
    batches skipped (python/adapters/s3_storage_adapter.py:194-221)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def write(self, df: DataFrame, partition_col: str = "ledger") -> None:
        if df.isEmpty():
            return
        (
            df.write.mode("append")
            .partitionBy(partition_col)
            .option("header", "false")
            .csv(self.base_dir)
        )


def get_storage_sink(base_dir: str, conf: dict | None = None):
    """S11: sink dispatch — exactly one of parquet XOR csv, both-or-
    neither is an error (python/main.py:369-390)."""
    conf = conf if conf is not None else dict(os.environ)
    use_parquet = conf.get("HCS_SINK_PARQUET", "").lower() in ("1", "true")
    use_csv = conf.get("HCS_SINK_CSV", "").lower() in ("1", "true")
    if use_parquet == use_csv:
        raise ValueError(
            "configure exactly one sink: HCS_SINK_PARQUET or HCS_SINK_CSV"
        )
    if use_parquet:
        return ExactlyOnceDualSink(base_dir, fmt="parquet")
    return PartitionedCsvSink(base_dir)


def validated(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Nullability gate on the payments schema before the sink — what
    Postgres constraints enforced for the reference."""
    return enforce_nullability(df, payments_schema())
