"""Seeded input generators: the parquet tables and the XDR ledger archive.

Everything here runs before any timing starts and writes plain files; the
program under test only ever sees those files.

``make_tables(np.random.default_rng(42))`` rebuilds the sf0.01 test tables
described in TESTDATA.md, which live outside the repository, value for
value: the same ten tables, columns, types and row counts, drawn from one
seed-42 numpy ``Generator`` in the same order and with the same category
lists. ``compare_tables.py`` checks that against a copy of those tables.

Ledgers are real RFC 4506 ``transactions-<seq>.xdr.gz`` files built with
``xdr_codec.build_*``; the generator returns the KIN payment / creation
rows the ingest must commit, computed independently of the decoder.
"""

from __future__ import annotations

import hashlib
import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Parquet tables
# --------------------------------------------------------------------------

# Row counts at sf0.01.
ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
USERS = 150  # distinct events.user_id
NEAR_DUPLICATES = 25  # documents that are another document plus " dup"

# Category lists in draw order: a category's index is what the generator draws.
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_ORDER_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()

_DAY_US = 86_400 * 1_000_000


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    """Midnights drawn uniformly from ``first`` to ``last`` inclusive."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    d = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array(np.datetime64(first, "us") + d * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """The ten tables; every draw is from ``rng``, in this order."""
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_li, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj, noun = _pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, _ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": _money(rng, n_li, 0.0, 0.1),
            "l_tax": _money(rng, n_li, 0.0, 0.08),
            "l_returnflag": _pick(rng, _RETURN_FLAGS, n_li),
            "l_linestatus": _pick(rng, _LINE_STATUS, n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    # seconds into a 30-day month, through nanoseconds, truncated to us
    ev_s = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ev_ts = np.datetime64("2024-01-01", "ns") + (ev_s * 1e9).astype("timedelta64[ns]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, ROWS["documents"])
    t["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents of 10-99 words. Then ``NEAR_DUPLICATES``
    distinct documents, one after the other, are replaced by a copy of a
    random document (as it is at that moment) plus a trailing ``dup``
    token, so the dedup and similarity queries find real near-duplicate
    pairs, and a copy can itself be copied."""
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    targets = rng.choice(n, NEAR_DUPLICATES, replace=False)
    for i, j in zip(targets, rng.integers(0, n, NEAR_DUPLICATES)):
        texts[i] = texts[j] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, _LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dims: int = 64, labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors and uniform labels that carry no signal."""
    v = rng.standard_normal((n, dims)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, labels, n), pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten tables as single-row-group parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(np.random.default_rng(seed)).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir


# --------------------------------------------------------------------------
# XDR ledger archive
# --------------------------------------------------------------------------

KIN_CODE = "KIN"


@dataclass
class LedgerFile:
    file_seq: str
    path: str
    rows: list[tuple]  # expected (type, tx hash, op index, destination, amount)


def _key(rng) -> bytes:
    return rng.integers(0, 256, 32, dtype=np.uint8).tobytes()


class LedgerWriter:
    """Writes consecutive 64-ledger transaction archives, one per call.

    Per ledger the seed draws the tx count (0-6); per tx 1-5 operations,
    each a creation (25%) or a payment, a payment's asset KIN (60%),
    native or another code, and a memo that is empty, free text or an
    app-id memo ``1-<app>-...``. Each file carries the KIN payments and
    creations the ingest must commit."""

    def __init__(self, seed: int, kin_issuer: bytes, network_passphrase: str, first_seq: int = 0x7F):
        from history_collector_spark.sources import xdr_codec

        self.xc = xdr_codec
        self.rng = np.random.default_rng(seed)
        self.net = xdr_codec.network_id(network_passphrase)
        self.kin_issuer = kin_issuer
        self.accounts = [_key(self.rng) for _ in range(64)]
        self.other_issuer = _key(self.rng)
        self.next_seq = first_seq

    def _account(self) -> bytes:
        return self.accounts[int(self.rng.integers(0, len(self.accounts)))]

    def _transaction(self, rows: list[tuple]) -> bytes:
        xc, rng = self.xc, self.rng
        ops, op_rows = [], []
        for op_index in range(int(rng.integers(1, 6))):
            dest, amount = self._account(), int(rng.integers(1, 10**9))
            if rng.random() < 0.25:
                ops.append(xc.build_operation(xc.OP_CREATE_ACCOUNT, dest, amount))
                op_rows.append(("creation", op_index, dest.hex(), amount))
                continue
            r = rng.random()
            if r < 0.6:
                ops.append(xc.build_operation(xc.OP_PAYMENT, dest, amount, KIN_CODE, self.kin_issuer))
                op_rows.append(("payment", op_index, dest.hex(), amount))
            elif r < 0.8:
                ops.append(xc.build_operation(xc.OP_PAYMENT, dest, amount))
            else:
                ops.append(xc.build_operation(xc.OP_PAYMENT, dest, amount, "USD", self.other_issuer))
        m = rng.random()
        memo = (
            None if m < 0.4
            else f"1-ap{int(rng.integers(0, 10))}x-{int(rng.integers(0, 10**6))}" if m < 0.8
            else f"note {int(rng.integers(0, 10**6))}"
        )
        tx = xc.build_transaction(self._account(), 100 * len(ops), int(rng.integers(1, 2**40)), memo, ops)
        h = hashlib.sha256(self.net + struct.pack(">I", xc.ENVELOPE_TYPE_TX) + tx).hexdigest()
        rows.extend((kind, h, i, d, a) for kind, i, d, a in op_rows)
        return xc.build_envelope(tx)

    def write(self, out_dir: str) -> LedgerFile:
        from history_collector_spark.sources.xdr import write_xdr_archive_file

        file_seq = format(self.next_seq, "08x")
        self.next_seq += 64
        records, rows = [], []
        for ledger in range(int(file_seq, 16) - 63, int(file_seq, 16) + 1):
            envelopes = [self._transaction(rows) for _ in range(int(self.rng.integers(0, 7)))]
            records.append(self.xc.build_transaction_entry(ledger, envelopes))
        path = write_xdr_archive_file(out_dir, "transactions", file_seq, records)
        return LedgerFile(file_seq, path, rows)
