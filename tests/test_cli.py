"""CLI surface smoke tests (list/oracle need no Spark session; query
routes through the same registry the driver uses)."""

from __future__ import annotations

from history_collector_spark.__main__ import main


def test_cli_list_enumerates_registry(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) > 200
    names = {l.split("\t")[0] for l in out}
    assert {"account_history", "pipeline_parity", "tpch_q19_disjunctive"} <= names


def test_cli_oracle_prints_sql(capsys):
    assert main(["oracle", "point_lookup"]) == 0
    assert "o_orderkey = 7" in capsys.readouterr().out


def test_cli_oracle_missing_is_error(capsys):
    # embedding_whitening_audit is the one permanent rows-only query
    # (LAPACK eigh trajectories are not SQL-replayable); round 15
    # oracle-ized bpe_encode_corpus so it no longer fits here
    assert main(["oracle", "embedding_whitening_audit"]) == 1
    assert main(["oracle", "does_not_exist"]) == 1


def test_cli_parity_green_and_rows_only_error(capsys, monkeypatch):
    from tests.conftest import TEST_SF_DIR

    # rows-only query has no oracle -> error before any Spark work
    assert main(["parity", "embedding_whitening_audit"]) == 1
    # oracle-bearing query runs the round-6-then-exact gate end to end
    assert main(["parity", "scalar_pack", "--sf-dir", TEST_SF_DIR]) == 0
    assert "PARITY OK: scalar_pack" in capsys.readouterr().out


def test_cli_ingest_commits_kin_payments_and_creations(tmp_path):
    """`ingest` over one real XDR archive file: the KIN payment from the
    issuer and the account creation are committed; a native payment and
    a payment in another asset are filtered out."""
    import hashlib
    import struct

    from history_collector_spark.session import get_spark
    from history_collector_spark.sources import xdr_codec as xc
    from history_collector_spark.sources.xdr import (
        DEFAULT_NETWORK_PASSPHRASE,
        write_xdr_archive_file,
    )

    src, dst, issuer = bytes(range(32)), bytes(range(32, 64)), bytes(range(64, 96))
    ops = [
        xc.build_operation(xc.OP_PAYMENT, dst, 1500, "KIN", issuer),
        xc.build_operation(xc.OP_PAYMENT, dst, 7),  # native asset
        xc.build_operation(xc.OP_PAYMENT, dst, 9, "USD", issuer),
        xc.build_operation(xc.OP_CREATE_ACCOUNT, dst, 10_000),
    ]
    tx = xc.build_transaction(src, 400, 42, "1-anon-test", ops)
    tx_hash = hashlib.sha256(
        xc.network_id(DEFAULT_NETWORK_PASSPHRASE)
        + struct.pack(">I", xc.ENVELOPE_TYPE_TX)
        + tx
    ).hexdigest()
    landing = str(tmp_path / "landing")
    write_xdr_archive_file(
        landing, "transactions", "0000007f",
        [xc.build_transaction_entry(127, [xc.build_envelope(tx)])],
    )
    out = str(tmp_path / "out")
    assert main([
        "ingest", "--landing", landing, "--out", out,
        "--checkpoint", str(tmp_path / "ckpt"), "--kin-issuer", issuer.hex(),
    ]) == 0

    spark = get_spark()
    cols = ["epoch_id", "file_seq", "ledger_seq", "hash", "operation_index",
            "source", "destination", "amount", "memo_text", "fee"]
    pays = [tuple(r) for r in spark.read.parquet(f"{out}/payments").select(cols).collect()]
    made = [tuple(r) for r in spark.read.parquet(f"{out}/creations").select(cols).collect()]
    row = (0, "0000007f", 127, tx_hash)
    tail = (src.hex(), dst.hex())
    assert pays == [row + (0,) + tail + (1500, "1-anon-test", 400)]
    assert made == [row + (3,) + tail + (10_000, "1-anon-test", 400)]
    with open(f"{out}/last_file") as f:
        assert '"epoch_id": 0' in f.read()
