"""Command-line surface: `python -m history_collector_spark <cmd>`.

The reference is operated as `python main.py` (the ingest loop,
python/main.py:254-309) plus ad-hoc SQL through its sample query app
(sample/main.py); this module is the equivalent operational
doorway for the Spark engine:

    list                      enumerate every registered query
    query NAME [--sf-dir D]   run one registered query, print rows
    oracle NAME               print the DuckDB oracle SQL (if any)
    explain NAME [--sf-dir D] print the formatted physical plan
    parity NAME [--sf-dir D]  run query + oracle, assert driver-hash
                              parity (round-6-then-exact; PARITY.md)
    ingest --landing D --out D --checkpoint D --kin-issuer HEX [--poll]
                              run the exactly-once file-stream ingest of
                              KIN payments and account creations

Everything routes through the same registry / session factory the
driver contract uses — the CLI adds no second code path.
"""

from __future__ import annotations

import argparse
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="history_collector_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=None)
    q.add_argument("--limit", type=int, default=20)

    o = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    o.add_argument("name")

    e = sub.add_parser("explain", help="print a query's physical plan")
    e.add_argument("name")
    e.add_argument("--sf-dir", default=None)

    pr = sub.add_parser(
        "parity", help="check a query against its oracle at driver-hash strictness"
    )
    pr.add_argument("name")
    pr.add_argument("--sf-dir", default=None)

    i = sub.add_parser("ingest", help="run the exactly-once file-stream ingest")
    i.add_argument("--landing", required=True)
    i.add_argument("--checkpoint", required=True)
    i.add_argument("--out", required=True)
    i.add_argument(
        "--kin-issuer",
        required=True,
        type=lambda s: bytes.fromhex(s).hex(),
        help="hex ed25519 key of the KIN asset issuer (the reference's KIN_ISSUER)",
    )
    i.add_argument(
        "--poll",
        action="store_true",
        help="keep polling for new files (default: AvailableNow backfill)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    from history_collector_spark import registry
    from history_collector_spark.catalog import DEFAULT_SF_DIR
    from history_collector_spark.session import get_spark

    args = _build_parser().parse_args(argv)
    registry.load_all()

    if args.cmd == "list":
        for name in registry.QUERIES:
            tag = "oracle" if name in registry.ORACLES else "rows-only"
            print(f"{name}\t{tag}")
        return 0

    if args.cmd == "oracle":
        sql = registry.ORACLES.get(args.name)
        if sql is None:
            print(f"no oracle for {args.name!r}", file=sys.stderr)
            return 1
        print(sql.strip())
        return 0

    if args.cmd in ("query", "explain"):
        if args.name not in registry.QUERIES:
            print(f"unknown query {args.name!r} (see `list`)", file=sys.stderr)
            return 1
        spark = get_spark(app_name=f"hcs-cli-{args.cmd}")
        sf_dir = args.sf_dir or DEFAULT_SF_DIR
        df = registry.QUERIES[args.name](spark, sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "parity":
        import duckdb

        if args.name not in registry.ORACLES:
            print(f"no oracle for {args.name!r} (rows-only)", file=sys.stderr)
            return 1
        try:
            from tests.oracle_compare import assert_frames_match
        except ImportError:
            print("parity needs the repo checkout (tests/ on sys.path)",
                  file=sys.stderr)
            return 1

        spark = get_spark(app_name="hcs-cli-parity")
        sf_dir = args.sf_dir or DEFAULT_SF_DIR
        sdf = registry.QUERIES[args.name](spark, sf_dir).toPandas()
        con = duckdb.connect()
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        try:
            assert_frames_match(
                sdf, con.sql(registry.ORACLES[args.name]).df(),
                name=args.name, mode="parity",
            )
        except AssertionError as exc:
            print(f"PARITY RED: {exc}", file=sys.stderr)
            return 1
        print(f"PARITY OK: {args.name} ({len(sdf)} rows)")
        return 0

    if args.cmd == "ingest":
        from history_collector_spark.sinks.exactly_once import (
            ExactlyOnceDualSink,
        )
        from history_collector_spark.streaming.ingest import (
            kin_operations,
            start_ingest,
        )

        spark = get_spark(app_name="hcs-cli-ingest")
        os.makedirs(args.out, exist_ok=True)
        sink = ExactlyOnceDualSink(args.out)
        q = start_ingest(
            spark,
            landing_dir=args.landing,
            checkpoint_dir=args.checkpoint,
            batch_fn=sink.write_batch,
            available_now=not args.poll,
            transform=kin_operations(args.kin_issuer),
        )
        q.awaitTermination()
        return 0

    return 1  # pragma: no cover


if __name__ == "__main__":
    raise SystemExit(main())
