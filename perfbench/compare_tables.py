"""Check that ``gen.make_tables`` rebuilds a directory of sf0.01 tables.

    python3 perfbench/compare_tables.py <dir with the ten sf0.01 parquet files>

Generates the tables with seed 42, as ``query_mix_small`` does, and compares
each with ``<dir>/<table>.parquet``: schema, row count and every value.
Prints one line per table and exits 1 if any table differs.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen  # noqa: E402


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    differ = 0
    for name, made in gen.make_tables(np.random.default_rng(42)).items():
        given = pq.read_table(Path(sys.argv[1]) / f"{name}.parquet")
        if not given.schema.equals(made.schema):
            verdict = f"schema differs: {given.schema} vs {made.schema}"
        elif given.num_rows != made.num_rows:
            verdict = f"{given.num_rows} rows given, {made.num_rows} generated"
        else:
            cols = [c for c in given.column_names if not given.column(c).equals(made.column(c))]
            verdict = f"values differ in {cols}" if cols else "identical"
        differ += verdict != "identical"
        print(f"{name:<11} {given.num_rows:>6} rows  {verdict}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
