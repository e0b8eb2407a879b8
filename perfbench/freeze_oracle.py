"""Write the expected gate outputs from DuckDB, never from Spark.

Runs each frozen gate's ``oracle_sql()`` text on DuckDB over the tables in
``perfbench/data/<sf>`` and stores row count, column names and the
order-insensitive value hash in ``perfbench/expected/<sf>.json``. Re-run
after changing a gate list or a table copy:

    python3 perfbench/freeze_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from gatesets import GATES, SF, data_dir, expected_path, fingerprint  # noqa: E402


def main() -> int:
    oracles = entry.oracle_sql()
    for workload, gates in GATES.items():
        sf = SF[workload]
        con = duckdb.connect()
        for f in sorted(os.listdir(data_dir(sf))):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(data_dir(sf), f)}'")
        expected = {g: fingerprint(con.execute(oracles[g]).fetchdf()) for g in gates}
        with open(expected_path(sf), "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{sf}: {len(expected)} gates -> {expected_path(sf)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
