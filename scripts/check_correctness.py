"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash. Each OK / FAIL line ends with the
gate's Spark seconds (construction plus collect) and DuckDB seconds.
Usage:

    python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def value_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append("\x1f".join(_norm(v) for v in tup))
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from geobuf_cpp_spark.session import get_spark

    spark = get_spark("correctness", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            got = fn(spark, sf_dir)
            got_pdf = got.toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}  "
                  f"[spark {time.perf_counter() - t0:.2f}s]")
            failures += 1
            continue
        spark_s = time.perf_counter() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(got_pdf)} rows (no oracle)")
            continue
        t0 = time.perf_counter()
        try:
            exp_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {ex}  "
                  f"[spark {spark_s:.2f}s]")
            failures += 1
            continue
        secs = f"[spark {spark_s:.2f}s duckdb {time.perf_counter() - t0:.2f}s]"
        problems = []
        if sorted(got_pdf.columns) != sorted(exp_pdf.columns):
            problems.append(
                f"columns {sorted(got_pdf.columns)} != {sorted(exp_pdf.columns)}"
            )
        if len(got_pdf) != len(exp_pdf):
            problems.append(f"rows {len(got_pdf)} != {len(exp_pdf)}")
        if not problems and value_hash(got_pdf) != value_hash(exp_pdf):
            problems.append("value hash mismatch")
            # show a diff sample
            merged = got_pdf.merge(
                exp_pdf, how="outer", indicator=True,
                on=list(sorted(set(got_pdf.columns) & set(exp_pdf.columns))),
            )
            diff = merged[merged["_merge"] != "both"]
            if not diff.empty:
                problems.append("sample diff:\n" + diff.head(6).to_string())
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems) + f"  {secs}")
        else:
            print(f"OK    {name}: {len(got_pdf)} rows match  {secs}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
