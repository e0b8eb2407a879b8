"""Round-6 optimization-internals tests: each test pins an operator
restructure from the optimization round to its round-5 semantics (the
gate contracts themselves are pinned by scripts/check_correctness.py)."""

from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"


def test_source_quality_ci_no_bigint_wrap_on_large_group(spark):
    """The Wilson-bound intermediate scale^2*(x*(n-x)+n) wraps BIGINT at
    n ~ 6.1e5 docs/source (worst case x = n/2); the decimal(38,0) path
    must return the exact integer parts there. n is synthesized via an
    aggregated frame, not 6e5 real rows: the arithmetic under test is
    the post-aggregation projection."""
    from geobuf_cpp_spark.operators.textstats import _wilson_parts, source_quality_ci

    # Drive the post-aggregation projection directly with synthesized
    # (n_docs, n_keep) rows (6e5 real docs would be slow), verifying
    # the emitted parts against pure-Python big ints.
    import math

    scale = 10_000
    for n, x in [(700_000, 350_000), (1_000_000, 999_999), (5, 3)]:
        arg = (scale * scale * (x * (n - x) + n)) // n
        root = math.isqrt(arg)
        lb_num = (x + 2) * scale - 2 * root
        lb_den = (n + 4) * scale
        # run the operator's own projection over a 1-row frame
        row = spark.createDataFrame(
            [("s", n, x)], "source string, n_docs long, n_keep long")
        out = _wilson_parts(row, "source", scale).collect()[0]
        assert (out.lb_num, out.lb_den) == (lb_num, lb_den), (n, x)

    # and end-to-end through the operator on a small real corpus the
    # old path also handled — the fix must not move small-group values
    docs = spark.createDataFrame(
        [(i, "src", "clean text " * 30) for i in range(8)],
        "doc_id long, source string, text string")
    out = source_quality_ci(docs).collect()
    assert len(out) == 1 and out[0].n_docs == 8


def test_source_quality_ci_out_of_range_quotient_raises(spark):
    """Past ~3e11 docs per source the Wilson quotient
    scale^2*(x*(n-x)+n) div n leaves BIGINT (here exactly
    10000000000100000000): the operator's projection must raise
    CAST_OVERFLOW, where a DECIMAL ``div`` wraps silently to
    -8446744073609551616 even in ANSI mode."""
    from geobuf_cpp_spark.operators.textstats import _wilson_parts

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    row = spark.createDataFrame([("s", 400_000_000_000, 200_000_000_000)],
                                "source string, n_docs long, n_keep long")
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        _wilson_parts(row, "source", 10_000).collect()


def test_knuth_hash_defined_at_bigint_boundaries(spark):
    """``sql_knuth_hash`` over the BIGINT extremes and the 31/32-bit
    edges: neither the ANSI Spark session nor DuckDB raises, and both
    equal the Python residue ((id mod 2^31) * KNUTH) mod 2^32."""
    import duckdb

    from geobuf_cpp_spark.operators.curation import sql_knuth_hash

    ids = [-2**63, -2**31 - 1, -1, 0, 2**31 - 1, 2**31, 2**63 - 1]
    want = {i: ((i % 2**31) * 2654435761) % 2**32 for i in ids}
    sql = sql_knuth_hash("id")

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["h"]
           for r in df.selectExpr("id", f"{sql} AS h").collect()}
    assert got == want

    con = duckdb.connect()
    values = ", ".join(f"(CAST({i} AS BIGINT))" for i in ids)
    got = dict(con.execute(
        f"SELECT id, {sql} AS h FROM (VALUES {values}) AS t(id)"
    ).fetchall())
    assert got == want


def test_ship_priority_revenue_at_the_bigint_boundary(spark):
    """The cents x basis-point revenue of ``SHIP_PRIORITY_SQL`` over
    one-row tables: a line whose rev_c4 product lies 207 below the BIGINT
    maximum comes back exactly from the ANSI Spark session and from
    DuckDB running the oracle text; one cent step (16 at this magnitude
    of a double) further, both engines raise on the multiply."""
    import duckdb
    from pyspark.errors import ArithmeticException

    import __spark_entry__ as E

    assert E.oracle_sql()["ship_priority"] == E.SHIP_PRIORITY_SQL
    inside, past = 970881267037344.8, 970881267037345.0
    # ROUND(price * 100) is exact: at this magnitude every double is an
    # integer; the discount factor is 100 - ROUND(0.05 * 100) = 95
    assert round(inside * 100) * 95 == 2**63 - 1 - 207
    assert round(past * 100) * 95 > 2**63 - 1

    def spark_rows(price):
        s = spark.newSession()  # its own temp views
        s.createDataFrame([(1, price, 0.05)], "l_orderkey long, "
                          "l_extendedprice double, l_discount double"
                          ).createOrReplaceTempView("lineitem")
        s.createDataFrame([(1, 7, "1-URGENT")], "o_orderkey long, "
                          "o_custkey long, o_orderpriority string"
                          ).createOrReplaceTempView("orders")
        s.createDataFrame([(7, "BUILDING")], "c_custkey long, "
                          "c_mktsegment string"
                          ).createOrReplaceTempView("customer")
        return [tuple(r) for r in s.sql(E.SHIP_PRIORITY_SQL).collect()]

    def duckdb_rows(price):
        con = duckdb.connect()
        con.execute("CREATE TABLE lineitem AS SELECT 1::BIGINT l_orderkey, "
                    f"{price!r}::DOUBLE l_extendedprice, "
                    "0.05::DOUBLE l_discount")
        con.execute("CREATE TABLE orders AS SELECT 1::BIGINT o_orderkey, "
                    "7::BIGINT o_custkey, '1-URGENT' o_orderpriority")
        con.execute("CREATE TABLE customer AS SELECT 7::BIGINT c_custkey, "
                    "'BUILDING' c_mktsegment")
        return con.execute(E.oracle_sql()["ship_priority"]).fetchall()

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    want = [(1, "1-URGENT", 2**63 - 1 - 207, 1)]
    assert spark_rows(inside) == want
    assert duckdb_rows(inside) == want
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        spark_rows(past)
    with pytest.raises(duckdb.OutOfRangeException, match="Overflow"):
        duckdb_rows(past)


def test_table_df_memoizes_plan_only_and_respects_sf_switch(spark, tmp_path):
    """table_df caches the lazy reader per (session, dir, table) — same
    object back, no data materialization — and binding a view again
    after a directory switch, as ``sql_df`` does, must rebind it to the
    other directory's data. A table rewritten in the session is read
    afresh, and shared frames built over it are rebuilt and released."""
    from geobuf_cpp_spark.sources.readers import table_df

    d1 = str(tmp_path / "a"); d2 = str(tmp_path / "b")
    spark.createDataFrame([(1,)], "x long").write.parquet(f"{d1}/t.parquet")
    spark.createDataFrame([(2,)], "x long").write.parquet(f"{d2}/t.parquet")

    df1 = table_df(spark, d1, "t")
    assert table_df(spark, d1, "t") is df1          # memo hit
    assert table_df(spark, d2, "t") is not df1      # keyed by dir

    table_df(spark, d1, "t").createOrReplaceTempView("t")
    assert spark.sql("SELECT x FROM t").collect()[0].x == 1
    table_df(spark, d2, "t").createOrReplaceTempView("t")
    assert spark.sql("SELECT x FROM t").collect()[0].x == 2
    # the memoized frame is a plan, not data: a fresh write to a THIRD
    # dir read through a fresh key still scans storage
    d3 = str(tmp_path / "c")
    spark.createDataFrame([(3,)], "x long").write.parquet(f"{d3}/t.parquet")
    assert table_df(spark, d3, "t").collect()[0].x == 3

    # an in-session rewrite of a table, by overwrite and then by append,
    # is read afresh, never through the superseded file listing
    spark.createDataFrame([(2,), (3,)], "x long").write.mode(
        "overwrite").parquet(f"{d1}/t.parquet")
    assert sorted(r.x for r in table_df(spark, d1, "t").collect()) == [2, 3]
    spark.createDataFrame([(4,)], "x long").write.mode(
        "append").parquet(f"{d1}/t.parquet")
    assert sorted(r.x for r in table_df(spark, d1, "t").collect()) == [2, 3, 4]

    # a shared subresult over a rewritten table is rebuilt, and the
    # superseded persisted frame is released
    from pyspark import StorageLevel

    import __spark_entry__ as E

    def total():
        return table_df(spark, d2, "t").groupBy().sum("x")

    old = E._shared_df(spark, d2, "total", total)
    assert old.collect()[0][0] == 2
    assert E._shared_df(spark, d2, "total", total) is old
    spark.createDataFrame([(5,)], "x long").write.mode(
        "overwrite").parquet(f"{d2}/t.parquet")
    # any memo read under the rewritten directory applies the rule; the
    # check comes before the rebuild, whose plan matches the old one
    table_df(spark, d2, "t")
    assert old.storageLevel == StorageLevel.NONE
    new = E._shared_df(spark, d2, "total", total)
    assert new is not old and new.collect()[0][0] == 5


def test_zonemap_query_follows_in_session_table_rewrite(spark, tmp_path):
    """zonemap_query's range-clustered copy is a session memo under the
    tables' directory stamp: after orders.parquet is rewritten in the
    session, the gate answers from the new rows, not the old copy."""
    import shutil

    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from geobuf_cpp_spark.sources import points as P

    src = f"{SF_SMALL}/orders.parquet"
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(src, sf / "orders.parquet")

    def brute_force():
        return spark.sql(
            f"SELECT count(*) FROM ({P.IPOINTS_SELECT}) "
            f"WHERE ix BETWEEN {E.ZM_LO} AND {E.ZM_HI}").collect()[0][0]

    full = E.q_zonemap_query(spark, str(sf)).count()
    assert full == brute_force() == 375
    orders = pq.read_table(src)
    pq.write_table(orders.slice(0, orders.num_rows // 2),
                   sf / "orders.parquet")
    half = E.q_zonemap_query(spark, str(sf)).count()
    assert half == brute_force() == 187


STORAGE_GATES = ("zonemap_query", "geobuf_files", "snapshot_reads",
                 "snapshot_evolve", "incremental_neardup")


def test_storage_gates_write_only_under_tmpdir(spark, tmp_path, monkeypatch):
    """The five gates that write files keep them in the process's own
    directory under TMPDIR, and nothing under the checkout's .scratch/.
    The tables are copied to a fresh directory so no memo entry of an
    earlier test is reused."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    import __spark_entry__ as E
    from geobuf_cpp_spark.session import process_tmpdir

    scratch = Path(__file__).resolve().parents[1] / ".scratch"

    def listing():
        return sorted(str(p) for p in scratch.rglob("*")) \
            if scratch.exists() else []

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("orders", "nation", "documents"):
        shutil.copyfile(f"{SF_SMALL}/{t}.parquet", sf / f"{t}.parquet")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    before = listing()
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", None)   # re-read TMPDIR
    process_tmpdir.cache_clear()
    try:
        q = E.queries()
        counts = {name: q[name](spark, str(sf)).count()
                  for name in STORAGE_GATES}
        own = Path(process_tmpdir())
        dirs = sorted(os.listdir(own))
    finally:
        process_tmpdir.cache_clear()
    assert listing() == before
    assert own.parent == tmp
    assert all(n > 0 for n in counts.values()), counts
    for prefix in ("zonemap_", "geobuf_files_", "snapshot_reads_",
                   "snapshot_evolve_", "signature_index_"):
        assert any(d.startswith(prefix) for d in dirs), dirs
