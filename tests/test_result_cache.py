"""Front-door result cache: a repeated read is served from the cached
result without a Spark job, and never when the answer could differ —
volatile expressions, changed files, a changed view, a JDBC source,
blocked or failing statements."""

from __future__ import annotations

import random
import shutil
import sys
import threading
import uuid

import pytest

from pyspark.sql import functions as F

from etl_generator_demo_spark import engine as engine_mod
from etl_generator_demo_spark.catalog import Catalog
from etl_generator_demo_spark.engine import ExecutionEngine

ORDERS_TOP = (
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000 "
    "ORDER BY o_orderkey"
)


def run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), read from the status tracker
    through a job group of its own."""
    sc = spark.sparkContext
    group = f"result-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module", autouse=True)
def views(catalog):
    """Bind the fixture views afresh: a test module that ran earlier may
    have replaced one of them with a frame of its own."""
    catalog.register_views()


@pytest.fixture()
def engine(spark):
    return ExecutionEngine(spark)


def test_repeat_is_served_without_a_spark_job(spark, engine):
    first, jobs = run_counting_jobs(spark, lambda: engine.execute(ORDERS_TOP, limit=20))
    assert first.success and first.row_count == 20 and jobs >= 1
    again, jobs = run_counting_jobs(spark, lambda: engine.execute(f"  {ORDERS_TOP};", limit=20))
    assert again == first and jobs == 0
    # the limit is part of the key
    other, jobs = run_counting_jobs(spark, lambda: engine.execute(ORDERS_TOP, limit=5))
    assert other.rows == first.rows[:5] and jobs >= 1


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT o_orderkey, rand() AS r FROM orders ORDER BY o_orderkey",
        "SELECT o_orderkey, now() AS t FROM orders ORDER BY o_orderkey",
        "SELECT o_orderkey FROM orders WHERE o_orderdate < current_date() ORDER BY o_orderkey",
        "SELECT o_orderkey FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE rand() < 2) ORDER BY o_orderkey",
    ],
)
def test_volatile_reads_are_never_cached(spark, engine, sql):
    for _ in range(2):
        res, jobs = run_counting_jobs(spark, lambda: engine.execute(sql))
        assert res.success and jobs >= 1
    assert len(engine._results) == 0


def test_now_is_read_afresh(engine):
    # constant-folded to a local relation, so no Spark job tells a hit
    # apart: the value does
    first = engine.execute("SELECT now() AS t").rows[0]["t"]
    assert engine.execute("SELECT now() AS t").rows[0]["t"] != first


@pytest.mark.parametrize("v1_sources", [None, ""])
def test_in_place_rewrite_is_a_miss(spark, engine, tmp_path, v1_sources):
    """With ``v1_sources=""`` the parquet read is a DataSource V2 relation,
    a leaf the cache does not stamp: it is never served from the cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)
    conf = "spark.sql.sources.useV1SourceList"
    saved = spark.conf.get(conf)
    if v1_sources is not None:
        spark.conf.set(conf, v1_sources)
    try:
        spark.read.parquet(path).createOrReplaceTempView("rc_rewritten")
    finally:
        spark.conf.set(conf, saved)
    sql = "SELECT k, v FROM rc_rewritten ORDER BY k"
    try:
        assert engine.execute(sql).rows == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}, {"k": 3, "v": "c"}]
        _, jobs = run_counting_jobs(spark, lambda: engine.execute(sql))
        assert (jobs == 0) == (v1_sources is None)
        pq.write_table(pa.table({"k": [7, 8], "v": ["x", "y"]}), path)
        res, jobs = run_counting_jobs(spark, lambda: engine.execute(sql))
        assert res.rows == [{"k": 7, "v": "x"}, {"k": 8, "v": "y"}] and jobs >= 1
    finally:
        spark.catalog.dropTempView("rc_rewritten")


MERGE_SQL = """
    MERGE INTO nation AS t
    USING (SELECT n_nationkey, lower(n_name) AS n_name, CAST(n_regionkey AS INT) AS n_regionkey
           FROM nation WHERE n_nationkey < 2
           UNION ALL
           SELECT CAST(900 AS INT), 'NEWLAND', CAST(0 AS INT)) AS s
    ON t.n_nationkey = s.n_nationkey
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *
"""


def test_merge_then_read_returns_merged_rows(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    cat = Catalog(spark, str(tmp_path))
    cat.register_views(("nation",))
    try:
        eng = ExecutionEngine(spark, allow_writes=True, catalog=cat)
        sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey DESC"
        before = eng.execute(sql, limit=3)
        assert eng.execute(sql, limit=3) == before
        assert 900 not in [r["n_nationkey"] for r in before.rows]
        merged = eng.execute(MERGE_SQL)
        assert merged.success and merged.rows == [{"n_updated": 2, "n_inserted": 1}]
        after = eng.execute(sql, limit=3)
        assert after.rows[0] == {"n_nationkey": 900, "n_name": "NEWLAND"}
        low = eng.execute("SELECT n_name FROM nation WHERE n_nationkey < 2 ORDER BY n_nationkey")
        assert low.row_count == 2 and all(r["n_name"] == r["n_name"].lower() for r in low.rows)
    finally:
        Catalog(spark, sf_dir).register_views()


def test_new_table_filter_over_same_files_is_a_miss(spark, engine, sf_dir):
    cat = Catalog(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("rc_orders")
    sql = "SELECT count(*) AS n FROM rc_orders"
    try:
        assert engine.execute(sql).rows == [{"n": 1500}]
        cat.table_filters["orders"] = ["o_orderstatus = 'O'"]
        cat.table("orders").createOrReplaceTempView("rc_orders")
        want = cat.table("orders").count()
        res, jobs = run_counting_jobs(spark, lambda: engine.execute(sql))
        assert 0 < want < 1500 and res.rows == [{"n": want}] and jobs >= 1
        # only a column renamed: canonicalization erases names, so the
        # plans are equal; the reply must still carry the new name
        star = "SELECT * FROM rc_orders ORDER BY 1"
        cat.table("orders").select("o_orderkey").toDF("x").createOrReplaceTempView("rc_orders")
        assert engine.execute(star).columns == ["x"]
        cat.table("orders").select("o_orderkey").toDF("y").createOrReplaceTempView("rc_orders")
        res = engine.execute(star)
        assert res.columns == ["y"] and list(res.rows[0]) == ["y"]
    finally:
        spark.catalog.dropTempView("rc_orders")


def test_disconnect_turns_a_cached_read_into_an_analysis_error(spark, catalog):
    from etl_generator_demo_spark.api import (
        AppState,
        connect_endpoint,
        disconnect_endpoint,
        execute_endpoint,
    )

    state = AppState(spark, catalog)
    body = {"sql": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}
    try:
        first = execute_endpoint(state, body)
        assert first["success"] and execute_endpoint(state, body) == first
        disconnect_endpoint(state)
        out = execute_endpoint(state, body)
        assert out["success"] is False and out["status_code"] == 400
        assert "region" in out["error"] and not out.get("is_blocked")
    finally:
        connect_endpoint(state, {})
    assert execute_endpoint(state, body) == first


def test_jdbc_view_is_never_cached(spark, engine, tmp_path):
    from etl_generator_demo_spark.sources.jdbc import JDBCConnection, read_jdbc_table

    conn = JDBCConnection(db_type="derby", host="", database=str(tmp_path / "db"),
                          user="", password="")

    def write(lo, hi, mode):
        (spark.range(lo, hi).select(F.col("id").alias("K"))
         .write.format("jdbc").option("url", conn.url()).option("dbtable", "T_RC")
         .mode(mode).save())

    write(0, 3, "overwrite")
    read_jdbc_table(spark, conn, "T_RC").createOrReplaceTempView("rc_jdbc")
    sql = "SELECT K FROM rc_jdbc ORDER BY K"
    try:
        assert [r["K"] for r in engine.execute(sql).rows] == [0, 1, 2]
        write(3, 5, "append")
        res, jobs = run_counting_jobs(spark, lambda: engine.execute(sql))
        assert [r["K"] for r in res.rows] == [0, 1, 2, 3, 4] and jobs >= 1
        assert len(engine._results) == 0
    finally:
        spark.catalog.dropTempView("rc_jdbc")


@pytest.mark.parametrize(
    "sql",
    [
        "DROP TABLE orders",
        "DELETE FROM orders WHERE o_orderkey = 1",
        "SELECT l_nope FROM lineitem",
        "SELECT * FROM no_such_table",
        "SELECT raise_error('boom') FROM orders",
    ],
)
def test_blocked_and_failing_statements_are_never_cached(engine, sql):
    for _ in range(2):
        res = engine.execute(sql)
        assert res.success is False and res.error
    assert len(engine._results) == 0


def test_oversized_results_are_not_cached_and_lru_keeps_the_bound(spark, engine, monkeypatch):
    monkeypatch.setattr(engine_mod, "RESULT_CACHE_ROWS", 40)  # entries of <= 4 rows
    _, jobs = run_counting_jobs(spark, lambda: [engine.execute(ORDERS_TOP, limit=5) for _ in range(2)])
    assert jobs >= 2 and len(engine._results) == 0
    for n in range(1, 9):
        engine.execute(ORDERS_TOP, limit=n % 4 + 1)  # 4 distinct keys, then again
        engine.execute(f"SELECT o_orderkey FROM orders WHERE o_orderkey = {n}")
    # every entry counts at least 8 rows: 40 rows hold 5 of them
    assert len(engine._results) == 5
    _, jobs = run_counting_jobs(spark, lambda: engine.execute(
        "SELECT o_orderkey FROM orders WHERE o_orderkey = 8"))
    assert jobs == 0
    _, jobs = run_counting_jobs(spark, lambda: engine.execute(
        "SELECT o_orderkey FROM orders WHERE o_orderkey = 1"))
    assert jobs >= 1


def test_concurrent_clients_get_cold_replies(spark, catalog):
    statements = [
        (ORDERS_TOP, 10),
        (ORDERS_TOP, 3),
        ("SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus "
         "ORDER BY o_orderstatus", 10),
        ("SELECT c_mktsegment, count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment", 50),
        ("WITH t AS (SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey) "
         "SELECT o_custkey, s FROM t ORDER BY s DESC, o_custkey", 5),
        ("SELECT n_name FROM nation ORDER BY n_name", 0),
        ("DROP TABLE orders", 10),
        ("SELECT nope FROM orders", 10),
    ]
    cold = [ExecutionEngine(spark).execute(sql, limit).to_dict() for sql, limit in statements]
    shared = ExecutionEngine(spark)
    mismatches: list = []
    errors: list = []

    def client(seed: int) -> None:
        try:
            order = list(range(len(statements))) * 3
            random.Random(seed).shuffle(order)
            for i in order:
                out = shared.execute(*statements[i]).to_dict()
                if out != cold[i]:
                    mismatches.append((i, out))
        except Exception as exc:  # asserted on below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        # more clients than cores
        threads = [threading.Thread(target=client, args=(seed,)) for seed in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors and not mismatches
    cache = shared._results
    assert len(cache) == 6
    # a lost update would leave the row count off the entries' sum
    assert cache._rows == sum(e.size for e in cache._entries.values())
