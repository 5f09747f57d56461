"""Execution-core tests: auto-LIMIT (O3), safety gate (D2/D3), row
serialization (S6) — the reference-E2 lifecycle semantics (SURVEY §3/§5)."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest

from etl_generator_demo_spark.engine import ExecutionEngine, scalarize
from etl_generator_demo_spark.plans.limits import apply_auto_limit, plan_has_limit
from etl_generator_demo_spark.plans.safety import validate_sql_safety


@pytest.fixture()
def engine(spark, catalog):
    return ExecutionEngine(spark)


class TestAutoLimit:
    def test_select_without_limit_gets_default(self, engine):
        res = engine.execute("SELECT o_orderkey FROM orders")
        assert res.success and res.row_count == 10  # DEFAULT_LIMIT

    def test_explicit_limit_respected(self, engine):
        res = engine.execute("SELECT o_orderkey FROM orders LIMIT 3")
        assert res.success and res.row_count == 3

    def test_cte_gets_limit(self, engine):
        res = engine.execute(
            "WITH t AS (SELECT o_orderkey FROM orders) SELECT * FROM t", limit=7
        )
        assert res.success and res.row_count == 7

    def test_substring_false_positive_fixed(self, engine, spark):
        # The reference's substring check would see "LIMIT" inside an
        # identifier and skip injection (db_connector.py:218-222). The
        # plan-aware check must still inject.
        df = spark.sql("SELECT o_orderkey AS credit_limit FROM orders")
        assert not plan_has_limit(df)
        assert apply_auto_limit(df, 5).count() == 5

    def test_inner_limit_plus_outer_agg_not_relimited(self, engine, spark):
        df = spark.sql("SELECT o_orderkey FROM orders LIMIT 50")
        assert plan_has_limit(df)

    def test_cte_explicit_limit_respected(self, engine):
        # the analyzed root of a WITH statement is WithCTE; its main
        # query's LIMIT is the statement's
        res = engine.execute(
            "WITH x AS (SELECT * FROM orders) "
            "SELECT o_orderkey FROM x ORDER BY o_orderkey LIMIT 100",
            limit=10,
        )
        assert res.success and res.row_count == 100

    def test_limit_inside_cte_body_still_capped(self, engine):
        res = engine.execute(
            "WITH x AS (SELECT * FROM orders LIMIT 100) SELECT o_orderkey FROM x",
            limit=10,
        )
        assert res.success and res.row_count == 10

    def test_limit_none_means_unlimited(self, engine):
        res = engine.execute("SELECT o_orderkey FROM orders", limit=None)
        assert res.success and res.row_count == 1500


class TestSafetyGate:
    def test_select_allowed(self):
        v = validate_sql_safety("SELECT 1")
        assert not v.is_blocked and not v.is_write

    def test_with_allowed(self):
        assert not validate_sql_safety("WITH t AS (SELECT 1) SELECT * FROM t").is_blocked

    def test_writes_blocked_by_default(self):
        for sql in ("DROP TABLE orders", "DELETE FROM orders", "INSERT INTO t VALUES (1)",
                    "UPDATE t SET x=1", "TRUNCATE TABLE t", "CREATE TABLE t (x INT)"):
            v = validate_sql_safety(sql)
            assert v.is_blocked and v.is_write, sql

    def test_writes_allowed_with_opt_in(self):
        v = validate_sql_safety("INSERT INTO t VALUES (1)", allow_writes=True)
        assert not v.is_blocked and v.is_write

    def test_identifier_containing_keyword_not_blocked(self):
        # reference demo-mode blocklist blocks any text *containing*
        # 'delete' (sql_generator.py:253-266); structural check doesn't.
        assert not validate_sql_safety("SELECT is_deleted FROM users").is_blocked

    def test_leading_comment_skipped(self):
        assert validate_sql_safety("-- note\nDROP TABLE x").is_blocked

    def test_empty_blocked(self):
        assert validate_sql_safety("   ").is_blocked

    def test_nested_bracketed_comment_cannot_launder_a_write(self):
        # Spark parses nested /* */ — '/* /* */ SELECT 1 */ DROP ...'
        # is one comment followed by DropTable. A depth-unaware scanner
        # ends the comment at the first '*/' and sees 'SELECT' first.
        assert validate_sql_safety("/* /* */ SELECT 1 */ DROP TABLE t").is_blocked
        assert validate_sql_safety(
            "/* a /* b */ c */ INSERT INTO t VALUES (1)"
        ).is_blocked
        # and the read form stays unblocked
        assert not validate_sql_safety("/* /* x */ y */ SELECT 1").is_blocked
        # unterminated nested opener: comment-to-EOF, nothing executable
        assert validate_sql_safety("/* /* */ DROP TABLE t").is_blocked

    def test_engine_blocks_write(self, engine):
        res = engine.execute("DROP TABLE orders")
        assert not res.success and res.is_blocked and "read-only" in res.block_reason


class TestSerialization:
    def test_scalars_pass_through(self):
        assert scalarize(None) is None
        assert scalarize(True) is True
        assert scalarize(3) == 3
        assert scalarize(2.5) == 2.5
        assert scalarize("x") == "x"

    def test_temporal_and_decimal_stringified(self):
        assert scalarize(dt.datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02 03:04:05"
        assert scalarize(dt.date(2024, 1, 2)) == "2024-01-02"
        assert scalarize(decimal.Decimal("1.50")) == "1.50"

    def test_containers_recurse(self):
        assert scalarize([1, dt.date(2024, 1, 2)]) == [1, "2024-01-02"]
        assert scalarize({"a": decimal.Decimal("2")}) == {"a": "2"}

    def test_row_shape(self, engine):
        res = engine.execute("SELECT o_orderkey, o_orderdate FROM orders LIMIT 1")
        assert res.success and res.columns == ["o_orderkey", "o_orderdate"]
        row = res.rows[0]
        assert isinstance(row["o_orderkey"], int)
        assert isinstance(row["o_orderdate"], str)  # timestamp stringified

    def test_error_envelope(self, engine):
        res = engine.execute("SELECT * FROM no_such_table")
        assert not res.success and res.error


class TestWriteSurface:
    """D1: non-SELECT execution with explicit opt-in (the reference
    commits arbitrary DML, db_connector.py:244-251; plain Spark tables
    support CREATE/INSERT/DROP — UPDATE/DELETE need a lakehouse format
    and are documented as out of scope)."""

    def test_create_insert_select_drop(self, spark, catalog, tmp_path):
        from etl_generator_demo_spark.engine import ExecutionEngine

        eng = ExecutionEngine(spark, allow_writes=True)
        loc = tmp_path / "t_notes"
        r = eng.execute(
            f"CREATE TABLE t_notes (id BIGINT, note STRING) USING parquet LOCATION '{loc}'"
        )
        assert r.success, r.error
        r = eng.execute("INSERT INTO t_notes VALUES (1, 'a'), (2, 'b')")
        assert r.success, r.error
        r = eng.execute("SELECT id, note FROM t_notes ORDER BY id", limit=None)
        assert r.success and r.row_count == 2 and r.rows[0] == {"id": 1, "note": "a"}
        r = eng.execute("INSERT OVERWRITE t_notes VALUES (9, 'z')")
        assert r.success
        assert eng.execute("SELECT * FROM t_notes", limit=None).row_count == 1
        assert eng.execute("DROP TABLE t_notes").success

    def test_write_still_blocked_without_opt_in(self, spark, catalog):
        from etl_generator_demo_spark.engine import ExecutionEngine

        r = ExecutionEngine(spark).execute("CREATE TABLE nope (x INT)")
        assert r.is_blocked


class TestCatalogMetadata:
    def test_document_shape(self, catalog):
        doc = catalog.metadata_document()
        assert doc["db_type"] == "spark"
        assert {t["table_name"] for t in doc["schema_summary"]["tables"]} >= {
            "orders", "lineitem", "customer",
        }
        rels = doc["schema_summary"]["relationships"]
        assert "orders.o_custkey → customer.c_custkey" in rels
        assert "constraints" in doc

    def test_pk_flags(self, catalog):
        doc = catalog.metadata_document()
        orders = next(t for t in doc["schema_summary"]["tables"] if t["table_name"] == "orders")
        pk = [c["column_name"] for c in orders["columns"] if c["primary_key"]]
        assert pk == ["o_orderkey"]

    def test_cache_and_invalidate(self, catalog):
        d1 = catalog.metadata_document()
        assert catalog.metadata_document() is d1
        catalog.invalidate()
        assert catalog.metadata_document() is not d1


class TestDataframeGate:
    def test_dataframe_blocks_write_before_parse(self, engine, spark, catalog, tmp_path):
        """dataframe() must gate BEFORE spark.sql — Spark executes
        commands eagerly at parse time, so a late gate would have
        already run the DROP."""
        from etl_generator_demo_spark.engine import BlockedStatementError

        spark.sql(f"CREATE TABLE gate_probe USING parquet LOCATION '{tmp_path}/gate_probe' AS SELECT 1 AS x")
        try:
            with pytest.raises(BlockedStatementError, match="read-only"):
                engine.dataframe("DROP TABLE gate_probe")
            assert spark.catalog.tableExists("gate_probe")  # the write never ran
        finally:
            spark.sql("DROP TABLE IF EXISTS gate_probe")

    def test_dataframe_matches_execute_verdict(self, engine):
        from etl_generator_demo_spark.engine import BlockedStatementError

        res = engine.execute("TRUNCATE TABLE orders")
        assert res.is_blocked
        with pytest.raises(BlockedStatementError):
            engine.dataframe("TRUNCATE TABLE orders")

    def test_dataframe_allows_reads(self, engine):
        assert engine.dataframe("SELECT 1 AS x").collect()[0]["x"] == 1


class TestSQLSurfaceBreadth:
    """The SQL front door inherits Spark SQL's full surface; pin the
    constructs reference users reach for beyond the generated shapes."""

    def test_tablesample(self, engine):
        res = engine.execute(
            "SELECT count(*) AS n FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)",
            limit=None,
        )
        n = res.rows[0]["n"]
        assert 0 < n < 15000  # sf0.001: 1500 orders; sampled strictly less

    def test_lateral_view_explode(self, engine):
        res = engine.execute(
            "SELECT doc_id, tok FROM documents "
            "LATERAL VIEW explode(split(text, ' ')) AS tok "
            "WHERE doc_id = 0",
            limit=None,
        )
        assert len(res.rows) > 5
        assert all(r["doc_id"] == 0 for r in res.rows)

    def test_window_qualify_style_dedup(self, engine):
        res = engine.execute(
            "SELECT * FROM (SELECT o_custkey, o_orderkey, "
            "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk "
            "FROM orders) WHERE rk = 1",
            limit=None,
        )
        custs = [r["o_custkey"] for r in res.rows]
        assert len(custs) == len(set(custs)) > 100

    def test_values_inline_table(self, engine):
        res = engine.execute(
            "SELECT t.a + t.b AS s FROM VALUES (1, 2), (3, 4) AS t(a, b)", limit=None
        )
        assert sorted(r["s"] for r in res.rows) == [3, 7]


class TestSpark4SessionSurface:
    """Spark 4 session-layer features: SQL UDFs, session variables,
    collations. All three are session-scoped DDL the read-only front
    door BLOCKS (pinned here) — they belong to the library layer,
    where a pipeline author configures the session before handing it
    to the engine."""

    def test_front_door_blocks_session_ddl(self, spark):
        from etl_generator_demo_spark.plans.safety import validate_sql_safety

        for sql in (
            "CREATE TEMPORARY FUNCTION f(x INT) RETURNS INT RETURN x + 1",
            "DECLARE VARIABLE v INT DEFAULT 1",
            "SET VARIABLE v = 2",
        ):
            assert validate_sql_safety(sql).is_blocked

    def test_sql_udf_and_variable_at_session_layer(self, spark, catalog):
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION line_rev(p DOUBLE, d DOUBLE) "
            "RETURNS DOUBLE RETURN p * (1 - d)"
        )
        spark.sql("DECLARE OR REPLACE VARIABLE rev_floor DOUBLE DEFAULT 90000.0")
        spark.sql("SET VARIABLE rev_floor = 95000.0")
        got = spark.sql(
            """
            SELECT l_orderkey, ROUND(SUM(line_rev(l_extendedprice, l_discount)), 2) AS rev
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(line_rev(l_extendedprice, l_discount)) > rev_floor
            ORDER BY rev DESC LIMIT 5
            """
        ).collect()
        want = spark.sql(
            """
            SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_extendedprice * (1 - l_discount)) > 95000.0
            ORDER BY rev DESC LIMIT 5
            """
        ).collect()
        assert got == want and got

    def test_case_insensitive_collation(self, spark):
        row = spark.sql(
            "SELECT 'URGENT' = 'urgent' COLLATE UNICODE_CI AS ci, "
            "'URGENT' = 'urgent' AS cs"
        ).first()
        assert row["ci"] is True and row["cs"] is False


class TestGateAndLimitHoles:
    """Regression pins for two front-door holes found in review: a CTE
    prefix must not launder DML past the read-only gate, and a
    subquery LIMIT must not disable the serialization-edge cap."""

    def test_cte_prefixed_dml_is_blocked(self):
        from etl_generator_demo_spark.plans.safety import validate_sql_safety

        for sql in (
            "WITH d AS (SELECT 42 AS x) INSERT INTO tgt SELECT x FROM d",
            "WITH t(a) AS (SELECT 1) UPDATE x SET y = 1",
            "WITH a AS (SELECT 1), b AS (SELECT ')' AS s) DELETE FROM x",
            "WITH a AS (SELECT 1) MERGE INTO t USING a ON 1=1",
        ):
            v = validate_sql_safety(sql)
            assert v.is_blocked and v.is_write, sql
        for sql in (
            "WITH d AS (SELECT 1) SELECT * FROM d",
            "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 "
            "FROM t WHERE n < 5) SELECT * FROM t",
            "WITH t(a, b) AS (SELECT 1, 2) SELECT a FROM t",
        ):
            v = validate_sql_safety(sql)
            assert not v.is_blocked and not v.is_write, sql

    def test_backslash_escape_cannot_desync_scanner(self):
        """Spark's default lexer honors backslash escapes inside string
        literals, so ``'\\''`` stays INSIDE the literal. A scanner that
        only knows the doubled-quote escape sees the literal end early
        and classifies the smuggled DML body as a SELECT — the round-4
        advice hole. Both escape families must stay in-literal."""
        from etl_generator_demo_spark.plans.safety import validate_sql_safety

        for sql in (
            # the advice's exact shape: the literal is '\''), y AS
            # (SELECT 1) SELECT 1' so Spark's real body is the INSERT
            "WITH x AS (SELECT '\\'), y AS (SELECT 1) SELECT 1' AS s) "
            "INSERT INTO t SELECT 1",
            'WITH x AS (SELECT "\\"), y AS (SELECT 1) SELECT 1" AS s) '
            "DROP TABLE t",
        ):
            v = validate_sql_safety(sql)
            assert v.is_blocked, sql
        # benign reads with the same escapes must still pass — incl.
        # the mirrored shapes where the literal SWALLOWS DML-looking
        # text (Spark sees only a SELECT)
        for sql in (
            "WITH x AS (SELECT '\\'it''s' AS s) SELECT * FROM x",
            "SELECT 'a\\\\' AS s",
            "WITH x AS (SELECT `a``b` FROM t) SELECT * FROM x",
            "WITH x AS (SELECT '\\') INSERT INTO t SELECT 1 --' AS s) "
            "SELECT * FROM x",
        ):
            v = validate_sql_safety(sql)
            assert not v.is_blocked and not v.is_write, sql

    def test_comment_markers_inside_literals_are_not_comments(self):
        """``--`` / ``/*`` INSIDE a string literal are data, not
        comments: stripping them with a blind regex deleted the closing
        quote and made the paren walk block valid SELECTs. Conversely a
        quote inside a real comment must not open a literal."""
        from etl_generator_demo_spark.plans.safety import validate_sql_safety

        for sql in (
            "WITH a AS (SELECT '--x' AS s) SELECT * FROM a",
            "WITH a AS (SELECT '/*' AS s) SELECT * FROM a",
            "SELECT '--not a comment' AS s",
            "WITH a AS (SELECT 1) -- it's a comment ( \nSELECT * FROM a",
            "WITH a AS (SELECT 1) /* don't ( */ SELECT * FROM a",
        ):
            v = validate_sql_safety(sql)
            assert not v.is_blocked and not v.is_write, sql
        for sql in (
            "WITH a AS (SELECT '--x' AS s) DELETE FROM t",
            "/* preamble */ INSERT INTO t SELECT 1",
        ):
            v = validate_sql_safety(sql)
            assert v.is_blocked and v.is_write, sql

    def test_parenthesized_query_bodies_are_reads(self):
        """``WITH a AS (...) (SELECT ...)`` and a statement-leading
        paren are query expressions — they cannot write and must not be
        blocked as malformed."""
        from etl_generator_demo_spark.plans.safety import validate_sql_safety

        for sql in (
            "WITH a AS (SELECT 1) (SELECT * FROM a)",
            "(SELECT 1)",
            "(SELECT 1) UNION ALL (SELECT 2)",
        ):
            v = validate_sql_safety(sql)
            assert not v.is_blocked and not v.is_write, sql

    def test_subquery_limit_does_not_disable_auto_cap(self, spark, catalog):
        from etl_generator_demo_spark.plans.limits import apply_auto_limit, plan_has_limit

        nested = spark.sql(
            "SELECT * FROM (SELECT * FROM lineitem LIMIT 50000) x"
        )
        assert not plan_has_limit(nested)
        assert len(apply_auto_limit(nested, 10).collect()) == 10
        top = spark.sql("SELECT * FROM lineitem ORDER BY l_orderkey LIMIT 7")
        assert plan_has_limit(top)
        assert len(apply_auto_limit(top, 10).collect()) == 7
