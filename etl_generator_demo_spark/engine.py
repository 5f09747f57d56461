"""Execution core — the engine-side analogue of ``POST /api/db/execute``.

Reference lifecycle (``db_connector.py:207-257``, SURVEY §3 E2): strip
trailing ';' → sniff SELECT/WITH → append LIMIT if the text lacks it →
execute on the remote DB → rows to ``[{col: val}]`` dicts with JSON
scalarization (``db_connector.py:259-265``) or, for non-SELECT, commit
and return the affected rowcount (``db_connector.py:244-251``).

Here the statement is parsed by Catalyst (``spark.sql`` builds the
plan lazily — nothing executes until collect), the LIMIT decision is
plan-aware, the safety gate is structural, and collection happens only
at the serialization edge under an enforced limit — the one place a
100 TB engine is allowed to ``collect()``.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_generator_demo_spark.plans.limits import apply_auto_limit
from etl_generator_demo_spark.plans.safety import SafetyVerdict, validate_sql_safety

#: API default result limit (reference ``main.py:65``); UI uses 50
#: (``static/js/app.js:495``).
DEFAULT_LIMIT = 10


def scalarize(value: Any) -> Any:
    """JSON-scalarize one value, mirroring ``db_connector.py:259-265``:
    None/bool/int/float/str pass through; dates/timestamps/decimals and
    anything else become strings; containers recurse."""
    if value is None or isinstance(value, (bool, int, float, str)):
        return value
    if isinstance(value, (_dt.datetime, _dt.date, _dt.time)):
        return value.isoformat(sep=" ") if isinstance(value, _dt.datetime) else value.isoformat()
    if isinstance(value, _decimal.Decimal):
        return str(value)
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, (list, tuple)):
        return [scalarize(v) for v in value]
    if isinstance(value, dict):
        return {k: scalarize(v) for k, v in value.items()}
    return str(value)


@dataclass
class ExecutionResult:
    """Wire-shape parity with the reference's execute response
    (``db_connector.py:231-251``)."""

    success: bool
    columns: list[str] = field(default_factory=list)
    rows: list[dict[str, Any]] = field(default_factory=list)
    row_count: int = 0
    error: str | None = None
    is_blocked: bool = False
    block_reason: str | None = None

    def to_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {"success": self.success}
        if self.success:
            out.update(columns=self.columns, rows=self.rows, row_count=self.row_count)
        else:
            out["error"] = self.error
        if self.is_blocked:
            out.update(is_blocked=True, block_reason=self.block_reason)
        return out


class BlockedStatementError(RuntimeError):
    """Raised by ``ExecutionEngine.dataframe`` when the safety gate
    rejects a statement (``execute`` returns the blocked envelope
    instead — its callers want the wire shape, not an exception)."""


class ExecutionEngine:
    """SQL-string front door over one SparkSession.

    ``catalog`` (optional) enables the textual-DML routes that plain
    Spark cannot execute itself — today ``MERGE INTO`` on the
    catalog's parquet tables (reference parity:
    ``db_connector.py:244-251`` commits any DML text; see
    ``plans/merge.py``). Without a catalog those statements return an
    error envelope rather than silently no-op."""

    def __init__(self, spark: SparkSession, allow_writes: bool = False, catalog=None):
        self.spark = spark
        self.allow_writes = allow_writes
        self.catalog = catalog

    def _admit(self, sql: str) -> tuple[str, SafetyVerdict]:
        """Strip the statement and run the safety gate on it; a blocked
        statement raises :class:`BlockedStatementError`."""
        sql = (sql or "").strip().rstrip(";")
        verdict = validate_sql_safety(sql, self.allow_writes)
        if verdict.is_blocked:
            raise BlockedStatementError(verdict.block_reason)
        return sql, verdict

    def _plan(self, sql: str, verdict: SafetyVerdict, limit: int | None) -> DataFrame:
        df = self.spark.sql(sql)
        if not verdict.is_write and limit:
            df = apply_auto_limit(df, limit)
        return df

    def dataframe(self, sql: str, limit: int | None = DEFAULT_LIMIT) -> DataFrame:
        """Parse + analyze + auto-limit, returning the lazy DataFrame.

        The gate runs BEFORE ``spark.sql``: Spark executes command
        statements (DROP/CREATE/INSERT/SET …) eagerly inside
        ``spark.sql`` itself, so parsing first would already have run
        the write. Every front door — this one, ``execute`` and the
        ETL SQL extract — takes this one path; an inconsistent front
        door is how gates get bypassed."""
        return self._plan(*self._admit(sql), limit)

    def execute(self, sql: str, limit: int | None = DEFAULT_LIMIT) -> ExecutionResult:
        """Run a statement and serialize rows, reference-E2 style."""
        try:
            sql, verdict = self._admit(sql)
        except BlockedStatementError as exc:
            return ExecutionResult(
                success=False, error=str(exc), is_blocked=True, block_reason=str(exc)
            )
        if verdict.is_write and verdict.keyword == "MERGE":
            return self._execute_merge(sql)
        try:
            df = self._plan(sql, verdict, limit)
            collected = df.collect()
        except Exception as exc:  # parse/analysis/runtime errors -> error envelope
            return ExecutionResult(success=False, error=str(exc)[:2000])
        columns = list(df.columns)
        rows = [{c: scalarize(v) for c, v in row.asDict().items()} for row in collected]
        return ExecutionResult(
            success=True, columns=columns, rows=rows, row_count=len(rows)
        )

    def _execute_merge(self, sql: str) -> ExecutionResult:
        """Route star-form ``MERGE INTO`` to the parquet upsert
        (``sources/mutations.merge_parquet``). Runs only after the
        safety gate has passed the statement as an allowed write.
        Returns the affected rowcount like the reference's non-SELECT
        branch (``db_connector.py:244-251``); the single summary row
        breaks out updated vs inserted."""
        import os

        from etl_generator_demo_spark.plans.merge import UnsupportedMergeError, parse_merge
        from etl_generator_demo_spark.sources.mutations import merge_parquet, recover_staged

        if self.catalog is None:
            return ExecutionResult(
                success=False,
                error="MERGE routing requires an engine catalog (parquet table paths)",
            )
        try:
            spec = parse_merge(sql)
        except UnsupportedMergeError as exc:
            return ExecutionResult(success=False, error=f"MERGE not routable: {exc}")
        path = self.catalog.path(spec.target)
        # heal the staged-swap crash window first (table parked at
        # `path + '.old'` by an interrupted swap) so a crashed merge
        # stays routable through the front door (r8 advice)
        recover_staged(path)
        if not (os.path.exists(path) or os.path.isdir(path)):
            return ExecutionResult(
                success=False, error=f"MERGE target {spec.target!r} is not a catalog table"
            )
        try:
            if spec.source_sql is not None:
                source = self.spark.sql(spec.source_sql)
            else:
                source = self.spark.table(spec.source_table)
            n_updated, n_inserted = merge_parquet(
                self.spark, path, source, list(spec.key_cols)
            )
        except Exception as exc:
            return ExecutionResult(success=False, error=str(exc)[:2000])
        # the swap replaced the files under `path` (a single-file
        # fixture becomes a directory): refresh the cached listing AND
        # re-register any existing view, whose resolved relation still
        # pins the old leaf files
        self.spark.catalog.refreshByPath(path)
        try:
            if self.spark.catalog.tableExists(spec.target):
                self.catalog.register_views((spec.target,))
        except Exception:
            pass  # view refresh is best-effort; the table itself is swapped
        self.catalog.invalidate()
        return ExecutionResult(
            success=True,
            columns=["n_updated", "n_inserted"],
            rows=[{"n_updated": n_updated, "n_inserted": n_inserted}],
            row_count=n_updated + n_inserted,
        )

