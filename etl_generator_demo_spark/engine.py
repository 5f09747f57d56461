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

A repeated read is served from a bounded result cache instead of
running Spark again (see :class:`ResultCache`). The lookup comes after
the gate, the analysis and the auto-LIMIT, so only the Spark job and
the collect are skipped.
"""

from __future__ import annotations

import copy
import datetime as _dt
import decimal as _decimal
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from etl_generator_demo_spark.plans.limits import apply_auto_limit
from etl_generator_demo_spark.plans.safety import SafetyVerdict, validate_sql_safety

#: API default result limit (reference ``main.py:65``); UI uses 50
#: (``static/js/app.js:495``).
DEFAULT_LIMIT = 10

#: Rows the result cache of one engine holds over all its entries, least
#: recently used evicted first; a result of more than a tenth of this is
#: not cached.
RESULT_CACHE_ROWS = 20_000
#: What an entry counts at least, in rows: it also holds its plan.
_MIN_ENTRY_ROWS = 8
#: Leaves whose output is fixed by the plan itself or by the stamps of
#: the files it lists. ``CTERelationRef`` reads a CTE definition, which
#: is a child of the same plan.
_CACHEABLE_LEAVES = frozenset(
    {"LogicalRelation", "LocalRelation", "OneRowRelation", "Range", "CTERelationRef"}
)


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


def _result(columns: tuple[str, ...], values) -> ExecutionResult:
    rows = [dict(zip(columns, v)) for v in values]
    return ExecutionResult(success=True, columns=list(columns), rows=rows, row_count=len(rows))


@dataclass(frozen=True)
class _Entry:
    plan: Any  # the canonical analyzed plan (a JVM object, never a DataFrame)
    stamps: tuple
    columns: tuple[str, ...]
    values: tuple[tuple, ...]  # scalarized rows, in column order
    nested: bool  # some value is a list or dict: hand out deep copies

    @property
    def size(self) -> int:
        return max(len(self.values), _MIN_ENTRY_ROWS)

    def result(self) -> ExecutionResult:
        return _result(self.columns, copy.deepcopy(self.values) if self.nested else self.values)


class ResultCache:
    """Results of reads, keyed on ``(statement, limit)`` and served only
    while the request's canonical analyzed plan equals the cached one
    (so a view re-registered with another filter, a changed session
    time zone or ANSI mode is a miss), its column names are the cached
    ones, and every input file's stamp still matches (so a MERGE, a
    publish or an in-place rewrite is a miss). Bounded by
    :data:`RESULT_CACHE_ROWS`; safe for concurrent callers, who never
    share a returned container."""

    def __init__(self):
        self._entries: OrderedDict[tuple, _Entry] = OrderedDict()
        self._rows = 0
        self._lock = threading.Lock()
        self._jvm_refs = None  # JVM objects the checks use, looked up once

    def __len__(self) -> int:
        return len(self._entries)

    def stamps(self, plan, jvm) -> tuple | None:
        """``(path, inode, mtime_ns, size)`` of every file a canonical
        analyzed plan reads, or None when its result may change while
        those files do not: a nondeterministic expression or a
        ``now()``-like one anywhere (subqueries included), a leaf that
        is not file-backed, inline or generated (JDBC, RDDs, cached
        relations, commands), or an input that is not a local file
        that stats."""
        if self._jvm_refs is None:
            self._jvm_refs = (
                jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE(),
                jvm.java.lang.Class.forName(
                    "org.apache.spark.sql.execution.datasources.HadoopFsRelation"),
                jvm.scala.collection.immutable.ArraySeq,
            )
        current_like, fs_relation, array_seq = self._jvm_refs
        if not plan.deterministic() or plan.containsPattern(current_like):
            return None
        subqueries = plan.subqueriesAll()
        files: set[str] = set()
        for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
            leaves = p.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                name = leaf.nodeName()
                if name not in _CACHEABLE_LEAVES:
                    return None
                if name == "LogicalRelation":
                    relation = leaf.relation()
                    if not fs_relation.isInstance(relation):
                        return None
                    # a few round trips per table, not one per file
                    joined = array_seq.unsafeWrapArray(relation.inputFiles()).mkString("\n")
                    files.update(joined.split("\n") if joined else ())
        stamps = []
        for uri in sorted(files):
            parsed = urlparse(uri)
            if parsed.scheme not in ("", "file"):
                return None
            path = unquote(parsed.path)
            try:
                st = os.stat(path)
            except OSError:
                return None
            stamps.append((path, st.st_ino, st.st_mtime_ns, st.st_size))
        return tuple(stamps)

    def get(
        self, key: tuple, plan, stamps: tuple, columns: tuple[str, ...]
    ) -> ExecutionResult | None:
        """The cached result of ``key`` if its stamps, its column names
        and its plan all still match the request's. Canonicalization
        erases names, so a view re-registered over the same files with
        a column renamed has an equal plan: the names are compared
        apart."""
        with self._lock:
            entry = self._entries.get(key)
        if (entry is None or entry.stamps != stamps or entry.columns != columns
                or not entry.plan.equals(plan)):
            return None
        with self._lock:
            if self._entries.get(key) is entry:
                self._entries.move_to_end(key)
        return entry.result()

    def put(self, key: tuple, entry: _Entry) -> None:
        if len(entry.values) > RESULT_CACHE_ROWS // 10:
            return
        with self._lock:
            old = self._entries.pop(key, None)
            self._rows += entry.size - (old.size if old else 0)
            self._entries[key] = entry
            while self._rows > RESULT_CACHE_ROWS:
                self._rows -= self._entries.popitem(last=False)[1].size


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
        self._results = ResultCache()

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
        """Run a statement and serialize rows, reference-E2 style. A read
        the result cache can vouch for skips the Spark job and the
        collect; everything before them runs on every request."""
        try:
            sql, verdict = self._admit(sql)
        except BlockedStatementError as exc:
            return ExecutionResult(
                success=False, error=str(exc), is_blocked=True, block_reason=str(exc)
            )
        if verdict.is_write and verdict.keyword == "MERGE":
            return self._execute_merge(sql)
        key = (sql, limit if limit and limit > 0 else 0)
        try:
            df = self._plan(sql, verdict, limit)
            columns = tuple(df.columns)
            stamps = None
            if not verdict.is_write:
                plan = df._jdf.queryExecution().analyzed().canonicalized()
                # stamped BEFORE the collect: a file rewritten meanwhile
                # leaves a stale stamp, which can only miss
                stamps = self._results.stamps(plan, self.spark._jvm)
            if stamps is not None:
                hit = self._results.get(key, plan, stamps, columns)
                if hit is not None:
                    return hit
            collected = df.collect()
        except Exception as exc:  # parse/analysis/runtime errors -> error envelope
            return ExecutionResult(success=False, error=str(exc)[:2000])
        values = tuple(tuple(scalarize(v) for v in row) for row in collected)
        if stamps is None:
            return _result(columns, values)
        entry = _Entry(plan, stamps, columns, values,
                       nested=any(isinstance(x, (list, dict)) for v in values for x in v))
        self._results.put(key, entry)
        return entry.result()

    def _execute_merge(self, sql: str) -> ExecutionResult:
        """Route star-form ``MERGE INTO`` to the parquet upsert
        (``sources/mutations.merge_parquet``). Runs only after the
        safety gate has passed the statement as an allowed write.
        Returns the affected rowcount like the reference's non-SELECT
        branch (``db_connector.py:244-251``); the single summary row
        breaks out updated vs inserted."""
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

