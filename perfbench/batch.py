"""``batch``: the write side and the registered pipeline queries, one client.

One pass runs, in a fixed order:

1. five ETL specs through ``etl.ETLPipelineExecutor.run`` (fill_nulls,
   cast, standardize_dates, derive, join (broadcast and shuffled), expect,
   dedup, filter, select; overwrite, append and one partitioned parquet
   load; one SQL extract; one text spec: quality_filter, redact_pii,
   near_dedup);
2. a star-form ``MERGE INTO`` through ``ExecutionEngine.execute`` with
   writes allowed and a catalog;
3. front-door read-backs of every loaded table via ``api.execute_endpoint``;
4. three registered sf0.1 queries, each built and collected once: two
   whose build runs Spark jobs in Python loops (BPE merges; exactly-once
   streaming commits into the transaction log), one whose time is Spark
   execution.

All writes go to a per-run copy inside the run directory. Spec
parameters and the MERGE key subset come from the seed. Every load is
checked by row count and content hash against DuckDB over the same
parquet, the read-backs and the MERGE reply against DuckDB, and the
queries against their registered oracle in the canonical form of
``tools/oracle_check.py``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import checks, tracing
from perfbench.harness import (
    CORES,
    Result,
    calibration_s,
    cpu_s,
    median,
    peak_rss_mb,
    percentile,
    success_share,
)

#: Registered queries of a pass: ones whose build runs Spark jobs in
#: Python loops, then one whose time is Spark execution (the pass's
#: near_dedup ETL step covers the MinHash/LSH execution path).
BUILD_HEAVY = ("x4_bpe_merge_steps", "st_txlog_exactly_once")
EXEC_HEAVY = ("q1_pricing_summary",)
PIPELINE_QUERIES = BUILD_HEAVY + EXEC_HEAVY

SOURCE_TABLES = ("orders", "lineitem", "customer", "documents")
ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority")
#: Documents of the text spec: a fixed count at a seeded offset, so the
#: seed changes which documents, not how much work.
N_DOCS = 550
#: Seed of the warm-up pass, which runs on the small fixture.
WARMUP_SEED = 7_000_002


# --------------------------------------------------------------------------
# the seeded plan of one pass


@dataclass
class Load:
    name: str
    spec: dict
    expected_sql: str  # DuckDB, over the source tables, in output column order
    columns: tuple[str, ...]
    inputs: tuple[str, ...]  # source tables read, for the bytes ratio
    partitioned: bool = False


@dataclass
class Plan:
    loads: list[Load]
    merge_sql: str
    merge_source_sql: str  # DuckDB
    merge_counts: tuple[int, int]  # (updated, inserted) on a fresh target
    readbacks: list[str] = field(default_factory=list)


def _ts(year: int) -> str:
    return f"TIMESTAMP '{year}-01-01 00:00:00'"


def make_plan(seed: int, corpus: int = 5_000) -> Plan:
    """The seed's pass over a fixture of ``corpus`` documents."""
    rng = random.Random(seed)
    y1 = rng.randrange(1995, 1999)
    y2, y3 = y1 + 1, y1 + 2
    band = rng.choice((10_000, 25_000, 50_000))
    seg = rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
    ship_year = rng.randrange(1995, 2001)
    doc0 = rng.randrange(0, max(1, corpus - N_DOCS))
    min_q = rng.choice((0.33, 0.35, 0.37, 0.4))
    min_orders = rng.randrange(2, 5)
    rev_year = rng.randrange(1995, 2000)
    mod, rem = rng.choice((60, 75, 90)), rng.randrange(0, 60)
    n_new = rng.randrange(800, 1200)

    ocols = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "order_day",
             "price_band", "o_orderpriority", "c_mktsegment")

    def orders_spec(target, mode, lo, hi):
        return {
            "extract": {"source_tables": ["orders"],
                        "conditions": [f"o_orderdate >= {_ts(lo)}", f"o_orderdate < {_ts(hi)}"]},
            "transform": {"steps": [
                {"op": "fill_nulls", "columns": {"o_orderpriority": "UNKNOWN"}},
                {"op": "cast", "columns": {"o_custkey": "int"}},
                {"op": "standardize_dates", "column": "o_orderdate", "target": "order_day"},
                {"op": "derive", "column": "price_band",
                 "expr": f"CAST(floor(o_totalprice / {band}) AS BIGINT)"},
                {"op": "derive", "column": "c_custkey", "expr": "o_custkey"},
                {"op": "join", "table": "customer", "on": ["c_custkey"], "how": "inner",
                 "broadcast": True},
                {"op": "filter", "condition": f"c_mktsegment <> '{seg}'"},
                {"op": "expect", "condition": "o_totalprice > 0"},
                {"op": "select", "columns": list(ocols)},
                {"op": "dedup", "columns": list(ocols)},
            ]},
            "load": {"target_table": target, "write_mode": mode},
        }

    orders_sql = (
        "SELECT DISTINCT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey, o_orderstatus, "
        "o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS order_day, "
        f"CAST(floor(o_totalprice / {band}) AS BIGINT) AS price_band, "
        "coalesce(o_orderpriority, 'UNKNOWN') AS o_orderpriority, c_mktsegment "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE c_mktsegment <> '{seg}' AND o_orderdate >= {{lo}} AND o_orderdate < {{hi}}"
    )
    loads = [
        Load("orders_clean", orders_spec("orders_clean", "overwrite", y1, y2),
             orders_sql.format(lo=_ts(y1), hi=_ts(y2)), ocols, ("orders", "customer")),
        # appends to orders_clean: the expected table is both slices
        Load("orders_append", orders_spec("orders_clean", "append", y2, y3),
             f"({orders_sql.format(lo=_ts(y1), hi=_ts(y2))}) UNION ALL "
             f"({orders_sql.format(lo=_ts(y2), hi=_ts(y3))})", ocols, ("orders", "customer")),
        Load("lineitem_by_flag", {
            "extract": {"source_tables": ["lineitem"],
                        "conditions": [f"l_shipdate >= {_ts(ship_year)}",
                                       f"l_shipdate < {_ts(ship_year + 1)}"]},
            "transform": {"steps": [
                {"op": "derive", "column": "net", "expr": "l_extendedprice * (1 - l_discount)"},
                {"op": "standardize_dates", "column": "l_shipdate", "target": "ship_day"},
                {"op": "derive", "column": "o_orderkey", "expr": "l_orderkey"},
                {"op": "join", "table": "orders", "on": ["o_orderkey"], "how": "inner"},
                {"op": "select", "columns": ["l_orderkey", "l_linenumber", "net", "ship_day",
                                             "o_orderpriority", "l_returnflag"]},
            ]},
            "load": {"target_table": "lineitem_by_flag", "write_mode": "overwrite",
                     "partition_by": ["l_returnflag"]},
        }, "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net, "
           "strftime(l_shipdate, '%Y-%m-%d') AS ship_day, o_orderpriority, l_returnflag "
           "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
           f"WHERE l_shipdate >= {_ts(ship_year)} AND l_shipdate < {_ts(ship_year + 1)}",
           ("l_orderkey", "l_linenumber", "net", "ship_day", "o_orderpriority", "l_returnflag"),
           ("lineitem", "orders"), partitioned=True),
        Load("docs_text", {
            "extract": {"source_tables": ["documents"],
                        "conditions": [f"doc_id >= {doc0}", f"doc_id < {doc0 + N_DOCS}"]},
            "transform": {"steps": [
                {"op": "quality_filter", "text_col": "text", "min_score": min_q},
                {"op": "redact_pii", "text_col": "text"},
                {"op": "near_dedup", "id_col": "doc_id", "text_col": "text"},
            ]},
            "load": {"target_table": "docs_text", "write_mode": "overwrite"},
        }, json.dumps({"doc0": doc0, "min_q": min_q}),  # built by _docs_expected
           ("doc_id", "text", "lang", "source", "n_chars"), ("documents",)),
        Load("revenue_extract", {
            "extract": {"sql": "SELECT o_custkey, year(o_orderdate) AS yr, count(*) AS n_orders, "
                               "sum(CAST(floor(o_totalprice) AS BIGINT)) AS total "
                               f"FROM orders WHERE o_orderdate >= {_ts(rev_year)} "
                               "GROUP BY o_custkey, year(o_orderdate)"},
            "transform": {"steps": [
                {"op": "filter", "condition": f"n_orders >= {min_orders}"},
                {"op": "derive", "column": "avg_floor", "expr": "total div n_orders"},
            ]},
            "load": {"target_table": "revenue_extract", "write_mode": "overwrite"},
        }, "SELECT o_custkey, year(o_orderdate) AS yr, count(*) AS n_orders, "
           "sum(CAST(floor(o_totalprice) AS BIGINT)) AS total, "
           "sum(CAST(floor(o_totalprice) AS BIGINT)) // count(*) AS avg_floor "
           f"FROM orders WHERE o_orderdate >= {_ts(rev_year)} "
           f"GROUP BY o_custkey, year(o_orderdate) HAVING count(*) >= {min_orders}",
           ("o_custkey", "yr", "n_orders", "total", "avg_floor"), ("orders",)),
    ]
    cols = ", ".join(ORDERS_COLS)
    src_spark = (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1.5 AS o_totalprice, "
        f"o_orderdate, 'MERGED' AS o_orderpriority FROM orders WHERE o_orderkey % {mod} = {rem} "
        f"UNION ALL SELECT o_orderkey + 1000000 AS o_orderkey, {cols.replace('o_orderkey, ', '')} "
        f"FROM orders WHERE o_orderkey < {n_new}"
    )
    merge_sql = (
        f"MERGE INTO orders_m t USING ({src_spark}) s ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    n_upd = len(range(rem, 150_000, mod))
    readbacks = [
        "SELECT c_mktsegment, count(*) AS n, count(DISTINCT o_orderkey) AS n_keys, "
        "sum(price_band) AS bands FROM orders_clean GROUP BY c_mktsegment ORDER BY c_mktsegment",
        "SELECT l_returnflag, count(*) AS n, count(DISTINCT ship_day) AS days "
        "FROM lineitem_by_flag GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT count(*) AS n, min(doc_id) AS first_doc, max(doc_id) AS last_doc, "
        "sum(n_chars) AS chars FROM docs_text",
        "SELECT o_orderpriority, count(*) AS n, sum(CAST(floor(o_totalprice) AS BIGINT)) AS t "
        "FROM orders_m GROUP BY o_orderpriority ORDER BY o_orderpriority",
    ]
    return Plan(loads, merge_sql, src_spark, (n_upd, n_new), readbacks)


# --------------------------------------------------------------------------
# running a pass


@dataclass
class Op:
    kind: str  # load | merge | readback | query
    name: str
    seconds: float
    rows_written: int = 0
    reply: dict | None = None
    pandas: object = None


class Workspace:
    """The per-run copy: source tables, the MERGE target and the loads."""

    def __init__(self, spark, base: Path, sf_dir: str):
        from etl_generator_demo_spark.catalog import Catalog
        from etl_generator_demo_spark.engine import ExecutionEngine
        from etl_generator_demo_spark.etl import ETLPipelineExecutor

        self.spark, self.sf_dir = spark, sf_dir
        self.data, self.out = base / "data", base / "out"
        shutil.rmtree(base, ignore_errors=True)
        self.data.mkdir(parents=True)
        self.out.mkdir(parents=True)
        for t in SOURCE_TABLES:
            shutil.copyfile(f"{sf_dir}/{t}.parquet", self.data / f"{t}.parquet")
        self.catalog = Catalog(spark, str(self.data))
        self.etl = ETLPipelineExecutor(spark, self.catalog, str(self.out))
        self.writer = ExecutionEngine(spark, allow_writes=True, catalog=self.catalog)
        self.reset_merge_target()

    @property
    def merge_target(self) -> Path:
        return self.data / "orders_m.parquet"

    def reset_merge_target(self) -> None:
        p = self.merge_target
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
        shutil.copyfile(self.data / "orders.parquet", p)
        self.spark.catalog.refreshByPath(str(p))
        self.catalog.register_views(("orders_m",))


def run_pass(ws: Workspace, plan: Plan, state, registry, tracer, queries) -> list[Op]:
    """One pass; the caller resets the MERGE target before it."""
    from etl_generator_demo_spark import api

    ops: list[Op] = []
    for load in plan.loads:
        t0 = time.perf_counter()
        with tracer.span("op", req=f"load:{load.name}"):
            res = ws.etl.run(load.spec)
        ops.append(Op("load", load.name, time.perf_counter() - t0, res.rows_written))
    t0 = time.perf_counter()
    with tracer.span("op", req="merge"):
        reply = ws.writer.execute(plan.merge_sql).to_dict()
    ops.append(Op("merge", "merge", time.perf_counter() - t0,
                  reply.get("row_count", 0) if reply.get("success") else 0, reply))
    for i, sql in enumerate(plan.readbacks):
        t0 = time.perf_counter()
        with tracer.span("op", req=f"readback:{i}"):
            out = api.execute_endpoint(state, {"sql": sql, "limit": 50})
            json.dumps(out)
        ops.append(Op("readback", str(i), time.perf_counter() - t0, reply=out))
    for name in queries:
        fn = registry[name].fn
        t0 = time.perf_counter()
        with tracer.span("op", req=f"query:{name}"):
            with tracer.span("operators.build"):
                df = fn(ws.spark, ws.sf_dir)
            with tracer.span("spark.exec"):
                pdf = df.toPandas()
        ops.append(Op("query", name, time.perf_counter() - t0, pandas=pdf))
    return ops


def warm(ws: Workspace, plan: Plan, state, registry, queries) -> None:
    """JIT warm-up: every operation of a pass once, on the small fixture.
    Independent chains run in CORES threads (the work is compilation,
    CPU-bound and per plan shape); read-backs follow the loads."""
    from etl_generator_demo_spark import api

    loads = {load.name: load.spec for load in plan.loads}
    run = ws.etl.run
    tasks = [lambda: run(loads["docs_text"])]  # the longest first
    tasks += [lambda q=q: registry[q].fn(ws.spark, ws.sf_dir).toPandas() for q in queries]
    tasks += [lambda: (run(loads["orders_clean"]), run(loads["orders_append"])),
              lambda: run(loads["lineitem_by_flag"]),
              lambda: run(loads["revenue_extract"]), lambda: ws.writer.execute(plan.merge_sql)]
    with ThreadPoolExecutor(CORES) as pool:
        for fut in [pool.submit(t) for t in tasks]:
            fut.result()
    for sql in plan.readbacks:
        api.execute_endpoint(state, {"sql": sql, "limit": 50})


# --------------------------------------------------------------------------
# correctness


def _oracle_canon():
    """The canonical form of ``tools/oracle_check.py``."""
    root = Path(__file__).resolve().parent.parent
    sp = importlib.util.spec_from_file_location("_oracle_check", root / "tools" / "oracle_check.py")
    mod = importlib.util.module_from_spec(sp)
    sp.loader.exec_module(mod)
    return mod.canon


class Expected:
    def __init__(self, sf_dir: str, plan: Plan):
        from etl_generator_demo_spark.catalog import TABLES

        self.con = checks.connect(sf_dir, TABLES)
        self.plan = plan
        for load in plan.loads:
            if load.name == "docs_text":
                self._docs_expected(load)
        # read-backs see the expected tables under the load names
        for load in plan.loads:
            if load.name != "orders_clean":  # the append's view covers both slices
                target = load.spec["load"]["target_table"]
                self.con.execute(f"CREATE OR REPLACE VIEW {target} AS {load.expected_sql}")
        self.con.execute(f"CREATE OR REPLACE VIEW orders_m AS {self.merged_sql()}")

    def _docs_expected(self, load: Load) -> None:
        """quality_filter -> redact_pii -> near_dedup in DuckDB: the
        registered oracles of the quality score and of near-dup clusters,
        each run over the subset the spec's earlier steps leave."""
        from etl_generator_demo_spark.operators.textops import PII_PATTERNS
        from etl_generator_demo_spark.registry import load_all

        reg = load_all()
        p = json.loads(load.expected_sql)
        docs = f"doc_id >= {p['doc0']} AND doc_id < {p['doc0'] + N_DOCS}"
        text = "text"
        for kind, pat in PII_PATTERNS.items():
            text = f"regexp_replace({text}, '{pat}', '[{kind.upper()}]', 'g')"
        c = self.con
        c.execute("CREATE SCHEMA IF NOT EXISTS docsub")
        c.execute("CREATE SCHEMA IF NOT EXISTS docq")
        c.execute("CREATE OR REPLACE VIEW docsub.documents AS "
                  f"SELECT * FROM main.documents WHERE {docs}")
        c.execute("SET search_path = 'docsub,main'")
        c.execute("CREATE OR REPLACE TABLE main.docs_quality AS "
                  f"SELECT doc_id FROM ({reg['x4_quality_and_lang'].oracle}) "
                  f"WHERE quality >= {p['min_q']}")
        c.execute("CREATE OR REPLACE VIEW docq.documents AS "
                  f"SELECT doc_id, {text} AS text, lang, source, n_chars FROM main.documents "
                  f"WHERE {docs} AND doc_id IN (SELECT doc_id FROM main.docs_quality)")
        c.execute("SET search_path = 'docq,main'")
        c.execute("CREATE OR REPLACE TABLE main.docs_keep AS "
                  f"SELECT doc_id FROM ({reg['x2_dedup_clusters'].oracle}) WHERE is_keep")
        c.execute("SET search_path = 'main'")
        c.execute("CREATE OR REPLACE TABLE main.docs_expected AS SELECT * FROM docq.documents "
                  "WHERE doc_id IN (SELECT doc_id FROM main.docs_keep)")
        load.expected_sql = "SELECT doc_id, text, lang, source, n_chars FROM main.docs_expected"

    def merged_sql(self) -> str:
        src = self.plan.merge_source_sql
        return (f"SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ({src})) "
                f"UNION ALL {src}")

    def table(self, sql: str, cols) -> tuple[int, int]:
        return checks.table_digest(self.con, f"({sql})", cols)


def written(con, path: Path, cols, partitioned: bool) -> tuple[int, int]:
    """Row count and digest of a table as the program wrote it."""
    src = (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)" if partitioned
           else f"read_parquet('{path}/*.parquet')")
    return checks.table_digest(con, src, cols)


def check_pass(ops: list[Op], plan: Plan, ws: Workspace, exp: Expected, canon, registry,
               res: Result) -> None:
    """Check every operation of the pass whose outputs are on disk."""
    by_load = {load.name: load for load in plan.loads}
    for op in ops:
        res.attempted += 1
        why = None
        if op.kind == "load":
            load = by_load[op.name]
            want = exp.table(load.expected_sql, load.columns)
            if op.name == "orders_clean":
                # the append that follows checks the table; this load's
                # own rows are the first slice
                _, first = checks.duck_rows(
                    exp.con, f"SELECT count(*) FROM ({plan.loads[0].expected_sql})")
                if op.rows_written != first[0][0]:
                    why = f"load orders_clean: {op.rows_written} rows, expected {first[0][0]}"
            else:
                target = load.spec["load"]["target_table"]
                got = written(exp.con, ws.out / target, load.columns, load.partitioned)
                if got != want:
                    why = f"load {op.name}: wrote {got[0]} rows, expected {want[0]} (or content)"
        elif op.kind == "merge":
            r = op.reply or {}
            upd, ins = plan.merge_counts
            rows = r.get("rows") or [{}]
            if not r.get("success") or rows[0] != {"n_updated": upd, "n_inserted": ins}:
                why = f"merge reply {str(r)[:200]}"
            elif (written(exp.con, ws.merge_target, ORDERS_COLS, False)
                  != exp.table(exp.merged_sql(), ORDERS_COLS)):
                why = "merge: target content differs"
        elif op.kind == "readback":
            sql = plan.readbacks[int(op.name)]
            out = op.reply or {}
            cols, want = checks.duck_rows(exp.con, sql)
            got = [[r[c] for c in cols] for r in out.get("rows", [])] if out.get("success") else None
            if got is None or out.get("columns") != cols or not checks.same_rows(got, want, True):
                why = f"readback {sql[:80]}: {str(out)[:200]}"
        else:
            try:
                want = canon(exp.con.execute(registry[op.name].oracle).fetchdf())
                got = canon(op.pandas)
                if got != want:
                    why = f"query {op.name}: {len(got[1])} rows differ from its oracle's {len(want[1])}"
            except Exception as exc:  # an uncanonicalizable result is a failure too
                why = f"query {op.name}: {exc!r}"
        if why:
            res.fail(why)


def check_same(ops: list[Op], checked: list[Op], canon, res: Result) -> None:
    """Hold an earlier pass to the checked pass's answers (its loads were
    overwritten since)."""
    for b, a in zip(ops, checked):
        res.attempted += 1
        if b.kind == "query":
            same = canon(b.pandas) == canon(a.pandas)
        elif b.kind == "load":
            same = b.rows_written == a.rows_written
        else:
            same = b.reply == a.reply
        if not same:
            res.fail(f"{b.kind} {b.name}: result differs between passes")


# --------------------------------------------------------------------------
# the workload


def _input_bytes(ws: Workspace, load: Load) -> int:
    return sum(os.path.getsize(ws.data / f"{t}.parquet") for t in load.inputs)


def _output(ws: Workspace, target: str) -> tuple[int, int]:
    """(bytes, files) of a load's data files."""
    n = size = 0
    for dirpath, _, files in os.walk(ws.out / target):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return size, n


def run(r) -> Result:
    from etl_generator_demo_spark.registry import load_all

    registry = load_all()
    queries = PIPELINE_QUERIES
    null = tracing.NullTracer()

    def warmup():
        ws = Workspace(r.spark, r.work / "warm", r.small_sf_dir)
        # the small fixture holds 500 documents
        warm(ws, make_plan(WARMUP_SEED, corpus=500), r.state, registry, queries)
        shutil.rmtree(r.work / "warm", ignore_errors=True)

    r.start(warmup=warmup)
    ws = Workspace(r.spark, r.work / "batch", r.sf_dir)
    plan = make_plan(r.seed)

    cpu_per_pass: list[float] = []

    def timed_pass(tracer) -> tuple[float, list[Op]]:
        ws.reset_merge_target()
        c0, t0 = cpu_s(), time.perf_counter()
        ops = run_pass(ws, plan, r.state, registry, tracer, queries)
        cpu_per_pass.append(cpu_s() - c0)
        return time.perf_counter() - t0, ops

    # passes while the next one fits in the window (at least one); the
    # memory figure is taken after the first, off the clock
    passes: list[tuple[float, list[Op]]] = []
    while not passes or (not r.trace and sum(p for p, _ in passes) + passes[-1][0] <= r.seconds):
        passes.append(timed_pass(null))
        if len(passes) == 1:
            r.probe_memory()
    traced: list[tuple[float, list[Op]]] = []
    if r.trace:
        # untraced, then traced: the difference is the tracing overhead (a
        # third pass to cancel drift would take the run near its time limit)
        tracer = tracing.Tracer(r.spark)
        restore = tracing.install(tracer)
        try:
            traced.append(timed_pass(tracer))
        finally:
            restore()
        tracer.resolve(tracer.spans)
    r.context["calibration_end_s"] = calibration_s(r.spark)
    r.context["process.peak_rss_mb"] = peak_rss_mb(r.jvm_pid())

    # the last pass's loads are on disk: check it in full, and hold the
    # others to its answers
    res = Result()
    t0 = time.perf_counter()
    canon = _oracle_canon()
    *others, (_, checked) = passes + traced
    check_pass(checked, plan, ws, Expected(r.sf_dir, plan), canon, registry, res)
    for _, ops in others:
        check_same(ops, checked, canon, res)

    r.context["check_s"] = time.perf_counter() - t0
    pass_s = [p for p, _ in passes]
    r.context.update(passes=len(passes), pass_s=pass_s,
                     ops_s={f"{op.kind}:{op.name}": op.seconds for op in passes[-1][1]})
    if r.trace:
        traced_s, traced_ops = traced[0]
        res.metrics = layer_metrics(tracer, traced_ops, ws, plan, traced_s - median(pass_s))
        res.metrics["batch.pass_s"] = (median(pass_s), "s")
        tracer.dump(r.out / f"spans-{r.workload}-seed{r.seed}.jsonl")
        return res
    # a batch user waits for the whole pass: it is the unit of latency here
    pass_ms = [p * 1000 for p in pass_s]
    n_ops = sum(len(ops) for _, ops in passes)
    res.metrics = {
        "setup_s": (r.setup["setup_s"], "s"),
        "latency_p50_ms": (median(pass_ms), "ms"),
        "latency_p90_ms": (percentile(pass_ms, 90), "ms"),
        "throughput_rps": (n_ops / sum(pass_s), "1/s"),
        "success_share": (success_share(res.attempted, res.failed), "share"),
        "cpu_ms_per_op": (sum(cpu_per_pass) * 1000 / n_ops, "ms"),
        "memory_mb": (r.memory_mb, "MB"),
    }
    return res


def layer_metrics(tracer, ops: list[Op], ws: Workspace, plan: Plan, overhead_s: float) -> dict:
    spans = tracer.spans
    roots = {s.req: s for s in spans if s.name == "op"}
    m: dict[str, tuple[float, str]] = {}
    jobs_per_spec, in_bytes, out_bytes, files = [], 0, 0, 0
    for load in plan.loads:
        root = roots[f"load:{load.name}"]
        m[f"etl.run_s.{load.name}"] = (root.dur, "s")
        jobs_per_spec.append(tracing.subtree_counts(spans, root).get("jobs", 0))
        in_bytes += _input_bytes(ws, load)
    for target in {load.spec["load"]["target_table"] for load in plan.loads}:
        b, n = _output(ws, target)
        out_bytes += b
        files += n
    m["etl.jobs_per_spec"] = (median(jobs_per_spec), "count")
    m["etl.bytes_written_per_input_byte"] = (out_bytes / max(in_bytes, 1), "ratio")
    m["etl.files_written"] = (files, "count")
    merge = [s for s in spans if s.name == "sources.mutations.merge"]
    m["sources.mutations.merge_s"] = (sum(s.dur for s in merge), "s")
    merged_bytes = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(ws.merge_target) for f in fs if f.endswith(".parquet"))
    upd, ins = plan.merge_counts
    rows_after = 150_000 + ins
    user_bytes = (upd + ins) * merged_bytes / rows_after
    m["sources.mutations.bytes_rewritten_per_user_byte"] = (merged_bytes / max(user_bytes, 1), "ratio")
    m["engine.readback_ms"] = (median([roots[f"readback:{i}"].dur * 1000
                                       for i in range(len(plan.readbacks))]), "ms")
    writes = [op for op in ops if op.kind in ("load", "merge")]
    m["etl.rows_written_per_s"] = (sum(op.rows_written for op in writes)
                                   / sum(op.seconds for op in writes), "1/s")
    totals: dict[str, float] = {}
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    for q in PIPELINE_QUERIES:
        root = roots[f"query:{q}"]
        build = next(s for s in children.get(root.id, []) if s.name == "operators.build")
        exe = next(s for s in children.get(root.id, []) if s.name == "spark.exec")
        cb, call = tracing.subtree_counts(spans, build), tracing.subtree_counts(spans, root)
        per = {
            "operators.build_s": build.dur,
            "py4j.round_trips": build.round_trips,
            "spark.jobs_in_build": cb.get("jobs", 0),
            "spark.exec_s": exe.dur,
            "spark.jobs": call.get("jobs", 0),
        }
        for k, v in per.items():
            unit = "s" if k.endswith("_s") else "count"
            m[f"{k}.{q}"] = (v, unit)
            totals[k] = totals.get(k, 0) + v
        totals["spark.stages"] = totals.get("spark.stages", 0) + call.get("stages", 0)
        totals["spark.shuffle_write_bytes"] = (totals.get("spark.shuffle_write_bytes", 0)
                                               + call.get("shuffle_write_bytes", 0))
        totals["spark.spill_bytes"] = totals.get("spark.spill_bytes", 0) + call.get("spill_bytes", 0)
    for k, v in totals.items():
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count"
        m[k] = (v, unit)
    m["trace.pass_overhead_s"] = (overhead_s, "s")
    return m
