"""``frontdoor_read``: the paper's request path under 4 closed-loop clients.

Each client sends its next request only when the previous reply is in
(the reference serves its UI from 4 gunicorn workers, one per core
here). Every request goes through ``api.execute_endpoint`` over the
sf0.1 views; about a tenth start as natural-language requests through
``api.generate_sql_endpoint`` (demo provider). The mix covers the
reference's query classes: selection, global and grouped aggregation,
2-4 table joins, window top-k and CTEs, plus statements the gate must
block and statements that fail analysis. Literals, limits and exact
repeats all come from the seed. The window is whole rounds of the
stream, so every run serves every class at its exact count.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import threading
import time
from dataclasses import dataclass

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

#: Read classes: the reference's selection, aggregation, grouping and
#: joins, plus window top-k and CTEs. They get equal shares: the
#: reference names its classes but keeps no request log to weight them by.
READ_CLASSES = ("scan_range", "filter_topn", "agg_global", "agg_group", "join2", "join3",
                "join4", "window_topk", "cte")
#: Requests of each class per round of the stream: the read classes 15
#: each (75%), NL requests 10%, statements to block 10%, analysis errors 5%.
MIX = tuple((kind, 15) for kind in READ_CLASSES) + (("nl", 18), ("blocked", 18), ("error", 9))
#: Requests per round. A window is whole rounds, so its mix does not drift
#: with the seed, and one round leaves 18 samples beyond the p90. A round
#: of 180 rather than the 100 that rule needs steadies the median: its
#: sampling noise falls with the square root of the round.
ROUND = sum(n for _, n in MIX)
#: Share of each class's requests that repeat an earlier one exactly.
REPEAT_SHARE = 0.25
#: Literal sets per read class and seed: a bounded working set of
#: distinct statements (so literals also recur beyond the exact repeats).
VARIANTS = 6
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
#: Tables the NL requests name, with the columns a metadata document
#: supplied in the request lists for them.
NL_TABLES = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
}
NL_PHRASES = ("Show the first rows of {t}", "List some {t} records", "Preview the {t} table")
NL_DESTRUCTIVE = ("delete every row of {t}", "drop the {t} table", "update all {t} names")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass(frozen=True)
class Request:
    kind: str
    sql: str = ""  # as sent, explicit LIMIT included
    base_sql: str = ""  # without the explicit LIMIT: what DuckDB runs
    limit: int = 10  # the request's limit field (0 = no auto-limit)
    cap: int = 10  # rows the reply may hold: explicit LIMIT or limit field
    ordered: bool = False  # the SQL orders its rows totally
    nl: str = ""
    table: str = ""


def _ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def _sql_request(kind: str, rng: random.Random) -> tuple[str, bool]:
    """(SQL, ordered) for one read request of class ``kind``."""
    day = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(0, 2400))
    year = rng.randrange(1995, 2001)
    if kind == "scan_range":
        k = rng.randrange(0, 149_000)
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
            f"FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k + rng.randrange(10, 40)}",
            False,
        )
    if kind == "filter_topn":
        return (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
            f"WHERE o_orderpriority = '{rng.choice(PRIORITIES)}' "
            f"AND o_totalprice > {rng.randrange(100, 480) * 1000} "
            "ORDER BY o_totalprice DESC, o_orderkey",
            True,
        )
    if kind == "agg_global" and rng.random() < 0.5:
        return (
            "SELECT count(*) AS n_orders, sum(o_totalprice) AS total, max(o_totalprice) AS top "
            f"FROM orders WHERE o_orderdate >= {_ts(dt.date(year, 1, 1))} "
            f"AND o_orderdate < {_ts(dt.date(year + 1, 1, 1))}",
            True,
        )
    if kind == "agg_global":
        return (
            "SELECT count(*) AS n_lines, sum(l_quantity) AS qty, "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= {_ts(dt.date(year, 1, 1))} "
            f"AND l_shipdate < {_ts(dt.date(year + 1, 1, 1))}",
            True,
        )
    if kind == "agg_group" and rng.random() < 0.5:
        return (
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price "
            f"FROM orders WHERE o_orderdate <= {_ts(day)} "
            "GROUP BY o_orderstatus, o_orderpriority ORDER BY o_orderstatus, o_orderpriority",
            True,
        )
    if kind == "agg_group":
        return (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
            "avg(l_discount) AS avg_disc FROM lineitem "
            f"WHERE l_shipdate <= {_ts(day)} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
            True,
        )
    if kind == "join2":
        return (
            "SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice) AS total "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE o_orderdate >= {_ts(day)} "
            "GROUP BY c_mktsegment ORDER BY c_mktsegment",
            True,
        )
    if kind == "join3":
        return (
            "SELECT o_orderpriority, count(*) AS n, "
            "sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            f"WHERE l_shipdate >= {_ts(day)} "
            f"AND l_shipdate < {_ts(day + dt.timedelta(days=90))} "
            f"AND c_mktsegment = '{rng.choice(SEGMENTS)}' "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority",
            True,
        )
    if kind == "join4":
        return (
            "SELECT n_name, count(*) AS n, sum(l_extendedprice) AS gross "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE l_shipdate >= {_ts(day)} "
            f"AND l_shipdate < {_ts(day + dt.timedelta(days=30))} "
            "GROUP BY n_name ORDER BY n_name",
            True,
        )
    if kind == "window_topk":
        c = rng.randrange(0, 14_900)
        return (
            "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
            "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            f"FROM orders WHERE o_custkey BETWEEN {c} AND {c + rng.randrange(5, 40)}) t "
            f"WHERE rn <= {rng.randrange(1, 4)} ORDER BY o_custkey, rn",
            True,
        )
    if kind == "cte":
        return (
            "WITH spend AS (SELECT o_custkey, sum(o_totalprice) AS total, count(*) AS n "
            f"FROM orders WHERE o_orderdate >= {_ts(dt.date(year, 1, 1))} GROUP BY o_custkey) "
            "SELECT c_mktsegment, count(*) AS n_customers, max(total) AS top_total "
            "FROM spend JOIN customer ON o_custkey = c_custkey "
            f"WHERE n >= {rng.randrange(1, 6)} GROUP BY c_mktsegment ORDER BY c_mktsegment",
            True,
        )
    raise ValueError(kind)


def _blocked_sql(rng: random.Random) -> str:
    k = rng.randrange(0, 150_000)
    t = rng.choice(TABLES)
    return rng.choice((
        f"DROP TABLE {t}",
        f"DELETE FROM orders WHERE o_orderkey = {k}",
        f"INSERT INTO region VALUES ({k}, 'X')",
        f"UPDATE customer SET c_acctbal = 0 WHERE c_custkey = {k}",
        f"CREATE TABLE copy_{k} AS SELECT * FROM {t}",
        f"TRUNCATE TABLE {t}",
        f"WITH k AS (SELECT {k} AS id) DELETE FROM orders WHERE o_orderkey IN (SELECT id FROM k)",
    ))


def _error_sql(rng: random.Random) -> str:
    k = rng.randrange(0, 150_000)
    return rng.choice((
        f"SELECT l_nope FROM lineitem WHERE l_orderkey = {k}",
        f"SELECT * FROM orders_{k}",
        f"SELECT o_orderkey, count(*) FROM orders WHERE o_custkey = {k % 15_000} GROUP BY o_custkey",
    ))


def make_request(rng: random.Random, seed: int, kind: str) -> Request:
    if kind == "nl":
        t = rng.choice(sorted(NL_TABLES))
        phrases = NL_DESTRUCTIVE if rng.random() < 0.2 else NL_PHRASES
        return Request("nl", nl=rng.choice(phrases).format(t=t), table=t, limit=10, cap=10)
    if kind == "blocked":
        sql = _blocked_sql(rng)
        return Request("blocked", sql=sql, base_sql=sql)
    if kind == "error":
        sql = _error_sql(rng)
        return Request("error", sql=sql, base_sql=sql)
    base, ordered = _sql_request(kind, random.Random(f"{seed}/{kind}/{rng.randrange(VARIANTS)}"))
    limit = rng.choice((10, 50, 0))
    if limit:
        return Request(kind, base, base, limit, limit, ordered)
    cap = rng.choice((5, 20, 100))
    return Request(kind, f"{base} LIMIT {cap}", base, 0, cap, ordered)


def make_requests(seed: int, n: int) -> list[Request]:
    """The seed's request stream: rounds of ROUND requests in shuffled
    order, each class at its count in MIX; REPEAT_SHARE of a class's
    requests repeat an earlier request of that class exactly."""
    rng = random.Random(seed)
    slots = [kind for kind, n in MIX for _ in range(n)]
    seen: dict[str, list[Request]] = {kind: [] for kind, _ in MIX}
    out: list[Request] = []
    while len(out) < n:
        rng.shuffle(slots)
        for kind in slots:
            if seen[kind] and rng.random() < REPEAT_SHARE:
                out.append(rng.choice(seen[kind]))
            else:
                out.append(make_request(rng, seed, kind))
                seen[kind].append(out[-1])
    return out[:n]


def nl_metadata(table: str) -> dict:
    """A request-supplied metadata document naming one table."""
    cols = [{"column_name": c, "data_type": "string"} for c in NL_TABLES[table]]
    return {
        "db_type": "spark",
        "schema_summary": {"tables": [{"table_name": table, "columns": cols}], "relationships": []},
        "constraints": {},
    }


# --------------------------------------------------------------------------
# serving


@dataclass
class Reply:
    req: Request
    rid: int
    latency: float
    nbytes: int
    generated: dict | None
    out: dict | None


def serve(state, req: Request, tracer, rid: int) -> Reply:
    """One request, as a UI client makes it; the reply is JSON-encoded as
    the HTTP layer would. Latency covers all of it."""
    from etl_generator_demo_spark import api

    t0 = time.perf_counter()
    generated = None
    with tracer.span("request", req=rid):
        if req.kind == "nl":
            body = {"request": req.nl, "provider": "demo"}
            if req.table != "region":
                body["database_info"] = nl_metadata(req.table)
            generated = api.generate_sql_endpoint(state, body)
            with tracer.span("api.json_encode"):
                nbytes = len(json.dumps(generated))
            out = None
            if generated.get("sql") and not generated.get("is_blocked"):
                out = api.execute_endpoint(state, {"sql": generated["sql"], "limit": req.limit})
                with tracer.span("api.json_encode"):
                    nbytes += len(json.dumps(out))
        else:
            out = api.execute_endpoint(state, {"sql": req.sql, "limit": req.limit})
            with tracer.span("api.json_encode"):
                nbytes = len(json.dumps(out))
    return Reply(req, rid, time.perf_counter() - t0, nbytes, generated, out)


def closed_loop(state, reqs: list[Request], tracer, rid0: int = 0):
    """Serve all of reqs from CORES clients; each client takes the next
    unsent request when its previous reply is in. Returns (replies in
    completion order, elapsed seconds)."""
    replies: list[Reply] = []
    lock = threading.Lock()
    errors: list[BaseException] = []
    todo = iter(range(len(reqs)))

    def client() -> None:
        try:
            while True:
                with lock:
                    j = next(todo, None)
                if j is None:
                    return
                r = serve(state, reqs[j], tracer, rid0 + j)
                with lock:
                    replies.append(r)
        except Exception as exc:  # re-raised after the join
            errors.append(exc)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(CORES)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return replies, time.perf_counter() - t0


def window(state, reqs: list[Request], seconds: float, tracer, after_first=None):
    """Whole rounds of the stream while the next one fits in ``seconds``
    (at least one). ``after_first`` runs between the first and second
    round, off the clock. Returns (replies, elapsed seconds, CPU seconds)."""
    replies: list[Reply] = []
    elapsed = cpu = 0.0
    n = 0
    while n == 0 or (elapsed + elapsed / n <= seconds and (n + 1) * ROUND <= len(reqs)):
        c0 = cpu_s()
        got, dt = closed_loop(state, reqs[n * ROUND:(n + 1) * ROUND], tracer, n * ROUND)
        cpu += cpu_s() - c0
        replies += got
        elapsed += dt
        n += 1
        if n == 1 and after_first is not None:
            after_first()
    return replies, elapsed, cpu


# --------------------------------------------------------------------------
# correctness


class Expected:
    """DuckDB answers per distinct SQL, computed after the timed window."""

    def __init__(self, sf_dir: str):
        self.con = checks.connect(sf_dir, TABLES)
        self.cache: dict[str, tuple[list[str], list[list]]] = {}

    def rows(self, sql: str):
        if sql not in self.cache:
            self.cache[sql] = checks.duck_rows(self.con, sql)
        return self.cache[sql]


def check(reply: Reply, expected: Expected) -> str | None:
    """None when the reply is right, else what is wrong."""
    req, out = reply.req, reply.out
    if req.kind == "blocked":
        ok = out and out.get("success") is False and out.get("is_blocked") is True
        return None if ok else f"not blocked: {req.sql!r}"
    if req.kind == "error":
        ok = (out and out.get("success") is False and not out.get("is_blocked")
              and out.get("error") and out.get("status_code") == 400)
        return None if ok else f"no error envelope: {req.sql!r}"
    if req.kind == "nl":
        g = reply.generated or {}
        if req.nl in {p.format(t=req.table) for p in NL_DESTRUCTIVE}:
            return None if g.get("is_blocked") and g.get("sql") is None else f"NL not blocked: {req.nl!r}"
        cols = list(NL_TABLES[req.table])
        if g.get("is_blocked") or not out or not out.get("success"):
            return f"NL request failed: {req.nl!r}: {g} {out and out.get('error')}"
        if out["columns"] != cols:
            return f"NL columns {out['columns']} != {cols}"
        _, pool = expected.rows(f"SELECT {', '.join(cols)} FROM {req.table}")
        got = [[r[c] for c in cols] for r in out["rows"]]
        ok = len(got) == min(req.cap, len(pool)) and checks.contained(got, pool)
        return None if ok else f"NL rows wrong for {req.table}"
    if not out or not out.get("success"):
        return f"{req.kind} failed: {out and out.get('error', '')[:200]} :: {req.sql}"
    cols, pool = expected.rows(req.base_sql)
    if out["columns"] != cols:
        return f"columns {out['columns']} != {cols} :: {req.sql}"
    got = [[r[c] for c in cols] for r in out["rows"]]
    if req.ordered:
        ok = checks.same_rows(got, pool[: req.cap], ordered=True)
    else:
        ok = len(got) == min(req.cap, len(pool)) and checks.contained(got, pool)
    if out.get("row_count") != len(got):
        ok = False
    return None if ok else f"rows differ :: {req.sql}"


# --------------------------------------------------------------------------
# the workload


#: Fixed warm-up stream (seed-independent): every class at least once.
WARMUP_SEED = 7_000_001


def warmup(state) -> None:
    """One request of every class, from 4 clients."""
    rng = random.Random(WARMUP_SEED)
    reqs = [make_request(rng, WARMUP_SEED, kind) for kind, _ in MIX]
    closed_loop(state, reqs, tracing.NullTracer(), -1000)


def run(r) -> Result:
    r.start(warmup=lambda: warmup(r.state))
    reqs = make_requests(r.seed, 50 * ROUND)
    res = Result()
    if r.trace:
        # one round in quarters: untraced, traced, traced, untraced (the
        # order cancels a steady drift); the difference in median request
        # latency between the two kinds is the tracing overhead. Spark
        # counts are read after the last block, so the traced clients wait
        # on nothing the untraced ones do not.
        tracer = tracing.Tracer(r.spark)
        blocks: dict[bool, list[Reply]] = {False: [], True: []}
        q = ROUND // 4
        for i, traced in enumerate((False, True, True, False)):
            restore = tracing.install(tracer) if traced else None
            try:
                got, _ = closed_loop(r.state, reqs[i * q:(i + 1) * q],
                                     tracer if traced else tracing.NullTracer(), i * q)
            finally:
                if restore:
                    restore()
            blocks[traced] += got
        tracer.resolve(tracer.spans)
        replies = blocks[True]
        all_replies = blocks[False] + blocks[True]
    else:
        # the memory figure is taken after the first round: a fixed amount
        # of work, whatever the number of rounds the window holds
        replies, elapsed, cpu = window(r.state, reqs, r.seconds, tracing.NullTracer(),
                                       after_first=r.probe_memory)
        all_replies = replies
    r.context["calibration_end_s"] = calibration_s(r.spark)
    r.context["process.peak_rss_mb"] = peak_rss_mb(r.jvm_pid())

    t0 = time.perf_counter()
    expected = Expected(r.sf_dir)
    for rep in all_replies:
        res.attempted += 1
        why = check(rep, expected)
        if why:
            res.fail(why)
    r.context["check_s"] = time.perf_counter() - t0

    lat_ms = [rep.latency * 1000 for rep in replies]
    p90 = percentile(lat_ms, 90)
    r.context.update(requests=len(replies), distinct_sql=len(expected.cache),
                     samples_beyond_p90=sum(x > p90 for x in lat_ms),
                     class_p50_ms={kind: median([rep.latency * 1000 for rep in replies
                                                 if rep.req.kind == kind]) for kind, _ in MIX})
    if r.trace:
        overhead = median(lat_ms) - median([rep.latency * 1000 for rep in blocks[False]])
        res.metrics = layer_metrics(tracer, replies, overhead)
        tracer.dump(r.out / f"spans-{r.workload}-seed{r.seed}.jsonl")
        return res
    r.context["window_s"] = elapsed
    res.metrics = {
        "setup_s": (r.setup["setup_s"], "s"),
        "latency_p50_ms": (median(lat_ms), "ms"),
        "latency_p90_ms": (p90, "ms"),
        "throughput_rps": (len(replies) / elapsed, "1/s"),
        "success_share": (success_share(res.attempted, res.failed), "share"),
        "cpu_ms_per_op": (cpu * 1000 / len(replies), "ms"),
        "memory_mb": (r.memory_mb, "MB"),
    }
    return res


#: Layers whose spans make up a request, for the self-time breakdown.
REQUEST_LAYERS = (
    "request", "api.execute_endpoint", "api.generate_sql_endpoint", "generation.generate",
    "engine.execute", "plans.safety.gate", "engine.analyze", "plans.limits.auto_limit",
    "engine.collect", "engine.scalarize", "engine.to_dict", "api.json_encode",
)


def layer_metrics(tracer, replies: list[Reply], overhead_ms: float) -> dict:
    """Per-layer figures of the traced half, as p50 over requests (a layer
    only over the requests that reached it), plus mean self time per
    layer, which adds up to the mean request latency."""
    by_req: dict[int, list] = {}
    for s in tracer.spans:
        by_req.setdefault(s.req, []).append(s)
    per = {k: [] for k in ("gate", "analyze", "limit", "collect", "serialize", "generate",
                           "bytes", "rt", "jobs", "tasks", "busy", "scan_ratio", "shuffle")}
    self_sum = {name: 0.0 for name in REQUEST_LAYERS}
    n = 0
    for rep in replies:
        spans = by_req.get(rep.rid, [])
        root = next((s for s in spans if s.name == "request"), None)
        if root is None:
            continue
        n += 1
        selfs = tracing.self_times(spans)
        for s in spans:
            if s.name in self_sum:
                self_sum[s.name] += selfs[s.id] * 1000

        def total(*names):
            xs = [s.dur * 1000 for s in spans if s.name in names]
            return sum(xs) if xs else None

        for key, names in (("gate", ("plans.safety.gate",)), ("analyze", ("engine.analyze",)),
                           ("limit", ("plans.limits.auto_limit",)), ("collect", ("engine.collect",)),
                           ("generate", ("generation.generate",)),
                           ("serialize", ("engine.scalarize", "engine.to_dict", "api.json_encode"))):
            v = total(*names)
            if v is not None:
                per[key].append(v)
        per["bytes"].append(rep.nbytes)
        per["rt"].append(root.round_trips)
        if any(s.name == "engine.analyze" for s in spans):
            c = tracing.subtree_counts(spans, root)
            per["jobs"].append(c.get("jobs", 0))
            per["tasks"].append(c.get("tasks", 0))
            per["busy"].append(c.get("busy_ms", 0))
            per["shuffle"].append(c.get("shuffle_write_bytes", 0))
            returned = (rep.out or {}).get("row_count") or 0
            per["scan_ratio"].append(c.get("input_records", 0) / max(returned, 1))
    lat_mean = sum(rep.latency for rep in replies) * 1000 / max(len(replies), 1)
    m = {
        "plans.safety.gate_ms": (median(per["gate"]), "ms"),
        "engine.analyze_ms": (median(per["analyze"]), "ms"),
        "plans.limits.auto_limit_ms": (median(per["limit"]), "ms"),
        "engine.serialize_ms": (median(per["serialize"]), "ms"),
        "generation.generate_ms": (median(per["generate"]), "ms"),
        "api.response_bytes": (median(per["bytes"]), "bytes"),
        "py4j.round_trips_per_req": (median(per["rt"]), "count"),
        "engine.collect_ms": (median(per["collect"]), "ms"),
        "spark.jobs_per_req": (median(per["jobs"]), "count"),
        "spark.tasks_per_req": (median(per["tasks"]), "count"),
        "spark.task_busy_ms_per_req": (median(per["busy"]), "ms"),
        "spark.rows_scanned_per_row_returned": (median(per["scan_ratio"]), "ratio"),
        "spark.shuffle_bytes_per_req": (median(per["shuffle"]), "bytes"),
        "request.latency_mean_ms": (lat_mean, "ms"),
        "trace.overhead_ms": (overhead_ms, "ms"),
    }
    for name in REQUEST_LAYERS:
        key = "request.residual_ms" if name == "request" else f"self_ms.{name}"
        m[key] = (self_sum[name] / max(n, 1), "ms")
    return m
