"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench/ -q

The last test starts Spark on the small fixture (about half a minute).
"""

from __future__ import annotations

import json
import random
import re
import time
from pathlib import Path

import pytest

from perfbench import checks, frontdoor, tracing
from perfbench.harness import Result, median, percentile, success_share

ROOT = Path(__file__).resolve().parent.parent


def _benchmark() -> dict:
    path = ROOT / "BENCHMARK.json"
    if not path.exists():
        pytest.skip("no BENCHMARK.json beside the benchmark")
    return json.loads(path.read_text())


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize("q,n", [(90, 100), (90, 101), (90, 160), (95, 200), (95, 1000)])
def test_tail_percentile_leaves_ten_samples_beyond(q, n):
    """p90 from 100 samples on (p95 from 200) has at least ten samples
    above it; the front door's window is sized for 100 requests."""
    xs = random.Random(n).sample(range(100_000), n)
    p = percentile(xs, q)
    assert sum(x > p for x in xs) >= 10
    assert sum(x <= p for x in xs) >= q / 100 * n  # and it is that percentile


def test_window_is_whole_rounds_of_at_least_one(monkeypatch):
    """Whatever the clock says, the window serves at least one full round
    (enough for ten samples beyond the p90), probes memory once after the
    first round, and stops at a round boundary."""
    served = []

    def serve(state, req, tracer, rid):
        time.sleep(0.001)
        served.append(rid)
        return frontdoor.Reply(req, rid, 0.001 * (rid % 97), 10, None, {})

    monkeypatch.setattr(frontdoor, "serve", serve)
    monkeypatch.setattr(frontdoor, "cpu_s", lambda: 0.0)
    reqs = frontdoor.make_requests(5, 3 * frontdoor.ROUND)
    probes = []
    replies, elapsed, _ = frontdoor.window(None, reqs, 0.0, None, lambda: probes.append(len(served)))
    assert sorted(served) == list(range(frontdoor.ROUND))
    assert probes == [frontdoor.ROUND] and elapsed > 0
    lat = [rep.latency for rep in replies]
    assert sum(x > percentile(lat, 90) for x in lat) >= 10
    served.clear()
    replies, _, _ = frontdoor.window(None, reqs, 60.0, None)
    assert len(replies) == len(reqs)  # every round fits; the stream ends the window


def test_tail_percentile_below_the_sample_floor_has_fewer_beyond():
    xs = list(range(90))
    assert sum(x > percentile(xs, 90) for x in xs) < 10


def test_percentile_and_median_small_cases():
    assert percentile([5.0], 95) == 5.0
    assert percentile([1, 2, 3, 4], 50) == 2
    assert median([3, 1, 2]) == 2
    assert median([]) == 0.0


# -- self time ---------------------------------------------------------------


def _span(i, parent, start, end, name="x"):
    return tracing.Span(id=i, parent=parent, name=name, req=1, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 9.0),
             _span(4, 3, 6.0, 7.0)]
    st = tracing.self_times(spans)
    assert st == {1: pytest.approx(4.0), 2: pytest.approx(2.0), 3: pytest.approx(3.0),
                  4: pytest.approx(1.0)}
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 2.0, 6.0), _span(3, 1, 4.0, 8.0),
             _span(4, 1, 9.0, 12.0)]
    assert tracing.self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_subtree_counts_sum_descendants_only():
    spans = [_span(1, None, 0, 1), _span(2, 1, 0, 1), _span(3, 2, 0, 1), _span(4, None, 0, 1)]
    for s, jobs in zip(spans, (1, 2, 4, 8)):
        s.counts = {"jobs": jobs}
    assert tracing.subtree_counts(spans, spans[1]) == {"jobs": 6}
    assert tracing.subtree_counts(spans, spans[0]) == {"jobs": 7}


# -- failure counting ----------------------------------------------------------


def test_success_share_counts_failures_against_attempts():
    res = Result()
    for i in range(8):
        res.attempted += 1
        if i in (2, 5):
            res.fail(f"op {i}")
    assert (res.attempted, res.failed) == (8, 2)
    assert success_share(res.attempted, res.failed) == 0.75
    assert res.failures == ["op 2", "op 5"]
    with pytest.raises(ValueError):
        success_share(0, 0)


class _Expected:
    """Stands in for DuckDB: answers every SQL with fixed rows."""

    def __init__(self, cols, rows):
        self.cols, self.rows_ = cols, rows

    def rows(self, sql):
        return self.cols, self.rows_


def _reply(req, out, generated=None):
    return frontdoor.Reply(req, 1, 0.01, 10, generated, out)


def test_blocked_and_error_envelopes_are_checked():
    blocked = frontdoor.Request("blocked", sql="DROP TABLE orders", base_sql="DROP TABLE orders")
    ok = {"success": False, "error": "x", "is_blocked": True, "block_reason": "x",
          "status_code": 400}
    exp = _Expected([], [])
    assert frontdoor.check(_reply(blocked, ok), exp) is None
    # a statement that should be blocked but ran is a failure
    assert frontdoor.check(_reply(blocked, {"success": True, "rows": []}), exp)
    err = frontdoor.Request("error", sql="SELECT nope FROM t", base_sql="SELECT nope FROM t")
    assert frontdoor.check(_reply(err, {"success": False, "error": "bad", "status_code": 400}),
                           exp) is None
    assert frontdoor.check(_reply(err, ok), exp)  # blocked is not an analysis error


def test_rows_are_compared_ordered_or_contained():
    cols = ["k", "v"]
    pool = [[1, 0.5], [2, 1.5], [3, 2.5]]
    exp = _Expected(cols, pool)
    ordered = frontdoor.Request("filter_topn", "q LIMIT 2", "q", 0, 2, True)
    good = {"success": True, "columns": cols, "row_count": 2,
            "rows": [{"k": 1, "v": 0.5}, {"k": 2, "v": 1.5 + 1e-12}]}
    assert frontdoor.check(_reply(ordered, good), exp) is None
    swapped = dict(good, rows=good["rows"][::-1])
    assert frontdoor.check(_reply(ordered, swapped), exp)
    unordered = frontdoor.Request("scan_range", "q", "q", 10, 10, False)
    some = {"success": True, "columns": cols, "row_count": 3,
            "rows": [{"k": 3, "v": 2.5}, {"k": 1, "v": 0.5}, {"k": 2, "v": 1.5}]}
    assert frontdoor.check(_reply(unordered, some), exp) is None
    foreign = dict(some, rows=some["rows"][:2] + [{"k": 9, "v": 9.0}])
    assert frontdoor.check(_reply(unordered, foreign), exp)


def test_table_digest_ignores_order_but_not_values_or_duplicates():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    a = "(VALUES (1, 'x', 0.1), (2, NULL, 0.2)) t(k, s, v)"
    b = "(VALUES (2, NULL, 0.2), (1, 'x', 0.1)) t(k, s, v)"
    c = "(VALUES (1, 'x', 0.1), (2, NULL, 0.3)) t(k, s, v)"
    d = "(VALUES (1, 'x', 0.1), (1, 'x', 0.1), (2, NULL, 0.2)) t(k, s, v)"
    cols = ("k", "s", "v")
    assert checks.table_digest(con, a, cols) == checks.table_digest(con, b, cols)
    assert checks.table_digest(con, a, cols) != checks.table_digest(con, c, cols)
    assert checks.table_digest(con, d, cols)[1] != checks.table_digest(con, a, cols)[1]


# -- seeded generation -----------------------------------------------------------


def test_request_stream_is_a_function_of_the_seed():
    a, b = frontdoor.make_requests(11, 500), frontdoor.make_requests(11, 500)
    assert a == b
    assert a != frontdoor.make_requests(12, 500)
    # every round of the stream holds each class at its exact count
    for start in range(0, 500 - frontdoor.ROUND + 1, frontdoor.ROUND):
        rnd = a[start:start + frontdoor.ROUND]
        for kind, n in frontdoor.MIX:
            assert sum(r.kind == kind for r in rnd) == n
    # the read classes share equally; NL, blocked and errors are 10/10/5%
    counts = dict(frontdoor.MIX)
    assert len({counts[k] for k in frontdoor.READ_CLASSES}) == 1
    assert [counts[k] / frontdoor.ROUND for k in ("nl", "blocked", "error")] == [0.1, 0.1, 0.05]
    assert len(a) - len(set(a)) >= frontdoor.REPEAT_SHARE * len(a) * 0.8


def test_batch_plan_is_a_function_of_the_seed():
    from perfbench import batch

    assert batch.make_plan(3) == batch.make_plan(3)
    assert batch.make_plan(3) != batch.make_plan(4)
    # the seed picks which documents, never how many
    for seed in range(20):
        docs = json.loads(batch.make_plan(seed).loads[3].expected_sql)["doc0"]
        assert 0 <= docs and docs + batch.N_DOCS <= 5_000


def test_declared_layers_name_the_pass():
    from perfbench import batch

    names = {m["name"] for m in _benchmark()["per_layer"]}
    assert {n for n in names if n.startswith("etl.run_s.")} == {
        f"etl.run_s.{load.name}" for load in batch.make_plan(3).loads}
    for q in batch.PIPELINE_QUERIES:
        assert f"operators.build_s.{q}" in names and f"spark.exec_s.{q}" in names


# -- the declared benchmark --------------------------------------------------------


def test_benchmark_json_meets_the_contract():
    doc = _benchmark()
    assert doc["command"] == ["python3", "perfbench/run.py"] and doc["paths"] == ["perfbench"]
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in doc["workloads"]] + [m["name"] for m in doc["end_to_end"]] + [
        m["name"] for m in doc["per_layer"]]
    assert all(name.match(n) for n in names)
    assert len(set(m["name"] for m in doc["end_to_end"] + doc["per_layer"])) == len(
        doc["end_to_end"]) + len(doc["per_layer"])
    assert all(unit.match(m["unit"]) for m in doc["end_to_end"] + doc["per_layer"])
    assert 2 <= len(doc["workloads"]) <= 8 and all(len(w["why"]) <= 200 for w in doc["workloads"])
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert max(bounds.values()) <= 0.25 and bounds["setup_s"] == max(bounds.values())
    assert 1 <= len(doc["per_layer"]) <= 128
    assert len(json.dumps(doc)) <= 64 * 1024


# -- counts repeat exactly ---------------------------------------------------------


def test_single_client_counts_repeat_exactly(tmp_path):
    """Jobs, stages and py4j round trips of one request, and of one
    registered query's build, are the same on two runs."""
    pytest.importorskip("pyspark")
    from perfbench.harness import Run

    run = Run(ROOT, "frontdoor_read", 0, 1, True)
    run.work = tmp_path / "work"
    run.out = tmp_path / "out"
    run.prepare_env()
    run.resolve_fixtures()
    from etl_generator_demo_spark.registry import load_all

    try:
        run.start(sf_dir=run.small_sf_dir)
        req = frontdoor.Request("join2", base_sql=(
            "SELECT c_mktsegment, count(*) AS n FROM orders JOIN customer "
            "ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"))
        req = frontdoor.Request("join2", sql=req.base_sql, base_sql=req.base_sql, limit=10)
        bpe = load_all()["x4_bpe_merge_steps"].fn
        tracer = tracing.Tracer(run.spark)
        restore = tracing.install(tracer)
        counts = []
        try:
            for rid in range(3):  # the first one warms caches
                frontdoor.serve(run.state, req, tracer, rid)
                with tracer.span("operators.build", req=100 + rid) as build:
                    bpe(run.spark, run.small_sf_dir)
                tracer.resolve(tracer.spans)
                spans = [s for s in tracer.spans if s.req == rid]
                root = next(s for s in spans if s.name == "request")
                c = tracing.subtree_counts(spans, root)
                b = tracing.subtree_counts([s for s in tracer.spans if s.req == 100 + rid], build)
                counts.append((root.round_trips, c["jobs"], c["stages"],
                               build.round_trips, b["jobs"]))
        finally:
            restore()
        assert counts[1] == counts[2]
        assert counts[1][1] >= 1 and counts[1][3] > 0
    finally:
        run.stop()
