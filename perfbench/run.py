"""Benchmark entry point.

    python3 perfbench/run.py --workload frontdoor_read --seed 1 --seconds 10 --trace 0

Runs one workload in one process (local[4], at most 4 client threads)
from the root of a checkout, checks every operation's output against
DuckDB, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` gives
the end-to-end metrics; ``--trace 1`` installs span recording and gives
the per-layer metrics. Everything else (progress, failures, run
context) goes to stderr and to ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.harness import Run  # noqa: E402

#: The declared workloads and metrics.
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _workload(name: str):
    if name == "frontdoor_read":
        from perfbench import frontdoor as mod
    else:
        from perfbench import batch as mod
    return mod


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_env()
    run.context["loadavg_start"] = os.getloadavg()
    t0 = time.perf_counter()
    try:
        run.resolve_fixtures()  # fails fast when the program is absent
        res = _workload(args.workload).run(run)
    except BaseException:
        traceback.print_exc()
        run.stop()
        run.cleanup()
        return 1
    run.stop()
    run.cleanup()
    run.context["loadavg_end"] = os.getloadavg()
    run.context["wall_s"] = time.perf_counter() - t0

    if run.trace:
        # set-up layers and figures no layer of this workload produced
        res.metrics.update(run.setup_metrics())
        metrics = {m["name"]: res.metrics.get(m["name"], (0.0, m["unit"]))
                   for m in BENCHMARK["per_layer"]}
    else:
        metrics = {m["name"]: res.metrics[m["name"]] for m in BENCHMARK["end_to_end"]}
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {"args": vars(args), "context": run.context, "setup": run.setup,
              "failures": res.failures, "all_metrics": res.metrics, "result": out}
    run.write_record(record)
    for what in res.failures:
        print(f"-- FAILED: {what}", file=sys.stderr)
    print(f"-- context: {json.dumps(run.context, default=str)}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
