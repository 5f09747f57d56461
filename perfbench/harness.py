"""Shared pieces of the benchmark: run directories, service set-up,
statistics, memory and run context.

Nothing here imports the program at module import time; ``Run.start``
does, after the process environment has been pointed at the run's own
directories (so Spark, the JVM and the program's temp dirs all land
inside the checkout).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

#: Client threads and Spark cores: one 4-core box, one process.
CORES = 4

#: Rows of the fixed CPU calibration task (the size ``bench.py`` uses;
#: reimplemented here so that file stays as it is).
CALIBRATION_ROWS = 64_000_000


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: with n samples, at least n - ceil(q n / 100)
    lie above it (10 beyond p90 from 100 samples on)."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def success_share(attempted: int, failed: int) -> float:
    """Share of attempted operations that succeeded (1 - failed share)."""
    if attempted <= 0:
        raise ValueError("attempted must be positive")
    return (attempted - failed) / attempted


# --------------------------------------------------------------------------
# memory and run context


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM it launched."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def memory_mb(spark) -> tuple[float, float]:
    """(peak RSS of this Python process, JVM heap still in use once full
    collections stop freeing memory), in MB: the service's footprint
    without the garbage the JVM's collector happened to leave standing,
    which makes the JVM's own high-water RSS vary run to run. One
    collection is not enough after work: objects that py4j, Spark's
    context cleaner or finalizers release only once an earlier collection
    has found them take a second."""
    import gc

    from pyspark import SparkContext

    gc.collect()  # Python proxies in reference cycles pin their JVM objects
    # py4j sends the releases from a worker thread that polls once a second
    pending = getattr(SparkContext._gateway._gateway_client, "finalizer_deque", ())
    deadline = time.perf_counter() + 30
    while pending and time.perf_counter() < deadline:
        time.sleep(0.1)
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = math.inf
    for _ in range(10):
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if now > 0.98 * used:
            break
        used = now
    return _vm_hwm_kb("self") / 1024.0, min(used, now)


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it (the JVM and its Python workers), reaped children
    included. Time a contended machine withholds from them is not in it."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited meanwhile
            procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    ticks = sum(procs[p][1] for p in mine if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def calibration_s(spark) -> float:
    """Fixed CPU-bound reference task: hash-reduce a constant range in 32
    partitions. Context only; it is folded into no metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, CALIBRATION_ROWS, 1, 32).select(F.xxhash64("id").alias("h")).agg(
        F.expr("bit_xor(h)")
    ).collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# the run


@dataclass
class Result:
    """What one workload run hands back to ``run.py``."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what[:300])


@dataclass
class Run:
    """Paths, arguments and the live session of one benchmark run."""

    root: Path
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path = field(init=False)
    out: Path = field(init=False)
    sf_dir: str = ""
    small_sf_dir: str = ""
    spark: object = None
    catalog: object = None
    state: object = None
    setup: dict[str, float] = field(default_factory=dict)
    context: dict[str, object] = field(default_factory=dict)
    memory_mb: float = 0.0  # see probe_memory()

    def __post_init__(self):
        self.work = self.root / ".bench_work" / f"{self.workload}-{self.seed}-{os.getpid()}"
        self.out = self.root / ".bench_out"

    # -- environment -------------------------------------------------------
    def prepare_env(self) -> None:
        """Point every temp location of Python, Spark and the JVM into the
        run directory, before anything imports pyspark."""
        tmp = self.work / "tmp"
        for d in (tmp, self.work / "spark-local", self.work / "warehouse", self.out):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        import tempfile

        tempfile.tempdir = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        conf = {
            "spark_ui_showConsoleProgress": "false",
            "spark_sql_warehouse_dir": str(self.work / "warehouse"),
            "spark_driver_extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}",
        }
        for k, v in conf.items():
            os.environ[f"SPARK_GRAFT_SPARKCONF_{k}"] = v

    def resolve_fixtures(self) -> None:
        """The sf0.1 fixture directory (read only). ``SPARK_GRAFT_SF_DIR``
        overrides; otherwise it sits next to the smoke fixture that
        ``__spark_entry__`` names."""
        saved = list(sys.path)
        try:
            import __spark_entry__ as entry
        finally:
            sys.path[:] = saved
        self.small_sf_dir = entry.SMOKE_SF_DIR
        self.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
            os.path.dirname(entry.SMOKE_SF_DIR), "sf0.1"
        )
        if not os.path.isdir(self.sf_dir):
            raise FileNotFoundError(f"fixture directory missing: {self.sf_dir}")

    # -- set-up ------------------------------------------------------------
    def start(self, sf_dir: str | None = None, warmup=None) -> None:
        """Service start, timed part by part: session, view registration,
        the cold metadata document, index warm, JIT warm-up. The index
        state is fixed first (built if absent) and that build is
        reported apart, so ``setup_s`` does not depend on what an
        earlier run left in the index cache."""
        from etl_generator_demo_spark.api import AppState
        from etl_generator_demo_spark.catalog import Catalog
        from etl_generator_demo_spark.session import get_spark

        sf_dir = sf_dir or self.sf_dir
        with self.timed("session.get_spark_s"):
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        self.ensure_indexes()
        self.context["operators.ann_index.build_s"] = time.perf_counter() - t0
        with self.timed("catalog.register_views_s"):
            self.catalog = Catalog(self.spark, sf_dir)
            self.state = AppState(self.spark, self.catalog)
        with self.timed("catalog.metadata_document_s"):
            self.catalog.metadata_document()
        with self.timed("operators.ann_index.warm_s"):
            self.ensure_indexes()
        with self.timed("warmup_s"):
            if warmup is not None:
                warmup()
        self.setup["setup_s"] = sum(self.setup.values())
        self.context["calibration_start_s"] = calibration_s(self.spark)

    def probe_memory(self) -> None:
        """Set ``memory_mb``. The workloads call it after a fixed amount of
        measured work (the first round, the first pass), off the clock:
        the status Spark keeps for every finished job makes the live heap
        grow with the work a window happens to hold."""
        py_mb, heap_mb = memory_mb(self.spark)
        self.context.update(python_peak_rss_mb=py_mb, jvm_live_heap_mb=heap_mb)
        self.memory_mb = py_mb + heap_mb

    def setup_metrics(self) -> dict[str, tuple[float, str]]:
        """Per-layer set-up figures of the run."""
        m = {k: (self.setup[k], "s") for k in ("session.get_spark_s", "catalog.register_views_s",
                                                "operators.ann_index.warm_s", "warmup_s")}
        m["catalog.metadata_document_ms"] = (self.setup["catalog.metadata_document_s"] * 1000, "ms")
        m["operators.ann_index.build_s"] = (self.context["operators.ann_index.build_s"], "s")
        m["process.peak_rss_mb"] = (self.context["process.peak_rss_mb"], "MB")
        return m

    def ensure_indexes(self) -> None:
        from etl_generator_demo_spark.operators.ann_index import ensure_ivf_index, ensure_lsh_index
        from etl_generator_demo_spark.operators.dedup_incremental import (
            ensure_corpus_band_index,
            ensure_full_band_index,
            ensure_shingle_index,
        )

        for fn in (ensure_lsh_index, ensure_ivf_index, ensure_corpus_band_index,
                   ensure_full_band_index, ensure_shingle_index):
            fn(self.spark, self.sf_dir)

    @contextmanager
    def timed(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[key] = time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    # -- teardown ----------------------------------------------------------
    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as exc:  # keep tearing down
                print(f"-- spark.stop failed: {exc!r}", file=sys.stderr)
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = self.work.parent
        try:
            parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    def write_record(self, record: dict) -> Path:
        path = self.out / f"{self.workload}-seed{self.seed}-trace{int(self.trace)}.json"
        path.write_text(json.dumps(record, indent=1, default=str))
        return path
