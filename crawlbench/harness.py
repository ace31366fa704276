"""Plumbing shared by the workloads: a Spark session confined to the
checkout, timing statistics, input digests and the span tracer."""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"
TRACE_DIR = WORK_ROOT / "traces"

# Fixed shuffle width: the same plan shapes on every box, independent of the
# core count local[nproc] gets.
SHUFFLE_PARTITIONS = 4


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_sandbox(run_id: str) -> Path:
    """Per-run scratch inside the checkout; every temp/spill path the driver,
    the JVM and the Python workers use is pointed here. Must run before the
    JVM starts: it inherits this environment."""
    work = WORK_ROOT / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no /tmp/hsperfdata_<user> files from the launcher or the gateway JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    for var in ("SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_MASTER", "ICRAWLER_PROFILE"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def start_spark(work: Path):
    """(spark, seconds). Console progress off, local[nproc], fixed shuffle
    partitions, status-store retention large enough for a traced run's
    per-span job/stage lookups."""
    from icrawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="crawlbench",
        master=f"local[{nproc()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "60000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (its
    Python workers die with it)."""
    sc = spark.sparkContext
    gateway = sc._gateway  # noqa: SLF001 — the JVM process handle lives here
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def settle(spark) -> None:
    """Start the next measured unit from a clean heap: drop Python-side
    references, run a driver GC so Spark's ContextCleaner reclaims unpersisted
    shuffles and broadcasts now, not when the 60 s periodic GC happens to
    fire inside a later unit, and give the cleaner a moment to finish."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    time.sleep(1.0)


def force(df) -> None:
    """Run a DataFrame's whole plan without collecting rows."""
    df.write.mode("overwrite").format("noop").save()


# --- statistics ---------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed requests) sort last."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return float(ordered[max(0, math.ceil(q * len(ordered)) - 1)])


def digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, ensure_ascii=False, default=repr).encode("utf-8"))
    return h.hexdigest()[:16]


def df_digest(df, cols) -> int:
    """Order-independent content hash of a DataFrame (sum of row hashes)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (int(row.h or 0) * 1_000_003 + int(row.n)) % (1 << 64)


# --- results ------------------------------------------------------------------


@dataclass
class Gate:
    """Correctness gate: every check is one operation; a mismatch fails it."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def compare_sets(self, got, want, what: str) -> None:
        """One operation per expected element plus one per unexpected one."""
        got, want = set(got), set(want)
        self.attempted += len(want | got)
        bad = want ^ got
        self.failed += len(bad)
        if bad and len(self.problems) < 20:
            self.problems.append(f"{what}: {len(bad)} differ, e.g. {sorted(bad)[:2]}")

    def compare_lists(self, got, want, what: str) -> None:
        """One operation per position."""
        n = max(len(got), len(want))
        bad = sum(1 for i in range(n) if i >= len(got) or i >= len(want) or got[i] != want[i])
        self.attempted += n
        self.failed += bad
        if bad and len(self.problems) < 20:
            self.problems.append(f"{what}: {bad} of {n} positions differ")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: Path
    session_s: float
    tracer: "Tracer"
    smoke: bool = False


@dataclass
class Outcome:
    setup_s: float
    items_per_s: float
    unit_p50_s: float
    gate: Gate
    headline: dict            # the workload's own metric names: name -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer metrics when traced
    round_metrics: list = field(default_factory=list)  # RoundMetrics of the traced pass
    round_task: str = ""      # the crawl task those rounds belong to
    input_digest: str = ""
    notes: dict = field(default_factory=dict)


# --- tracing ------------------------------------------------------------------


class Tracer:
    """Span recorder for calls into the program's layers, made from the
    benchmark's side. Each span sets its own Spark job group, so the jobs,
    stages and tasks a span caused are read back from ``statusTracker`` at the
    end. Spans are kept in memory and written out by ``dump``. Single
    threaded: the span stack is not shared between threads.

    ``overhead_s`` is the time the tracer itself spent opening and closing
    spans (job-group switches included), summed over the run."""

    def __init__(self, spark, workload: str, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = self._next
        self._next += 1
        group = f"{self.run_id}:{sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        rec = {
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload, "run_id": self.run_id, "group": group, **attrs,
        }
        self._stack.append(sid)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["start"] = start - self.t0
            rec["end"] = end - self.t0
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - end

    def _flush_listener(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # noqa: SLF001
        except Exception:  # not reachable over py4j on this build: give the bus time
            time.sleep(2.0)

    def attach_spark_counts(self) -> None:
        """Fill spark_jobs / spark_stages / spark_tasks (self counts: jobs of
        nested spans belong to the nested span's own group)."""
        if not self.enabled or not self.spans:
            return
        self._flush_listener()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = tracker.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
            rec["spark_jobs"] = len(jobs)
            rec["spark_stages"] = len(stages)
            rec["spark_tasks"] = tasks

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec, ensure_ascii=False) + "\n")


def span_s(spans: list[dict]) -> float:
    """Median span duration."""
    return median([s["end"] - s["start"] for s in spans])
