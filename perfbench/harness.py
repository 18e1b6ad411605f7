"""Run plumbing shared by the workloads: the Spark session, span tracing,
the Spark event-log summary, cache hygiene, memory and percentiles."""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_recommendation_system_with_feature_store_spark"
CPUS = os.cpu_count() or 4


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def median(values) -> float:
    return percentile(values, 50.0)


def prepare_env(work_dir: str) -> None:
    """Point every scratch location Spark and its Python workers use into
    ``work_dir`` and make the package importable in executor workers (the
    pandas-UDF entries fail with PythonException without PYTHONPATH)."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def new_session(work_dir: str, event_log_dir: str | None):
    """Build the session through the package's own factory, with every
    scratch path inside ``work_dir`` and the package's own driver heap
    setting. The event log is on only for traced runs."""
    from real_time_recommendation_system_with_feature_store_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work_dir}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # uncompressed: the summary is parsed with the stdlib, which has no zstd
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    # start the Python worker pool once; every pandas kernel reuses it
    spark.range(64).repartition(CPUS * 2).mapInPandas(_identity, "id long").collect()
    return spark


def _identity(batches):
    yield from batches


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway and wait for the driver JVM to exit (it exits
    when its stdin closes), killing it after ``timeout_s``."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def clear_caches(spark, timeout_s: float = 30.0) -> None:
    """Cache hygiene before a timed region: drop the SQL cache, unpersist
    every persistent RDD with blocking, and wait until the context reports
    none left."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    deadline = time.monotonic() + timeout_s
    while True:
        rdds = list(jsc.getPersistentRDDs().values())
        if not rdds:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"{len(rdds)} persistent RDDs survive unpersist")
        for rdd in rdds:
            rdd.unpersist(True)


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver Python process plus the driver
    JVM, in MB (VmHWM from /proc)."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return hwm("self") + hwm(jvm_pid)


class Tracer:
    """Spans around calls into the package's layers, kept in memory and
    written at exit. Disabled tracers cost one attribute check per span and
    set no Spark job description, so untraced runs carry no tracing work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, sc=None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        prev_desc = sc.getLocalProperty("spark.job.description") if sc is not None else None
        if sc is not None:
            sc.setJobDescription(name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setJobDescription(prev_desc)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                                   "parent": parent, "run_id": self.run_id,
                                   "thread": threading.get_ident()})

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time covered by its
        direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times(), **extra}, f)


SPARK_COUNTERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.executor_run_s",
    "spark.scheduler_delay_s", "spark.busy_ratio", "spark.unlabelled_jobs",
]


def _event_log_lines(event_log_dir: str):
    """Events of the one application logged under ``event_log_dir``: a plain
    file or, when rolling, a directory of ``events_<n>_<app>`` files."""
    rolled = glob.glob(os.path.join(event_log_dir, "*", "events_*"))
    paths = (sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1])) if rolled
             else [p for p in glob.glob(os.path.join(event_log_dir, "*")) if os.path.isfile(p)])
    if not paths:
        raise RuntimeError(f"no Spark event log under {event_log_dir}")
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def event_log_summary(event_log_dir: str, window: tuple[float, float], cores: int):
    """Summarise the Spark event log with the stdlib: counters over the jobs
    submitted inside ``window`` (epoch seconds), in total and per job
    description (the span name that was active when the job started)."""
    lo_ms, hi_ms = window[0] * 1000.0, window[1] * 1000.0
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    per = defaultdict(lambda: defaultdict(float))
    for ev in _event_log_lines(event_log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if not lo_ms <= ev["Submission Time"] <= hi_ms:
                continue
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            job_desc[ev["Job ID"]] = desc
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            per[desc]["spark.jobs"] += 1
            per[desc]["spark.stages"] += len(ev.get("Stage Infos", []))
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            c = per[job_desc[stage_job[ev["Stage ID"]]]]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            accounted = (run_ms + m.get("Executor Deserialize Time", 0)
                         + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["spark.tasks"] += 1
            c["spark.executor_run_s"] += run_ms / 1000.0
            c["spark.scheduler_delay_s"] += max(0, info["Finish Time"] - info["Launch Time"] - accounted) / 1000.0
            c["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
            c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            c["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    total = {k: 0.0 for k in SPARK_COUNTERS}
    for desc, c in per.items():
        for k, v in c.items():
            total[k] += v
        if desc is None:
            total["spark.unlabelled_jobs"] += c["spark.jobs"]
    total["spark.busy_ratio"] = total["spark.executor_run_s"] / max(1e-9, (window[1] - window[0]) * cores)
    return total, {str(d): dict(c) for d, c in per.items()}
