"""Shared machinery of the benchmark: the pinned session profile, the
in-memory span tracer, percentiles, peak memory and the per-job-group Spark
counters read from the UI's REST API (traced runs only)."""

from __future__ import annotations

import json
import os
import resource
import subprocess
import tempfile
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# ---------------------------------------------------------------------------
# session profile
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Profile:
    """The pinned session profile. Cores come from the CPU affinity mask
    (what `nproc` prints), not from SPARK_GRAFT_CPUS; the shuffle width is
    derived from them; the JVM heap is fixed well under a 15 GiB box
    that other processes share."""

    cores: int
    shuffle_partitions: int
    jvm_heap: str = "2g"
    show_console_progress: str = "false"

    @classmethod
    def detect(cls) -> Profile:
        cores = len(os.sched_getaffinity(0))
        return cls(cores=cores, shuffle_partitions=cores)

    def describe(self) -> dict:
        return asdict(self)


def start_session(profile: Profile, work_dir: str, ui: bool):
    """Start the engine's session (`session.get_spark`) with the profile
    pinned. Every scratch location (SPARK_LOCAL_DIRS, warehouse, JVM and
    Python temp dirs) lives under `work_dir`. Returns (spark, seconds)."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    tempfile.tempdir = tmp  # the gateway's connection-info dir, Arrow spills
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(profile.cores),
            "SPARK_GRAFT_DRIVER_MEM": profile.jvm_heap,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work_dir, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    confs = {
        "spark.ui.showConsoleProgress": profile.show_console_progress,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{profile.jvm_heap} -XX:-UsePerfData",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        confs.update(
            {
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.retainedTasks": "1000000",
            }
        )
    from blueflood_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", shuffle_partitions=profile.shuffle_partitions, **confs)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (the gateway dies when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak memory of the driver: the peak used bytes of every JVM memory
    pool (heap and non-heap, `MemoryPoolMXBean.getPeakUsage`) plus this
    Python process's maximum resident set. The JVM part counts what the
    engine used, not the heap the profile committed up front."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    jvm_b = sum(pools.get(i).getPeakUsage().getUsed() for i in range(pools.size()))
    return py_kb / 1024.0 + jvm_b / 2**20


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def pctl(values, q: float) -> float:
    """Percentile by linear interpolation (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent span, request id)
    and written out once at the end. A disabled tracer records nothing
    and costs one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if request_id is None and parent is not None:
            request_id = parent["request_id"]
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def total_ms_by_request(self, name: str) -> dict[str, float]:
        """{request id: summed wall of its `name` spans}."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name:
                out[s["request_id"]] = out.get(s["request_id"], 0.0) + (s["end"] - s["start"]) * 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def wrap_module_function(tracer: Tracer, module, attr: str, span_name: str, on_result=None):
    """Replace `module.attr` with a wrapper that records a span around
    each call (and hands the result to `on_result`). Returns an undo
    callable. Call sites that look the name up in `module` at call time
    (every public function of the engine does) go through the wrapper."""
    original = getattr(module, attr)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            out = original(*args, **kwargs)
        if on_result is not None:
            on_result(out)
        return out

    setattr(module, attr, wrapper)
    return lambda: setattr(module, attr, original)


# ---------------------------------------------------------------------------
# Spark counters per job group (REST API of the UI; traced runs only)
# ---------------------------------------------------------------------------


def query_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning wall of a DataFrame's own
    QueryExecution (the tracker `tools/phase_times.py` reads)."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().endTimeMs() - kv._2().startTimeMs())
    return out


class RestStats:
    """Per-job-group totals from the UI's REST API, fetched once."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def by_group(self, since: float = 0.0) -> dict[str, dict]:
        """{job group: {jobs, stages, tasks, run_s, shuffle_read_b,
        shuffle_write_b, input_b, input_rows, files_read}} over the jobs
        submitted at or after `since` (epoch seconds); jobs without a
        group are under ""."""
        jobs = [j for j in self._get("/jobs") if epoch_s(j.get("submissionTime")) >= since]
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        by_stage_id: dict[int, list] = {}
        for (sid, _), s in stages.items():
            by_stage_id.setdefault(sid, []).append(s)
        out: dict[str, dict] = {}
        job_group = {}
        for j in jobs:
            grp = j.get("jobGroup") or ""
            job_group[j["jobId"]] = grp
            d = out.setdefault(grp, _empty_counts())
            d["jobs"] += 1
            for sid in j.get("stageIds", []):
                for s in by_stage_id.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    d["stages"] += 1
                    d["tasks"] += s.get("numCompleteTasks", 0)
                    d["run_s"] += s.get("executorRunTime", 0) / 1000.0
                    d["shuffle_read_b"] += s.get("shuffleReadBytes", 0)
                    d["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
                    d["input_b"] += s.get("inputBytes", 0)
                    d["input_rows"] += s.get("inputRecords", 0)
        try:
            executions = self._get("/sql?details=true&planDescription=false&length=1000000")
        except OSError:
            executions = []
        for ex in executions:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            if not ids:
                continue
            grp = job_group.get(ids[0], "")
            d = out.setdefault(grp, _empty_counts())
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        d["files_read"] += _metric_int(m.get("value", "0"))
        return out


def epoch_s(stamp: str | None) -> float:
    """Epoch seconds of a Spark timestamp: REST (2026-01-01T00:00:00.000GMT)
    or streaming progress (2026-01-01T00:00:00.000Z); 0 for none."""
    from datetime import datetime

    if not stamp:
        return 0.0
    return datetime.fromisoformat(stamp.replace("GMT", "+00:00").replace("Z", "+00:00")).timestamp()


def _empty_counts() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "shuffle_read_b": 0,
        "shuffle_write_b": 0, "input_b": 0, "input_rows": 0, "files_read": 0,
    }


def _metric_int(text: str) -> int:
    head = str(text).split("(")[0].split("\n")[-1].replace(",", "").strip()
    try:
        return int(float(head.split()[-1])) if head else 0
    except ValueError:
        return 0


def sum_counts(groups: dict[str, dict], keep) -> dict:
    tot = _empty_counts()
    for grp, d in groups.items():
        if keep(grp):
            for k, v in d.items():
                tot[k] += v
    return tot


def dir_stats(*roots: str) -> tuple[int, int]:
    """(data files, bytes) under the given directories, skipping Spark's
    hidden/metadata files."""
    files = size = 0
    for root in roots:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
            for f in filenames:
                if f.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size
