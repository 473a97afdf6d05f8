"""Spark session, job-group counters and spans for the benchmark.

Everything the benchmark writes stays inside the checkout: temp files,
Spark local dirs, the SQL warehouse and the JVM's ``java.io.tmpdir``
all point into the run's work directory, which ``prepare`` creates and
the caller removes at the end.
"""

import contextlib
import json
import os
import time
import urllib.request
from pathlib import Path
from urllib.parse import urlparse


def prepare(work: Path) -> None:
    """Point every temp location at ``work``; call before pyspark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        # the status API must still hold every job of the run
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def cores() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> tuple:
    """``(busy, steal)`` CPU ticks of the whole machine so far, from
    ``/proc/stat``; steal is time a virtual CPU wanted and its host gave
    to another guest. ``(0, 0)`` where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def start_session():
    """The engine's own session at ``local[nproc]``."""
    from zzzarchived_arxiv_fulltext_spark.config import build_spark

    n = cores()
    spark = build_spark(app_name="perfbench", master=f"local[{n}]",
                        shuffle_partitions=2 * n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        SparkSession.getActiveSession().stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the parent of its orphaned descendants, such as
    Python workers that outlive the JVM which forked them, so that
    ``stop_children`` can wait for them. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _child_pids() -> list:
    me = str(os.getpid())
    pids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            ppid = stat.read_text().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            pids.append(int(stat.parent.name))
    return pids


def stop_children(grace_s: float = 30.0) -> None:
    """Stop every child process and wait until each has ended.

    ``multiprocessing``'s resource tracker, started with the first
    spawn-context pool, ignores SIGTERM and only exits once its pipe to
    this process closes, so it is stopped first. Children still running
    after ``grace_s`` are killed.
    """
    import signal
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _child_pids():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


class Counters:
    """Per-job-group totals read from Spark's status REST API.

    ``statusTracker`` has job and stage counts but no task durations,
    CPU time or shuffle bytes; the REST API (served by the driver's UI
    on localhost) has all of them.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self._sc = sc
        self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    @contextlib.contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def read(self, groups) -> dict:
        """Summed counters over all jobs of ``groups``."""
        groups = set(groups)
        # job-end events reach the status store asynchronously
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "jvm_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "task_skew": 1.0}
        heaviest = None
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in self._get(f"/stages/{sid}"):
                if st["status"] != "COMPLETE":
                    continue  # skipped: its work was reused
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"]
                out["executor_run_s"] += st["executorRunTime"] / 1e3
                out["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_read_bytes"] += st["shuffleReadBytes"]
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                if heaviest is None or (st["executorRunTime"]
                                        > heaviest["executorRunTime"]):
                    heaviest = st
        if heaviest is not None and heaviest["numCompleteTasks"] > 1:
            q = self._get(f"/stages/{heaviest['stageId']}/"
                          f"{heaviest['attemptId']}/taskSummary"
                          "?quantiles=0.5,1.0")["duration"]
            out["task_skew"] = q[1] / q[0] if q[0] else 1.0
        return out


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``.

    Disabled tracers record nothing, so the timed code is the same in
    traced and untraced runs.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["name"] if self._stack else None,
               "start": time.time(), **attrs}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")
