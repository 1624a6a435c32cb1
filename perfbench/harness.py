"""Shared machinery: Spark session lifecycle, spans, statistics, memory,
and the traced-run collectors (job groups, event log, streaming
listener, codegen-fallback log lines).

Everything the benchmark writes lives under ``WORK`` inside the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(ROOT, ".perfbench_results")
CODEGEN_WARN = "Whole-stage codegen disabled for plan"
CODEGEN_LOGGER = "org.apache.spark.sql.execution.WholeStageCodegenExec"
MB = 1024 * 1024


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


def file_sizes(path: str) -> dict[str, int]:
    """Size of every regular file under ``path``, by path."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and every live
    descendant (the Spark JVM and its Python workers), including the
    children they have already reaped."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Spans:
    """Benchmark-side spans around each call into the program:
    ``(name, parent, start, end)`` in epoch seconds, kept in memory."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            self.items.append(rec)


class Bench:
    """One benchmark process: owns the work dir, the Spark session
    and the trace collectors."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.spans = Spans()
        self.stream_progress: list[dict] = []
        self._listener = None
        self.jvm_log = os.path.join(self.work, "jvm-stderr.log")
        self.eventlog_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.work, exist_ok=True)
        for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    # ------------------------------------------------------------ session

    def conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(self.work, "tmp")
            + f" -Dderby.system.home={self.work}",
        }
        if traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self):
        """(Re)start the session; the JVM is launched once per process."""
        from ecom_churn_lakehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{cpus()}]",
            extra_conf=self.conf(self.trace),
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        if self.trace:
            jvm = sc._jvm
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                CODEGEN_LOGGER, jvm.org.apache.logging.log4j.Level.WARN
            )
            self._add_stream_listener()
        return self.spark

    def _add_stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.stream_progress

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append(
                    {
                        "time": time.time(),
                        "batch_id": p.batchId,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution", 0),
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = ProgressListener()
        self.spark.streams.addListener(self._listener)

    def shutdown(self):
        """Stop Spark, end the JVM process and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def memory_mb(self) -> dict[str, float]:
        """Python driver peak RSS, Spark JVM peak RSS, and the JVM heap
        still in use after a full GC (what the run holds on to)."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return {
            "python_peak_rss_mb": _vm_hwm_kb(os.getpid()) / 1024.0,
            "jvm_peak_rss_mb": _vm_hwm_kb(int(jvm.ProcessHandle.current().pid())) / 1024.0,
            "jvm_heap_after_gc_mb": heap.getUsed() / MB,
        }

    # -------------------------------------------------------------- phases

    @contextmanager
    def phase(self, name: str, parent_group: str | None = None):
        """A timed call into the program. In a traced run it is also
        one Spark job group, whose jobs are counted afterwards."""
        group = name if parent_group is None else f"{parent_group}|{name}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, group)
        with self.spans.span(group) as rec:
            try:
                yield rec
            finally:
                if self.trace:
                    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                    sc.setJobGroup("perfbench-other", "perfbench-other")

    def jvm_log_offset(self) -> int:
        return os.path.getsize(self.jvm_log)

    def codegen_fallbacks(self, start: int, end: int) -> int:
        with open(self.jvm_log, "rb") as f:
            f.seek(start)
            return f.read(max(0, end - start)).decode("utf-8", "replace").count(CODEGEN_WARN)

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def read_event_log(eventlog_dir: str) -> dict:
    """Per-job-group totals from the uncompressed event logs.

    Returns ``{"groups": {group: totals}, "jobs": {job_id: (group,
    submit_s, end_s)}}``; totals hold stages, tasks, task run time,
    GC time, shuffle, spill, input and output bytes and rows."""
    job_group: dict[int, str] = {}
    job_times: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict[str, float]] = {}
    stages_seen: set[tuple[int, int]] = set()

    def bucket(stage_id: int) -> dict[str, float]:
        g = job_group.get(stage_job.get(stage_id, -1), "perfbench-other")
        return groups.setdefault(
            g,
            {k: 0.0 for k in (
                "stages", "tasks", "task_run_s", "gc_s", "shuffle_write_b",
                "shuffle_read_b", "spill_b", "input_b", "input_rows",
                "output_b", "output_rows")},
        )

    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id", "perfbench-other")
                    job_times[jid] = [ev["Submission Time"] / 1000.0, 0.0]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job_times.setdefault(ev["Job ID"], [0.0, 0.0])[1] = (
                        ev["Completion Time"] / 1000.0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    if key not in stages_seen:
                        stages_seen.add(key)
                        bucket(info["Stage ID"])["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    b = bucket(ev["Stage ID"])
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    b["tasks"] += 1
                    b["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    b["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                    b["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    b["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    b["input_b"] += inp.get("Bytes Read", 0)
                    b["input_rows"] += inp.get("Records Read", 0)
                    b["output_b"] += out.get("Bytes Written", 0)
                    b["output_rows"] += out.get("Records Written", 0)
    jobs = {
        jid: (job_group.get(jid, "perfbench-other"), t[0], t[1])
        for jid, t in job_times.items()
    }
    return {"groups": groups, "jobs": jobs}


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer(totals: list[dict]) -> dict[str, float]:
    """The Spark-execution and scan per-layer metrics from group totals."""
    def s(k):
        return sum(t.get(k, 0.0) for t in totals)

    return {
        "spark.stages": s("stages"),
        "spark.tasks": s("tasks"),
        "spark.task_run_s": s("task_run_s"),
        "spark.gc_s": s("gc_s"),
        "spark.shuffle_write_mb": s("shuffle_write_b") / MB,
        "spark.shuffle_read_mb": s("shuffle_read_b") / MB,
        "spark.spill_mb": s("spill_b") / MB,
        "spark.input_rows": s("input_rows"),
        "spark.input_mb": s("input_b") / MB,
    }
