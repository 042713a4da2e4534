"""Session, process, memory, tracing and Spark status-store helpers.

Everything here sits outside the engine: the benchmark times the public
functions of `geowave_spark` from the outside and reads Spark's own status
stores after each action.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- machine -----------------------------------------------------------------


def affinity() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def scaling_levels(cpus: list[int]) -> tuple[int, int]:
    """(N, 4N) from the affinity mask: 4N is the largest multiple of 4 the
    mask holds, so a 4-CPU mask gives (1, 4).  A mask under 4 CPUs cannot
    host both levels and is refused rather than oversubscribed."""
    n = len(cpus) // 4
    if n == 0:
        raise RuntimeError(
            f"scaling needs at least 4 CPUs in the affinity mask, got {cpus}")
    return n, 4 * n


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: an eighth of physical memory, clamped to [1, 2] GiB —
    the box is shared, and local mode runs every task inside this heap."""
    return max(1024, min(2048, mem_total_mb() // 8))


# --- session -----------------------------------------------------------------


def start_session(work: str, cores: int):
    """SparkSession at local[cores] with every scratch location under
    ``work``.  Python workers get the checkout on their path."""
    from pyspark.sql import SparkSession

    for d in ("local", "tmp", "warehouse", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        # no -Xms: the heap starts small and grows only as far as the
        # workload needs, so peak RSS follows the memory the engine uses
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(4 << 20))
        .config("spark.sql.files.openCostInBytes", str(512 << 10))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, shut the JVM down and wait until it and every process it
    started (Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = [proc.pid] + descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and _state(pid) not in ("Z", "X"):
            if time.time() > deadline:
                os.kill(pid, 9)
                deadline = time.time() + 5
            time.sleep(0.05)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pin(pids: list[int], cpus: list[int]) -> None:
    """Re-pin every thread of each process to ``cpus`` (`taskset -a -p`);
    threads and processes they start later inherit the mask."""
    mask = ",".join(map(str, cpus))
    for pid in pids:
        subprocess.run(["taskset", "-a", "-p", "-c", mask, str(pid)],
                       check=False, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)


# --- memory ------------------------------------------------------------------


class RssSampler:
    """Peak of the summed memory of the JVM and its Python workers, sampled
    on a background thread.  The JVM counts its RSS; each Python process
    counts its PSS, because forked workers share most of their pages with
    the daemon and summing their RSS would count those pages once per
    worker.  Other children of the JVM (a fork about to exec a shell
    command shares the whole heap for a moment) are not counted."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root, self.period = root_pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _field(path: str, key: str) -> int:
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:  # the process has just exited
            pass
        return 0

    def _sample(self) -> int:
        return self._field(f"/proc/{self.root}/status", "VmRSS:") + sum(
            self._field(f"/proc/{pid}/smaps_rollup", "Pss:")
            for pid in descendants(self.root) if _comm(pid).startswith("python"))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


# --- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) plus Spark job groups.

    ``on=False`` keeps the same call sites but records nothing and reads no
    status store, which is the untraced configuration."""

    def __init__(self, spark, on: bool):
        self.spark, self.on = spark, on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str):
        """When tracing, times the block, runs it under its own job group and
        keeps the span.  Yields a dict the caller may add counts to."""
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        if not self.on:
            yield rec
            return
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"pb{self._groups}"
        rec["id"] = len(self.spans)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = sorted(sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if prev:
                sc.setJobGroup(prev, "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


# --- status stores -----------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}


def parse_metric(text: str) -> float | None:
    """SQL metric display string -> number (bytes, seconds or a count).

    Sums read "100,000"; sizes and timings read "12.3 MiB" or, with
    per-task stats, "total (min, med, max ...)\n12.3 MiB (...)".  Average
    metrics carry no total and give None."""
    lines = text.strip().splitlines()
    head = lines[-1].split(" (")[0].split() if lines else []
    try:
        num = float(head[0].replace(",", ""))
    except (ValueError, IndexError):
        return None
    return num * _UNITS[head[1]] if len(head) > 1 else num


class StatusReader:
    """Operator metrics (SQL status store) and stage/task metrics (app status
    store) for a set of Spark job ids."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def operators(self, jobs: list[int] | None = None) -> list[dict]:
        """One dict per plan node of every SQL execution whose jobs
        intersect ``jobs`` (all executions when None):
        {exec, name, desc, metrics: {name: value}}."""
        want = set(jobs or [])
        out = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if jobs is not None:
                ej = e.jobs().keys().toList()
                if not want.intersection(int(ej.apply(k)) for k in range(ej.size())):
                    continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                vals = {}
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    num = parse_metric(v.get()) if v.isDefined() else None
                    if num is not None:
                        vals[metric.name()] = num
                out.append({"exec": eid, "name": node.name(),
                            "desc": node.desc(), "metrics": vals})
        return out

    def stages(self, jobs: list[int]) -> list[dict]:
        """Completed stage attempts of ``jobs`` with their task durations."""
        empty_list = self._jvm.java.util.ArrayList()
        empty_q = self._gw.new_array(self._jvm.double, 0)
        seen, out = set(), []
        for j in jobs:
            ids = self.app.job(j).stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self.app.stageData(sid, False, empty_list, False, empty_q)
                except Exception:  # skipped stage: never ran, no data
                    continue
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if str(s.status()) != "COMPLETE":
                        continue
                    tl = self.app.taskList(sid, s.attemptId(), 100_000)
                    durs = [tl.apply(t).duration().get() / 1e3
                            for t in range(tl.size())
                            if tl.apply(t).duration().isDefined()]
                    out.append({
                        "stage": sid,
                        "run_s": s.executorRunTime() / 1e3,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                        "task_s": durs,
                    })
        return out


def op_sum(ops: list[dict], name: str, metric: str, desc_has: str = "") -> float:
    return sum(o["metrics"].get(metric, 0.0) for o in ops
               if o["name"] == name and desc_has in o["desc"])


def stage_summary(stages: list[dict]) -> dict:
    """Shuffle, spill and skew figures over a job's stages; task p50/max come
    from the stage with the most executor time (the join or merge stage)."""
    heavy = max(stages, key=lambda s: s["run_s"], default=None)
    tasks = heavy["task_s"] if heavy and heavy["task_s"] else [0.0]
    return {
        "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "task_p50_s": statistics.median(tasks),
        "task_max_s": max(tasks),
    }


def jvm_gc_s(spark) -> float:
    """Accumulated collection time of every JVM garbage collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime())
               for i in range(beans.size())) / 1e3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
