"""Shared pieces of the benchmark: the Spark session, timing helpers,
in-process receipts (status store, SQL metrics), spans and the memory
sampler.  Nothing here starts a thread or a JVM at import time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


PAGE = os.sysconf("SC_PAGE_SIZE")
CLK_TCK = os.sysconf("SC_CLK_TCK")
#: seconds between two samples of the memory sampler
SAMPLE_S = 0.25


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    attempted: int
    failed: int
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    invalid: str | None = None


class Bench:
    """One benchmark run: its work directory, session and receipts."""

    def __init__(self, work: str, results: str) -> None:
        self.work = work
        self.results = results
        self.cores = nproc()
        self.spark = None
        self.probes: dict[str, float] = {}
        self.t0 = time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def log(self, what: str) -> None:
        """Progress on stderr, stamped with the seconds since the run began."""
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {what}", file=sys.stderr, flush=True)

    def results_path(self, name: str) -> str:
        return os.path.join(self.results, name)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    # -- session ---------------------------------------------------------

    def start_session(self, cores: int | None = None):
        """(Re)start the session at ``local[cores]`` with every scratch
        location inside the work directory; returns its start time."""
        from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark

        self.stop_session()
        cores = cores or self.cores
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                # a fixed, fully committed heap: with the package's 16 GB
                # limit the JVM grows its heap when the GC decides to,
                # and peak RSS varied by 15-30% between runs of the same
                # input.  Growth inside the heap shows in live_heap_mb.
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch "
                # a JIT compiler thread that exits would take its CPU time
                # out of jit_cpu_s
                "-XX:-UseDynamicNumberOfCompilerThreads",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def live_heap_mb(self) -> float:
        """Heap in use right after a full collection: what the job keeps
        (state stores, caches, listener data), whatever the heap size."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return usage.getUsed() / 2**20

    def engine_cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM and its Python
        workers, less the JVM's JIT compiler threads (``jit_cpu_s``).
        The compilers work in the background whenever a core is free, so
        how much of their work lands inside a job follows the host's
        load more than the job."""
        return tree_cpu_s(self._jvm_pid()) - self.jit_cpu_s()

    def jit_cpu_s(self) -> float:
        """CPU seconds used so far by the JVM's JIT compiler threads."""
        return jit_cpu_s(self._jvm_pid())

    @staticmethod
    def _jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    @contextlib.contextmanager
    def host_steal(self):
        """Stamp the share of the host's CPU time that went to other
        guests while the block ran: context only, nothing is gated on it."""
        s0, t0 = host_steal_s(), time.perf_counter()
        try:
            yield
        finally:
            took = (time.perf_counter() - t0) * os.cpu_count()
            self.probes["steal_frac"] = (host_steal_s() - s0) / took

    # -- receipts --------------------------------------------------------

    @contextlib.contextmanager
    def job_group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_receipt(self, group: str) -> dict[str, float]:
        """Executor CPU and GC time, tasks and shuffle bytes written over
        every stage of every job in ``group``, from the in-process
        status store."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        out = {"cpu_s": 0.0, "gc_s": 0.0, "tasks": 0, "shuffle_write_bytes": 0}
        seen = set()
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran (skipped)
                    continue
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["tasks"] += st.numTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    def last_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        ids = [e.executionId() for e in conv.asJava(store.executionsList())]
        return max(ids, default=-1)

    def python_rows(self, after: int) -> dict[str, int]:
        """Rows each Python UDF received, summed over SQL executions
        newer than ``after``: ``pythonNumRowsReceived`` of every
        ``ArrowEvalPython`` node, keyed by the UDF names in its plan
        text."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        out: dict[str, int] = {}
        for e in conv.asJava(store.executionsList()):
            eid = e.executionId()
            if eid <= after:
                continue
            values = conv.asJava(store.executionMetrics(eid))
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                if "EvalPython" not in node.name():
                    continue
                rows = 0
                for m in conv.asJava(node.metrics()):
                    if m.name() in ("number of output rows", "pythonNumRowsReceived"):
                        v = values.get(m.accumulatorId())
                        rows = max(rows, int(v.replace(",", "")) if v else 0)
                for udf in ("kpl_deaggregate", "gunzip_to_text", "parse_dateutil"):
                    if f"{udf}(" in node.desc():
                        out[udf] = out.get(udf, 0) + rows
        return out


class Tracer:
    """Spans held in memory (name, start, end, parent and run id) and
    written out once the measuring is over."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _processes() -> dict[int, list[tuple[int, list[str]]]]:
    """Parent pid -> (pid, the fields of ``/proc/<pid>/stat`` after the
    command name) of every process now listed."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append((int(d), fields))
    return children


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, used so far by ``root`` and every
    process below it.  A child that has exited and been reaped counts in
    its parent's ``cutime``/``cstime``, so the total only grows.  Time the
    hypervisor gave to other guests (steal) is not in it."""
    children = _processes()
    with open(f"/proc/{root}/stat") as f:
        stat = f.read()
    total, todo = 0, [(root, stat[stat.rfind(")") + 2 :].split())]
    while todo:
        pid, fields = todo.pop()
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds, user and system, of the JVM's JIT compiler threads
    (a fixed set: the session turns off their dynamic start and stop)."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if "CompilerThre" in stat[stat.index("(") + 1 : stat.rfind(")")]:
            fields = stat[stat.rfind(")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])
    return total / CLK_TCK


def host_steal_s() -> float:
    """Seconds of CPU steal summed over the host's CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


class MemorySampler:
    """Peak memory of this process and every descendant (the Spark JVM
    and its Python workers), sampled from ``/proc``.  Each process counts
    its proportional set size: the pages Python workers share with the
    daemon they were forked from count once, not once per worker.  The
    JVM counts its resident set; helpers it spawns do not count."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def tree_pss() -> int:
        children = _processes()
        me = os.getpid()
        total, todo = 0, [(me, 0)]
        while todo:
            pid, parent = todo.pop()
            todo.extend((child, pid) for child, _ in children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                if comm == "java" and parent == me:
                    # nothing shares the JVM's pages, and walking its page
                    # tables for the PSS would stall it
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * PAGE
                elif pid == me or comm.startswith("python"):
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                # anything else is a short-lived helper the JVM spawned;
                # until it execs it still shares the JVM's memory
            except OSError:
                continue  # exited since the listing
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_pss())
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "MemorySampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def setup(bench: Bench, warmup) -> tuple[float, float]:
    """Start the session and run ``warmup()``, the work a fresh job pays
    before its first timed operation.  Returns (set-up seconds, session
    start seconds).

    Done once per run: a second context in the same JVM keeps the first
    one's Python worker pool alive and cannot reach the Python
    accumulator server, which slows every later task, and a second JVM
    costs as much again as the measured part."""
    t0 = time.perf_counter()
    start = bench.start_session()
    warmup()
    took = time.perf_counter() - t0
    bench.probes = probes(bench.spark)
    return took, start


def probes(spark) -> dict:
    """Host-load context recorded in the stamps; nothing is gated on
    them."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    for i in range(200_000):
        h.update(str(i).encode())
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, 20_000_000).selectExpr("bit_xor(xxhash64(id)) AS h").write.format(
        "noop"
    ).mode("overwrite").save()
    return {"cpu_probe_s": cpu, "jvm_probe_s": time.perf_counter() - t0}
