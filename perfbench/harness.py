"""Run context shared by the workloads: environment, Spark start-up,
set-up clock, memory sampling, the run record, and the Spark-side probes
the traced run reads (py4j command count, Catalyst phases, per-job stage
metrics from Spark's status API)."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import subprocess
import threading
import time
import urllib.request

from spans import NullTracer, Tracer
from stats import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
#: JVM heap. The package default (12g) is sized for wide boxes; the
#: benchmark shares a small one.
JVM_HEAP = "1g"


def since_process_start() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up is included)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Percent of machine CPU time per state between two ``cpu_ticks``."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(100.0 * v / total, 1) for n, v in zip(names, d)}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers it forks), sampled from /proc every
    ``interval`` seconds: the largest sum over the processes alive at one
    sample. The JVM counts its exact peak so far (``VmHWM``), so the result
    does not hang on where a sample falls in its heap's growth; the Python
    processes count their proportional set size (``Pss``: a page shared by
    k processes counts 1/k), so forked workers do not count the pages they
    share twice; other processes (short-lived helpers) are not counted. No sample is taken while
    ``paused`` (the benchmark's own work in this process), and pids in
    ``exclude`` (the benchmark's own load generator) are left out with
    their descendants."""

    EXACT = ("java",)

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, int]] = []  # (command, MB) at the peak
        self.exclude: set[int] = set()
        self.paused = False
        self.cpu: dict[str, float] = {}
        self._stop_evt = threading.Event()

    @staticmethod
    def _parents() -> dict[int, tuple[int, str]]:
        out = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, rest = fh.read().rsplit(")", 1)
                out[int(d)] = (int(rest.split()[1]), head.split("(", 1)[1])
            except (OSError, IndexError, ValueError):
                continue  # process exited between listing and reading
        return out

    @staticmethod
    def _field_kb(path: str, key: str) -> int:
        try:
            with open(path) as fh:
                for line in fh:
                    if line.startswith(key):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass  # exited, or a kernel thread with no memory map
        return 0

    def sample(self) -> None:
        if self.paused:
            return
        procs = self._parents()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total, todo, parts = 0, [os.getpid()], []
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in procs:
                continue
            comm = procs[pid][1]
            if comm in self.EXACT:
                kb = self._field_kb(f"/proc/{pid}/status", "VmHWM:")
            elif comm.startswith("python"):
                kb = self._field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
            else:
                # A helper the JVM spawns shares the JVM's memory until it
                # execs (and its name is then a JVM thread's): not counted.
                kb = 0
            total += kb
            parts.append((comm, kb // 1024))
            todo.extend(children.get(pid, ()))
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, sorted(p for p in parts if p[1])

    def run(self) -> None:
        self.cpu_before = cpu_ticks()
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB. ``cpu`` then holds the
        machine's CPU shares over the sampled period (steal and other
        tenants' load show there)."""
        self._stop_evt.set()
        self.join()
        self.sample()
        self.cpu = cpu_shares(self.cpu_before, cpu_ticks())
        return self.peak_kb / 1024.0


class Ctx:
    """One benchmark run: arguments, scratch directory, clocks, tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(RUN_DIR, f"{workload}-s{seed}-p{os.getpid()}")
        self.setup_tracer = Tracer()  # set-up spans are cheap; always kept
        self.tracer = Tracer() if trace else NullTracer()
        self.own_s = 0.0
        self.spark = None
        self.rss = RssSampler()
        self.info: dict = {"load_before": loadavg()}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def own_work(self):
        """The benchmark's own work (making inputs and expected outputs,
        comparing outputs): excluded from set-up time."""
        t = time.perf_counter()
        self.rss.paused = True
        try:
            yield
        finally:
            self.rss.paused = False
            self.own_s += time.perf_counter() - t

    def setup_s(self) -> float:
        """Set-up time so far: process age minus the benchmark's own work."""
        return since_process_start() - self.own_s

    def prepare(self) -> None:
        """Environment for Spark, set before the package is imported (its
        session module reads it at import): ``local[nproc]``, the checkout
        on the Python workers' path, every scratch file inside the checkout."""
        os.makedirs(self.path("tmp"), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={self.path("tmp")} '
            f'-XX:-UsePerfData" --conf spark.sql.warehouse.dir={self.path("warehouse")} '
            "pyspark-shell"
        )
        self.rss.start()

    def start_spark(self):
        from crypto_trading_data_pipeline_spark.session import get_spark

        with self.setup_tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        # Progress of every micro-batch of a run stays readable at its end.
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
        return self.spark

    def record_env(self) -> None:
        import duckdb
        import pyspark

        jvm = self.spark.sparkContext._jvm
        self.info.update(
            {
                "nproc": len(os.sched_getaffinity(0)),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "master": self.spark.sparkContext.master,
                "load_after": loadavg(),
                "rss_at_peak_mb": self.rss.peak_parts,
                "cpu_pct_until_window_end": self.rss.cpu,
                "java": jvm.java.lang.System.getProperty("java.version"),
                "pyspark": pyspark.__version__,
                "duckdb": duckdb.__version__,
                "python": platform.python_version(),
            }
        )

    def close(self) -> None:
        try:
            if self.rss.is_alive():
                self.rss.stop()
            if self.spark is not None:
                gateway = self.spark.sparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
                jvm = getattr(gateway, "proc", None)
                if jvm is not None:
                    jvm.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        jvm.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        jvm.kill()
                        jvm.wait()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(RUN_DIR)  # only when no trace file is kept there


# ---------------------------------------------------------------- probes


class Py4jCounter:
    """Counts py4j commands sent from Python to the JVM while ``active``."""

    def __init__(self, spark):
        self.n = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.n += 1
            return send(*args, **kwargs)

        client.send_command = counted


class CatalystPhases:
    """Sums Catalyst's phase times (analysis, optimization, planning) of
    every query execution that finishes while registered, read from each
    execution's ``QueryPlanningTracker`` by a ``QueryExecutionListener``."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.spark = spark
        self.ms = {p: 0.0 for p in self.PHASES}
        self.executions = 0

    def add_tracker(self, tracker) -> None:
        phases = tracker.phases()
        for p in self.PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.ms[p] += opt.get().durationMs()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        self.executions += 1
        self.add_tracker(qe.tracker())

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.executions += 1

    def __enter__(self):
        self.spark._jsparkSession.listenerManager().register(self)
        return self

    def __exit__(self, *exc):
        wait_listeners(self.spark)
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def wait_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _epoch(rest_time: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(rest_time, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def jobs_since(spark, since: float, group_prefix: str | None = None) -> dict[str, float]:
    """Jobs, tasks, shuffle read/write and spill (MB) of the jobs submitted
    at or after epoch ``since`` (and, when given, in a job group starting
    with ``group_prefix``), from the status REST API of Spark's UI."""
    wait_listeners(spark)
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/jobs", timeout=30) as r:
        jobs = [
            j for j in json.load(r)
            if _epoch(j["submissionTime"]) >= since - 0.001
            and (group_prefix is None or (j.get("jobGroup") or "").startswith(group_prefix))
        ]
    with urllib.request.urlopen(f"{base}/stages", timeout=30) as r:
        stages = {s["stageId"]: s for s in json.load(r) if s["status"] != "SKIPPED"}
    mine = [stages[i] for i in {i for j in jobs for i in j["stageIds"]} if i in stages]
    mb = 1 / (1024 * 1024)
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(s["numCompleteTasks"] for s in mine),
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in mine) * mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in mine) * mb,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in mine) * mb,
    }


#: The micro-batch phases that together make up a batch's time.
PHASES = ("streaming.plan_s", "streaming.source_s", "streaming.add_batch_s", "streaming.commit_s")


def progress_phases(progress: list[dict]) -> dict[str, float]:
    """Per-layer split of micro-batches from ``StreamingQuery.recentProgress``:
    batch count, median batch time and summed phase times (s), median input
    rows per batch, and the state size after the last batch."""

    def total(*keys):
        return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1000.0

    state = progress[-1].get("stateOperators", []) if progress else []
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_s": median([p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]) if progress else 0.0,
        "streaming.plan_s": total("queryPlanning"),
        "streaming.source_s": total("latestOffset", "getBatch"),
        "streaming.add_batch_s": total("addBatch"),
        "streaming.commit_s": total("walCommit", "commitOffsets"),
        "streaming.rows_per_batch": median([p.get("numInputRows", 0) for p in progress]) if progress else 0.0,
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "streaming.state_mb": sum(s.get("memoryUsedBytes", 0) for s in state) / (1024 * 1024),
    }


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024 * 1024)
