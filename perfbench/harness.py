"""Run-time environment of one benchmark run: Spark sized for this machine,
the set-up timing, the RSS sampler, the CPU calibration and the result line.

All scratch (Spark local dirs, event logs, stores, traces) lives under
``.perfbench_work/`` in the checkout, so a run reads and writes nothing
outside it.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def driver_heap() -> str:
    """An explicit driver heap for this machine: an eighth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
    return f"{max(1, min(4, kib // (8 * 1024 * 1024)))}g"


def cpu_steal_s() -> float:
    """Cumulative CPU time stolen from this machine by its hypervisor."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_calibration() -> float:
    """Seconds for a fixed pure-Python loop (median of 3): a yardstick for
    comparing results taken on different machines or under load."""
    def once():
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(3))


class RssSampler(threading.Thread):
    """Peak summed resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc. Each process counts its
    proportional share (PSS) of pages it shares with others, so the
    copy-on-write pages the workers share with their parent daemon count
    once."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self.peak_detail: dict = {}
        self._halt = threading.Event()

    def tree(self) -> list[int]:
        """Pids of the root process and all its descendants."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> int:
        total = root = procs = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    rss = next(int(l.split()[1]) for l in f if l.startswith("Pss:")) * 1024
            except (OSError, ValueError, StopIteration):
                continue
            total += rss
            procs += 1
            if pid == self.root_pid:
                root = rss
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_detail = {"jvm_mb": root / 2**20, "workers_mb": (total - root) / 2**20,
                                "processes": procs}
        return total

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak_bytes / (1024 * 1024)


class Env:
    """Spark session plus the run's scratch area, started with timings."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.t_process = process_start_time()
        self.nproc = len(os.sched_getaffinity(0))
        self.heap = driver_heap()
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.dir = os.path.join(WORK, "runs", self.run_id)
        self.spark = None
        self.rss = None
        self.timings: dict[str, float] = {}

    def start(self) -> None:
        """JVM + session, then Python-worker warm-up; ``setup_s`` runs from
        process start to the end of the warm-up."""
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        tmp = os.path.join(self.dir, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_DRIVER_MEM"] = self.heap
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # the short-lived launcher JVM that spark-submit runs first
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # -Xmx comes from SPARK_DRIVER_MEM; the heap grows on demand, so
            # the program's heap use shows in peak_rss_mb
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.dir, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        from anycrawl_spark.bench_workloads import warm_python_workers
        from anycrawl_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            "perfbench", cores=self.nproc, shuffle_partitions=self.nproc, extra_conf=conf
        )
        t1 = time.time()
        self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()
        warm_python_workers(self.spark, self.nproc)
        t2 = time.time()
        self.timings = {
            "setup_s": t2 - self.t_process,
            "session.jvm_start_s": t1 - t0,
            "session.worker_warm_s": t2 - t1,
            "python_start_s": t0 - self.t_process,
        }

    def stop(self) -> float:
        """Stop Spark, the JVM and its Python workers, waiting until every
        one has exited; returns the peak RSS in MiB."""
        peak = self.rss.stop() if self.rss else 0.0
        if self.spark is None:
            return peak
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        tree = self.rss.tree() if self.rss else []
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline and any(_alive(p) for p in tree):
            time.sleep(0.1)
        for p in tree:
            if _alive(p):
                os.kill(p, signal.SIGKILL)
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None
        return peak

    def cleanup(self) -> None:
        """Drop the run's bulky scratch (stores, shuffle files)."""
        for d in ("spark-local", "tmp", "warehouse", "store", "eventlog"):
            shutil.rmtree(os.path.join(self.dir, d), ignore_errors=True)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie counts as gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check_counts_repeat(env: Env, counts: dict) -> dict:
    """Store this run's exact counts; when an earlier run of the same
    workload, seed and mode left its counts, list every count that differs
    (a changed count flags nondeterminism)."""
    path = os.path.join(WORK, "counts", f"{env.workload}-s{env.seed}-t{int(env.trace)}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    out = {"compared": False, "differs": []}
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        out = {"compared": True,
               "differs": sorted(k for k in set(before) | set(counts)
                                 if before.get(k) != counts.get(k))}
    with open(path, "w") as f:
        json.dump(counts, f, sort_keys=True)
    return out
