"""Benchmark plumbing: pinned environment, engine session lifecycle,
memory sampling, and out-of-engine tracing.

Nothing here changes engine code. Layers are timed from outside by
wrapping calls into each layer's public functions in spans; Spark work
inside a span is attributed to it through a per-span job group.
"""

from __future__ import annotations

import json
import os
import platform
import shlex
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

#: driver heap for the benchmark's sessions: the engine's 24g default
#: is sized for a 128 GiB host; the inputs here need well under 1 GiB
DRIVER_MEM_MB_MAX = 3072


def cpus() -> int:
    return min(os.cpu_count() or 1, 4)


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def pin_env(work: str) -> dict:
    """Pin every knob an engine session reads, before any JVM starts.

    All scratch (shuffle spill, warehouse, JVM and Python temp files)
    goes under ``work`` so a run writes only inside its checkout.
    """
    mem_mb = min(DRIVER_MEM_MB_MAX, ram_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            # -UsePerfData: no hsperfdata file under the system /tmp
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR: an earlier workload's is gone
    return env


def environment(root: str) -> dict:
    """Versions and machine facts recorded with every result."""
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.TimeoutExpired):
        java = "unknown"
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": os.cpu_count(),
        "cpus_used": cpus(),
        "ram_mb": ram_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "commit": commit,
    }


# ------------------------------------------------------------- session


class Engine:
    """Owns the engine's SparkSession and the JVM behind it."""

    def __init__(self):
        self.spark = None

    def start(self, cores: int | None = None) -> float:
        """(Re)start the engine session; returns seconds taken."""
        from mapreduceindex_spark.session import get_spark

        self.stop_session()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=cores)
        return time.perf_counter() - t0

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone; still reap it
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # persisted-RDD census: what functions.caching (and any other
    # persist) keeps alive in the session
    def cache_census(self) -> tuple[int, float]:
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        mb = sum(
            info.memSize() + info.diskSize()
            for info in jsc.sc().getRDDStorageInfo()
        ) / 1e6
        return n, mb


# ------------------------------------------------------------- memory


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_mb(pids: list[int]) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled from /proc on a background thread."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_mb(_descendants(self.pid)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _rss_mb(_descendants(self.pid)))


# ------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans around calls into the engine's layers.

    A span has a name, start/end (seconds since the tracer started), the
    moment the wrapped call returned its lazy plan (``plan_end``), its
    parent span and op id, and the Spark jobs/stages/tasks/shuffle bytes
    run under its own job group (children's work is theirs, not the
    parent's). A disabled tracer records nothing and touches no Spark
    state, so untraced timings carry no tracing cost.
    """

    def __init__(self, engine: Engine | None, enabled: bool):
        self.engine, self.enabled = engine, enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.engine.sc
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        group = f"perfbench-span-{rec['id']}"
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._spark_work(group))

    def planned(self, rec: dict | None) -> None:
        """Mark the moment the wrapped call returned its (lazy) result."""
        if rec is not None:
            rec["plan_end"] = time.perf_counter() - self._t0

    def _spark_work(self, group: str) -> dict:
        sc = self.engine.sc
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        shuffle = scan = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # evicted or never submitted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                stages += 1
                tasks += sd.numCompleteTasks()
                shuffle += sd.shuffleWriteBytes()
                scan += sd.inputBytes()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "shuffle_bytes": shuffle,
            "input_bytes": scan,
        }

    # ---- reporting

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children run sequentially)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(s["id"], 0.0)
            )
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh, indent=1)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it
    (None when even the median has fewer than ten beyond it)."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))
