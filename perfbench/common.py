"""Shared pieces of the benchmark: run directory, Spark session, spans,
memory sampling, the helper process and statistics."""

from __future__ import annotations

import contextlib
import gc
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

PROCESS_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


class RunDir:
    """A scratch directory inside the checkout for one workload run: the
    working directory, checkpoints, spool dirs, Spark local dirs and the
    seeded inputs all live here, and it is removed when the run ends."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(BENCH_DIR, f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        local = self.sub("spark-local")
        os.environ["SPARK_LOCAL_DIRS"] = local
        tmp = os.environ["TMPDIR"] = self.sub("tmp")
        # every JVM the run starts (Spark's launcher, the driver, `java
        # -version`) keeps its temp files here and writes no perf-data file,
        # which would otherwise go to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Python workers are started by the JVM from this environment; they
        # must import gohangout_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        # local[N] runs the whole cluster in the driver JVM; the library's
        # 8g default is more than a small shared box should hand one run
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
        os.chdir(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def file(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self):
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(BENCH_DIR)  # only when no other run or span file is left


def new_session(master: str | None = None):
    """A fresh SparkSession (stopping any previous one first: never two
    sessions at once)."""
    from pyspark.sql import SparkSession

    from gohangout_spark import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        "perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup_session(previous):
    """The session for one set-up cycle: the first cycle starts Spark, each
    later one opens a fresh SQL session on the running context (own conf,
    views and plan caches; same JVM and Python workers)."""
    return new_session() if previous is None else previous.newSession()


def force(df) -> None:
    """Compute every row without collecting it (bench.py's protocol)."""
    df.write.format("noop").mode("overwrite").save()


def jvm_gc(spark) -> None:
    gc.collect()
    spark._jvm.System.gc()


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, module, start, end, parent, run id), written
    out when the run ends. Disabled, ``span`` costs one context manager."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, module: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "module": module,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, module: str, start: float, end: float,
            parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a streaming trigger)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "module": module,
                "parent": parent, "run": self.run_id, "start": start,
                "end": end, **attrs,
            })

    def self_time_by_module(self) -> dict[str, float]:
        """Span duration minus the part of it that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur is None or lo > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [lo, hi]
                else:
                    cur[1] = max(cur[1], hi)
            if cur is not None:
                covered += cur[1] - cur[0]
            out[s["module"]] = out.get(s["module"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "run": self.run_id,
                "self_time_s_by_module": self.self_time_by_module(),
                **extra,
                "spans": self.spans,
            }, f, indent=1)


# ------------------------------------------------------------- memory


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it, so a forked worker's copy-on-write pages (or
    the JVM's briefly forked launcher) are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


class RssSampler:
    """Peak resident memory (summed PSS) of this process and its
    descendants (the driver JVM and the Python workers), leaving out the
    load generator's process."""

    PERIOD_S = 0.5

    def __init__(self):
        self.exclude: int | None = None
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid == self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _run(self):
        while not self._stop.wait(self.PERIOD_S):
            self.peak_kb = max(self.peak_kb, self.sample())

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(5)
        self.peak_kb = max(self.peak_kb, self.sample())
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- helper


class Helper:
    """The out-of-process load generator and bulk receiver (helper.py)."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "helper.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        self.receiver = self._read()["receiver"]

    def _read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        return json.loads(line)

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call("quit")
            except (OSError, RuntimeError, ValueError):
                pass
            try:
                self.proc.wait(30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# ------------------------------------------------------------- statistics


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def versions() -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": os.cpu_count(),
        "spark_cpus": cpus(),
        "spark": pyspark.__version__,
        "java": next((line for line in java.splitlines() if " version " in line), "?"),
        "python": platform.python_version(),
    }


def first_span_s(tracer: Tracer, name: str) -> float:
    """Duration of the first span called ``name``."""
    s = next(s for s in tracer.spans if s["name"] == name)
    return s["end"] - s["start"]
