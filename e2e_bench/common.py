"""Helpers shared by the benchmark's processes: environment, process-tree
memory sampling, statistics, answer comparison and run provenance.

Nothing here imports pyspark, so the load generator can use it without
starting a JVM of its own.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SF = 0.1  # scale of the generated tables (sf0.1: 600k lineitem rows)
BASE_SEED = 42  # base tables are fixed; --seed varies what is asked of them


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def program_env(repo: str, work: str) -> dict:
    """Environment for every process that runs the program: the repo on
    the Python path of the driver and of Spark's Python workers, and
    every scratch write kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    path = env.get("PYTHONPATH")
    env.update(
        PYTHONPATH=repo + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONHASHSEED="0",
        TZ="UTC",
    )
    return env


# ------------------------------------------------------------ processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` in clock ticks (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[11]) + int(fields[12])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class TreeSampler:
    """Samples the summed RSS and CPU time of a process and all its
    descendants (Python driver, JVM, Python workers) until stopped;
    remembers every pid seen so the caller can wait for all of them to
    end."""

    def __init__(self, root: int, period: float = 0.2):
        self.root = root
        self.period = period
        self.peak = 0
        self.pids: set[int] = set()
        self.ticks: dict[int, int] = {}  # last CPU ticks seen per pid
        self.cpu: list[tuple[float, float]] = []  # (wall time, CPU s so far)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = process_tree(self.root)
            self.pids.update(tree)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))
            for p in tree:
                self.ticks[p] = max(self.ticks.get(p, 0), _cpu_ticks(p))
            self.cpu.append((time.time(), sum(self.ticks.values()) / os.sysconf("SC_CLK_TCK")))
            self._stop.wait(self.period)

    def cpu_between(self, t0: float, t1: float) -> float:
        """CPU seconds the tree used between wall times ``t0`` and ``t1``,
        to within one sampling period (a process that ends counts up to
        its last sample)."""
        def at(t):
            return max((c for s, c in self.cpu if s <= t), default=0.0)

        return at(t1) - at(t0)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[1][0] != "Z"
    except OSError:
        return False


def stop_tree(proc: subprocess.Popen, pids: set[int], grace: float = 20.0) -> None:
    """Terminate ``proc``, then wait until every process of its tree has
    ended, killing stragglers after ``grace`` seconds."""
    pids = set(pids) | set(process_tree(proc.pid))
    if proc.poll() is None:
        proc.terminate()
    try:
        proc.wait(timeout=grace)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + grace
    others = pids - {proc.pid, os.getpid()}
    while time.time() < deadline and any(_alive(p) for p in others):
        time.sleep(0.1)
    for p in others:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(p) for p in others):
        time.sleep(0.1)


# ------------------------------------------------------------ statistics
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def cpu_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a diagnostic of how busy the
    host was around a run. It never discards or retries a run."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return time.perf_counter() - t0 if s else 0.0


# ------------------------------------------------------------ answers
def same_answer(name: str, got_rows, got_cols, ref_rows, ref_cols) -> tuple[bool, str]:
    """Row count plus order-insensitive comparison of the row multiset,
    with the normalisation the engine's own oracle check applies."""
    from karna_spark.oracle import compare_frames

    got_rows = [tuple(_hashable(v) for v in r) for r in got_rows]
    ref_rows = [tuple(_hashable(v) for v in r) for r in ref_rows]
    res = compare_frames(name, got_rows, list(got_cols), ref_rows, list(ref_cols))
    return res.ok, res.detail


def _hashable(v):
    """Structs arrive as dicts from JSON and from DuckDB alike; compare
    them as (field, value) tuples so row sorting stays total."""
    if isinstance(v, dict):
        return tuple((k, _hashable(x)) for k, x in v.items())
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def rows_digest(rows) -> str:
    """Order-insensitive digest of rows, for checking a result after the
    timed loop without keeping the rows."""
    from karna_spark.oracle import _norm_cell

    lines = sorted(repr(tuple(_norm_cell(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# ------------------------------------------------------------ provenance
def _cmd(args: list[str]) -> str:
    try:
        out = subprocess.run(args, capture_output=True, text=True, timeout=20)
        return (out.stdout + out.stderr).strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def provenance(repo: str, seed: int) -> dict:
    """Seed, host size and toolchain versions of one run."""
    commit = _cmd(["git", "-C", repo, "rev-parse", "HEAD"])
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = ""
    java = _cmd(["java", "-version"]).splitlines()
    return {
        "seed": seed,
        "nproc": nproc(),
        "git_commit": commit if len(commit) == 40 else "unknown",
        "spark": spark_version,
        "python": platform.python_version(),
        "java": java[0] if java else "",
        "sf": SF,
    }


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)
