"""Shared pieces of the benchmark: statistics, run stamps, failure
records, process-tree CPU/RSS metering and trace spans."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_BEYOND = 10  # samples a reported tail percentile must have above it


# -- statistics ----------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float] | None:
    """Highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(level, value)``: ``value`` is the sample at sorted rank
    ``n - TAIL_BEYOND`` (1-based), so exactly ``TAIL_BEYOND`` samples
    lie beyond it, and ``level`` is the share of samples at or below it
    in percent. ``None`` when there are too few samples for any tail."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, float(sorted(xs)[rank - 1])


def failed_share(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


def recall_at_k(approx, exact) -> float:
    """Share of the exact top-k ids present in the approximate top-k."""
    exact = list(exact)
    if not exact:
        raise ValueError("empty exact top-k")
    return len(set(approx) & set(exact)) / len(exact)


def bytes_ratio(stored: int, user: int) -> float:
    if user <= 0:
        raise ValueError("no user bytes")
    return stored / user


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet file count) of regular files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            full = os.path.join(dirpath, name)
            try:
                total += os.path.getsize(full)
            except FileNotFoundError:  # swapped out by a concurrent save
                continue
            if name.endswith(".parquet"):
                files += 1
    return total, files


# -- run stamp and failure records --------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """sha256 over the program's Python sources, for checkouts that
    carry no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "emdrive_spark")
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                h.update(os.path.relpath(full, ROOT).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def stamp(workload: str, seed: int, trace: bool) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "git_commit": git_commit(),
        "source_sha": source_digest(),
        "loadavg_1m": os.getloadavg()[0],
    }


@dataclass
class Ledger:
    """Attempts, failures and one record per failure, so a failed run
    can be explained from its artifacts."""

    workload: str
    attempted: int = 0
    failed: int = 0
    records: list[dict] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def ok(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, kind: str, status: int | str | None, error: str, **extra) -> None:
        """Count one failed operation; ``extra`` (such as the server-side
        error class) rides along in its record."""
        first = (error or "").strip().splitlines()
        with self._lock:
            self.attempted += 1
            self.failed += 1
            self.records.append({
                "workload": self.workload,
                "kind": kind,
                "status": status,
                "error": first[0][:500] if first else "",
                **extra,
            })


# -- process-tree CPU and RSS -------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _TICK, int(fields[21]) * _PAGE)
    return out


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in table.items():
        children.setdefault(ppid, []).append(pid)
    cpu = rss = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2]
        stack.extend(children.get(pid, ()))
    return cpu, rss


class TreeMeter:
    """Samples a process tree's RSS every ``interval`` seconds on a
    background thread and keeps the peak; ``cpu()`` reads CPU seconds."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def cpu(self) -> float:
        return tree_usage(self.root)[0]

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_usage(self.root)[1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeMeter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine so far, from /proc/stat.
    Steal is time the hypervisor gave this VM's CPUs to other guests; it
    slows wall-clock figures without showing in process CPU time."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU ticks stolen between two ``host_ticks``."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


# -- Spark settings ------------------------------------------------------

def spark_conf(work: str, trace: bool) -> dict:
    """Spark settings that keep scratch files and, when tracing, an
    uncompressed single-file event log under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM that PySpark launched for it
    (it exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def event_log(work: str) -> str:
    logdir = os.path.join(work, "eventlog")
    names = [n for n in os.listdir(logdir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {logdir}, found {names}")
    return os.path.join(logdir, names[0])


# -- spans ---------------------------------------------------------------

class Spans:
    """In-memory span log: name, start/end (epoch seconds), parent id and
    attributes. Written out once, when the run ends."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.items.append({"name": name, "start": start, "end": end, **attrs})

    def timed(self, name: str, **attrs):
        spans = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                spans.record(name, self.t0, time.time(), **attrs)

        return _Ctx()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.items, f)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
