"""Shared pieces of the benchmark: spans, the percentile rule, the /proc
memory sampler, host context, output digests and JVM shutdown.

Nothing here imports Spark or the program under test, so the helpers can
be unit-tested without a session.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import statistics
import threading
import time
from contextlib import contextmanager

# --- percentiles --------------------------------------------------------------

#: A tail percentile is reported only when at least this many samples lie
#: beyond it (p90 needs 100 samples, p99 needs 1000).
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[max(rank, 1) - 1]


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples put at least MIN_TAIL_SAMPLES beyond ``q``."""
    return n * (100 - q) / 100 >= MIN_TAIL_SAMPLES - 1e-9


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and the id of the run they
    belong to.  Written out once, when the benchmark ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            run_id: str | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "run_id": run_id, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, run_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), float("nan"), parent, run_id, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        return (s["end"] - s["start"]) - covered(
            [(c["start"], c["end"]) for c in self.children(sid)], s["start"], s["end"])

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.self_time(s["id"])
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- /proc memory sampler -----------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
        comm = stat[stat.index("(") + 1: stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        table[int(entry)] = (ppid, comm, rss_pages * _PAGE)
    return table


def descendants(root: int, table: dict[int, tuple[int, str, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class RssSampler:
    """Background thread: peak summed RSS of this process and all of its
    descendants (the JVM, the Python daemon and its workers), and the peak
    number of descendant Python processes."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        pids = [me] + descendants(me, table)
        self.peak_bytes = max(self.peak_bytes, sum(table[p][2] for p in pids if p in table))
        n_py = sum(1 for p in pids[1:] if p in table and table[p][1].startswith("python"))
        self.peak_python = max(self.peak_python, n_py)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- host context -------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_context(seed: int, workload: str) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg(),
        "cpu_steal_s": cpu_steal_s(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


# --- output digests -----------------------------------------------------------


def canonical_frame(df):
    """The oracle comparison's canonical image of a result frame: lowercase
    and sorted column names, rows sorted by every column, every cell as its
    pandas string image (the rule ``pulseboard_spark.parity`` applies)."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    return df.reset_index(drop=True).astype(str)


def frame_digest(df) -> dict:
    """Row count, column names and a sha256 over the canonical image."""
    canon = canonical_frame(df)
    h = hashlib.sha256()
    for col in canon.columns:
        h.update(col.encode() + b"\x1d")
        h.update("\x1e".join(canon[col].tolist()).encode())
        h.update(b"\x1f")
    return {"rows": len(canon), "columns": list(canon.columns), "sha256": h.hexdigest()}


def cached_mb(spark) -> float:
    """Memory held by persisted blocks (cached silvers and the like)."""
    return sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20


# --- process lifetime ---------------------------------------------------------


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the gateway JVM and wait until it and
    every process it started (the Python daemon and its workers) have
    exited."""
    import signal

    from pyspark import SparkContext

    started = descendants(os.getpid(), _proc_table())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while any(_alive(p) for p in started):
        if time.time() > deadline:
            for p in started:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + timeout_s
        time.sleep(0.1)


def trace_overhead(state: str, workload: str, traced_warm_s: float) -> float:
    """A traced run's warm pass against the median of the untraced runs of
    the same workload recorded in ``state``; 0 when none is recorded."""
    path = os.path.join(state, "runs.jsonl")
    if not os.path.exists(path):
        return 0.0
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    base = [r["e2e"]["warm_pass_s"] for r in recs
            if not r["trace"] and r["context"]["workload"] == workload]
    return traced_warm_s / median(base) - 1 if base else 0.0


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
