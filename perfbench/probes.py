"""Measurement helpers that observe the engine from outside: sample
statistics, a /proc RSS sampler, the JVM GC bean, parquet write
accounting, scan-node SQL metrics and streaming progress parsing."""

from __future__ import annotations

import ast
import json
import math
import os
import threading
import time
from datetime import datetime


# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    return percentile(xs, 0.5)


def supports(n: int, q: float) -> bool:
    """A percentile is reported only with at least ten samples beyond it
    (p95 needs 200 samples); the median only needs one."""
    return n >= 1 if q == 0.5 else n * (1.0 - q) >= 10


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile; raises when the sample is too
    small to support ``q``."""
    if not supports(len(xs), q):
        raise ValueError(f"p{round(q * 100)} needs more than {len(xs)} samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def percentile_or_none(xs: list[float], q: float) -> float | None:
    return percentile(xs, q) if xs and supports(len(xs), q) else None


# ---------------------------------------------------------------- processes


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; fields after ')' are fixed
        fields = stat[stat.rfind(b")") + 2 :].split()
        parent[int(name)] = int(fields[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Sampler:
    """Background thread that records the peak RSS of this process and
    its descendants (the driver JVM and its Python workers), and, when
    given a directory, the peak bytes under it."""

    def __init__(self, interval_s: float = 0.1, watch_dir: str | None = None):
        self.interval_s = interval_s
        self.watch_dir = watch_dir
        self.peak_rss = 0
        self.peak_dir = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me, tick = os.getpid(), 0
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(me))
            if self.watch_dir and tick % 5 == 0:
                self.peak_dir = max(self.peak_dir, dir_bytes(self.watch_dir))
            tick += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> Sampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- JVM


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


# ---------------------------------------------------------------- parquet writes


def table_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) of one table directory."""
    files = total = 0
    if os.path.isdir(path):
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(path, f))
    return files, total


class WriteAccounting:
    """Wraps the engine's ``upsert_parquet`` so every call is timed and
    the table it leaves behind is measured. Each upsert rewrites its
    whole table, so the bytes written by a call are the bytes of the
    table after it."""

    def __init__(self, load_module):
        self._mod = load_module
        self._orig = load_module.upsert_parquet
        self.calls: list[tuple[str, float, int, int]] = []  # path, seconds, bytes, files

    def __enter__(self) -> WriteAccounting:
        orig = self._orig

        def traced(spark, incoming, path, keys, order):
            t0 = time.perf_counter()
            n = orig(spark, incoming, path, keys, order)
            secs = time.perf_counter() - t0
            files, size = table_files(path)
            self.calls.append((path, secs, size, files))
            return n

        self._mod.upsert_parquet = traced
        return self

    def __exit__(self, *exc) -> None:
        self._mod.upsert_parquet = self._orig

    def metrics(self) -> dict:
        if not self.calls:
            return {}
        secs = [c[1] for c in self.calls]
        written = sum(c[2] for c in self.calls)
        finals: dict[str, tuple[int, int]] = {}
        for path, _s, size, files in self.calls:
            finals[path] = (size, files)
        final_bytes = sum(v[0] for v in finals.values())
        return {
            "load.upsert_calls": len(self.calls),
            "load.upsert_s_p50": median(secs),
            "load.upsert_s_max": max(secs),
            "load.bytes_written": written,
            "load.write_amp": written / final_bytes if final_bytes else 0.0,
            "load.files": sum(v[1] for v in finals.values()),
        }


# ---------------------------------------------------------------- SQL scan metrics


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def scan_metrics(df) -> dict:
    """Sum the file-scan SQL metrics of an executed DataFrame's final
    physical plan: files read, bytes of those files, rows out of scans."""
    out = {"files": 0, "bytes": 0, "rows": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        m = node.metrics()
        if kind.endswith("ScanExec") and m.contains("numFiles"):
            out["files"] += m.apply("numFiles").value()
            out["bytes"] += m.apply("filesSize").value()
            out["rows"] += m.apply("numOutputRows").value()
        stack.extend(_children(node))
    return out


# ---------------------------------------------------------------- streaming progress


def parse_offset(value) -> int | None:
    """A stream source offset as its slot cursor. Python data sources
    report offsets as a JSON string or a dict repr (``"{'slot': 7}"``),
    depending on the Spark version; a dict is taken as is."""
    if value is None:
        return None
    if isinstance(value, str):
        try:
            value = json.loads(value)
        except ValueError:
            value = ast.literal_eval(value)
        if isinstance(value, str):  # JSON-encoded dict repr
            value = ast.literal_eval(value)
    return int(value["slot"])


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_batches(progress: list[dict]) -> list[dict]:
    """One record per micro-batch that read slots: the slot range
    [first, end), and the batch's start and end wall-clock times."""
    out = []
    for p in progress:
        src = (p.get("sources") or [{}])[0]
        first, end = parse_offset(src.get("startOffset")), parse_offset(src.get("endOffset"))
        if first is None or end is None or end <= first:
            continue
        start = _epoch(p["timestamp"])
        dur = p.get("durationMs", {})
        out.append(
            {
                "first": first,
                "end": end,
                "start": start,
                "commit": start + p["batchDuration"] / 1000.0,
                "batch_ms": float(p["batchDuration"]),
                "add_batch_ms": float(dur.get("addBatch", 0)),
                "latest_offset_ms": float(dur.get("latestOffset", 0)),
            }
        )
    return out


def slot_lags(batches: list[dict], slots: list[int], final_time) -> dict[int, float]:
    """Per slot: its batch's commit time minus the slot's finality time.
    Slots no batch covered are absent."""
    commit: dict[int, float] = {}
    for b in batches:
        for s in range(b["first"], b["end"]):
            commit.setdefault(s, b["commit"])
    return {s: commit[s] - final_time(s) for s in slots if s in commit}
