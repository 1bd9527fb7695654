"""Outside-in measurement: spans around engine entry points, Spark status-store
counters, Hadoop FileSystem bytes, directory sizes and process-tree RSS.

Nothing here edits the engine. A traced run rebinds public engine entry
points in its own process (``Tracer.wrap``), wrapping each in a span; an
untraced run installs no wrapper.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from contextlib import contextmanager


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, VmRSS in kB by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(
                    line.split(":", 1) for line in f if line[:5] in ("PPid:", "VmRSS")
                )
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields["PPid"]), []).append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    return children, rss


def descendants(root: int) -> list[int]:
    """Every process below ``root`` (not ``root`` itself)."""
    children, _ = _process_table()
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _tree_rss_kb(root: int) -> int:
    children, rss = _process_table()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def fs_bytes_read(spark) -> int:
    """Cumulative bytes read through Hadoop FileSystem streams in the JVM."""
    total = 0
    it = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().iterator()
    while it.hasNext():
        total += it.next().getBytesRead()
    return total


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Hadoop's .crc side files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class StatusStore:
    """Engine-wide counters from Spark's status store (works with the UI off).
    ``harvest`` returns the totals of stages completed since the last call."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.mark()

    def _stages(self):
        jvm = self.sc._jvm
        arr = self.sc._gateway.new_array(jvm.double, 0)
        it = self.store.stageList(None, False, False, arr, jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def _jobs(self) -> set[int]:
        it = self.store.jobsList(None).iterator()
        out = set()
        while it.hasNext():
            out.add(it.next().jobId())
        return out

    def mark(self) -> None:
        self._seen_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self._seen_jobs = self._jobs()

    def harvest(self, wall_s: float) -> dict:
        stages = [
            s
            for s in self._stages()
            if (s.stageId(), s.attemptId()) not in self._seen_stages
            and s.status().toString() == "COMPLETE"
        ]
        jobs = self._jobs() - self._seen_jobs
        run_ms = sum(s.executorRunTime() for s in stages)
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            times = []
            it = self.store.taskList(longest.stageId(), longest.attemptId(), 1 << 20).iterator()
            while it.hasNext():
                m = it.next().taskMetrics()
                if m.isDefined():
                    times.append(m.get().executorRunTime())
            med = statistics.median(times) if times else 0
            skew = max(times) / med if med > 0 else 1.0
        self.mark()
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numTasks() for s in stages),
            "spark.input_bytes": sum(s.inputBytes() for s in stages),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spark.task_skew": skew,
            "spark.busy_ratio": run_ms / 1000.0 / (wall_s * self.cores) if wall_s > 0 else 0.0,
        }


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with self times.

    ``span`` is a no-op unless tracing is on, so untraced runs pay nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, owner, attr: str, name: str, force=None) -> None:
        """Rebind ``owner.attr`` to a spanned version. ``force(result)``
        materialises a lazy result inside the span, so the executor work of
        this layer is charged to it and not to whichever later span would
        otherwise trigger it; it returns what the caller gets."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            if not self.enabled:
                return orig(*a, **kw)
            with self.span(name):
                out = orig(*a, **kw)
                return force(out) if force is not None else out

        setattr(owner, attr, traced)

    def totals(self) -> dict[str, dict]:
        """Per span name: total duration and self time (duration minus the
        time covered by child spans), in seconds, and the call count."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "calls": 0})
            t["total_s"] += d
            t["self_s"] += d - child_time[i]
            t["calls"] += 1
        return out
