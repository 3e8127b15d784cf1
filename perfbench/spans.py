"""Benchmark-side instrumentation: spans, Spark event-log attribution and a
process-tree RSS sampler. Nothing here runs inside the package; layers are
timed at the calls into their public functions.

A span is (name, start, end, parent). While a span is open its path is the
Spark job group of the calling thread, so every job the layer submits is
tagged with it in the event log; `spark_by_span` folds task metrics back
onto the spans after the session has stopped.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    path: str  # names from the root, '/'-joined: the Spark job group
    parent: "int | None"
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. With `sc` unset it only keeps time and the
    counting hooks pass frames through untouched, so the same code path
    serves the untraced run."""

    sc: object = None
    spans: list = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    _stack: list = field(default_factory=list)
    _pinned: list = field(default_factory=list)
    _observed: list = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @property
    def on(self) -> bool:
        return self.sc is not None

    def phase(self) -> str:
        return self._stack[0].name if self._stack else ""

    def force(self, df, counter: str):
        """Traced run: materialize `df` inside the current span (persist +
        count), so its work is timed at this layer rather than by whichever
        later action first needs it."""
        if not self.on:
            return df
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pinned.append(df)
        self.counts[f"{self.phase()}/{counter}"] += df.count()
        return df

    def count_rows(self, df, name: str):
        """Traced run: count the rows of table `name` a commit adds, in a
        child span."""
        if self.on:
            with self.span("count"):
                self.counts[f"{self.phase()}/rows/{name}"] += df.count()
        return df

    def observe_rows(self, df, name: str):
        """Traced run: count rows as the next action streams them through
        (operators.metrics.observe_counts); read by `collect_observed`."""
        if not self.on:
            return df
        from eth2dgraph_spark.operators.metrics import observe_counts

        df, obs = observe_counts(df, name)
        self._observed.append((f"{self.phase()}/rows/{name}", obs))
        return df

    def collect_observed(self) -> None:
        for key, obs in self._observed:
            self.counts[key] += obs.get["total"]
        self._observed.clear()

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids),
            name,
            f"{parent.path}/{name}" if parent else name,
            parent.id if parent else None,
            time.monotonic(),
        )
        self._stack.append(s)
        if self.on:
            self.sc.setJobGroup(s.path, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self.spans.append(s)
            if self.on:
                if parent is None:
                    self.sc._jsc.clearJobGroup()
                else:
                    self.sc.setJobGroup(parent.path, parent.name)

    def named(self, name: str, phase: str) -> list:
        """Spans called `name` at or under the top-level span `phase`."""
        return [
            s for s in self.spans
            if s.name == name and (s.path == phase or s.path.startswith(phase + "/"))
        ]

    def self_time(self, name: str, phase: str) -> float:
        """Summed duration of the spans called `name` inside `phase`, minus
        the time their direct children cover."""
        total = 0.0
        for s in self.named(name, phase):
            # spans open and close on one thread, so children never overlap
            covered = sum(c.end - c.start for c in self.spans if c.parent == s.id)
            total += (s.end - s.start) - covered
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


SPARK_FIELDS = (
    "jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
    "executor_run_s", "gc_s", "output_records", "output_bytes",
)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics of a finished application's event log, summed per job
    group: {group: {field: value}} over SPARK_FIELDS."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {len(apps)}")
    log = os.path.join(log_dir, apps[0])
    # a rolling (v2) log is a directory of events_<n>_* files
    files = (
        sorted(
            (os.path.join(log, f) for f in os.listdir(log) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if os.path.isdir(log) else [log]
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    for path in files:
        with open(path) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = out[stage_group.get(ev.get("Stage ID"), "")]
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                g["gc_s"] += m.get("JVM GC Time", 0) / 1000
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                o = m.get("Output Metrics") or {}
                g["output_records"] += o.get("Records Written", 0)
                g["output_bytes"] += o.get("Bytes Written", 0)
    return dict(out)


def spark_by_span(groups: dict, spans: list, cores: int) -> dict[str, float]:
    """Spark totals of the jobs submitted under `spans` or their
    descendants, plus busy_share = executor run time / (wall x cores)."""
    paths = {s.path for s in spans}
    acc = dict.fromkeys(SPARK_FIELDS, 0.0)
    for group, vals in groups.items():
        if any(group == p or group.startswith(p + "/") for p in paths):
            for k in SPARK_FIELDS:
                acc[k] += vals[k]
    wall = sum(s.end - s.start for s in spans)
    acc["busy_share"] = acc["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return acc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) on a background thread; `peak` is the
    largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        return False
