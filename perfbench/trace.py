"""Tracing for the benchmark: in-memory spans around calls into the
engine's layers, Spark event-log parsing into per-layer task metrics, and
a resident-memory sampler for the JVM and its Python workers.

Spans are kept in memory and written once, at exit. While a span is open
its name is the Spark job description (`<workload>/<span>`), so every
task in the event log can be charged to the innermost open span.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

EVENT_METRICS = ("task_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "gc_s", "util")


def layer_of(span: str) -> str:
    """Layer a span belongs to: `sources.<format>` or the first name part."""
    parts = span.split(".")
    return ".".join(parts[:2]) if parts[0] == "sources" else parts[0]


class Tracer:
    """Spans (name, start, end, parent, run id) of one benchmark run.
    Disabled, `span` only runs its body."""

    def __init__(self, sc, workload: str, run_id: str, enabled: bool) -> None:
        self.sc = sc
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._open[-1] if self._open else None
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{self.workload}/{name}")
        self._open.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.sc.setJobDescription(prev)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def self_times(self) -> list[dict]:
        """Each span with its self time: duration minus the time its child
        spans cover (children run one after another, never overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [dict(s, self_s=s["end"] - s["start"] - child.get(s["id"], 0.0))
                for s in self.spans]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.self_times(), indent=1))


def event_log_file(log_dir: Path) -> Path | None:
    files = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    return files[0] if len(files) == 1 else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000


def parse_event_log(path: Path, workload: str, cores: int) -> dict[str, dict]:
    """Per-layer task metrics from a Spark event log: tasks are charged to
    the layer of the job description their stage was first submitted
    under. `util` is task time over (busy wall time x cores), busy time
    being the union of that layer's job intervals."""
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    job_start: dict[int, int] = {}
    busy: dict[str, list] = {}
    acc: dict[str, dict] = {}
    prefix = workload + "/"
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith(prefix):
                    continue
                layer = layer_of(desc[len(prefix):])
                job_layer[ev["Job ID"]] = layer
                job_start[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_layer:
                jid = ev["Job ID"]
                busy.setdefault(job_layer[jid], []).append(
                    (job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_layer:
                m = ev.get("Task Metrics") or {}
                a = acc.setdefault(stage_layer[ev["Stage ID"]], dict.fromkeys(
                    EVENT_METRICS, 0.0))
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                a["task_s"] += m.get("Executor Run Time", 0) / 1000
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    for layer, a in acc.items():
        busy_s = _union_s(busy.get(layer, []))
        a["util"] = a["task_s"] / (busy_s * cores) if busy_s > 0 else 0.0
    return acc


# ---------------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def tree_rss_bytes(pid: int) -> int:
    """RSS of process `pid` plus its Python descendants. Other children
    (short-lived helpers the JVM spawns) are skipped: while one is being
    spawned it can report the parent's whole resident set as its own."""
    total, todo = _rss(pid), _children(pid)
    while todo:
        p = todo.pop()
        if _is_python(p):
            total += _rss(p)
            todo += _children(p)
    return total


class RssSampler:
    """Samples the resident size of a process tree every `period` seconds
    on a background thread and keeps the peak."""

    def __init__(self, pid: int, period: float = 0.1) -> None:
        self.pid = pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
