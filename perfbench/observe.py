"""Measurement helpers: spans, Spark event-log attribution, peak RSS and
box-health probes.  Nothing here starts a thread or touches a file at
import time."""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path


def now() -> float:
    return time.perf_counter()


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else 0.5 * (xs[mid - 1] + xs[mid])


class Tracer:
    """In-memory spans (name, layer, start, end, parent, run id), written
    once at the end.  Times are wall-clock epoch seconds so they line up
    with the Spark event log.  A disabled tracer still times the block
    (callers need the duration either way) but records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, layer: str, name: str, **attrs):
        return _Span(self, layer, name, attrs)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps({"run_id": self.run_id,
                                    "spans": self.spans}))


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str, attrs: dict):
        self.tracer, self.layer, self.name, self.attrs = tracer, layer, name, attrs
        self.seconds = None

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.idx = len(tr.spans)
            tr.spans.append({
                "id": self.idx, "run": tr.run_id, "layer": self.layer,
                "name": self.name,
                "parent": tr._stack[-1] if tr._stack else None,
                "start": time.time(), "end": None, **self.attrs})
            tr._stack.append(self.idx)
        self._t0 = now()
        return self

    def __exit__(self, *exc):
        self.seconds = now() - self._t0
        tr = self.tracer
        if tr.enabled:
            tr.spans[self.idx]["end"] = time.time()
            tr._stack.pop()
        return False


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """Per-layer self time: each span's duration minus the union of its
    direct children's intervals."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def read_event_log(log_dir: Path) -> dict:
    """Parse the one application event log under ``log_dir`` into jobs
    (id, group, start, end, stages) and per-stage task totals."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                             "end": None,
                             "group": props.get("spark.jobGroup.id"),
                             "tasks": 0, "executor_run_s": 0.0,
                             "map_run_s": 0.0, "reduce_run_s": 0.0,
                             "shuffle_write_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000.0
                read = m.get("Shuffle Read Metrics", {})
                fetched = (read.get("Remote Blocks Fetched", 0)
                           + read.get("Local Blocks Fetched", 0))
                job["tasks"] += 1
                job["executor_run_s"] += run_s
                # a task that reads shuffle blocks is reduce side (stage 2)
                job["reduce_run_s" if fetched else "map_run_s"] += run_s
                job["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict) -> list[dict]:
    """For every span: the jobs submitted inside it (and carrying its job
    group when the span set one), and the driver gap — span wall time
    minus the union of those jobs' intervals."""
    out = []
    for s in spans:
        group = s.get("job_group")
        mine = [j for j in jobs.values()
                if j["end"] is not None
                and s["start"] <= j["start"] <= s["end"]
                and (group is None or j["group"] == group)]
        wall = s["end"] - s["start"]
        busy = _union_length([(max(j["start"], s["start"]),
                               min(j["end"], s["end"])) for j in mine])
        out.append({
            "name": s["name"], "wall_s": wall, "jobs": len(mine),
            "tasks": sum(j["tasks"] for j in mine),
            "executor_run_s": sum(j["executor_run_s"] for j in mine),
            "map_run_s": sum(j["map_run_s"] for j in mine),
            "reduce_run_s": sum(j["reduce_run_s"] for j in mine),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in mine),
            "driver_gap_s": max(wall - busy, 0.0),
        })
    return out


class RssSampler:
    """Peak summed resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc by one daemon
    thread.  Each process counts its proportional set size (PSS: resident
    pages, a page shared by n processes counting 1/n), so the Python
    workers forked from one daemon do not count their shared pages once
    per worker and the sum does not jump with the number of idle workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}  # at the peak, by kind
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    @staticmethod
    def _kind(pid: int, root: int) -> str:
        if pid == root:
            return "driver"
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            return "other"
        return "jvm" if b"java" in cmd else "python_workers"

    def _sample(self) -> tuple[int, dict]:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited between listdir and open
        root, by_kind = os.getpid(), {}
        for pid in parent:
            p = pid
            while p and p != root:
                p = parent.get(p)
            if p == root:
                try:
                    kind = self._kind(pid, root)
                    by_kind[kind] = by_kind.get(kind, 0) + self._pss(pid)
                except OSError:
                    continue
        return sum(by_kind.values()), by_kind

    def _update(self) -> None:
        total, by_kind = self._sample()
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_process = total, by_kind

    def _run(self):
        while not self._stop.is_set():
            self._update()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._update()
        return False


def kernel_control() -> float:
    """Pure-kernel control: best-of-3 SCRIMP matrix profile of a fixed
    4k-point series, in the driver with no Spark job in flight.  A slow
    reading with healthy code means a contended host."""
    import numpy as np

    from streaming_algorithms_spark.sketches import matrix_profile

    series = np.random.default_rng(42).integers(0, 1000, 4000)
    matrix_profile(series[:256], m=60, percent=100, with_index=False)
    best = float("inf")
    for _ in range(3):
        t0 = now()
        matrix_profile(series, m=60, percent=100, with_index=False)
        best = min(best, now() - t0)
    return best


def disk_probe(directory: Path, mb: int = 32) -> float:
    """fsync'd write throughput in MB/s (best of 2) inside ``directory``."""
    buf = b"\x5a" * (mb << 20)
    best = 0.0
    path = directory / "disk_probe.bin"
    for _ in range(2):
        t0 = now()
        with open(path, "wb") as f:
            f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        best = max(best, mb / (now() - t0))
        path.unlink()
    return best
