"""Measurement helpers of the crawl benchmark: process-tree RSS sampling,
Spark event-log aggregation, the admission recurrence and timing wrappers
around the store and filter-bank objects the benchmark passes in.

Nothing here starts a thread or touches Spark at import time; the pure
functions (``aggregate_event_log``, ``admit_recurrence``) are covered by
``perfbench/test_tracing.py``.
"""

from __future__ import annotations

import json
import os
import threading
import time

_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# peak RSS of the process tree below this process (JVM + Python workers)
# ---------------------------------------------------------------------------
def descendants(root_pid: int) -> list[int]:
    """Processes below ``root_pid``. Zombies are included: a JVM whose main
    thread has exited shows as a zombie while its other threads still run
    the shutdown hooks."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_BYTES
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of every descendant of ``root_pid`` on a
    background thread between ``start()`` and ``stop()``, and on each
    ``sample()`` call; ``peak`` is the largest sum seen (bytes)."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        """Take one sample now; returns the peak so far."""
        with self._lock:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            return self.peak

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total / 1e6


# ---------------------------------------------------------------------------
# admission recurrence: deferred_n = frontier_n - admitted_n,
# frontier_{n+1} = deferred_n + new_links_n
# ---------------------------------------------------------------------------
def admit_recurrence(n_seeds: int, wave_metrics: list[dict]) -> dict:
    """Rebuild the per-wave deferred counts from the crawler's published
    wave metrics (``admitted``, ``new_links``). ``final_frontier`` is the
    frontier left after the last wave — 0 for a crawl that drained."""
    frontier = n_seeds
    deferred_rows = throttle_waves = 0
    per_wave = []
    for m in wave_metrics:
        deferred = frontier - m["admitted"]
        if deferred < 0:
            raise ValueError(
                f"wave {m.get('wave_id')}: admitted {m['admitted']} "
                f"exceeds frontier {frontier}"
            )
        per_wave.append(deferred)
        deferred_rows += deferred
        throttle_waves += deferred > 0
        frontier = deferred + m["new_links"]
    return {
        "deferred_rows": deferred_rows,
        "throttle_waves": throttle_waves,
        "deferred_per_wave": per_wave,
        "final_frontier": frontier,
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
def read_event_log(path: str) -> list[dict]:
    """Events of one application log: a single file, or a rolling
    ``eventlog_v2_*`` directory of ``events_<n>_*`` files."""
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    events = []
    for name in files:
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def aggregate_event_log(
    events: list[dict], window: tuple[float, float]
) -> dict:
    """Aggregate the jobs submitted inside ``window`` (epoch seconds).

    Jobs are grouped by their ``spark.jobGroup.id`` property (the crawler
    tags each wave's jobs ``wave-N`` and post-loop jobs ``drain``); tasks
    are attributed to jobs through the stage ids each job lists.
    ``driver_gap_s`` is the part of the window no job was running."""
    lo, hi = window
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            if not lo <= t <= hi:
                continue
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id", ""),
                "start": t,
                "end": hi,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = min(ev["Completion Time"] / 1000.0, hi)
    out = {
        "jobs": len(jobs),
        "wave_jobs": sum(j["group"].startswith("wave-") for j in jobs.values()),
        "waves": len(
            {j["group"] for j in jobs.values() if j["group"].startswith("wave-")}
        ),
        "tasks": 0,
        "failed_tasks": 0,
        "task_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
    }
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if ev.get("Stage ID") not in stage_job or stage_job[ev["Stage ID"]] not in jobs:
            continue
        out["tasks"] += 1
        info = ev.get("Task Info") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            out["failed_tasks"] += 1
        out["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
        tm = ev.get("Task Metrics") or {}
        out["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        sw = tm.get("Shuffle Write Metrics") or {}
        out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / 1e6
        out["spill_mb"] += (
            tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        ) / 1e6
    busy = _union_s([(j["start"], j["end"]) for j in jobs.values()])
    out["driver_gap_s"] = max(0.0, (hi - lo) - busy)
    return out


# ---------------------------------------------------------------------------
# timing wrappers (traced runs only): subclasses of the objects the
# benchmark hands to SparkCrawler, so the engine is called unchanged
# ---------------------------------------------------------------------------
class _Clock:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.counts: dict[str, int] = {}
        self.seconds: dict[str, float] = {}

    def timed(self, name: str, fn, *a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            dt = time.perf_counter() - t0
            # commits run on the store's pipeline thread
            with self.lock:
                self.counts[name] = self.counts.get(name, 0) + 1
                self.seconds[name] = self.seconds.get(name, 0.0) + dt


def timed_bank_class():
    from cobweb_spark.operators.filters import SeenFilterBank

    class TimedBank(SeenFilterBank):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.clock = _Clock()

        def add(self, *a, **kw):
            return self.clock.timed("add", super().add, *a, **kw)

        def mark_probable(self, *a, **kw):
            return self.clock.timed("probe", super().mark_probable, *a, **kw)

    return TimedBank


def timed_store_class():
    from cobweb_spark.plans.state import SnapshotStore

    class TimedStore(SnapshotStore):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.clock = _Clock()

        def commit_wave(self, *a, **kw):
            return self.clock.timed("commit", super().commit_wave, *a, **kw)

        def commit_parts(self, *a, **kw):
            return self.clock.timed("commit", super().commit_parts, *a, **kw)

    return TimedStore
