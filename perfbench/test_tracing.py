"""Self-test of the benchmark's trace aggregation, on a small fixed event
log and a fixed wave-metrics list. No Spark needed:

    python3 perfbench/test_tracing.py        (or: python3 -m pytest perfbench)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def _job(jid, group, start_ms, end_ms, stages):
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": start_ms,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {},
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, launch_ms, finish_ms, reason="Success", **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {
            "Launch Time": launch_ms,
            "Finish Time": finish_ms,
            "Failed": reason != "Success",
        },
        "Task Metrics": {
            "Executor CPU Time": metrics.get("cpu_ns", 0),
            "JVM GC Time": metrics.get("gc_ms", 0),
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": metrics.get("sr", 0),
            },
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": metrics.get("spill", 0),
        },
    }


# a crawl window [10 s, 20 s]: wave-0 has two jobs, wave-1 one, then a
# drain job; one job before the window (set-up) must be ignored
EVENTS = (
    _job(0, None, 5_000, 6_000, [0])
    + _job(1, "wave-0", 10_000, 12_000, [1, 2])
    + _job(2, "wave-0", 11_000, 13_000, [3])
    + _job(3, "wave-1", 15_000, 16_000, [4])
    + _job(4, "drain", 18_000, 19_000, [5])
    + [
        _task(0, 5_000, 6_000, cpu_ns=9e9),
        _task(1, 10_000, 11_000, cpu_ns=0.5e9, sw=2_000_000),
        _task(2, 11_000, 12_000, sr=2_000_000, gc_ms=100),
        _task(3, 11_000, 13_000, reason="ExceptionFailure"),
        _task(3, 12_000, 13_000),
        _task(4, 15_000, 16_000, spill=1_000_000),
        _task(5, 18_000, 18_500),
    ]
)


def test_event_log_groups_waves_and_counts_failures():
    agg = tracing.aggregate_event_log(EVENTS, (10.0, 20.0))
    assert agg["jobs"] == 4
    assert agg["wave_jobs"] == 3
    assert agg["waves"] == 2
    assert agg["tasks"] == 6
    assert agg["failed_tasks"] == 1
    assert abs(agg["task_s"] - 6.5) < 1e-9
    assert abs(agg["cpu_s"] - 0.5) < 1e-9
    assert abs(agg["gc_s"] - 0.1) < 1e-9
    assert abs(agg["shuffle_write_mb"] - 2.0) < 1e-9
    assert abs(agg["shuffle_read_mb"] - 2.0) < 1e-9
    assert abs(agg["spill_mb"] - 1.0) < 1e-9
    # jobs cover [10,13] ∪ [15,16] ∪ [18,19] = 5 s of the 10 s window
    assert abs(agg["driver_gap_s"] - 5.0) < 1e-9


def test_event_log_window_excludes_other_jobs():
    agg = tracing.aggregate_event_log(EVENTS, (4.0, 7.0))
    assert agg["jobs"] == 1 and agg["wave_jobs"] == 0 and agg["tasks"] == 1


# three waves of a budgeted crawl seeded with 10 URLs:
#   wave 0: frontier 10, admitted 6 -> deferred 4; +20 new -> frontier 24
#   wave 1: frontier 24, admitted 20 -> deferred 4; +0 new -> frontier 4
#   wave 2: frontier 4, admitted 4 -> deferred 0; +0 new -> frontier 0
WAVES = [
    {"wave_id": 0, "admitted": 6, "new_links": 20},
    {"wave_id": 1, "admitted": 20, "new_links": 0},
    {"wave_id": 2, "admitted": 4, "new_links": 0},
]


def test_admit_recurrence():
    r = tracing.admit_recurrence(10, WAVES)
    assert r["deferred_per_wave"] == [4, 4, 0]
    assert r["deferred_rows"] == 8
    assert r["throttle_waves"] == 2
    assert r["final_frontier"] == 0


def test_admit_recurrence_rejects_inconsistent_metrics():
    try:
        tracing.admit_recurrence(3, WAVES)
    except ValueError:
        return
    raise AssertionError("admitting more than the frontier must be rejected")


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
