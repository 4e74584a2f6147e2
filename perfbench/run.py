"""Crawl-frontier benchmark: runs one workload in a fresh driver process.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The workload runs in a child process
(``perfbench/workload.py``) at ``local[<cores>]`` with a heap sized for a
small shared host; every scratch file (corpus, Spark local dir, filter
bank, snapshot store, event log, JVM crash log) lives under
``perfbench/.work/<run>/`` and is deleted when the run ends. Goldens are
cached under ``perfbench/.cache/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exit status is 0 only when the run produced a result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_bulk", "crawl_polite")
CHILD_TIMEOUT_S = 140
PR_SET_CHILD_SUBREAPER = 36

# heap and initial heap measured to run both workloads on a 4-core,
# 15 GB host; the engine's own defaults (48g / -Xms16g) cannot start there.
# Every run is one short-lived driver: C1-only JIT keeps compiler threads
# from competing with the 4 task threads (cold crawls measured 20-25%
# faster on that host).
DRIVER_MEM = "8g"
DRIVER_JVM_OPTS = "-Xms2g -XX:TieredStopAtLevel=1"


def launcher_env(work: str, trace: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        # one shuffle partition per core: the engine's default of 32 is
        # sized for local[32] and quadruples the task count at local[4]
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # crash logs and JVM temp files stay inside the run's scratch dir
        SPARK_GRAFT_DRIVER_OPTS=(
            f"{DRIVER_JVM_OPTS} -XX:ErrorFile={work}/hs_err_pid%p.log "
            f"-Djava.io.tmpdir={tmp}"
        ),
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p
        ),
        PYTHONUNBUFFERED="1",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    env.pop("SPARK_GRAFT_FORKLOG", None)
    if trace:
        env["SPARK_GRAFT_FORKLOG"] = os.path.join(work, "forks.log")
    return env


def become_subreaper() -> None:
    """Orphaned descendants (the Python worker daemon leaves the child's
    process group, and outlives the JVM by a moment) are re-parented to
    this process instead of init, so ``stop_descendants`` can find them
    and reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float) -> None:
    """Give the JVM and the Python workers ``grace_s`` to shut down on
    their own, then kill what is left; returns once no descendant is
    alive."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        _reap()
        pids = tracing.descendants(os.getpid())
        for pid in pids if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while pids and time.time() < deadline:
            time.sleep(0.1)
            _reap()
            pids = tracing.descendants(os.getpid())
        if not pids:
            return
    raise RuntimeError(f"processes {pids} survived SIGKILL")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cobweb_spark", "plans", "crawler.py")):
        print("perfbench: cobweb_spark sources not found", file=sys.stderr)
        return 2

    work = os.path.join(
        HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = launcher_env(work, bool(args.trace))
    print(
        "launcher: "
        + " ".join(
            f"{k}={env[k]}"
            for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_DRIVER_OPTS")
        ),
        flush=True,
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
    ]
    result = rc = None
    become_subreaper()
    # a SIGTERM to the launcher still stops the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        child = subprocess.Popen(cmd, env=env, cwd=work)
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        res_path = os.path.join(work, "result.json")
        if rc == 0 and os.path.exists(res_path):
            with open(res_path) as f:
                result = json.load(f)
    finally:
        stop_descendants(grace_s=15 if rc is not None else 0)
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print("perfbench: the workload produced no result", file=sys.stderr)
        return 1

    for c in result["crawls"]:
        print(
            f"crawl: {c['wall_s']:.2f}s fetched={c['fetched']} seen={c['seen']} "
            f"waves={c['waves']} first_wave={c['first_wave_s']:.2f}s "
            f"cpu_steal={c['steal']:.1%}"
        )
    for e in result["errors"]:
        print(f"error: {e}")
    attempted, failed = result["attempted"], result["failed"]
    print(f"error_rate: {failed / max(attempted, 1):.4f} ({failed}/{attempted})")
    metrics = result.get("per_layer" if args.trace else "end_to_end", {})
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
