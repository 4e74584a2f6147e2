"""Snapshot store: per-wave atomic commits + exact resume.

The reference approximates exactly-once semantics with Redis locks and a
WATCH/MULTI first-to-finish guard (``lib/crawl.rb:241-291``); restartable
crawls reuse a fixed crawl_id (changelog 0.0.40). Here every completed
wave commits a snapshot through the single-worker ``CommitPipeline``: one
directory ``wave=NNNNNN`` of parquet tables plus a manifest JSON, published
by atomic rename — the parquet+manifest stand-in for an Iceberg snapshot
(same semantics: readers only see manifests, a torn write is invisible).

A snapshot holds:

- ``frontier``: the queue the next wave admits from;
- ``seen``: every URL enqueued so far, redirect finals included;
- ``pages`` and ``edges``: this wave's fetches and enqueue edges (resume
  reloads every wave's part);
- ``candidates``: this wave's raw link stream, only when the crawl keeps
  inbound links;
- ``manifest.json``: the wave counters and per-partition lineage (row
  counts per written partition, read from the parquet footers) per the
  north rule.

The seen filter bank is not part of it: it is derived state, rebuilt from
``seen`` when a resumed crawl's probe tier first engages. A killed crawl
resumes from the latest manifest and reproduces the exact remaining waves
(deterministic ordering makes the final state identical to an
uninterrupted run).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class CommitPipeline:
    """Single-worker FIFO pipeline for snapshot commits.

    Wave N+1's compute overlaps wave N's durable write: every commit
    input is an immutable plan over checkpointed RDDs, so running the
    write on a second thread races nothing (Spark actions are
    thread-safe); ONE worker preserves commit order, which keeps the
    ``_LATEST`` pointer monotonic. A failed commit is re-raised at the
    next ``submit``/``drain`` so the crawl fails at a wave boundary
    instead of silently losing durability. The same pipelining an
    Iceberg writer gets from committing snapshot N while the next batch
    computes."""

    def __init__(self) -> None:
        import queue
        import threading

        self._q: "queue.Queue" = queue.Queue()
        self._err: BaseException | None = None
        self._thread = threading.Thread(
            target=self._run, name="commit-pipeline", daemon=True
        )
        self._thread.start()

    def _run(self) -> None:
        while True:
            fn = self._q.get()
            if fn is None:
                return
            try:
                if self._err is None:
                    fn()
            except BaseException as exc:  # re-raised on the crawl thread
                self._err = exc
            finally:
                self._q.task_done()

    def submit(self, fn) -> None:
        self._raise_pending()
        self._q.put(fn)

    def drain(self) -> None:
        """Block until every enqueued commit is durable; re-raise the
        first failure."""
        self._q.join()
        self._raise_pending()

    def close(self) -> None:
        self._q.join()
        self._q.put(None)
        self._thread.join(timeout=60)
        self._raise_pending()

    def _raise_pending(self) -> None:
        if self._err is not None:
            err, self._err = self._err, None
            raise RuntimeError("async snapshot commit failed") from err


def _file_lineage(path: str) -> list[dict]:
    """Row counts per written partition of a parquet table, from its part
    files: ``part-NNNNN-…`` names the writing task's partition id and the
    footer holds the row count, so no Spark job re-reads the table."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            pid = int(name.split("-", 2)[1])
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return [{"partition": p, "rows": n} for p, n in sorted(rows.items())]


class SnapshotStore:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # staged-but-never-adopted scratch (a crash or failed async commit
        # between stage and rename) must not accumulate next to the wave
        # dirs; committed state never lives under these prefixes, so
        # removal is always safe at open time
        for entry in os.listdir(state_dir):
            if entry.startswith(
                ("_run_tmp-", "_wm_tmp-", "_wl_tmp-")
            ) or entry.endswith(".tmp"):
                p = os.path.join(state_dir, entry)
                (shutil.rmtree if os.path.isdir(p) else os.remove)(p)

    def _wave_dir(self, wave_id: int) -> str:
        return os.path.join(self.dir, f"wave={wave_id:06d}")

    def commit_wave(
        self,
        wave_id: int,
        frontier: DataFrame,
        seen: DataFrame,
        pages: DataFrame,
        counters: dict,
        metrics: dict | None = None,
        edges: DataFrame | None = None,
        candidates: DataFrame | None = None,
    ) -> str:
        wdir = self._wave_dir(wave_id)
        tmp = wdir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)

        tables = {
            "frontier": frontier,
            "seen": seen,
            "pages": pages,
            "edges": edges,
            "candidates": candidates,
        }
        lineage = {}
        for name, df in tables.items():
            if df is None:
                continue
            path = os.path.join(tmp, name)
            df.write.mode("overwrite").parquet(path)
            lineage[name] = _file_lineage(path)

        manifest = {
            "wave_id": wave_id,
            "counters": counters,
            "metrics": metrics or {},
            "tables": {
                n: os.path.join(wdir, n) for n, df in tables.items() if df is not None
            },
            "lineage": lineage,
        }
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)

        # atomic publish: rename tmp dir, then append to the log via rename
        if os.path.exists(wdir):
            shutil.rmtree(wdir)
        os.rename(tmp, wdir)
        # lineage is published only AFTER the wave commit is durable, and
        # overwrites any prior row set for this wave, so a recommit (crash
        # between append and rename, or a re-crawl into an existing store)
        # can never leave lineage rows that disagree with the manifest.
        self._append_partition_lineage(wave_id, lineage)
        latest_tmp = os.path.join(self.dir, "_LATEST.tmp")
        with open(latest_tmp, "w") as f:
            f.write(str(wave_id))
        os.replace(latest_tmp, os.path.join(self.dir, "_LATEST"))
        return wdir

    def commit_finished(
        self, summary: DataFrame, run_id: str = "default"
    ) -> bool:
        """Append the final-statistics row to the ``crawl_runs`` table,
        exactly once per crawl (the reference guards with a WATCH/MULTI
        first_to_finish transaction, ``lib/crawl.rb:241-253``).

        Crash-atomic and per-crawl: the row is staged OUTSIDE the table
        directory and published with one ``os.rename`` into
        ``crawl_runs/run-<run_id>`` — the renamed directory is
        simultaneously the data and the marker, so no failure ordering can
        leave a marker without a row or a row without a marker, and a
        second crawl sharing the store dir gets its own run key instead of
        being silently swallowed by a store-global flag.
        Returns True if this call performed the append."""
        runs_dir = os.path.join(self.dir, "crawl_runs")
        final = os.path.join(runs_dir, f"run-{run_id}")
        if os.path.isdir(final):
            return False
        os.makedirs(runs_dir, exist_ok=True)
        tmp = os.path.join(self.dir, f"_run_tmp-{run_id}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        summary.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            # lost the publish race to a concurrent resume — their row won
            shutil.rmtree(tmp, ignore_errors=True)
            return False
        return True

    def load_crawl_runs(self) -> DataFrame:
        # run rows live in per-run subdirectories (see commit_finished)
        return self.spark.read.option(
            "recursiveFileLookup", "true"
        ).parquet(os.path.join(self.dir, "crawl_runs"))

    def append_wave_metrics(self, metrics: dict) -> None:
        """Append one wave's metrics dict to the queryable ``wave_metrics``
        table. Driver-side pyarrow write (the dict already lives on the
        driver — a Spark job for one row would be pure overhead), atomic
        and idempotent via a wave-keyed rename, so scaling analyses query
        parquet instead of re-parsing logs."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        mdir = os.path.join(self.dir, "wave_metrics")
        os.makedirs(mdir, exist_ok=True)
        final = os.path.join(mdir, f"wave-{metrics['wave_id']:06d}.parquet")
        if os.path.exists(final):
            return
        tmp = os.path.join(self.dir, f"_wm_tmp-{metrics['wave_id']:06d}")
        pq.write_table(pa.Table.from_pylist([metrics]), tmp)
        os.replace(tmp, final)

    def load_wave_metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "wave_metrics"))

    def _append_partition_lineage(
        self, wave_id: int, lineage: dict
    ) -> None:
        """Publish the per-partition lineage (already computed for the
        manifest) as rows of the queryable ``wave_partition_lineage``
        table: (wave_id, table, partition, rows). Same driver-side
        pyarrow write discipline as ``wave_metrics`` — atomic via
        os.replace, wave-keyed. Called after the wave rename commits, and
        OVERWRITES any existing file for the wave so a recommitted wave's
        lineage always matches its committed manifest."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = [
            {
                "wave_id": wave_id,
                "table": tname,
                "partition": e["partition"],
                "rows": e["rows"],
            }
            for tname, entries in lineage.items()
            for e in entries
        ]
        if not rows:
            return
        ldir = os.path.join(self.dir, "wave_partition_lineage")
        os.makedirs(ldir, exist_ok=True)
        final = os.path.join(ldir, f"wave-{wave_id:06d}.parquet")
        tmp = os.path.join(self.dir, f"_wl_tmp-{wave_id:06d}")
        pq.write_table(pa.Table.from_pylist(rows), tmp)
        os.replace(tmp, final)

    def load_wave_partition_lineage(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.dir, "wave_partition_lineage")
        )

    def latest_wave(self) -> int | None:
        marker = os.path.join(self.dir, "_LATEST")
        if not os.path.exists(marker):
            return None
        with open(marker) as f:
            return int(f.read().strip())

    def load_manifest(self, wave_id: int) -> dict:
        with open(
            os.path.join(self._wave_dir(wave_id), "manifest.json")
        ) as f:
            return json.load(f)

    def load_table(self, wave_id: int, name: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self._wave_dir(wave_id), name)
        )

    def load_parts(self, upto_wave: int, name: str) -> list[DataFrame]:
        out = []
        for w in range(upto_wave + 1):
            wdir = self._wave_dir(w)
            path = os.path.join(wdir, name)
            if os.path.isdir(path):
                out.append(self.spark.read.parquet(path))
        return out
