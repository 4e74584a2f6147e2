"""One benchmark run of one crawl workload, in its own driver process.

Started by ``perfbench/run.py`` with the launcher environment already set
(``SPARK_GRAFT_*``, ``TMPDIR``, working directory = the run's scratch dir).
Writes the run's result object to ``<work>/result.json``.

Phases:
  set-up   session up, corpus generated and loaded (``setup_s``)
  timed    crawls of the workload corpus until ``--seconds`` of crawl
           time have passed (at least one, so a crawl that outlasts
           ``--seconds`` is the only one); each crawl's fetch sequence
           and seen set are collected after its clock stops
  check    every crawl is compared with the ``CrawlOracle`` golden
           (cached per corpus parameters + seed under perfbench/.cache)
  trace    (``--trace 1`` only) per-layer metrics from the Spark event
           log, the crawler's wave metrics and the timing wrappers
"""

from __future__ import annotations

T_PROCESS_START = __import__("time").time()

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

CORPUS_SHAPE = dict(
    mega_host_factor=10, out_degree=18, media_ratio=0.15, cross_host_prob=0.10
)

# Each workload: corpus size (the rest of the shape is CORPUS_SHAPE, the
# seed is --seed), crawl configuration, and whether a SnapshotStore commits
# every wave.
WORKLOADS = {
    # per-row throughput: one bulk edge extraction, then two large waves
    # (every page is a seed, so wave 0 fetches all 840 pages and wave 1
    # their media) through dedup, the 8-byte anti-join chain and ordering.
    # Bypasses admission, the filter bank (never engages), per-wave
    # extraction and the store.
    "crawl_bulk": dict(
        corpus=dict(n_hosts=12, pages_per_host=40, n_seeds=840),
        config=dict(precompute_edges=True),
        store=False,
    ),
    # per-wave fixed cost: salted host-budget admission spreads the
    # 100-page mega-host and its media over the waves, the bloom/cuckoo
    # bank engages once |seen| reaches 100 (from the first wave on), links
    # are extracted from spans every wave, and a snapshot store commits
    # each wave (async pipeline, parquet writes beside the reads).
    "crawl_polite": dict(
        corpus=dict(n_hosts=4, pages_per_host=10, n_seeds=130),
        config=dict(
            precompute_edges=False, host_budget=80, prefilter_min_seen=100
        ),
        store=True,
    ),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "urls_per_s": "URL/s",
    "first_wave_s": "s",
    "peak_rss_mb": "MB",
}


def crawl_config(spec: dict, seeds: list[str], **overrides):
    from cobweb_spark.config import CrawlConfig

    return CrawlConfig(
        internal_urls=["http://*"],
        seed_urls=seeds,
        store_inbound_links=False,
        **{**spec["config"], **overrides},
    )


def digest(urls) -> str:
    h = hashlib.sha256()
    for u in urls:
        h.update(u.encode())
        h.update(b"\n")
    return h.hexdigest()


def golden(corpus_params: dict, config_params: dict, seeds: list[str]) -> dict:
    """Oracle fetch-sequence / seen-set digests, cached per parameters."""
    key = hashlib.sha256(
        json.dumps([corpus_params, config_params], sort_keys=True).encode()
    ).hexdigest()[:24]
    path = os.path.join(CACHE, "goldens", f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from cobweb_spark.config import CrawlConfig
    from cobweb_spark.oracle import CrawlOracle
    from cobweb_spark.testkit import fixtures as fx

    corpus, oracle_seeds = fx.scale_corpus_as_oracle_dict(**corpus_params)
    if oracle_seeds != seeds:
        raise RuntimeError("oracle corpus seeds differ from the engine's")
    res = CrawlOracle(
        corpus,
        CrawlConfig(
            internal_urls=["http://*"], seed_urls=seeds, **config_params
        ),
    ).crawl(None)
    out = {
        "fetched": len(res.fetch_sequence),
        "seen": len(res.seen),
        "sequence": digest(res.fetch_sequence),
        "seen_set": digest(sorted(res.seen)),
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


class Run:
    """State of one benchmark run: the session, the workload corpus and
    the per-crawl records."""

    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.work = args.work
        self.trace = bool(args.trace)
        self.n_crawls = 0
        self.crawls: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from cobweb_spark.session import get_spark
        from cobweb_spark.sources.corpus import cached_scale_corpus, load_documents

        extra = {}
        if self.trace:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
            }
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}", extra_conf=extra
        )
        t_session = time.time()
        self.corpus_params = dict(
            CORPUS_SHAPE, seed=self.args.seed, **self.spec["corpus"]
        )
        corpus_dir = os.path.join(self.work, "corpus")
        path, self.seeds = cached_scale_corpus(
            cache_dir=corpus_dir, **self.corpus_params
        )
        self.docs = load_documents(self.spark, path)
        print(
            f"setup: session {t_session - T_PROCESS_START:.1f}s, corpus "
            f"{time.time() - t_session:.1f}s",
            flush=True,
        )

    # -- one crawl ----------------------------------------------------------
    def crawl_once(self, cfg, sampler) -> dict:
        from cobweb_spark.operators.filters import SeenFilterBank
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.plans.state import SnapshotStore

        import tracing

        i = self.n_crawls
        self.n_crawls += 1
        bank_cls = tracing.timed_bank_class() if self.trace else SeenFilterBank
        store_cls = tracing.timed_store_class() if self.trace else SnapshotStore
        bank_dir = os.path.join(self.work, f"bank-{i}")
        state_dir = os.path.join(self.work, f"state-{i}")
        os.makedirs(bank_dir)
        bank = bank_cls(
            self.spark,
            n_shards=cfg.bloom_shards,
            capacity_per_shard=cfg.bloom_capacity_per_shard,
            fpp=cfg.bloom_fpp,
            scratch_dir=bank_dir,
        )
        store = store_cls(self.spark, state_dir) if self.spec["store"] else None
        waves: list[float] = []
        crawler = None
        try:
            ticks0 = tracing.cpu_ticks()
            t0 = time.time()
            crawler = SparkCrawler(
                self.spark, self.docs, cfg, seen_prefilter=bank, snapshot_store=store
            )
            t_crawl = time.time()
            res = crawler.crawl(None, on_wave=lambda _df, _m: waves.append(time.time()))
            t_return = time.time()
            n_pages = res.pages.count()
            n_seen = res.seen.count()
            t_end = time.time()
            peak_rss = sampler.sample()
            steal = tracing.steal_share(ticks0, tracing.cpu_ticks())
            rec = {
                "wall_s": t_end - t0,
                "window": (t0, t_end),
                "init_s": t_crawl - t0,
                "first_wave_s": waves[0] - t_crawl,
                "wave_s": [b - a for a, b in zip([t_crawl] + waves, waves)],
                "drain_wait_s": t_return - waves[-1],
                "count_s": t_end - t_return,
                "fetched": n_pages,
                "seen": n_seen,
                "metrics": res.metrics,
                "peak_rss_mb": peak_rss / 1e6,
                "steal": steal,
            }
            # outputs for the correctness gate, collected off the clock
            rec["sequence"] = digest(res.fetch_sequence())
            rec["seen_set"] = digest(
                sorted(r["url"] for r in res.seen.collect())
            )
            if self.trace:
                self.trace_crawl(rec, res, bank, store, state_dir)
            return rec
        finally:
            if crawler is not None:
                crawler.close()  # also deletes the bank's generations
            shutil.rmtree(state_dir, ignore_errors=True)
            shutil.rmtree(bank_dir, ignore_errors=True)

    def trace_crawl(self, rec, res, bank, store, state_dir) -> None:
        from pyspark.sql import functions as F

        from cobweb_spark.operators.extract import extract_links

        import tracing

        rec["bank"] = {
            "syncs": bank.clock.counts.get("add", 0),
            "sync_s": bank.clock.seconds.get("add", 0.0),
            "probe_waves": bank.clock.counts.get("probe", 0),
            "bank_mb": tracing.dir_mb(bank._scratch),
        }
        rec["state"] = {
            "commits": store.clock.counts.get("commit", 0) if store else 0,
            "commit_s": store.clock.seconds.get("commit", 0.0) if store else 0.0,
            "written_mb": tracing.dir_mb(state_dir) if store else 0.0,
        }
        # candidate links the crawl examined: every link of every fetched
        # page (the dedup stage's input)
        fetched = res.pages.select(F.col("fetch_url").alias("parent_url"))
        rec["candidates"] = (
            extract_links(self.extract_input())
            .join(fetched, "parent_url")
            .count()
        )

    def extract_input(self):
        from pyspark.sql import functions as F

        return self.docs.select(
            F.col("doc_id").alias("parent"),
            F.col("doc_id").alias("parent_url"),
            F.lit(0).cast("long").alias("parent_fetch_order"),
            F.lit(0).alias("parent_depth"),
            "spans",
        )

    # -- timed section --------------------------------------------------------
    def measure(self) -> tuple[int, int, list[str]]:
        import tracing

        cfg = crawl_config(self.spec, self.seeds)
        sampler = tracing.RssSampler(os.getpid())
        sampler.start()
        errors: list[str] = []
        crawl_s = 0.0
        try:
            while crawl_s < self.args.seconds:
                try:
                    rec = self.crawl_once(cfg, sampler)
                except Exception as e:  # reported as a failed operation
                    errors.append(f"crawl raised {type(e).__name__}: {e}")
                    break
                self.crawls.append(rec)
                crawl_s += rec["wall_s"]
        finally:
            sampler.stop()
        attempted = len(self.crawls) + (1 if errors else 0)
        return attempted, len(errors), errors

    # -- correctness gate -------------------------------------------------------
    def check(self) -> list[str]:
        gold = golden(self.corpus_params, self.spec["config"], self.seeds)
        bad = []
        for i, rec in enumerate(self.crawls):
            for key in ("fetched", "seen", "sequence", "seen_set"):
                if rec[key] != gold[key]:
                    bad.append(f"crawl {i}: {key} {rec[key]} != golden {gold[key]}")
                    break
        return bad

    # -- results ----------------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        med = statistics.median
        vals = {
            "setup_s": setup_s,
            "urls_per_s": med(r["fetched"] / r["wall_s"] for r in self.crawls),
            "first_wave_s": med(r["first_wave_s"] for r in self.crawls),
            "peak_rss_mb": max(r["peak_rss_mb"] for r in self.crawls),
        }
        return {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in vals.items()
        }

    def per_layer(self) -> dict:
        import tracing

        from cobweb_spark.operators.extract import extract_links

        med = statistics.median
        first = self.crawls[0]
        # direct extraction over the workload corpus, forced with noop
        ex = extract_links(self.extract_input())
        t0 = time.time()
        ex.write.format("noop").mode("overwrite").save()
        extract_s = time.time() - t0
        n_links = ex.count()

        admit = tracing.admit_recurrence(len(set(self.seeds)), first["metrics"])
        if admit["final_frontier"] != 0:
            raise RuntimeError(
                f"admission recurrence leaves {admit['final_frontier']} rows"
            )
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        # the event log is complete only once the context has stopped
        self.spark.stop()
        logs = [
            os.path.join(self.work, "events", f)
            for f in os.listdir(os.path.join(self.work, "events"))
        ]
        events = tracing.read_event_log(logs[0])
        aggs = [tracing.aggregate_event_log(events, r["window"]) for r in self.crawls]
        forks = 0
        forklog = os.environ.get("SPARK_GRAFT_FORKLOG")
        if forklog and os.path.exists(forklog):
            with open(forklog) as f:
                forks = sum(1 for _ in f)

        def phase(name):
            return med(sum(m[name] for m in r["metrics"]) for r in self.crawls)

        def agg(name):
            return med(a[name] for a in aggs)

        wave_s = [s for r in self.crawls for s in r["wave_s"]]
        vals = {
            "crawler.waves": (len(first["metrics"]), "count"),
            "crawler.wave_s.p50": (med(wave_s), "s"),
            "crawler.wave_s.max": (max(wave_s), "s"),
            "crawler.jobs_per_wave": (
                med(a["wave_jobs"] / max(a["waves"], 1) for a in aggs), "count"
            ),
            "crawler.driver_gap_s": (agg("driver_gap_s"), "s"),
            "crawler.init_s": (med(r["init_s"] for r in self.crawls), "s"),
            "crawler.drain_s": (med(r["count_s"] for r in self.crawls), "s"),
            "crawler.phase.fetch_s": (phase("t_fetch"), "s"),
            "crawler.phase.flag_s": (phase("t_flag"), "s"),
            "crawler.phase.zip_s": (phase("t_zip"), "s"),
            "crawler.phase.add_s": (phase("t_add"), "s"),
            "admit.deferred_rows": (admit["deferred_rows"], "count"),
            "admit.throttle_waves": (admit["throttle_waves"], "count"),
            "filters.syncs": (first["bank"]["syncs"], "count"),
            "filters.sync_s": (med(r["bank"]["sync_s"] for r in self.crawls), "s"),
            "filters.probe_waves": (first["bank"]["probe_waves"], "count"),
            "filters.bank_mb": (first["bank"]["bank_mb"], "MB"),
            "extract.links": (n_links, "count"),
            "extract.links_per_s": (n_links / extract_s, "link/s"),
            "dedup.keep_ratio": (first["seen"] / first["candidates"], "ratio"),
            "state.commits": (first["state"]["commits"], "count"),
            "state.commit_s": (med(r["state"]["commit_s"] for r in self.crawls), "s"),
            "state.drain_wait_s": (
                med(r["drain_wait_s"] for r in self.crawls), "s"
            ),
            "state.written_mb": (first["state"]["written_mb"], "MB"),
            "spark.jobs": (agg("jobs"), "count"),
            "spark.tasks": (agg("tasks"), "count"),
            "spark.task_s": (agg("task_s"), "s"),
            "spark.cpu_s": (agg("cpu_s"), "s"),
            "spark.gc_s": (agg("gc_s"), "s"),
            "spark.shuffle_write_mb": (agg("shuffle_write_mb"), "MB"),
            "spark.shuffle_read_mb": (agg("shuffle_read_mb"), "MB"),
            "spark.spill_mb": (agg("spill_mb"), "MB"),
            "spark.failed_tasks": (sum(a["failed_tasks"] for a in aggs), "count"),
            "spark.core_util": (
                med(
                    a["task_s"] / ((r["window"][1] - r["window"][0]) * cores)
                    for a, r in zip(aggs, self.crawls)
                ),
                "ratio",
            ),
            "spark.python_forks": (forks, "count"),
            "trace.urls_per_s": (
                med(r["fetched"] / r["wall_s"] for r in self.crawls), "URL/s"
            ),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    args = p.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]

    run = Run(args)
    run.setup()
    setup_s = time.time() - T_PROCESS_START
    attempted, failed, errors = run.measure()
    if run.crawls:
        bad = run.check()
        failed += len(bad)
        errors += bad
    result = {
        "correct": failed == 0 and bool(run.crawls),
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "crawls": [
            {k: r[k] for k in ("wall_s", "first_wave_s", "fetched", "seen", "steal")}
            | {"waves": len(r["metrics"])}
            for r in run.crawls
        ],
    }
    if run.crawls:
        result["end_to_end"] = run.end_to_end(setup_s)
        if run.trace:
            result["per_layer"] = run.per_layer()
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f)
    if not run.trace:
        run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
