"""Round-3 feature tests: cancel-drain semantics (Cancelled run row +
persisted remainder + resume-after-cancel identity), wave_metrics table,
per-run exactly-once crawl_runs, stray-percent URL parity, df-capped
jaccard guard, minute-stats retention."""

import os

import pytest
from pyspark.sql import functions as F

from cobweb_spark.config import CrawlConfig
from cobweb_spark.oracle import CrawlOracle
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.plans.state import SnapshotStore
from cobweb_spark.sources.corpus import corpus_df
from cobweb_spark.testkit import fixtures as fx

pytestmark = pytest.mark.spark


class TestCancelDrain:
    def _cancelled_run(self, spark, tmp_path):
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig()
        sdir = str(tmp_path / "st")
        store = SnapshotStore(spark, sdir)
        waves = 0

        def on_wave(_p, _m):
            nonlocal waves
            waves += 1

        SparkCrawler(spark, docs, cfg, snapshot_store=store).crawl(
            fx.SEED_REDIRECT_BASE,
            on_wave=on_wave,
            cancel=lambda: waves >= 2,
        )
        return corpus, docs, cfg, sdir, store

    def test_cancelled_row_no_finished_row(self, spark, tmp_path):
        # lib/cobweb_crawl_helper.rb: cancellation records the status
        # transition but never enqueues the finished queue
        *_, store = self._cancelled_run(spark, tmp_path)
        runs = store.load_crawl_runs().collect()
        statuses = [r["current_status"] for r in runs]
        assert statuses == ["Cancelled"]

    def test_remainder_persisted_at_cancel_point(self, spark, tmp_path):
        # every completed wave is committed: the last commit before the
        # cancel holds the remaining queue, so nothing is lost or replayed
        corpus, docs, cfg, sdir, store = self._cancelled_run(
            spark, tmp_path
        )
        latest = store.latest_wave()
        assert latest == 1  # waves 0,1 ran and committed
        frontier = store.load_table(latest, "frontier")
        assert frontier.count() > 0  # the undrained queue remainder

    def test_resume_after_cancel_identical_to_uncancelled(
        self, spark, tmp_path
    ):
        corpus, docs, cfg, sdir, store = self._cancelled_run(
            spark, tmp_path
        )
        want = SparkCrawler(spark, docs, cfg).crawl(fx.SEED_REDIRECT_BASE)
        store2 = SnapshotStore(spark, sdir)
        resumed = SparkCrawler(
            spark, docs, cfg, snapshot_store=store2
        ).crawl(fx.SEED_REDIRECT_BASE, resume=True)
        assert resumed.fetch_sequence() == want.fetch_sequence()
        assert {r["url"] for r in resumed.seen.collect()} == {
            r["url"] for r in want.seen.collect()
        }
        # the finished row joins the cancelled row; both keyed per run
        statuses = sorted(
            r["current_status"]
            for r in store2.load_crawl_runs().collect()
        )
        assert statuses == ["Cancelled", "Crawl Finished"]


class TestWaveMetricsTable:
    def test_one_row_per_wave(self, spark, tmp_path):
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        store = SnapshotStore(spark, str(tmp_path / "st"))
        res = SparkCrawler(
            spark, docs, CrawlConfig(), snapshot_store=store
        ).crawl(fx.SEED_REDIRECT_BASE)
        wm = store.load_wave_metrics()
        rows = {r["wave_id"]: r for r in wm.collect()}
        assert len(rows) == res.n_waves
        for m in res.metrics:
            assert rows[m["wave_id"]]["admitted"] == m["admitted"]
            assert rows[m["wave_id"]]["new_links"] == m["new_links"]


class TestPerRunExactlyOnce:
    def test_second_crawl_same_store_gets_own_row(self, spark, tmp_path):
        # ADVICE regression: the old _FINISHED marker was store-global, so
        # a second crawl sharing the dir silently never appended its row
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        sdir = str(tmp_path / "st")
        SparkCrawler(
            spark, docs, CrawlConfig(), snapshot_store=SnapshotStore(spark, sdir)
        ).crawl(fx.SEED_REDIRECT_BASE)
        # different crawl (different seed) reusing the same store dir
        SparkCrawler(
            spark,
            docs,
            CrawlConfig(),
            snapshot_store=SnapshotStore(spark, sdir),
        ).crawl(fx.SEED_REDIRECT_DEST + "/a.html")
        runs = SnapshotStore(spark, sdir).load_crawl_runs()
        assert runs.count() == 2


class TestStrayPercentParity:
    def test_crawl_with_stray_percent_urls(self, spark):
        """Round-2 verdict: a URL arriving once raw ('%%333') and once
        pre-canonicalized ('%2533') must resolve to the SAME fetch key —
        idempotent canonicalize keeps engine and oracle in lockstep."""
        canon = "http://pct.example.com/%2533"
        corpus = {
            "http://pct.example.com/": fx.OracleDoc(
                doc_id="http://pct.example.com/",
                spans=[
                    ("a", "http://pct.example.com/%%333", None, 0),
                    ("a", "http://pct.example.com/p.html", None, 1),
                ],
                status_code=200,
                mime_type="text/html",
                length=10,
                response_time=0.01,
            ),
            canon: fx.OracleDoc(
                doc_id=canon,
                spans=[("a", "http://pct.example.com/%2533", None, 0)],
                status_code=200,
                mime_type="text/html",
                length=7,
                response_time=0.01,
            ),
            "http://pct.example.com/p.html": fx.OracleDoc(
                doc_id="http://pct.example.com/p.html",
                spans=[],
                status_code=200,
                mime_type="text/html",
                length=5,
                response_time=0.01,
            ),
        }
        cfg = CrawlConfig(internal_urls=["http://pct.example.com*"])
        docs = corpus_df(spark, corpus)
        res = SparkCrawler(spark, docs, cfg).crawl(
            "http://pct.example.com/"
        )
        oracle = CrawlOracle(corpus, cfg).crawl("http://pct.example.com/")
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen
        # the raw form resolved to the canonical doc (no spurious 404):
        # pages.url is the queued form; fetch_url is the canonical key
        by_queued = {r["url"]: r for r in res.pages.collect()}
        raw = "http://pct.example.com/%%333"
        assert by_queued[raw]["fetch_url"] == canon
        assert by_queued[raw]["status_code"] == 200


class TestPrecomputeEdgesParity:
    """The dictionary edge table (keyed join + hoisted classification)
    must reproduce the per-wave extraction path exactly, and is built
    only when the classifier is static and no inbound-link stream is
    kept; every other precompute_edges=True config extracts per wave."""

    def test_static_hoisted_classification(self, spark, sample_site_corpus):
        # no redirects in the sample corpus → classification is hoisted
        cfg = CrawlConfig(precompute_edges=True, store_inbound_links=False)
        docs = corpus_df(spark, sample_site_corpus)
        crawler = SparkCrawler(spark, docs, cfg)
        res = crawler.crawl(fx.SAMPLE_SITE_BASE)
        assert crawler._edge_dict is not None
        assert crawler._key_join is True
        oracle = CrawlOracle(sample_site_corpus, cfg).crawl(
            fx.SAMPLE_SITE_BASE
        )
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen

    def test_redirect_corpus_falls_back_to_per_wave(self, spark):
        # redirects present + first_page_redirect_internal → classifier
        # can widen mid-crawl → classification must NOT be hoisted
        corpus = fx.build_seed_redirect_corpus()
        cfg = CrawlConfig(precompute_edges=True, store_inbound_links=False)
        docs = corpus_df(spark, corpus)
        crawler = SparkCrawler(spark, docs, cfg)
        res = crawler.crawl(fx.SEED_REDIRECT_BASE)
        assert crawler._edge_dict is None
        oracle = CrawlOracle(corpus, cfg).crawl(fx.SEED_REDIRECT_BASE)
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen

    def test_linked_external_with_precompute(
        self, spark, sample_site_corpus
    ):
        cfg = CrawlConfig(
            precompute_edges=True,
            crawl_linked_external=True,
            store_inbound_links=False,
        )
        docs = corpus_df(spark, sample_site_corpus)
        crawler = SparkCrawler(spark, docs, cfg)
        res = crawler.crawl(fx.SAMPLE_SITE_BASE)
        assert crawler._edge_dict is None
        oracle = CrawlOracle(sample_site_corpus, cfg).crawl(
            fx.SAMPLE_SITE_BASE
        )
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen


class TestJaccardGuard:
    def test_max_df_caps_token_blowup(self, spark):
        rows = [
            ("d1", "common alpha beta"),
            ("d2", "common alpha beta"),
            ("d3", "common gamma delta"),
            ("d4", "common gamma delta epsilon"),
        ]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        from cobweb_spark.operators.textops import jaccard_pairs

        full = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, threshold=0.0).collect()
        }
        # 'common' has df=4; capped at 3 it vanishes from the token space
        guarded = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in jaccard_pairs(docs, threshold=0.0, max_df=3).collect()
        }
        assert full[("d1", "d2")] == 1.0
        assert guarded[("d1", "d2")] == 1.0  # {alpha,beta} both sides
        # d1/d3 shared ONLY 'common' → pair disappears when capped
        assert ("d1", "d3") in full and ("d1", "d3") not in guarded
        # d3/d4: {gamma,delta}/{gamma,delta,epsilon} = 2/3 in capped space
        assert guarded[("d3", "d4")] == round(2 / 3, 6)


class TestStaleBankBackstop:
    def test_never_synced_bank_full_parity(self, spark, sample_site_corpus):
        """Probe tier forced on from wave 0 with maintenance effectively
        disabled (bank_sync_every huge): every candidate the stale bank
        calls a definite miss must still be caught by the residual-part
        backstop — exact order + seen parity."""
        cfg = CrawlConfig(prefilter_min_seen=0, bank_sync_every=99)
        docs = corpus_df(spark, sample_site_corpus)
        res = SparkCrawler(spark, docs, cfg).crawl(fx.SAMPLE_SITE_BASE)
        oracle = CrawlOracle(sample_site_corpus, cfg).crawl(
            fx.SAMPLE_SITE_BASE
        )
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen

    def test_stale_bank_with_redirect_finals(self, spark):
        corpus = fx.build_seed_redirect_corpus()
        cfg = CrawlConfig(prefilter_min_seen=0, bank_sync_every=99)
        docs = corpus_df(spark, corpus)
        res = SparkCrawler(spark, docs, cfg).crawl(fx.SEED_REDIRECT_BASE)
        oracle = CrawlOracle(corpus, cfg).crawl(fx.SEED_REDIRECT_BASE)
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen


class TestSeenPartsEquivalence:
    def test_chained_parts_match_single_anti(self, spark):
        from pyspark.sql import functions as F

        from cobweb_spark.operators.dedup import reject_seen

        urls = [f"http://h{i % 5}.com/p{i}" for i in range(300)]
        cands = spark.createDataFrame(
            [(u, i) for i, u in enumerate(urls)], "link string, n int"
        )
        seen_urls = urls[:100] + urls[150:200]
        seen = spark.createDataFrame([(u,) for u in seen_urls], "url string")
        parts = [
            spark.createDataFrame(
                [(u,) for u in chunk], "link string"
            )
            .repartition(4, "link")
            .localCheckpoint()
            for chunk in (seen_urls[:60], seen_urls[60:110], seen_urls[110:])
        ]
        plain = {
            r["link"] for r in reject_seen(cands, seen).collect()
        }
        chained = {
            r["link"]
            for r in reject_seen(
                cands, seen, seen_parts=parts
            ).collect()
        }
        assert chained == plain
        assert len(plain) == 150


class TestMinuteRetention:
    def test_integer_virtual_minutes(self, spark):
        from cobweb_spark.operators.stats import minute_retention

        series = spark.createDataFrame(
            [(m, 1) for m in range(0, 200, 10)], "minute int, n int"
        )
        kept = {
            r["minute"]
            for r in minute_retention(series, retention_minutes=60).collect()
        }
        # now = 190; keep minute >= 130 (lib/stats.rb:221-227 strict <)
        assert kept == {130, 140, 150, 160, 170, 180, 190}

    def test_explicit_now(self, spark):
        from cobweb_spark.operators.stats import minute_retention

        series = spark.createDataFrame(
            [(m, 1) for m in range(5)], "minute int, n int"
        )
        kept = {
            r["minute"]
            for r in minute_retention(
                series, retention_minutes=2, now=4
            ).collect()
        }
        assert kept == {2, 3, 4}
