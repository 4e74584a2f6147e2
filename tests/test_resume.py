"""Snapshot/resume: a killed crawl resumed from its last wave snapshot
produces the identical final state (north rule resumability)."""

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.plans.state import SnapshotStore
from cobweb_spark.sources.corpus import corpus_df
from cobweb_spark.testkit import fixtures as fx

pytestmark = pytest.mark.spark


def _pages_key(res):
    return sorted(
        (r["fetch_order"], r["url"], r["depth"], r["discovery_order"],
         r["status_code"], r["mime_type"], r["length"])
        for r in res.pages.collect()
    )


def test_kill_and_resume_identical(spark, sample_site_corpus, tmp_path):
    docs = corpus_df(spark, sample_site_corpus).cache()

    # uninterrupted run (no store)
    full = SparkCrawler(spark, docs, CrawlConfig()).crawl(
        fx.SAMPLE_SITE_BASE
    )
    full_pages = _pages_key(full)
    full_seen = {r["url"] for r in full.seen.collect()}

    # killed after 2 waves
    store = SnapshotStore(spark, str(tmp_path / "state"))
    killed_cfg = CrawlConfig(max_waves=2)
    SparkCrawler(
        spark, docs, killed_cfg, snapshot_store=store
    ).crawl(fx.SAMPLE_SITE_BASE)
    assert store.latest_wave() == 1

    # resume to completion
    resumed = SparkCrawler(
        spark, docs, CrawlConfig(), snapshot_store=store
    ).crawl(fx.SAMPLE_SITE_BASE, resume=True)

    assert _pages_key(resumed) == full_pages
    assert {r["url"] for r in resumed.seen.collect()} == full_seen


def test_manifest_lineage(spark, sample_site_corpus, tmp_path):
    docs = corpus_df(spark, sample_site_corpus).cache()
    store = SnapshotStore(spark, str(tmp_path / "state"))
    SparkCrawler(
        spark,
        docs,
        CrawlConfig(max_waves=1),
        snapshot_store=store,
    ).crawl(fx.SAMPLE_SITE_BASE)
    man = store.load_manifest(0)
    assert man["wave_id"] == 0
    assert man["counters"]["n_fetched"] == 1
    assert "frontier" in man["lineage"]
    total = sum(p["rows"] for p in man["lineage"]["frontier"])
    assert total == store.load_table(0, "frontier").count()
