"""The seen tier has one owner (``operators.dedup.SeenParts``): its parts
chain and compact exactly, its bank syncs on one rule, and a resumed crawl
rebuilds the bank from the loaded seen set — no bank is ever written into
a snapshot. Also the checkout-relative corpus cache and the sample-site
fixture's missing-input error."""

import glob
import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

from cobweb_spark.config import CrawlConfig
from cobweb_spark.operators import dedup
from cobweb_spark.operators.dedup import SeenParts
from cobweb_spark.operators.filters import SeenFilterBank, bank_scratch_base
from cobweb_spark.oracle import CrawlOracle
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.plans.state import SnapshotStore
from cobweb_spark.sources.corpus import cached_scale_corpus, corpus_df
from cobweb_spark.testkit import fixtures as fx

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _CountingBank(SeenFilterBank):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.syncs = 0

    def add(self, *a, **kw):
        self.syncs += 1
        return super().add(*a, **kw)


@pytest.mark.spark
class TestSeenPartsBank:
    def test_sync_rule_and_compaction_stay_exact(self, spark):
        urls = [f"http://h{i % 3}.com/p{i}" for i in range(120)]

        def url_frame(chunk):
            return spark.createDataFrame([(u,) for u in chunk], "url string")

        cands = url_frame(urls).select(
            F.col("url").alias("link"), F.xxhash64("url").alias("link_key")
        )
        bank = _CountingBank(spark, n_shards=4, capacity_per_shard=256)
        tier = SeenParts(url_frame(urls[:10]), 4, slim=True, bank=bank)
        seen = set(urls[:10])
        assert tier.engaged(0)
        assert not SeenParts(url_frame([]), 4, slim=True).engaged(10**9)

        def check():
            got = {
                r["link"] for r in tier.reject(cands, engaged=True).collect()
            }
            assert got == set(urls) - seen

        def add_parts(n):
            for _ in range(n):
                k = len(seen)
                tier.append(url_frame(urls[k : k + 2]))
                seen.update(urls[k : k + 2])

        check()  # first engagement: every part is synced
        assert (bank.syncs, tier.synced) == (1, 1)
        add_parts(dedup.BANK_SYNC_EVERY - 1)
        check()  # too few un-synced parts: the backstop covers them
        assert (bank.syncs, tier.synced) == (1, 1)
        add_parts(1)
        check()
        assert (bank.syncs, tier.synced) == (2, len(tier.parts))
        add_parts(dedup.COMPACT_AT + 1 - len(tier.parts))
        assert (len(tier.parts), tier.synced) == (1, 0)
        check()  # the merged part is re-synced
        assert (bank.syncs, tier.synced) == (3, 1)
        bank.close()


@pytest.mark.spark
class TestResumeWithBank:
    def test_resume_rebuilds_bank_and_snapshots_hold_none(
        self, spark, tmp_path
    ):
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig(prefilter_min_seen=0)
        oracle = CrawlOracle(corpus, cfg).crawl(fx.SEED_REDIRECT_BASE)
        full = SparkCrawler(spark, docs, cfg)
        want = full.crawl(fx.SEED_REDIRECT_BASE)
        want_seq = want.fetch_sequence()
        want_seen = {r["url"] for r in want.seen.collect()}
        full.close()

        banks = os.path.join(bank_scratch_base(), "seenbank-*")
        before = set(glob.glob(banks))
        sdir = str(tmp_path / "st")
        killed = SparkCrawler(
            spark,
            docs,
            cfg.with_(max_waves=1),
            snapshot_store=SnapshotStore(spark, sdir),
        )
        killed.crawl(fx.SEED_REDIRECT_BASE)
        killed.close()
        store = SnapshotStore(spark, sdir)
        assert store.latest_wave() == 0
        crawler = SparkCrawler(spark, docs, cfg, snapshot_store=store)
        resumed = crawler.crawl(fx.SEED_REDIRECT_BASE, resume=True)
        seq = resumed.fetch_sequence()
        seen = {r["url"] for r in resumed.seen.collect()}
        # the probe tier engaged after the resume: its bank was built
        # from the loaded seen part
        assert crawler.prefilter._gen > 0
        crawler.close()

        assert seq == want_seq == oracle.fetch_sequence
        assert seen == want_seen == oracle.seen
        waves = sorted(glob.glob(os.path.join(sdir, "wave=*")))
        assert len(waves) == store.latest_wave() + 1 >= 2
        for w in waves:
            assert not os.path.exists(os.path.join(w, "filters")), w
        # nothing but committed state: no staged bank or other scratch
        committed = re.compile(
            r"wave=\d{6}|_LATEST|wave_metrics|wave_partition_lineage|crawl_runs"
        )
        assert all(committed.fullmatch(e) for e in os.listdir(sdir)), sorted(
            os.listdir(sdir)
        )
        assert set(glob.glob(banks)) <= before


def test_default_corpus_cache_is_in_this_checkout():
    default = inspect.signature(cached_scale_corpus).parameters["cache_dir"]
    assert default.default == os.path.join(REPO, ".cache_corpus")


def test_sample_site_corpus_without_samples_raises(tmp_path):
    with pytest.raises(FileNotFoundError, match="sample_site"):
        fx.build_sample_site_corpus(str(tmp_path))
