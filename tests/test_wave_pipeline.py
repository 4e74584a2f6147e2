"""One wave pipeline: the dictionary edge table is the only precomputed
link source (with a checked hash shortcut), every completed wave commits,
resume restores exactly what an uninterrupted crawl returns, and the
filter bank's scratch is reclaimed without an explicit close()."""

import gc
import os
import re

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.oracle import CrawlOracle
from cobweb_spark.plans import crawler as crawler_mod
from cobweb_spark.plans.crawler import SparkCrawler, link_dictionary
from cobweb_spark.plans.state import SnapshotStore
from cobweb_spark.sources.corpus import corpus_df
from cobweb_spark.testkit import fixtures as fx

pytestmark = pytest.mark.spark


def _candidate_rows(res):
    return sorted(
        (r["parent"], r["parent_fetch_order"], r["link"], r["position"])
        for r in res.candidates.collect()
    )


class TestCandidatesResume:
    @pytest.mark.parametrize("inbound", [False, True])
    def test_resumed_candidates_match_uninterrupted(
        self, spark, tmp_path, inbound
    ):
        docs = corpus_df(spark, fx.build_seed_redirect_corpus())
        cfg = CrawlConfig(store_inbound_links=inbound)
        want = SparkCrawler(spark, docs, cfg).crawl(fx.SEED_REDIRECT_BASE)

        store = SnapshotStore(spark, str(tmp_path / "st"))
        SparkCrawler(
            spark, docs, cfg.with_(max_waves=1), snapshot_store=store
        ).crawl(fx.SEED_REDIRECT_BASE)
        # a candidates table is committed only when the crawl keeps one
        assert os.path.isdir(
            os.path.join(store._wave_dir(0), "candidates")
        ) == inbound
        resumed = SparkCrawler(spark, docs, cfg, snapshot_store=store).crawl(
            fx.SEED_REDIRECT_BASE, resume=True
        )
        assert resumed.fetch_sequence() == want.fetch_sequence()
        assert _candidate_rows(resumed) == _candidate_rows(want)
        assert bool(_candidate_rows(want)) == inbound


def _footer_lineage(path):
    """(partition, rows) per partition id of a parquet table's part files,
    read from the files themselves."""
    import pyarrow.parquet as pq

    rows = {}
    for name in os.listdir(path):
        m = re.match(r"part-(\d+)-", name)
        if m:
            pid = int(m.group(1))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return sorted(rows.items())


class TestManifestLineage:
    def test_lineage_is_the_written_partitions(self, spark, tmp_path):
        docs = corpus_df(spark, fx.build_seed_redirect_corpus())
        store = SnapshotStore(spark, str(tmp_path / "st"))
        SparkCrawler(
            spark,
            docs,
            CrawlConfig(store_inbound_links=True),
            snapshot_store=store,
        ).crawl(fx.SEED_REDIRECT_BASE)
        lin = {
            (r["wave_id"], r["table"], r["partition"]): r["rows"]
            for r in store.load_wave_partition_lineage().collect()
        }
        for w in range(store.latest_wave() + 1):
            man = store.load_manifest(w)
            assert set(man["lineage"]) == set(man["tables"])
            for name, path in man["tables"].items():
                got = [
                    (e["partition"], e["rows"]) for e in man["lineage"][name]
                ]
                assert got == _footer_lineage(path), (w, name)
                assert got == sorted(
                    (p, n) for (wv, t, p), n in lin.items()
                    if wv == w and t == name
                )


class TestLinkDictionaryClash:
    def test_shared_key_flagged(self, spark):
        keyed = spark.createDataFrame(
            [
                (1, "http://a.example/", True),
                (1, "http://a.example/", True),  # same link twice: no clash
                (7, "http://b.example/", True),
                (7, "http://c.example/", True),  # two links, one key
                (9, "http://d.example/", True),
                (9, "http://seed.example/", False),  # a seed shares it
                (11, "http://doc.example/", False),  # not a link: no row
                (1, "http://a.example/", False),  # a doc_id equal to a link
            ],
            "dst_key long, link string, is_link boolean",
        )
        got = {
            r["dst_key"]: (r["link"], r["clash"])
            for r in link_dictionary(keyed).collect()
        }
        assert got == {
            1: ("http://a.example/", False),
            7: ("http://b.example/", True),
            9: ("http://d.example/", True),
        }


@pytest.fixture(scope="module")
def small_graph(spark):
    params = dict(
        n_hosts=4,
        pages_per_host=10,
        mega_host_factor=3,
        out_degree=6,
        media_ratio=0.2,
        cross_host_prob=0.1,
        seed=5,
        n_seeds=3,
    )
    corpus, seeds = fx.scale_corpus_as_oracle_dict(**params)
    return corpus, corpus_df(spark, corpus), seeds


class TestDictionaryFallback:
    def _cfg(self, seeds):
        return CrawlConfig(
            internal_urls=["http://*"],
            seed_urls=seeds,
            store_inbound_links=False,
            precompute_edges=True,
        )

    def _check_oracle(self, corpus, cfg, res):
        oracle = CrawlOracle(corpus, cfg).crawl(None)
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen

    def test_dictionary_matches_oracle(self, spark, small_graph):
        corpus, docs, seeds = small_graph
        cfg = self._cfg(seeds)
        crawler = SparkCrawler(spark, docs, cfg)
        res = crawler.crawl(None)
        assert crawler._edge_dict is not None
        self._check_oracle(corpus, cfg, res)
        crawler.close()

    def test_clash_falls_back_to_string_keys(
        self, spark, small_graph, monkeypatch
    ):
        from pyspark.sql import functions as F

        def clashing(keyed):
            # as if every link key were shared by two distinct URLs
            return link_dictionary(keyed).withColumn("clash", F.lit(True))

        monkeypatch.setattr(crawler_mod, "link_dictionary", clashing)
        corpus, docs, seeds = small_graph
        cfg = self._cfg(seeds)
        crawler = SparkCrawler(spark, docs, cfg)
        res = crawler.crawl(None)
        assert crawler._edges is None and crawler._edge_dict is None
        assert crawler._link_keys_exact is False
        self._check_oracle(corpus, cfg, res)
        crawler.close()


class TestBankScratch:
    def test_dropped_bank_removes_its_scratch(self, spark):
        from cobweb_spark.operators.filters import SeenFilterBank

        bank = SeenFilterBank(spark, n_shards=2, capacity_per_shard=64)
        scratch = bank._scratch
        assert os.path.isdir(scratch)
        del bank
        gc.collect()
        assert not os.path.exists(scratch)

    def test_caller_scratch_is_kept(self, spark, tmp_path):
        from cobweb_spark.operators.filters import SeenFilterBank

        own = tmp_path / "bank"
        own.mkdir()
        bank = SeenFilterBank(
            spark, n_shards=2, capacity_per_shard=64, scratch_dir=str(own)
        )
        del bank
        gc.collect()
        assert own.is_dir()


def test_host_resources_follow_affinity():
    from cobweb_spark.session import host_resources

    cores, mem_mb = host_resources()
    assert cores == len(os.sched_getaffinity(0))
    assert mem_mb > 0
