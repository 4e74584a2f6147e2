"""Round-7 optimization tests.

The dictionary edge layout (``crawler._ensure_edges``) restructures the
expand path — dedup/anti-join on 8-byte keys, (link, host) re-attached
post-chain, robots deferred to unique links — and must be
result-identical to the per-wave span extraction path on every surface
(pages, seen, edges, wave count), in both plain-BFS and
politeness-budget modes.
"""

from __future__ import annotations

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.sources.corpus import cached_scale_corpus, load_documents


@pytest.fixture(scope="module")
def small_scale(spark):
    path, seeds = cached_scale_corpus(
        n_hosts=12,
        pages_per_host=40,
        mega_host_factor=4,
        out_degree=8,
        media_ratio=0.2,
        cross_host_prob=0.1,
        seed=11,
        n_seeds=4,
    )
    return load_documents(spark, path), seeds


def _crawl_surface(spark, docs, seeds, **kw):
    base = dict(
        internal_urls=["http://*"],
        seed_urls=seeds,
        store_inbound_links=False,
        precompute_edges=True,
        prefilter_min_seen=500,
    )
    base.update(kw)
    crawler = SparkCrawler(spark, docs, CrawlConfig(**base))
    res = crawler.crawl(None)
    pages = sorted(
        tuple(r)
        for r in res.pages.select(
            "url",
            "host",
            "depth",
            "discovery_order",
            "parent",
            "fetch_order",
            "status_code",
            "mime_type",
        ).collect()
    )
    seen = sorted(r["url"] for r in res.seen.collect())
    edges = sorted(tuple(r) for r in res.edges.collect())
    mode = "dict" if crawler._edge_dict is not None else "spans"
    crawler.close()
    return mode, pages, seen, edges, res.n_waves


class TestJpegFillBytes:
    def test_fill_bytes_before_marker_decode(self):
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker; the decoder previously misparsed the fill byte as a
        # marker + length and returned None (round-6 advice)
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_pixels,
            encode_jpeg,
        )

        payload = encode_jpeg(24, 16, seed=3)
        base = decode_jpeg_pixels(payload)
        assert base is not None
        # inject two fill bytes before the first post-SOI marker
        assert payload[:3] == b"\xff\xd8\xff"
        stuffed = payload[:2] + b"\xff\xff" + payload[2:]
        assert decode_jpeg_pixels(stuffed) == base


class TestDictEdgeParity:
    def test_plain_bfs_parity(self, spark, small_scale):
        docs, seeds = small_scale
        m_dict, *dict_surface = _crawl_surface(spark, docs, seeds)
        m_spans, *spans_surface = _crawl_surface(
            spark, docs, seeds, precompute_edges=False
        )
        assert (m_dict, m_spans) == ("dict", "spans")
        assert dict_surface == spans_surface

    def test_robots_parity(self, spark, small_scale):
        # the dictionary layout defers the robots gate to AFTER dedup +
        # seen rejection (the predicate is a function of the link alone)
        # — must yield the identical surface to the per-wave pre-dedup
        # gate on a corpus where rules actually reject links
        from cobweb_spark.sources.corpus import robots_df

        docs, seeds = small_scale
        rules = robots_df(
            spark,
            [
                ("host1.example.com", "*", "disallow", "/p1", 0),
                ("host2.example.com", "*", "disallow", "/", 0),
                ("host3.example.com", "cobweb", "allow", "/p2", 0),
                ("host3.example.com", "cobweb", "disallow", "/", 1),
            ],
        )

        def run(**kw):
            base = dict(
                internal_urls=["http://*"],
                seed_urls=seeds,
                store_inbound_links=False,
                precompute_edges=True,
                obey_robots=True,
            )
            base.update(kw)
            from cobweb_spark.config import CrawlConfig

            crawler = SparkCrawler(
                spark, docs, CrawlConfig(**base), robots=rules
            )
            res = crawler.crawl(None)
            pages = sorted(
                tuple(r)
                for r in res.pages.select(
                    "url", "depth", "discovery_order", "fetch_order"
                ).collect()
            )
            seen = sorted(r["url"] for r in res.seen.collect())
            mode = "dict" if crawler._edge_dict is not None else "spans"
            crawler.close()
            return mode, pages, seen

        m_dict, *d_surface = run()
        m_spans, *s_surface = run(precompute_edges=False)
        assert (m_dict, m_spans) == ("dict", "spans")
        assert d_surface == s_surface
        # the rules actually bit: beyond the (filter-exempt) seeds, no
        # host2 link may have been enqueued
        n_host2_seeds = sum("host2.example.com" in s for s in seeds)
        n_host2_seen = sum(
            "host2.example.com" in u for u in d_surface[1]
        )
        assert n_host2_seen == n_host2_seeds

    def test_budget_parity(self, spark, small_scale):
        # politeness admission + the unified bucketed discovery_order
        # assignment (round 7 removed the budget path's range-sampling
        # zip) must stay rank-exact through both link sources
        docs, seeds = small_scale
        m_dict, *dict_surface = _crawl_surface(
            spark, docs, seeds, host_budget=23
        )
        m_spans, *spans_surface = _crawl_surface(
            spark, docs, seeds, host_budget=23, precompute_edges=False
        )
        assert (m_dict, m_spans) == ("dict", "spans")
        assert dict_surface == spans_surface
