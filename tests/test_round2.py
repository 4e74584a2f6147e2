"""Round-2 feature tests: first_page_redirect_internal, additional_tags /
ignore_default_tags, prefilter coverage of redirect finals, malformed-URL
robustness, real PNG/WAV decode, finished sink,
vectorized URL fast paths."""

import os

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.oracle import CrawlOracle, extract_all_links
from cobweb_spark.plans.crawler import SparkCrawler
from cobweb_spark.sources.corpus import corpus_df
from cobweb_spark.testkit import fixtures as fx
from cobweb_spark.urls import canonicalize, host_of

pytestmark = pytest.mark.spark


def _parity(spark, corpus, cfg, base_url, **kw):
    docs = corpus_df(spark, corpus)
    res = SparkCrawler(spark, docs, cfg, **kw).crawl(base_url)
    oracle = CrawlOracle(corpus, cfg).crawl(base_url)
    assert res.fetch_sequence() == oracle.fetch_sequence
    assert {r["url"] for r in res.seen.collect()} == oracle.seen
    return res, oracle


class TestFirstPageRedirectInternal:
    def test_seed_redirect_widens_internal(self, spark):
        corpus = fx.build_seed_redirect_corpus()
        res, oracle = _parity(
            spark, corpus, CrawlConfig(), fx.SEED_REDIRECT_BASE
        )
        # crawl follows onto the destination host (6 fetches, not 1)
        assert len(oracle.pages) == 6
        # the directly-linked redirect FINAL url is never re-fetched
        seq = oracle.fetch_sequence
        assert seq.count(fx.SEED_REDIRECT_BASE) == 1
        assert fx.SEED_REDIRECT_DEST + "/" not in seq

    def test_flag_off_dead_ends(self, spark):
        corpus = fx.build_seed_redirect_corpus()
        cfg = CrawlConfig(first_page_redirect_internal=False)
        res, oracle = _parity(spark, corpus, cfg, fx.SEED_REDIRECT_BASE)
        # without the widening the crawl dead-ends at the seed
        assert len(oracle.pages) == 1

    def test_prefilter_parity_with_redirect_final(self, spark):
        """ADVICE regression: redirect-final URLs must enter the bloom
        bank too — with the probe tier FORCED on (min_seen=0), a corpus
        whose 301 target is also linked directly must not double-fetch
        it (a bank miss would read as definitely-new)."""
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig(prefilter_min_seen=0)
        crawler = SparkCrawler(spark, docs, cfg)
        assert crawler.prefilter is not None  # built from config default
        res = crawler.crawl(fx.SEED_REDIRECT_BASE)
        oracle = CrawlOracle(corpus, cfg).crawl(fx.SEED_REDIRECT_BASE)
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert res.pages.count() == len(oracle.pages)

    def test_prefilter_engaged_full_sample_site(
        self, spark, sample_site_corpus
    ):
        """Whole sample-site crawl with the probe tier forced on every
        wave: exact order + seen-set parity (bloom false positives only
        re-route through the anti-join, misses are genuinely new)."""
        docs = corpus_df(spark, sample_site_corpus)
        cfg = CrawlConfig(prefilter_min_seen=0)
        res = SparkCrawler(spark, docs, cfg).crawl(fx.SAMPLE_SITE_BASE)
        oracle = CrawlOracle(sample_site_corpus, cfg).crawl(
            fx.SAMPLE_SITE_BASE
        )
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen


class TestTagExtensionPoints:
    CORPUS = None

    def _spans(self):
        corpus = fx.build_seed_redirect_corpus()
        return corpus[fx.SEED_REDIRECT_DEST + "/a.html"].spans

    def test_default_ignores_unknown_kind(self):
        links = extract_all_links("http://h/", self._spans())
        assert not any("clip.mp4" in l for l in links)

    def test_additional_tags_extract_custom_kind(self):
        cfg = CrawlConfig(
            additional_tags={"video_src": [("media_links", 5, 0)]}
        )
        links = extract_all_links(
            "http://h/", self._spans(), cfg.kind_categories()
        )
        assert "http://h/clip.mp4" in links
        # custom category ordered AFTER the defaults (cat_rank 5)
        assert links[-1] == "http://h/clip.mp4"

    def test_ignore_default_tags_yields_nothing(self):
        # spec/cobweb/content_link_parser_spec.rb:124-129
        cfg = CrawlConfig(ignore_default_tags=True)
        assert cfg.kind_categories() == {}
        links = extract_all_links(
            "http://h/", self._spans(), cfg.kind_categories()
        )
        assert links == []

    def test_spark_extract_links_custom_table(self, spark):
        from cobweb_spark.operators.extract import extract_links
        from pyspark.sql import functions as F

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        ex_in = docs.select(
            F.col("doc_id").alias("parent"),
            F.col("doc_id").alias("parent_url"),
            F.lit(0).cast("long").alias("parent_fetch_order"),
            F.lit(0).alias("parent_depth"),
            "spans",
        )
        cfg = CrawlConfig(
            additional_tags={"video_src": [("media_links", 5, 0)]}
        )
        links = {
            r["link"]
            for r in extract_links(ex_in, cfg.kind_categories()).collect()
        }
        assert fx.SEED_REDIRECT_DEST + "/clip.mp4" in links
        default_links = {
            r["link"] for r in extract_links(ex_in).collect()
        }
        assert fx.SEED_REDIRECT_DEST + "/clip.mp4" not in default_links
        # oracle/Spark per-page parity under the custom table
        for doc in corpus.values():
            want = extract_all_links(
                doc.doc_id, doc.spans, cfg.kind_categories()
            )
            got = [
                r["link"]
                for r in extract_links(
                    ex_in.filter(F.col("parent") == doc.doc_id),
                    cfg.kind_categories(),
                )
                .orderBy("position")
                .collect()
            ]
            assert got == want, doc.doc_id


class TestMalformedUrls:
    def test_canonicalize_bad_port_returns_none(self):
        assert canonicalize("http://h:8x/p") is None
        assert canonicalize("http://h:99999/") is None
        assert host_of("http://h:8x/p") == ""

    def test_bad_port_link_does_not_abort_crawl(self, spark):
        corpus = {
            "http://ok.example.com/": fx.OracleDoc(
                doc_id="http://ok.example.com/",
                spans=[
                    ("a", "http://ok.example.com/p.html", None, 0),
                    ("a", "http://ok.example.com:99999/bad.html", None, 1),
                ],
                status_code=200,
                mime_type="text/html",
                length=10,
                response_time=0.01,
            ),
            "http://ok.example.com/p.html": fx.OracleDoc(
                doc_id="http://ok.example.com/p.html",
                spans=[("text", "x", None, 0)],
                status_code=200,
                mime_type="text/html",
                length=5,
                response_time=0.01,
            ),
        }
        cfg = CrawlConfig(internal_urls=["http://ok.example.com*"])
        res, oracle = _parity(spark, corpus, cfg, "http://ok.example.com/")
        # the malformed-port URL is fetched as a missing row, not a crash
        assert len(oracle.pages) == 3
        bad = [p for p in oracle.pages if "99999" in p.queued_url]
        assert bad and bad[0].status_code == 404


class TestMediaCodecs:
    def test_png_roundtrip(self):
        from cobweb_spark.functions.media_codecs import (
            decode_png_header,
            decode_png_pixels,
            encode_png,
            sniff_format,
        )

        p = encode_png(17, 9, seed=4)
        assert sniff_format(p) == "png"
        assert decode_png_header(p) == (17, 9)
        assert len(decode_png_pixels(p)) == 17 * 9

    def test_wav_roundtrip(self):
        from cobweb_spark.functions.media_codecs import (
            decode_wav_header,
            encode_wav,
            sniff_format,
        )

        w = encode_wav(123, 16000, n_channels=2, seed=1)
        assert sniff_format(w) == "wav"
        assert decode_wav_header(w) == (16000, 2, 123)

    def test_decode_media_real(self, spark):
        from pyspark.sql import functions as F

        from cobweb_spark.operators.multimodal import (
            MEDIA_STORE_SCHEMA,
            decode_media,
            media_payloads,
        )

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        refs = ["m1.jpg", "clip.mp4"]
        rows = fx.build_media_store_rows(refs)
        store = spark.createDataFrame(rows, MEDIA_STORE_SCHEMA)
        out = {
            r["media_ref"]: r
            for r in decode_media(media_payloads(docs, store)).collect()
        }
        by_ref = {r["media_ref"]: r for r in rows}
        for ref in refs:
            got, want = out[ref], by_ref[ref]
            assert got["n_bytes"] == want["n_bytes"]
            assert got["width"] == want["width"]
            assert got["height"] == want["height"]
            assert got["sample_rate"] == want["sample_rate"]
            assert got["n_samples"] == want["n_samples"]
            fmt = "png" if want["media_kind"] == "image/png" else "wav"
            assert got["format"] == fmt
            assert abs(sum(got["feature"]) - 1.0) < 1e-5

    def test_decode_media_strict_raises_on_unknown(self, spark):
        from cobweb_spark.operators.multimodal import (
            decode_media,
            media_payloads,
        )

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        # no media store → synthetic payloads → unknown format
        with pytest.raises(Exception, match="NotImplementedError|no codec"):
            decode_media(media_payloads(docs), strict=True).collect()


class TestFinishedSink:
    def test_on_finished_called_once_with_stats(self, spark):
        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        calls = []
        SparkCrawler(spark, docs, CrawlConfig()).crawl(
            fx.SEED_REDIRECT_BASE, on_finished=lambda df: calls.append(df)
        )
        assert len(calls) == 1
        row = calls[0].collect()[0]
        oracle = CrawlOracle(corpus, CrawlConfig()).crawl(
            fx.SEED_REDIRECT_BASE
        )
        assert row["crawl_counter"] == oracle.stats["crawl_counter"]
        assert row["page_count"] == oracle.stats["page_count"]
        assert row["total_redirects"] == oracle.stats["total_redirects"]
        assert row["current_status"] == "Crawl Finished"
        assert row["queue_counter"] == 0

    def test_crawl_runs_append_exactly_once(self, spark, tmp_path):
        from cobweb_spark.plans.state import SnapshotStore

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        store = SnapshotStore(spark, str(tmp_path / "state"))
        SparkCrawler(
            spark, docs, CrawlConfig(), snapshot_store=store
        ).crawl(fx.SEED_REDIRECT_BASE)
        assert store.load_crawl_runs().count() == 1
        # resume over a finished store must not double-append
        store2 = SnapshotStore(spark, str(tmp_path / "state"))
        SparkCrawler(
            spark, docs, CrawlConfig(), snapshot_store=store2
        ).crawl(fx.SEED_REDIRECT_BASE, resume=True)
        assert store2.load_crawl_runs().count() == 1


class TestProbeTiers:
    def test_broadcast_and_cogroup_probes_agree(self, spark):
        """The small-bank broadcast probe and the big-bank cogroup probe
        must mark identical __maybe_seen flags."""
        from cobweb_spark.operators.filters import SeenFilterBank

        urls = [f"http://h{i % 7}.example.com/p{i}" for i in range(500)]
        seen = spark.createDataFrame([(u,) for u in urls[:250]], "url string")
        cands = spark.createDataFrame(
            [(u,) for u in urls[100:400]], "link string"
        )
        bank = SeenFilterBank(spark, n_shards=8, capacity_per_shard=1 << 10)
        bank.add(seen)
        assert bank._estimated_bytes() <= bank.broadcast_max_bytes
        fast = {
            r["link"]: r["__maybe_seen"]
            for r in bank.mark_probable(cands, "link").collect()
        }
        bank.broadcast_max_bytes = 0  # force the cogroup tier
        slow = {
            r["link"]: r["__maybe_seen"]
            for r in bank.mark_probable(cands, "link").collect()
        }
        assert fast == slow
        # every actually-seen candidate must be flagged (no false negatives)
        for u in urls[100:250]:
            assert fast[u] is True


class TestSpanScopeDsl:
    def test_generic_projection(self, spark):
        from cobweb_spark.operators.document_scope import SpanScope

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        s = SpanScope()
        rows = {
            r["doc_id"]: r
            for r in docs.select(
                "doc_id",
                s.tags("a").count().alias("n_a"),
                s.tag("title").text().alias("title"),
                s.tags("a").texts().alias("hrefs"),
                s.tags_with("title", "dest").count().alias("n_dest_title"),
                s.tags("img", "video_src").count().alias("n_media_tags"),
            ).collect()
        }
        idx = rows[fx.SEED_REDIRECT_DEST + "/"]
        assert idx["n_a"] == 2
        assert idx["title"] == "dest index"
        assert idx["hrefs"] == ["/a.html", "/b.html"]
        assert idx["n_dest_title"] == 1
        a = rows[fx.SEED_REDIRECT_DEST + "/a.html"]
        assert a["title"] == ""  # no title span → empty contents
        assert a["n_media_tags"] == 1  # the video_src span

        # oracle replay of the same projection, pure python
        for doc_id, doc in corpus.items():
            want_n_a = sum(1 for sp in doc.spans if sp[0] == "a")
            assert rows[doc_id]["n_a"] == want_n_a, doc_id


class TestUrlFastPaths:
    CASES = [
        "http://host.example.com/a/b.html",
        "http://host.example.com/",
        "http://host.example.com",
        "HTTP://Host.Example.com/X.html",
        "http://host.example.com:80/a.html",
        "http://host.example.com:8080/a.html",
        "http://host.example.com/a/../b.html",
        "http://host.example.com/a/./b.html",
        "http://host.example.com/a%2fb.html",
        "http://host.example.com/a.html?q=1&r=2",
        "http://host.example.com/a.html#frag",
        "http://user:pw@host.example.com/a.html",
        "https://host.example.com/s.html",
        "http://h:99999/bad",
        # ADVICE round-3 regressions: bare '?' (canonicalize strips it),
        # trailing newline ('$' would match before it; fullmatch must not),
        # and stray-% URLs (escaped to %25 by the idempotent normalizer)
        "http://host.example.com/p?",
        "http://host.example.com/p.html\n",
        "http://host.example.com/%%333",
        "http://host.example.com/x%3",
    ]

    def test_canonicalize_udf_matches_scalar(self, spark):
        from pyspark.sql import functions as F

        from cobweb_spark.functions.url_udfs import canonicalize_udf

        df = spark.createDataFrame(
            [(u,) for u in self.CASES], "url string"
        )
        got = {
            r["url"]: r["c"]
            for r in df.select(
                "url", canonicalize_udf("url").alias("c")
            ).collect()
        }
        for u in self.CASES:
            assert got[u] == canonicalize(u), u

    def test_host_udf_matches_scalar(self, spark):
        from cobweb_spark.functions.url_udfs import host_udf

        df = spark.createDataFrame(
            [(u,) for u in self.CASES], "url string"
        )
        got = {
            r["url"]: r["h"]
            for r in df.select("url", host_udf("url").alias("h")).collect()
        }
        for u in self.CASES:
            assert (got[u] or "") == host_of(u), u
