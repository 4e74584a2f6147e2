"""Round 6: real JPEG baseline pixel codec, Y4M video frame path, and
the malformed-payload robustness guards (resize/frame-sample must emit
null rows, not kill the Spark task, on truncated or out-of-coverage
payloads — advice items r5)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest


class TestJpegPixelCodec:
    def test_gradient_roundtrip_error_bound(self):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_header,
            decode_jpeg_pixels,
            encode_jpeg,
        )

        for w, h in [(1, 1), (8, 8), (17, 331), (64, 48), (129, 65)]:
            seed = w * 1000 + h
            payload = encode_jpeg(w, h, seed=seed)
            assert decode_jpeg_header(payload) == (w, h)
            pix = decode_jpeg_pixels(payload)
            assert pix is not None and len(pix) == w * h
            y, x = np.mgrid[0:h, 0:w]
            orig = np.clip(
                96.0
                + 60.0 * np.sin((x + (seed & 63)) / 11.0)
                + 50.0 * np.cos((y + ((seed >> 6) & 63)) / 13.0),
                0,
                255,
            ).astype(np.uint8)
            got = np.frombuffer(pix, dtype=np.uint8).reshape(h, w)
            err = np.abs(orig.astype(int) - got.astype(int))
            # smooth content through the q=90 tables: tight bound
            assert err.max() <= 8, (w, h, err.max())

    def test_arbitrary_pixels_roundtrip_within_quantization(self):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_pixels,
            encode_gray_jpeg,
        )

        # worst-case content (uniform noise) still bounded by the
        # quantization tables' coarsest step
        rng = np.random.RandomState(11)
        arr = rng.randint(0, 256, size=(40, 56)).astype(np.uint8)
        payload = encode_gray_jpeg(arr.tobytes(), 56, 40)
        got = np.frombuffer(decode_jpeg_pixels(payload), dtype=np.uint8)
        err = np.abs(arr.reshape(-1).astype(int) - got.astype(int))
        assert err.max() <= 48

    def test_decoder_rejects_out_of_coverage_streams(self):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_pixels,
            encode_jpeg,
        )

        payload = bytearray(encode_jpeg(16, 16, seed=1))
        sof = payload.index(b"\xff\xc0")
        progressive = bytes(payload[:sof]) + b"\xff\xc2" + bytes(
            payload[sof + 2 :]
        )
        assert decode_jpeg_pixels(progressive) is None
        assert decode_jpeg_pixels(b"\xff\xd8\xff\xda\x00\x04ab") is None
        assert decode_jpeg_pixels(b"") is None
        # truncated entropy data: graceful None, not an exception
        assert decode_jpeg_pixels(bytes(payload[: len(payload) // 2])) is None

    def test_byte_stuffing_survives(self):
        """Content tuned to produce 0xFF bytes in the scan must still
        roundtrip (stuffed 0xFF00 unstuffed on decode)."""
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_pixels,
            encode_gray_jpeg,
        )

        rng = np.random.RandomState(99)
        for trial in range(8):
            a = rng.randint(0, 256, size=(24, 24)).astype(np.uint8)
            p = encode_gray_jpeg(a.tobytes(), 24, 24)
            got = decode_jpeg_pixels(p)
            assert got is not None and len(got) == 24 * 24


class TestY4mCodec:
    def test_header_and_frames_roundtrip(self):
        from cobweb_spark.functions.media_codecs import (
            decode_y4m_header,
            encode_y4m,
            sniff_format,
            y4m_frames,
        )

        v = encode_y4m(24, 16, 7, fps=30, seed=3)
        assert sniff_format(v) == "y4m"
        assert decode_y4m_header(v) == (24, 16, 30, 7)
        frames = y4m_frames(v)
        assert len(frames) == 7
        assert all(len(f) == 24 * 16 for f in frames)
        # frames carry the deterministic generator content
        idx = np.arange(24 * 16, dtype=np.int64)
        want = ((3 + 2 * 7 + idx * 31) & 0xFF).astype(np.uint8).tobytes()
        assert frames[2] == want

    def test_truncated_final_frame_not_counted(self):
        from cobweb_spark.functions.media_codecs import (
            decode_y4m_header,
            encode_y4m,
            y4m_frames,
        )

        v = encode_y4m(8, 8, 3, seed=1)
        cut = v[:-5]  # clip into the last frame's plane
        assert decode_y4m_header(cut) == (8, 8, 25, 2)
        assert len(y4m_frames(cut)) == 2

    def test_not_y4m(self):
        from cobweb_spark.functions.media_codecs import (
            decode_y4m_header,
            encode_png,
            y4m_frames,
        )

        assert decode_y4m_header(b"") is None
        assert decode_y4m_header(encode_png(2, 2)) is None
        assert y4m_frames(b"YUV4MPEG2 Wx Hy\n") is None

    def test_c420_frame_size(self):
        from cobweb_spark.functions.media_codecs import y4m_frames

        hdr = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420jpeg\n"
        plane = bytes(range(4 * 4 + 2 * (2 * 2)))
        assert y4m_frames(hdr + b"FRAME\n" + plane) == [plane]


class TestVideoFrameSample:
    def test_y4m_crc_matches_independent_reference(self, spark):
        """sampled_crc32 equals a crc computed here by splitting the
        stream on FRAME markers with plain Python — proves the operator
        decimated real plane bytes."""
        from cobweb_spark.functions.media_codecs import encode_y4m
        from cobweb_spark.operators.multimodal import frame_sample_media

        payload = encode_y4m(12, 10, 11, seed=5)
        # independent parse: split on the FRAME delimiter
        body = payload.split(b"\n", 1)[1]
        parts = body.split(b"FRAME\n")[1:]
        assert len(parts) == 11 and all(len(p) == 120 for p in parts)
        ref_bytes = b"".join(parts[::4])
        media = spark.createDataFrame(
            [("d1", "v.y4m", payload, "video/y4m")],
            "doc_id string, media_ref string, payload binary, "
            "media_kind string",
        )
        row = frame_sample_media(media, every_k=4, strict=True).collect()[0]
        assert row["format"] == "y4m"
        assert row["n_samples"] == 11
        assert row["n_sampled"] == 3  # ceil(11/4)
        assert row["sampled_crc32"] == zlib.crc32(ref_bytes)

    def test_truncated_wav_clamps_instead_of_crashing(self, spark):
        from cobweb_spark.functions.media_codecs import encode_wav
        from cobweb_spark.operators.multimodal import frame_sample_media

        full = encode_wav(40, 8000, seed=2)
        cut = full[:-33]  # data chunk declares 40 frames, carries fewer
        media = spark.createDataFrame(
            [("d1", "t.wav", cut, "audio/wav")],
            "doc_id string, media_ref string, payload binary, "
            "media_kind string",
        )
        row = frame_sample_media(media, every_k=4).collect()[0]
        assert row["format"] == "wav"
        assert row["n_samples"] == 40 - 17  # 33 bytes = 16.5 frames lost
        assert row["n_sampled"] == int(np.ceil(row["n_samples"] / 4))


class TestResizeRobustness:
    def _media(self, spark, payload, ref="x.bin", kind="image/png"):
        return spark.createDataFrame(
            [("d1", ref, payload, kind)],
            "doc_id string, media_ref string, payload binary, "
            "media_kind string",
        )

    def test_truncated_png_emits_null_row(self, spark):
        from cobweb_spark.functions.media_codecs import PNG_SIGNATURE
        from cobweb_spark.operators.multimodal import resize_media

        bad = PNG_SIGNATURE + b"\x00\x01"  # signature, no IHDR
        row = resize_media(self._media(spark, bad)).collect()[0]
        assert row["format"] == "png"
        assert row["width"] is None and row["resized_payload"] is None
        with pytest.raises(Exception, match="undecodable"):
            resize_media(self._media(spark, bad), strict=True).collect()

    def test_png_outside_pixel_coverage_keeps_planned_dims(self, spark):
        """Valid header, filtered scanlines (filter type 1): header plan
        emitted, payload honestly null; strict raises."""
        from cobweb_spark.functions.media_codecs import (
            PNG_SIGNATURE,
            _png_chunk,
        )
        from cobweb_spark.operators.multimodal import resize_media

        ihdr = struct.pack(">IIBBBBB", 40, 4, 8, 0, 0, 0, 0)
        raster = b"".join(b"\x01" + bytes(40) for _ in range(4))
        filtered = (
            PNG_SIGNATURE
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raster))
            + _png_chunk(b"IEND", b"")
        )
        row = resize_media(
            self._media(spark, filtered), max_dim=8
        ).collect()[0]
        assert (row["width"], row["height"]) == (40, 4)
        assert (row["new_width"], row["new_height"]) == (8, 1)
        assert row["resized_payload"] is None
        with pytest.raises(Exception, match="NotImplementedError|coverage"):
            resize_media(
                self._media(spark, filtered), strict=True
            ).collect()

    def test_truncated_jpeg_emits_null_payload(self, spark):
        from cobweb_spark.functions.media_codecs import encode_jpeg
        from cobweb_spark.operators.multimodal import resize_media

        full = encode_jpeg(40, 40, seed=9)
        cut = full[: len(full) * 2 // 3]
        row = resize_media(
            self._media(spark, cut, kind="image/jpeg"), max_dim=8
        ).collect()[0]
        # header parses (dims planned); pixels unrecoverable → null
        assert (row["width"], row["height"]) == (40, 40)
        assert row["resized_payload"] is None


class TestAsyncCommits:
    """Every completed wave commits on the background FIFO pipeline; the
    store contents must equal the crawl's own result."""

    def _crawl(self, spark, corpus, base, tmp_path, tag, **cfg_kw):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.plans.state import SnapshotStore
        from cobweb_spark.sources.corpus import corpus_df

        docs = corpus_df(spark, corpus)
        store = SnapshotStore(spark, str(tmp_path / tag))
        res = SparkCrawler(
            spark, docs, CrawlConfig(**cfg_kw), snapshot_store=store
        ).crawl(base)
        return res, store

    def test_store_equivalent_to_result(self, spark, tmp_path):
        from cobweb_spark.testkit import fixtures as fx

        res, store = self._crawl(
            spark,
            fx.build_seed_redirect_corpus(),
            fx.SEED_REDIRECT_BASE,
            tmp_path,
            "st",
        )
        latest = store.latest_wave()
        assert latest == res.n_waves - 1

        def rows(name, *cols):
            return sorted(
                tuple(r[c] for c in cols)
                for w in range(latest + 1)
                for r in store.load_table(w, name).collect()
            )

        want_pages = sorted(
            (r["fetch_order"], r["url"]) for r in res.pages.collect()
        )
        assert rows("pages", "fetch_order", "url") == want_pages
        assert rows("edges", "src", "dst") == sorted(
            tuple(r) for r in res.edges.collect()
        )
        assert rows("candidates", "parent", "link", "position") == sorted(
            (r["parent"], r["link"], r["position"])
            for r in res.candidates.collect()
        )
        assert {
            r["url"] for r in store.load_table(latest, "seen").collect()
        } == {r["url"] for r in res.seen.collect()}
        man = store.load_manifest(latest)
        assert man["counters"]["n_fetched"] == len(want_pages)
        for name in ("frontier", "seen", "pages", "edges", "candidates"):
            assert (
                sum(p["rows"] for p in man["lineage"][name])
                == store.load_table(latest, name).count()
            )
        runs = store.load_crawl_runs().collect()
        assert [r["current_status"] for r in runs] == ["Crawl Finished"]

    def test_resume_from_async_store(self, spark, sample_site_corpus, tmp_path):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.plans.state import SnapshotStore
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        docs = corpus_df(spark, sample_site_corpus)
        full = SparkCrawler(spark, docs, CrawlConfig()).crawl(
            fx.SAMPLE_SITE_BASE
        )
        want = sorted(
            (r["fetch_order"], r["url"]) for r in full.pages.collect()
        )
        store = SnapshotStore(spark, str(tmp_path / "astate"))
        SparkCrawler(
            spark,
            docs,
            CrawlConfig(max_waves=2),
            snapshot_store=store,
        ).crawl(fx.SAMPLE_SITE_BASE)
        resumed = SparkCrawler(
            spark,
            docs,
            CrawlConfig(),
            snapshot_store=store,
        ).crawl(fx.SAMPLE_SITE_BASE, resume=True)
        got = sorted(
            (r["fetch_order"], r["url"]) for r in resumed.pages.collect()
        )
        assert got == want

    def test_pipeline_error_propagates(self):
        from cobweb_spark.plans.state import CommitPipeline

        p = CommitPipeline()
        p.submit(lambda: (_ for _ in ()).throw(ValueError("boom")))
        with pytest.raises(RuntimeError, match="async snapshot commit"):
            p.drain()
        # pipeline stays usable after the error is surfaced
        done = []
        p.submit(lambda: done.append(1))
        p.drain()
        p.close()
        assert done == [1]


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in sorted(texts.items())],
        "doc_id long, text string",
    )


class TestPackSequencesEmptyDocs:
    def test_empty_doc_occupies_no_token_slot(self, spark):
        from cobweb_spark.operators import textops

        texts = {0: "a b c", 1: "", 2: "   ", 3: "d e"}
        out = {
            r["doc_id"]: r
            for r in textops.pack_sequences(
                _docs_df(spark, texts), seq_len=4
            ).collect()
        }
        assert out[1]["n_tokens"] == 0 and out[2]["n_tokens"] == 0
        assert out[1]["n_seqs"] == 0 and out[2]["n_seqs"] == 0
        assert out[1]["seq_last"] == out[1]["seq_first"]
        # the stream holds exactly the 5 real tokens
        assert sum(r["n_tokens"] for r in out.values()) == 5
        ends = {r["start_off"] + r["n_tokens"] for r in out.values()}
        assert max(ends) == 5


class TestTemperatureSampleEmpty:
    def test_empty_corpus_yields_empty_result(self, spark):
        from cobweb_spark.operators import textops

        empty = spark.createDataFrame(
            [], "doc_id long, text string, source string"
        )
        out = textops.temperature_sample(empty).collect()
        assert out == []

    def test_nonempty_unchanged(self, spark):
        from cobweb_spark.operators import textops

        rows = [(i, "w", "big" if i < 8 else "small") for i in range(10)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = textops.temperature_sample(df, tau=0.5, target_frac=0.5)
        got = {r["doc_id"]: r for r in out.collect()}
        assert len(got) == 10
        assert got[0]["n_source"] == 8 and got[9]["n_source"] == 2
        # small source upweighted: rate_small > rate_big
        assert got[9]["rate"] > got[0]["rate"]


class TestLengthStatsApproxTier:
    def test_approx_within_rank_band_of_exact(self, spark):
        import random

        from cobweb_spark.operators import textops

        rng = random.Random(5)
        rows = [
            (f"d{i}", rng.choice(["en", "de"]), int(rng.lognormvariate(6, 1)))
            for i in range(4000)
        ]
        df = spark.createDataFrame(rows, "doc_id string, lang string, n_chars int")
        exact = {r["lang"]: r for r in textops.length_stats(df).collect()}
        approx = {
            r["lang"]: r
            for r in textops.length_stats(
                df, approx=True, accuracy=10_000
            ).collect()
        }
        for lang, ex in exact.items():
            ap = approx[lang]
            assert ap["n_docs"] == ex["n_docs"]
            assert ap["mean_chars"] == ex["mean_chars"]
            # rank error ≤ 1/accuracy → with n≈2000 ≪ accuracy the
            # sketch is exact up to interpolation: band each percentile
            # by 2% of the exact value (same spirit as the ANN recall
            # floor)
            for p in ("p50", "p90", "p99"):
                assert abs(ap[p] - ex[p]) <= max(0.02 * ex[p], 1.0), (
                    lang,
                    p,
                    ap[p],
                    ex[p],
                )


class TestLogprobPreAggParity:
    """The round-6 pre-aggregated scoring joins must score identically
    to a directly computed per-token/per-pair model."""

    def test_unigram_matches_manual(self, spark):
        import math

        from cobweb_spark.operators import textops

        texts = {0: "a a b", 1: "b c", 2: "a"}
        # corpus counts: a=3, b=2, c=1, total=6
        def nll(t, c):
            return -math.log(c / 6.0)

        want = {
            0: (3, (2 * nll("a", 3) + nll("b", 2)) / 3),
            1: (2, (nll("b", 2) + nll("c", 1)) / 2),
            2: (1, nll("a", 3)),
        }
        out = {
            r["doc_id"]: r
            for r in textops.unigram_logprob(
                _docs_df(spark, texts)
            ).collect()
        }
        for d, (n, avg) in want.items():
            assert out[d]["n_tokens"] == n
            assert abs(out[d]["avg_nll"] - round(avg, 4)) < 1e-9

    def test_bigram_matches_manual(self, spark):
        import math

        from cobweb_spark.operators import textops

        texts = {0: "a b a b", 1: "a b c", 2: "x"}
        # bigrams: (a,b)=3, (b,a)=1, (b,c)=1; ctx a=3, b=2
        out = {
            r["doc_id"]: r
            for r in textops.bigram_logprob(
                _docs_df(spark, texts)
            ).collect()
        }
        ab = -math.log(3 / 3)
        ba = -math.log(1 / 2)
        bc = -math.log(1 / 2)
        assert out[0]["n_bigrams"] == 3
        assert abs(out[0]["avg_nll"] - round((2 * ab + ba) / 3, 4)) < 1e-9
        assert out[1]["n_bigrams"] == 2
        assert abs(out[1]["avg_nll"] - round((ab + bc) / 2, 4)) < 1e-9
        assert 2 not in out  # single-token doc emits no row


class TestDecodeMediaY4m:
    def test_video_rows_decode_real_header(self, spark):
        from cobweb_spark.operators.multimodal import (
            MEDIA_STORE_SCHEMA,
            decode_media,
        )
        from cobweb_spark.testkit import fixtures as fx

        rows = fx.build_media_store_rows([f"v{i}.bin" for i in range(8)])
        video = [r for r in rows if r["media_kind"] == "video/y4m"]
        assert video, "fixture cycle must include y4m rows"
        store = spark.createDataFrame(rows, MEDIA_STORE_SCHEMA)
        media = store.selectExpr(
            "media_ref AS doc_id", "media_ref", "payload", "media_kind"
        )
        out = {
            r["media_ref"]: r
            for r in decode_media(media, strict=True).collect()
        }
        for want in video:
            got = out[want["media_ref"]]
            assert got["format"] == "y4m"
            assert got["width"] == want["width"]
            assert got["height"] == want["height"]
            assert got["sample_rate"] == want["sample_rate"]
            assert got["n_samples"] == want["n_samples"]
