"""Round-5 operators: contamination, repetition, segment dedup, JPEG
header decode.

Crafted-input goldens computed by hand — independent of the DuckDB
oracle that the driver's CORRECTNESS gate runs over the sf tables.
"""

import hashlib
import math

import pytest

from cobweb_spark.operators import textops


def _docs_df(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in sorted(texts.items())], "doc_id long, text string"
    )


class TestContamination:
    def test_crafted_overlap_fractions(self, spark):
        bench_text = "alpha beta gamma delta epsilon"
        docs = _docs_df(
            spark,
            {
                # identical to the benchmark doc -> contamination 1.0
                0: bench_text,
                # shares exactly one 3-gram ("beta gamma delta")
                1: "zeta beta gamma delta eta theta",
                # no shared 3-gram
                2: "one two three four five six",
                # too short for any 3-gram
                3: "tiny doc",
            },
        )
        bench = _docs_df(spark, {100: bench_text})
        out = {
            r["doc_id"]: r
            for r in textops.contamination_check(docs, bench, n=3).collect()
        }
        assert out[0]["n_grams"] == 3 and out[0]["contamination"] == 1.0
        assert out[1]["n_grams"] == 4 and out[1]["n_overlapping"] == 1
        assert out[1]["contamination"] == 0.25
        assert out[2]["n_overlapping"] == 0 and out[2]["contamination"] == 0.0
        assert out[3]["n_grams"] == 0 and out[3]["contamination"] == 0.0

    def test_duplicate_grams_counted_once(self, spark):
        # doc repeats the contaminated 3-gram twice; distinct-gram
        # accounting must not double-count it
        docs = _docs_df(spark, {0: "a b c a b c a b"})
        bench = _docs_df(spark, {1: "x a b c y"})
        row = textops.contamination_check(docs, bench, n=3).collect()[0]
        # doc 3-grams: abc bca cab abc (x2 distinct-> {abc,bca,cab,bab? })
        # tokens: a b c a b c a b -> grams: abc bca cab abc bca cab -> 3 distinct
        assert row["n_grams"] == 3
        assert row["n_overlapping"] == 1  # only "a b c"
        assert row["contamination"] == round(1 / 3, 6)


class TestRepetition:
    def test_crafted_signals(self, spark):
        docs = _docs_df(
            spark,
            {
                0: "x y x y x y",          # heavy 2-gram repetition
                1: "all words unique here",  # no repetition
                2: "a a a a",              # one word repeated
            },
        )
        out = {
            r["doc_id"]: r
            for r in textops.repetition_signals(docs).collect()
        }
        # doc 0: 6 words, 2 distinct -> dup_word_frac = 1 - 2/6
        assert out[0]["dup_word_frac"] == round(1 - 2 / 6, 6)
        # 2-grams: "x y","y x","x y","y x","x y" -> "x y" c=3 len=3 -> 9
        # chars = len("x y x y x y") = 11
        assert out[0]["top2gram_char_frac"] == round(9 / 11, 6)
        # 3-grams: "x y x","y x y","x y x","y x y" -> best c=2 len=5 -> 10/11
        assert out[0]["top3gram_char_frac"] == round(10 / 11, 6)
        assert out[1]["dup_word_frac"] == 0.0
        assert out[1]["top2gram_char_frac"] == 0.0
        assert out[2]["dup_word_frac"] == 0.75
        # "a a" c=3 len=3 -> 9 / 7 chars ("a a a a") capped? no cap: 9/7
        assert out[2]["top2gram_char_frac"] == round(9 / 7, 6)


class TestSegmentDedup:
    def test_chunk_keeper_semantics(self, spark):
        shared = "s1 s2 s3"  # one 3-token chunk shared corpus-wide
        docs = _docs_df(
            spark,
            {
                0: shared + " u1 u2 u3",   # keeper of the shared chunk
                1: shared + " v1 v2 v3",   # duplicate -> 1 of 2 chunks dup
                2: "w1 w2 w3 w4 w5 w6",    # untouched
            },
        )
        out = {
            r["doc_id"]: r
            for r in textops.segment_dedup(
                docs, textops.token_chunk_segments(3)
            ).collect()
        }
        assert out[0]["n_segments"] == 2 and out[0]["n_dup_segments"] == 0
        assert out[1]["n_segments"] == 2 and out[1]["n_dup_segments"] == 1
        assert out[1]["dup_frac"] == 0.5
        assert out[1]["max_segment_df"] == 2
        assert out[2]["n_dup_segments"] == 0 and out[2]["max_segment_df"] == 1

    def test_line_segments(self, spark):
        docs = _docs_df(
            spark,
            {
                0: "common boilerplate line\nunique zero",
                1: "common   boilerplate line\nunique one",  # ws-normalized dup
                2: "nothing shared\n\n",  # empty lines dropped
            },
        )
        out = {
            r["doc_id"]: r
            for r in textops.segment_dedup(
                docs, textops.line_segments()
            ).collect()
        }
        assert out[0]["n_segments"] == 2 and out[0]["n_dup_segments"] == 0
        assert out[1]["n_segments"] == 2 and out[1]["n_dup_segments"] == 1
        assert out[2]["n_segments"] == 1


class TestJpegCodec:
    def test_header_roundtrip(self):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_header,
            encode_jpeg,
            sniff_format,
        )

        for w, h in [(1, 1), (17, 331), (1024, 768), (65000, 2)]:
            payload = encode_jpeg(w, h, seed=w * 1000 + h)
            assert sniff_format(payload) == "jpeg"
            assert decode_jpeg_header(payload) == (w, h)

    def test_not_jpeg(self):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_header,
            encode_png,
        )

        assert decode_jpeg_header(b"") is None
        assert decode_jpeg_header(encode_png(4, 4)) is None
        # SOI then scan with no SOF
        assert decode_jpeg_header(b"\xff\xd8\xff\xda\x00\x04ab") is None

    def test_store_fixture_cycles_formats_and_decodes(self, spark):
        from cobweb_spark.operators.multimodal import (
            MEDIA_STORE_SCHEMA,
            decode_media,
        )
        from cobweb_spark.testkit import fixtures as fx

        refs = [f"m{i}.bin" for i in range(8)]
        rows = fx.build_media_store_rows(refs)
        kinds = {r["media_kind"] for r in rows}
        assert kinds == {
            "image/png",
            "audio/wav",
            "image/jpeg",
            "video/y4m",
        }
        store = spark.createDataFrame(rows, MEDIA_STORE_SCHEMA)
        media = store.selectExpr(
            "media_ref AS doc_id", "media_ref", "payload", "media_kind"
        )
        # strict mode: every cycled format now has a real decoder
        out = {
            r["media_ref"]: r
            for r in decode_media(media, strict=True).collect()
        }
        by_ref = {r["media_ref"]: r for r in rows}
        for ref in refs:
            got, want = out[ref], by_ref[ref]
            assert got["width"] == want["width"]
            assert got["height"] == want["height"]
            assert got["n_bytes"] == want["n_bytes"]


class TestSlimExpandParity:
    """cfg.slim_expand keys the expand path on xxhash64(link); at any
    collision-free scale it must produce bit-identical crawl results to
    the string-exact mode."""

    def test_slim_matches_string_exact(self, spark, sample_site_corpus):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit.fixtures import SAMPLE_SITE_BASE

        docs = corpus_df(spark, sample_site_corpus)
        results = {}
        for mode in (True, False):
            res = SparkCrawler(
                spark, docs, CrawlConfig(slim_expand=mode)
            ).crawl(SAMPLE_SITE_BASE)
            pages = [
                (r["fetch_order"], r["url"], r["depth"], r["parent"])
                for r in res.pages.orderBy("fetch_order").collect()
            ]
            seen = sorted(r["url"] for r in res.seen.collect())
            edges = sorted(
                (r["src"], r["dst"]) for r in res.edges.collect()
            )
            results[mode] = (pages, seen, edges)
        assert results[True] == results[False]


class TestPiiRedact:
    def test_crafted_redaction(self, spark):
        docs = _docs_df(
            spark,
            {
                0: "mail bob.smith+x@corp.example.com now",
                1: "server at 192.168.1.200 port 80",
                2: "call +4915112345678 or 555-867-5309 ext 2",
                3: "clean text with numbers 12 345 but no pii",
            },
        )
        out = {r["doc_id"]: r for r in textops.pii_redact(docs).collect()}
        assert out[0]["n_emails"] == 1 and out[0]["redacted"] == (
            "mail <EMAIL> now"
        )
        assert out[1]["n_ipv4"] == 1 and out[1]["redacted"] == (
            "server at <IP> port 80"
        )
        # 555-867-5309: 3-3-4 with dashes; +49... international
        assert out[2]["n_phones"] == 2
        assert out[2]["redacted"] == "call <PHONE> or <PHONE> ext 2"
        assert (
            out[3]["n_emails"] == 0
            and out[3]["n_ipv4"] == 0
            and out[3]["n_phones"] == 0
        )
        assert out[3]["redacted"] == docs.collect()[3]["text"]

    def test_email_digits_not_counted_as_phone(self, spark):
        # the local part has a phone-shaped digit run; counting phones on
        # email-redacted text must not see it
        docs = _docs_df(spark, {0: "x 555-867-5309@spam.example y"})
        row = textops.pii_redact(docs).collect()[0]
        assert row["n_emails"] == 1
        assert row["n_phones"] == 0
        assert row["redacted"] == "x <EMAIL> y"


class TestHashSplit:
    def test_deterministic_and_complete(self, spark):
        docs = _docs_df(spark, {i: f"doc {i}" for i in range(200)})
        out = textops.hash_split(docs).collect()
        assert len(out) == 200
        by_split = {}
        for r in out:
            assert r["bucket"] == int(
                hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16
            ) % 100
            by_split.setdefault(r["split"], set()).add(r["doc_id"])
        # default 90/5/5: all three splits populated at n=200 and the
        # boundaries respected
        assert set(by_split) == {"train", "val", "test"}
        assert len(by_split["train"]) > len(by_split["val"])
        # stability under corpus growth: the first 100 docs keep their
        # assignment when 100 more arrive
        sub = {
            r["doc_id"]: r["split"]
            for r in textops.hash_split(
                _docs_df(spark, {i: f"doc {i}" for i in range(100)})
            ).collect()
        }
        full = {r["doc_id"]: r["split"] for r in out}
        assert all(full[i] == sub[i] for i in range(100))


class TestVocabTopk:
    def test_counts_and_ranks(self, spark):
        docs = _docs_df(
            spark,
            {0: "The the THE cat", 1: "cat dog", 2: "Dog dog  emu"},
        )
        rows = textops.vocab_topk(docs, k=3).collect()
        got = [(r["token"], r["n"], r["rank"]) for r in rows]
        # the:3 (case-folded), dog:3, cat:2 — ties alphabetical
        assert got == [("dog", 3, 1), ("the", 3, 2), ("cat", 2, 3)]

    def test_k_caps_output(self, spark):
        docs = _docs_df(spark, {0: "a b c d e f g h"})
        assert textops.vocab_topk(docs, k=4).count() == 4


class TestSourceQuotaSample:
    def test_quota_binds_per_source(self, spark):
        rows = [
            (i, f"text {i}", "big" if i < 40 else "small")
            for i in range(50)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = textops.source_quota_sample(docs, quota=15).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r)
        assert len(by_src["big"]) == 15  # capped
        assert len(by_src["small"]) == 10  # under quota, all kept
        # ranks are 1..n within each source, and the selection is the
        # deterministic md5-order prefix
        for src, rs in by_src.items():
            assert sorted(r["smp_rank"] for r in rs) == list(
                range(1, len(rs) + 1)
            )
        want_big = sorted(
            (i for i in range(40)),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )[:15]
        assert sorted(r["doc_id"] for r in by_src["big"]) == sorted(want_big)


class TestPackSequences:
    def _expected(self, texts: dict[int, str], seq_len: int):
        order = sorted(
            texts, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
        )
        out, off = {}, 0
        for d in order:
            n = len(texts[d].strip().split())
            first = off // seq_len
            last = (off + n - 1) // seq_len
            out[d] = (n, off, first, last, last - first + 1)
            off += n
        return out

    def test_crafted_layout(self, spark):
        texts = {
            0: "a b c d e",
            1: "f g h",
            2: "i j k l m n o p",
            3: "q",
            4: "r s t u v w",
        }
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["start_off"], r["seq_first"],
                r["seq_last"], r["n_seqs"],
            )
            for r in textops.pack_sequences(
                _docs_df(spark, texts), seq_len=4
            ).collect()
        }
        assert got == self._expected(texts, seq_len=4)

    def test_bucket_count_invariance(self, spark):
        # the distributed prefix-sum must give the same global layout
        # regardless of how many md5-prefix buckets it uses
        texts = {i: " ".join(["w"] * (i % 7 + 1)) for i in range(40)}
        df = _docs_df(spark, texts)
        a = {
            r["doc_id"]: r["start_off"]
            for r in textops.pack_sequences(
                df, seq_len=8, bucket_hex_chars=1
            ).collect()
        }
        b = {
            r["doc_id"]: r["start_off"]
            for r in textops.pack_sequences(
                df, seq_len=8, bucket_hex_chars=2
            ).collect()
        }
        assert a == b == {
            d: v[1] for d, v in self._expected(texts, 8).items()
        }

    def test_stream_is_contiguous(self, spark):
        texts = {i: " ".join(["t"] * 5) for i in range(20)}
        rows = textops.pack_sequences(
            _docs_df(spark, texts), seq_len=16
        ).collect()
        spans = sorted((r["start_off"], r["n_tokens"]) for r in rows)
        off = 0
        for start, n in spans:
            assert start == off
            off += n


class TestUnigramLogprob:
    def test_crafted_nll(self, spark):
        docs = _docs_df(spark, {0: "a a b", 1: "b c"})
        out = {
            r["doc_id"]: r
            for r in textops.unigram_logprob(docs).collect()
        }
        # corpus: a=2, b=2, c=1, total=5
        assert out[0]["n_tokens"] == 3
        assert out[0]["avg_nll"] == round(-math.log(2 / 5), 4)
        assert out[1]["n_tokens"] == 2
        assert out[1]["avg_nll"] == round(
            (-math.log(2 / 5) - math.log(1 / 5)) / 2, 4
        )

    def test_boilerplate_scores_lower_than_rare(self, spark):
        common = " ".join(["the same words again"] * 5)
        docs = _docs_df(
            spark,
            {i: common for i in range(9)} | {9: "xylophone quark zygote"},
        )
        out = {
            r["doc_id"]: r["avg_nll"]
            for r in textops.unigram_logprob(docs).collect()
        }
        assert out[0] < out[9]


class TestMediaResize:
    def test_png_roundtrip_pixels(self):
        """Resized payload decodes to exactly the nearest-neighbor
        reference computed independently here with numpy fancy
        indexing — the operator's pixel path, not just its header."""
        import numpy as np

        from cobweb_spark.functions.media_codecs import (
            decode_png_header,
            decode_png_pixels,
            encode_gray_png,
            encode_png,
            fit_dims,
            resize_gray_nn,
        )

        src = encode_png(48, 20, seed=7)
        w, h = decode_png_header(src)
        pix = np.frombuffer(decode_png_pixels(src), dtype=np.uint8)
        pix = pix.reshape(h, w)
        tw, th = fit_dims(w, h, 32)
        assert (tw, th) == (32, 13)  # floor(20*32/48)=13
        ref = pix[
            np.ix_((np.arange(th) * h) // th, (np.arange(tw) * w) // tw)
        ]
        resized = encode_gray_png(resize_gray_nn(pix.tobytes(), w, h, tw, th), tw, th)
        assert decode_png_header(resized) == (tw, th)
        got = np.frombuffer(decode_png_pixels(resized), dtype=np.uint8)
        assert (got.reshape(th, tw) == ref).all()

    def test_fit_dims_edges(self):
        from cobweb_spark.functions.media_codecs import fit_dims

        assert fit_dims(10, 10, 32) == (10, 10)  # already fits
        assert fit_dims(64, 64, 32) == (32, 32)
        assert fit_dims(1024, 1, 32) == (32, 1)  # clamp to >= 1
        assert fit_dims(1, 1024, 32) == (1, 32)

    def test_operator_resizes_store_fixture(self, spark):
        from cobweb_spark.functions.media_codecs import (
            decode_jpeg_header,
            decode_jpeg_pixels,
            decode_png_header,
            decode_png_pixels,
        )
        from cobweb_spark.operators.multimodal import (
            MEDIA_STORE_SCHEMA,
            resize_media,
        )
        from cobweb_spark.testkit import fixtures as fx

        rows = fx.build_media_store_rows([f"r{i}.bin" for i in range(9)])
        store = spark.createDataFrame(rows, MEDIA_STORE_SCHEMA)
        media = store.selectExpr(
            "media_ref AS doc_id", "media_ref", "payload", "media_kind"
        )
        # strict=True: every image row must now take a REAL pixel path
        out = {
            r["media_ref"]: r
            for r in resize_media(media, max_dim=8, strict=True).collect()
        }
        for row in rows:
            got = out[row["media_ref"]]
            if row["media_kind"] in ("image/png", "image/jpeg"):
                # emitted payload is a real image at the planned dims,
                # in the same format as the input
                assert got["new_width"] <= 8 and got["new_height"] <= 8
                dec_h, dec_p = (
                    (decode_png_header, decode_png_pixels)
                    if row["media_kind"] == "image/png"
                    else (decode_jpeg_header, decode_jpeg_pixels)
                )
                dims = dec_h(bytes(got["resized_payload"]))
                assert dims == (got["new_width"], got["new_height"])
                assert dec_p(bytes(got["resized_payload"])) is not None
            else:  # wav / video pass through with null geometry
                assert got["new_width"] is None
                assert got["resized_payload"] is None


class TestFrameSample:
    def test_wav_crc_matches_independent_reference(self, spark):
        """sampled_crc32 equals a crc computed here by slicing the PCM
        chunk with plain Python — proves the operator decimated real
        frame bytes."""
        import struct
        import zlib

        from cobweb_spark.functions.media_codecs import encode_wav
        from cobweb_spark.operators.multimodal import frame_sample_media

        payload = encode_wav(37, 8000, seed=3)
        # independent parse: find the data chunk without the codec module
        pos = payload.index(b"data")
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        pcm = payload[pos + 8 : pos + 8 + length]
        (n_ch,) = struct.unpack("<H", payload[22:24])
        frame = n_ch * 2
        ref_bytes = b"".join(
            pcm[i * frame : (i + 1) * frame] for i in range(0, 37, 4)
        )
        media = spark.createDataFrame(
            [("d1", "a.wav", payload, "audio/wav")],
            "doc_id string, media_ref string, payload binary, media_kind string",
        )
        row = frame_sample_media(media, every_k=4).collect()[0]
        assert row["n_samples"] == 37
        assert row["n_sampled"] == 10  # ceil(37/4)
        assert row["sampled_crc32"] == zlib.crc32(ref_bytes)

    def test_images_pass_through_null(self, spark):
        from cobweb_spark.functions.media_codecs import encode_png
        from cobweb_spark.operators.multimodal import frame_sample_media

        media = spark.createDataFrame(
            [("d1", "p.png", encode_png(4, 4), "image/png")],
            "doc_id string, media_ref string, payload binary, media_kind string",
        )
        row = frame_sample_media(media).collect()[0]
        assert row["format"] == "png"
        assert row["n_samples"] is None and row["sampled_crc32"] is None


class TestTemperatureSample:
    def test_rates_and_flags_match_manual(self, spark):
        import hashlib

        texts = {i: "w" for i in range(10)}
        rows = [(i, "w", "big" if i < 8 else "small") for i in range(10)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = {
            r["doc_id"]: r
            for r in textops.temperature_sample(
                df, tau=0.5, target_frac=0.5
            ).collect()
        }
        # n_big=8, n_small=2; denom = sqrt(8)+sqrt(2); C = 0.5*10 = 5
        denom = math.sqrt(8) + math.sqrt(2)
        rate_big = min(1.0, math.sqrt(8) / denom * 5 / 8)
        rate_small = min(1.0, math.sqrt(2) / denom * 5 / 2)
        assert rate_small > rate_big  # tau<1 upweights the small source
        for i in range(10):
            want_rate = rate_big if i < 8 else rate_small
            assert out[i]["rate"] == pytest.approx(want_rate, abs=1e-6)
            frac = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
                / float(1 << 60)
            )
            assert out[i]["sampled"] == (frac < want_rate)

    def test_tiny_source_caps_at_one(self, spark):
        rows = [(i, "w", "big") for i in range(99)] + [(99, "w", "solo")]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        out = {
            r["source"]: r["rate"]
            for r in textops.temperature_sample(
                df, tau=0.5, target_frac=0.9
            ).collect()
        }
        assert out["solo"] == 1.0  # cannot oversample without replacement
        assert out["big"] < 1.0


class TestBigramLogprob:
    def test_crafted_markov_nll(self, spark):
        df = _docs_df(spark, {1: "a b", 2: "a c", 3: "x"})
        out = {
            r["doc_id"]: r
            for r in textops.bigram_logprob(df).collect()
        }
        # c(a,b)=1 c(a,c)=1, c(a,.)=2 -> each pair NLL = ln 2
        assert set(out) == {1, 2}  # "x" has no bigram, emits no row
        for d in (1, 2):
            assert out[d]["n_bigrams"] == 1
            assert out[d]["avg_nll"] == pytest.approx(math.log(2), abs=1e-4)

    def test_repeated_bigram_scores_zero(self, spark):
        # every a-context bigram is (a,b): conditional prob 1, NLL 0
        df = _docs_df(spark, {1: "a b a b a b"})
        row = textops.bigram_logprob(df).collect()[0]
        # pairs: (a,b)x3, (b,a)x2 -> c(a,.)=3 c(b,.)=2, all probs 1
        assert row["n_bigrams"] == 5
        assert row["avg_nll"] == pytest.approx(0.0, abs=1e-9)


class TestLengthStats:
    def test_interpolated_percentiles(self, spark):
        rows = [(i, "t", "en", n) for i, n in enumerate([1, 2, 3, 10])]
        rows += [(10, "t", "de", 7)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, n_chars long"
        )
        out = {r["lang"]: r for r in textops.length_stats(df).collect()}
        en = out["en"]
        assert en["n_docs"] == 4 and en["mean_chars"] == 4.0
        assert en["p50"] == pytest.approx(2.5)
        assert en["p90"] == pytest.approx(3 + 0.7 * 7)  # idx 0.9*3=2.7
        assert en["p99"] == pytest.approx(3 + 0.97 * 7)
        assert out["de"]["p50"] == 7.0
