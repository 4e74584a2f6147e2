"""Training-data operators: property/golden tests (Spark)."""

import pytest
from pyspark.sql import functions as F

from cobweb_spark.operators import textops

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


class TestTokenAndQuality:
    def test_token_counts_match_python(self, spark, docs):
        rows = docs.limit(20).collect()
        got = {
            r["doc_id"]: r["n_tokens"]
            for r in textops.token_counts(docs.limit(20)).collect()
        }
        for r in rows:
            assert got[r["doc_id"]] == len(r["text"].strip().split())

    def test_quality_ranges(self, docs):
        q = textops.quality_scores(docs)
        bad = q.filter(
            (F.col("punct_ratio") < 0)
            | (F.col("punct_ratio") > 1)
            | (F.col("stopword_ratio") < 0)
        ).count()
        assert bad == 0


class TestLangId:
    def test_detects_constructed_languages(self, spark):
        # (the driver testdata's lang labels are arbitrary — its text is
        # random English-ish tokens for every label — so accuracy is only
        # meaningful on constructed inputs)
        rows = [
            (1, "en", "the cat and the dog sat in the house and it was warm"),
            (2, "de", "der hund und die katze das ist nicht ein problem mit sich"),
            (3, "fr", "le chat et la maison est pas une bonne idee pour les dans"),
            (4, "es", "el perro y la casa es no una buena idea por los con para"),
            (5, "und", "zxq wvut plok mnbv qwer asdf"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        pred = {
            r["doc_id"]: r["lang_pred"]
            for r in textops.language_id(df).collect()
        }
        assert pred == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


class TestDedup:
    def test_exact_dedup_groups_partition(self, docs):
        groups = textops.dedup_exact(docs)
        assert (
            groups.agg(F.sum("group_size")).collect()[0][0] == docs.count()
        )

    def test_minhash_estimates_jaccard(self, spark):
        """Planted near-dups: minhash signature agreement tracks Jaccard."""
        a = "the quick brown fox jumps over the lazy dog " * 5
        b = a.replace("lazy", "sleepy")  # near-dup
        c = "entirely different words everywhere completely unrelated text"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        sig = {
            r["doc_id"]: [r[f"mh_{j}"] for j in range(textops.MINHASH_K)]
            for r in textops.minhash_signatures(df).collect()
        }
        agree_ab = sum(x == y for x, y in zip(sig[1], sig[2]))
        agree_ac = sum(x == y for x, y in zip(sig[1], sig[3]))
        assert agree_ab > agree_ac

    def test_lsh_finds_planted_near_dups(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta " * 4
        rows = [(i, f"unique{i} words only here {i}") for i in range(20)]
        rows += [(100, base), (101, base + " extra")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in textops.lsh_near_dup_pairs(df).collect()
        }
        assert (100, 101) in pairs

    def test_simhash_near_dup_close(self, spark):
        a = "the quick brown fox jumps over the lazy dog " * 5
        b = a.replace("dog", "cat")
        c = "totally different content with other words entirely now"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        s = {r["doc_id"]: r["simhash"] for r in textops.simhash(df).collect()}
        d_ab = bin(s[1] ^ s[2]).count("1")
        d_ac = bin(s[1] ^ s[3]).count("1")
        assert d_ab < d_ac

    def test_jaccard_pairs_exact(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
            "doc_id long, text string",
        )
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in textops.jaccard_pairs(df, threshold=0.1).collect()
        }
        assert pairs[(1, 2)] == 0.6  # |{a,b,c}| / |{a,b,c,d,e}|
        assert (1, 3) not in pairs


class TestMultimodal:
    def test_decode_plumbing(self, spark):
        from cobweb_spark.operators.multimodal import (
            decode_media,
            media_payloads,
        )
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        corpus = fx.build_sample_site_corpus()
        docs = corpus_df(spark, corpus)
        media = media_payloads(docs)
        decoded = decode_media(media)
        rows = decoded.collect()
        assert len(rows) > 50
        for r in rows[:5]:
            assert r["media_kind"] in ("image", "audio", "video", "binary")
            assert len(r["feature"]) == 16
            assert abs(sum(r["feature"]) - 1.0) < 1e-3

    def test_strict_raises(self, spark):
        from cobweb_spark.operators.multimodal import (
            decode_media,
            media_payloads,
        )
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        try:
            import PIL  # noqa: F401

            pytest.skip("PIL available; strict mode would decode")
        except ImportError:
            pass
        corpus = fx.build_sample_site_corpus()
        docs = corpus_df(spark, corpus)
        with pytest.raises(Exception, match="NotImplementedError|no codec"):
            decode_media(media_payloads(docs), strict=True).collect()
