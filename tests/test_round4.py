"""Round-4 feature tests: near-dup cluster resolution (connected
components over the LSH pair graph), within-wave cancellation,
wave_partition_lineage table, politeness-budget parity at a mid-size
corpus."""

import pytest
from pyspark.sql import functions as F

from cobweb_spark.operators import textops

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


class TestClusterKeepers:
    def test_cc_known_topology(self, spark):
        # chain 1-2-3 (diameter 2: exercises >1 propagation round),
        # clique 7-8-9, isolated edge 5-6
        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (7, 8), (8, 9), (7, 9), (5, 6)],
            "src int, dst int",
        )
        got = {
            r["node"]: r["keeper"]
            for r in textops.connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7, 5: 5, 6: 5}

    def test_keepers_match_union_find(self, spark, docs):
        # operator result ≡ an independent driver-side union-find over
        # the same LSH pairs (every doc present, keeper = component min)
        pairs = textops.lsh_near_dup_pairs(docs).collect()
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs:
            ra, rb = find(r["doc_a"]), find(r["doc_b"])
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        got = {
            r["doc_id"]: r["keeper"]
            for r in textops.cluster_keepers(docs).collect()
        }
        all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        assert set(got) == set(all_ids)
        for d in all_ids:
            assert got[d] == (find(d) if d in parent else d)

    def test_keeper_filter_is_a_dedup(self, spark, docs):
        # downstream contract: filter(doc_id == keeper) keeps exactly one
        # doc per near-dup component
        keepers = textops.cluster_keepers(docs)
        n_components = keepers.select("keeper").distinct().count()
        n_kept = keepers.filter(
            F.col("doc_id") == F.col("keeper")
        ).count()
        assert n_kept == n_components


class TestWithinWaveCancel:
    """Round-4 item 7: the cancel flag is re-checked between the fetch
    and expand jobs INSIDE a wave (the reference destroys in-flight jobs,
    lib/cobweb_crawl_helper.rb:18-87). The partial wave's fetched-but-
    uncommitted work is discarded; resume replays it deterministically."""

    def _run(self, spark, tmp_path, cancel_on_call):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.plans.state import SnapshotStore
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        cfg = CrawlConfig()
        sdir = str(tmp_path / "st")
        store = SnapshotStore(spark, sdir)
        calls = {"n": 0}

        def cancel():
            calls["n"] += 1
            return calls["n"] >= cancel_on_call if cancel_on_call else False

        res = SparkCrawler(spark, docs, cfg, snapshot_store=store).crawl(
            fx.SEED_REDIRECT_BASE, cancel=cancel
        )
        return corpus, docs, cfg, store, res

    def test_midwave_cancel_drains_at_previous_boundary(
        self, spark, tmp_path
    ):
        # the flag is polled twice per wave (loop head, then between
        # fetch and expand): call 4 is wave 1's MID-wave poll, so the
        # cancel lands after wave 1's fetch — that partial work must be
        # discarded and the drain sealed at the wave-0 boundary
        *_, store, res = self._run(spark, tmp_path, cancel_on_call=4)
        assert store.latest_wave() == 0  # wave 1 partial work discarded
        runs = store.load_crawl_runs().collect()
        assert [r["current_status"] for r in runs] == ["Cancelled"]
        # the partial wave contributed no pages
        assert res.pages.filter("wave_id >= 1").count() == 0

    def test_resume_after_midwave_cancel_identical(self, spark, tmp_path):
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.testkit import fixtures as fx

        corpus, docs, cfg, store, _ = self._run(
            spark, tmp_path, cancel_on_call=4
        )
        resumed = SparkCrawler(
            spark, docs, cfg, snapshot_store=store
        ).crawl(fx.SEED_REDIRECT_BASE, resume=True)
        baseline = SparkCrawler(spark, docs, cfg).crawl(
            fx.SEED_REDIRECT_BASE
        )
        cols = ["url", "fetch_order", "status_code", "mime_type"]
        got = sorted(map(tuple, resumed.pages.select(*cols).collect()))
        want = sorted(map(tuple, baseline.pages.select(*cols).collect()))
        assert got == want
        assert sorted(
            r["url"] for r in resumed.seen.collect()
        ) == sorted(r["url"] for r in baseline.seen.collect())


class TestWavePartitionLineage:
    def test_lineage_table_matches_manifests(self, spark, tmp_path):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.plans.state import SnapshotStore
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        corpus = fx.build_seed_redirect_corpus()
        docs = corpus_df(spark, corpus)
        store = SnapshotStore(spark, str(tmp_path / "st"))
        SparkCrawler(
            spark, docs, CrawlConfig(), snapshot_store=store
        ).crawl(fx.SEED_REDIRECT_BASE)
        lin = store.load_wave_partition_lineage()
        assert set(lin.columns) == {"wave_id", "table", "partition", "rows"}
        # every committed wave's manifest lineage is present, row-for-row
        latest = store.latest_wave()
        for w in range(latest + 1):
            man = store.load_manifest(w)
            n_manifest = sum(
                len(v) for v in man["lineage"].values()
            )
            assert (
                lin.filter(F.col("wave_id") == w).count() == n_manifest
            )
        # and the lineage row counts reconcile with the stored tables
        pages_rows = (
            lin.filter("wave_id = %d AND table = 'pages'" % latest)
            .agg(F.sum("rows"))
            .collect()[0][0]
        )
        assert pages_rows == store.load_table(latest, "pages").count()


class TestPolitenessMidSize:
    """Round-4 item 3: the salted two-phase politeness admission
    (operators/admit.py) exercised at bench shape — a mid-size zipf
    mega-host web graph — with full oracle parity, not just the 78-row
    sample site."""

    def test_budget_parity_on_scale_corpus(self, spark):
        from cobweb_spark.config import CrawlConfig
        from cobweb_spark.oracle import CrawlOracle
        from cobweb_spark.plans.crawler import SparkCrawler
        from cobweb_spark.sources.corpus import corpus_df
        from cobweb_spark.testkit import fixtures as fx

        corpus, seeds = fx.scale_corpus_as_oracle_dict(
            n_hosts=20,
            pages_per_host=100,
            mega_host_factor=5,
            out_degree=12,
            media_ratio=0.15,
            cross_host_prob=0.10,
            seed=42,
            n_seeds=40,
        )
        cfg = CrawlConfig(
            internal_urls=["http://*"],
            seed_urls=seeds,
            host_budget=100,
        )
        docs = corpus_df(spark, corpus)
        res = SparkCrawler(spark, docs, cfg).crawl(None)
        oracle = CrawlOracle(corpus, cfg).crawl(None)
        assert res.fetch_sequence() == oracle.fetch_sequence
        assert {r["url"] for r in res.seen.collect()} == oracle.seen
        # the budget actually bound: the mega-host must have been rate-
        # limited across multiple waves
        per = (
            res.pages.groupBy("wave_id", "host")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert per <= 100
        mega_waves = (
            res.pages.filter(F.col("host") == "host0.example.com")
            .select("wave_id")
            .distinct()
            .count()
        )
        assert mega_waves >= 3
