"""The crawl plan: driver-side BFS wave loop over DataFrame batches.

Each wave (SURVEY §3.5):

    admit (politeness top-k per host) → fetch join (+ redirect loop)
    → crawl-limit prefix cut → stats agg → span join (survivors only)
    → link extraction (mapInPandas) → classify/normalize/robots (rlike)
    → seen rejection (bloom prefilter + exact anti-join)
    → intra-wave first-discovery window → discovery_order assignment
    → frontier := deferred ∪ new links; seen += new links

Links come from one of two places: the dictionary edge table built once
per crawler (``_ensure_edges``; static classifier, no inbound-link stream)
or, for every other configuration, a per-wave span join + extraction.

Iteration is feedback (wave N output is wave N+1 input), which a single
Catalyst plan cannot express — hence the driver loop, with per-wave
``localCheckpoint`` to cut lineage, the Spark analogue of the reference's
unbounded job recursion (``lib/crawl_job.rb:24-32,107-113``). With a
snapshot store, every completed wave is committed through the background
``CommitPipeline``; exactly-once finish/resume comes from those atomic
per-wave commits instead of the reference's Redis WATCH/MULTI + setnx
locks (``lib/crawl.rb:241-291``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.url_udfs import host_udf
from ..model import EDGES_SCHEMA, FRONTIER_SCHEMA
from ..operators.admit import admit_wave
from ..operators.classify import (
    first_discovery_wins,
    robots_gate,
    select_internal,
)
from ..operators.dedup import SeenParts
from ..operators.extract import extract_links
from ..operators.fetch import apply_crawl_limit_cut, fetch_meta
from ..operators.order import zip_with_order
from ..operators import stats as stats_ops
from ..urls import host_of

PAGE_COLS = [
    "url",
    "host",
    "depth",
    "discovery_order",
    "parent",
    "wave_rank",
    "fetch_url",
    "base_url",
    "status_code",
    "mime_type",
    "character_set",
    "length",
    "response_time",
    "location",
    "redirect_through",
    "error",
    "text_content",
    "permitted",
    "corpus_hit",
    "fetch_order",
    "wave_id",
]


@dataclass
class SparkCrawlResult:
    pages: DataFrame  # one row per fetch, fetch_order-dense
    seen: DataFrame  # every URL ever enqueued (queued-form strings)
    frontier_remaining: DataFrame
    edges: DataFrame  # enqueue edges (src=parent queued url, dst=link)
    candidates: DataFrame  # ALL document links (for the inbound index)
    n_waves: int = 0
    metrics: list = field(default_factory=list)  # per-wave lineage/metrics

    def stats(self) -> dict:
        return stats_ops.collect_stats(self.pages)

    def fetch_sequence(self) -> list[str]:
        return [
            r["url"]
            for r in self.pages.orderBy("fetch_order")
            .select("url")
            .collect()
        ]


def link_dictionary(keyed: DataFrame) -> DataFrame:
    """dst_key → link over the rows of ``keyed`` (dst_key, link, is_link),
    with a ``clash`` flag set where two distinct strings share the key.

    Rows with ``is_link`` false are the other strings that share the key
    space (seeds, doc_ids): a link colliding with one of them is flagged
    too, but their own keys get no row. min(link) ≠ max(link) per key is
    the check — it rides the dedup aggregation the dictionary needs
    anyway, so it costs no extra job.
    """
    return (
        keyed.groupBy("dst_key")
        .agg(
            F.min("link").alias("link"),
            (F.min("link") != F.max("link")).alias("clash"),
            F.max("is_link").alias("is_link"),
        )
        .filter("is_link")
        .drop("is_link")
    )


_AUTO = object()  # sentinel: build the prefilter from config


class SparkCrawler:
    """PySpark-native re-implementation of the reference crawl lifecycle
    (``CobwebCrawler#crawl``, ``lib/cobweb_crawler.rb:43-160``)."""

    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        seen_prefilter=_AUTO,
        snapshot_store=None,
    ):
        from ..session import ensure_shipped

        ensure_shipped(spark)
        self.spark = spark
        self.documents = documents
        self.cfg = config or CrawlConfig()
        if seen_prefilter is _AUTO:
            # the north rule's seen tier: bloom+cuckoo bank constructed
            # from config unless the caller supplies one (or None)
            from ..operators.filters import SeenFilterBank

            seen_prefilter = SeenFilterBank(
                spark,
                n_shards=self.cfg.bloom_shards,
                capacity_per_shard=self.cfg.bloom_capacity_per_shard,
                fpp=self.cfg.bloom_fpp,
            )
        # narrow cached projections: every wave joins against the corpus,
        # so the metadata columns and the (heavy) spans column are cached
        # separately — fetch/redirect joins scan only the small frame.
        # Joins are keyed by xxhash64(doc_id) — 8-byte longs instead of
        # 40+-byte URL strings — after a one-job injectivity check (at
        # 10^10 docs this is a corpus-build invariant; the check falls
        # back to string keys on a collision). The cached frame is
        # hash-partitioned by the key BEFORE caching: the cached scan
        # reports that partitioning, so every per-wave equi-join shuffles
        # only the (small) frontier side — the co-located join the
        # reference's Redis key lookups amount to. On a real cluster this
        # is the bucket(doc_id)-partitioned Iceberg table.
        from ..operators.fetch import keyed_meta

        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        chk = documents.agg(
            F.count("doc_id").alias("n"),
            F.countDistinct(F.xxhash64("doc_id")).alias("nk"),
        ).collect()[0]
        self._key_join = chk["n"] == chk["nk"]
        self._meta = keyed_meta(documents, self._key_join)
        self._meta = self._meta.repartition(n_part, "doc_key").persist()
        # spans stay UNCACHED: Spark's in-memory cache is row-serialized
        # for nested types, so scanning cached span arrays per wave is far
        # slower than a pruned vectorized parquet read
        self._spans = documents.select("doc_id", "spans")
        self._n_part = n_part
        # the dictionary edge table is built lazily at crawl start (it
        # needs the crawl's classifier to hoist per-wave work; see
        # _ensure_edges)
        self._edges = None  # (src_key, dst_key, position)
        self._edge_dict = None  # dst_key → (link, host, clash) dictionary
        # False once two distinct URLs were found to share an xxhash64
        # link key: this crawler then keys dedup and rejection on strings
        self._link_keys_exact = True
        self._has_redirects: bool | None = None
        self.robots = robots
        self._robots_compiled = None
        if robots is not None and self.cfg.obey_robots:
            # distributed per-host compile, materialized once per crawl
            from ..operators.classify import compile_robots_rules

            comp = compile_robots_rules(
                robots, self.cfg.user_agent
            ).localCheckpoint()
            self._robots_compiled = (comp, comp.count())
        self.prefilter = seen_prefilter
        self.store = snapshot_store

    # ------------------------------------------------------------------
    def _seed_frontier(self, base_url: str | None) -> DataFrame:
        cfg = self.cfg
        seeds: list[str] = []
        for s in cfg.seed_urls:
            if s not in seeds:
                seeds.append(s)
        if base_url is not None and base_url not in seeds:
            seeds.append(base_url)
        rows = [
            (u, host_of(u), 0, i, None) for i, u in enumerate(seeds)
        ]
        return self.spark.createDataFrame(rows, FRONTIER_SCHEMA)

    # ------------------------------------------------------------------
    def close(self) -> None:
        """Release per-crawl cached state: the cached meta/edge relations
        and the filter bank's scratch generations. Crawl RESULTS stay
        valid (pages/seen/edges are checkpointed, not cached). Call this
        before timing unrelated work in the same session — leaving GBs of
        cached relations resident makes later measurements observe GC
        pressure instead of the operator under test."""
        for df in (self._meta, self._edges, self._edge_dict):
            try:
                if df is not None:
                    df.unpersist()
            except Exception:
                pass
        if self.prefilter is not None:
            try:
                self.prefilter.close()
            except Exception:
                pass

    # ------------------------------------------------------------------
    def _probe_redirects(self) -> bool:
        if self._has_redirects is None:
            self._has_redirects = bool(self.cfg.follow_redirects) and (
                self._meta.filter(
                    "status_code >= 300 and status_code < 400"
                )
                .limit(1)
                .count()
                > 0
            )
        return self._has_redirects

    def _ensure_edges(self, classifier, seen: DataFrame) -> None:
        """Build the dictionary edge table on first use: one extraction
        pass over the corpus with every wave-independent stage hoisted
        into it — link extraction, the whole internal/external
        classification (with its https→http rewrite), the link host and
        both 8-byte keys. Waves then do no regex and no Python work on the
        candidate stream.

        Layout (guide §8 "decide with small rows, move big rows once"):
        the per-wave table holds fixed-width (src_key, dst_key, position)
        longs ≈ 20 B/row, and the (link, host) strings live once per
        DISTINCT link in a dst_key-keyed dictionary. Dedup and the seen
        anti-join chain move 8-byte keys with a string-free payload, and
        (link, host) re-attach to the ~|new links| survivors in one join.

        Built only when the classifier cannot change mid-crawl (no
        parent-dependent crawl_linked_external disjunct, no first-page
        redirect widening), no inbound-link candidate stream is kept and
        links are keyed (slim_expand). Every other configuration extracts
        from spans per wave.

        ``dst_key`` doubles as the slim ``link_key``, so an xxhash64
        collision would silently merge two links. The dictionary build
        checks it: if two distinct strings among the links, the crawl's
        starting ``seen`` set (the seeds, or a resumed crawl's seen
        table) and the doc_ids share a key, the table is dropped and this
        crawler keys on URL strings instead (as ``_key_join`` does for
        doc keys).
        """
        cfg = self.cfg
        if self._edges is not None or not self._link_keys_exact:
            return
        if (
            not cfg.slim_expand
            or cfg.store_inbound_links
            or cfg.crawl_linked_external
            or (cfg.first_page_redirect_internal and self._probe_redirects())
        ):
            return
        ex_in = self.documents.select(
            F.col("doc_id").alias("parent"),
            F.col("doc_id").alias("parent_url"),
            F.lit(0).cast("long").alias("parent_fetch_order"),
            F.lit(0).alias("parent_depth"),
            "spans",
        )
        raw = select_internal(
            extract_links(ex_in, cfg.kind_categories()), classifier, cfg
        )  # rewrites link
        src_key = (
            F.xxhash64("parent_url")
            if self._key_join
            else F.col("parent_url")
        )
        # every other string a seen part can hold: the starting seen set,
        # and the doc_ids that redirect finals resolve to
        others = self.documents.select(
            F.col("doc_id").alias("link")
        ).unionByName(seen.select(F.col("url").alias("link")))
        keyed = (
            raw.select(
                src_key.alias("src_key"),
                F.xxhash64("link").alias("dst_key"),
                "position",
                "link",
                F.lit(True).alias("is_link"),
            )
            .unionByName(
                others.select(
                    F.xxhash64("link").alias("dst_key"),
                    "link",
                    F.lit(False).alias("is_link"),
                ),
                allowMissingColumns=True,
            )
            .persist()
        )
        edges = (
            keyed.filter("is_link")
            .select("src_key", "dst_key", "position")
            .repartition(self._n_part, "src_key")
            .persist()
        )
        dictionary = (
            link_dictionary(keyed.select("dst_key", "link", "is_link"))
            .withColumn("host", host_udf("link"))
            .repartition(self._n_part, "dst_key")
            .persist()
        )
        # materialize both derived caches (the collision sum is the
        # dictionary's materializing job), then release the scratch (one
        # extraction pass total; the scratch would otherwise pin ~|edges|
        # link strings for the whole crawl)
        edges.count()
        (n_clash,) = dictionary.agg(
            F.sum(F.col("clash").cast("long"))
        ).collect()[0]
        keyed.unpersist()
        if n_clash:
            edges.unpersist()
            dictionary.unpersist()
            self._link_keys_exact = False
            return
        self._edges, self._edge_dict = edges, dictionary

    # ------------------------------------------------------------------
    def crawl(
        self,
        base_url: str | None = None,
        resume: bool = False,
        on_wave=None,
        on_finished=None,
        cancel=None,
    ) -> SparkCrawlResult:
        """Run the crawl.

        ``on_wave(pages_df, wave_metrics)`` is the per-wave user hook — the
        block passed to ``CobwebCrawler#crawl`` (``lib/cobweb_crawler.rb:43,
        144``) / the processing-queue handoff (``lib/crawl_job.rb:87-101``).
        ``cancel()`` is checked between waves — the stop-flag analogue of
        the reference's Cancelled status check (``lib/crawl.rb:33-35,65``;
        cancellation drains without fetching, like
        ``lib/cobweb_crawl_helper.rb:18-87``).

        ``on_finished(summary_df)`` is the crawl-finished-queue hook
        (``lib/crawl_job.rb:74-84``): called exactly once per completed
        crawl with the one-row final-statistics frame; with a snapshot
        store, the same row is appended to the ``crawl_runs`` table
        (exactly-once across resumes via the store's finished marker).
        """
        spark, cfg = self.spark, self.cfg
        extra_internal: list[str] = []
        classifier = cfg.classifier(base_url)
        # stable per-crawl identity: same seeds+base resumed later must hit
        # the same exactly-once guard; a different crawl sharing the store
        # dir must not (the reference keys everything by crawl_id,
        # lib/cobweb.rb:72-75 — SHA1 there, content-derived here so resume
        # needs no saved token)
        import hashlib

        run_id = hashlib.md5(
            repr((base_url, tuple(cfg.seed_urls))).encode()
        ).hexdigest()[:12]

        pages_parts: list[DataFrame] = []
        cand_parts: list[DataFrame] = []
        edge_parts: list[DataFrame] = []
        metrics: list[dict] = []
        # finals frames of waves whose counts job was skipped: one cheap
        # end-of-crawl isEmpty probe over these (a scan of checkpointed
        # pages parts, no shuffle) decides whether result.seen needs the
        # full-set distinct exchange
        finals_probe_parts: list[DataFrame] = []

        latest = self.store.latest_wave() if (resume and self.store) else None
        if latest is not None:
            # exact resume: reload committed state and replay from wave k+1
            man = self.store.load_manifest(latest)
            frontier = self.store.load_table(
                latest, "frontier"
            ).localCheckpoint()
            seen = self.store.load_table(latest, "seen").localCheckpoint()
            # the stored seen table is the raw lazy union (may hold a
            # redirect-final duplicate) — the result must re-distinct
            seen_may_dup = True
            pages_parts = self.store.load_parts(latest, "pages")
            cand_parts = self.store.load_parts(latest, "candidates")
            edge_parts = self.store.load_parts(latest, "edges")
            n_fetched = man["counters"]["n_fetched"]
            next_order = man["counters"]["next_order"]
            pages_counted = man["counters"]["pages_counted"]
            waves_done = latest + 1
            extra_internal = man["counters"].get("extra_internal", [])
            if extra_internal:
                classifier = cfg.classifier(base_url, extra_internal)
            wave = latest + 1
        else:
            frontier = self._seed_frontier(base_url).localCheckpoint()
            seen = frontier.select("url").localCheckpoint()
            seen_may_dup = False
            n_fetched = 0
            next_order = frontier.count()
            pages_counted = 0
            wave = 0
            waves_done = 0
        if cfg.precompute_edges:
            # one extraction pass over the corpus, with every
            # wave-independent stage hoisted into it (when the classifier
            # is provably static; otherwise waves extract from spans)
            self._ensure_edges(classifier, seen)
        use_edges = self._edges is not None

        # slim expand path (cfg.slim_expand): dedup + seen-rejection key
        # on xxhash64(link); the LSM parts are 8-byte key frames and the
        # parent-URL string never rides the expand shuffles (resolved
        # from the wave's pages by fetch_order at frontier emission).
        # A link-key collision found by the edge build forces strings.
        slim = bool(cfg.slim_expand) and self._link_keys_exact
        # the seen tier: key frames per wave plus the bloom bank, which
        # is built from them when it first engages (a resumed crawl's
        # bank is rebuilt from the loaded seen part)
        seen_tier = SeenParts(
            seen,
            self._n_part,
            slim,
            bank=self.prefilter,
            min_seen=cfg.prefilter_min_seen,
        )
        empty_frontier = frontier.limit(0)
        # n_frontier tracks |frontier| so the loop head needs no isEmpty job
        n_frontier = frontier.count() if latest is not None else next_order

        import functools
        import time as _time

        t_started = _time.time()

        # commit pipeline: every completed wave is committed, and wave N+1
        # computes while wave N's snapshot writes drain on a single FIFO
        # worker (plans/state.py). The pipeline is closed before any
        # post-loop store write, so resume and exactly-once semantics see
        # every wave's commit in order.
        committer = None
        if self.store is not None:
            from .state import CommitPipeline

            committer = CommitPipeline()

        cancelled = False
        try:
            while wave < cfg.max_waves:
                if n_frontier == 0:
                    break
                if cancel is not None and cancel():
                    cancelled = True
                    break
                _t0 = _time.time()
                # tag this wave's jobs (shows in the UI/event log; lets the
                # scaling harness attribute stage metrics to waves exactly)
                spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", f"wave-{wave}"
                )
                remaining = (
                    None
                    if cfg.crawl_limit is None
                    else int(cfg.crawl_limit) - pages_counted
                )
                if remaining is not None and remaining <= 0:
                    break

                if cfg.host_budget is None:
                    # plain BFS: the frontier is exactly the discovery_orders
                    # [n_fetched, next_order) — contiguous and dense — so
                    # fetch_order == discovery_order (FIFO equivalence,
                    # SURVEY §3.4) and no ranking job is needed at all.
                    admitted, deferred = frontier, None
                    admitted = admitted.withColumn(
                        "wave_rank", F.col("discovery_order") - F.lit(n_fetched)
                    )
                else:
                    admitted, deferred = admit_wave(frontier, cfg.host_budget)
                    admitted, n_admitted = zip_with_order(
                        admitted,
                        ["depth", "discovery_order"],
                        "wave_rank",
                        start=0,
                        size_hint=n_frontier,
                    )

                self._probe_redirects()
                bcast_wave = n_frontier < 150_000
                fetched = fetch_meta(
                    admitted,
                    self._meta,
                    cfg,
                    skip_redirects=not self._has_redirects,
                    broadcast_frontier=bcast_wave,
                    key_join=self._key_join,
                )
                cut, limit_hit = apply_crawl_limit_cut(fetched, cfg, remaining)
                cut = (
                    cut.withColumn(
                        "fetch_order", F.col("wave_rank") + F.lit(n_fetched)
                    )
                    .withColumn("wave_id", F.lit(wave))
                    .select(*PAGE_COLS)
                    # lazy: the counts agg right below is the first action and
                    # materializes the checkpoint — fetch+checkpoint+count is
                    # ONE job instead of two (wave-loop serial floor)
                    .localCheckpoint(eager=False)
                )
                _t_fetch = _time.time()
                want_first_page = (
                    wave == 0
                    and latest is None
                    and cfg.first_page_redirect_internal
                    and bool(self._has_redirects)
                )
                # finals (fetch_url != queued url) arise from redirects AND
                # from canonicalization differences, so the machinery cannot
                # be gated on 3xx presence; it is all lazy plan nodes (no
                # driver job) — the bank no longer needs a finals count
                # (finals ride the miss-backstop, maintenance is amortized)
                may_have_finals = cfg.mark_redirect_final_crawled
                # the counts agg is a driver job — pay it only when something
                # reads its outputs: limit bookkeeping or the first-page
                # redirect probe. Otherwise |cut| is already known (the fetch
                # join is left-preserving and no limit cuts rows), and cut's
                # lazy checkpoint materializes inside the expand job instead.
                need_counts = (
                    remaining is not None
                    or cfg.crawl_limit_by_page
                    or want_first_page
                )
                n_finals = None
                if need_counts:
                    # one agg job: total + countable rows (crawl_limit_by_page)
                    # + redirect-final count (gates the bank maintenance job)
                    # + on the first wave, the first page's redirect chain
                    # (gates the first_page_redirect_internal widening)
                    aggs = [
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.when(
                                F.coalesce(
                                    F.col("mime_type"), F.lit("")
                                ).rlike("text/html"),
                                1,
                            ).otherwise(0)
                        ).alias("n_pages"),
                        F.sum(
                            F.when(
                                F.col("fetch_url") != F.col("url"), 1
                            ).otherwise(0)
                        ).alias("n_finals"),
                    ]
                    if want_first_page:
                        aggs.append(
                            F.max(
                                F.when(
                                    F.col("fetch_order") == 0,
                                    F.struct("fetch_url", "redirect_through"),
                                )
                            ).alias("first_page")
                        )
                    counts_row = cut.agg(*aggs).collect()[0]
                    n_cut = counts_row["n"]
                    n_finals = counts_row["n_finals"]
                    if want_first_page and counts_row["first_page"] is not None:
                        fp = counts_row["first_page"]
                        if fp["redirect_through"]:
                            # first fetched page redirected: widen
                            # internal_urls with the destination
                            # scheme://host/* before this wave's link
                            # selection (lib/crawl.rb:113,348-356, default-on
                            # lib/cobweb.rb:54)
                            from urllib.parse import urlsplit

                            p = urlsplit(fp["fetch_url"])
                            extra_internal = [f"{p.scheme}://{p.hostname}/*"]
                            classifier = cfg.classifier(
                                base_url, extra_internal
                            )
                else:
                    # no limit: the whole admitted wave is fetched. Plain BFS:
                    # |admitted| == |frontier|; budget path: zip_with_order
                    # already returned the admitted count.
                    n_cut = n_frontier if cfg.host_budget is None else n_admitted
                    counts_row = None
                if n_cut == 0:
                    frontier = (
                        deferred if deferred is not None else empty_frontier
                    )
                    if limit_hit or deferred is None:
                        frontier = empty_frontier
                        n_frontier = 0
                    break

                # within-wave cancellation (lib/cobweb_crawl_helper.rb:18-87:
                # the reference destroys a crawl's in-flight jobs): the flag is
                # re-checked between the fetch and expand jobs. Fetched-but-
                # uncommitted work is discarded — no counter has been mutated
                # and cut was never appended, so the drain seals the last full
                # wave boundary and a resume replays this wave deterministically
                # (identical final state, pinned in tests/test_round4.py).
                if cancel is not None and cancel():
                    cancelled = True
                    break

                if cfg.crawl_limit_by_page:
                    pages_counted += counts_row["n_pages"] or 0
                else:
                    pages_counted += n_cut
                n_fetched += n_cut
                pages_parts.append(cut)

                # redirect-final URLs join the seen set too
                # (lib/crawl_helper.rb:35-39). cut is checkpointed, so this
                # union member is cheap to rescan — seen stays a lazy union of
                # checkpointed parts instead of re-materializing per wave.
                wave_finals = None
                if may_have_finals and (n_finals is None or n_finals):
                    finals = cut.filter(
                        F.col("fetch_url") != F.col("url")
                    ).select(F.col("fetch_url").alias("url"))
                    seen = seen.unionByName(finals)
                    # a redirect final may equal an already-seen URL —
                    # only this union can introduce a duplicate. When the
                    # wave had a counts job, n_finals is exact; otherwise
                    # remember the (lazy, checkpoint-backed) finals frame
                    # and decide with one end-of-crawl probe instead of
                    # unconditionally paying the full-seen distinct.
                    if n_finals:
                        seen_may_dup = True
                    elif n_finals is None:
                        finals_probe_parts.append(finals)
                    # tiny ephemeral part: this wave's candidates must reject
                    # against the finals too. It rides the miss-backstop chain
                    # (broadcast anti, no shuffle) — no per-wave bank add; the
                    # finals enter the bank at the next amortized sync via
                    # their seen part.
                    wave_finals = seen_tier.keys(finals)

                # extraction input: permitted pages that matched a corpus
                # document (only those can yield links; the corpus_hit guard
                # also makes the keyed expand join exactly equivalent to the
                # string join — every probe key is a verified doc_id hash)
                to_extract = cut.filter("permitted and corpus_hit").select(
                    F.col("url").alias("parent"),
                    F.col("fetch_url").alias("parent_url"),
                    F.col("fetch_order").alias("parent_fetch_order"),
                    F.col("depth").alias("parent_depth"),
                )
                if use_edges:
                    # dictionary layout: classification was hoisted into the
                    # edge build, and the probe emits dst_key — that IS the
                    # slim link_key (xxhash64 of the rewritten link); the
                    # (link, host) strings rejoin after the dedup +
                    # anti-join chain
                    pk = (
                        F.xxhash64("parent_url")
                        if self._key_join
                        else F.col("parent_url")
                    )
                    wv = to_extract.withColumn("__pk", pk)
                    ed = self._edges
                    selected = (
                        wv.join(ed, wv["__pk"] == ed["src_key"])
                        .drop("__pk", "src_key", "parent_url")
                        .withColumnRenamed("dst_key", "link_key")
                    )
                else:
                    # stream the spans scan against a broadcast of the wave:
                    # the corpus side must never be shuffled or broadcast.
                    # Inner join ≡ left join here — pages with no corpus row
                    # produce no links either way.
                    spans_src = self._spans
                    wave_side = (
                        F.broadcast(to_extract)
                        if n_cut < 150_000
                        else to_extract
                    )
                    with_spans = spans_src.join(
                        wave_side,
                        spans_src.doc_id == to_extract.parent_url,
                        "inner",
                    ).drop("doc_id")
                    # parent_url was the join key's source; nothing
                    # downstream reads it — dropping it here keeps a
                    # 40+-byte string out of the dedup shuffle and the
                    # checkpointed candidate stream
                    candidates = extract_links(
                        with_spans, cfg.kind_categories()
                    ).drop("parent_url")
                    if cfg.store_inbound_links:
                        # inbound indexing needs the raw candidate stream
                        # twice — materialize; otherwise let it flow
                        # straight through
                        candidates = candidates.localCheckpoint()
                        cand_parts.append(candidates)
                    selected = robots_gate(
                        select_internal(candidates, classifier, cfg),
                        self.robots,
                        cfg,
                        compiled=self._robots_compiled,
                    )
                    if slim:
                        selected = selected.withColumn(
                            "link_key", F.xxhash64("link")
                        )
                _t_sel = _time.time()
                # dedup BEFORE the anti-join: map-side combine collapses the
                # duplicate-heavy candidate stream to unique links, so the
                # anti-join (and everything after) touches ~|new links| rows.
                # Slim mode: the dedup keys on the 8-byte link_key; the
                # anti-join chain then reuses the dedup's hash partitioning
                # with no exchange and probes 8-byte part frames. (Deferring
                # the parent/link STRINGS out of the payload and re-resolving
                # them by fetch_order at emission was tried and measured
                # SLOWER: the resolution join adds a full exchange of the
                # new-link stream, which outweighs the ~30-byte strings it
                # removes — see BENCH/BASELINE.md round-5.)
                fresh = first_discovery_wins(
                    selected, key_col=seen_tier.key_col
                )
                # next_order counts every URL ever enqueued == |seen| modulo
                # redirect finals
                engaged = seen_tier.engaged(next_order)
                fresh = seen_tier.reject(fresh, engaged, finals=wave_finals)
                if use_edges:
                    # dictionary layout: everything upstream moved 8-byte
                    # keys; re-attach (link, host) to the ~|new links|
                    # survivors in one equi-join against the cached
                    # dictionary (guide §8 — the heavy strings move once),
                    # then apply the robots gate: the allow/disallow
                    # predicate is a function of the link alone, so gating
                    # the unique survivors is exactly equivalent to gating
                    # every candidate, and evaluates the rules once per link
                    ed = self._edge_dict
                    fresh = fresh.join(
                        ed, fresh["link_key"] == ed["dst_key"]
                    ).drop("dst_key", "clash")
                    fresh = robots_gate(
                        fresh,
                        self.robots,
                        cfg,
                        compiled=self._robots_compiled,
                        host_col="host",
                    )
                if slim:
                    # the key is dead weight after the chain: dropping it here
                    # keeps 8 incompressible bytes/row out of the ordering
                    # exchange and the frontier checkpoint (the part build
                    # re-derives it from the checkpointed frontier for free)
                    fresh = fresh.drop("link_key")
                # materialize BEFORE ordering: the ordering shuffle would
                # otherwise recompute the whole extract→dedup pipeline a
                # second time each wave. When the bloom tier is engaged,
                # seen_tier.reject already checkpointed the flagged stream
                # (its split needs it) — the residual filter/anti-join/union
                # tail is cheap to rescan. Spans path: EAGER — bounded
                # executor memory beats saving a job (lazy variants stacked
                # python stages into one oversized job and OOM'd small
                # executors).
                # Edges path (round 6): LAZY — the pipeline is pure JVM
                # joins/aggs, so the ordering bucket-count agg materializes
                # the checkpoint inside its own job: one less serial job per
                # wave with no python-stage stacking to fear.
                if not engaged:
                    fresh = fresh.localCheckpoint(eager=not use_edges)
                _t_flag = _time.time()
                # parent_fetch_order spans exactly [n_fetched - n_cut,
                # n_fetched) in EVERY admission mode (plain BFS: frontier
                # ≡ dense discovery_orders; budget: wave_rank is a dense
                # 0..n_admitted-1 and the limit cut keeps a prefix of it)
                # — an exact equi-width bucket id replaces
                # repartitionByRange and its sampling job. Round 7: the
                # budget path previously fell back to zip_with_order and
                # paid the range-sampling job + a separate counts job per
                # wave for no reason (guide §2.4: remove shuffles/jobs
                # that recompute what the driver already knows).
                n_part = int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                )
                n_buckets = max(1, min(n_part, (n_cut * 16) // 50_000 + 1))
                base_fo = n_fetched - n_cut
                bucket = F.floor(
                    (F.col("parent_fetch_order") - F.lit(base_fo))
                    * F.lit(n_buckets)
                    / F.lit(n_cut)
                )
                from ..operators.order import zip_with_order_bucketed

                fresh, n_new = zip_with_order_bucketed(
                    fresh,
                    ["parent_fetch_order", "position"],
                    "discovery_order",
                    bucket_col=bucket,
                    start=next_order,
                )

                # edges path: lazy — the only deferred stages are the
                # order-assignment mapInPandas and a projection (no Python
                # UDFs left), and the next wave's first job materializes the
                # checkpoint, saving one job per wave of the serial floor.
                # spans path: eager — host_udf would otherwise stack a Python
                # stage into the next wave's (already Python-heavy) first job
                new_frontier = fresh.select(
                    F.col("link").alias("url"),
                    (
                        F.col("host") if use_edges else host_udf("link")
                    ).alias("host"),
                    (F.col("parent_depth") + 1).alias("depth"),
                    "discovery_order",
                    F.col("parent").alias("parent"),
                ).localCheckpoint(eager=not use_edges)
                next_order += n_new

                _t_zip = _time.time()
                edges_wave = fresh.select(
                    F.col("parent").alias("src"),
                    F.col("link").alias("dst"),
                )
                edge_parts.append(edges_wave)
                # new_frontier is checkpointed; the union tree over checkpointed
                # parts is cheap to rescan — no per-wave seen re-materialization
                seen = seen.unionByName(new_frontier.select("url"))
                # append this wave's seen part (new links + redirect finals).
                # Slim mode: parts hold 8-byte keys — the per-wave part
                # build, checkpoint and every future chain scan move ~6x
                # fewer bytes than URL-string frames
                seen_tier.append(new_frontier, finals=wave_finals)

                metrics.append(
                    {
                        "wave_id": wave,
                        "admitted": n_cut,
                        "new_links": n_new,
                        "pages_counted": pages_counted,
                        "n_fetched": n_fetched,
                        "t_fetch": round(_t_fetch - _t0, 2),
                        "t_expand": round(_time.time() - _t_fetch, 2),
                        # expand-phase breakdown: flag = extract→classify→
                        # dedup→probe checkpoint; zip = order assignment;
                        # add = frontier checkpoint + filter-bank merge
                        "t_flag": round(_t_flag - _t_sel, 2),
                        "t_zip": round(_t_zip - _t_flag, 2),
                        "t_add": round(_time.time() - _t_zip, 2),
                    }
                )
                waves_done = wave + 1  # waves that actually fetched pages
                if on_wave is not None:
                    on_wave(cut, metrics[-1])

                if limit_hit:
                    frontier = empty_frontier
                    n_frontier = 0
                elif deferred is not None:
                    # lazy: the count right below is the first action and
                    # materializes the checkpoint inside its own job — one
                    # job per wave instead of two (round 7, VERDICT #2a)
                    frontier = deferred.unionByName(
                        new_frontier
                    ).localCheckpoint(eager=False)
                    n_frontier = frontier.count()
                else:
                    frontier = new_frontier
                    n_frontier = n_new

                if committer is not None:
                    committer.submit(
                        functools.partial(
                            self.store.append_wave_metrics, metrics[-1]
                        )
                    )
                    committer.submit(
                        functools.partial(
                            self.store.commit_wave,
                            wave_id=wave,
                            frontier=frontier,
                            seen=seen,
                            pages=cut,
                            edges=edges_wave,
                            # only a kept (checkpointed) candidate stream
                            # is committed; resume reloads exactly that
                            candidates=(
                                cand_parts[-1]
                                if cfg.store_inbound_links
                                else None
                            ),
                            counters={
                                "n_fetched": n_fetched,
                                "next_order": next_order,
                                "pages_counted": pages_counted,
                                "extra_internal": extra_internal,
                            },
                            metrics=metrics[-1],
                        )
                    )
                if limit_hit:
                    break
                wave += 1
        finally:
            # a wave failure (Spark job failure, KeyboardInterrupt) must
            # not leave queued snapshot commits running while crawl()
            # unwinds: stop the pipeline at the boundary. A stored commit
            # error is re-raised here on the straight-line path; when a
            # wave error is already propagating it keeps priority and the
            # commit error is not allowed to mask it.
            if committer is not None:
                import sys as _sys

                _c, committer = committer, None
                # inside a finally, exc_info() is the wave error being
                # propagated (or None on the straight-line path) — read it
                # BEFORE close() so its own failure can't shadow the check
                _wave_err_in_flight = _sys.exc_info()[1] is not None
                try:
                    _c.close()
                except BaseException:
                    if not _wave_err_in_flight:
                        raise

        # post-loop drain/commit/result jobs get their own group so the
        # event log doesn't attribute them to the final wave
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "drain")

        def _union(parts: list[DataFrame], proto: DataFrame) -> DataFrame:
            if not parts:
                return proto.limit(0)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        pages = _union(
            pages_parts,
            fetch_meta(
                frontier.limit(0).withColumn("wave_rank", F.lit(0).cast("long")),
                self.documents,
                cfg,
            )
            .withColumn("fetch_order", F.lit(0).cast("long"))
            .withColumn("wave_id", F.lit(0))
            .select(*PAGE_COLS),
        )
        candidates = _union(
            cand_parts,
            extract_links(
                self.documents.limit(0).select(
                    F.col("doc_id").alias("parent"),
                    F.col("doc_id").alias("parent_url"),
                    F.lit(0).cast("long").alias("parent_fetch_order"),
                    F.lit(0).alias("parent_depth"),
                    "spans",
                )
            ).drop("parent_url"),
        )
        edges = _union(
            edge_parts,
            self.spark.createDataFrame([], EDGES_SCHEMA),
        )
        # without redirect finals (and off the resume path) seen is a
        # disjoint union of per-wave parts each already deduped by
        # first_discovery_wins + the anti-join chain — the distinct
        # exchange over the full seen set is then provably a no-op
        # (guide §2.4: a distinct on data that is already unique); the
        # result rows are identical either way. Waves without a counts
        # job left lazy finals frames behind: one isEmpty probe (scan of
        # already-checkpointed pages, early-exit, no shuffle) settles it.
        if not seen_may_dup and finals_probe_parts:
            probe = finals_probe_parts[0]
            for p in finals_probe_parts[1:]:
                probe = probe.unionByName(p)
            seen_may_dup = not probe.isEmpty()
        result = SparkCrawlResult(
            pages=pages,
            seen=seen.distinct() if seen_may_dup else seen,
            frontier_remaining=frontier,
            edges=edges,
            candidates=candidates,
            n_waves=waves_done,
            metrics=metrics,
        )
        # finished sink: final statistics exactly once per completed crawl
        # (lib/crawl_job.rb:74-84; first_to_finish lock lib/crawl.rb:241-253
        # → here, completion is unambiguous and the store marker makes the
        # append idempotent across resumes). Cancellation drains without a
        # finished enqueue, like lib/cobweb_crawl_helper.rb.
        finished = not cancelled and n_frontier == 0

        def _stamp(df: DataFrame) -> DataFrame:
            # lifecycle wall-clock timestamps (lib/stats.rb:27-41) ride on
            # the stored row only — they are not part of the deterministic
            # contract
            return df.withColumn(
                "crawl_started_at",
                F.timestamp_millis(F.lit(int(t_started * 1000))),
            ).withColumn(
                "finished_at",
                F.timestamp_millis(F.lit(int(_time.time() * 1000))),
            )

        if finished and (on_finished is not None or self.store is not None):
            summary = stats_ops.run_summary(
                pages, n_waves=result.n_waves, queue_counter=n_frontier
            )
            if self.store is not None:
                self.store.commit_finished(_stamp(summary), run_id=run_id)
            if on_finished is not None:
                on_finished(summary)
        elif cancelled and self.store is not None:
            # cancellation drain (lib/cobweb_crawl_helper.rb:18-87): every
            # completed wave is already committed, so the last commit holds
            # THIS crawl's remaining queue and resume continues from the
            # cancel point. Record a Cancelled run row (status transition
            # analogue, lib/stats.rb end_crawl; NO finished enqueue happens).
            cancelled_row = stats_ops.run_summary(
                pages,
                n_waves=result.n_waves,
                queue_counter=n_frontier,
                status="Cancelled",
            )
            self.store.commit_finished(
                _stamp(cancelled_row), run_id=f"{run_id}-cancelled"
            )
        return result
