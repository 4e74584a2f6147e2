"""Crawl configuration.

``CrawlConfig`` mirrors the reference's canonical option-defaults table
(``lib/cobweb.rb:34-64``) plus the standalone-crawler extras
(``lib/cobweb_crawler.rb:28-30``), re-expressed as a typed dataclass
instead of the reference's ``method_missing`` option system
(``lib/cobweb.rb:22-29``).

Engine-only knobs (bloom sizing, politeness budget, snapshotting) have no
reference analogue and are grouped at the bottom.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from .patterns import LinkClassifier, compile_mime_patterns
from .urls import default_internal_patterns


@dataclass
class CrawlConfig:
    # --- reference options (lib/cobweb.rb:34-64) ---
    follow_redirects: bool = True
    redirect_limit: int = 10
    internal_urls: list[str] = field(default_factory=list)
    external_urls: list[str] = field(default_factory=list)
    seed_urls: list[str] = field(default_factory=list)
    text_mime_types: list[str] = field(
        default_factory=lambda: ["text/*", "application/xhtml+xml"]
    )
    obey_robots: bool = False
    user_agent: str = "cobweb"
    valid_mime_types: list[str] = field(default_factory=lambda: ["*/*"])
    treat_https_as_http: bool = True
    first_page_redirect_internal: bool = True
    crawl_limit: int | None = None
    # only text/html counts toward crawl_limit (lib/crawl.rb:50-53,173-182)
    crawl_limit_by_page: bool = False
    # standalone-only: fetch (but don't expand) external links found on
    # internal pages (lib/cobweb_crawler.rb:28,108)
    crawl_linked_external: bool = False
    store_inbound_links: bool = True
    # extraction extension points (lib/content_link_parser.rb:28-31):
    # ignore_default_tags clears the built-in kind→category table;
    # additional_tags merges extra entries, each mapping a span kind to a
    # list of (category, category_rank, selector_rank) tuples — the span
    # model's analogue of the reference's category → [(selector, attr)]
    # hash (a custom Nokogiri selector becomes a custom span kind emitted
    # by the corpus parser).
    ignore_default_tags: bool = False
    additional_tags: dict | None = None
    # proxy options (lib/cobweb.rb:46-47, spec/cobweb/cobweb_spec.rb:
    # 246-253): accepted for API parity; inert under the deterministic
    # corpus model (there is no network layer to route through a proxy)
    proxy_addr: str | None = None
    proxy_port: int | None = None

    # --- corpus/fetch model (replaces the live HTTP layer) ---
    # What a URL absent from the corpus returns. 404 with an EMPTY mime
    # mirrors the reference spec suite's file server: a missing-path 404
    # yields mime_type "" (lib/cobweb.rb:216-217), which fails even the
    # "*/*" permitted-type check (compiled regex ".*?/.*?" needs a slash,
    # lib/crawl_object.rb:11-16) — that is how the golden site crawl counts
    # 77 processed objects while also fetching the dead /secure link.
    # Set missing_status=0 to model SocketError rows (lib/cobweb.rb:270-284).
    missing_status: int = 404
    missing_mime: str = ""
    # mark the redirect-final URL crawled too (lib/crawl_helper.rb:35-39)
    mark_redirect_final_crawled: bool = True

    # --- engine knobs (no reference analogue) ---
    # max URLs fetched per host per wave; None = unlimited (politeness
    # token budget; the deterministic analogue of a per-host delay)
    host_budget: int | None = None
    # seen-membership prefilter tier
    bloom_shards: int = 32
    bloom_capacity_per_shard: int = 1 << 17
    bloom_fpp: float = 0.01
    # the bloom probe tier engages once the seen set reaches this size;
    # below it the exact anti-join's build side is small enough that the
    # probe's extra pass costs more than the join it bypasses (measured:
    # at |seen| ≈ |wave| ≈ 1M the probe+split roughly doubles expand
    # time; the tier's win is the |seen| ≫ |wave| regime). The bank is
    # built from the seen parts when it first engages (operators/dedup.py).
    prefilter_min_seen: int = 1_000_000
    # precompute the whole corpus' link extraction and classification
    # ONCE (one mapInPandas pass) into the dictionary edge table — 8-byte
    # (src_key, dst_key, position) rows plus one (link, host) entry per
    # distinct link — and expand waves by joining it, instead of
    # re-joining + re-extracting span arrays per wave. Applies when the
    # classifier is static (no crawl_linked_external, no first-page
    # redirect widening), store_inbound_links is off and slim_expand is
    # on; any other configuration extracts from spans per wave. The
    # right trade when the crawl covers a large fraction of the corpus
    # (nested-array scans per wave dominate otherwise); leave False when
    # crawling a small slice of a huge corpus.
    precompute_edges: bool = False
    # slim expand path: key intra-wave dedup and seen-rejection on
    # xxhash64(link) and store the seen-part LSM as 8-byte key frames —
    # the dedup exchange key, the whole anti-join chain and the per-wave
    # part build/checkpoint/scan all move fixed-width longs instead of
    # URL strings. Key-based rejection is exact up to xxhash64
    # collisions: E[colliding URL pairs] ≈ n²/2^65 ≈ 2.7 at n = 10^10
    # (each collision suppresses at most one URL), zero in practice at
    # sandbox scale — the same keying the north rule specifies for the
    # bloom/cuckoo membership tier. Set False for string-exact mode.
    slim_expand: bool = True
    max_waves: int = 10_000

    def resolved_internal_urls(self, base_url: str | None) -> list[str]:
        """internal_urls defaulting from base_url (lib/cobweb.rb:77-82,
        lib/cobweb_crawler.rb:47-48)."""
        if self.internal_urls:
            return list(self.internal_urls)
        if base_url is None:
            return []
        return default_internal_patterns(base_url)

    def classifier(
        self,
        base_url: str | None,
        extra_internal: list[str] | None = None,
    ) -> LinkClassifier:
        """``extra_internal`` carries the first-page-redirect widening
        (lib/crawl.rb:348-356 / lib/crawl_helper.rb:201-209): when the
        first fetched page redirects, the destination's ``scheme://host/*``
        joins the internal patterns."""
        return LinkClassifier.compile(
            self.resolved_internal_urls(base_url) + list(extra_internal or []),
            self.external_urls,
            self.treat_https_as_http,
        )

    def kind_categories(self) -> dict:
        """Effective span-kind → [(category, cat_rank, sel_rank)] table:
        defaults (model.LINK_KIND_CATEGORIES) unless ignore_default_tags,
        merged (``Hash#merge!`` semantics — same-key entries override) with
        additional_tags (lib/content_link_parser.rb:28-31)."""
        from .model import LINK_KIND_CATEGORIES

        base = {} if self.ignore_default_tags else dict(LINK_KIND_CATEGORIES)
        if self.additional_tags:
            for kind, cats in self.additional_tags.items():
                base[kind] = [tuple(c) for c in cats]
        return base

    @property
    def valid_mime_re(self) -> str:
        return compile_mime_patterns(self.valid_mime_types)

    @property
    def text_mime_re(self) -> str:
        """text-content predicate (lib/cobweb.rb:471-476)."""
        return compile_mime_patterns(self.text_mime_types)

    def with_(self, **kw) -> "CrawlConfig":
        return replace(self, **kw)
