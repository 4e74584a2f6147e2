"""Oracle tests against the reference's own spec goldens.

The oracle is the semantic ground truth the Spark engine is compared to;
these tests pin the oracle itself to the reference's published goldens:

  spec/cobweb/content_link_parser_spec.rb:34-121  (link zoo counts)
  spec/cobweb/crawl_job_spec.rb:55-56,107-268     (77 objects, limits)
  spec/cobweb/cobweb_crawler_spec.rb:36-106       (mime counts, queue
                                                   membership, inbound links)
  spec/cobweb/cobweb_spec.rb:138-170              (redirect chain)
  spec/cobweb/robots_spec.rb:20-68                (robots precedence)
"""

import pytest

from cobweb_spark.config import CrawlConfig
from cobweb_spark.model import CATEGORIES, LINK_KIND_CATEGORIES
from cobweb_spark.oracle import CrawlOracle, RobotsRules, extract_all_links
from cobweb_spark.testkit import fixtures as fx

BASE = fx.SAMPLE_SITE_BASE


@pytest.fixture(scope="module")
def zoo_doc():
    return fx.build_link_zoo_corpus()[fx.LINK_ZOO_URL]


class TestLinkZoo:
    def test_category_counts(self, zoo_doc):
        counts = {}
        for cat in CATEGORIES:
            uniq = []
            seen = set()
            hits = []
            for k, t, m, o in zoo_doc.spans:
                for c, _cr, sr in LINK_KIND_CATEGORIES.get(k, ()):
                    if c == cat:
                        hits.append((sr, o, t))
            for _sr, _o, t in sorted(hits):
                if t not in seen:
                    seen.add(t)
                    uniq.append(t)
            counts[cat] = len(uniq)
        assert counts == {
            "links": 11,
            "images": 1,
            "related": 2,
            "scripts": 1,
            "styles": 3,
        }

    def test_all_links(self, zoo_doc):
        links = extract_all_links(fx.LINK_ZOO_URL, zoo_doc.spans)
        assert len(links) == 13
        assert "http://sample-links.com/script.js" in links
        assert "http://sample-links.com/stylesheets/punk.css" in links

    def test_loop_links(self, zoo_doc):
        links = extract_all_links(fx.LINK_ZOO_URL, zoo_doc.spans)
        assert (
            "http://www.ge.com/repeated1/repeated2/nothing/repeated1/" in links
        )
        assert (
            "http://www.ge.com/repeated1/repeated2/nothing/repeated1/repeated2"
            not in links
        )
        assert (
            "http://www.ge.com/repeated1/repeated2/nothing/repeated1/asdf/repeated2"
            in links
        )

    def test_https_only_scheme_filter(self, zoo_doc):
        # all_links(:valid_schemes => [:https]) golden == 1
        links = extract_all_links(fx.LINK_ZOO_URL, zoo_doc.spans)
        https_only = [l for l in links if l.split(":")[0] == "https"]
        assert len(https_only) == 1


class TestSampleSiteCrawl:
    @pytest.fixture(scope="class")
    def result(self, sample_site_corpus):
        return CrawlOracle(sample_site_corpus, CrawlConfig()).crawl(BASE)

    def test_golden_totals(self, result):
        # crawl_job_spec.rb:55-56: 77 processed objects
        assert result.stats["crawl_counter"] == 77
        assert sum(p.permitted for p in result.pages) == 77

    def test_mime_counts(self, result):
        mc = result.stats["mime_counts"]
        assert mc["text/html"] == 8
        assert mc["text/css"] == 18
        assert mc["image/jpeg"] == 25

    def test_starts_at_base(self, result):
        assert result.fetch_sequence[0] == BASE

    def test_bfs_order_monotone_depth(self, result):
        depths = [p.depth for p in result.pages]
        assert depths == sorted(depths)

    def test_discovery_order_is_fetch_order(self, result):
        # FIFO equivalence: fetch order == discovery order (SURVEY §3.4)
        orders = [p.discovery_order for p in result.pages]
        assert orders == sorted(orders)

    def test_external_not_queued(self, result):
        assert not any("themeforest" in u for u in result.seen)

    def test_https_normalized_in_queue(self, result):
        assert "http://localhost:3532/secure" in result.seen
        assert "https://localhost:3532/secure" not in result.seen

    def test_inbound_links_golden(self, result):
        # cobweb_crawler_spec.rb:97-104
        golden = {
            "http://localhost:3532/gallery.html",
            "http://localhost:3532/boxgridwithsillyname.html",
            "http://localhost:3532/more.html",
            "http://localhost:3532/",
            "http://localhost:3532/tables.html",
            "http://localhost:3532/typography.html",
            "http://localhost:3532/forms.html",
            "http://localhost:3532/dashboard.html",
        }
        assert (
            result.inbound["http://localhost:3532/typography.html"] == golden
        )

    def test_boxgrid_inbound_golden(self, result):
        golden = {
            "http://localhost:3532/boxgridwithsillyname.html",
            "http://localhost:3532/gallery.html",
            "http://localhost:3532/more.html",
            "http://localhost:3532/tables.html",
            "http://localhost:3532/typography.html",
            "http://localhost:3532/forms.html",
            "http://localhost:3532/dashboard.html",
        }
        assert (
            result.inbound["http://localhost:3532/boxgridwithsillyname.html"]
            == golden
        )


class TestCrawlLimits:
    # crawl_job_spec.rb:173-268
    def test_limit_1(self, sample_site_corpus):
        r = CrawlOracle(sample_site_corpus, CrawlConfig(crawl_limit=1)).crawl(
            BASE
        )
        assert len(r.pages) == 1

    def test_limit_10(self, sample_site_corpus):
        r = CrawlOracle(sample_site_corpus, CrawlConfig(crawl_limit=10)).crawl(
            BASE
        )
        assert len(r.pages) == 10

    def test_limit_100_crawls_entire_site(self, sample_site_corpus):
        r = CrawlOracle(
            sample_site_corpus, CrawlConfig(crawl_limit=100)
        ).crawl(BASE)
        assert sum(p.permitted for p in r.pages) == 77

    def test_limit_5_by_page(self, sample_site_corpus):
        r = CrawlOracle(
            sample_site_corpus,
            CrawlConfig(crawl_limit=5, crawl_limit_by_page=True),
        ).crawl(BASE)
        html = [p for p in r.pages if "text/html" in p.mime_type]
        assert len(html) == 5
        assert len(r.pages) > 10  # assets don't count toward the limit

    def test_limited_mime_types(self, sample_site_corpus):
        r = CrawlOracle(
            sample_site_corpus, CrawlConfig(valid_mime_types=["text/html"])
        ).crawl(BASE)
        assert sum(p.permitted for p in r.pages) == 8
        assert all(
            p.mime_type == "text/html" for p in r.pages if p.permitted
        )


class TestRedirects:
    def test_chain_golden(self):
        # cobweb_spec.rb:138-170
        corpus = fx.build_redirect_corpus()
        r = CrawlOracle(
            corpus,
            CrawlConfig(internal_urls=["http://redirect-me.com/*"]),
        ).crawl("http://redirect-me.com/redirect.html")
        p = r.pages[0]
        assert p.url == "http://redirected-to.com/redirected.html"
        assert p.mime_type == "text/html"
        assert p.redirect_through == [
            "http://redirect-me.com/redirect.html",
            "http://redirected-to.com/redirect2.html",
            "http://redirected-to.com/redirected.html",
        ]
        assert r.stats["total_redirects"] == 3

    def test_no_follow(self):
        corpus = fx.build_redirect_corpus()
        r = CrawlOracle(
            corpus,
            CrawlConfig(
                follow_redirects=False,
                internal_urls=["http://redirect-me.com/*"],
            ),
        ).crawl("http://redirect-me.com/redirect.html")
        p = r.pages[0]
        assert p.url == "http://redirect-me.com/redirect.html"
        assert p.status_code == 301
        assert p.redirect_through is None

    def test_redirect_limit_error_row(self):
        corpus = fx.build_redirect_loop_corpus(hops=30)
        r = CrawlOracle(
            corpus,
            CrawlConfig(internal_urls=["http://loop.example.com/*"]),
        ).crawl("http://loop.example.com/hop0.html")
        p = r.pages[0]
        assert p.status_code == 0
        assert p.mime_type == "error/dnslookup"
        assert p.error == "Redirect Limit reached"


# Inline stand-in for the reference's spec/samples/robots.txt, reduced to
# the groups its precedence specs exercise (spec/cobweb/robots_spec.rb).
GOOGLE_STYLE_ROBOTS_TXT = """\
# comment lines and blank lines are skipped
User-agent: google
Disallow: /

User-agent: cybermapper
Allow: /

User-agent: *
Allow: /catalogs/about
Disallow: /search
Disallow: /catalogs
"""


def _google_style_rules():
    return RobotsRules(
        fx.parse_robots_txt("localhost", GOOGLE_STYLE_ROBOTS_TXT)
    )


class TestRobots:
    def test_google_disallow_all(self):
        rules = _google_style_rules()
        assert not rules.allowed("http://localhost/anything", "google")
        assert not rules.allowed("http://localhost/", "google")

    def test_cybermapper_allow_all(self):
        rules = _google_style_rules()
        assert rules.allowed("http://localhost/anything", "cybermapper")
        # its own group wins over the '*' group's /search disallow
        assert rules.allowed("http://localhost/search?q=x", "cybermapper")

    def test_wildcard_fallback(self):
        rules = _google_style_rules()
        # unknown UA falls back to '*' — /search disallowed for *
        assert not rules.allowed("http://localhost/search?q=x", "cobweb")
        assert rules.allowed("http://localhost/notlisted", "cobweb")

    def test_allow_before_disallow(self):
        # /catalogs disallowed but /catalogs/about allowed first
        rules = _google_style_rules()
        assert rules.allowed("http://localhost/catalogs/about", "cobweb")
        assert not rules.allowed("http://localhost/catalogs/other", "cobweb")

    def test_unknown_host_allowed(self):
        rules = RobotsRules([])
        assert rules.allowed("http://anywhere.com/x", "cobweb")

    def test_obey_robots_in_crawl(self, sample_site_corpus):
        robots = RobotsRules(
            fx.sample_site_robots_rules(host="localhost:3532")
        )
        cfg = CrawlConfig(obey_robots=True)
        r = CrawlOracle(sample_site_corpus, cfg, robots=robots).crawl(BASE)
        fetched = set(r.fetch_sequence)
        # sample_site robots.txt disallows /forms, /gallery, /more.html
        assert "http://localhost:3532/forms.html" not in fetched
        assert "http://localhost:3532/gallery.html" not in fetched
        assert "http://localhost:3532/more.html" not in fetched
        assert "http://localhost:3532/typography.html" in fetched


class TestPoliteness:
    def test_budget_defers_within_host(self, sample_site_corpus):
        cfg = CrawlConfig(host_budget=3)
        r = CrawlOracle(sample_site_corpus, cfg).crawl(BASE)
        # same final coverage, more waves
        assert sum(p.permitted for p in r.pages) == 77
        from collections import Counter

        per_wave_host = Counter((p.wave_id,) for p in r.pages)
        assert all(v <= 3 for v in per_wave_host.values())

    def test_no_budget_single_host_one_wave_per_depth(
        self, sample_site_corpus
    ):
        r = CrawlOracle(sample_site_corpus, CrawlConfig()).crawl(BASE)
        assert {p.wave_id for p in r.pages} == {p.depth for p in r.pages}


class TestCrawlLinkedExternal:
    def test_external_fetched_not_expanded(self):
        corpus = {
            "http://in.com/": fx.OracleDoc(
                doc_id="http://in.com/",
                spans=[
                    ("a", "http://in.com/a.html", None, 0),
                    ("a", "http://out.com/x.html", None, 1),
                ],
            ),
            "http://in.com/a.html": fx.OracleDoc(
                doc_id="http://in.com/a.html", spans=[]
            ),
            "http://out.com/x.html": fx.OracleDoc(
                doc_id="http://out.com/x.html",
                spans=[("a", "http://out.com/y.html", None, 0)],
            ),
        }
        r = CrawlOracle(
            corpus, CrawlConfig(crawl_linked_external=True)
        ).crawl("http://in.com/")
        fetched = set(r.fetch_sequence)
        assert "http://out.com/x.html" in fetched
        assert "http://out.com/y.html" not in fetched
        r2 = CrawlOracle(corpus, CrawlConfig()).crawl("http://in.com/")
        assert "http://out.com/x.html" not in set(r2.fetch_sequence)
