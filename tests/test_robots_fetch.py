"""Live robots.txt fetch + enforcement (r5/r6, beyond-reference surface).

parse_robots_policy: RFC 9309 — group selection, Allow AND Disallow rules, ``*``
and trailing-``$`` wildcards, longest-match precedence (allow wins ties).
E2E: a DrainLoop with HttpFetcher against a real local HTTP server serving
robots rules — the engine must GET /robots.txt ONCE per host per TTL, commit
the rules into the catalog, never GET a disallowed path, fetch Allow-carved
paths inside a disallowed subtree, and carry stored rules forward when a
refetch is unreachable (5xx); the config-only static path stays untouched.
"""

from __future__ import annotations

import tempfile
from collections import defaultdict

from govuk_crawler_worker_spark.config import CrawlConfig
from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
from govuk_crawler_worker_spark.plans.robots import (
    parse_robots_policy,
    rule_regex,
    rules_to_structs,
)
from govuk_crawler_worker_spark.sources.catalog import Catalog


def _dis(txt, agent="govuk_crawler_worker_spark"):
    """Disallow patterns only — the r5 test surface, kept for goldens."""
    return [p for p, allow in parse_robots_policy(txt, agent)[0] if not allow]


class TestParseRobots:
    def test_star_group(self):
        txt = "User-agent: *\nDisallow: /private\nDisallow: /tmp\n"
        assert parse_robots_policy(txt)[0] == [("/private", False), ("/tmp", False)]

    def test_specific_agent_wins_over_star(self):
        txt = (
            "User-agent: *\nDisallow: /all\n\n"
            "User-agent: govuk_crawler_worker_spark\nDisallow: /mine\n"
        )
        assert _dis(txt) == ["/mine"]
        assert _dis(txt, agent="otherbot") == ["/all"]

    def test_multi_agent_group_comments_and_allow(self):
        txt = (
            "# comment\nUser-agent: a\nUser-agent: govuk_crawler_worker_spark\n"
            "Disallow: /x # trailing\nAllow: /x/ok\n"
        )
        # Allow is now a first-class rule (RFC 9309 §2.2.2)
        assert parse_robots_policy(txt)[0] == [("/x", False), ("/x/ok", True)]

    def test_empty_disallow_is_allow_all(self):
        assert parse_robots_policy("User-agent: *\nDisallow:\n")[0] == []
        assert parse_robots_policy("")[0] == []

    def test_longest_agent_match_wins(self):
        txt = (
            "User-agent: govuk\nDisallow: /short\n\n"
            "User-agent: govuk_crawler\nDisallow: /long\n"
        )
        assert _dis(txt) == ["/long"]


class TestRuleRegexAndPrecedence:
    """RFC 9309 §2.2.2-§2.2.3 decision goldens, evaluated via the same
    translation the engine stores (rule_regex) and a pure-Python replica of
    the columnar longest-match verdict."""

    @staticmethod
    def _blocked(txt: str, target: str, agent="govuk_crawler_worker_spark") -> bool:
        import re

        best_d, best_a = -1, -1
        for r in rules_to_structs(parse_robots_policy(txt, agent)[0]):
            if re.search(r["rx"], target):
                if r["allow"]:
                    best_a = max(best_a, r["n"])
                else:
                    best_d = max(best_d, r["n"])
        return best_d > best_a

    def test_regex_translation(self):
        assert rule_regex("/private") == "^/private"
        assert rule_regex("/*.pdf$") == "^/.*\\.pdf$"
        assert rule_regex("/a*b") == "^/a.*b"
        assert rule_regex("/end$") == "^/end$"

    def test_allow_carveout_in_disallowed_tree(self):
        txt = "User-agent: *\nDisallow: /\nAllow: /public/\n"
        assert not self._blocked(txt, "/public/page")
        assert self._blocked(txt, "/private/page")
        assert self._blocked(txt, "/")

    def test_wildcard_star(self):
        txt = "User-agent: *\nDisallow: /private*\n"
        assert self._blocked(txt, "/private123/x")
        assert not self._blocked(txt, "/public")

    def test_wildcard_suffix_anchor(self):
        txt = "User-agent: *\nDisallow: /*.pdf$\n"
        assert self._blocked(txt, "/docs/report.pdf")
        assert not self._blocked(txt, "/docs/report.pdfx")
        assert not self._blocked(txt, "/docs/report.html")

    def test_longest_match_wins(self):
        # RFC 9309 §2.2.2 example shape: the more specific allow overrides
        txt = "User-agent: *\nDisallow: /page\nAllow: /page/public\n"
        assert self._blocked(txt, "/page/secret")
        assert not self._blocked(txt, "/page/public/x")

    def test_tie_goes_to_allow(self):
        txt = "User-agent: *\nDisallow: /dir/\nAllow: /dir/$\n"
        # "/dir/" target: disallow "/dir/" (n=5) vs allow "/dir/$" (n=6)
        assert not self._blocked(txt, "/dir/")
        assert self._blocked(txt, "/dir/sub")
        # exact-length tie: same pattern both ways → allow wins
        txt2 = "User-agent: *\nDisallow: /both\nAllow: /both\n"
        assert not self._blocked(txt2, "/both/x")

    def test_query_string_rules_match(self):
        # enforcement target is path + '?query' so rules constraining the
        # query string (common for session ids) actually bite
        txt = "User-agent: *\nDisallow: /*?session=\n"
        assert self._blocked(txt, "/a?session=123")
        assert not self._blocked(txt, "/a")

    def test_no_match_allows(self):
        assert not self._blocked("User-agent: *\nDisallow: /x\n", "/y")


def _serve(pages: dict[str, tuple[int, str, bytes]], counts):
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class H(BaseHTTPRequestHandler):
        def do_GET(self):
            counts[self.path] += 1
            hit = pages.get(self.path)
            if callable(hit):
                hit = hit(counts[self.path])
            if hit is None:
                self.send_response(404)
                self.end_headers()
                return
            status, ctype, body = hit
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def _proxy_opener(base):
    # closure → cloudpickle ships it by value to executor python workers
    def op(url, headers, timeout_s):
        from urllib.parse import urlsplit

        from govuk_crawler_worker_spark.plans.fetch import default_opener

        u = urlsplit(url)
        local = base + "/" + u.netloc + u.path + (("?" + u.query) if u.query else "")
        return default_opener(local, headers, timeout_s)

    return op


def _run_drain(spark, pages, cfg, max_batches=10, catalog=None):
    from govuk_crawler_worker_spark.plans.fetch import HttpFetcher

    counts = defaultdict(int)
    srv, base = _serve(pages, counts)
    try:
        if catalog is None:
            catalog = Catalog(spark, tempfile.mkdtemp(prefix="robots_"))
        loop = DrainLoop(
            spark,
            catalog,
            cfg,
            fetcher=HttpFetcher(cfg, opener=_proxy_opener(base)),
            fetch_robots=True,
        )
        if "frontier" not in catalog.latest().get("schemas", {}):
            loop.seed(
                spark.createDataFrame(
                    [(u, 0) for u in cfg.root_urls], "url string, priority int"
                )
            )
        loop.drain(max_batches=max_batches)
    finally:
        srv.shutdown()
    return catalog, counts


class TestRobotsFetchDrain:
    def test_drain_fetches_rules_once_and_never_gets_disallowed(self, spark):
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        pages = {
            f"/{host}/": (200, html, b'<a href="/a">a</a><a href="/private/x">p</a>'),
            f"/{host}/a": (200, html, b"<p>ok</p>"),
            f"/{host}/private/x": (200, html, b"<p>secret</p>"),
            f"/{host}/robots.txt": (
                200,
                "text/plain",
                b"User-agent: *\nDisallow: /private\n",
            ),
        }
        cfg = CrawlConfig(root_urls=(f"https://{host}/",))
        catalog, counts = _run_drain(spark, pages, cfg)

        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/" in fetched
        assert f"https://{host}/a" in fetched
        assert f"https://{host}/private/x" not in fetched
        # the disallowed path was never requested at all (claim-time drop,
        # checked before the GET inside the fetch group)
        assert counts[f"/{host}/private/x"] == 0
        # exactly ONE robots GET across the whole multi-batch drain (TTL'd)
        assert counts[f"/{host}/robots.txt"] == 1
        # and the rules are catalog state (resume does not refetch)
        rules = {
            r["host"]: [(s["rx"], s["n"], s["allow"]) for s in r["rules"]]
            for r in catalog.read("robots").collect()
        }
        assert rules == {host: [("^/private", 8, False)]}

    def test_allow_carved_path_is_fetched(self, spark):
        """RFC 9309 §2.2.2: Disallow:/ + Allow:/public/ — the carve-out MUST
        be crawled (the r5 Allow-ignoring parser made this site entirely
        uncrawlable)."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        pages = {
            f"/{host}/start": (
                200,
                html,
                b'<a href="/public/a">a</a><a href="/hidden/b">b</a>'
                b'<a href="/doc.pdf">c</a>',
            ),
            f"/{host}/public/a": (200, html, b"<p>public</p>"),
            f"/{host}/hidden/b": (200, html, b"<p>hidden</p>"),
            f"/{host}/doc.pdf": (200, html, b"<p>pdf</p>"),
            f"/{host}/robots.txt": (
                200,
                "text/plain",
                b"User-agent: *\nDisallow: /\nAllow: /start\nAllow: /public/\n"
                b"Disallow: /*.pdf$\n",
            ),
        }
        cfg = CrawlConfig(root_urls=(f"https://{host}/start",))
        catalog, counts = _run_drain(spark, pages, cfg)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/start" in fetched
        assert f"https://{host}/public/a" in fetched  # Allow carve-out crawled
        assert f"https://{host}/hidden/b" not in fetched  # Disallow: /
        assert f"https://{host}/doc.pdf" not in fetched  # wildcard rule
        assert counts[f"/{host}/hidden/b"] == 0
        assert counts[f"/{host}/doc.pdf"] == 0

    def test_unreachable_refetch_carries_stored_rules_forward(self, spark):
        """RFC 9309 §2.3.1.4: a 5xx refetch must NOT replace known Disallow
        rules with allow-all — the stored rules ride forward under the new
        fetched_batch (ADVICE r5 medium)."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"

        def robots(hit_count):
            if hit_count == 1:
                return (200, "text/plain", b"User-agent: *\nDisallow: /private\n")
            return (503, "text/plain", b"")

        pages = {
            f"/{host}/": (
                200,
                html,
                b'<a href="/a">a</a><a href="/b">b</a><a href="/private/x">p</a>',
            ),
            f"/{host}/a": (200, html, b'<a href="/b">b</a>'),
            f"/{host}/b": (200, html, b"<p>ok</p>"),
            f"/{host}/private/x": (200, html, b"<p>secret</p>"),
            f"/{host}/robots.txt": robots,
        }
        # TTL = one batch → every batch refetches robots; batches 2+ get 503
        cfg = CrawlConfig(root_urls=(f"https://{host}/",), robots_ttl_s=1.0)
        catalog, counts = _run_drain(spark, pages, cfg)
        assert counts[f"/{host}/robots.txt"] >= 2  # the 503 path was exercised
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/a" in fetched
        assert f"https://{host}/private/x" not in fetched
        assert counts[f"/{host}/private/x"] == 0
        # stored rules survived the 503 (not wiped to allow-all)
        rules = {
            r["host"]: [(s["rx"], s["allow"]) for s in (r["rules"] or [])]
            for r in catalog.read("robots").collect()
        }
        assert rules == {host: [("^/private", False)]}

    def test_unreachable_first_fetch_means_complete_disallow(self, spark):
        """5xx with NO stored rules → RFC complete disallow: nothing is
        crawled (fail-closed, the polite direction)."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        pages = {
            f"/{host}/": (200, html, b'<a href="/a">a</a>'),
            f"/{host}/a": (200, html, b"<p>ok</p>"),
            f"/{host}/robots.txt": (503, "text/plain", b""),
        }
        cfg = CrawlConfig(root_urls=(f"https://{host}/",))
        catalog, counts = _run_drain(spark, pages, cfg)
        # NOTHING was crawled: the fetched table was never even created
        assert not catalog.exists("fetched")
        assert counts[f"/{host}/"] == 0
        # the complete-disallow rule is stored state (TTL'd like any rules)
        rules = {
            r["host"]: [(s["rx"], s["allow"]) for s in r["rules"]]
            for r in catalog.read("robots").collect()
        }
        assert rules == {host: [("^/", False)]}

    def test_unreachable_robots_404_is_allow_all_and_static_rules_still_apply(
        self, spark
    ):
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        pages = {  # NO robots.txt entry → server 404s it
            f"/{host}/": (200, html, b'<a href="/a">a</a><a href="/cfgblock/x">c</a>'),
            f"/{host}/a": (200, html, b"<p>ok</p>"),
            f"/{host}/cfgblock/x": (200, html, b"<p>blocked by config</p>"),
        }
        cfg = CrawlConfig(
            root_urls=(f"https://{host}/",),
            # static config rules must keep applying on the live path
            robots_disallow={host: ("/cfgblock",)},
        )
        catalog, counts = _run_drain(spark, pages, cfg)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        # 404 robots = allow-all: /a crawled; static config rule still blocks
        assert f"https://{host}/a" in fetched
        assert f"https://{host}/cfgblock/x" not in fetched
        assert counts[f"/{host}/cfgblock/x"] == 0
        # the (empty) rules row is still committed so the TTL applies
        rules = {
            r["host"]: list(r["rules"]) for r in catalog.read("robots").collect()
        }
        assert rules == {host: []}


class TestParseRobotsEdgeCases:
    def test_crlf_and_mixed_case_keys(self):
        txt = "USER-AGENT: *\r\nDisAllow: /a\r\n\r\nSitemap: https://x/s.xml\r\n"
        assert _dis(txt) == ["/a"]

    def test_rules_before_any_agent_are_ignored(self):
        # a headerless rule belongs to no group (RFC 9309: groups start
        # with user-agent lines)
        assert _dis("Disallow: /early\nUser-agent: *\nDisallow: /x\n") == ["/x"]

    def test_two_star_groups_combine(self):
        txt = "User-agent: *\nDisallow: /one\n\nUser-agent: *\nDisallow: /two\n"
        # RFC 9309 §2.2.1: multiple groups matching at the same specificity
        # combine their rules — taking only the first would under-block
        assert _dis(txt) == ["/one", "/two"]

    def test_specific_groups_combine_but_star_excluded(self):
        txt = (
            "User-agent: govuk_crawler\nDisallow: /a\n"
            "User-agent: *\nDisallow: /star\n"
            "User-agent: govuk_crawler\nDisallow: /b\n"
        )
        assert _dis(txt) == ["/a", "/b"]

    def test_sitemap_between_agent_lines_does_not_split_group(self):
        # sitemap is a NON-group line (RFC 9309 §2.2.2): it must not end a
        # user-agent run — splitting here would hand agent a allow-all
        txt = (
            "User-agent: a\nSitemap: https://x/s.xml\nUser-agent: *\n"
            "Disallow: /p\n"
        )
        assert _dis(txt, agent="a") == ["/p"]

    def test_agent_case_insensitive(self):
        txt = "User-agent: GOVUK_CRAWLER_WORKER_SPARK\nDisallow: /mine\n"
        assert _dis(txt) == ["/mine"]

    def test_garbage_lines_ignored(self):
        txt = "not a directive\nUser-agent: *\n<<<>>>\nDisallow: /ok\n"
        assert _dis(txt) == ["/ok"]

    def test_empty_allow_ignored(self):
        assert parse_robots_policy("User-agent: *\nAllow:\nDisallow: /x\n")[0] == [
            ("/x", False)
        ]


class TestParseCrawlDelay:
    def test_winning_group_delay(self):
        txt = (
            "User-agent: *\nCrawl-delay: 5\nDisallow: /x\n\n"
            "User-agent: govuk_crawler\nCrawl-delay: 9\n"
        )
        assert parse_robots_policy(txt)[1] == 9.0  # specific group wins
        assert parse_robots_policy(txt, agent="otherbot")[1] == 5.0

    def test_absent_and_invalid(self):
        assert parse_robots_policy("User-agent: *\nDisallow: /x\n")[1] is None
        assert parse_robots_policy("User-agent: *\nCrawl-delay: soon\n")[1] is None
        assert parse_robots_policy("User-agent: *\nCrawl-delay: -3\n")[1] is None

    def test_combining_groups_take_max(self):
        txt = (
            "User-agent: *\nCrawl-delay: 2\n\n"
            "User-agent: *\nCrawl-delay: 7\nDisallow: /y\n"
        )
        # same-specificity groups combine; the most polite delay wins
        assert parse_robots_policy(txt)[1] == 7.0

    def test_delay_does_not_leak_rules(self):
        txt = "User-agent: *\nCrawl-delay: 4\nDisallow: /q\n"
        assert parse_robots_policy(txt)[0] == [("/q", False)]


class TestFetchRobotsParsesOnce:
    def test_one_group_pass_per_fetched_file(self, monkeypatch):
        """fetch_robots_delta's executor body, driven in-process through a
        stand-in frame: each fetched robots.txt is group-parsed once, for
        its rules and its Crawl-delay together."""
        import pandas as pd

        from govuk_crawler_worker_spark.plans import robots

        calls = []
        winning_groups = robots._winning_groups

        def counted(text, agent):
            calls.append(text)
            return winning_groups(text, agent)

        monkeypatch.setattr(robots, "_winning_groups", counted)
        bodies = {
            "a.example": b"User-agent: *\nCrawl-delay: 3\nDisallow: /x\n",
            "b.example": b"User-agent: *\nDisallow: /y\n",
        }

        def opener(url, headers, timeout_s):
            return 200, "text/plain", bodies[url.split("/")[2]], url

        class Frame:  # the mapInPandas contract, run on the driver
            def mapInPandas(self, fn, schema):
                hosts = pd.DataFrame(
                    {"host": list(bodies), "scheme": ["https"] * len(bodies)}
                )
                return pd.concat(list(fn(iter([hosts]))))

        out = robots.fetch_robots_delta(Frame(), opener, lambda h: {}, 1.0, 0)
        assert len(calls) == len(bodies)
        assert out["crawl_delay"].tolist()[0] == 3.0
        assert pd.isna(out["crawl_delay"].tolist()[1])
        assert [[r["allow"] for r in rs] for rs in out["rules"]] == [[False], [False]]


class TestParseSitemaps:
    def test_sitemap_lines_are_agent_independent(self):
        from govuk_crawler_worker_spark.plans.robots import parse_sitemaps

        txt = (
            "Sitemap: https://x/a.xml\nUser-agent: otherbot\nDisallow: /\n"
            "Sitemap: https://x/b.xml # comment\nSitemap: https://x/a.xml\n"
        )
        assert parse_sitemaps(txt) == ["https://x/a.xml", "https://x/b.xml"]

    def test_loc_extraction_and_entities(self):
        from govuk_crawler_worker_spark.plans.robots import parse_sitemap_locs

        xml = (
            '<?xml version="1.0"?><urlset>'
            "<url><loc> https://x/p?a=1&amp;b=2 </loc></url>"
            "<url><LOC>https://x/q</LOC></url>"
            "<url><loc>https://x/q</loc></url></urlset>"
        )
        assert parse_sitemap_locs(xml) == ["https://x/p?a=1&b=2", "https://x/q"]


class TestSitemapDrain:
    def test_sitemap_urls_are_discovered_and_gated(self, spark):
        """robots.txt Sitemap → sitemap INDEX → child sitemap → pages that
        no crawled page links to: they must still be fetched, while
        cross-host and blacklisted <loc> entries are gated out; the sitemap
        GETs happen exactly once per robots TTL."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        xml = "application/xml"
        pages = {
            f"/{host}/": (200, html, b"<p>no links at all</p>"),
            f"/{host}/orphan1": (200, html, b"<p>found via sitemap</p>"),
            f"/{host}/orphan2": (200, html, b"<p>me too</p>"),
            f"/{host}/search/hidden": (200, html, b"<p>blacklisted</p>"),
            f"/{host}/robots.txt": (
                200,
                "text/plain",
                f"User-agent: *\nDisallow: /search\nSitemap: https://{host}/sitemap.xml\n".encode(),
            ),
            f"/{host}/sitemap.xml": (
                200,
                xml,
                f'<sitemapindex><sitemap><loc>https://{host}/sitemap-0.xml</loc>'
                f"</sitemap></sitemapindex>".encode(),
            ),
            f"/{host}/sitemap-0.xml": (
                200,
                xml,
                (
                    f"<urlset>"
                    f"<url><loc>https://{host}/orphan1</loc></url>"
                    f"<url><loc>https://{host}/orphan2</loc></url>"
                    f"<url><loc>https://evil.example.com/x</loc></url>"
                    f"<url><loc>https://{host}/search/hidden</loc></url>"
                    f"</urlset>"
                ).encode(),
            ),
        }
        cfg = CrawlConfig(
            root_urls=(f"https://{host}/",), blacklist_paths=("/search",)
        )
        catalog, counts = _run_drain(spark, pages, cfg, max_batches=12)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/orphan1" in fetched
        assert f"https://{host}/orphan2" in fetched
        assert f"https://{host}/search/hidden" not in fetched
        assert counts[f"/{host}/search/hidden"] == 0
        assert all("evil.example.com" not in u for u in fetched)
        # exactly one GET per sitemap document across the whole drain (TTL)
        assert counts[f"/{host}/sitemap.xml"] == 1
        assert counts[f"/{host}/sitemap-0.xml"] == 1
        # the declared sitemap is catalog state
        row = catalog.read("robots").collect()[0]
        assert list(row["sitemaps"]) == [f"https://{host}/sitemap.xml"]


class TestGzipSitemapDrain:
    def test_gzipped_sitemap_chain_reaches_orphan(self, spark):
        """sitemaps.org's compressed format (the dominant real deployment):
        a gzipped sitemapindex chaining to a gzipped child sitemap must
        still surface its orphan <loc> pages — r6 silently decoded the gzip
        bytes as UTF-8 and got zero URLs (r6 VERDICT 'what's wrong #2')."""
        import gzip

        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        gz = "application/gzip"
        index_xml = (
            f"<sitemapindex><sitemap><loc>https://{host}/sitemap-0.xml.gz</loc>"
            f"</sitemap></sitemapindex>"
        ).encode()
        child_xml = (
            f"<urlset><url><loc>https://{host}/orphan-gz</loc></url></urlset>"
        ).encode()
        pages = {
            f"/{host}/": (200, html, b"<p>no links</p>"),
            f"/{host}/orphan-gz": (200, html, b"<p>found via gz sitemap</p>"),
            f"/{host}/robots.txt": (
                200,
                "text/plain",
                f"User-agent: *\nSitemap: https://{host}/sitemap.xml.gz\n".encode(),
            ),
            f"/{host}/sitemap.xml.gz": (200, gz, gzip.compress(index_xml)),
            f"/{host}/sitemap-0.xml.gz": (200, gz, gzip.compress(child_xml)),
        }
        cfg = CrawlConfig(root_urls=(f"https://{host}/",))
        catalog, counts = _run_drain(spark, pages, cfg, max_batches=12)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/orphan-gz" in fetched
        # each gzipped sitemap document GET'd exactly once per robots TTL
        assert counts[f"/{host}/sitemap.xml.gz"] == 1
        assert counts[f"/{host}/sitemap-0.xml.gz"] == 1


class TestRobotsUnreachableRetry:
    def test_transient_5xx_first_contact_recovers(self, spark):
        """A 503 robots.txt on FIRST contact assumes complete disallow (the
        polite direction) but must not discard the host forever: the claimed
        URLs are requeued — never GET'd in the interim — and the robots
        refetch happens after ttl/8 batches, not a full TTL (r6 ADVICE).
        Here the 503 clears on the second hit and the whole site is then
        crawled within the same short drain."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"

        def robots(hit_count):
            if hit_count == 1:
                return (503, "text/plain", b"")
            return (200, "text/plain", b"User-agent: *\nDisallow: /private\n")

        pages = {
            f"/{host}/": (200, html, b'<a href="/a">a</a><a href="/private/x">p</a>'),
            f"/{host}/a": (200, html, b"<p>ok</p>"),
            f"/{host}/private/x": (200, html, b"<p>secret</p>"),
            f"/{host}/robots.txt": robots,
        }
        # ttl = 16 batches → retry window = 16 // 8 = 2 batches; without the
        # retry stamp + requeue the drain below would fetch NOTHING (root
        # dropped at batch 0, refetch only at batch 16 ≫ max_batches)
        cfg = CrawlConfig(root_urls=(f"https://{host}/",), robots_ttl_s=480.0)
        catalog, counts = _run_drain(spark, pages, cfg, max_batches=10)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert f"https://{host}/" in fetched
        assert f"https://{host}/a" in fetched
        # the real rules (fetched on retry) still enforce
        assert f"https://{host}/private/x" not in fetched
        assert counts[f"/{host}/private/x"] == 0
        # nothing was GET'd during the disallow-all window, and the refetch
        # happened on the retry schedule (exactly 2 robots GETs: 503 + 200)
        assert counts[f"/{host}/robots.txt"] == 2
        rules = {
            r["host"]: [(s["rx"], s["allow"]) for s in (r["rules"] or [])]
            for r in catalog.read("robots").collect()
        }
        assert rules == {host: [("^/private", False)]}
        # the recovered row is no longer marked unreachable
        row = catalog.read("robots").collect()[0]
        assert not row["unreachable"]


class TestCrawlDelayBudgetArithmetic:
    def test_accumulated_fairness_sums_and_zero_batches(self, spark):
        """Σ over N batches == floor(N·P/d) exactly (no drift, no
        starvation), and d > P produces genuine 0-budget batches."""
        from pyspark.sql import functions as F

        from govuk_crawler_worker_spark.plans.robots import crawl_delay_budget_col

        for d, p, n in ((45.0, 30.0, 12), (60.0, 30.0, 9), (7.5, 30.0, 5)):
            vals = [
                spark.range(1)
                .select(crawl_delay_budget_col(F.lit(d), b, p).alias("v"))
                .collect()[0]["v"]
                for b in range(n)
            ]
            assert sum(vals) == int(n * p // d), (d, vals)
            if d > p:
                assert 0 in vals  # throttled batches actually happen
            assert all(v >= 0 for v in vals)


class TestCrawlDelayDrain:
    def test_live_crawl_delay_throttles_claims(self, spark):
        """Crawl-delay: 45 over the default 30 s batch period → budget
        pattern 0,1,1,0,… per batch: from the batch AFTER the rules land,
        the host is fetched at most once per batch, every page is still
        eventually crawled, and the gaps prove zero-budget batches passed
        without starving the drain."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"
        links = "".join(f'<a href="/p{i}">p{i}</a>' for i in range(4))
        pages = {f"/{host}/": (200, html, links.encode())}
        for i in range(4):
            pages[f"/{host}/p{i}"] = (200, html, b"<p>x</p>")
        pages[f"/{host}/robots.txt"] = (
            200,
            "text/plain",
            b"User-agent: *\nCrawl-delay: 45\n",
        )
        cfg = CrawlConfig(root_urls=(f"https://{host}/",))
        catalog, counts = _run_drain(spark, pages, cfg, max_batches=40)
        fetched = [
            (r["batch_id"], r["url"]) for r in catalog.read("fetched").collect()
        ]
        assert {u for _b, u in fetched} == {f"https://{host}/"} | {
            f"https://{host}/p{i}" for i in range(4)
        }
        per_batch: dict[int, int] = {}
        for b, _u in fetched:
            per_batch[b] = per_batch.get(b, 0) + 1
        first = min(per_batch)
        # every batch after the rules landed is throttled to ≤ 1 GET
        assert all(n <= 1 for b, n in per_batch.items() if b > first)
        # the d > P budget forced at least one idle batch between fetches
        later = sorted(b for b in per_batch if b > first)
        assert any(y - x > 1 for x, y in zip(later, later[1:]))
        # the delay is catalog state (the tiny side table, not a rescan)
        delays = {
            r["host"]: r["crawl_delay"]
            for r in catalog.read("robots_delays").collect()
        }
        assert delays == {host: 45.0}


class TestRobotsPersistentUnreachable:
    def test_persistent_5xx_keeps_retrying_never_fetches(self, spark):
        """While robots.txt stays 5xx the host must stay fully blocked (RFC
        9309 §2.3.1.4 assumed disallow) but RETRYABLE: the refetch fires
        every ttl/8 batches (not once per TTL, not every batch) and no page
        is ever GET'd.  The claims keep requeueing rather than dying, so
        when the server finally recovers AFTER several failed windows the
        site is still crawled to completion."""
        host = "www.gov.uk"
        html = "text/html; charset=utf-8"

        def robots(hit_count):
            if hit_count <= 3:  # three full retry windows of 5xx
                return (503, "text/plain", b"")
            return (200, "text/plain", b"User-agent: *\nDisallow: /private\n")

        pages = {
            f"/{host}/": (200, html, b'<a href="/a">a</a><a href="/private/x">p</a>'),
            f"/{host}/a": (200, html, b"<p>ok</p>"),
            f"/{host}/private/x": (200, html, b"<p>secret</p>"),
            f"/{host}/robots.txt": robots,
        }
        # ttl 16 batches → retry window 2: robots GETs at b≈0,2,4,6 (the
        # 4th succeeds); pages crawl from ~b6; drain 14 batches covers it
        cfg = CrawlConfig(root_urls=(f"https://{host}/",), robots_ttl_s=480.0)
        catalog, counts = _run_drain(spark, pages, cfg, max_batches=14)
        fetched = {r["url"] for r in catalog.read("fetched").collect()}
        assert fetched == {f"https://{host}/", f"https://{host}/a"}
        assert counts[f"/{host}/private/x"] == 0
        # exactly 4 robots GETs: 3 failed windows + the recovering 200 —
        # proves the ttl/8 schedule held across REPEATED unreachable rounds
        assert counts[f"/{host}/robots.txt"] == 4
        row = catalog.read("robots").collect()[0]
        assert not row["unreachable"]
        assert [(s["rx"], s["allow"]) for s in row["rules"]] == [("^/private", False)]
