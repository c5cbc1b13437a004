"""Golden E2E: Spark engine vs pure-Python oracle on the derived corpus.

Asserts (SURVEY.md §5.2-2 / north rule):
(a) final seen-set equality;
(b) crawl order (wave, host, slot, url) equality;
(c) byte-identical extracted text per url (vs oracle AND corpus text column);
(d) routing of every link to the right (link_type, crawled) partition.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from webcrawler_woc_spark.config import CrawlConfig
from webcrawler_woc_spark.oracle.pyoracle import crawl_oracle
from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order, read_links_out, read_seen
from webcrawler_woc_spark.plans.state import SIDECAR_KEYS, Warehouse
from webcrawler_woc_spark.sources.corpus import pages_from_documents

SEEDS = [("http://host0.example/page/0", 1.0)]
WHITELIST = ["host0.example", "host1.example", "host2.example", "host3.example", "host4.example"]
WORDS = ["merge", "vector"]


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_from_documents(spark, sf_dir).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_dict(pages):
    return {r["url"]: bytes(r["html"]) for r in pages.select("url", "html").collect()}


def run_both(spark, pages, pages_dict, tmp, **kw):
    cfg = CrawlConfig(
        whitelist=kw.get("whitelist", WHITELIST),
        blacklist=kw.get("blacklist"),
        words=kw.get("words", WORDS),
        depth=kw.get("depth", 2),
        host_budget=kw.get("host_budget"),
        timeout_ms=kw.get("timeout_ms"),
    )
    wh = Warehouse(spark, tmp)
    crawl(spark, wh, pages, SEEDS, cfg)
    oracle = crawl_oracle(
        pages_dict,
        SEEDS,
        whitelist=cfg.whitelist,
        blacklist=cfg.blacklist,
        words=cfg.words,
        depth=cfg.depth,
        host_budget=cfg.host_budget,
        timeout_ms=cfg.timeout_ms,
    )
    return wh, oracle


class TestDepth2:
    @pytest.fixture(scope="class")
    def run(self, spark, pages, pages_dict):
        with tempfile.TemporaryDirectory() as tmp:
            yield run_both(spark, pages, pages_dict, tmp)

    def test_seen_set(self, run):
        wh, oracle = run
        engine_seen = {r["url"] for r in read_seen(wh).collect()}
        assert engine_seen == oracle.seen
        assert len(engine_seen) > 1  # more than the seed was crawled

    def test_crawl_order(self, run):
        wh, oracle = run
        engine_order = sorted(
            (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
        )
        assert engine_order == sorted(oracle.crawl_order)

    def test_extracted_text_byte_identical(self, run, pages):
        wh, oracle = run
        rows = wh.read_waves("extracted_text").collect()
        engine_text = {r["url"]: r["text"] for r in rows}
        assert engine_text == oracle.extracted_text
        # and against the corpus golden text column
        golden = {
            r["url"]: r["text"]
            for r in pages.filter(F.col("url").isin(list(engine_text))).collect()
        }
        assert engine_text == golden

    def test_links_out_routing(self, run):
        wh, oracle = run
        engine = {
            (r["url"], r["link_type"], r["crawled"])
            for r in read_links_out(wh).collect()
        }
        expected = {(l["url"], l["link_type"], l["crawled"]) for l in oracle.links_out}
        assert engine == expected

    def test_links_out_fields_exclude_slot(self, run):
        """The JSON sinks (main.py -o) keep the Link fields; the politeness
        slot stored with crawled rows stays internal to the crawl order."""
        wh, _ = run
        assert set(read_links_out(wh).columns) == {
            "url", "url_hash", "host", "content_type", "headers", "crawled",
            "ipv4", "ipv6", "link_type", "contains_words", "wave",
        }

    def test_rejected_disjoint_from_frontier(self, run):
        wh, oracle = run
        rejected = {r["url"] for r in wh.read_waves("rejected").collect()}
        assert rejected == oracle.rejected
        assert not (rejected & oracle.seen & set())  # sanity

    def test_flagged_words(self, run):
        wh, oracle = run
        flagged = {r["url"] for r in wh.read_waves("flagged").collect()}
        assert flagged == oracle.flagged
        assert flagged  # word list matches some docs

    def test_wave_metrics_recorded(self, run):
        wh, _ = run
        for w in range(2):
            counts = wh.wave_counts(w)
            assert counts["scheduled"] >= 1
            assert counts["new_frontier"] >= 0
            assert wh.manifest["waves"][str(w)]["host_lineage"]


class TestPoliteness:
    @pytest.fixture(scope="class")
    def run(self, spark, pages, pages_dict):
        with tempfile.TemporaryDirectory() as tmp:
            yield run_both(spark, pages, pages_dict, tmp, depth=3, host_budget=6)

    def test_seen_set(self, run):
        wh, oracle = run
        assert {r["url"] for r in read_seen(wh).collect()} == oracle.seen

    def test_crawl_order_with_budget(self, run):
        wh, oracle = run
        engine_order = sorted(
            (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
        )
        assert engine_order == sorted(oracle.crawl_order)

    def test_budget_respected(self, run):
        wh, _ = run
        per = (
            read_crawl_order(wh)
            .groupBy("wave", "host")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        # crawl-delay from robots: host h has delay 1 + h % 3; budget 6 =>
        # effective cap = max(1, 6 // delay) in {6, 3, 2}
        for r in per:
            assert r["n"] <= 6


class TestDuplicateSeeds:
    """Seeds naming one url twice are one frontier row, the last priority
    winning as in the oracle: at budget 1 a trimmed copy must not stay
    deferred and be crawled again a wave later, and at budget 2 both copies
    must not be scheduled in wave 0."""

    SEEDS = [
        ("http://host0.example/page/0", 0.5),
        ("http://host0.example/page/1", 1.0),
        ("http://host0.example/page/1", 1.0),
        ("http://host0.example/page/0", 2.0),
    ]

    @pytest.mark.parametrize("budget", [1, 2])
    def test_each_url_crawled_once(self, spark, pages, pages_dict, budget):
        cfg = CrawlConfig(whitelist=WHITELIST, words=WORDS, depth=3, host_budget=budget)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, self.SEEDS, cfg)
            order = sorted(
                (r["wave"], r["host"], r["slot"], r["url"])
                for r in read_crawl_order(wh).collect()
            )
            crawled = sorted(
                r["url"] for r in read_links_out(wh).filter("crawled").collect()
            )
        oracle = crawl_oracle(
            pages_dict, self.SEEDS, whitelist=WHITELIST, words=WORDS, depth=3,
            host_budget=budget,
        )
        assert order == sorted(oracle.crawl_order)
        assert crawled == sorted(l["url"] for l in oracle.links_out if l["crawled"])
        assert len(crawled) == len(set(crawled))
        assert (0, "host0.example", 1, "http://host0.example/page/0") in order


class TestNoListsQuirk:
    def test_only_seed_crawled(self, spark, pages, pages_dict):
        # neither whitelist nor blacklist => should_crawl always false
        # (links.rs:133): only the seed is fetched; every link rejected.
        with tempfile.TemporaryDirectory() as tmp:
            wh, oracle = run_both(
                spark, pages, pages_dict, tmp, whitelist=None, depth=2
            )
            seen = {r["url"] for r in read_seen(wh).collect()}
            assert seen == {SEEDS[0][0]} == oracle.seen


class TestNoDepthMode:
    def test_sitemaps_and_exhaustion(self, spark, pages, pages_dict):
        with tempfile.TemporaryDirectory() as tmp:
            cfg_kw = dict(depth=None, host_budget=None, whitelist=["host0.example"])
            wh, oracle = run_both(spark, pages, pages_dict, tmp, **cfg_kw)
            assert {r["url"] for r in read_seen(wh).collect()} == oracle.seen
            engine_order = sorted(
                (r["wave"], r["host"], r["slot"], r["url"])
                for r in read_crawl_order(wh).collect()
            )
            assert engine_order == sorted(oracle.crawl_order)
            # sitemap-discovered urls (docs 0,10,20 on host0) must be seen
            assert "http://host0.example/page/10" in oracle.seen


class TestTimeoutMode:
    """Op 27: request-timeout simulation — engine and oracle must agree on
    which matched pages time out, and timed-out pages must not be extracted."""

    @pytest.fixture(scope="class")
    def run(self, spark, pages, pages_dict):
        with tempfile.TemporaryDirectory(prefix="wcw_e2e_timeout_") as tmp:
            yield run_both(spark, pages, pages_dict, tmp, depth=3, timeout_ms=10_000)

    def test_seen_and_order_match_oracle(self, run):
        wh, oracle = run
        assert {r["url"] for r in read_seen(wh).collect()} == oracle.seen
        engine_order = sorted(
            (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
        )
        assert engine_order == sorted(oracle.crawl_order)

    def test_timed_out_pages_have_no_text_or_metadata(self, run, pages_dict):
        from webcrawler_woc_spark.oracle.pyoracle import _fetch_ms

        wh, oracle = run
        texts = {r["url"] for r in wh.read_waves("extracted_text").collect()}
        links = {r["url"]: r for r in read_links_out(wh).filter(F.col("crawled")).collect()}
        timed_out = {
            u for u in links if u in pages_dict and _fetch_ms(u) >= 10_000
        }
        assert timed_out, "corpus must contain at least one timed-out URL"
        for u in timed_out:
            assert u not in texts  # body never read
            assert links[u]["content_type"] is None  # failure row: no metadata

    def test_timeout_changes_the_crawl(self, spark, pages, pages_dict):
        # sanity: the gate actually alters the frontier vs no-timeout mode
        with tempfile.TemporaryDirectory(prefix="wcw_e2e_notmo_") as tmp:
            wh_plain, _ = run_both(spark, pages, pages_dict, tmp, depth=3)
            seen_plain = {r["url"] for r in read_seen(wh_plain).collect()}
        with tempfile.TemporaryDirectory(prefix="wcw_e2e_tmo_") as tmp:
            wh_tmo, _ = run_both(
                spark, pages, pages_dict, tmp, depth=3, timeout_ms=10_000
            )
            seen_tmo = {r["url"] for r in read_seen(wh_tmo).collect()}
        assert seen_tmo != seen_plain


class TestOneResponsePerWave:
    """A wave reads one fetch response: the same ``fetched`` and
    ``content_type`` decide its links_out metadata and which bodies it
    parses. Join mode, 10 s timeout; the seeds cover every response kind:
    text/html, charset=utf-8, charset=iso-8859-1 and text/plain pages, a
    timed-out page (page/0) and a url outside the corpus."""

    SEEDS = [
        ("http://host0.example/page/20", 1.0),
        ("http://host0.example/page/30", 1.0),
        ("http://host1.example/page/1", 1.0),
        ("http://host5.example/page/105", 1.0),
        ("http://host1.example/sitemap0.txt", 1.0),
        ("http://host0.example/page/0", 1.0),
        ("http://host2.example/missing/2", 1.0),
    ]

    @pytest.fixture(scope="class")
    def run(self, spark, pages):
        cfg = CrawlConfig(whitelist=WHITELIST, words=WORDS, depth=3, timeout_ms=10_000)
        with tempfile.TemporaryDirectory(prefix="wcw_e2e_response_") as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, self.SEEDS, cfg)
            yield wh

    def test_metadata_and_body_gated_alike(self, run, pages):
        """Per wave, the parsed bodies (extracted_text urls) are the crawled
        links_out rows whose content type passes the MIME gate (NULL on a
        failed or timed-out fetch), and the rows html_body_gate selects over
        the wave's fetch_matched rows."""
        from webcrawler_woc_spark.operators.extract import HTML_MIMES, html_body_gate
        from webcrawler_woc_spark.operators.fetch import (
            default_content_type_expr,
            fetch_matched,
        )

        wh = run
        links = read_links_out(wh).filter(F.col("crawled"))
        texts = wh.read_waves("extracted_text")
        corpus_urls = set()
        kinds = set()
        for wave in range(3):
            crawled = links.filter(F.col("wave") == wave)
            rows = crawled.select("url", "content_type").collect()
            html_rows = {
                r["url"] for r in rows
                if r["content_type"] is not None and r["content_type"].lower() in HTML_MIMES
            }
            matched = fetch_matched(crawled.select("url", "url_hash"), pages)
            gated = {
                r["url"]
                for r in matched.filter(
                    html_body_gate(F.col("url"), default_content_type_expr, 10_000)
                ).select("url").collect()
            }
            text_urls = {
                r["url"] for r in texts.filter(F.col("wave") == wave).select("url").collect()
            }
            assert text_urls == html_rows == gated, wave
            corpus_urls |= {r["url"] for r in matched.select("url").collect()}
            kinds |= {(r["url"] in corpus_urls, r["content_type"]) for r in rows}
        # (in the corpus, content_type) of every kind the seeds hold
        assert {
            (True, "text/html"),
            (True, "text/html; charset=utf-8"),
            (True, "text/html; charset=iso-8859-1"),
            (True, "text/plain"),
            (True, None),
            (False, None),
        } <= kinds


class TestRobotsDisallow:
    """Opt-in robots Disallow gate: a linked /private page must never be
    scheduled when respect_disallow=True; engine == oracle either way."""

    @pytest.fixture(scope="class")
    def tiny(self, spark):
        def page(body):
            return f"<html><body>{body}</body></html>".encode()

        pages_dict = {
            "http://h0.example/robots.txt": b"User-agent: *\nDisallow: /private\n",
            "http://h0.example/page/0": page(
                '<a href="/private/secret">s</a><a href="/page/1">a</a>'
            ),
            "http://h0.example/page/1": page("leaf"),
            "http://h0.example/private/secret": page('<a href="/page/2">hidden</a>'),
            "http://h0.example/page/2": page("reachable only via private"),
        }
        rows = [(u, b, b.decode()) for u, b in pages_dict.items()]
        pages = spark.createDataFrame(rows, "url string, html binary, text string")
        return pages, pages_dict

    def _ct(self, url):
        return "text/plain" if url.endswith("robots.txt") else "text/html"

    def _run(self, spark, tiny, tmp, respect):
        from pyspark.sql import functions as F

        pages, pages_dict = tiny
        ct_expr = lambda url: F.when(
            url.endswith("robots.txt"), F.lit("text/plain")
        ).otherwise(F.lit("text/html"))
        cfg = CrawlConfig(
            whitelist=["h0.example"], depth=3, respect_disallow=respect
        )
        wh = Warehouse(spark, tmp)
        crawl(spark, wh, pages, [("http://h0.example/page/0", 1.0)], cfg,
              content_type_expr=ct_expr)
        oracle = crawl_oracle(
            pages_dict, [("http://h0.example/page/0", 1.0)],
            whitelist=cfg.whitelist, depth=cfg.depth, content_type_fn=self._ct,
            respect_disallow=respect,
        )
        return {r["url"] for r in read_seen(wh).collect()}, oracle.seen

    def test_disallow_blocks_private_subtree(self, spark, tiny):
        with tempfile.TemporaryDirectory() as tmp:
            engine, oracle = self._run(spark, tiny, tmp, respect=True)
        assert engine == oracle
        assert "http://h0.example/private/secret" not in engine
        assert "http://h0.example/page/2" not in engine  # only linked via private

    def test_without_flag_private_is_crawled(self, spark, tiny):
        with tempfile.TemporaryDirectory() as tmp:
            engine, oracle = self._run(spark, tiny, tmp, respect=False)
        assert engine == oracle
        assert "http://h0.example/private/secret" in engine
        assert "http://h0.example/page/2" in engine


class TestTrapFilter:
    """Opt-in crawler-trap gate: a linked trap URL (repeated path segments)
    must never be scheduled when trap_filter=True, and the subtree behind
    it stays unreached; default off crawls it (reference parity)."""

    @pytest.fixture(scope="class")
    def tiny(self, spark):
        def page(body):
            return f"<html><body>{body}</body></html>".encode()

        pages_dict = {
            "http://h0.example/page/0": page(
                '<a href="/a/a/a/loop">t</a><a href="/page/1">a</a>'
            ),
            "http://h0.example/page/1": page("leaf"),
            "http://h0.example/a/a/a/loop": page('<a href="/page/2">deep</a>'),
            "http://h0.example/page/2": page("reachable only via the trap"),
        }
        rows = [(u, b, b.decode()) for u, b in pages_dict.items()]
        pages = spark.createDataFrame(rows, "url string, html binary, text string")
        return pages

    def _run(self, spark, pages, tmp, trap_filter):
        from pyspark.sql import functions as F

        ct_expr = lambda url: F.lit("text/html")
        cfg = CrawlConfig(
            whitelist=["h0.example"], depth=3, trap_filter=trap_filter
        )
        wh = Warehouse(spark, tmp)
        crawl(spark, wh, pages, [("http://h0.example/page/0", 1.0)], cfg,
              content_type_expr=ct_expr)
        return {r["url"] for r in read_seen(wh).collect()}

    def test_trap_subtree_never_scheduled(self, spark, tiny):
        with tempfile.TemporaryDirectory() as tmp:
            seen = self._run(spark, tiny, tmp, trap_filter=True)
        assert "http://h0.example/a/a/a/loop" not in seen
        assert "http://h0.example/page/2" not in seen  # only linked via the trap
        assert "http://h0.example/page/1" in seen  # clean sibling unaffected

    def test_default_off_crawls_the_trap(self, spark, tiny):
        with tempfile.TemporaryDirectory() as tmp:
            seen = self._run(spark, tiny, tmp, trap_filter=False)
        assert "http://h0.example/a/a/a/loop" in seen
        assert "http://h0.example/page/2" in seen


class TestBroadcastFallbackEquivalence:
    def test_shuffle_fallback_crawl_matches_broadcast_crawl(
        self, spark, pages, monkeypatch, tmp_path
    ):
        """Force the size-conditional broadcast OFF (as if every manifest
        count exceeded BROADCAST_MAX_ROWS) and assert the whole crawl —
        seen set, links_out, per-wave counts — is identical to the
        broadcast-path crawl. Proves the scale fallback is semantics-free."""
        import webcrawler_woc_spark.config as cfgmod

        cfg = CrawlConfig(
            whitelist=[f"host{i}.example" for i in range(3)],
            words=["merge"],
            depth=2,
            n_buckets=8,
        )
        seeds = [("http://host0.example/page/0", 1.0)]

        def run(path):
            wh = Warehouse(spark, str(path))
            crawl(spark, wh, pages, seeds, cfg)
            seen = sorted(r["url"] for r in read_seen(wh).collect())
            counts = {w: i["counts"] for w, i in wh.manifest["waves"].items()}
            links = sorted(
                map(repr, read_links_out(wh).select("url", "crawled", "link_type").collect())
            )
            return seen, counts, links

        base = run(tmp_path / "wh_broadcast")
        # wave 0 passes frontier_rows=None (always broadcast); later waves
        # consult the manifest — forcing the threshold to 0 flips every
        # size-gated join to the shuffle fallback
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        fallback = run(tmp_path / "wh_shuffle")
        assert fallback == base


class TestKnownSetGate:
    def test_scanned_seen_set_matches_oracle(self, spark, pages, pages_dict, monkeypatch):
        """Between KNOWN_SET_BROADCAST_MAX_ROWS and BROADCAST_MAX_ROWS the
        wave builds no seen filter and subtracts the seen and rejected sets
        with the scan-only anti_join_scan (plus the scheduled-keys
        anti-join) instead of one broadcast of them. With that gate at 0 and
        the filter gate at its default, a budgeted crawl equals the oracle."""
        import webcrawler_woc_spark.config as cfgmod

        monkeypatch.setattr(cfgmod, "KNOWN_SET_BROADCAST_MAX_ROWS", 0)
        with tempfile.TemporaryDirectory() as tmp:
            wh, oracle = run_both(spark, pages, pages_dict, tmp, depth=3, host_budget=2)
            seen = {r["url"] for r in read_seen(wh).collect()}
            order = sorted(
                (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
            )
            rejected = {r["url"] for r in wh.read_waves("rejected").collect()}
            probes = {
                i["seen_probe"] for i in wh.manifest["waves"].values()
                if "residual_flush" not in i["counts"]
            }
        assert seen == oracle.seen
        assert order == sorted(oracle.crawl_order)
        assert rejected == oracle.rejected
        assert probes == {"exact"}


class TestChildrenGateReplan:
    def test_replanned_wave_matches_ungated_crawl(self, spark, pages, monkeypatch, tmp_path):
        """run_wave plans its routing for the broadcast case while the
        children fill runs, and plans it again only when the fill reports
        more than BROADCAST_MAX_ROWS children. With the gate between one
        wave's frontier size and its children count (and at or above every
        frontier, seen-set and rejected-set size of the crawl), only that
        gate flips: the wave routes twice and the crawl equals the ungated
        one."""
        import webcrawler_woc_spark.config as cfgmod
        from webcrawler_woc_spark.plans import wave as wave_mod

        cfg = CrawlConfig(whitelist=WHITELIST, words=WORDS, depth=3)

        def run(path):
            wh = Warehouse(spark, str(path))
            crawl(spark, wh, pages, SEEDS, cfg)
            seen = sorted(r["url"] for r in read_seen(wh).collect())
            order = sorted(
                (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
            )
            links = sorted(map(repr, read_links_out(wh).collect()))
            counts = {w: i["counts"] for w, i in wh.manifest["waves"].items()}
            return seen, order, links, counts

        base = run(tmp_path / "ungated")
        waves = [base[3][str(w)] for w in range(cfg.depth)]
        sizes = [
            max(
                w["frontier_in"],
                sum(v["scheduled"] for v in waves[: i + 1]),
                sum(v["new_rejected"] for v in waves[:i]),
            )
            for i, w in enumerate(waves)
        ]
        gate = max(sizes)
        flipped = [i for i, w in enumerate(waves) if w["extracted_links"] > gate]
        assert flipped, "the fixture needs a wave with more children than any other size"

        routes = []
        split = wave_mod.split_children

        def spy(*a, **kw):
            routes.append(1)
            return split(*a, **kw)

        monkeypatch.setattr(wave_mod, "split_children", spy)
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", gate)
        assert run(tmp_path / "gated") == base
        assert len(routes) == cfg.depth + len(flipped)


class TestWaveJobs:
    def test_resumed_budgeted_wave_job_count(self, spark, pages):
        """The Spark jobs of one resumed budgeted wave (robots Crawl-delay
        and Disallow, a 10 s timeout, a word scan), counted with the status
        tracker: the schedule fill, the children fill, three table writes
        and the lineage. The layout before the ranked cache and the
        pipelined fills (a lineage + slim fetched fill and a deduped fill
        between the fills and the writes, a frontier write that re-read the
        frontier and anti-joined the scheduled urls) ran 31 on this wave."""
        from webcrawler_woc_spark.operators import politeness
        from webcrawler_woc_spark.plans.crawl import seed_frontier
        from webcrawler_woc_spark.plans.wave import run_wave

        cfg = CrawlConfig(
            whitelist=WHITELIST, words=["merge"], depth=2, host_budget=2,
            timeout_ms=10_000, respect_disallow=True,
        )
        seeds = [("http://host0.example/page/260", 1.0), ("http://host1.example/page/111", 1.0)]
        tracker = spark.sparkContext.statusTracker()
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            seed_frontier(spark, wh, seeds)
            robots = wh.politeness_table(
                "robots_delay", lambda: politeness.parse_robots_crawl_delay(pages)
            )
            disallow = wh.politeness_table(
                "robots_disallow", lambda: politeness.parse_robots_disallow(pages)
            )
            run_wave(spark, wh, pages, 0, cfg, robots, None, None, disallow)
            wh = Warehouse(spark, tmp)  # the resumed call
            before = set(tracker.getJobIdsForGroup(None))
            counts = run_wave(spark, wh, pages, 1, cfg, robots, None, None, disallow)
            jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
        assert counts["fetched"] and counts["extracted_links"] and counts["frontier_in"] > counts["scheduled"]
        assert jobs == 21, counts


class TestLatencyHash:
    """``synth_fetch_ms`` holds one ``aggregate`` over the url's characters
    (its square-and-mod mix is the finish lambda), and ``fetch_join``
    projects ``fetched`` once, deriving the response columns from it."""

    FOLD = "aggregate(filter(split(url"  # the latency hash's fold, as a plan prints it

    def test_values_unchanged(self, spark, pages):
        """Value for value on the corpus: the two-aggregate form it
        replaced, and the oracle's Python twin."""
        from webcrawler_woc_spark.operators.fetch import FETCH_MS_MOD, synth_fetch_ms
        from webcrawler_woc_spark.oracle.pyoracle import _fetch_ms

        url = F.col("url")
        fp = F.aggregate(
            F.filter(F.split(url, ""), lambda c: c != ""),
            F.lit(0).cast("bigint"),
            lambda acc, c: (acc * 31 + F.ascii(c)) % FETCH_MS_MOD,
        )
        m = F.pmod(fp, F.lit(1_000_003))
        rows = pages.select(
            "url", synth_fetch_ms(url).alias("got"), F.pmod(m * m, F.lit(19_997)).alias("want")
        ).collect()
        assert len(rows) > 100
        for r in rows:
            assert r["got"] == r["want"] == _fetch_ms(r["url"]), r["url"]

    def test_fewer_copies_in_the_wave_plans(self, spark, pages, monkeypatch, tmp_path):
        """Copies of the fold in the optimized plans (cached subplans
        included) of a 10 s-timeout wave's ``gated`` frame and links_out
        write. With ``fetched`` inlined into each response column, two
        folds per copy and links_out reading a slim cache of every column,
        they held 6 and 104."""
        from webcrawler_woc_spark.plans import wave as wave_mod

        plans = {}
        extract = wave_mod.extract_child_links
        write = Warehouse.write_wave_table

        def optimized(df) -> str:
            return df._jdf.queryExecution().optimizedPlan().toString()

        def spy_extract(gated):
            plans["gated"] = gated
            return extract(gated)

        def spy_write(self, table, wave, df):
            if (table, wave) == ("links_out", 0):  # as the writes run: caches filled
                plans["gated"] = optimized(plans["gated"])
                plans["links_out"] = optimized(df)
            return write(self, table, wave, df)

        monkeypatch.setattr(wave_mod, "extract_child_links", spy_extract)
        monkeypatch.setattr(Warehouse, "write_wave_table", spy_write)
        cfg = CrawlConfig(whitelist=WHITELIST, words=WORDS, depth=1, timeout_ms=10_000)
        crawl(spark, Warehouse(spark, str(tmp_path)), pages,
              [("http://host0.example/page/20", 1.0)], cfg)
        copies = {k: v.count(self.FOLD) for k, v in plans.items()}
        assert copies == {"gated": 3, "links_out": 11}


class TestSeenProbeGate:
    """One size gate decides whether a wave probes the seen filter, for every
    filter kind and probe mode: while the cumulative seen set is at most
    BROADCAST_MAX_ROWS the wave runs the exact anti-join alone, and a wave
    whose seen set stays below the gate builds, loads and saves no filter.
    Either way the crawl equals a crawl with no filter at all, and the
    manifest records which path each wave took."""

    COMBOS = [
        pytest.param(kind, probe, id=f"{kind}-{probe}")
        for kind in ("bloom", "cuckoo")
        for probe in ("broadcast", "sharded")
    ]

    @staticmethod
    def _crawl(spark, pages, tmp, seen_filter, seen_probe="broadcast"):
        cfg = CrawlConfig(
            whitelist=WHITELIST, words=WORDS, depth=3, n_buckets=8,
            seen_filter=seen_filter, seen_probe=seen_probe,
        )
        wh = Warehouse(spark, tmp)
        summary = crawl(spark, wh, pages, SEEDS, cfg)
        seen = sorted(r["url"] for r in read_seen(wh).collect())
        order = sorted(
            (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
        )
        waves = [wh.manifest["waves"][str(w)] for w in range(summary["waves"])]
        return seen, order, waves

    @pytest.fixture(scope="class")
    def unfiltered(self, spark, pages):
        with tempfile.TemporaryDirectory() as tmp:
            return self._crawl(spark, pages, tmp, "none")

    @pytest.fixture
    def probe_calls(self, monkeypatch):
        """Every sketch probe entry point, wrapped to record its calls."""
        from webcrawler_woc_spark.operators import bloom, cuckoo, sharded_probe

        calls = []
        for mod, name in (
            (sharded_probe, "sharded_prefiltered_anti_join"),
            (cuckoo, "cuckoo_prefiltered_anti_join"),
            (cuckoo, "make_might_contain_udf"),
            (bloom, "make_might_contain_udf"),
        ):
            real = getattr(mod, name)

            def spy(*a, _real=real, _name=f"{mod.__name__}.{name}", **kw):
                calls.append(_name)
                return _real(*a, **kw)

            monkeypatch.setattr(mod, name, spy)
        return calls

    def test_unfiltered_crawl_is_exact(self, unfiltered):
        _, _, waves = unfiltered
        assert len(waves) == 3
        assert [w["seen_probe"] for w in waves] == ["exact"] * 3
        assert all(w["bloom"] is None for w in waves)

    @pytest.mark.parametrize("kind,probe", COMBOS)
    def test_below_gate_never_probes(
        self, spark, pages, unfiltered, probe_calls, monkeypatch, kind, probe
    ):
        from webcrawler_woc_spark.operators import bloom, cuckoo

        calls = []
        for owner, name in (
            (Warehouse, "load_seen_filter"),
            (bloom, "build_bucket_bitmaps"),
            (cuckoo, "build_bucket_tables"),
        ):
            real = getattr(owner, name)

            def spy(*a, _real=real, _name=name, **kw):
                calls.append(_name)
                return _real(*a, **kw)

            monkeypatch.setattr(owner, name, spy)
        with tempfile.TemporaryDirectory() as tmp:
            seen, order, waves = self._crawl(spark, pages, tmp, kind, probe)
            entries = sorted(os.listdir(tmp))
        for info in waves:
            assert {k: info[k] for k in SIDECAR_KEYS} == dict.fromkeys(SIDECAR_KEYS)
        # no sidecar file or directory, no filter build, no sidecar load
        assert entries == ["extracted_text", "frontier", "links_out", "manifest.json"]
        assert calls == []
        assert probe_calls == []
        assert [w["seen_probe"] for w in waves] == ["exact"] * 3
        assert (seen, order) == unfiltered[:2]
        # host lineage (folded into the fetched-cache fill) matches the crawl
        for w, info in enumerate(waves):
            per_host = {}
            for wv, host, _, _ in order:
                if wv == w:
                    per_host[host] = per_host.get(host, 0) + 1
            assert {h["host"]: h["fetched"] for h in info["host_lineage"]} == per_host

    @pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
    def test_above_gate_probes(self, spark, pages, unfiltered, probe_calls, monkeypatch, kind):
        import webcrawler_woc_spark.config as cfgmod

        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        with tempfile.TemporaryDirectory() as tmp:
            seen, order, waves = self._crawl(spark, pages, tmp, kind)
        # wave 0 has no sidecar and an empty seen set: exact on both sides
        assert [w["seen_probe"] for w in waves] == ["exact", kind, kind]
        assert probe_calls.count(f"webcrawler_woc_spark.operators.{kind}.make_might_contain_udf") == 2
        assert (seen, order) == unfiltered[:2]
