"""Real HTTP fetch mode (operators/httpfetch.py): kernel behavior against a
local fixture server, and full e2e crawl parity between fetch_mode="join"
(the corpus equi-join simulation) and fetch_mode="http" over the SAME corpus
served at 127.0.0.1 — no external network is ever touched."""

from __future__ import annotations

import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from webcrawler_woc_spark.config import CrawlConfig
from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order, read_links_out
from webcrawler_woc_spark.plans.state import Warehouse
from webcrawler_woc_spark.sources.corpus import (
    default_content_type_expr,
    pages_from_documents,
)

SEEDS = [("http://host0.example/page/0", 1.0)]
WL = [f"host{i}.example" for i in range(5)]


def _make_handler(content: dict[str, tuple[bytes, str]]):
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            hit = content.get(self.path)
            if hit is None:
                self.send_error(404)
                return
            body, ct = hit
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    return Handler


@pytest.fixture(scope="module")
def corpus_server(spark, sf_dir):
    """Serve the derived corpus at 127.0.0.1: path /{host}{path} -> exact
    corpus html bytes with the same Content-Type the simulation derives."""
    pages = pages_from_documents(spark, sf_dir)
    rows = pages.select(
        "url", "html", default_content_type_expr(F.col("url")).alias("ct")
    ).collect()
    content = {
        "/" + r.url.split("://", 1)[1]: (bytes(r.html), r.ct) for r in rows
    }
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(content))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_from_documents(spark, sf_dir).cache()
    df.count()
    return df


class TestHttpFetchKernel:
    def test_fetch_success_failure_and_headers(self, spark, corpus_server):
        from webcrawler_woc_spark.operators.httpfetch import http_fetch_join

        frontier = spark.createDataFrame(
            [
                ("http://host0.example/page/0", 1, "host0.example", 1.0),
                ("http://host0.example/robots.txt", 2, "host0.example", 1.0),
                ("http://host0.example/nope", 3, "host0.example", 1.0),
            ],
            "url string, url_hash bigint, host string, priority double",
        )
        got = {
            r.url: r
            for r in http_fetch_join(frontier, http_base=corpus_server).collect()
        }
        ok = got["http://host0.example/page/0"]
        assert ok.fetched and bytes(ok.html).startswith(b"<html>")
        assert ok.content_type.startswith("text/html")
        assert ok.headers["content-length"] == str(len(bytes(ok.html)))
        assert ok.ipv4 == "10.0.0.0"  # synthetic DNS contract holds in http mode
        robots = got["http://host0.example/robots.txt"]
        assert robots.fetched and robots.content_type == "text/plain"
        miss = got["http://host0.example/nope"]
        assert not miss.fetched
        assert miss.content_type is None and miss.html is None and miss.headers is None

    def test_malformed_url_is_fetch_failure_not_task_death(self, spark, corpus_server):
        """A frontier row urllib can't even form a request for must become a
        fetched=false row — never an exception that kills the Spark task."""
        from webcrawler_woc_spark.operators.httpfetch import http_fetch_join

        frontier = spark.createDataFrame(
            [
                ("no-scheme-at-all", 1, "host0.example", 1.0),
                ("http://host0.example/page/0", 2, "host0.example", 1.0),
            ],
            "url string, url_hash bigint, host string, priority double",
        )
        got = {r.url: r.fetched for r in http_fetch_join(frontier, http_base=corpus_server).collect()}
        assert got == {"no-scheme-at-all": False, "http://host0.example/page/0": True}

    def test_refused_connection_is_fetch_failure_not_error(self, spark):
        from webcrawler_woc_spark.operators.httpfetch import http_fetch_join

        frontier = spark.createDataFrame(
            [("http://host0.example/x", 1, "host0.example", 1.0)],
            "url string, url_hash bigint, host string, priority double",
        )
        # port 9 (discard) on loopback: nothing listens -> refused
        got = http_fetch_join(
            frontier, http_base="http://127.0.0.1:9", timeout_ms=2000
        ).collect()
        assert len(got) == 1 and not got[0].fetched


class TestPerHostCap:
    def test_in_flight_requests_per_host_never_exceed_cap(self, spark):
        """The per-host semaphore IS the http-mode politeness layer: with a
        slow server and 12 same-host URLs, the server must never observe
        more than max_per_host concurrent requests."""
        import threading
        import time
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        state = {"active": 0, "max_seen": 0}
        lock = threading.Lock()

        class Slow(BaseHTTPRequestHandler):
            def do_GET(self):
                with lock:
                    state["active"] += 1
                    state["max_seen"] = max(state["max_seen"], state["active"])
                time.sleep(0.15)
                with lock:
                    state["active"] -= 1
                body = b"<html></html>"
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = ThreadingHTTPServer(("127.0.0.1", 0), Slow)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            from webcrawler_woc_spark.operators.httpfetch import http_fetch_join

            frontier = spark.createDataFrame(
                [(f"http://hot.example/p{i}", i, "hot.example", 1.0) for i in range(12)],
                "url string, url_hash bigint, host string, priority double",
            ).coalesce(1)  # one partition = one pool, the worst case for the cap
            out = http_fetch_join(
                frontier,
                http_base=f"http://127.0.0.1:{srv.server_address[1]}",
                max_per_host=2,
            ).collect()
            assert all(r.fetched for r in out) and len(out) == 12
            assert state["max_seen"] <= 2, state
        finally:
            srv.shutdown()
            srv.server_close()


class TestHttpCli:
    def test_cli_fetch_mode_http(self, spark, pages, corpus_server, tmp_path):
        """The user surface: main.py --fetch-mode http --http-base must run
        the full crawl over the wire and finish with the same wave count as
        the join-mode CLI drive."""
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pages_path = str(tmp_path / "pages")
        pages.write.parquet(pages_path)
        wl = tmp_path / "wl.txt"
        wl.write_text("host0.example\nhost1.example\n")
        out = subprocess.run(
            [
                sys.executable, os.path.join(repo, "main.py"),
                "http://host0.example/page/0", "-d", "2", "-w", str(wl),
                "--timeout", "0",
                "--pages", pages_path, "--warehouse", str(tmp_path / "wh"),
                "--fetch-mode", "http", "--http-base", corpus_server,
            ],
            capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "'waves': 2" in out.stdout


class TestHttpCrawlParity:
    def test_e2e_crawl_matches_join_mode(self, spark, pages, corpus_server):
        """The whole engine (schedule -> fetch -> gate -> extract -> route ->
        commit) must produce identical links_out and crawl order in both
        fetch modes on the same corpus — the real-fetch skeleton's contract."""

        def run(cfg):
            with tempfile.TemporaryDirectory() as tmp:
                wh = Warehouse(spark, tmp)
                crawl(spark, wh, pages, SEEDS, cfg)
                links = {
                    tuple(r)
                    for r in read_links_out(wh)
                    .select(
                        "url", "host", "content_type", "crawled", "link_type",
                        "contains_words", "ipv4", "ipv6",
                    )
                    .collect()
                }
                order = sorted(
                    (r.wave, r.host, r.slot, r.url)
                    for r in read_crawl_order(wh).collect()
                )
                text = {
                    (r.url, r.text)
                    for r in wh.read_waves("extracted_text").collect()
                }
                return links, order, text

        base = dict(whitelist=WL, words=["merge"], depth=2, n_buckets=8)
        j = run(CrawlConfig(**base))
        h = run(CrawlConfig(**base, fetch_mode="http", http_base=corpus_server))
        assert j[1] == h[1]  # crawl order
        assert j[0] == h[0]  # links_out rows (metadata incl. content_type/DNS)
        assert j[2] == h[2]  # byte-identical extracted text


class TestPerHostCapAcrossBatches:
    """Partition-scoped semaphores: the per-host concurrency cap must hold
    across Arrow batch boundaries, not just within one batch (kernel driven
    directly — no Spark)."""

    def test_cap_holds_across_batches(self):
        import pandas as pd

        from webcrawler_woc_spark.operators.httpfetch import _make_fetch_batches

        cap = 2
        lock = threading.Lock()
        active: dict[str, int] = {}
        peak: dict[str, int] = {}

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                host = self.path.split("/")[1]
                with lock:
                    active[host] = active.get(host, 0) + 1
                    peak[host] = max(peak.get(host, 0), active[host])
                import time as _t

                _t.sleep(0.05)  # hold the slot so overlaps are observable
                with lock:
                    active[host] -= 1
                body = b"ok"
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        try:
            base = f"http://127.0.0.1:{server.server_address[1]}"
            kernel = _make_fetch_batches(timeout_s=10.0, cap=cap, http_base=base)

            def batch(lo, hi):
                return pd.DataFrame(
                    {
                        "url": [f"http://hot.example/p{i}" for i in range(lo, hi)],
                        "url_hash": list(range(lo, hi)),
                        "host": ["hot.example"] * (hi - lo),
                        "priority": [1.0] * (hi - lo),
                    }
                )

            out = list(kernel(iter([batch(0, 8), batch(8, 16)])))
            assert [len(o) for o in out] == [8, 8]
            assert all(o["fetched"].all() for o in out)
            assert peak.get("hot.example", 0) <= cap
            assert peak.get("hot.example", 0) == cap  # pool really overlapped
        finally:
            server.shutdown()
            server.server_close()
