"""Real HTTP fetch mode — the un-simulated twin of operators/fetch.py.

The reference crawler fetches with an async reqwest client pool
(src/crawler.rs:310-316, client built at cli.rs:30-39). The engine's default
"join" mode replaces that with the corpus equi-join (the driver design
brief); this module is the scale-out HTTP path behind
``CrawlConfig.fetch_mode="http"``: a ``mapInPandas`` fetcher whose output
schema is EXACTLY ``fetch_join``'s, so every downstream wave operator (MIME
gate, word scan, extraction, routing, writes) is identical in both modes —
tested for e2e parity against a local fixture server serving the same
corpus (tests/test_httpfetch.py; no external network is ever touched).

Shape at 100 TB:
* the frontier is repartitioned by ``host`` first, so one executor owns a
  host's requests and the per-host connection cap is enforced locally (a
  global cap would need a coordination service; per-partition semaphores
  are the standard Spark-native politeness layer on top of the per-wave
  host budget already enforced by the scheduler);
* inside a partition, one thread pool per Arrow batch issues requests
  concurrently (stdlib ``urllib`` workers — the container has no aiohttp;
  thread-per-request is fine because requests are IO-bound and the pool is
  bounded), each host gated by a ``max_per_host`` semaphore;
* every failure mode (connect refused, timeout, non-2xx, DNS) maps to the
  reference's fetch-failure contract: ``fetched=false``, NULL metadata, no
  body (crawler.rs:209-216) — errors never kill the task;
* DNS enrichment columns stay the deterministic synthetic ones (the
  simulation layer's contract, applied as Catalyst expressions OUTSIDE the
  Python kernel) so links_out is byte-identical across fetch modes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

# the kernel passes its frontier columns through and appends these
RESPONSE_SCHEMA = "fetched boolean, content_type string, headers map<string,string>, html binary"

# the reference's default timeout (cli.rs:34-35) arrives via cfg.timeout_ms
# (the CLI defaults --timeout to 10 s); kept here for reference/tests
DEFAULT_TIMEOUT_MS = 10_000
USER_AGENT = "webcrawler-woc-spark/0.1"


def _rewrite(url: str, host: str, http_base: str | None) -> str:
    """Test-fixture routing: with ``http_base`` set, ``http://h/path`` is
    requested as ``{http_base}/{h}/path`` — the fixture server demuxes the
    host from the first path segment, so parity tests never resolve real
    hosts. ``None`` (production) requests the url as-is."""
    if http_base is None:
        return url
    rest = url.split("://", 1)[1]
    path = rest[len(host):] if rest.startswith(host) else "/"
    return http_base.rstrip("/") + "/" + host + (path or "/")


def _make_fetch_batches(timeout_s: float, cap: int, http_base: str | None):
    """Build the mapInPandas fetch kernel (module-level so the burst test
    can drive it with hand-made batches, no Spark required)."""

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import threading
        import urllib.request
        from concurrent.futures import ThreadPoolExecutor

        def fetch_one(sems: dict, url: str, host: str):
            # EVERYTHING fallible lives inside the try: a malformed frontier
            # url (no '://', urllib-rejected) must be a fetch failure row,
            # never an exception that kills the Spark task
            try:
                target = _rewrite(url, host, http_base)
                req = urllib.request.Request(target, headers={"User-Agent": USER_AGENT})
                with sems[host]:
                    with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                        body = resp.read()
                        ct = resp.headers.get("Content-Type")
                        headers = {
                            "content-type": ct if ct is not None else "",
                            "content-length": str(len(body)),
                        }
                        return (True, ct, headers, body)
            except Exception:
                # connect/timeout/HTTP-error/DNS/parse -> reference fetch-
                # failure contract: bare link, no metadata (crawler.rs:209-216)
                return (False, None, None, None)

        # PARTITION-scoped semaphores: consecutive Arrow batches of one
        # partition share each host's cap, so batch boundaries can't reset
        # permits and burst a host back-to-back
        sems: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # this batch's new hosts are added BEFORE the pool starts (the
            # generator body is single-threaded here): a defaultdict factory
            # is not atomic under threads, and two racing first-touches would
            # each get their OWN semaphore, silently doubling the cap
            for h in set(pdf["host"]):
                if h not in sems:
                    sems[h] = threading.Semaphore(cap)
            with ThreadPoolExecutor(max_workers=min(32, len(pdf))) as pool:
                results = list(
                    pool.map(lambda args: fetch_one(sems, *args), zip(pdf["url"], pdf["host"]))
                )
            yield pdf.assign(
                fetched=[r[0] for r in results],
                content_type=[r[1] for r in results],
                headers=[r[2] for r in results],
                html=[r[3] for r in results],
            )

    return fetch_batches


def http_fetch_join(
    frontier: DataFrame,
    timeout_ms: int | None = None,
    max_per_host: int = 4,
    http_base: str | None = None,
) -> DataFrame:
    """Fetch every frontier row (url, url_hash, host, priority) over HTTP.

    Returns the ``fetch_join`` contract columns: the frontier's columns,
    then fetched, content_type, headers, ipv4, ipv6, html (extraction
    derives text from the body downstream, same as the simulation path).
    """
    from .fetch import synth_ipv4, synth_ipv6

    # timeout_ms=None means the reference's timeout gate is DISABLED (join-
    # mode parity: --timeout 0); a socket can't block forever though, so None
    # maps to a 300 s transport safety cap, not the 10 s reference default
    timeout_s = (timeout_ms if timeout_ms is not None else 300_000) / 1000.0
    fetch_batches = _make_fetch_batches(timeout_s, max(1, max_per_host), http_base)

    schema = StructType(frontier.schema.fields + DataType.fromDDL(RESPONSE_SCHEMA).fields)
    raw = frontier.repartition(F.col("host")).mapInPandas(fetch_batches, schema=schema)
    fetched = F.col("fetched")
    return raw.select(
        *frontier.columns,
        "fetched",
        "content_type",
        "headers",
        # deterministic synthetic DNS (the simulation layer's contract) keeps
        # links_out byte-identical across fetch modes; swap for a resolver
        # kernel when real DNS enrichment is needed
        F.when(fetched, synth_ipv4(F.col("host"))).alias("ipv4"),
        F.when(fetched, synth_ipv6(F.col("host"))).alias("ipv6"),
        "html",
    )
