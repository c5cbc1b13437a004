"""Fetch simulation: frontier ⋈ pages equi-join.

Replaces the reference's HTTP GET (src/crawler.rs:310-316) per the survey's
design: a frontier URL *present* in the corpus is a successful fetch; an
absent URL is a fetch failure, which the reference still marks crawled and
emits with no metadata and no extraction (crawler.rs:209-216).

Scale notes:
* the join key is the canonical URL string; both sides can be pre-bucketed by
  ``pmod(xxhash64(url), n_buckets)`` so repeated waves shuffle only the
  (small) frontier side — at 10^10 URLs the pages side is the 100 TB table
  and must never be re-shuffled per wave. AQE skew-join covers hot-host skew.
* only ``url, html`` are read from the corpus (column pruning reaches the
  parquet scan; verified in tests via the explain plan).

This module owns the simulated response: its latency (``synth_fetch_ms``),
its DNS records (``synth_ipv4``/``synth_ipv6``) and its Content-Type rule
(``default_content_type_expr``). The wave reads the response once, from the
frame ``fetch_join`` returns: its ``fetched`` and ``content_type`` columns
decide both the links_out metadata and which bodies are parsed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


FETCH_MS_MOD = 10**15 - 11  # same field as textstats.FINGERPRINT_MOD


def synth_fetch_ms(url: Column) -> Column:
    """Deterministic synthetic fetch latency in ms, 0..19999 (stands in for
    the reference's per-request wall time; its 10 s default timeout is
    cli.rs:34-35 applied at crawler.rs:14-20). Pure Catalyst AND exactly
    SQL-expressible (no xxhash64 — DuckDB lacks it): the rolling polynomial
    hash of textstats.fingerprints over the url chars, then a square-and-mod
    mix — the raw rolling hash has NO avalanche (urls sharing a prefix land
    in one contiguous block, so whole url families would share a timeout
    fate); squaring makes neighbors jump ~2m apart mod a prime. All
    intermediates < 2^63, engine-identical integer math. The mix is the
    aggregate's finish lambda, so the expression holds ONE aggregate over
    the url's characters (``m * m`` of an inlined ``m`` would hold two)."""
    chars = F.filter(F.split(url, ""), lambda c: c != "")

    def mix(fp):
        m = F.pmod(fp, F.lit(1_000_003))
        return F.pmod(m * m, F.lit(19_997))

    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % FETCH_MS_MOD,
        mix,
    )


def synth_ipv4(host: Column) -> Column:
    """Deterministic synthetic A record (stands in for links.rs:309-320).

    For synthetic hosts ``host{d}.example``: 10.0.{d/256}.{d%256}; other
    hosts resolve to NULL. Pure Catalyst expression (and SQL-expressible for
    the DuckDB oracle)."""
    d = F.regexp_extract(host, r"^host(\d+)\.example$", 1)
    di = F.when(d != "", d.cast("int"))
    return F.when(
        di.isNotNull(),
        F.concat(F.lit("10.0."), (di / 256).cast("int").cast("string"), F.lit("."), (di % 256).cast("string")),
    )


def synth_ipv6(host: Column) -> Column:
    """Deterministic synthetic AAAA record (stands in for links.rs:323-334)."""
    d = F.regexp_extract(host, r"^host(\d+)\.example$", 1)
    di = F.when(d != "", d.cast("int"))
    return F.when(di.isNotNull(), F.concat(F.lit("fd00::"), F.lower(F.hex(di))))


def default_content_type_expr(url: Column) -> Column:
    """Fetch-time Content-Type derivation rule for the derived corpus
    (FIXTURES.md §1): *.txt -> text/plain; doc_id%100<5 -> charset=utf-8;
    doc_id%100 in (5,6) -> charset=iso-8859-1 (fails the exact MIME gate);
    else text/html."""
    # guarded cast: non-/page/ urls extract '' and a bare ANSI cast of ''
    # THROWS under Spark 4 — the CASE branch keeps the cast unevaluated
    # until the match is known non-empty (python twin returns text/html)
    d = F.regexp_extract(url, r"/page/(\d+)$", 1)
    doc_id = F.when(d != "", d.cast("bigint"))
    return (
        F.when(url.endswith(".txt"), F.lit("text/plain"))
        .when(doc_id % 100 < 5, F.lit("text/html; charset=utf-8"))
        .when((doc_id % 100 >= 5) & (doc_id % 100 < 7), F.lit("text/html; charset=iso-8859-1"))
        .otherwise(F.lit("text/html"))
    )


def fetch_matched(
    frontier: DataFrame, pages: DataFrame, frontier_rows: int | None = None
) -> DataFrame:
    """The ONE corpus scan of a wave: pages inner-probed by a BROADCAST of
    the (politeness-bounded) frontier. Pages is only scanned, never shuffled;
    the hit set (<= |frontier| rows) is then re-shuffled by url_hash so that
    AQE sizes its partitions by bytes — downstream consumers (extraction /
    text UDFs, caching) never inherit the corpus scan's partitioning.

    ``frontier_rows`` (the previous wave's manifest ``new_frontier`` count)
    gates the broadcast: above BROADCAST_MAX_ROWS an unbudgeted wave's
    out-degree would OOM the driver, so the probe falls back to a
    shuffle-hash join with the frontier as build side — in the full-scale
    layout pages is bucketed by url at rest (Iceberg bucket transform), so
    only the frontier moves; the corpus is still never re-shuffled wave
    over wave.
    """
    from ..config import small_enough_to_broadcast

    pages_side = pages.select(F.col("url").alias("p_url"), F.col("html"))
    if small_enough_to_broadcast(frontier_rows):
        bf = F.broadcast(frontier)
        matched = pages_side.join(bf, bf["url"] == pages_side["p_url"], "inner")
    else:
        bf = frontier.hint("shuffle_hash")
        matched = pages_side.join(bf, frontier["url"] == pages_side["p_url"], "inner")
    return matched.repartition(F.col("url_hash"))


def fetch_join(
    frontier: DataFrame,
    pages: DataFrame,
    content_type_expr=None,
    matched: DataFrame | None = None,
    timeout_ms: int | None = None,
    frontier_rows: int | None = None,
) -> DataFrame:
    """Simulated fetch of every frontier URL.

    Returns one row per frontier URL: the frontier's columns (at least url,
    url_hash, host, priority; a politeness schedule's ``slot`` rides along
    to the wave's links_out rows), then::

        fetched(bool), content_type, headers, ipv4, ipv6, html

    * ``fetched`` false => fetch failure: content_type/headers/ipv4/ipv6/html
      are NULL (reference crawler.rs:209-216 emits the bare link);
    * on success, content_type is derived from the url by
      ``content_type_expr`` (default ``default_content_type_expr``, the
      simulation rule of FIXTURES.md §1), headers is the
      simulated response header map, DNS columns are synthetic
      (crawler.rs:219-224);
    * ``timeout_ms`` (op 27): a matched row whose synthetic latency
      ``synth_fetch_ms(url)`` is >= timeout_ms is ALSO a fetch failure —
      the reference's per-client request timeout (10 s default). None (the
      default) disables the gate: success == corpus membership.

    ``matched`` lets the caller pass a CACHED ``fetch_matched`` result so the
    corpus is scanned exactly once per wave (every broadcast-exchange subplan
    below would otherwise rebuild the probe join and rescan pages).
    """
    if content_type_expr is None:
        content_type_expr = default_content_type_expr

    # Join strategy for 100 TB: a plain left join (frontier ⋈ pages) would
    # shuffle the ENTIRE corpus every wave. Instead the (politeness-bounded)
    # frontier is broadcast into an inner probe of the corpus scan — pages is
    # only scanned, never shuffled — and fetch failures are recovered with a
    # second broadcast anti-join against the (small) matched-url set.
    from ..config import small_enough_to_broadcast

    if matched is None:
        matched = fetch_matched(frontier, pages, frontier_rows=frontier_rows)
    keys = frontier.columns
    matched_urls = matched.select(F.col("p_url").alias("url"))
    if small_enough_to_broadcast(frontier_rows):  # |matched| <= |frontier|
        matched_urls = F.broadcast(matched_urls)
    failed = frontier.join(matched_urls, "url", "left_anti").select(
        *keys,
        F.lit(None).cast("string").alias("p_url"),
        F.lit(None).cast("binary").alias("html"),
    )
    joined = matched.select(*keys, "p_url", "html").unionByName(failed)
    ok = F.col("p_url").isNotNull()
    if timeout_ms is not None:
        # timed-out rows keep their frontier identity but lose the response
        # (body never read, crawler.rs:209-216) — same shape as a miss
        ok = ok & (synth_fetch_ms(F.col("url")) < F.lit(timeout_ms))
    # ``fetched`` is projected once, and every column below reads it: the
    # latency expression is not inlined into each of them
    joined = joined.select(*keys, "html", ok.alias("fetched"))
    fetched = F.col("fetched")
    content_type = content_type_expr(F.col("url"))
    html = F.when(fetched, F.col("html")) if timeout_ms is not None else F.col("html")
    headers = F.when(
        fetched,
        F.create_map(
            F.lit("content-type"), content_type,
            F.lit("content-length"), F.length(F.col("html")).cast("string"),
        ),
    )
    host = F.col("host")
    return joined.select(
        *keys,
        fetched,
        F.when(fetched, content_type).alias("content_type"),
        headers.alias("headers"),
        F.when(fetched, synth_ipv4(host)).alias("ipv4"),
        F.when(fetched, synth_ipv6(host)).alias("ipv6"),
        html.alias("html"),
    )


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    """64-bit URL hash, JVM-side (xxhash64) — join/bucket/bloom key."""
    return df.withColumn("url_hash", F.xxhash64(F.col(url_col)))


def host_expr(url: Column) -> Column:
    """Host of a CANONICAL url as a pure Catalyst expression (JVM-side; the
    python twin urlnorm.host_of is used only by the oracle and tests).

    Only WHATWG special schemes carry a host; canonical urls already have
    lowercase hosts, so two regexes suffice: authority capture, then
    userinfo/port strip (ipv6 literals keep their brackets).
    """
    auth = F.regexp_extract(url, r"^(?:https?|ftp|wss?|file)://([^/?#]*)", 1)
    host = F.regexp_extract(auth, r"^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)", 1)
    return F.when(host != "", host)


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Host column, JVM-side (no python stage in the routing hot path)."""
    return df.withColumn("host", host_expr(F.col(url_col)))
