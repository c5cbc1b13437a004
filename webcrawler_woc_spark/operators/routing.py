"""Seen/rejected routing — the reference's channel-drain loop
(src/crawler.rs:82-99) as set algebra over DataFrames.

Deterministic batch semantics (SURVEY.md §7): the reference's within-wave
routing order is tokio-completion-order nondeterministic (a child observed
before its parent's self-record can slip into the next frontier and cause a
refetch). We pin the race-free interpretation: all wave-w fetches enter the
seen set *before* wave-w children are routed. The Python oracle implements
the identical rule, so crawl order and seen-set are well-defined.

Scale notes:
* while the seen set (or the rejected set) is at most
  KNOWN_SET_BROADCAST_MAX_ROWS rows (config.py, with the measured
  crossover), its exact size is in the manifest and the wave subtracts it
  with ONE left-anti join against a broadcast of it (subtract_known):
  nothing is shuffled but the wave's own children.
* above that, the wave-level dedup + anti-joins shuffle ONLY the
  freshly-extracted links (bounded by wave out-degree), never the cumulative
  seen set: the seen set is only scanned (anti_join_scan), and with a seen
  filter on (prefiltered_anti_join) only the maybe-seen remainder is checked
  against it.
* the seen and rejected sets are filtered views of the warehouse's
  links_out rows (plans/state.py VIEWS); the anti-joins only scan them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def should_crawl_col(
    host: Column,
    whitelist: list[str] | None,
    blacklist: list[str] | None,
) -> Column:
    """The reference's should_crawl policy (links.rs:122-143), exactly:

    * whitelist present -> host ∈ whitelist (NULL host -> false);
    * else blacklist present -> host ∉ blacklist (NULL host -> false);
    * NEITHER list -> constant false (links.rs:133 quirk: only the seed is
      ever fetched).

    Lists are shipped as literals (they are small host lists; for huge lists
    swap in a broadcast join — semantics unchanged).
    """
    if whitelist is not None:
        if not whitelist:
            return F.lit(False)
        return F.coalesce(host.isin(*whitelist), F.lit(False))
    if blacklist is not None:
        if not blacklist:
            return host.isNotNull()  # empty blacklist: host present => true
        return F.when(host.isNull(), F.lit(False)).otherwise(~host.isin(*blacklist))
    return F.lit(False)


def anti_join_scan(
    small: DataFrame, big: DataFrame, keys: list[str], small_rows: int | None = None
) -> DataFrame:
    """small LEFT ANTI big without ever shuffling ``big``.

    A plain left-anti join hash-partitions BOTH sides; when ``big`` is the
    cumulative seen set (10^10 rows at design scale) that shuffle dominates
    the wave. Instead: (1) semi-join big against a BROADCAST of small's keys
    (big is only scanned, stream-side of a broadcast hash join), producing
    ``hits`` (<= |small|); (2) small anti-joins the broadcast hits.
    Semantics identical to left-anti; big moves zero bytes over the network.

    ``small_rows`` gates the broadcast: past BROADCAST_MAX_ROWS (an
    unbudgeted wave with huge out-degree) broadcasting ``small`` would OOM,
    so fall back to the plain shuffled left-anti, which shuffles both sides:
    slower, but safe.
    """
    from ..config import small_enough_to_broadcast

    if not small_enough_to_broadcast(small_rows):
        return small.join(big.select(*keys), keys, "left_anti")
    hits = big.select(*keys).join(F.broadcast(small.select(*keys)), keys, "left_semi")
    return small.join(F.broadcast(hits), keys, "left_anti")


def prefiltered_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    tag: Callable[[DataFrame], DataFrame] | None = None,
    candidates_rows: int | None = None,
) -> DataFrame:
    """candidates minus seen on (url_hash, url), exactly, for every seen
    filter kind and probe mode.

    ``tag`` adds a boolean ``_maybe_seen`` column answered by a seen filter
    (a broadcast probe, ``broadcast_tag``, or the bucket-sharded one,
    operators/sharded_probe.py). A filter has no false negatives, so the
    definitely-new rows bypass the join and only the maybe-seen rows are
    confirmed by the scan-only anti-join. With no ``tag`` the scan runs over
    every candidate. The maybe-seen rows are at most ``candidates_rows``, a
    safe bound for the broadcast gate.
    """
    keys = ["url_hash", "url"]
    if tag is None:
        return anti_join_scan(candidates, seen, keys, small_rows=candidates_rows)
    tagged = tag(candidates)
    definitely_new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = anti_join_scan(
        tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen"),
        seen,
        keys,
        small_rows=candidates_rows,
    )
    return definitely_new.unionByName(confirmed_new)


def broadcast_tag(spark: SparkSession, filt) -> Callable[[DataFrame], DataFrame] | None:
    """The ``tag`` of prefiltered_anti_join for a driver-held seen filter of
    any kind: its broadcast membership UDF. None when there is no filter."""
    if filt is None:
        return None
    might = filt.probe_udf(spark)
    return lambda df: df.withColumn("_maybe_seen", might(F.col("url_hash")))


def dedup_wave(children: DataFrame) -> DataFrame:
    """Wave-level dedup by canonical URL (the reference's HashSet inserts).

    Keeps an arbitrary-but-deterministic row per url via min aggregation —
    (url, link_type) is functionally dependent on url, so min() is exact.
    ``links`` counts the child links the row stands for (their sum is the
    wave's extracted-links count); a caller that does not read it costs
    nothing, as the optimizer prunes the unread aggregate.
    """
    return children.groupBy("url").agg(
        F.min("link_type").alias("link_type"), F.count(F.lit(1)).alias("links")
    )


def split_children(
    children: DataFrame, whitelist: list[str] | None, blacklist: list[str] | None
) -> tuple[DataFrame, DataFrame]:
    """(crawlable, uncrawlable) children by the should_crawl policy."""
    sc = should_crawl_col(F.col("host"), whitelist, blacklist)
    tagged = children.withColumn("should_crawl", sc)
    return tagged.filter(F.col("should_crawl")), tagged.filter(~F.col("should_crawl"))


def subtract_known(
    candidates: DataFrame,
    known: DataFrame | None,
    known_rows: int,
    candidates_rows: int | None = None,
) -> DataFrame:
    """candidates minus ``known`` on (url_hash, url), exactly.

    ``known_rows`` is the exact size of ``known`` (the wave reads it from the
    manifest). While it is at most KNOWN_SET_BROADCAST_MAX_ROWS this is ONE
    left-anti join against a broadcast of ``known``; above that,
    ``anti_join_scan`` (``known`` only scanned, its broadcast gated on
    ``candidates_rows``). No ``known`` (nothing committed yet) subtracts
    nothing.
    """
    from ..config import broadcast_known_set

    keys = ["url_hash", "url"]
    if known is None:
        return candidates
    if broadcast_known_set(known_rows):
        return candidates.join(F.broadcast(known.select(*keys)), keys, "left_anti")
    return anti_join_scan(candidates, known, keys, small_rows=candidates_rows)


def route_children(
    children: DataFrame,
    seen: DataFrame,
    rejected: DataFrame,
    whitelist: list[str] | None,
    blacklist: list[str] | None,
    children_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Route deduped children (url, url_hash, host, link_type) into
    (next_frontier_candidates, newly_rejected).

    * crawl-worthy and never crawled  -> next frontier (crawler.rs:90-91);
    * not crawl-worthy and not yet rejected -> rejected, emitted once
      (crawler.rs:92-96);
    * crawl-worthy but already seen -> silently dropped (crawler.rs:90).

    Anti-joins run on url_hash (cheap 8-byte shuffle key) then confirm on the
    full url — hash collisions cannot drop a truly-new URL. The wave routes
    with ``split_children`` and ``subtract_known`` instead, which know the
    seen and rejected sets' sizes.
    """
    crawlable, uncrawlable = split_children(children, whitelist, blacklist)
    next_frontier = anti_join_scan(crawlable, seen, ["url_hash", "url"], small_rows=children_rows)
    newly_rejected = anti_join_scan(
        uncrawlable, rejected, ["url_hash", "url"], small_rows=children_rows
    )
    return next_frontier, newly_rejected
