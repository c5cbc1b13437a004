"""One BFS wave as a single composed DataFrame job.

Maps the reference's wave body (src/crawler.rs:53-99 / 135-192) to:

    frontier_w --politeness schedule--> scheduled + deferred
    scheduled --left join pages (fetch sim)--> fetched
    fetched --MIME gate--> gated --pandas UDFs--> contains_words, child links
    children (+ sitemap children on wave 0 of no-depth) --wave dedup-->
      --seen-filter prefilter + anti-join seen--> next frontier candidates
      --anti-join rejected--> newly rejected (emitted once)
    writes: links_out (self rows with their slot + rejected rows),
            frontier_{w+1} = candidates ∪ deferred, extracted_text; lineage
            and counts go to the manifest, and so does the seen-filter
            sidecar once the seen set exceeds the probe gate. seen,
            rejected, flagged and crawl order are views of links_out
            (plans/state.py VIEWS).

Determinism: all order comes from explicit sorts (politeness slots); the
wave barrier is the parquet write action; within-wave seen semantics are the
race-free batch interpretation (see operators/routing.py docstring).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators.bloom import SEEN_FILTERS
from ..operators.extract import extract_child_links, mime_ok
from ..operators.fetch import fetch_join, fetch_matched, with_host, with_url_hash
from ..operators.politeness import schedule_wave
from ..operators.routing import (
    broadcast_tag,
    dedup_wave,
    prefiltered_anti_join,
    route_children,
)
from ..functions.udfs import link_type_col, make_contains_words_udf
from .state import Warehouse, uncrawled_links, view


def run_wave(
    spark: SparkSession,
    wh: Warehouse,
    pages: DataFrame,
    wave: int,
    cfg: CrawlConfig,
    robots: DataFrame | None = None,
    extra_children: DataFrame | None = None,
    content_type_expr=None,
    disallow: DataFrame | None = None,
) -> dict:
    """Execute wave `wave`; commit all outputs; return counts."""
    t0 = time.time()
    frontier = wh.read_frontier(wave)
    if frontier is None:
        raise RuntimeError(f"no frontier for wave {wave}")

    # exact size of this frontier, from the previous wave's committed manifest
    # (wave 0 seeds are driver-written and tiny => None => broadcast). Gates
    # every wave-side broadcast below: an unbudgeted crawl's out-degree can
    # exceed what a broadcast survives (see config.BROADCAST_MAX_ROWS).
    prev_info = wh.manifest["waves"].get(str(wave - 1), {})
    frontier_rows = prev_info.get("counts", {}).get("new_frontier")

    # -- robots Disallow gate (opt-in politeness extension; the disallow
    # cache is parsed once per crawl by the driver, not per wave) ------------
    if disallow is not None:
        from ..operators.politeness import filter_disallowed

        frontier = filter_disallowed(frontier, disallow)

    # -- crawler-trap gate (opt-in; scan-only projection, so trap subtrees
    # cost nothing past this point — not a schedule slot, not a seen-filter
    # probe, not a fetch) ----------------------------------------------------
    if cfg.trap_filter:
        from ..operators.traps import filter_traps

        frontier = filter_traps(frontier)

    # the exact post-gate frontier size rides the schedule's cache fill (the
    # first action over the frontier) as an observation, not a job of its own.
    # An empty frontier reports no metrics (AQE replaces its empty stage, the
    # observed one, with an empty relation); it is also the only frontier
    # that schedules nothing, as every host schedules at least its slot 1.
    obs_frontier_in = Observation(f"frontier_in_w{wave}")
    frontier = frontier.observe(obs_frontier_in, F.count(F.lit(1)).alias("n"))

    # -- politeness schedule (defines deterministic crawl order) ------------
    scheduled, deferred = schedule_wave(frontier, robots, cfg.host_budget)
    scheduled = scheduled.cache()  # reused: fetch, seen-filter build, anti-join

    # -- fetch (one response frame per wave) --------------------------------
    # ``fetched`` has fetch_join's columns in both modes; its ``fetched`` and
    # ``content_type`` decide the links_out metadata AND which bodies are
    # parsed (``gated`` below), so the two cannot diverge. In join mode
    # ``matched`` is cached so the corpus is scanned EXACTLY ONCE per wave:
    # the fetch-failure anti-join, the word scan, extraction, and the text
    # write all read the (wave-bounded) hit set from cache, never rescanning
    # pages. At 10^10-URL scale this cache is the wave's politeness-bounded
    # working set (use MEMORY_AND_DISK semantics — Spark default spills).
    if cfg.fetch_mode == "http":
        # real HTTP fetch (operators/httpfetch.py): one mapInPandas pool per
        # host partition. localCheckpoint (NOT cache): the live fetch is
        # non-deterministic, so its output must be PINNED — cache eviction /
        # task retry would re-issue real GETs and let the two consumers (slim
        # metadata path, gated extraction path) observe different responses,
        # breaking wave determinism and politeness. Lineage truncation makes
        # recompute impossible by construction. eager=False: the first action
        # below materializes it exactly once.
        from ..operators.httpfetch import http_fetch_join

        matched = http_fetch_join(
            scheduled,
            timeout_ms=cfg.timeout_ms,
            max_per_host=cfg.http_max_per_host,
            http_base=cfg.http_base,
        ).localCheckpoint(eager=False)
        fetched = matched
    else:
        matched = fetch_matched(scheduled, pages, frontier_rows=frontier_rows).cache()
        fetched = fetch_join(
            scheduled,
            pages,
            content_type_expr,
            matched=matched,
            timeout_ms=cfg.timeout_ms,
            frontier_rows=frontier_rows,
        )
    # the body gate (crawler.rs:209-227): fetched (corpus hit, not timed
    # out, or a 2xx over the wire) AND the exact MIME gate
    gate = F.col("fetched") & mime_ok(F.col("content_type"))
    # in join mode the failed-fetch union branch folds away under the gate:
    # one Filter over the matched cache
    gated = fetched.filter(gate).select("url", "html")
    if cfg.words:
        words_udf = make_contains_words_udf(cfg.words)
        fetched = fetched.withColumn(
            "contains_words", F.when(gate, words_udf(F.col("html"))).otherwise(F.lit(False))
        )
    else:
        fetched = fetched.withColumn("contains_words", F.lit(False))
    # metadata consumers (self rows, flagged, counts, lineage) never need the
    # page bytes — cache the slim projection, not the html payload.
    fetched = fetched.drop("html").cache()

    # -- self rows: every scheduled URL becomes a crawled Link, carrying its
    # politeness slot (the crawl-order view reads it back) -----------------
    self_links = fetched.select(
        F.col("url"),
        F.col("url_hash"),
        F.col("host"),
        F.col("content_type"),
        F.col("headers"),
        F.lit(True).alias("crawled"),
        F.col("ipv4"),
        F.col("ipv6"),
        link_type_col(F.col("url")).alias("link_type"),
        F.col("contains_words"),
        F.col("slot"),
        F.col("fetched"),
    )

    # -- extraction ---------------------------------------------------------
    children = extract_child_links(gated).select("url", "link_type")
    if cfg.strip_tracking:
        # tracking-param canonicalization BEFORE the wave dedup, so utm_*
        # variants of one URL merge there and the seen set only ever holds
        # stripped forms (scan-side higher-order exprs, no extra shuffle)
        from ..functions.urlnorm import strip_tracking_params_col

        children = children.select(
            strip_tracking_params_col(F.col("url")).alias("url"), "link_type"
        )
    if extra_children is not None:
        children = children.unionByName(extra_children.select("url", "link_type"))
    children = children.cache()  # the pandas-UDF extraction runs exactly once

    # -- fill the shared caches ONCE, sequentially (a concurrent first touch
    # would compute the same lineage twice). children.count drives the one
    # corpus scan of the wave and fills the matched cache en route; fetched
    # then reads that cache. The exact children count also sizes the routing
    # broadcasts below.
    timings: dict[str, float] = {}

    def _timed(key: str, fn, *args):
        t = time.time()
        out = fn(*args)
        timings[key] = round(time.time() - t, 3)
        return out

    scheduled_rows = _timed("cache_scheduled", scheduled.count)  # politeness window only
    extracted = _timed("cache_children", children.count)  # corpus scan + matched cache

    # deduped feeds BOTH routing branches (next-frontier and rejected) —
    # cached, or the dedup shuffle re-runs once per consuming write
    deduped = with_host(with_url_hash(dedup_wave(children))).cache()

    # -- routing ------------------------------------------------------------
    # one links_out read serves both views (the residual flush is committed
    # after the last wave, so no wave's read reaches it)
    links_prev = wh.read_waves("links_out", up_to_wave=wave - 1)
    seen_prev = view(links_prev, "seen")
    rejected_prev = view(links_prev, "rejected")
    empty_seen = spark.createDataFrame([], "url_hash long, url string")
    seen_prev = seen_prev.select("url_hash", "url") if seen_prev is not None else empty_seen
    rejected_prev = (
        rejected_prev.select("url_hash", "url") if rejected_prev is not None else empty_seen
    )

    sc_frontier, newly_rejected = route_children(
        deduped,
        empty_seen.limit(0),
        rejected_prev,
        cfg.whitelist,
        cfg.blacklist,
        children_rows=extracted,
    )
    # seen anti-join, then subtract THIS wave's scheduled urls (batch seen
    # semantics). One size gate decides whether to probe the sketch, for
    # every filter kind and probe mode: the prefilter (a broadcast pandas-UDF
    # probe, or the sharded probe's shuffle + applyInPandas) pays for itself
    # only once the cumulative seen set dwarfs the wave's candidates. While
    # that seen set is itself broadcast-small (config.BROADCAST_MAX_ROWS),
    # the exact anti-join alone is strictly cheaper, and by the
    # no-false-negative contract the result is identical with or without the
    # probe. The manifest's exact per-wave scheduled counts give the
    # cumulative size for free.
    #
    # The seen filter is a cache of the seen view, kept only where a wave
    # will probe it: a wave whose seen set AFTER it exceeds the gate takes
    # the committed sidecar of the requested kind (it covers waves < wave),
    # or, with none committed (the wave that crosses the gate, or a resume
    # over waves committed with another filter, none, or a lost sidecar
    # file), builds one from the whole seen view plus its own urls; either
    # way it merges its urls and commit_wave saves the result. So the last
    # wave below the gate leaves the sidecar the first wave above it probes,
    # and a wave below the gate builds, saves and loads no filter. The filter
    # is private to the wave: a wave that fails before its commit changes no
    # committed state.
    from ..config import small_enough_to_broadcast

    seen_rows = sum(
        int(info.get("counts", {}).get("scheduled", 0))
        for w, info in wh.manifest["waves"].items()
        if int(w) < wave
    )
    kind = cfg.seen_filter_kind()
    committed = filt = None
    new_seen = scheduled.select("url_hash", "url")
    if kind is not None and not small_enough_to_broadcast(seen_rows + scheduled_rows):
        committed = wh.load_seen_filter()
        if committed is not None and committed.kind != kind:
            committed = None
        filt = committed
        if filt is None:
            filt = SEEN_FILTERS[kind](cfg.n_buckets)
            new_seen = new_seen.unionByName(seen_prev)
    # seen_probe="sharded" loads one bucket file per task (the 10^10-URL
    # form) and falls back to the broadcast probe when no sharded sidecar is
    # committed (a warehouse written in broadcast mode)
    sharded_dir = wh.sharded_dir() if cfg.seen_probe_mode() == "sharded" else None
    if committed is None or small_enough_to_broadcast(seen_rows):
        seen_probe = "exact"
        sc_frontier = prefiltered_anti_join(sc_frontier, seen_prev, None, extracted)
    elif sharded_dir is not None:
        from ..operators.sharded_probe import sharded_prefiltered_anti_join

        seen_probe = "sharded"
        sc_frontier = sharded_prefiltered_anti_join(
            spark, sc_frontier, seen_prev, sharded_dir, candidates_rows=extracted
        )
    else:
        seen_probe = committed.kind
        sc_frontier = prefiltered_anti_join(
            sc_frontier, seen_prev, broadcast_tag(spark, committed), extracted
        )

    sched_keys = scheduled.select("url_hash", "url")
    if small_enough_to_broadcast(frontier_rows):  # |scheduled| <= |frontier|
        sched_keys = F.broadcast(sched_keys)
    sc_frontier = sc_frontier.join(sched_keys, ["url_hash", "url"], "left_anti")

    # two independent fills over already-materialized caches — overlap them
    # (fetched reads matched; deduped reads children). The fetched fill IS
    # the per-host lineage aggregate: one job both fills the cache and
    # yields the manifest's lineage. newly_rejected is not cached: links_out
    # is its only consumer.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    def _lineage_fill():
        return [
            {"host": r["host"], "fetched": r["cnt"]}
            for r in fetched.groupBy("host")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("host"))
            .limit(100)  # lineage keeps the hottest hosts; full counts live in parquet
            .collect()
        ]

    with _TPE(max_workers=2) as _pool:
        f1 = _pool.submit(_timed, "cache_fetched", _lineage_fill)
        f2 = _pool.submit(_timed, "cache_deduped", deduped.count)
        host_lineage = f1.result()
        f2.result()

    # a deferred url rediscovered as a child merges deterministically to the
    # max priority (url_hash/host are functions of url, so min() is exact).
    # With no politeness budget the deferred side is empty by construction and
    # sc_frontier is already wave-deduped — skip the merge shuffle entirely.
    new_candidates = sc_frontier.select(
        "url", "url_hash", "host", F.lit(cfg.child_priority).alias("priority")
    )
    if cfg.host_budget is None:
        merged = new_candidates
    else:
        merged = (
            new_candidates.unionByName(deferred.select("url", "url_hash", "host", "priority"))
            .groupBy("url")
            .agg(
                F.min("url_hash").alias("url_hash"),
                F.min("host").alias("host"),
                F.max("priority").alias("priority"),
            )
        )
    next_frontier = merged.select(
        F.lit(wave + 1).cast("int").alias("wave"), "url", "url_hash", "host", "priority"
    )

    # -- rejected links become output rows (crawled=false, no metadata; their
    # ``fetched`` is NULL and never counted) ---------------------------------
    links_out = self_links.unionByName(
        uncrawled_links(newly_rejected, F.col("link_type")), allowMissingColumns=True
    )

    # -- writes (the wave barrier) -----------------------------------------
    # counts ride the write actions as observations — no extra jobs.
    obs_links = Observation(f"links_out_w{wave}")
    links_out = links_out.observe(
        obs_links,
        F.count(F.when(F.col("crawled"), 1)).alias("scheduled"),
        F.count(F.when(F.col("crawled") & F.col("fetched"), 1)).alias("fetch_ok"),
        F.count(F.when(~F.col("crawled"), 1)).alias("rejected"),
    )
    obs_frontier = Observation(f"frontier_w{wave}")
    next_frontier = next_frontier.observe(obs_frontier, F.count(F.lit(1)).alias("n"))

    # the caches are already filled (sequential block above) — fire the
    # independent table writes from a driver thread pool; Spark schedules
    # concurrent jobs fine, and the writes only read the caches. The wave
    # barrier is the pool join; the manifest commit below stays atomic.
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.extract import extracted_text

    writes = {
        "links_out": ("w_links_out", wave, links_out.drop("fetched")),
        "frontier": ("w_frontier", wave + 1, next_frontier),
        "extracted_text": ("w_text", wave, extracted_text(gated)),
    }
    # a wave that crashed before its manifest commit is invisible: the rerun
    # rewrites all three tables (mode overwrite) and commits them together.
    table_paths = {}
    # one pool slot per job: every input is cached, so the jobs only
    # contend for executor cores, and the block is bounded by the slowest
    # single write. The seen-filter build reads only filled caches / tiny
    # parquet, so it back-fills cores the write tail leaves idle (guide
    # §2.6) instead of running sequentially after the pool. The filter build
    # is distributed: one small table/bitmap per bucket reaches the driver,
    # never the urls.
    with ThreadPoolExecutor(max_workers=len(writes) + 1) as pool:
        futs = {
            table: pool.submit(_timed, tkey, wh.write_wave_table, table, wv, df_)
            for table, (tkey, wv, df_) in writes.items()
        }
        f_filter = (
            pool.submit(_timed, "bloom_update", filt.build_rows, new_seen)
            if filt is not None
            else None
        )
        for table, fut in futs.items():
            table_paths[table] = fut.result()
        if f_filter is not None:
            filt.merge(f_filter.result())

    # -- metrics (observed on the writes: exact, zero extra jobs) -----------
    n_scheduled = int(obs_links.get["scheduled"])
    fetch_ok = int(obs_links.get["fetch_ok"])
    counts = {
        "frontier_in": int(obs_frontier_in.get["n"]) if scheduled_rows else 0,
        "scheduled": n_scheduled,
        "fetched": fetch_ok,
        "fetch_failed": n_scheduled - fetch_ok,
        "extracted_links": extracted,
        "new_frontier": int(obs_frontier.get["n"]),
        "new_rejected": int(obs_links.get["rejected"]),
    }
    wh.commit_wave(
        wave, table_paths, counts, host_lineage, time.time() - t0, filt, timings,
        sharded=cfg.seen_probe_mode() == "sharded", seen_probe=seen_probe,
    )
    scheduled.unpersist()
    if cfg.fetch_mode == "http":
        # matched is localCheckpoint()ed (not cached): DataFrame.unpersist
        # only clears CacheManager entries, so the checkpoint blocks (full
        # fetch output, html included) would otherwise pile up across waves
        # until the driver GC happens to collect the RDD reference
        _release_local_checkpoint(matched)
    else:
        matched.unpersist()
    fetched.unpersist()
    children.unpersist()
    deduped.unpersist()
    return counts


def _release_local_checkpoint(df) -> None:
    """Free the storage behind a localCheckpoint()ed frame NOW instead of at
    driver GC: the blocks belong to the LogicalRDD under the analyzed plan,
    which plain unpersist() never touches. Best-effort by design — a plan
    shape we don't recognize just falls back to the GC path."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
