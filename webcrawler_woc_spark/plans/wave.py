"""One BFS wave: two cache fills, then one pool of writes.

Maps the reference's wave body (src/crawler.rs:53-99 / 135-192) to:

    frontier_w --politeness ranks (one cache)--> scheduled + deferred
    scheduled --left join pages (fetch sim)--> fetched
    fetched --MIME gate--> gated --pandas UDFs--> contains_words, child links
    children (+ sitemap children on wave 0 of no-depth) --wave dedup-->
      --anti-join seen ∪ this wave's scheduled--> next frontier candidates
      --anti-join rejected--> newly rejected (emitted once)
    writes: links_out (self rows with their slot + rejected rows),
            frontier_{w+1} = candidates ∪ deferred, extracted_text; lineage
            and counts go to the manifest, and so does the seen-filter
            sidecar once the seen set exceeds the probe gate. seen,
            rejected, flagged and crawl order are views of links_out
            (plans/state.py VIEWS).

Blocking path: schedule fill -> children fill -> write pool. The two fills
run in order on one background thread, while this thread builds the plans
that read them: fetch, gate and extraction during the schedule fill;
routing, the frontier merge and the writes during the children fill. The
manifest's host lineage is one more job of the write pool.

Determinism: all order comes from explicit sorts (politeness slots); the
wave barrier is the parquet write action; within-wave seen semantics are the
race-free batch interpretation (see operators/routing.py docstring).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig, broadcast_known_set, small_enough_to_broadcast
from ..operators.bloom import SEEN_FILTERS
from ..operators.extract import extract_child_links, extracted_text, mime_ok
from ..operators.fetch import fetch_join, fetch_matched, with_host, with_url_hash
from ..operators.politeness import is_scheduled, rank_frontier, split_ranked
from ..operators.routing import (
    broadcast_tag,
    dedup_wave,
    prefiltered_anti_join,
    split_children,
    subtract_known,
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

    # exact sizes from the committed manifest: this frontier (the previous
    # wave's new_frontier; wave 0 seeds are driver-written and tiny => None
    # => broadcast), and the seen and rejected sets this wave subtracts.
    # They gate every wave-side broadcast below: an unbudgeted crawl's
    # out-degree can exceed what a broadcast survives (see
    # config.BROADCAST_MAX_ROWS).
    waves = wh.manifest["waves"]
    frontier_rows = waves.get(str(wave - 1), {}).get("counts", {}).get("new_frontier")

    def committed_total(count: str) -> int:
        return sum(
            int(info.get("counts", {}).get(count, 0)) for w, info in waves.items() if int(w) < wave
        )

    seen_rows = committed_total("scheduled")
    rejected_rows = committed_total("new_rejected")

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

    # -- politeness schedule (defines deterministic crawl order): the ranked
    # frontier is cached once; scheduled (fetch, seen-filter build, anti-join,
    # lineage) and deferred (the frontier merge) are two filters of it ------
    ranked = rank_frontier(frontier, robots, cfg.host_budget).cache()
    scheduled, deferred = split_ranked(ranked)

    timings: dict[str, float] = {}

    def _timed(key: str, fn, *args):
        t = time.time()
        out = fn(*args)
        timings[key] = round(time.time() - t, 3)
        return out

    def _schedule_fill():
        # fills the ranked cache; the exact post-gate frontier size and the
        # scheduled count ride the same job
        row = ranked.agg(
            F.count(F.lit(1)).alias("n"), F.count_if(is_scheduled()).alias("scheduled")
        ).first()
        return int(row["n"]), int(row["scheduled"])

    matched = deduped = None
    fills = ThreadPoolExecutor(max_workers=1)
    try:
        try:
            # the fills run in order on one thread: a concurrent first touch
            # would compute the same lineage twice
            f_sched = fills.submit(_timed, "cache_scheduled", _schedule_fill)

            # -- fetch (one response frame per wave) ------------------------
            # ``fetched`` has fetch_join's columns in both modes; its
            # ``fetched`` and ``content_type`` decide the links_out metadata
            # AND which bodies are parsed (``gated`` below), so the two
            # cannot diverge. In join mode ``matched`` is cached so the
            # corpus is scanned EXACTLY ONCE per wave: the fetch-failure
            # anti-join, the word scan, extraction, and the text write all
            # read the (wave-bounded) hit set from cache, never rescanning
            # pages. At 10^10-URL scale this cache is the wave's
            # politeness-bounded working set (use MEMORY_AND_DISK semantics —
            # Spark default spills).
            if cfg.fetch_mode == "http":
                # real HTTP fetch (operators/httpfetch.py): one mapInPandas
                # pool per host partition. localCheckpoint (NOT cache): the
                # live fetch is non-deterministic, so its output must be
                # PINNED — cache eviction / task retry would re-issue real
                # GETs and let the two consumers (links_out metadata, gated
                # extraction) observe different responses, breaking wave
                # determinism and politeness. Lineage truncation makes
                # recompute impossible by construction. eager=False: the
                # children fill materializes it exactly once. Building the
                # checkpoint plans (and, under AQE, runs) the stages below
                # it, so it waits for the schedule fill.
                from ..operators.httpfetch import http_fetch_join

                f_sched.result()
                matched = http_fetch_join(
                    scheduled,
                    timeout_ms=cfg.timeout_ms,
                    max_per_host=cfg.http_max_per_host,
                    http_base=cfg.http_base,
                ).localCheckpoint(eager=False)
                fetched = matched
            else:
                matched = fetch_matched(scheduled, pages, frontier_rows=frontier_rows)
                fetched = fetch_join(
                    scheduled,
                    pages,
                    content_type_expr,
                    matched=matched,
                    timeout_ms=cfg.timeout_ms,
                    frontier_rows=frontier_rows,
                )
            # the body gate (crawler.rs:209-227): fetched (corpus hit, not
            # timed out, or a 2xx over the wire) AND the exact MIME gate
            gate = F.col("fetched") & mime_ok(F.col("content_type"))
            # in join mode the failed-fetch union branch folds away under
            # the gate: one Filter over the matched cache
            gated = fetched.filter(gate).select("url", "html")

            # -- extraction -------------------------------------------------
            children = extract_child_links(gated).select("url", "link_type")
            if cfg.strip_tracking:
                # tracking-param canonicalization BEFORE the wave dedup, so
                # utm_* variants of one URL merge there and the seen set only
                # ever holds stripped forms (scan-side higher-order exprs, no
                # extra shuffle)
                from ..functions.urlnorm import strip_tracking_params_col

                children = children.select(
                    strip_tracking_params_col(F.col("url")).alias("url"), "link_type"
                )
            if extra_children is not None:
                children = children.unionByName(extra_children.select("url", "link_type"))
            # the wave dedup (one row per url, with the links it stands for)
            # is what the fill caches: both routing branches read it, and
            # the extraction runs exactly once
            deduped = with_host(with_url_hash(dedup_wave(children)))

            def _children_fill():
                f_sched.result()  # a failed schedule fill fails this one unrun
                # registered here, not while the schedule fill runs: a cache
                # over the ranked one waits for that fill's stages to plan
                if cfg.fetch_mode != "http":
                    matched.cache()
                deduped.cache()
                # corpus scan + matched cache; the exact children count
                return int(deduped.agg(F.sum("links")).first()[0] or 0)

            f_children = fills.submit(_timed, "cache_children", _children_fill)
            text_out = extracted_text(gated)

            # -- self rows: every scheduled URL becomes a crawled Link,
            # carrying its politeness slot (the crawl-order view reads it
            # back). The links_out write reads fetched uncached: it is the
            # only reader of the metadata columns. -------------------------
            if cfg.words:
                words_udf = make_contains_words_udf(cfg.words)
                contains_words = F.when(gate, words_udf(F.col("html"))).otherwise(F.lit(False))
            else:
                contains_words = F.lit(False)
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
                contains_words.alias("contains_words"),
                F.col("slot"),
                F.col("fetched"),
            )

            # -- routing inputs ---------------------------------------------
            # one links_out read serves both views (the residual flush is
            # committed after the last wave, so no wave's read reaches it)
            links_prev = wh.read_waves("links_out", up_to_wave=wave - 1)
            seen_prev, rejected_prev = (
                None if links_prev is None else view(links_prev, v).select("url_hash", "url")
                for v in ("seen", "rejected")
            )
            frontier_in, scheduled_rows = f_sched.result()

            # The seen set after this wave (committed seen plus this wave's
            # scheduled urls, batch seen semantics) is exactly known. While
            # it is at most config.BROADCAST_MAX_ROWS no filter is built,
            # loaded or probed: by the no-false-negative contract the result
            # is identical with or without a probe. The exact anti-join is
            # then ONE left-anti against a broadcast of seen ∪ scheduled
            # while that set is at most config.KNOWN_SET_BROADCAST_MAX_ROWS
            # (the measured crossover), else the scan-only anti_join_scan.
            #
            # Above the gate the seen filter is a cache of the seen view,
            # kept only where a wave will probe it: the wave takes the
            # committed sidecar of the requested kind (it covers waves <
            # wave), or, with none committed (the wave that crosses the gate,
            # or a resume over waves committed with another filter, none, or
            # a lost sidecar file), builds one from the whole seen view plus
            # its own urls; either way it merges its urls and commit_wave
            # saves the result. So the last wave below the gate leaves the
            # sidecar the first wave above it probes. The filter is private
            # to the wave: a wave that fails before its commit changes no
            # committed state.
            sched_keys = scheduled.select("url_hash", "url")
            seen_after = seen_rows + scheduled_rows
            committed = filt = None
            new_seen = sched_keys
            kind = cfg.seen_filter_kind()
            if kind is not None and not small_enough_to_broadcast(seen_after):
                committed = wh.load_seen_filter()
                if committed is not None and committed.kind != kind:
                    committed = None
                filt = committed
                if filt is None:
                    filt = SEEN_FILTERS[kind](cfg.n_buckets)
                    if seen_prev is not None:
                        new_seen = new_seen.unionByName(seen_prev)
            # seen_probe="sharded" loads one bucket file per task (the
            # 10^10-URL form) and falls back to the broadcast probe when no
            # sharded sidecar is committed (a warehouse written in broadcast
            # mode)
            sharded_dir = wh.sharded_dir() if cfg.seen_probe_mode() == "sharded" else None
            probe_tag = None
            if committed is None or small_enough_to_broadcast(seen_rows):
                seen_probe = "exact"
            elif sharded_dir is not None:
                seen_probe = "sharded"
            else:
                seen_probe = committed.kind
                probe_tag = broadcast_tag(spark, committed)  # ships the filter once

            def _route(children_rows: int | None):
                """The frontier and links_out writes' inputs; only the
                above-gate anti-joins read ``children_rows``."""
                crawlable, uncrawlable = split_children(deduped, cfg.whitelist, cfg.blacklist)
                newly_rejected = subtract_known(
                    uncrawlable, rejected_prev, rejected_rows, children_rows
                )
                if broadcast_known_set(seen_after):
                    known = sched_keys
                    if seen_prev is not None:
                        known = known.unionByName(seen_prev)
                    candidates = subtract_known(crawlable, known, seen_after)
                else:
                    candidates = crawlable
                    if seen_probe == "sharded":
                        from ..operators.sharded_probe import sharded_prefiltered_anti_join

                        candidates = sharded_prefiltered_anti_join(
                            spark, candidates, seen_prev, sharded_dir,
                            candidates_rows=children_rows,
                        )
                    elif seen_prev is not None:
                        candidates = prefiltered_anti_join(
                            candidates, seen_prev, probe_tag, children_rows
                        )
                    keys = sched_keys
                    if small_enough_to_broadcast(frontier_rows):  # |scheduled| <= |frontier|
                        keys = F.broadcast(keys)
                    candidates = candidates.join(keys, ["url_hash", "url"], "left_anti")

                # a deferred url rediscovered as a child merges
                # deterministically to the max priority (url_hash/host are
                # functions of url, so min() is exact). With no politeness
                # budget the deferred side is empty by construction and the
                # candidates are already wave-deduped — skip the merge
                # shuffle entirely.
                merged = candidates.select(
                    "url", "url_hash", "host", F.lit(cfg.child_priority).alias("priority")
                )
                if cfg.host_budget is not None:
                    merged = (
                        merged.unionByName(deferred.select("url", "url_hash", "host", "priority"))
                        .groupBy("url")
                        .agg(
                            F.min("url_hash").alias("url_hash"),
                            F.min("host").alias("host"),
                            F.max("priority").alias("priority"),
                        )
                    )
                next_frontier = merged.select(
                    F.lit(wave + 1).cast("int").alias("wave"), "url", "url_hash", "host",
                    "priority",
                )
                # rejected links become output rows (crawled=false, no
                # metadata; their ``fetched`` is NULL and never counted)
                links_out = self_links.unionByName(
                    uncrawled_links(newly_rejected, F.col("link_type")),
                    allowMissingColumns=True,
                )
                return links_out, next_frontier

            # planned for the broadcast case while the children fill runs;
            # planned again only when the fill reports more children than a
            # broadcast takes. Above the seen gate the probe is planned once,
            # for the exact children count (a probe is built as it is
            # planned).
            planned = _route(None) if small_enough_to_broadcast(seen_after) else None
            extracted = f_children.result()
        finally:
            fills.shutdown(wait=True, cancel_futures=True)
        if planned is None or not small_enough_to_broadcast(extracted):
            planned = _route(extracted)
        links_out, next_frontier = planned

        # -- writes (the wave barrier) -------------------------------------
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

        def _lineage():
            # fetch_join returns one row per scheduled url, so the per-host
            # scheduled counts of the filled ranked cache are the lineage
            return [
                {"host": r["host"], "fetched": r["cnt"]}
                for r in scheduled.groupBy("host")
                .agg(F.count("*").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("host"))
                .limit(100)  # lineage keeps the hottest hosts; full counts live in parquet
                .collect()
            ]

        writes = {
            "links_out": ("w_links_out", wave, links_out.drop("fetched")),
            "frontier": ("w_frontier", wave + 1, next_frontier),
            "extracted_text": ("w_text", wave, text_out),
        }
        # a wave that crashed before its manifest commit is invisible: the
        # rerun rewrites all three tables (mode overwrite) and commits them
        # together. One pool slot per job: the jobs only contend for executor
        # cores, and the block is bounded by the slowest single write. The
        # lineage and the seen-filter build read only filled caches / tiny
        # parquet, so they back-fill cores the write tail leaves idle (guide
        # §2.6). The filter build is distributed: one small table/bitmap per
        # bucket reaches the driver, never the urls.
        table_paths = {}
        with ThreadPoolExecutor(max_workers=len(writes) + 2) as pool:
            futs = {
                table: pool.submit(_timed, tkey, wh.write_wave_table, table, wv, df_)
                for table, (tkey, wv, df_) in writes.items()
            }
            f_lineage = pool.submit(_timed, "lineage", _lineage)
            f_filter = (
                pool.submit(_timed, "bloom_update", filt.build_rows, new_seen)
                if filt is not None
                else None
            )
            for table, fut in futs.items():
                table_paths[table] = fut.result()
            host_lineage = f_lineage.result()
            if f_filter is not None:
                filt.merge(f_filter.result())

        # -- metrics (observed on the writes: exact, zero extra jobs) -------
        n_scheduled = int(obs_links.get["scheduled"])
        fetch_ok = int(obs_links.get["fetch_ok"])
        counts = {
            "frontier_in": frontier_in,
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
        return counts
    finally:
        # a failed wave releases its caches too
        ranked.unpersist()
        if matched is not None and cfg.fetch_mode == "http":
            # matched is localCheckpoint()ed (not cached): DataFrame.unpersist
            # only clears CacheManager entries, so the checkpoint blocks (full
            # fetch output, html included) would otherwise pile up across
            # waves until the driver GC happens to collect the RDD reference
            _release_local_checkpoint(matched)
        elif matched is not None:
            matched.unpersist()
        if deduped is not None:
            deduped.unpersist()


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
