"""Operator-by-operator replay of one committed wave (traced pass only).

The wave plan is lazy: timing ``schedule_wave`` or ``extract_child_links``
as calls would time plan construction only. The replay rebuilds the wave
from its committed inputs (frontier, seen and rejected tables, the previous
wave's seen-filter sidecar) the way ``plans.wave.run_wave`` composes it, and
materializes each operator on its own into the cache, so each time covers
that operator alone. The replayed row counts must equal the manifest's.
"""

from __future__ import annotations

import os
import time


def _timed_count(df) -> tuple[int, float]:
    t = time.perf_counter()
    n = df.cache().count()
    return n, time.perf_counter() - t


def _extract_ops(spark, m: dict, gated, words, whitelist, blacklist, rejected_prev):
    """Extraction, text, word scan, dedup and routing over cached ``gated``
    (url, html) rows; returns (children count, candidates, newly rejected)."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.functions.udfs import make_contains_words_udf
    from webcrawler_woc_spark.operators.extract import extract_child_links, extracted_text
    from webcrawler_woc_spark.operators.fetch import with_host, with_url_hash
    from webcrawler_woc_spark.operators.routing import dedup_wave, route_children

    n_pages = gated.cache().count()
    children = extract_child_links(gated).select("url", "link_type")
    n_children, s = _timed_count(children)
    m["operators.extract.extract_child_links.s"] = s
    m["operators.extract.extract_child_links.pages"] = n_pages
    m["operators.extract.extract_child_links.links"] = n_children

    t = time.perf_counter()
    row = extracted_text(gated).agg(F.sum(F.octet_length("text")).alias("b")).collect()[0]
    m["operators.extract.extracted_text.s"] = time.perf_counter() - t
    m["operators.extract.extracted_text.text_bytes"] = row["b"] or 0

    if words:
        t = time.perf_counter()
        gated.select(make_contains_words_udf(words)(F.col("html")).alias("w")).agg(
            F.count_if("w")
        ).collect()
        m["functions.udfs.contains_words.s"] = time.perf_counter() - t

    deduped = with_host(with_url_hash(dedup_wave(children)))
    n_deduped, s = _timed_count(deduped)
    m["operators.routing.dedup_wave.s"] = s
    m["operators.routing.dedup_wave.rows_in"] = n_children
    m["operators.routing.dedup_wave.rows_out"] = n_deduped

    empty = spark.createDataFrame([], "url_hash long, url string")
    candidates, rejected = route_children(
        deduped, empty.limit(0), rejected_prev if rejected_prev is not None else empty,
        whitelist, blacklist, children_rows=n_children,
    )
    n_cand, s1 = _timed_count(candidates)
    n_rej, s2 = _timed_count(rejected)
    m["operators.routing.route_children.s"] = s1 + s2
    m["operators.routing.route_children.frontier_out"] = n_cand
    m["operators.routing.route_children.rejected_out"] = n_rej
    return n_children, candidates, n_rej


def _probe(m: dict, module: str, tagged, n_cand: int) -> None:
    """Time the seen-filter probe alone over candidates tagged ``_maybe_seen``."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    row = tagged.agg(F.count_if("_maybe_seen").alias("maybe")).collect()[0]
    m[f"{module}.probe.s"] = time.perf_counter() - t
    m[f"{module}.probe.candidates"] = n_cand
    m[f"{module}.probe.maybe_seen"] = row["maybe"]
    m[f"{module}.probe.useful_ratio"] = (n_cand - row["maybe"]) / max(n_cand, 1)


def _bloom_ops(spark, m, seen_prev, candidates, n_cand, seen_rows, n_buckets, work) -> None:
    """The bloom layer on the same wave, for a workload that runs another
    seen filter: build over the seen set, merge, save and load the sidecar,
    probe the wave's candidates."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.operators.bloom import (
        PartitionedBloom,
        build_bucket_bitmaps,
        make_might_contain_udf,
    )

    b = PartitionedBloom(n_buckets)
    t = time.perf_counter()
    rows = build_bucket_bitmaps(seen_prev, b.n_buckets, b.m_bits, b.k)
    m["operators.bloom.build.s"] = time.perf_counter() - t
    m["operators.bloom.build.inserts"] = seen_rows
    t = time.perf_counter()
    b.merge_spark_bitmaps(rows)
    m["operators.bloom.merge.s"] = time.perf_counter() - t
    path = os.path.join(work, "tmp", f"bloom-{os.getpid()}.npz")
    t = time.perf_counter()
    b.save(path)
    m["operators.bloom.save.s"] = time.perf_counter() - t
    m["operators.bloom.sidecar_bytes"] = os.path.getsize(path)
    t = time.perf_counter()
    b = PartitionedBloom.load(path)
    m["operators.bloom.load.s"] = time.perf_counter() - t
    os.remove(path)
    tagged = candidates.withColumn("_maybe_seen", make_might_contain_udf(spark, b)(F.col("url_hash")))
    _probe(m, "operators.bloom", tagged, n_cand)


def replay_wave(spark, pages, wl, wh) -> tuple[dict, bool]:
    """Replay the last committed wave of ``wh``; returns (metrics, counts ok)."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.config import small_enough_to_broadcast
    from webcrawler_woc_spark.operators import bloom, cuckoo, sharded_probe
    from webcrawler_woc_spark.operators.extract import html_body_gate
    from webcrawler_woc_spark.operators.fetch import fetch_join, fetch_matched
    from webcrawler_woc_spark.operators.politeness import (
        filter_disallowed,
        parse_robots_crawl_delay,
        parse_robots_disallow,
        schedule_wave,
    )
    from webcrawler_woc_spark.sources.corpus import default_content_type_expr

    cfg = wl.config()
    waves = wh.manifest["waves"]
    wave = max(int(w) for w, info in waves.items() if "committed_at" in info)
    want = waves[str(wave)]["counts"]
    frontier_rows = waves.get(str(wave - 1), {}).get("counts", {}).get("new_frontier")
    m: dict = {}
    got: dict = {}
    cached = []

    def keep(df):
        cached.append(df)
        return df

    series = [waves[str(w)]["counts"]["frontier_in"] for w in range(wave + 1)]
    m["operators.politeness.schedule_wave.frontier_in_rises"] = sum(
        b > a for a, b in zip(series, series[1:])
    )

    robots = keep(parse_robots_crawl_delay(pages)) if cfg.host_budget is not None else None
    disallow = keep(parse_robots_disallow(pages)) if cfg.respect_disallow else None
    for df in (robots, disallow):
        if df is not None:
            df.cache().count()
    frontier = wh.read_frontier(wave)
    if disallow is not None:
        frontier = filter_disallowed(frontier, disallow)
    got["frontier_in"] = keep(frontier).cache().count()

    t = time.perf_counter()
    scheduled, deferred = schedule_wave(frontier, robots, cfg.host_budget)
    got["scheduled"] = keep(scheduled).cache().count()
    n_deferred = keep(deferred).cache().count()
    m["operators.politeness.schedule_wave.s"] = time.perf_counter() - t
    m["operators.politeness.schedule_wave.frontier_in"] = got["frontier_in"]
    m["operators.politeness.schedule_wave.scheduled"] = got["scheduled"]
    m["operators.politeness.schedule_wave.deferred"] = n_deferred

    matched = keep(fetch_matched(scheduled, pages, frontier_rows=frontier_rows))
    hits, s = _timed_count(matched)
    m["operators.fetch.fetch_matched.s"] = s
    m["operators.fetch.fetch_matched.hits"] = hits
    m["operators.fetch.fetch_matched.corpus_rows_scanned"] = pages.count()
    t = time.perf_counter()
    row = fetch_join(
        scheduled, pages, None, matched=matched, timeout_ms=cfg.timeout_ms,
        frontier_rows=frontier_rows,
    ).agg(F.count("*").alias("n"), F.count_if("fetched").alias("ok")).collect()[0]
    m["operators.fetch.fetch_join.s"] = time.perf_counter() - t
    got["fetched"] = row["ok"]
    m["operators.fetch.fetch_join.fetch_ok_ratio"] = row["ok"] / max(row["n"], 1)

    gated = keep(
        matched.filter(
            html_body_gate(F.col("url"), default_content_type_expr, cfg.timeout_ms)
        ).select("url", "html")
    )
    rejected_prev = wh.read_waves("rejected", up_to_wave=wave - 1)
    if rejected_prev is not None:
        rejected_prev = rejected_prev.select("url_hash", "url")
    got["extracted_links"], candidates, got["new_rejected"] = _extract_ops(
        spark, m, gated, cfg.words, cfg.whitelist, cfg.blacklist, rejected_prev
    )
    keep(candidates)

    # seen-filter probe, chosen exactly as run_wave chooses it
    sidecar = wh.load_seen_filter(wave - 1)
    sharded_dir = (
        wh.sharded_dir(wave - 1)
        if cfg.seen_probe_mode() == "sharded" and sidecar is not None
        else None
    )
    seen_rows = sum(
        int(info.get("counts", {}).get("scheduled", 0))
        for w, info in waves.items()
        if int(w) < wave
    )
    probe_filter = sidecar if not small_enough_to_broadcast(seen_rows) else None
    seen_prev = wh.read_waves("seen", up_to_wave=wave - 1).select("url_hash", "url")
    n_cand = m["operators.routing.route_children.frontier_out"]
    if sharded_dir is not None:
        module = "operators.sharded_probe"
        tagged = sharded_probe.sharded_tag_maybe_seen(candidates, sharded_dir)
        anti = sharded_probe.sharded_prefiltered_anti_join(
            spark, candidates, seen_prev, sharded_dir, candidates_rows=got["extracted_links"]
        )
    else:
        kind = getattr(probe_filter, "kind", "bloom")
        module = f"operators.{kind}"
        impl = cuckoo if kind == "cuckoo" else bloom
        tagged = (
            candidates.withColumn(
                "_maybe_seen", impl.make_might_contain_udf(spark, probe_filter)(F.col("url_hash"))
            )
            if probe_filter is not None
            else None
        )
        anti_join = (
            cuckoo.cuckoo_prefiltered_anti_join
            if kind == "cuckoo"
            else bloom.bloom_prefiltered_anti_join
        )
        anti = anti_join(
            spark, candidates, seen_prev, probe_filter, candidates_rows=got["extracted_links"]
        )
    if tagged is not None:
        _probe(m, module, tagged, n_cand)
    if cfg.seen_filter_kind() != "bloom":
        _bloom_ops(spark, m, seen_prev, candidates, n_cand, seen_rows, cfg.n_buckets, wl.work)

    sched_keys = scheduled.select("url_hash", "url")
    if small_enough_to_broadcast(frontier_rows):
        sched_keys = F.broadcast(sched_keys)
    after_seen = keep(anti.join(sched_keys, ["url_hash", "url"], "left_anti"))
    _, s = _timed_count(after_seen)
    m["operators.routing.seen_anti_join.s"] = s
    nxt = after_seen.select("url")
    if cfg.host_budget is not None:
        nxt = nxt.unionByName(deferred.select("url")).distinct()
    got["new_frontier"] = nxt.count()

    for df in cached:
        df.unpersist()
    mismatched = {k: (v, want[k]) for k, v in got.items() if v != want[k]}
    if mismatched:
        import sys

        print(f"perfbench: replay of wave {wave} disagrees with the manifest: {mismatched}",
              file=sys.stderr)
    return m, not mismatched


def replay_extract(spark, pages, wl) -> tuple[dict, bool]:
    """Per-operator times of one extract pass over the whole corpus."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.operators.extract import mime_ok
    from webcrawler_woc_spark.sources.corpus import default_content_type_expr

    m: dict = {}
    gated = pages.filter(mime_ok(default_content_type_expr(F.col("url")))).select("url", "html")
    _extract_ops(spark, m, gated, [], wl.whitelist, None, None)
    gated.unpersist()
    return m, True


def scaling_sample(pages):
    """The quarter of the corpus the scaling check passes over (at one core
    a full pass would dominate the traced run)."""
    from pyspark.sql import functions as F

    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)


def extract_throughput(spark, pages, extract) -> float:
    """Pages per second of one extract pass over the scaling sample."""
    c = extract.call(spark, scaling_sample(pages))
    return c["urls"] / c["run_s"]


def single_core_throughput(work: str, extract) -> float:
    """``extract_throughput`` on a fresh ``local[1]`` session."""
    import corpus
    from webcrawler_woc_spark.session import get_spark

    spark = get_spark(app_name="perfbench-1core", master="local[1]")
    try:
        return extract_throughput(spark, spark.read.parquet(corpus.pages_path(work)), extract)
    finally:
        spark.stop()
