"""Crawl drivers: depth-bounded and run-to-exhaustion BFS loops + resume.

Maps the reference entry points (SURVEY.md §3):
* ``crawl_with_depth``  (src/crawler.rs:32-109)  -> ``crawl(depth=N)``,
  including the residual-frontier flush (crawler.rs:102-108) which emits
  leftover frontier URLs as uncrawled links BYPASSING the rejected dedup;
* ``crawl_no_depth``    (src/crawler.rs:113-195) -> ``crawl(depth=None)``,
  sitemap seeding on the first wave only, loop until the frontier empties.

Resume: the warehouse manifest records the last committed wave and the
politeness tables (robots Crawl-delay, Disallow) the first call parsed from
the corpus; ``crawl``
called on an existing warehouse continues from there (tests/test_resume.py,
and a ``kill -9`` of ``main.py`` in tests/test_cli.py). A wave that was
running when the process died left no manifest entry, so it runs again in
full. Per the north rule every wave commit carries counts and per-host
lineage; a wave whose seen set exceeds the probe gate also commits the
seen-filter sidecar (plans/wave.py), which the wave owns: ``crawl`` holds
no filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..operators import politeness
from ..operators.fetch import with_host, with_url_hash
from ..operators.sitemaps import sitemap_children
from .state import Warehouse, uncrawled_links
from .wave import run_wave


# safety bound on the waves of a no-depth crawl
MAX_WAVES = 50


def seed_frontier(
    spark: SparkSession, wh: Warehouse, seeds: list[tuple[str, float]],
    strip_tracking: bool = False,
) -> int:
    """Write the wave-0 frontier from parsed seed URLs and return its row
    count (reference cli.rs:114-117: unparsable seeds abort; here they are
    dropped with the same effect of never being crawled). ``strip_tracking``
    applies the same tracking-param canonicalization the waves apply to
    extracted children — the seed must live in the same URL space as the
    seen set it founds. Seeds with one canonical url are one frontier row,
    the last one's priority winning: every frontier holds a url once, which
    the politeness split relies on (a trimmed copy would stay deferred)."""
    from ..functions.urlnorm import parse_absolute, strip_tracking_params

    priorities: dict[str, float] = {}
    for raw, priority in seeds:
        canon = parse_absolute(raw)
        if canon is not None:
            if strip_tracking:
                canon = strip_tracking_params(canon)
            priorities[canon] = float(priority)
    rows = [(0, url, priority) for url, priority in priorities.items()]
    df = spark.createDataFrame(rows, "wave int, url string, priority double")
    df = with_host(with_url_hash(df)).select("wave", "url", "url_hash", "host", "priority")
    wh.write_wave_table("frontier", 0, df)
    return len(rows)


def crawl(
    spark: SparkSession,
    wh: Warehouse,
    pages: DataFrame,
    seeds: list[tuple[str, float]],
    cfg: CrawlConfig,
    content_type_expr=None,
) -> dict:
    """Run (or resume) a crawl; returns summary counts."""
    start_wave = wh.last_wave + 1
    frontier_rows = 0
    if start_wave == 0:
        frontier_rows = seed_frontier(spark, wh, seeds, strip_tracking=cfg.strip_tracking)

    # politeness state is checkpointed: parsed from the corpus robots.txt
    # pages once per warehouse, read back from it on every call
    robots = disallow = None
    if cfg.host_budget is not None:
        robots = wh.politeness_table(
            "robots_delay", lambda: politeness.parse_robots_crawl_delay(pages)
        )
    if cfg.respect_disallow:
        disallow = wh.politeness_table(
            "robots_disallow", lambda: politeness.parse_robots_disallow(pages)
        )

    seed_urls = [u for u, _ in seeds]

    summary = {"waves": 0, "scheduled_total": 0}
    if cfg.depth is not None:
        for wave in range(start_wave, cfg.depth):
            # depth mode never consults sitemaps (crawler.rs:30-31)
            counts = run_wave(
                spark, wh, pages, wave, cfg, robots, None, content_type_expr, disallow
            )
            summary["waves"] += 1
            summary["scheduled_total"] += counts["scheduled"]
        # residual flush (crawler.rs:102-108): leftover frontier emitted as
        # fresh uncrawled links, bypassing the rejected dedup.
        final_wave = cfg.depth
        residual = wh.read_frontier(final_wave)
        if residual is not None:
            _flush_residual(wh, residual, final_wave)
    else:
        # the loop ends on the committed frontier size, not a count job: the
        # seed count, then each wave's manifest ``new_frontier`` (a depth-mode
        # residual flush commits none: nothing is left to crawl)
        if start_wave > 0:
            frontier_rows = wh.wave_counts(start_wave - 1).get("new_frontier", 0)
        wave = start_wave
        while wave < MAX_WAVES and frontier_rows:
            extra = (
                sitemap_children(
                    spark, pages, seed_urls,
                    xml=cfg.sitemap_xml, content_type_expr=content_type_expr,
                )
                if wave == 0
                else None
            )
            counts = run_wave(
                spark, wh, pages, wave, cfg, robots, extra, content_type_expr, disallow
            )
            summary["waves"] += 1
            summary["scheduled_total"] += counts["scheduled"]
            frontier_rows = counts["new_frontier"]
            wave += 1
    return summary


def _flush_residual(wh: Warehouse, residual: DataFrame, final_wave: int) -> None:
    """Emit leftover frontier as crawled=false links (op 19)."""
    from pyspark.sql import Observation

    from ..functions.udfs import link_type_col

    flush = uncrawled_links(residual, link_type_col(F.col("url")))
    # the count rides the write as an observation — the previous read-back
    # count() was a whole extra job per crawl (guide §1.5 zero-extra-jobs
    # metrics, same pattern as run_wave's links_out counts)
    obs = Observation(f"residual_flush_w{final_wave}")
    flush = flush.observe(obs, F.count(F.lit(1)).alias("n"))
    path = wh.write_wave_table("links_out", final_wave, flush)
    wh.commit_flush(final_wave, path, int(obs.get["n"]))


def read_links_out(wh: Warehouse) -> DataFrame | None:
    """All emitted links across waves (the four JSON files' content,
    partitioned by (link_type, crawled) at rest); the politeness ``slot``
    stays internal to the crawl-order view."""
    links = wh.read_waves("links_out")
    return links.drop("slot") if links is not None else None


def read_seen(wh: Warehouse) -> DataFrame | None:
    return wh.read_waves("seen")


def read_crawl_order(wh: Warehouse) -> DataFrame | None:
    return wh.read_waves("crawl_order")
