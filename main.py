"""spark-submit entry point mirroring the reference CLI (src/cli.rs:10-43).

    spark-submit --py-files webcrawler_woc_spark.zip main.py \
        http://host0.example/page/0 \
        --pages /data/pages_parquet \
        --warehouse /data/crawl_state \
        -d 3 -w whitelist.txt -o out/ --search words.txt

Flag parity with the reference (semantics per SURVEY.md §2):
  <url>                seed URL (op 1; unparsable seed aborts, cli.rs:114-117)
  -d/--depth N         BFS waves; omitted => run to exhaustion + sitemaps
  -w/--whitelist FILE  one host per line (op 2)
  -b/--blacklist FILE  one host per line (op 2)
  -s/--search FILE     word list, case-sensitive raw-html scan (op 3/11)
  -o/--output DIR      links_out export as JSON lines partitioned by
                       (link_type, crawled) (op 23)
  -v/--verbose         tee crawled links to stdout (op 24, cli.rs:260-266)
  --task-limit N       max concurrent fetch tasks -> caps shuffle partitions
                       (op 26, cli.rs:41-42, default 1000)
  --timeout SECONDS    request timeout, default 10 like the reference
                       (cli.rs:34-35); 0 disables (op 27)
  --host-budget N      per-host politeness budget per wave (north rule)
Extra (engine-specific):
  --pages PATH         parquet/iceberg path of the pages corpus (fetch sim)
  --seen-filter KIND   seen-set prefilter: bloom (default) | cuckoo | none
  --warehouse PATH     crawl-state warehouse; rerunning with the same path
                       resumes from the last committed wave automatically
                       (a completed crawl is a clean no-op)
  --fetch-mode MODE    join (corpus equi-join sim, default) | http (real GET
                       via the mapInPandas fetcher pool, per-host capped)
  --http-base URL      http mode: fixture-server request rewrite (tests)
  --wet-max-bundle-bytes N  byte budget per --wet-out blob (default 1 GiB)
"""

from __future__ import annotations

import argparse
import os
import sys

# Executor Python workers must import webcrawler_woc_spark too. Under
# spark-submit --py-files the zip is shipped; under a plain `python main.py`
# from another cwd the workers inherit PYTHONPATH from the (driver-launched)
# local JVM — export the package root there before the session is created.
_PKG_ROOT = os.path.dirname(os.path.abspath(__file__))
os.environ["PYTHONPATH"] = _PKG_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
if _PKG_ROOT not in sys.path:
    sys.path.insert(0, _PKG_ROOT)


def read_lines(path: str | None) -> list[str] | None:
    """Word-list file source (reference file_handler.rs:31-43):
    one entry per line, blank lines dropped, no other normalization."""
    if path is None:
        return None
    with open(path) as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def read_host_lines(path: str | None) -> list[str] | None:
    """Host-list file source (reference file_handler.rs:12-28): each line is
    parsed like ``url::Host::parse`` — lowercased, IDN -> punycode — and
    unparsable lines are silently dropped, so entries match the canonical
    (lowercase) hosts the engine derives from URLs."""
    from webcrawler_woc_spark.functions.urlnorm import normalize_host

    lines = read_lines(path)
    if lines is None:
        return None
    return [h for h in (normalize_host(line) for line in lines) if h is not None]


def main(argv: list[str] | None = None) -> int:
    from webcrawler_woc_spark.operators.bloom import SEEN_FILTERS

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("url")
    ap.add_argument("-d", "--depth", type=int, default=None)
    ap.add_argument("-w", "--whitelist", default=None)
    ap.add_argument("-b", "--blacklist", default=None)
    ap.add_argument("-s", "--search", default=None)
    ap.add_argument("-o", "--output", default=None)
    ap.add_argument(
        "--task-limit", type=int, default=1000,
        help="max concurrent fetch tasks (reference cli.rs:41-42, default "
             "1000) -> caps spark.sql.shuffle.partitions, the per-stage "
             "task-concurrency bound",
    )
    ap.add_argument("--host-budget", type=int, default=None)
    ap.add_argument(
        "--timeout", type=float, default=10.0,
        help="request timeout in seconds, applied to the synthetic fetch "
             "latency (reference default 10, cli.rs:34-35 — always on "
             "there too); 0 disables the gate",
    )
    ap.add_argument(
        "--respect-disallow", action="store_true",
        help="enforce robots.txt Disallow rules on the frontier",
    )
    ap.add_argument(
        "--strip-tracking", action="store_true",
        help="canonicalize frontier URLs by stripping tracking query params "
             "(utm_*/fbclid/gclid/...) so ad-tagged variants of one page "
             "collapse to one fetch; default off = reference parity",
    )
    ap.add_argument(
        "--trap-filter", action="store_true",
        help="drop crawler-trap URLs (segment loops, calendar lattices, "
             "session-id params, param explosions, over-deep paths) from "
             "the frontier before scheduling",
    )
    ap.add_argument(
        "-v", "--verbose", action="store_true",
        help="tee the crawled links to stdout (reference cli.rs:260-266)",
    )
    ap.add_argument("--pages", required=True)
    ap.add_argument(
        "--pages-format", choices=("parquet", "json"), default="parquet",
        help="pages corpus format: parquet (default) or JSON-lines with the "
             "same (url, warc_ts, html, text, lang) schema — html base64, "
             "warc_ts ISO-8601 (the shape Common-Crawl-style JSONL dumps use)",
    )
    ap.add_argument("--warehouse", required=True)
    ap.add_argument(
        "--wet-out", default=None,
        help="also export the crawled pages' extracted text as WARC/WET "
             "(ISO 28500 conversion records, one parquet row per host "
             "bundle) — the Common-Crawl at-rest text format",
    )
    ap.add_argument(
        "--wet-max-bundle-bytes", type=int, default=1 << 30,
        help="byte budget per WET blob for --wet-out (default 1 GiB, the "
             "real WET file cap); hot hosts split into multiple blobs",
    )
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument(
        "--seen-filter", choices=(*SEEN_FILTERS, "none"), default="bloom",
        help="seen-set prefilter sketch ahead of the exact anti-join: bloom "
             "(default), cuckoo (deletable fingerprints; recrawl expiry) or "
             "none (exact anti-join only). A sidecar is kept only above the "
             "--seen-probe size gate; a resumed wave that needs one of "
             "another kind rebuilds it from the seen set",
    )
    ap.add_argument(
        "--seen-probe", choices=("broadcast", "sharded"), default="broadcast",
        help="how waves probe the seen filter: broadcast ships the whole "
             "merged filter to every executor (default; cheap at small "
             "scale); sharded keeps one sidecar file per hash bucket and "
             "each probe task loads only its own bucket (the 10^10-URL "
             "form, where the merged filter is too big to broadcast). "
             "No wave probes, or builds a filter, while the seen set (with "
             "its own urls, for the build) has at most "
             "config.BROADCAST_MAX_ROWS urls: the exact anti-join is cheaper",
    )
    ap.add_argument(
        "--sitemap-xml", action="store_true",
        help="no-depth mode: also parse XML sitemaps (urlset + one-level "
             "sitemapindex recursion) during wave-0 sitemap discovery; "
             "default off = reference parity (text/plain sitemaps only)",
    )
    ap.add_argument(
        "--fetch-mode", choices=("join", "http"), default="join",
        help="join = corpus equi-join fetch simulation (default); http = "
             "real HTTP GET via the mapInPandas fetcher pool (the corpus is "
             "then used only for robots/sitemap caches)",
    )
    ap.add_argument(
        "--http-base", default=None,
        help="http mode: rewrite requests to {base}/{host}{path} (fixture "
             "server routing for network-free runs); omit to fetch as-is",
    )
    ap.add_argument(
        "--http-max-per-host", type=int, default=4,
        help="http mode: max in-flight connections per host (politeness cap "
             "on top of the per-wave host budget)",
    )
    args = ap.parse_args(argv)

    from webcrawler_woc_spark.config import CrawlConfig
    from webcrawler_woc_spark.functions.urlnorm import parse_absolute
    from webcrawler_woc_spark.plans.crawl import crawl, read_links_out
    from webcrawler_woc_spark.plans.state import Warehouse
    from webcrawler_woc_spark.session import get_spark

    if parse_absolute(args.url) is None:
        print(f"error: could not parse seed url {args.url!r}", file=sys.stderr)
        return 2  # reference aborts on unparsable seed (cli.rs:114-117)

    # task-limit (op 26): the reference bounds concurrent fetch futures; the
    # Spark analogue is the shuffle-partition count, the per-stage bound on
    # concurrent tasks. Never raise it above the configured default — more
    # partitions than data helps nobody — only cap it down.
    default_shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    spark = get_spark(
        app_name="webcrawler-woc-spark",
        shuffle_partitions=max(1, min(args.task_limit, default_shuffle)),
    )
    if args.verbose:
        print(
            f"conf: task_limit={args.task_limit} -> shuffle_partitions="
            f"{spark.conf.get('spark.sql.shuffle.partitions')}"
        )
    if args.pages_format == "json":
        from webcrawler_woc_spark.schemas import PAGES_SCHEMA

        # Spark maps JSON strings -> binary via base64 when the schema says so
        pages = spark.read.schema(PAGES_SCHEMA).json(args.pages)
    else:
        pages = spark.read.parquet(args.pages)

    cfg = CrawlConfig(
        whitelist=read_host_lines(args.whitelist),
        blacklist=read_host_lines(args.blacklist),
        words=read_lines(args.search) or [],
        depth=args.depth,
        host_budget=args.host_budget,
        timeout_ms=int(args.timeout * 1000) if args.timeout else None,
        respect_disallow=args.respect_disallow,
        trap_filter=args.trap_filter,
        strip_tracking=args.strip_tracking,
        n_buckets=args.n_buckets,
        seen_filter=args.seen_filter,
        seen_probe=args.seen_probe,
        sitemap_xml=args.sitemap_xml,
        fetch_mode=args.fetch_mode,
        http_base=args.http_base,
        http_max_per_host=args.http_max_per_host,
    )
    wh = Warehouse(spark, args.warehouse)
    summary = crawl(spark, wh, pages, [(args.url, 1.0)], cfg)
    print(f"crawl finished: {summary}")

    if args.wet_out:
        from pyspark.sql import functions as F

        from webcrawler_woc_spark.operators.fetch import host_expr
        from webcrawler_woc_spark.plans.crawl import read_seen
        from webcrawler_woc_spark.sources.warc import wet_bundle

        if args.fetch_mode == "http":
            # http mode: the corpus never backed the fetch, so exporting its
            # text would archive pages the crawl didn't see. Export the
            # warehouse's extracted_text — the bytes actually fetched and
            # parsed — with a fixed epoch (the skeleton records no per-fetch
            # wall time; timestamps are simulation-domain only).
            crawled = wh.read_waves("extracted_text")
            if crawled is not None:
                crawled = crawled.select(
                    "url", F.timestamp_seconds(F.lit(0)).alias("warc_ts"), "text"
                )
        else:
            seen = read_seen(wh)
            crawled = None
            if seen is not None:
                # fetch-sim semantics: a seen URL with a corpus row had its
                # body read; fetch failures have no row and thus no WET record
                crawled = pages.join(seen.select("url"), "url").select(
                    "url", "warc_ts", "text"
                )
        if crawled is not None:
            wet_bundle(
                crawled, host_expr(F.col("url")), max_bundle_bytes=args.wet_max_bundle_bytes
            ).write.mode("overwrite").parquet(args.wet_out)
            print(f"WET bundles exported to {args.wet_out}")

    if args.output or args.verbose:
        links = read_links_out(wh)
        if links is not None:
            if args.output:
                # four-way routing of the reference's JSON sinks (op 23), as
                # spec-compliant JSON lines partitioned by (link_type, crawled)
                links.write.mode("overwrite").partitionBy("link_type", "crawled").json(
                    args.output
                )
                print(f"links exported to {args.output}")
            if args.verbose:
                # stdout tee (op 24, reference cli.rs:260-266). Driver-side by
                # construction — bounded by a large page cap like the
                # reference's terminal dump, never a full-table collect.
                links.show(n=10000, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
