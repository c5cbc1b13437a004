"""Digest a crawl's outputs so two trees of the engine can be compared.

    python3 scripts/output_digest.py --pages PAGES_PARQUET --out DIGEST.json
        [--seeds 300] [--seed 9001] [--depth 3]

Runs two crawls of this tree's engine over PAGES_PARQUET, each into a fresh
warehouse: ``polite`` (the benchmark's ``crawl_polite`` settings: 10 s
timeout, host budget 32, robots Crawl-delay and Disallow, cuckoo filter with
the sharded probe) and ``plain`` (no budget, no timeout). Both whitelist the
ten corpus hosts and start from the same seeds: page urls whose fetch
succeeds and whose body is parsed, drawn with ``--seed``. The digest holds,
per crawl, hashes of the crawl order, the seen set, the per-url text hash
and the links_out rows, plus the manifest's per-wave counts and a hash of
its host lineage. Run it in both trees with the same arguments and compare
the two files: a change that keeps the engine's outputs gives equal files.

PAGES_PARQUET is a corpus ``sources.corpus`` derives (its latency and MIME
rules choose the seeds), e.g. the benchmark's ``.perfbench_work/pages-*``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# executor Python workers import the package too (as main.py arranges)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
sys.path.insert(0, ROOT)

HOSTS = [f"host{i}.example" for i in range(10)]


def _hash(value) -> str:
    return hashlib.sha256(json.dumps(value, default=str).encode()).hexdigest()[:16]


def pick_seeds(pages, n: int, seed: int) -> list[tuple[str, float]]:
    import numpy as np

    from webcrawler_woc_spark.oracle.pyoracle import HTML_MIMES, _fetch_ms
    from webcrawler_woc_spark.sources.corpus import default_content_type_py

    urls = sorted(r["url"] for r in pages.select("url").collect())
    ok = [
        u for u in urls
        if "/page/" in u and _fetch_ms(u) < 10_000 and default_content_type_py(u) in HTML_MIMES
    ]
    picked = np.random.default_rng(seed).choice(len(ok), min(n, len(ok)), replace=False)
    return [(ok[int(i)], 1.0) for i in picked]


def digest(wh) -> dict:
    from webcrawler_woc_spark.plans.crawl import read_crawl_order, read_links_out, read_seen

    order = sorted(
        tuple(r) for r in read_crawl_order(wh).select("wave", "host", "slot", "url").collect()
    )
    seen = sorted(r["url"] for r in read_seen(wh).collect())
    text = sorted(
        (r["url"], hashlib.sha256(r["text"].encode()).hexdigest())
        for r in wh.read_waves("extracted_text").collect()
    )
    links = sorted(
        json.dumps(
            {k: sorted(v.items()) if isinstance(v, dict) else v for k, v in r.asDict().items()},
            default=str,
        )
        for r in read_links_out(wh).collect()
    )
    waves = wh.manifest["waves"]
    return {
        "seen_urls": len(seen),
        "seen": _hash(seen),
        "crawl_order": _hash(order),
        "text": _hash(text),
        "links_out_rows": len(links),
        "links_out": _hash(links),
        "counts": {w: waves[w]["counts"] for w in sorted(waves, key=int)},
        "lineage": _hash([waves[w].get("host_lineage") for w in sorted(waves, key=int)]),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", required=True, help="pages corpus parquet")
    ap.add_argument("--out", required=True, help="digest JSON to write")
    ap.add_argument("--seeds", type=int, default=300)
    ap.add_argument("--seed", type=int, default=9001, help="seed-url choice")
    ap.add_argument("--depth", type=int, default=3)
    args = ap.parse_args(argv)

    from webcrawler_woc_spark.config import CrawlConfig
    from webcrawler_woc_spark.plans.crawl import crawl
    from webcrawler_woc_spark.plans.state import Warehouse
    from webcrawler_woc_spark.session import get_spark

    configs = {
        "polite": CrawlConfig(
            whitelist=HOSTS, words=["merge"], depth=args.depth, timeout_ms=10_000,
            host_budget=32, respect_disallow=True, seen_filter="cuckoo", seen_probe="sharded",
        ),
        "plain": CrawlConfig(whitelist=HOSTS, words=["merge"], depth=args.depth),
    }
    spark = get_spark(app_name="output-digest")
    try:
        pages = spark.read.parquet(args.pages)
        seeds = pick_seeds(pages, args.seeds, args.seed)
        result = {}
        for name, cfg in configs.items():
            with tempfile.TemporaryDirectory(prefix="output_digest_") as tmp:
                wh = Warehouse(spark, tmp)
                crawl(spark, wh, pages, seeds, cfg)
                result[name] = digest(wh)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({name: d["seen_urls"] for name, d in result.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
