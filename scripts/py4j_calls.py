"""Count the py4j round trips the driver makes in one resumed crawl call.

    python3 scripts/py4j_calls.py --pages PAGES_PARQUET [--seeds 300]
        [--seed 9001] [--conf KEY=VALUE ...] [--warm 1]

The call has the shape of the benchmark's ``crawl_polite`` workload: seeds
whose fetch succeeds under the 10 s timeout, every host of the corpus
whitelisted, host budget 32 with robots Crawl-delay, Disallow respected, the
cuckoo filter with the sharded probe, depth 2. Wave 0 runs once into a
warehouse (uncounted); each call then resumes a copy of it from wave 1 to
the end, as a resumed ``crawl()`` does. ``--warm`` calls run first and are
not counted; the last call is counted.

Every round trip goes through py4j's ``GatewayConnection.send_command``; the
script wraps it in this process and prints one JSON line with the calls made
on the main thread (the driver's plan building; a blocking action counts as
one) and on all threads (the write pools' threads included), plus the Spark
jobs the call started and its wall time. ``--conf`` passes Spark settings through ``get_spark(extra_conf=)``,
e.g. ``--conf spark.python.sql.dataFrameDebugging.enabled=true`` to count
with PySpark's call-site capture turned back on.

PAGES_PARQUET is any pages corpus ``main.py --pages`` reads (url, html,
text); the synthetic ones ``sources.corpus.pages_from_documents`` derives
have the latency and MIME rules the seed choice relies on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# executor Python workers import the package too (as main.py arranges)
os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
sys.path.insert(0, ROOT)

TIMEOUT_MS = 10_000


class _StopAfterWave0(Exception):
    pass


class CallCounter:
    """Counts ``GatewayConnection.send_command`` calls while ``on``."""

    def __init__(self):
        self.on = False
        self.main = 0
        self.total = 0

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        main_thread = threading.main_thread()
        for cls in {GatewayConnection, ClientServerConnection}:
            orig = cls.send_command

            def send_command(conn, command, *args, _orig=orig, **kwargs):
                if self.on:
                    self.total += 1
                    self.main += threading.current_thread() is main_thread
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = send_command


def pick_seeds(pages, n: int, seed: int) -> list[tuple[str, float]]:
    """``n`` page urls whose fetch succeeds and whose body is parsed."""
    import numpy as np

    from webcrawler_woc_spark.oracle.pyoracle import HTML_MIMES, _fetch_ms
    from webcrawler_woc_spark.sources.corpus import default_content_type_py

    urls = sorted(r["url"] for r in pages.select("url").collect())
    ok = [
        u for u in urls
        if _fetch_ms(u) < TIMEOUT_MS and default_content_type_py(u) in HTML_MIMES
    ]
    rng = np.random.default_rng(seed)
    picked = rng.choice(len(ok), min(n, len(ok)), replace=False)
    return [(ok[int(i)], 1.0) for i in picked]


def polite_config(seeds: list[tuple[str, float]]):
    """The ``crawl_polite``-shaped config over the seeds' hosts."""
    from webcrawler_woc_spark.config import CrawlConfig
    from webcrawler_woc_spark.functions.urlnorm import host_of

    return CrawlConfig(
        whitelist=sorted({host_of(u) for u, _ in seeds}), words=["merge"], depth=2,
        timeout_ms=TIMEOUT_MS, host_budget=32, respect_disallow=True,
        seen_filter="cuckoo", seen_probe="sharded",
    )


def crawl_wave0(spark, pages, seeds, cfg, snapshot: str) -> None:
    """Run wave 0 of the crawl into a warehouse at ``snapshot``."""
    from webcrawler_woc_spark.plans import crawl as crawl_mod
    from webcrawler_woc_spark.plans.state import Warehouse

    run_wave = crawl_mod.run_wave

    def first_wave_only(spark_, wh_, pages_, wave, *a, **kw):
        if wave > 0:
            raise _StopAfterWave0
        return run_wave(spark_, wh_, pages_, wave, *a, **kw)

    crawl_mod.run_wave = first_wave_only
    try:
        crawl_mod.crawl(spark, Warehouse(spark, snapshot), pages, seeds, cfg)
    except _StopAfterWave0:
        pass
    finally:
        crawl_mod.run_wave = run_wave


def resumable_copy(spark, snapshot: str, path: str):
    """A copy of the wave-0 warehouse at ``path``, opened for a resume."""
    from webcrawler_woc_spark.plans.state import Warehouse

    shutil.copytree(snapshot, path)
    manifest = os.path.join(path, "manifest.json")
    with open(manifest) as f:
        text = f.read()
    with open(manifest, "w") as f:
        f.write(text.replace(snapshot + os.sep, path + os.sep))
    return Warehouse(spark, path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", required=True, help="pages corpus parquet")
    ap.add_argument("--seeds", type=int, default=300)
    ap.add_argument("--seed", type=int, default=9001, help="seed-url choice")
    ap.add_argument("--warm", type=int, default=1, help="uncounted calls first")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args(argv)

    from webcrawler_woc_spark.plans import crawl as crawl_mod
    from webcrawler_woc_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="py4j-calls", extra_conf=extra or None)
    work = tempfile.mkdtemp(prefix="py4j_calls_")
    try:
        pages = spark.read.parquet(args.pages)
        seeds = pick_seeds(pages, args.seeds, args.seed)
        cfg = polite_config(seeds)
        snapshot = os.path.join(work, "wave0")
        crawl_wave0(spark, pages, seeds, cfg, snapshot)

        counter = CallCounter()
        counter.install()
        tracker = spark.sparkContext.statusTracker()  # jobs outside any group
        for i in range(args.warm + 1):
            wh = resumable_copy(spark, snapshot, os.path.join(work, f"call{i}"))
            counter.on = i == args.warm
            jobs_before = set(tracker.getJobIdsForGroup(None))
            t0 = time.time()
            summary = crawl_mod.crawl(spark, wh, pages, seeds, cfg)
            run_s = time.time() - t0
            counter.on = False
            jobs = len(set(tracker.getJobIdsForGroup(None)) - jobs_before)
        print(json.dumps({
            "main_thread_calls": counter.main,
            "all_thread_calls": counter.total,
            "spark_jobs": jobs,
            "run_s": round(run_s, 3),
            "waves": summary["waves"],
            "scheduled": summary["scheduled_total"],
            "conf": extra,
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
