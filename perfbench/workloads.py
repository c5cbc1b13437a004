"""The benchmark's workloads, each a closed loop with one client.

* ``crawl_wide``     5000 random seeds, no host budget, no timeout, bloom
                     seen filter: per-URL work dominates;
* ``crawl_polite``   300 seeds, the CLI's 10 s timeout, host budget with
                     robots crawl-delay, Disallow respected, cuckoo filter
                     with the sharded probe: per-wave fixed cost dominates;
* ``extract_corpus`` one stateless extract/dedup/route pass over the corpus:
                     UDF-kernel throughput.

A workload object owns its inputs (generated from the workload seed), its
warm-up, one timed call, and the check of every call's outputs against the
committed expected outputs or the oracle (``check.py``).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import numpy as np

import check
import corpus

HOSTS = [f"host{i}.example" for i in range(10)]
WORDS = ["merge"]


class _StopAfterWave0(Exception):
    pass


def closed_loop(one_call, seconds: float) -> list[dict]:
    """One client: call ``one_call(i)``, start the next call when it returns,
    until ``seconds`` of timed calls have passed (at least one call). A call
    that raises is recorded as failed and the loop goes on."""
    calls, timed = [], 0.0
    while not calls or timed < seconds:
        t0 = time.time()
        try:
            c = one_call(len(calls))
        except Exception:
            traceback.print_exc()
            c = {"raised": True, "run_s": time.time() - t0, "urls": 0, "links": 0}
        calls.append(c)
        timed += c["run_s"]
    return calls


def page_url(doc_id: int) -> str:
    return f"http://host{doc_id % 10}.example/page/{doc_id}"


class CrawlWorkload:
    """One call = one ``crawl()`` into a fresh warehouse."""

    name = "crawl"
    n_seeds = 0
    depth = 0
    cfg_kwargs: dict = {}

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self._prepared = None
        self.runs_dir = os.path.join(work, "runs", str(os.getpid()))
        os.makedirs(self.runs_dir, exist_ok=True)
        self.seeds = self.pick_seeds(np.random.default_rng(seed), self.n_seeds)

    # -- inputs -------------------------------------------------------------

    def pick_seeds(self, rng, n: int) -> list[tuple[str, float]]:
        ids = rng.choice(corpus.n_docs(), n, replace=False)
        return [(page_url(int(i)), 1.0) for i in ids]

    def config(self):
        from webcrawler_woc_spark.config import CrawlConfig

        return CrawlConfig(whitelist=HOSTS, words=WORDS, depth=self.depth, **self.cfg_kwargs)

    # -- running ------------------------------------------------------------

    def prepare(self, spark, pages, tag: str):
        """Untimed: a fresh warehouse holding a crawl stopped right after its
        wave-0 commit (as if killed there). The first prepare runs wave 0 (in
        set-up, as the JVM warm-up) into a snapshot; every prepare returns a
        copy of the snapshot, its manifest's absolute paths re-rooted."""
        from webcrawler_woc_spark.plans.state import Warehouse

        snapshot = os.path.join(self.runs_dir, "wave0")
        if not os.path.exists(os.path.join(snapshot, "manifest.json")):
            self._run_wave0(spark, pages, snapshot)
        path = os.path.join(self.runs_dir, tag)
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(snapshot, path)
        manifest = os.path.join(path, "manifest.json")
        with open(manifest) as f:
            text = f.read()
        with open(manifest, "w") as f:
            f.write(text.replace(snapshot + os.sep, path + os.sep))
        return Warehouse(spark, path)

    def _run_wave0(self, spark, pages, path: str) -> None:
        from webcrawler_woc_spark.plans import crawl as crawl_mod
        from webcrawler_woc_spark.plans.state import Warehouse

        shutil.rmtree(path, ignore_errors=True)
        wh = Warehouse(spark, path)
        run_wave = crawl_mod.run_wave

        def first_wave_only(spark_, wh_, pages_, wave, *args, **kwargs):
            if wave > 0:
                raise _StopAfterWave0
            return run_wave(spark_, wh_, pages_, wave, *args, **kwargs)

        crawl_mod.run_wave = first_wave_only
        try:
            crawl_mod.crawl(spark, wh, pages, self.seeds, self.config())
        except _StopAfterWave0:
            pass
        finally:
            crawl_mod.run_wave = run_wave

    def resume(self, spark, pages, wh) -> dict:
        """The timed call: ``crawl()`` resuming a prepared warehouse from wave
        1 to ``depth``. Wave times come from the manifest's ``committed_at``,
        the first counted from the call."""
        from webcrawler_woc_spark.plans.crawl import crawl

        t0 = time.time()
        crawl(spark, wh, pages, self.seeds, self.config())
        run_s = time.time() - t0
        waves = sorted(
            (int(w), info)
            for w, info in wh.manifest["waves"].items()
            if int(w) >= 1 and "committed_at" in info
        )
        commits = [t0] + [info["committed_at"] for _, info in waves]
        counts = [info["counts"] for _, info in waves]
        return {
            "wh": wh,
            "run_s": run_s,
            "wave_s": [b - a for a, b in zip(commits, commits[1:])],
            "counts": counts,
            "urls": sum(c["scheduled"] for c in counts),
            "links": sum(c["extracted_links"] for c in counts),
        }

    def warm_up(self, spark, pages) -> None:
        self._prepared = self.prepare(spark, pages, "call0")

    def measure(self, spark, pages, seconds: float) -> list[dict]:
        def one(i: int) -> dict:
            wh = self._prepared or self.prepare(spark, pages, f"call{i}")
            self._prepared = None
            return self.resume(spark, pages, wh)

        return closed_loop(one, seconds)

    # -- checking and reporting ---------------------------------------------

    def check(self, spark, pages, calls: list[dict]) -> int:
        """Compare every call's seen set, crawl order and extracted text with
        the oracle; returns the number of calls that failed."""
        try:
            expected = check.crawl_oracle_cached(spark, self, self.work)
        except RuntimeError:
            traceback.print_exc()
            expected = None
        failed = 0
        for c in calls:
            c["ok"] = expected is not None and "wh" in c and check.crawl_matches(c["wh"], expected)
            failed += not c["ok"]
        return failed

    def report(self, calls: list[dict], out) -> None:
        for i, c in enumerate(calls):
            print(f"# {self.name} call {i}: run_s={c['run_s']:.3f} ok={c['ok']}", file=out)
            for w, (cnt, ws) in enumerate(zip(c.get("counts", []), c.get("wave_s", [])), 1):
                print(
                    f"#   wave {w}: frontier_in={cnt['frontier_in']} "
                    f"scheduled={cnt['scheduled']} "
                    f"deferred={cnt['frontier_in'] - cnt['scheduled']} "
                    f"extracted_links={cnt['extracted_links']} wave_s={ws:.3f}",
                    file=out,
                )

    def cleanup(self) -> None:
        shutil.rmtree(self.runs_dir, ignore_errors=True)


class CrawlWide(CrawlWorkload):
    name = "crawl_wide"
    n_seeds = 5000
    depth = 2
    cfg_kwargs = {}


class CrawlPolite(CrawlWorkload):
    name = "crawl_polite"
    n_seeds = 300
    depth = 2
    cfg_kwargs = {
        "timeout_ms": 10_000,
        "host_budget": 32,
        "respect_disallow": True,
        "seen_filter": "cuckoo",
        "seen_probe": "sharded",
    }

    def pick_seeds(self, rng, n: int) -> list[tuple[str, float]]:
        """Seeds whose fetch succeeds and whose body is parsed, so every seed
        list grows a frontier (a timed-out seed would end its branch)."""
        from webcrawler_woc_spark.oracle.pyoracle import HTML_MIMES, _fetch_ms
        from webcrawler_woc_spark.sources.corpus import default_content_type_py

        out: list[tuple[str, float]] = []
        while len(out) < n:
            url = page_url(int(rng.integers(corpus.n_docs())))
            if (
                _fetch_ms(url) < self.cfg_kwargs["timeout_ms"]
                and default_content_type_py(url) in HTML_MIMES
                and url not in (u for u, _ in out)
            ):
                out.append((url, 1.0))
        return out


class ExtractCorpus:
    """One call = one stateless pass over the whole corpus: MIME gate ->
    extract_child_links -> extracted_text -> dedup_wave -> should_crawl route.
    The seed picks the whitelist (5 of the 10 hosts) the route applies."""

    name = "extract_corpus"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        rng = np.random.default_rng(seed)
        self.whitelist = sorted(HOSTS[i] for i in rng.choice(len(HOSTS), 5, replace=False))

    def call(self, spark, pages) -> dict:
        """The timed pass. Alongside its counts it sums a 64-bit hash of
        every (page, link) pair and every (page, text) pair; ``check``
        compares those with the committed expected outputs."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from webcrawler_woc_spark.operators.extract import (
            extract_child_links,
            extracted_text,
            mime_ok,
        )
        from webcrawler_woc_spark.operators.fetch import with_host, with_url_hash
        from webcrawler_woc_spark.operators.routing import dedup_wave, should_crawl_col
        from webcrawler_woc_spark.sources.corpus import default_content_type_expr

        t0 = time.time()
        gated = pages.filter(mime_ok(default_content_type_expr(F.col("url")))).select(
            "url", "html"
        )
        obs = Observation("extract_pass")
        children = extract_child_links(gated).observe(
            obs,
            F.count(F.lit(1)).alias("links"),
            check.hash_sum("parent_url", "url").alias("digest"),
        )
        routed = with_host(with_url_hash(dedup_wave(children.select("url", "link_type"))))
        route = {
            r["sc"]: r["n"]
            for r in routed.groupBy(
                should_crawl_col(F.col("host"), self.whitelist, None).alias("sc")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        text = extracted_text(gated).agg(
            F.count("*").alias("pages"),
            F.sum(F.octet_length("text")).alias("bytes"),
            check.hash_sum("url", "text").alias("digest"),
        ).collect()[0]
        run_s = time.time() - t0
        return {
            "run_s": run_s,
            "urls": text["pages"],
            "links": obs.get["links"],
            "links_digest": str(obs.get["digest"]),
            "text_bytes": text["bytes"],
            "text_digest": str(text["digest"]),
            "route": route,
        }

    def warm_up(self, spark, pages) -> None:
        """One untimed full pass: a pass over a sample still left the first
        timed pass slower than the next ones."""
        self.call(spark, pages)

    def measure(self, spark, pages, seconds: float) -> list[dict]:
        return closed_loop(lambda i: self.call(spark, pages), seconds)

    def check(self, spark, pages, calls: list[dict]) -> int:
        """Every pass's counts, route split and (page, link) / (page, text)
        hash sums must equal the committed ones."""
        expected = check.extract_expected(self)
        failed = 0
        for c in calls:
            c["ok"] = "raised" not in c and all(c[k] == expected[k] for k in expected)
            failed += not c["ok"]
        return failed

    def report(self, calls: list[dict], out) -> None:
        for i, c in enumerate(calls):
            print(
                f"# {self.name} call {i}: run_s={c['run_s']:.3f} pages={c['urls']} "
                f"links={c['links']} route={c.get('route')} ok={c['ok']}",
                file=out,
            )

    def cleanup(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (CrawlWide, CrawlPolite, ExtractCorpus)}
