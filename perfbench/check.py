"""Output checks against committed expected outputs and the pure-Python oracle.

The corpus is deterministic, so what one pass over it must produce is
committed in ``expected.json``, keyed only by the corpus generator's
parameters (``corpus.generator_key``): page and link counts, exact sums of
64-bit hashes over every (page, link) pair and every (page, text) pair, and
the number of distinct links per host. A change to the program's kernels can
therefore not move the expected side with it.

``extract_corpus``: the timed pass computes the same counts and hash sums
alongside its work; they and the route split for the workload's whitelist
must equal the committed ones.

Crawl workloads: the seen set, the crawl order ``(wave, host, slot, url)``
and the extracted text of every crawled URL (byte-identical, compared by
SHA-256) must equal ``oracle.pyoracle.crawl_oracle`` run with the same seeds
and config. The oracle looks each page's links up in the kernel table, which
must first match the committed links, and expects the corpus ``text`` column
as each page's text. Its result is computed once per (workload, seed,
config, corpus, oracle sources) outside the timed region and cached as JSON
in the work directory.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import corpus

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _cache_path(work: str, name: str, key_obj) -> str:
    key = hashlib.sha256(
        json.dumps([key_obj, corpus.fingerprint()], sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
    os.makedirs(os.path.join(work, "oracle"), exist_ok=True)
    return os.path.join(work, "oracle", f"{name}-{key}.json")


def _cached(path: str, compute):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def hash_sum(*cols):
    """Order-independent digest of a row set: the exact sum of a 64-bit
    hash of the given columns (decimal, so it cannot overflow)."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def expected() -> dict:
    """The committed outputs of one pass over this corpus."""
    with open(EXPECTED) as f:
        table = json.load(f)
    key = corpus.generator_key()
    if key not in table:
        raise RuntimeError(
            f"expected.json has no outputs for corpus {key}; after changing the corpus "
            "generator, record them with run.py --record-expected"
        )
    return table[key]


def kernel_outputs(spark, work: str) -> dict:
    """Counts, hash sums and per-host link counts of the kernel table (the
    package's ``extract_links`` run page by page) and of the corpus text of
    the same pages, in the form ``expected.json`` records."""
    from pyspark.sql import functions as F

    from webcrawler_woc_spark.functions.urlnorm import host_of

    table = corpus.kernel_table(work, len(os.sched_getaffinity(0)))
    per_host: dict[str, int] = {}
    for link in {link for links in table.values() for link in links}:
        host = host_of(link) or ""
        per_host[host] = per_host.get(host, 0) + 1
    kt = spark.read.parquet(corpus.kernel_table_path(work))
    links = kt.select("url", F.explode("links").alias("link")).agg(
        F.count("*").alias("n"), hash_sum("url", "link").alias("digest")
    ).collect()[0]
    text = (
        spark.read.parquet(corpus.pages_path(work))
        .join(kt.select("url"), "url")
        .agg(hash_sum("url", "text").alias("digest"))
        .collect()[0]["digest"]
    )
    return {
        "pages": len(table),
        "links": links["n"],
        "links_digest": str(links["digest"]),
        "text_digest": str(text),
        "per_host": dict(sorted(per_host.items())),
    }


def record_expected(spark, work: str) -> None:
    """Write the current kernels' outputs into ``expected.json`` under this
    corpus's key. Only for a new corpus: an existing key is never
    re-recorded, so a change to the kernels cannot move it."""
    with open(EXPECTED) as f:
        table = json.load(f)
    key = corpus.generator_key()
    if key in table:
        raise RuntimeError(f"expected.json already holds the outputs of corpus {key}")
    table[key] = kernel_outputs(spark, work)
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def verify_kernel_table(spark, work: str) -> dict[str, list[str]]:
    """The kernel table, after checking that its links are the committed
    ones; raises if they differ."""
    want = expected()
    got = _cached(_cache_path(work, "kernel-outputs", "links"), lambda: kernel_outputs(spark, work))
    for k in ("pages", "links", "links_digest", "per_host"):
        if got[k] != want[k]:
            raise RuntimeError(f"extract_links no longer gives the committed links ({k} differs)")
    return corpus.kernel_table(work, len(os.sched_getaffinity(0)))


def _order_key(row) -> tuple:
    wave, host, slot, url = row
    return (int(wave), host or "", int(slot), url)


def crawl_oracle_cached(spark, wl, work: str) -> dict:
    cfg = wl.config()
    path = _cache_path(
        work, f"{wl.name}-{wl.seed}", [wl.name, wl.seeds, dataclasses.asdict(cfg)]
    )

    def compute() -> dict:
        from webcrawler_woc_spark.oracle import pyoracle

        links = verify_kernel_table(spark, work)
        pages = corpus.load_pages_dict(corpus.pages_path(work))
        kernel = pyoracle.extract_links
        pyoracle.extract_links = lambda html, url: links[url]
        try:
            res = pyoracle.crawl_oracle(
                {u: html for u, (html, _) in pages.items()},
                wl.seeds,
                whitelist=cfg.whitelist,
                blacklist=cfg.blacklist,
                words=cfg.words,
                depth=cfg.depth,
                host_budget=cfg.host_budget,
                child_priority=cfg.child_priority,
                timeout_ms=cfg.timeout_ms,
                respect_disallow=cfg.respect_disallow,
            )
        finally:
            pyoracle.extract_links = kernel
        return {
            "seen": sorted(res.seen),
            "order": sorted((list(r) for r in res.crawl_order), key=_order_key),
            "text": {u: _digest(pages[u][1]) for u in res.extracted_text},
        }

    return _cached(path, compute)


def crawl_matches(wh, expected: dict) -> bool:
    from webcrawler_woc_spark.plans.crawl import read_crawl_order, read_seen

    seen = sorted(read_seen(wh).select("url").toPandas()["url"])
    order = sorted(
        read_crawl_order(wh).select("wave", "host", "slot", "url").toPandas().itertuples(
            index=False, name=None
        ),
        key=_order_key,
    )
    text = wh.read_waves("extracted_text").select("url", "text").toPandas()
    digests = {u: _digest(t) for u, t in zip(text["url"], text["text"])}
    return (
        seen == expected["seen"]
        and [_order_key(r) for r in order] == [_order_key(r) for r in expected["order"]]
        and len(text) == len(digests)
        and digests == expected["text"]
    )


def extract_expected(wl) -> dict:
    """What an extract pass must produce: the committed counts and hash
    sums, and the route split for the workload's whitelist."""
    want = expected()
    allowed = set(wl.whitelist)
    route = {True: 0, False: 0}
    for host, n in want["per_host"].items():
        route[host in allowed] += n
    return {
        "urls": want["pages"],
        "links": want["links"],
        "links_digest": want["links_digest"],
        "text_digest": want["text_digest"],
        "route": {k: v for k, v in route.items() if v},
    }
