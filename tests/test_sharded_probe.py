"""Bucket-sharded seen-filter probe (operators/sharded_probe.py).

Contract under test:
* bit-for-bit parity with the driver-held filter's answers, both kinds
  (bloom / cuckoo incl. overflow stashes) — so the prefiltered anti-join
  stays exact (no false negatives);
* the anti-join fast path returns exactly candidates-minus-seen, equal to
  the broadcast-probe path's answer;
* a probe task deserializes ONLY its own bucket's file — pinned twice:
  in-process with a recording loader, and end-to-end by deleting every
  bucket file the candidate stream doesn't touch (a task reaching for a
  foreign bucket would crash on the missing file).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webcrawler_woc_spark.operators.bloom import PartitionedBloom, bloom_prefiltered_anti_join
from webcrawler_woc_spark.operators.cuckoo import PartitionedCuckoo
from webcrawler_woc_spark.operators.sharded_probe import (
    _make_probe_kernel,
    read_meta,
    save_sharded,
    sharded_prefiltered_anti_join,
    sharded_tag_maybe_seen,
)

N_BUCKETS = 8


def _hashes(n: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # full signed-int64 range: xxhash64 output is frequently negative
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def _mk_filter(kind: str):
    if kind == "bloom":
        filt = PartitionedBloom(N_BUCKETS, m_bits=1 << 12, k=4)
    else:
        # tiny m forces eviction-chain failures => stash/stash_fp coverage
        filt = PartitionedCuckoo(N_BUCKETS, m=2)
    filt.add_hashes(_hashes(400, seed=7))
    return filt


def _candidates(spark, members: np.ndarray, extras: np.ndarray):
    rows = [(int(h), f"http://h{abs(int(h)) % 97}.example/p{i}") for i, h in
            enumerate(np.concatenate([members, extras]))]
    return spark.createDataFrame(rows, "url_hash long, url string")


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_sharded_probe_parity(spark, tmp_path, kind):
    filt = _mk_filter(kind)
    if kind == "cuckoo":  # the tiny-m build must actually exercise overflow
        assert any(t.stash or t.stash_fp for t in filt.tables.values())
    sdir = str(tmp_path / f"sidecar_{kind}")
    save_sharded(filt, sdir)
    assert read_meta(sdir)["kind"] == kind

    members, extras = _hashes(400, seed=7), _hashes(300, seed=11)
    cand = _candidates(spark, members, extras)
    got = {
        r["url_hash"]: r["_maybe_seen"]
        for r in sharded_tag_maybe_seen(cand, sdir).collect()
    }
    probe_in = np.array(sorted(got), dtype=np.int64)
    want = dict(zip(probe_in.tolist(), filt.might_contain(probe_in).tolist()))
    assert got == want
    # exactness: every member answers True (false negatives impossible)
    assert all(got[int(h)] for h in members)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_sharded_anti_join_matches_broadcast_and_exact(spark, tmp_path, kind):
    filt = _mk_filter(kind)
    sdir = str(tmp_path / f"aj_{kind}")
    save_sharded(filt, sdir)

    members, extras = _hashes(400, seed=7), _hashes(300, seed=11)
    cand = _candidates(spark, members[:200], extras)
    seen = _candidates(spark, members, np.array([], dtype=np.int64))

    got = sorted(
        (r["url_hash"], r["url"])
        for r in sharded_prefiltered_anti_join(spark, cand, seen, sdir).collect()
    )
    exact = sorted(
        (r["url_hash"], r["url"])
        for r in cand.join(seen.select("url_hash", "url"), ["url_hash", "url"], "left_anti").collect()
    )
    assert got == exact
    if kind == "bloom":
        bc = sorted(
            (r["url_hash"], r["url"])
            for r in bloom_prefiltered_anti_join(spark, cand, seen, filt).collect()
        )
        assert got == bc


def test_kernel_loads_only_own_bucket_in_process(tmp_path):
    filt = _mk_filter("bloom")
    sdir = str(tmp_path / "iso")
    save_sharded(filt, sdir)
    meta = read_meta(sdir)

    loaded: list[int] = []

    def recording_loader(d, m, bucket):
        loaded.append(bucket)
        from webcrawler_woc_spark.operators.sharded_probe import _load_bucket_probe

        return _load_bucket_probe(d, m, bucket)

    kernel = _make_probe_kernel(sdir, meta, ["url_hash"], loader=recording_loader)
    hs = _hashes(50, seed=3)
    b = 5
    in_bucket = hs[np.mod(hs, N_BUCKETS) == b]
    assert len(in_bucket) > 0
    pdf = pd.DataFrame({"url_hash": in_bucket, "_bucket": b})
    out = kernel(pdf)
    assert loaded == [b]  # exactly one load, for exactly this bucket
    np.testing.assert_array_equal(
        out["_maybe_seen"].to_numpy(), filt.might_contain(in_bucket)
    )


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_task_never_touches_foreign_bucket_e2e(spark, tmp_path, kind):
    """Candidates confined to two buckets; every OTHER bucket's file is
    deleted. Any task deserializing a bucket it doesn't own would crash on
    the missing file — the run succeeding IS the isolation proof."""
    filt = _mk_filter(kind)
    sdir = str(tmp_path / f"foreign_{kind}")
    save_sharded(filt, sdir)

    keep = {2, 6}
    hs = _hashes(500, seed=13)
    hs = hs[np.isin(np.mod(hs, N_BUCKETS), list(keep))]
    assert len(hs) > 20
    for b in range(N_BUCKETS):
        if b not in keep:
            os.remove(os.path.join(sdir, f"bucket_{b:05d}.npz"))

    cand = _candidates(spark, hs, np.array([], dtype=np.int64))
    got = {
        r["url_hash"]: r["_maybe_seen"]
        for r in sharded_tag_maybe_seen(cand, sdir).collect()
    }
    want = dict(zip(hs.tolist(), filt.might_contain(hs).tolist()))
    assert got == want


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_crawl_loop_sharded_probe_parity(spark, sf_dir, kind, monkeypatch):
    """seen_probe='sharded' drives the REAL crawl loop: crawl order and wave
    counts must be identical to the broadcast-probe run (both probes answer
    bit-for-bit the same filter), and every committed wave must carry a
    sharded sidecar directory so the NEXT wave can probe without a
    broadcast. The seen set of this crawl is far below the probe gate, so
    BROADCAST_MAX_ROWS is forced to 0: every wave >= 1 then probes, and the
    sharded run must have taken the sharded probe on each of them."""
    import tempfile

    import webcrawler_woc_spark.config as cfgmod
    from webcrawler_woc_spark.config import CrawlConfig
    from webcrawler_woc_spark.operators import sharded_probe as sp
    from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order
    from webcrawler_woc_spark.plans.state import Warehouse
    from webcrawler_woc_spark.sources.corpus import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).cache()
    pages.count()
    seeds = [("http://host0.example/page/0", 1.0)]
    wl = [f"host{i}.example" for i in range(5)]
    monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
    probes = []
    real_probe = sp.sharded_prefiltered_anti_join

    def spy(*args, **kw):
        probes.append(args[3])  # the sidecar dir: one per probing wave
        return real_probe(*args, **kw)

    monkeypatch.setattr(sp, "sharded_prefiltered_anti_join", spy)

    def run(seen_probe, tmp):
        cfg = CrawlConfig(
            whitelist=wl, depth=2, n_buckets=8,
            seen_filter=kind, seen_probe=seen_probe,
        )
        wh = Warehouse(spark, tmp)
        summary = crawl(spark, wh, pages, seeds, cfg)
        order = sorted(
            (r["wave"], r["host"], r["slot"], r["url"])
            for r in read_crawl_order(wh).collect()
        )
        return wh, summary, order

    with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
        _, s_bc, order_bc = run("broadcast", t1)
        assert probes == []
        wh, s_sh, order_sh = run("sharded", t2)
        assert order_sh == order_bc
        assert s_sh["waves"] == s_bc["waves"]
        for w in range(wh.last_wave + 1):
            d = wh.manifest["waves"][str(w)]["sharded_dir"]
            assert d is not None and os.path.isdir(d)
            assert read_meta(d)["kind"] == kind
        # wave w >= 1 probes the sidecar wave w-1 committed (the depth
        # flush after the last wave runs no routing)
        n = s_sh["waves"]
        assert n >= 2
        waves = [wh.manifest["waves"][str(w)] for w in range(n)]
        assert probes == [info["sharded_dir"] for info in waves[:-1]]
        assert [info["seen_probe"] for info in waves] == ["exact"] + ["sharded"] * (n - 1)
    pages.unpersist()


def test_bucket_cache_invalidates_on_rewrite(tmp_path):
    """The worker-local cache keys on file mtime: a rewritten sidecar (next
    wave) must never be answered from the previous wave's state."""
    from webcrawler_woc_spark.operators import sharded_probe as mod

    h = _hashes(1, seed=21)
    b = int(np.mod(h, N_BUCKETS)[0])
    old = PartitionedBloom(N_BUCKETS, m_bits=1 << 12, k=4)
    sdir = str(tmp_path / "mtime")
    save_sharded(old, sdir)
    meta = read_meta(sdir)

    fn = mod._cached_loader(sdir, meta, b)
    assert not fn(h)[0]  # empty filter: definitely new

    new = PartitionedBloom(N_BUCKETS, m_bits=1 << 12, k=4)
    new.add_hashes(h)
    save_sharded(new, sdir)
    bf = mod._bucket_file(sdir, b)
    os.utime(bf, (os.path.getmtime(bf) + 2, os.path.getmtime(bf) + 2))
    fn2 = mod._cached_loader(sdir, meta, b)
    assert fn2(h)[0]  # reloaded: the member now answers maybe-seen
