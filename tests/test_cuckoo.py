"""Partitioned cuckoo-filter seen-set (operators/cuckoo.py): no false
negatives ever (including under saturation/stash overflow), deletion works,
layout is deterministic, the distributed build merges losslessly, and the
prefiltered anti-join is exactly the plain anti-join."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from webcrawler_woc_spark.operators.cuckoo import (
    CuckooTable,
    PartitionedCuckoo,
    build_bucket_tables,
    cuckoo_prefiltered_anti_join,
    merge_spark_tables,
)


def _hashes(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)


class TestCuckooTable:
    def test_no_false_negatives(self):
        t = CuckooTable(1 << 14)  # 65536 slots
        hs = _hashes(1, 50_000)  # load ~0.76
        t.add_hashes(hs)
        assert t.might_contain(hs).all()

    def test_false_positive_rate_bounded(self):
        t = CuckooTable(1 << 14)
        t.add_hashes(_hashes(1, 50_000))
        probes = _hashes(2, 50_000)
        fp = t.might_contain(probes).mean()
        # 16-bit fingerprints, 2x4 slots examined: theory ~ 8/2^16 = 0.00012
        assert fp < 0.01

    def test_delete_then_absent(self):
        t = CuckooTable(1 << 12)
        hs = np.unique(_hashes(3, 5_000))
        t.add_hashes(hs)
        gone, kept = hs[: len(hs) // 2], hs[len(hs) // 2 :]
        assert t.delete_hashes(gone).all()
        assert t.might_contain(kept).all()  # survivors untouched
        # deleted items may still collide with OTHER residents' fingerprints,
        # but at fp-level rates only — never wholesale
        assert t.might_contain(gone).mean() < 0.01

    def test_saturation_overflows_to_stash_without_false_negatives(self):
        t = CuckooTable(16)  # 64 slots
        hs = np.unique(_hashes(4, 500))  # load ~8x capacity
        t.add_hashes(hs)
        assert len(t.stash) > 0  # genuinely saturated
        assert t.might_contain(hs).all()  # stash keeps membership exact

    def test_layout_deterministic_under_arrival_order(self):
        hs = _hashes(5, 20_000)
        rng = np.random.default_rng(0)
        a, b = CuckooTable(1 << 13), CuckooTable(1 << 13)
        a.add_hashes(hs)
        b.add_hashes(rng.permutation(hs))
        assert np.array_equal(a.table, b.table)
        assert a.stash == b.stash

    def test_merge_resident_preserves_membership(self):
        m = 1 << 13
        h1, h2 = _hashes(6, 10_000), _hashes(7, 10_000)
        t1, t2 = CuckooTable(m), CuckooTable(m)
        t1.add_hashes(h1)
        t2.add_hashes(h2)
        t1.merge_resident(t2.table, t2._stash_list())
        assert t1.might_contain(h1).all()
        assert t1.might_contain(h2).all()

    def test_stash_counts_survive_double_merge_then_single_delete(self):
        # ADVICE r4: the same hash stash-overflowed in two separately merged
        # builds is two logical insertions — one delete must not expire both
        src = CuckooTable(16)
        src.add_hashes(np.unique(_hashes(12, 500)))  # saturate -> stash fills
        assert src.stash
        h = next(iter(src.stash))
        merged = CuckooTable(16)
        merged.merge_resident(src.table, src._stash_list())
        merged.merge_resident(src.table, src._stash_list())
        assert merged.stash[h] == 2
        one = np.array([h], dtype=np.int64)
        assert merged.delete_hashes(one).all()  # first copy out
        assert merged.might_contain(one).all()  # second copy keeps membership
        assert merged.stash[h] == 1
        assert merged.delete_hashes(one).all()
        assert h not in merged.stash
        # round-trip of the multiset wire form preserves counts
        t3 = CuckooTable.from_state(16, merged.to_state())
        assert t3.stash == merged.stash


class TestPartitionedCuckoo:
    def test_bucketing_routes_and_answers(self):
        c = PartitionedCuckoo(n_buckets=8, m=1 << 12)
        hs = _hashes(8, 30_000)
        c.add_hashes(hs)
        assert c.might_contain(hs).all()
        assert c.might_contain(_hashes(9, 30_000)).mean() < 0.01

    def test_distributed_build_matches_driver_build(self, spark):
        hs = np.unique(_hashes(10, 20_000))
        df = spark.createDataFrame([(int(h),) for h in hs], "url_hash bigint")
        rows = build_bucket_tables(df, n_buckets=4, m=1 << 12)
        merged = PartitionedCuckoo(4, 1 << 12)
        merge_spark_tables(merged, rows)
        assert merged.might_contain(hs).all()  # lossless merge
        # fp behavior stays sketch-grade after the merge
        assert merged.might_contain(_hashes(11, 20_000)).mean() < 0.01


class TestPrefilteredAntiJoin:
    def test_equals_plain_anti_join(self, spark):
        seen_urls = [f"http://h{i % 7}.example/page/{i}" for i in range(0, 400, 2)]
        cand_urls = [f"http://h{i % 7}.example/page/{i}" for i in range(100, 500)]
        from webcrawler_woc_spark.operators.fetch import with_url_hash

        seen = with_url_hash(spark.createDataFrame([(u,) for u in seen_urls], "url string"))
        cands = with_url_hash(spark.createDataFrame([(u,) for u in cand_urls], "url string"))
        c = PartitionedCuckoo(n_buckets=2, m=1 << 10)
        merge_spark_tables(c, build_bucket_tables(seen, n_buckets=2, m=1 << 10))
        got = sorted(
            r.url
            for r in cuckoo_prefiltered_anti_join(
                spark, cands, seen, c, candidates_rows=len(cand_urls)
            ).collect()
        )
        want = sorted(r.url for r in cands.join(seen, ["url"], "left_anti").collect())
        assert got == want


@pytest.mark.parametrize("m", [17, 100])
def test_non_power_of_two_rejected(m):
    with pytest.raises(ValueError):
        CuckooTable(m)


class TestCuckooSeenFilterInCrawl:
    """seen_filter='cuckoo' drives the REAL crawl loop: results must be
    identical to the bloom run (both prefilters are exact by construction),
    the sidecar must persist/reload as a cuckoo, and a completed warehouse
    must no-op on rerun."""

    def test_crawl_parity_and_sidecar_roundtrip(self, spark, sf_dir, monkeypatch):
        import tempfile

        import webcrawler_woc_spark.config as cfgmod
        from webcrawler_woc_spark.config import CrawlConfig
        from webcrawler_woc_spark.operators.cuckoo import PartitionedCuckoo
        from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order
        from webcrawler_woc_spark.plans.state import Warehouse
        from webcrawler_woc_spark.sources.corpus import pages_from_documents

        pages = pages_from_documents(spark, sf_dir).cache()
        pages.count()
        seeds = [("http://host0.example/page/0", 1.0)]
        wl = [f"host{i}.example" for i in range(5)]
        # only a wave whose seen set exceeds the probe gate keeps a sidecar
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)

        def run(seen_filter, tmp):
            cfg = CrawlConfig(whitelist=wl, depth=2, n_buckets=8, seen_filter=seen_filter)
            wh = Warehouse(spark, tmp)
            summary = crawl(spark, wh, pages, seeds, cfg)
            order = sorted(
                (r["wave"], r["host"], r["slot"], r["url"])
                for r in read_crawl_order(wh).collect()
            )
            return wh, cfg, summary, order

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            _, _, s_bloom, order_bloom = run("bloom", t1)
            wh, cfg, s_cuckoo, order_cuckoo = run("cuckoo", t2)
            assert order_cuckoo == order_bloom  # exact-prefilter parity
            assert s_cuckoo["waves"] == s_bloom["waves"]
            # sidecar persisted as a cuckoo and reloads as one
            side = wh.load_seen_filter()
            assert isinstance(side, PartitionedCuckoo)
            info = wh.manifest["waves"][str(wh.last_wave)]
            assert info["sidecar_kind"] == "cuckoo"
            # rerun on the completed warehouse: clean no-op
            rerun = crawl(spark, wh, pages, seeds, cfg)
            assert rerun["waves"] == 0
        pages.unpersist()


class TestDistributedDeletion:
    def test_delete_bucket_hashes_matches_driver_delete(self, spark):
        hs = np.unique(_hashes(12, 20_000))
        df = spark.createDataFrame([(int(h),) for h in hs], "url_hash bigint")
        dist = PartitionedCuckoo(4, 1 << 12)
        merge_spark_tables(dist, build_bucket_tables(df, n_buckets=4, m=1 << 12))
        gone, kept = hs[::3], np.array([h for i, h in enumerate(hs) if i % 3], dtype=np.int64)
        from webcrawler_woc_spark.operators.cuckoo import delete_bucket_hashes

        gone_df = spark.createDataFrame([(int(h),) for h in gone], "url_hash bigint")
        delete_bucket_hashes(spark, dist, gone_df)
        assert dist.might_contain(kept).all()  # survivors keep membership
        assert dist.might_contain(gone).mean() < 0.01  # expired gone (fp-level)


class TestReviewHardening:
    def test_resume_with_other_seen_filter_matches_unfiltered(
        self, spark, sf_dir, monkeypatch
    ):
        """A crawl committed with the cuckoo filter resumes with the bloom
        filter: the first resumed wave rebuilds a bloom sidecar from the
        seen view, so above the probe gate the crawl equals one with no
        filter at all."""
        import tempfile

        import webcrawler_woc_spark.config as cfgmod
        from webcrawler_woc_spark.config import CrawlConfig
        from webcrawler_woc_spark.plans import crawl as crawl_mod
        from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order, read_seen
        from webcrawler_woc_spark.plans.state import Warehouse
        from webcrawler_woc_spark.sources.corpus import pages_from_documents

        pages = pages_from_documents(spark, sf_dir).cache()
        pages.count()
        seeds = [(f"http://host{i % 10}.example/page/{i}", 1.0) for i in range(0, 200, 7)]
        wl = [f"host{i}.example" for i in range(10)]
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)

        def cfg(seen_filter):
            return CrawlConfig(whitelist=wl, depth=4, n_buckets=8, seen_filter=seen_filter)

        def state(wh):
            return (
                sorted(r["url"] for r in read_seen(wh).collect()),
                sorted(
                    (r["wave"], r["host"], r["slot"], r["url"])
                    for r in read_crawl_order(wh).collect()
                ),
            )

        class Stop(RuntimeError):
            pass

        run_wave = crawl_mod.run_wave

        def until_wave_2(spark_, wh_, pages_, wave, *args, **kwargs):
            if wave >= 2:
                raise Stop(wave)
            return run_wave(spark_, wh_, pages_, wave, *args, **kwargs)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_ref = Warehouse(spark, t1)
            crawl(spark, wh_ref, pages, seeds, cfg("none"))
            monkeypatch.setattr(crawl_mod, "run_wave", until_wave_2)
            with pytest.raises(Stop):
                crawl(spark, Warehouse(spark, t2), pages, seeds, cfg("cuckoo"))
            monkeypatch.setattr(crawl_mod, "run_wave", run_wave)
            wh = Warehouse(spark, t2)
            assert wh.manifest["waves"]["1"]["sidecar_kind"] == "cuckoo"
            crawl(spark, wh, pages, seeds, cfg("bloom"))
            assert state(wh) == state(wh_ref)
            waves = [wh.manifest["waves"][str(w)] for w in range(4)]
            assert [w["sidecar_kind"] for w in waves] == ["cuckoo", "cuckoo", "bloom", "bloom"]
            assert [w["seen_probe"] for w in waves] == ["exact", "cuckoo", "exact", "bloom"]
        pages.unpersist()

    def test_seen_filter_typo_rejected(self):
        from webcrawler_woc_spark.config import CrawlConfig

        cfg = CrawlConfig(seen_filter="cuckoos")
        with pytest.raises(ValueError, match="cuckoos"):
            cfg.seen_filter_kind()
        assert CrawlConfig(seen_filter="none").seen_filter_kind() is None

    def test_stash_fp_multiset_deletion_keeps_survivor(self):
        """Two distinct hashes sharing a (fingerprint, pair) key both
        overflow to stash_fp; deleting one must keep the other's
        membership (a set instead of counts would drop both)."""
        import webcrawler_woc_spark.operators.cuckoo as cu

        t = CuckooTable(16)
        hs = np.array([0x1234_5678_9ABC_DEF0], dtype=np.int64)
        f = int(cu._fingerprints(hs)[0])
        i1 = int(cu._index_pair(hs, np.array([f], dtype=np.uint16), t.m)[0][0])
        pk = cu._pair_key(f, i1, t.m)
        t.stash_fp[pk] = 2  # two overflow copies of the same canonical key
        assert t.might_contain(hs).all()
        assert t.delete_hashes(hs).all()  # first delete: decrement 2 -> 1
        assert t.might_contain(hs).all()  # survivor copy still answers
        assert t.delete_hashes(hs).all()  # second delete: remove
        assert not t.might_contain(hs).any()
