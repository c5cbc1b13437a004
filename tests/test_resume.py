"""Checkpoint/resume: a crawl interrupted after wave k resumes from the
manifest and converges to the identical final state (SURVEY.md §5.2-3)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import numpy as np
import pytest

from webcrawler_woc_spark.config import CrawlConfig
from webcrawler_woc_spark.plans.crawl import crawl, read_crawl_order, read_seen
from webcrawler_woc_spark.plans.state import Warehouse
from webcrawler_woc_spark.sources.corpus import pages_from_documents

SEEDS = [("http://host0.example/page/0", 1.0)]
WL = [f"host{i}.example" for i in range(5)]


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    df = pages_from_documents(spark, sf_dir).cache()
    df.count()
    return df


def _state(wh):
    seen = {r["url"] for r in read_seen(wh).collect()}
    order = sorted(
        (r["wave"], r["host"], r["slot"], r["url"]) for r in read_crawl_order(wh).collect()
    )
    return seen, order


class TestResume:
    def test_kill_after_wave1_resume_identical(self, spark, pages):
        cfg_full = CrawlConfig(whitelist=WL, depth=3, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            # uninterrupted reference run
            wh_full = Warehouse(spark, t1)
            crawl(spark, wh_full, pages, SEEDS, cfg_full)

            # interrupted run: stop after wave 1 (simulated kill: new driver
            # process == new Warehouse object reading the manifest)
            cfg_partial = CrawlConfig(whitelist=WL, depth=2, n_buckets=8)
            wh_a = Warehouse(spark, t2)
            crawl(spark, wh_a, pages, SEEDS, cfg_partial)
            assert wh_a.last_wave == 2  # waves 0,1 + residual-flush entry

            # resume with the full depth from a FRESH Warehouse (manifest read)
            wh_b = Warehouse(spark, t2)
            assert wh_b.last_wave == 2
            # drop the residual-flush pseudo-wave so wave 2 re-runs properly
            del wh_b.manifest["waves"]["2"]
            wh_b.manifest["last_wave"] = 1
            wh_b._commit_manifest()
            crawl(spark, wh_b, pages, SEEDS, cfg_full)

            assert _state(wh_b) == _state(wh_full)

    def test_bloom_sidecar_reloaded_on_resume(self, spark, pages, monkeypatch):
        import webcrawler_woc_spark.config as cfgmod

        # only a wave whose seen set exceeds the probe gate keeps a sidecar
        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        cfg = CrawlConfig(whitelist=WL, depth=2, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, SEEDS, cfg)
            bloom = wh.load_seen_filter()
            assert bloom is not None
            # every seen url_hash must be in the bloom (no false negatives)
            hashes = np.array(
                [r["url_hash"] for r in wh.read_waves("seen").select("url_hash").collect()],
                dtype=np.int64,
            )
            assert bloom.might_contain(hashes).all()

    def test_manifest_lists_lineage(self, spark, pages):
        cfg = CrawlConfig(whitelist=WL, depth=1, seen_filter="none", n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, SEEDS, cfg)
            info = wh.manifest["waves"]["0"]
            assert info["counts"]["scheduled"] == 1
            assert info["host_lineage"][0]["host"] == "host0.example"
            assert set(info["tables"]) == {"links_out", "frontier", "extracted_text"}


def _filter_arrays(filt, path: str) -> dict:
    """Every array of a seen filter (bloom or cuckoo), via its sidecar."""
    filt.save(path)
    with np.load(path) as z:
        return {k: z[k].copy() for k in z.files}


def _assert_same_arrays(a: dict, b: dict) -> None:
    assert a.keys() == b.keys()
    for k in a:
        assert np.array_equal(a[k], b[k]), k


def _comparable_manifest(wh) -> dict:
    """The manifest with the warehouse root and the wall-clock fields
    (timings, wall_sec, committed_at) taken out."""
    m = json.loads(json.dumps(wh.manifest).replace(wh.path, "<root>"))
    for info in m["waves"].values():
        for k in ("timings", "wall_sec", "committed_at"):
            info.pop(k, None)
    return m


class TestWarehouseLayout:
    def test_waves_write_only_the_three_tables(self, spark, pages):
        cfg = CrawlConfig(whitelist=WL, depth=2, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, SEEDS, cfg)
            waves = wh.manifest["waves"]
            assert wh.manifest["format"] == 2
            assert sorted(waves) == ["0", "1", "2"]  # waves 0, 1 + residual flush
            for w in ("0", "1"):
                assert set(waves[w]["tables"]) == {"links_out", "frontier", "extracted_text"}
            assert set(waves["2"]["tables"]) == {"links_out"}
            assert sorted(d for d in os.listdir(tmp) if os.path.isdir(os.path.join(tmp, d))) == [
                "extracted_text", "frontier", "links_out",
            ]

    def test_seven_table_warehouse_refuses_to_open(self, spark):
        with tempfile.TemporaryDirectory() as tmp:
            manifest = {
                "last_wave": 0,
                "n_buckets": 8,
                "waves": {"0": {
                    "tables": {t: os.path.join(tmp, t, "wave=0") for t in (
                        "links_out", "seen", "rejected", "frontier", "flagged",
                        "extracted_text", "crawl_order",
                    )},
                    "counts": {"scheduled": 1},
                }},
            }
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump(manifest, f)
            with pytest.raises(ValueError, match="7-table layout"):
                Warehouse(spark, tmp)


class _WriteFailed(RuntimeError):
    pass


# Where wave 1 of a resumed crawl fails. The ids of the table-write cases
# start with "table"; the frontier write keeps the bare id.
FAILURES = [
    pytest.param(("table", "frontier"), id="table"),
    pytest.param(("table", "links_out"), id="table-links_out"),
    pytest.param(("table", "extracted_text"), id="table-extracted_text"),
    pytest.param(("sidecar", None), id="sidecar"),
    pytest.param(("build", None), id="build"),
]


class TestFailedWaveWrite:
    @pytest.mark.parametrize("fail", FAILURES)
    @pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
    def test_failed_write_leaves_filter_and_retry_matches(
        self, spark, pages, monkeypatch, kind, fail
    ):
        """A failure in wave 1 of a resumed crawl (one of the three table
        writes, the seen-filter sidecar commit_wave saves, or the seen-filter
        build) leaves the manifest and the committed sidecar untouched;
        retrying the wave commits the manifest and sidecar of an
        uninterrupted crawl. The probe gate is forced to 0 so every wave
        keeps a sidecar."""
        import webcrawler_woc_spark.config as cfgmod
        from webcrawler_woc_spark.operators import bloom as bloom_op
        from webcrawler_woc_spark.operators import cuckoo as cuckoo_op
        from webcrawler_woc_spark.plans.crawl import seed_frontier
        from webcrawler_woc_spark.plans.wave import run_wave

        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        where, failing_table = fail
        cfg = CrawlConfig(whitelist=WL, depth=2, n_buckets=8, seen_filter=kind)
        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_ref = Warehouse(spark, t1)
            crawl(spark, wh_ref, pages, SEEDS, cfg)

            wh = Warehouse(spark, t2)
            seed_frontier(spark, wh, SEEDS)
            run_wave(spark, wh, pages, 0, cfg)

            wh = Warehouse(spark, t2)  # the resumed crawl
            before = _filter_arrays(wh.load_seen_filter(), os.path.join(t2, "before.npz"))
            with monkeypatch.context() as mp:
                if where == "table":
                    write = Warehouse.write_wave_table

                    def failing(self, table, wave, df):
                        if table == failing_table:
                            raise _WriteFailed(table)
                        return write(self, table, wave, df)

                    mp.setattr(Warehouse, "write_wave_table", failing)
                elif where == "sidecar":
                    def failing_save(self, path):
                        raise _WriteFailed(path)

                    mp.setattr(bloom_op.SEEN_FILTERS[kind], "save", failing_save)
                else:
                    def failing_build(*args):
                        raise _WriteFailed("seen-filter build")

                    mp.setattr(bloom_op, "build_bucket_bitmaps", failing_build)
                    mp.setattr(cuckoo_op, "build_bucket_tables", failing_build)
                with pytest.raises(_WriteFailed):
                    run_wave(spark, wh, pages, 1, cfg)
            assert wh.last_wave == 0
            _assert_same_arrays(
                _filter_arrays(wh.load_seen_filter(), os.path.join(t2, "after.npz")), before
            )

            run_wave(spark, wh, pages, 1, cfg)
            crawl(spark, wh, pages, SEEDS, cfg)  # depth reached: residual flush only
            assert _comparable_manifest(wh) == _comparable_manifest(wh_ref)
            _assert_same_arrays(
                _filter_arrays(wh.load_seen_filter(), os.path.join(t2, "got.npz")),
                _filter_arrays(wh_ref.load_seen_filter(), os.path.join(t1, "want.npz")),
            )


def _tree_digest(root: str) -> dict:
    """relative path -> content hash of every file under ``root``."""
    import hashlib

    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _fill_threads() -> set:
    import threading

    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


class TestFailedFill:
    """run_wave runs its schedule and children fills on a background thread
    while it plans the writes. A job that fails in either fill fails the
    wave: the error reaches the caller, nothing is committed, the warehouse
    and the committed sidecar are unchanged byte for byte, no fill or pool
    thread and no Spark job is left running, and a rerun commits what an
    uninterrupted crawl commits. The probe gate is forced to 0 so wave 0
    commits a sidecar; the host budget makes the ranked frontier defer."""

    @pytest.mark.parametrize("fill", ["schedule", "children"])
    def test_failed_fill_commits_nothing_and_rerun_matches(
        self, spark, pages, monkeypatch, fill
    ):
        from pyspark.sql import functions as F

        import webcrawler_woc_spark.config as cfgmod
        from webcrawler_woc_spark.plans import wave as wave_mod
        from webcrawler_woc_spark.plans.crawl import seed_frontier

        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        cfg = CrawlConfig(whitelist=WL, depth=2, n_buckets=8, seen_filter="bloom", host_budget=1)
        message = f"injected {fill} fill failure"

        def boom(url):
            raise RuntimeError(message)

        failing = F.udf(boom, "string")

        def wave0(path):
            wh = Warehouse(spark, path)
            seed_frontier(spark, wh, SEEDS)
            wave_mod.run_wave(spark, wh, pages, 0, cfg)
            return Warehouse(spark, path)

        def finish(wh):
            wave_mod.run_wave(spark, wh, pages, 1, cfg)
            crawl(spark, wh, pages, SEEDS, cfg)  # depth reached: residual flush only

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_ref = wave0(t1)
            finish(wh_ref)

            wh = wave0(t2)
            before = _tree_digest(t2)
            threads = _fill_threads()
            with monkeypatch.context() as mp:
                if fill == "schedule":
                    rank = wave_mod.rank_frontier
                    mp.setattr(
                        wave_mod, "rank_frontier",
                        lambda *a, **kw: rank(*a, **kw).withColumn("url", failing("url")),
                    )
                else:
                    extract = wave_mod.extract_child_links
                    mp.setattr(
                        wave_mod, "extract_child_links",
                        lambda gated: extract(gated).withColumn("url", failing("url")),
                    )
                with pytest.raises(Exception, match=message):
                    wave_mod.run_wave(spark, wh, pages, 1, cfg)
            assert wh.last_wave == 0
            assert _tree_digest(t2) == before  # manifest, tables and sidecar
            assert _fill_threads() <= threads
            assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []

            finish(wh)
            assert _comparable_manifest(wh) == _comparable_manifest(wh_ref)
            assert _state(wh) == _state(wh_ref)
            _assert_same_arrays(
                _filter_arrays(wh.load_seen_filter(), os.path.join(t2, "got.npz")),
                _filter_arrays(wh_ref.load_seen_filter(), os.path.join(t1, "want.npz")),
            )


def _uncommit_wave0(wh) -> dict:
    """Erase wave 0's manifest entry, as a kill after its table writes but
    before its manifest commit leaves it; returns the tables' paths."""
    manifest_path = os.path.join(wh.path, "manifest.json")
    with open(manifest_path) as f:
        m = json.load(f)
    tables = m["waves"]["0"]["tables"]
    del m["waves"]["0"]
    m["last_wave"] = -1
    with open(manifest_path, "w") as f:
        json.dump(m, f)
    return tables


def _success_mtimes(tables: dict) -> dict:
    return {t: os.path.getmtime(os.path.join(p, "_SUCCESS")) for t, p in tables.items()}


class TestMidWaveResume:
    """A wave killed between its table writes and its manifest commit is
    invisible; its rerun rewrites all three tables and commits the counts of
    a clean run."""

    def test_crash_between_table_writes_skips_completed_tables(self, spark, pages):
        from webcrawler_woc_spark.plans.wave import run_wave

        cfg = CrawlConfig(whitelist=WL, depth=1, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            # clean reference wave
            wh_ref = Warehouse(spark, t1)
            crawl(spark, wh_ref, pages, SEEDS, cfg)
            ref_counts = wh_ref.wave_counts(0)

            # crashed run: execute wave 0 fully, then erase its manifest entry
            wh_b = Warehouse(spark, t2)
            crawl(spark, wh_b, pages, SEEDS, cfg)
            counts_first = wh_b.wave_counts(0)
            _uncommit_wave0(wh_b)

            # rerun the wave in a FRESH Warehouse (manifest re-read)
            wh_c = Warehouse(spark, t2)
            counts = run_wave(spark, wh_c, pages, 0, cfg)
            assert counts == counts_first == ref_counts
            assert wh_c.wave_counts(0) == ref_counts
            assert sorted(os.listdir(t2)) == [
                "extracted_text", "frontier", "links_out", "manifest.json",
            ]

    def test_changed_cfg_invalidates_crashed_attempt(self, spark, pages):
        """Leftover tables from a crashed attempt under a DIFFERENT cfg must
        be rewritten, not mixed into the resumed wave."""
        from webcrawler_woc_spark.plans.wave import run_wave

        cfg_old = CrawlConfig(whitelist=WL, depth=1, n_buckets=8)
        cfg_new = CrawlConfig(whitelist=WL[:2], depth=1, n_buckets=8)

        with tempfile.TemporaryDirectory() as t1, tempfile.TemporaryDirectory() as t2:
            wh_ref = Warehouse(spark, t1)
            crawl(spark, wh_ref, pages, SEEDS, cfg_new)  # clean new-cfg run

            wh_b = Warehouse(spark, t2)
            crawl(spark, wh_b, pages, SEEDS, cfg_old)  # crashed old-cfg run
            tables = _uncommit_wave0(wh_b)
            mtimes = _success_mtimes(tables)

            wh_c = Warehouse(spark, t2)
            counts = run_wave(spark, wh_c, pages, 0, cfg_new)
            assert counts == wh_ref.wave_counts(0)  # new-cfg results, not stale
            for t, mtime in _success_mtimes(tables).items():
                assert mtime != mtimes[t], f"{t} kept a stale old-cfg table"

    def test_changed_inputs_invalidate_crashed_attempt(self, spark, pages):
        """Same cfg but DIFFERENT inputs (seed list / corpus identity): the
        crashed attempt's leftovers are rewritten — cfg alone does not pin a
        wave's outputs."""
        from webcrawler_woc_spark.plans.wave import run_wave

        cfg = CrawlConfig(whitelist=WL, depth=1, n_buckets=8)

        with tempfile.TemporaryDirectory() as t2:
            wh_b = Warehouse(spark, t2)
            crawl(spark, wh_b, pages, SEEDS, cfg)  # "crashed" attempt
            tables = _uncommit_wave0(wh_b)
            mtimes = _success_mtimes(tables)

            wh_c = Warehouse(spark, t2)
            run_wave(spark, wh_c, pages, 0, cfg)
            for t, mtime in _success_mtimes(tables).items():
                assert mtime != mtimes[t], f"{t} kept a table from a different-input attempt"


class _StopBeforeWave(RuntimeError):
    pass


# a crawl that crosses the probe gate (BROADCAST_MAX_ROWS = 0) and links back
# into waves it has seen, so a filter that misses a wave re-crawls its urls
GATE_SEEDS = [(f"http://host{i % 10}.example/page/{i}", 1.0) for i in range(0, 200, 7)]
GATE_WL = [f"host{i}.example" for i in range(10)]
GATE_DEPTH = 6


def _gate_cfg(seen_filter: str) -> CrawlConfig:
    return CrawlConfig(whitelist=GATE_WL, depth=GATE_DEPTH, n_buckets=8, seen_filter=seen_filter)


def _full_state(wh):
    """Seen set, crawl order and the links_out rows of a finished crawl."""
    from webcrawler_woc_spark.plans.crawl import read_links_out

    links = sorted(
        (r["wave"], r["url"], r["crawled"], r["link_type"], r["contains_words"])
        for r in read_links_out(wh).collect()
    )
    return (*_state(wh), links)


def _crawl_until(spark, wh, pages, cfg, stop_wave: int) -> None:
    """Crawl, stopping (as if killed) before wave ``stop_wave`` runs."""
    from webcrawler_woc_spark.plans import crawl as crawl_mod

    run_wave = crawl_mod.run_wave

    def until(spark_, wh_, pages_, wave, *args, **kwargs):
        if wave >= stop_wave:
            raise _StopBeforeWave(wave)
        return run_wave(spark_, wh_, pages_, wave, *args, **kwargs)

    crawl_mod.run_wave = until
    try:
        with pytest.raises(_StopBeforeWave):
            crawl(spark, wh, pages, GATE_SEEDS, cfg)
    finally:
        crawl_mod.run_wave = run_wave


class TestSeenFilterRebuiltOnResume:
    """The committed sidecar is a cache of the seen view: a resume that finds
    no sidecar of the requested kind (waves committed with no filter, or the
    last wave's file lost) rebuilds it from the seen view, so above the probe
    gate the filter never misses a crawled url and no url is crawled twice."""

    @pytest.fixture(scope="class")
    def unfiltered(self, spark, pages):
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, GATE_SEEDS, _gate_cfg("none"))
            return _full_state(wh)

    @pytest.mark.parametrize(
        "first,then,lose_sidecar",
        [
            pytest.param("none", "bloom", False, id="none-bloom"),
            pytest.param("none", "cuckoo", False, id="none-cuckoo"),
            pytest.param("bloom", "bloom", True, id="bloom-lost-npz"),
        ],
    )
    def test_resume_matches_unfiltered(
        self, spark, pages, unfiltered, monkeypatch, first, then, lose_sidecar
    ):
        import webcrawler_woc_spark.config as cfgmod

        monkeypatch.setattr(cfgmod, "BROADCAST_MAX_ROWS", 0)
        with tempfile.TemporaryDirectory() as tmp:
            _crawl_until(spark, Warehouse(spark, tmp), pages, _gate_cfg(first), stop_wave=3)
            wh = Warehouse(spark, tmp)
            assert wh.last_wave == 2
            if lose_sidecar:
                os.remove(wh.manifest["waves"]["2"]["bloom"])
            crawl(spark, wh, pages, GATE_SEEDS, _gate_cfg(then))
            state = _full_state(wh)
            waves = [wh.manifest["waves"][str(w)] for w in range(GATE_DEPTH)]
        seen, order, links = state
        assert len(order) == len({url for *_, url in order})  # no url crawled twice
        assert state == unfiltered
        # the rebuilt sidecar is of the requested kind; the wave that
        # rebuilt it had none to probe, the later ones probe it
        assert [w["sidecar_kind"] for w in waves[3:]] == [then] * 3
        assert [w["seen_probe"] for w in waves[3:]] == ["exact", then, then]


POLITE_DEPTH = 4
POLITENESS = ("robots_delay", "robots_disallow")


def _polite_cfg() -> CrawlConfig:
    # robots Crawl-delay 1 + h % 3 makes the per-host budgets 3, 1 and 1
    return CrawlConfig(
        whitelist=GATE_WL, depth=POLITE_DEPTH, n_buckets=8, host_budget=3,
        respect_disallow=True,
    )


def _polite_state(wh):
    counts = [wh.manifest["waves"][str(w)]["counts"] for w in range(POLITE_DEPTH)]
    return (*_full_state(wh), counts)


class TestPolitenessCheckpoint:
    """The robots Crawl-delay and Disallow tables are checkpoint state: the
    first call parses them from the corpus and records them in the manifest;
    a resume reads them back and parses no robots.txt."""

    @pytest.fixture(scope="class")
    def uninterrupted(self, spark, pages):
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, GATE_SEEDS, _polite_cfg())
            tables = wh.manifest["politeness"]
            assert tables == {name: os.path.join(wh.path, name) for name in POLITENESS}
            return _polite_state(wh)

    def test_resume_parses_no_robots(self, spark, pages, uninterrupted, monkeypatch):
        from webcrawler_woc_spark.operators import politeness

        def refuse(*args, **kwargs):
            raise AssertionError("robots.txt parsed on resume")

        with tempfile.TemporaryDirectory() as tmp:
            _crawl_until(spark, Warehouse(spark, tmp), pages, _polite_cfg(), stop_wave=2)
            for name in ("parse_robots_crawl_delay", "parse_robots_disallow"):
                monkeypatch.setattr(politeness, name, refuse)
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, GATE_SEEDS, _polite_cfg())
            assert _polite_state(wh) == uninterrupted

    def test_manifest_without_politeness_resumes(self, spark, pages, uninterrupted):
        with tempfile.TemporaryDirectory() as tmp:
            _crawl_until(spark, Warehouse(spark, tmp), pages, _polite_cfg(), stop_wave=2)
            # as a warehouse written before the politeness tables were kept
            wh = Warehouse(spark, tmp)
            for path in wh.manifest.pop("politeness").values():
                shutil.rmtree(path)
            wh._commit_manifest()
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, GATE_SEEDS, _polite_cfg())
            assert sorted(wh.manifest["politeness"]) == sorted(POLITENESS)
            assert _polite_state(wh) == uninterrupted


class TestWarehouseReadsRunNoJob:
    def test_reads_fire_no_job(self, spark, pages):
        """Every warehouse read names its table's schema, so building the
        read runs no schema-inference job."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        cfg = CrawlConfig(whitelist=WL, depth=2, n_buckets=8)
        with tempfile.TemporaryDirectory() as tmp:
            wh = Warehouse(spark, tmp)
            crawl(spark, wh, pages, SEEDS, cfg)
            try:
                sc.setJobGroup("warehouse-reads", "warehouse reads")
                reads = [wh.read_frontier(1), wh.read_waves("seen"), wh.read_waves("rejected")]
                # control: a read that infers its schema fires a job; jobs
                # reach the tracker in order, so once the control's is
                # there, any job of the reads above is too
                sc.setJobGroup("inferring-read", "inferring read")
                spark.read.parquet(wh.table_wave_path("frontier", 1))
                deadline = time.time() + 30
                while not tracker.getJobIdsForGroup("inferring-read") and time.time() < deadline:
                    time.sleep(0.1)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        assert all(df is not None for df in reads)
        assert tracker.getJobIdsForGroup("inferring-read")
        assert tracker.getJobIdsForGroup("warehouse-reads") == []


def test_call_site_capture_is_off_unless_asked(spark):
    """get_spark turns PySpark's call-site capture off; extra_conf turns it
    back on. The setting is static, so the second half needs a new session,
    made in a child process."""
    import subprocess
    import sys

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from webcrawler_woc_spark.session import get_spark\n"
        "s = get_spark(master='local[1]', extra_conf={sys.argv[2]: 'true'})\n"
        "print('VALUE', s.conf.get(sys.argv[2]))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", child, repo, key],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "VALUE true" in out.stdout.splitlines()
