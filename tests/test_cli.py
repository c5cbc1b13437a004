"""CLI-surface parity tests for main.py (reference src/cli.rs).

Covers the round-2 parity fixes: host-list normalization (file_handler.rs:
12-28 parses entries with url::Host::parse), --task-limit wiring to the
session's shuffle-partition cap (cli.rs:41-42), the always-on 10 s default
timeout (cli.rs:34-35), and the --verbose stdout tee (cli.rs:260-266).

The end-to-end cases drive main.py as a subprocess (its own JVM) because
main owns session construction; they share one generated pages corpus.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestNormalizeHost:
    def test_truth_table(self):
        from webcrawler_woc_spark.functions.urlnorm import normalize_host

        cases = [
            ("host0.example", "host0.example"),
            ("HOST0.EXAMPLE", "host0.example"),  # lowercased
            ("  host1.example  ", "host1.example"),  # trimmed
            ("münchen.example", "xn--mnchen-3ya.example"),  # IDN -> punycode
            ("[::1]", "[::1]"),  # ipv6 keeps brackets
            ("", None),  # blank dropped
            ("bad host", None),  # forbidden space
            ("host/path", None),  # forbidden slash
            ("host:80", None),  # Host::parse takes no port
            ("a@b", None),  # forbidden @
            ("ex%61mple.com", "example.com"),  # Host::parse percent-decodes
            ("EX%41MPLE.com", "example.com"),  # decode composes with lowercase
            ("ex%2Fmple.com", None),  # decodes to '/', forbidden
            ("100%.example", None),  # stray % survives decode -> forbidden
            ("ex%00mple.com", None),  # decoded NUL: WHATWG forbidden code point
            ("ex%1Fmple.com", None),  # decoded C0 control
        ]
        for raw, want in cases:
            assert normalize_host(raw) == want, raw

    def test_read_host_lines_drops_unparsable(self, tmp_path):
        sys.path.insert(0, REPO)
        from main import read_host_lines

        p = tmp_path / "wl.txt"
        p.write_text("HOST0.EXAMPLE\n\nbad entry!\nhost1.example\n")
        assert read_host_lines(str(p)) == ["host0.example", "host1.example"]
        assert read_host_lines(None) is None


@pytest.fixture(scope="module")
def pages_path(spark, sf_dir, tmp_path_factory):
    from webcrawler_woc_spark.sources.corpus import pages_from_documents

    path = str(tmp_path_factory.mktemp("cli") / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(path)
    return path


def _run_main(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "main.py"), *args],
        capture_output=True,
        text=True,
        cwd=cwd,
        timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )


class TestCliEndToEnd:
    def test_tasklimit_verbose_and_normalized_whitelist(self, pages_path, tmp_path):
        # mixed-case + IDN + junk whitelist: only normalization makes these
        # match the canonical lowercase hosts, so children being scheduled at
        # all proves the Host::parse parity end to end.
        wl = tmp_path / "wl.txt"
        wl.write_text("HOST0.EXAMPLE\nbad entry!\nHost1.Example\nhost2.example\n")
        out = _run_main(
            [
                "http://host0.example/page/20",  # synth latency 7317ms < 10s default
                "-d", "1", "-w", str(wl), "--task-limit", "4", "-v",
                "--pages", pages_path, "--warehouse", str(tmp_path / "wh"),
            ],
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "conf: task_limit=4 -> shuffle_partitions=4" in out.stdout
        # verbose tee: the links table rendered to stdout
        assert "link_type" in out.stdout and "http://host0.example/page/20" in out.stdout
        m = json.load(open(tmp_path / "wh" / "manifest.json"))
        w0 = m["waves"]["0"]["counts"]
        assert w0["fetched"] == 1
        assert w0["new_frontier"] > 0  # whitelist matched => children scheduled

    def test_default_timeout_gates_like_reference(self, pages_path, tmp_path):
        # page/0's synthetic latency is 15529 ms: under the reference's
        # always-on 10 s default the seed fetch times out (fetch failure,
        # still marked crawled, no extraction) without any --timeout flag.
        out = _run_main(
            [
                "http://host0.example/page/0", "-d", "1",
                "--pages", pages_path, "--warehouse", str(tmp_path / "wh"),
            ],
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        m = json.load(open(tmp_path / "wh" / "manifest.json"))
        w0 = m["waves"]["0"]["counts"]
        assert w0["scheduled"] == 1 and w0["fetched"] == 0 and w0["fetch_failed"] == 1

    def test_timeout_zero_disables_gate(self, pages_path, tmp_path):
        out = _run_main(
            [
                "http://host0.example/page/0", "-d", "1", "--timeout", "0",
                "--pages", pages_path, "--warehouse", str(tmp_path / "wh"),
            ],
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        m = json.load(open(tmp_path / "wh" / "manifest.json"))
        assert m["waves"]["0"]["counts"]["fetched"] == 1

    def test_jsonl_pages_source_matches_parquet(self, spark, pages_path, tmp_path):
        # same corpus shipped as JSON-lines (html base64) must crawl
        # identically to the parquet source
        json_dir = str(tmp_path / "pages_json")
        spark.read.parquet(pages_path).write.json(json_dir)
        out = _run_main(
            [
                "http://host0.example/page/20", "-d", "1", "--timeout", "0",
                "--pages", json_dir, "--pages-format", "json",
                "--warehouse", str(tmp_path / "wh_json"),
            ],
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        m = json.load(open(tmp_path / "wh_json" / "manifest.json"))
        w0 = m["waves"]["0"]["counts"]
        assert w0["fetched"] == 1 and w0["extracted_links"] > 0

    def test_wet_out_exports_parseable_bundles(self, spark, pages_path, tmp_path):
        (tmp_path / "wl.txt").write_text("host0.example\nhost1.example\n")
        out = _run_main(
            [
                "http://host0.example/page/20", "-d", "1",
                "-w", str(tmp_path / "wl.txt"),
                "--pages", pages_path, "--warehouse", str(tmp_path / "wh"),
                "--wet-out", str(tmp_path / "wet"),
            ],
            cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "WET bundles exported" in out.stdout
        from webcrawler_woc_spark.sources.warc import parse_wet_bundles

        bundles = spark.read.parquet(str(tmp_path / "wet"))
        parsed = parse_wet_bundles(bundles).collect()
        urls = {r.url for r in parsed}
        # every fetched (corpus-matched) seen URL has exactly one WET record
        m = json.load(open(tmp_path / "wh" / "manifest.json"))
        fetched_total = sum(w["counts"].get("fetched", 0) for w in m["waves"].values())
        assert len(parsed) == len(urls) == fetched_total > 0
        assert "http://host0.example/page/20" in urls
        # payload is the golden extracted text shape
        seed_text = next(r.text for r in parsed if r.url.endswith("/page/20"))
        assert seed_text.startswith("Doc 20\n")


def _links_json(spark, out_dir: str) -> list:
    """Every -o JSON row with its (link_type, crawled) partition."""
    return sorted(map(repr, spark.read.json(out_dir).collect()))


class TestKillResume:
    def test_sigkill_mid_wave_then_rerun_matches_uninterrupted(
        self, spark, pages_path, tmp_path
    ):
        """``kill -9`` the whole crawl (driver, JVM and Python workers) once
        wave 1 has written its links_out table, then rerun with the same
        --warehouse: the resumed crawl ends in the state of an uninterrupted
        one. The kill may land before or after wave 1's manifest commit; a
        wave without a commit runs again in full. Only one child runs at a
        time."""
        import signal
        import time

        from webcrawler_woc_spark.plans.crawl import read_crawl_order, read_seen
        from webcrawler_woc_spark.plans.state import Warehouse

        (tmp_path / "wl.txt").write_text("host0.example\nhost1.example\nhost2.example\n")

        def args(run: str) -> list[str]:
            return [
                "http://host0.example/page/20", "-d", "3", "--timeout", "0",
                "-w", str(tmp_path / "wl.txt"), "--pages", pages_path,
                "--warehouse", str(tmp_path / run / "wh"), "-o", str(tmp_path / run / "out"),
            ]

        def state(run: str):
            wh = Warehouse(spark, str(tmp_path / run / "wh"))
            seen = sorted(r["url"] for r in read_seen(wh).collect())
            order = sorted(tuple(r) for r in read_crawl_order(wh).collect())
            return seen, order, _links_json(spark, str(tmp_path / run / "out"))

        ref = _run_main(args("ref"), cwd=str(tmp_path))
        assert ref.returncode == 0, ref.stderr[-2000:]

        marker = tmp_path / "killed" / "wh" / "links_out" / "wave=1" / "_SUCCESS"
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "main.py"), *args("killed")],
            cwd=str(tmp_path),
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            start_new_session=True,  # its own process group: the JVM dies too
        )
        try:
            deadline = time.time() + 420
            while not marker.exists():
                assert proc.poll() is None, "the crawl ended before wave 1 wrote links_out"
                assert time.time() < deadline, "wave 1 never wrote links_out"
                time.sleep(0.05)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        with open(tmp_path / "killed" / "wh" / "manifest.json") as f:
            assert json.load(f)["last_wave"] in (0, 1)  # wave 2 never ran

        rerun = _run_main(args("killed"), cwd=str(tmp_path))
        assert rerun.returncode == 0, rerun.stderr[-2000:]
        assert state("killed") == state("ref")
        for run in ("ref", "killed"):
            for _, dirs, files in os.walk(tmp_path / run / "wh"):
                for name in dirs + files:
                    assert not name.startswith("staging_wave_"), name
                    assert not name.endswith(".npz") and "_sharded_wave_" not in name, name
