"""Round-5 batch-3 operators: as-of CDX point lookup, reciprocal-link stats,
co-citation top-k, asymmetric shingle containment, crawler-trap URL flags,
magic-byte MIME sniffing, sitemap <url> entry metadata, term drift."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


class TestContainmentPairs:
    def test_wrapper_page_caught_one_direction_only(self, spark):
        """The case Jaccard misses: a short doc quoted whole inside a much
        larger page — containment fires inner->outer, never outer->inner."""
        from webcrawler_woc_spark.operators.dedup import containment_pairs

        inner = "abcdefghijklmnop"
        outer = inner + " plus a long unrelated tail that dilutes jaccard badly"
        docs = spark.createDataFrame(
            [(1, inner), (2, outer), (3, "completely different body")],
            "doc_id bigint, text string",
        )
        rows = containment_pairs(docs, n=4, threshold=0.9).collect()
        got = {(r.inner_doc, r.outer_doc) for r in rows}
        assert got == {(1, 2)}
        (r,) = rows
        assert r.n_common == r.size_inner  # full containment
        assert r.size_outer > r.size_inner

    def test_identical_docs_emit_both_directions(self, spark):
        from webcrawler_woc_spark.operators.dedup import containment_pairs

        docs = spark.createDataFrame(
            [(1, "same text body here"), (2, "same text body here")],
            "doc_id bigint, text string",
        )
        got = {
            (r.inner_doc, r.outer_doc)
            for r in containment_pairs(docs, n=4, threshold=0.9).collect()
        }
        assert got == {(1, 2), (2, 1)}

    def test_jaccard_blind_spot_is_real(self, spark):
        """Pin WHY this operator exists: on the wrapper pair above, Jaccard
        at the same 0.9 bar finds nothing."""
        from webcrawler_woc_spark.operators.dedup import ngram_jaccard_pairs

        inner = "abcdefghijklmnop"
        outer = inner + " plus a long unrelated tail that dilutes jaccard badly"
        docs = spark.createDataFrame(
            [(1, inner), (2, outer)], "doc_id bigint, text string"
        )
        assert ngram_jaccard_pairs(docs, n=4, threshold=0.9).count() == 0


class TestUrlTrapFlags:
    CASES = {
        "http://h.example/a/a/a/x": dict(max_seg_repeat=3, is_trap=1),
        "http://h.example/2023/05/17/9/item": dict(n_date_segs=4, is_trap=1),
        "http://h.example/p?phpsessid=abc&x=1": dict(
            has_session_param=1, n_params=2, is_trap=1
        ),
        "http://h.example/s1/s2/s3/s4/s5/s6/s7/s8/s9/p0": dict(
            path_depth=10, is_trap=1
        ),
        "http://h.example/p?a1=1&a2=1&a3=1&a4=1&a5=1&a6=1&a7=1&a8=1&a9=1&b=2": dict(
            n_params=10, is_trap=1
        ),
        "http://h.example/about/team": dict(
            path_depth=2, max_seg_repeat=1, n_date_segs=0, n_params=0,
            has_session_param=0, is_trap=0,
        ),
        "http://h.example": dict(path_depth=0, max_seg_repeat=0, is_trap=0),
    }

    def test_each_signal_fires_on_its_family(self, spark):
        from webcrawler_woc_spark.operators.traps import url_trap_flags

        df = spark.createDataFrame([(u,) for u in self.CASES], "url string")
        got = {r.url: r.asDict() for r in url_trap_flags(df).collect()}
        for url, want in self.CASES.items():
            for k, v in want.items():
                assert got[url][k] == v, (url, k, got[url])

    def test_session_param_name_is_anchored(self, spark):
        """'sid' must match as the WHOLE param name: 'classid=' or
        'sidebar=' must not fire."""
        from webcrawler_woc_spark.operators.traps import url_trap_flags

        df = spark.createDataFrame(
            [("http://h.example/p?classid=7&sidebar=1",),
             ("http://h.example/p?SID=7",)],
            "url string",
        )
        got = {r.url: r.has_session_param for r in url_trap_flags(df).collect()}
        assert got["http://h.example/p?classid=7&sidebar=1"] == 0
        assert got["http://h.example/p?SID=7"] == 1  # case-insensitive

    def test_fragment_never_counts_as_query(self, spark):
        """'#frag?x' has no real query (phantom params otherwise), and a
        fragment after a real query must not fold into the last param."""
        from webcrawler_woc_spark.operators.traps import url_trap_flags

        df = spark.createDataFrame(
            [("http://h.example/p#section?tab=2",),
             ("http://h.example/p?a=1#sid=x",)],
            "url string",
        )
        got = {r.url: r for r in url_trap_flags(df).collect()}
        frag_only = got["http://h.example/p#section?tab=2"]
        assert frag_only.n_params == 0 and frag_only.has_session_param == 0
        real_q = got["http://h.example/p?a=1#sid=x"]
        assert real_q.n_params == 1 and real_q.has_session_param == 0

    def test_scan_only_no_exchange(self, spark):
        from webcrawler_woc_spark.operators.traps import url_trap_flags

        df = spark.createDataFrame([("http://h.example/a",)], "url string")
        plan = url_trap_flags(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan

    def test_host_rollup(self, spark):
        from webcrawler_woc_spark.operators.traps import host_trap_stats

        df = spark.createDataFrame(
            [("http://a.example/x/x/x/y",), ("http://a.example/ok",),
             ("http://b.example/clean",)],
            "url string",
        )
        got = {r.host: r for r in host_trap_stats(df).collect()}
        assert got["a.example"].n_urls == 2 and got["a.example"].n_traps == 1
        assert got["a.example"].trap_ratio_ppm == 500_000
        assert got["b.example"].trap_ratio_ppm == 0


class TestSniffContentType:
    def test_magic_bytes_beat_the_claim(self, spark):
        from webcrawler_woc_spark.operators.canonical import sniff_content_type

        rows = [
            (1, bytes.fromhex("89504E470D0A1A0A") + b"xxxx", "text/html"),
            (2, b"%PDF-1.4 payload", "application/pdf"),
            (3, b"  <!DOCTYPE html><html>", "text/html; charset=utf-8"),
            (4, b"GIF89a....", "image/png"),
            (5, b"\xff\xd8\xff\xe0JFIF", "text/html"),
            (6, b"PK\x03\x04zipdata", "application/zip"),
            (7, b"plain text, no magic, no tag", "text/plain"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, html binary, content_type string")
        got = {r.doc_id: (r.sniffed_type, r.type_mismatch)
               for r in sniff_content_type(df).collect()}
        assert got[1] == ("image/png", 1)  # server lied
        assert got[2] == ("application/pdf", 0)
        assert got[3] == ("text/html", 0)  # leading whitespace + DOCTYPE ok
        assert got[4] == ("image/gif", 1)
        assert got[5] == ("image/jpeg", 1)
        assert got[6] == ("application/zip", 0)
        assert got[7] == ("application/octet-stream", 1)  # honest fallback

    def test_null_claim_is_mismatch_not_null(self, spark):
        """A fetched page with no Content-Type header must flag 1 (the
        contract is 0/1) — a plain != would null-propagate."""
        from webcrawler_woc_spark.operators.canonical import sniff_content_type

        df = spark.createDataFrame(
            [(1, b"%PDF-1.4", None)], "doc_id bigint, html binary, content_type string"
        )
        (r,) = sniff_content_type(df).collect()
        assert (r.sniffed_type, r.type_mismatch) == ("application/pdf", 1)

    def test_scan_only(self, spark):
        from webcrawler_woc_spark.operators.canonical import sniff_content_type

        df = spark.createDataFrame(
            [(1, b"<html>", "text/html")], "doc_id bigint, html binary, content_type string"
        )
        plan = sniff_content_type(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestParseSitemapEntries:
    BODY = (
        '<?xml version="1.0" encoding="UTF-8"?><urlset>'
        "<url><loc>  http://a.example/p?x=1&amp;y=2  </loc>"
        "<lastmod>2024-03-15</lastmod><priority>0.8</priority></url>"
        "<url><loc>http://a.example/q</loc><changefreq>daily</changefreq></url>"
        "</urlset>"
    )

    def test_fields_order_nulls_and_unescape(self, spark):
        from webcrawler_woc_spark.operators.sitemaps import parse_sitemap_entries

        sm = spark.createDataFrame([("sm://a", self.BODY)], "sitemap_url string, body string")
        rows = sorted(parse_sitemap_entries(sm).collect(), key=lambda r: r.idx)
        assert len(rows) == 2
        r0, r1 = rows
        assert r0.url == "http://a.example/p?x=1&y=2"  # trimmed + unescaped
        assert (r0.lastmod, r0.changefreq, r0.priority_ppm) == ("2024-03-15", None, 800000)
        assert r1.url == "http://a.example/q"
        assert (r1.lastmod, r1.changefreq, r1.priority_ppm) == (None, "daily", None)

    def test_empty_and_locless_bodies_emit_nothing(self, spark):
        from webcrawler_woc_spark.operators.sitemaps import parse_sitemap_entries

        sm = spark.createDataFrame(
            [("sm://a", "<urlset></urlset>"), ("sm://b", "not xml at all")],
            "sitemap_url string, body string",
        )
        assert parse_sitemap_entries(sm).count() == 0


class TestTermDrift:
    def test_counts_missing_terms_and_cut(self, spark):
        from webcrawler_woc_spark.operators.textstats import term_drift

        old = spark.createDataFrame(
            [("a a a b",), ("a c",)], "text string"
        )  # a:4 b:1 c:1
        new = spark.createDataFrame(
            [("a a b b z",), ("z z",)], "text string"
        )  # a:2 b:2 z:3
        rows = {r.term: r for r in term_drift(old, new, top_k=3).collect()}
        # combined counts: a=6, z=3, b=3 -> top-3 by (sum DESC, term ASC): a, b, z
        assert set(rows) == {"a", "b", "z"}
        assert (rows["a"].n_old, rows["a"].n_new) == (4, 2)
        assert rows["z"].n_old == 0  # absent from old = strongest signal
        assert rows["z"].drift_ppm == (3 * 3 * 1_000_000) // 3
        assert rows["a"].drift_ppm == (2 * 2 * 1_000_000) // 6

    def test_full_tiebreak_cut_is_deterministic(self, spark):
        from webcrawler_woc_spark.operators.textstats import term_drift

        old = spark.createDataFrame([("x y",)], "text string")
        new = spark.createDataFrame([("y x",)], "text string")
        got = [r.term for r in term_drift(old, new, top_k=1).collect()]
        assert got == ["x"]  # 2-2 tie -> term ASC


class TestAsofCdx:
    def test_latest_at_or_before_t(self, spark, tmp_path):
        from webcrawler_woc_spark.operators.cdx import asof_cdx, build_cdx, write_cdx

        def ts(s):
            return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)

        caps = spark.createDataFrame(
            [
                ("http://a.example/p", ts(100)),
                ("http://a.example/p", ts(200)),
                ("http://a.example/p", ts(300)),  # after T
                ("http://b.example/q", ts(400)),  # first capture after T
                ("http://c.example/r", ts(50)),
            ],
            "url string, capture_ts timestamp",
        )
        path = str(tmp_path / "idx")
        write_cdx(build_cdx(caps), path, n_ranges=3)
        t = int(ts(250).timestamp())
        got = {r.surt: r.epoch for r in asof_cdx(
            spark, path,
            ["http://a.example/p", "http://b.example/q", "http://missing.example/x"],
            t,
        ).collect()}
        assert got == {"example,a)/p": int(ts(200).timestamp())}

    def test_surt_twin_matches_catalyst(self, spark):
        from webcrawler_woc_spark.functions.surt import surt_key
        from webcrawler_woc_spark.operators.cdx import _surt_of

        urls = [
            "http://a.b.example/x/y?q=1",
            "https://host.example",
            "mailto:x@y.z",
            "http://single/p",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        spark_keys = {
            r.url: r.k for r in df.select("url", surt_key(F.col("url")).alias("k")).collect()
        }
        for u in urls:
            assert _surt_of(u) == spark_keys[u], u


class TestReciprocalLinkStats:
    def test_recip_counts(self, spark):
        from webcrawler_woc_spark.operators.graph import reciprocal_link_stats

        edges = spark.createDataFrame(
            [
                ("a", "b"), ("b", "a"),          # reciprocal pair
                ("a", "c"),                       # one-way
                ("a", "c"),                       # multi-edge collapses
                ("c", "c"),                       # self-loop dropped
                ("d", "a"),                       # one-way in
            ],
            "src string, dst string",
        )
        got = {r.node: (r.n_out, r.n_recip, r.recip_ppm)
               for r in reciprocal_link_stats(edges).collect()}
        assert got == {
            "a": (2, 1, 500_000),
            "b": (1, 1, 1_000_000),
            "d": (1, 0, 0),
        }


class TestCocitationTopk:
    def test_pairs_and_cap(self, spark):
        from webcrawler_woc_spark.operators.graph import cocitation_topk

        edges = spark.createDataFrame(
            [
                # t1 cited by a,b,c ; t2 by a,b ; t3 by b,c
                ("a", "t1"), ("b", "t1"), ("c", "t1"),
                ("a", "t2"), ("b", "t2"),
                ("b", "t3"), ("c", "t3"),
            ],
            "src string, dst string",
        )
        rows = cocitation_topk(edges, per_target_cap=5, k=10).collect()
        got = [(r.src_a, r.src_b, r.n_shared) for r in rows]
        assert got == [("a", "b", 2), ("b", "c", 2), ("a", "c", 1)]

    def test_per_target_cap_bounds_fanout(self, spark):
        from webcrawler_woc_spark.operators.graph import cocitation_topk

        # hub target cited by 10 sources; cap=3 keeps only s0,s1,s2 pairs
        edges = spark.createDataFrame(
            [(f"s{i}", "hub") for i in range(10)], "src string, dst string"
        )
        rows = cocitation_topk(edges, per_target_cap=3, k=100).collect()
        assert {(r.src_a, r.src_b) for r in rows} == {
            ("s0", "s1"), ("s0", "s2"), ("s1", "s2")
        }

    def test_topk_is_take_ordered(self, spark):
        from webcrawler_woc_spark.operators.graph import cocitation_topk

        edges = spark.createDataFrame([("a", "t"), ("b", "t")], "src string, dst string")
        plan = cocitation_topk(edges, k=5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestResolveRedirects:
    def test_chain_cycle_and_jump_count(self, spark):
        """A 9-hop chain must fully resolve in 5 jump rounds (2^5 = 32-hop
        reach — the pointer-jumping point: the naive one-hop-per-round plan
        would need 9), a 3-cycle flags every member, and a self-redirect is
        its own cycle."""
        from webcrawler_woc_spark.operators.recrawl import resolve_redirects

        chain = [(f"u{i}", f"u{i + 1}") for i in range(9)]  # u0 -> ... -> u9
        cycle = [("c0", "c1"), ("c1", "c2"), ("c2", "c0")]
        selfloop = [("s", "s")]
        redirects = spark.createDataFrame(
            chain + cycle + selfloop, "src string, dst string"
        )
        got = {
            r.src: (r.final_url, r.is_cycle)
            for r in resolve_redirects(redirects, max_rounds=5).collect()
        }
        for i in range(9):
            assert got[f"u{i}"] == ("u9", 0), i  # fully resolved, terminal
        for c in ("c0", "c1", "c2"):
            assert got[c][1] == 1 and got[c][0].startswith("c")
        assert got["s"] == ("s", 1)

    def test_duplicate_capture_rows_do_not_multiply_output(self, spark):
        """The same redirect captured twice (normal in capture logs) must
        not multiply rows through the self-joins — pre-fix, each round
        doubled every row routed through the duplicated link."""
        from webcrawler_woc_spark.operators.recrawl import resolve_redirects

        redirects = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("b", "c"), ("b", "c")],
            "src string, dst string",
        )
        rows = resolve_redirects(redirects, max_rounds=3).collect()
        assert len(rows) == 2  # one row per distinct src
        got = {r.src: (r.final_url, r.is_cycle) for r in rows}
        assert got["a"] == ("c", 0) and got["b"] == ("c", 0)

    def test_four_rounds_reach_sixteen_hops(self, spark):
        """Pin the 2^k reach: a 16-hop chain resolves in 4 rounds but a
        17-hop chain does not — proof the rounds actually compose f(f),
        not advance one raw hop."""
        from webcrawler_woc_spark.operators.recrawl import resolve_redirects

        chain = [(f"u{i}", f"u{i + 1}") for i in range(17)]  # 17 hops to u17
        redirects = spark.createDataFrame(chain, "src string, dst string")
        got = {
            r.src: r.final_url
            for r in resolve_redirects(redirects, max_rounds=4).collect()
        }
        assert got["u1"] == "u17"  # 16 hops from u1: exactly within reach
        assert got["u0"] == "u16"  # 17 hops from u0: one short — NOT u17


class TestDetectCharset:
    def test_whatwg_precedence_and_sources(self, spark):
        from webcrawler_woc_spark.operators.canonical import detect_charset

        meta = b'<html><head><meta charset="windows-1252"></head>'
        rows = [
            # BOM beats header and meta
            (1, bytes.fromhex("EFBBBF") + meta, "text/html; charset=ISO-8859-1"),
            # header beats meta
            (2, meta, "text/html; charset=ISO-8859-1"),
            # meta only
            (3, meta, "text/html"),
            # nothing declared -> web default
            (4, b"<html><body>plain</body>", None),
            # UTF-16LE BOM: invalid as UTF-8 — the prescan must not throw
            (5, bytes.fromhex("FFFE") + meta, None),
            # http-equiv form with content= charset
            (6, b'<meta http-equiv="Content-Type" content="text/html; charset=KOI8-R">',
             "text/html"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, html binary, content_type string")
        got = {r.doc_id: (r.bom_charset, r.header_charset, r.meta_charset, r.charset)
               for r in detect_charset(df).collect()}
        assert got[1] == ("utf-8", "iso-8859-1", "windows-1252", "utf-8")
        assert got[2] == (None, "iso-8859-1", "windows-1252", "iso-8859-1")
        assert got[3] == (None, None, "windows-1252", "windows-1252")
        assert got[4] == (None, None, None, "utf-8")
        assert got[5][0] == "utf-16le" and got[5][3] == "utf-16le"
        assert got[6] == (None, None, "koi8-r", "koi8-r")

    def test_non_utf8_payload_never_throws(self, spark):
        """Windows-1252 high bytes (invalid UTF-8) in the prescan window —
        exactly the pages this operator exists to catch — must not crash
        the strict Spark 4 decode."""
        from webcrawler_woc_spark.operators.canonical import detect_charset

        body = b"\x93curly quotes\x94 " * 100  # invalid UTF-8 throughout
        df = spark.createDataFrame(
            [(1, body, "text/html; charset=windows-1252")],
            "doc_id bigint, html binary, content_type string",
        )
        (r,) = detect_charset(df).collect()
        assert (r.header_charset, r.charset) == ("windows-1252", "windows-1252")

    def test_scan_only(self, spark):
        from webcrawler_woc_spark.operators.canonical import detect_charset

        df = spark.createDataFrame(
            [(1, b"<html>", "text/html")], "doc_id bigint, html binary, content_type string"
        )
        plan = detect_charset(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestRobotsMetaFlags:
    def test_channels_shorthand_and_word_bounds(self, spark):
        from webcrawler_woc_spark.operators.fetch_policy import robots_meta_flags

        def pg(meta, hdr=None):
            html = f"<html><head>{meta}</head>".encode()
            headers = {"x-robots-tag": hdr} if hdr else None
            return (html, headers)

        rows = [
            (1, *pg('<meta name="robots" content="noindex, nofollow">')),
            (2, *pg('<meta name=robots content="NOINDEX">')),  # case-insensitive
            (3, *pg("", "nofollow")),  # header channel
            (4, *pg("<meta name='robots' content='none'>")),  # shorthand = both
            (5, *pg('<meta name="robots" content="noarchive">')),  # neither
            (6, *pg('<meta name="description" content="noindex">')),  # wrong tag
            (7, *pg("", "noindex, nofollow")),
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, html binary, headers map<string,string>"
        )
        got = {r.doc_id: (r.noindex, r.nofollow) for r in robots_meta_flags(df).collect()}
        assert got[1] == (1, 1)
        assert got[2] == (1, 0)
        assert got[3] == (0, 1)
        assert got[4] == (1, 1)
        assert got[5] == (0, 0)
        assert got[6] == (0, 0)  # name=description must not match
        assert got[7] == (1, 1)


class TestPlanRevalidation:
    def test_validator_preference_and_outcomes(self, spark):
        from webcrawler_woc_spark.operators.recrawl import plan_revalidation

        rows = [
            ("u1", 'W/"x"', "lm1", 5, 5),   # both validators -> etag wins; unchanged
            ("u2", None, "lm2", 5, 6),      # lm only; changed
            ("u3", None, None, 5, 5),       # nothing to validate -> refetch anyway
            ("u4", 'W/"y"', None, 7, 8),    # etag; changed
        ]
        df = spark.createDataFrame(
            rows, "url string, etag string, last_modified string,"
                  " stored_digest bigint, current_digest bigint"
        )
        got = {r.url: (r.mode, r.validator, r.outcome)
               for r in plan_revalidation(df).collect()}
        assert got["u1"] == ("if-none-match", 'W/"x"', "not_modified")
        assert got["u2"] == ("if-modified-since", "lm2", "refetch")
        assert got["u3"] == ("unconditional", None, "refetch")
        assert got["u4"] == ("if-none-match", 'W/"y"', "refetch")
