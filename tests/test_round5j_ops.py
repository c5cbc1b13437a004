"""Round-5 batch-10 operators: per-host quota sampling, HTTP header-block
parsing."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestHostCapSample:
    def test_cap_enforced_deterministically(self, spark):
        from webcrawler_woc_spark.operators.sampling import host_cap_sample

        rows = [(i, "big") for i in range(50)] + [(100 + i, "small") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id bigint, host string")
        out1 = host_cap_sample(df, cap=10).collect()
        out2 = host_cap_sample(df, cap=10).collect()
        big1 = sorted(r.doc_id for r in out1 if r.host == "big")
        big2 = sorted(r.doc_id for r in out2 if r.host == "big")
        assert len(big1) == 10 and big1 == big2  # deterministic keep set
        assert sorted(r.doc_id for r in out1 if r.host == "small") == [100, 101, 102]
        ranks = {r.doc_id: r.host_rank for r in out1 if r.host == "small"}
        assert sorted(ranks.values()) == [1, 2, 3]

    def test_rank_allows_tightening_without_rerank(self, spark):
        from webcrawler_woc_spark.operators.sampling import host_cap_sample

        rows = [(i, "h") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id bigint, host string")
        out10 = {r.doc_id for r in host_cap_sample(df, cap=10).collect()}
        out5_direct = {r.doc_id for r in host_cap_sample(df, cap=5).collect()}
        out5_via_rank = {
            r.doc_id
            for r in host_cap_sample(df, cap=10).filter(F.col("host_rank") <= 5).collect()
        }
        assert out5_direct == out5_via_rank
        assert out5_direct <= out10


class TestParseHeaderBlock:
    def test_basic_parse_and_case_rules(self, spark):
        from webcrawler_woc_spark.operators.canonical import parse_header_block

        block = (
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/HTML; charset=UTF-8\r\n"
            "ETag: \"XyZ\"\r\n"
            "X-Custom:  spaced value  \r\n"
        )
        df = spark.createDataFrame([("u", block)], "url string, header_block string")
        got = {r.header_name: r.header_value for r in parse_header_block(df).collect()}
        # names lowercased, values keep casing, trimmed
        assert got["content-type"] == "text/HTML; charset=UTF-8"
        assert got["etag"] == '"XyZ"'
        assert got["x-custom"] == "spaced value"
        assert "http/1.1 200 ok" not in got

    def test_obs_fold_and_junk_lines(self, spark):
        from webcrawler_woc_spark.operators.canonical import parse_header_block

        block = "A: one\r\n continued bit\r\nnocolonline\r\nB: two\r\n"
        df = spark.createDataFrame([("u", block)], "url string, header_block string")
        rows = sorted(parse_header_block(df).collect(), key=lambda r: r.header_pos)
        assert [(r.header_name, r.header_value, r.is_fold, r.parent_pos) for r in rows] == [
            ("a", "one", 0, 0),
            ("a", "continued bit", 1, 0),
            ("b", "two", 0, 3),
        ]

    def test_tab_ows_stripped_and_tab_fold(self, spark):
        from webcrawler_woc_spark.operators.canonical import parse_header_block

        block = "Content-Type:\ttext/html\t\r\n\tfolded\r\n"
        df = spark.createDataFrame([("u", block)], "url string, header_block string")
        rows = sorted(parse_header_block(df).collect(), key=lambda r: r.header_pos)
        assert rows[0].header_value == "text/html"
        assert (rows[1].header_value, rows[1].is_fold, rows[1].parent_pos) == ("folded", 1, 0)

    def test_duplicate_urls_fold_attribution(self, spark):
        """Two captures of one url must not cross-attribute folds."""
        from webcrawler_woc_spark.operators.canonical import parse_header_block

        b1 = "A: x\r\n fold1\r\n"
        b2 = "B: y\r\nC: z\r\n"
        df = spark.createDataFrame(
            [("u", b1, 1), ("u", b2, 2)], "url string, header_block string, cap int"
        )
        rows = parse_header_block(df, capture_col="cap").collect()
        folds = [r for r in rows if r.is_fold == 1]
        assert len(folds) == 1 and folds[0].header_name == "a"
        # and the block-text fallback partitioning gives the same attribution
        rows2 = parse_header_block(df.drop("cap")).collect()
        folds2 = [r for r in rows2 if r.is_fold == 1]
        assert len(folds2) == 1 and folds2[0].header_name == "a"

    def test_value_with_colons(self, spark):
        from webcrawler_woc_spark.operators.canonical import parse_header_block

        block = "Location: https://x.example:8080/p\r\n"
        df = spark.createDataFrame([("u", block)], "url string, header_block string")
        (r,) = parse_header_block(df).collect()
        assert r.header_value == "https://x.example:8080/p"
