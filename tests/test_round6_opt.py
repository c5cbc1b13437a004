"""Round-6 optimization pins.

* vocab_growth: the corpus text must NEVER ride the partitionless global
  window — only the doc_id projection may cross the single-partition sort
  (the r5 verdict's one `weak`: the old plan funneled the whole tokenized
  corpus through ONE task's sort).
* vocab_growth values are unchanged by the restructure (explicit golden
  check over a corpus with sparse/duplicate-term structure).
* spread_scan: spreads an under-partitioned frame to the session default
  parallelism and leaves an already-parallel frame alone (no extra
  exchange at scale).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _window_inputs(plan: str) -> list[str]:
    """Input column list of every Window operator in a formatted plan.
    vocab_growth's windows are both global (partitionless) — the doc_id
    rank and the n_buckets-row running sum — so no Window anywhere in its
    plan may consume a corpus-width column."""
    out: list[str] = []
    for sec in re.split(r"\n\(\d+\) ", plan):
        if not sec.startswith("Window"):
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", sec)
        if inp is not None:
            out.append(inp.group(1))
    return out


def test_vocab_growth_no_corpus_column_in_global_window(spark):
    from webcrawler_woc_spark.operators.textstats import vocab_growth

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} tok{i}") for i in range(40)],
        "doc_id long, text string",
    )
    plan = _formatted_plan(vocab_growth(docs, n_buckets=4))
    # every single-partition exchange (the global rank sort) must carry
    # only the doc_id projection — never text/tokens
    for m in re.finditer(r"\(\d+\) Exchange\n[^(]*", plan):
        sec = m.group(0)
        if "SinglePartition" not in sec:
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", sec)
        assert inp is not None, sec
        cols = {c.strip().split("#")[0] for c in inp.group(1).split(",")}
        # the rank sort carries only doc_id; the running-sum window carries
        # only the n_buckets-row rollup — neither may carry corpus text
        assert cols <= {"doc_id"} or cols <= {"bucket", "n_new_terms"}, (
            f"corpus-width column crosses the partitionless window: {cols}"
        )
    # and the text column must not appear in ANY Window operator's input
    wins = _window_inputs(plan)
    assert wins, "expected Window operators in the vocab_growth plan"
    for win_inp in wins:
        assert "text#" not in win_inp and "_toks" not in win_inp, win_inp


def test_vocab_growth_values_unchanged(spark):
    from webcrawler_woc_spark.operators.textstats import vocab_growth

    # sparse ids (rank != id), cross-bucket repeats, intra-doc duplicates
    rows = [
        (3, "a a b"),
        (10, "b c"),
        (11, "c d e"),
        (40, "a f"),
        (55, ""),
        (70, "f g g"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: (r["n_new_terms"], r["cum_terms"])
        for r in vocab_growth(docs, n_buckets=3).collect()
    }
    # buckets of ranks 1..6 over per_bucket=2: (3,10)->0, (11,40)->1,
    # (55,70)->2; first-seen: a,b,c->0 (docs 3,10); d,e->1 (doc 11),
    # f->1 (doc 40); g->2 (doc 70); empty doc 55 adds nothing
    assert got == {0: (3, 3), 1: (3, 6), 2: (1, 7)}


def test_spread_scan_spreads_and_noops(spark):
    from webcrawler_woc_spark.session import spread_scan

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert spread_scan(narrow).rdd.getNumPartitions() == target
    wide = spark.range(1000).repartition(target + 3)
    # already >= parallelism: unchanged, no exchange added
    assert spread_scan(wide) is wide


def test_fast_join_matches_stdlib_urljoin():
    """_fast_join must be byte-identical to CPython's urljoin wherever it
    claims the fast path (returns non-None), across tricky rel shapes."""
    from urllib.parse import urljoin, urlsplit

    from webcrawler_woc_spark.functions.urlnorm import _fast_join

    bases = [
        "http://h.example/",
        "http://h.example/a/b",
        "http://h.example/a/b/",
        "http://h.example/a/b?q=1#f",
        "https://user@h.example:8080/x/y/z.html",
    ]
    rels = [
        "/page/5", "page/5", "../page/5", "../../p", "../../../p", "./p",
        ".", "..", "p/./q", "p/../q", "p//q", "/p//q", "p?x=1", "p#f",
        "p?x=1#f", "/", "//other.example/p", "sub/", "a/b/../../../c",
        "?x=1", "#f", "", "p:q", "http://abs.example/z", "%7Euser/p",
        "p q", "..%2Fp", "a/.../b", "/..", "/../p", "p/..", "p/../..",
    ]
    for base in bases:
        sp = urlsplit(base)
        for rel in rels:
            fast = _fast_join(sp.scheme, sp.netloc, sp.path, rel)
            if fast is not None:
                assert fast == urljoin(base, rel), (base, rel)


def test_join_url_keeps_empty_query_and_fragment():
    """A relative href and the absolute spelling of its target are one URL
    (WHATWG): an empty query or fragment, or an empty ';' params part of
    the last segment, is kept, however the href is shaped (urljoin drops
    all three, so these rels are not in the cross-check above); a base
    without an authority joins to nothing."""
    from webcrawler_woc_spark.functions.urlnorm import join_url, parse_absolute

    base = "http://h.example/a/b?q=1#f"
    for rel, spelled in [
        ("p?", "http://h.example/a/p?"),
        ("p#", "http://h.example/a/p#"),
        ("p?#", "http://h.example/a/p?#"),
        ("p?#f", "http://h.example/a/p?#f"),
        ("p?x=1#", "http://h.example/a/p?x=1#"),
        ("?", "http://h.example/a/b?"),
        ("#", "http://h.example/a/b?q=1#"),
        ("?#g", "http://h.example/a/b?#g"),
        ("?x=1", "http://h.example/a/b?x=1"),
        ("#g", "http://h.example/a/b?q=1#g"),
        (";", "http://h.example/a/;"),
        ("p;", "http://h.example/a/p;"),
        ("p;?x=1", "http://h.example/a/p;?x=1"),
        (";#g", "http://h.example/a/;#g"),
    ]:
        assert join_url(base, rel) == parse_absolute(spelled) == spelled, rel
    assert join_url("mailto:foo", "bar") is None
