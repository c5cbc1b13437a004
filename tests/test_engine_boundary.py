"""The crawl engine is ``main.py``'s import closure inside the repository
(``scripts/engine_size.py``). Operators that only the query catalogue calls
live outside it, so the engine's size counts only what a crawl can run."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _engine_closure() -> dict[str, int]:
    spec = importlib.util.spec_from_file_location(
        "engine_size", os.path.join(REPO, "scripts", "engine_size.py")
    )
    engine_size = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(engine_size)
    return engine_size.closure(REPO, "main.py")


def test_catalogue_page_probes_are_outside_the_engine():
    sizes = _engine_closure()
    assert "webcrawler_woc_spark.plans.wave" in sizes  # the closure is followed
    assert "webcrawler_woc_spark.operators.extract" in sizes
    for module in ("canonical", "recrawl"):
        assert f"webcrawler_woc_spark.operators.{module}" not in sizes


def test_catalogue_fetch_policy_is_outside_the_engine():
    sizes = _engine_closure()
    assert "webcrawler_woc_spark.operators.politeness" in sizes
    assert "webcrawler_woc_spark.operators.fetch_policy" not in sizes


def test_corpus_generator_is_outside_the_engine():
    # the fetch simulation owns the Content-Type rule; the corpus generator
    # re-exports the same function for the catalogue, perfbench and tests
    from webcrawler_woc_spark.operators import fetch
    from webcrawler_woc_spark.sources import corpus

    sizes = _engine_closure()
    assert "webcrawler_woc_spark.operators.fetch" in sizes
    assert "webcrawler_woc_spark.sources.corpus" not in sizes
    assert corpus.default_content_type_expr is fetch.default_content_type_expr
