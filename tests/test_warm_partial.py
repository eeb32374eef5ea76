"""Memory-capped warm tier (VERDICT r2 #8): head-terms-by-df partial warm,
per-query cold-term fallback to the compressed block-max path, and the
warm_memory_report accounting surface.

The 4x decoded-tier multiplier needs a guardrail at 100x: a serving shard
sets warm_budget_bytes, warms only the head terms that fit, and any query
touching a cold term must return IDENTICAL results through the compressed
path (correctness, not best-effort)."""

from __future__ import annotations

import datetime

import pytest

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import QueryTerm, SearchEngine
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.sources.pages import PAGES_SCHEMA

_TS = datetime.datetime(2024, 1, 1)


def _docs() -> dict[str, str]:
    # skewed dfs ('common'/'padding'/'extra' in all 50 docs, fill words in
    # 10 each, rare words exactly once) — a head-term budget separates them
    # cleanly.  All-alphabetic tokens: the tokenizer splits digit runs off,
    # which would collapse rare1..rare50 into one df-50 'rare' term.
    fills = ["fillaa", "fillbb", "fillcc", "filldd", "fillee"]
    rares = [f"rw{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(50)]
    return {
        f"u/{i:03d}": f"common {fills[i % 5]} {rares[i]} padding extra" for i in range(50)
    }


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    rows = [(u, _TS, b"", text, "en") for u, text in _docs().items()]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path_factory.mktemp("idx_warmcap"))
    build_index(spark, pages, out)
    return out


@pytest.fixture(scope="module")
def engines(spark, idx):
    # budget_rows = budget // 48; 'common'(50) + 'extra'(50) + 'padding'(50)
    # have the largest dfs — 150 rows of budget warms exactly that head
    capped = SearchEngine(spark, idx, warm_budget_bytes=150 * SearchEngine.WARM_BYTES_PER_POSTING)
    cold = SearchEngine(spark, idx, cache_postings=False)
    full = SearchEngine(spark, idx)
    yield capped, cold, full
    for e in (capped, full):
        e.postings.unpersist()
        e.doc_stats.unpersist()
        if e._warm is not None:
            e._warm.unpersist()


def test_budget_truncates_to_head_terms(engines):
    capped, _, _ = engines
    rep = capped.warm_memory_report()
    assert rep["truncated"] is True
    assert rep["warm_term_count"] == 3
    assert capped._warm_terms == {"common", "extra", "padding"}
    assert rep["warm_rows"] == 150 < rep["total_postings"]
    assert rep["budget_bytes"] == 150 * SearchEngine.WARM_BYTES_PER_POSTING
    assert rep["est_warm_bytes"] <= rep["budget_bytes"]


def test_coverage_routing(engines):
    capped, _, full = engines
    assert capped._warm_covers([QueryTerm(0, "common")])
    assert capped._warm_covers([QueryTerm(0, "common"), QueryTerm(0, "extra")])
    # any cold term -> whole query routes compressed
    assert not capped._warm_covers([QueryTerm(0, "common"), QueryTerm(0, "rwha")])
    assert not capped._warm_covers([QueryTerm(0, "unseen")])
    # an unbudgeted engine covers everything, a cold engine nothing
    assert full._warm_covers([QueryTerm(0, "rwha")])


def test_cold_term_results_identical_to_compressed(engines):
    capped, cold, _ = engines

    def hits(eng, q):
        return [
            (r["url"], round(r["score"], 9), r["terms_matched"])
            for r in eng.search(q, k=20).collect()
        ]

    for q in ["common rwha", "rwnaa", "fillcc rwcaa", "common"]:
        assert hits(capped, q) == hits(cold, q), q


def test_cold_term_serving_page_identical(engines):
    capped, cold, _ = engines
    for q in ["common rwha", "rwna"]:
        a = [(h["url"], round(h["score"], 9)) for h in capped.search_page(q, k=20)]
        b = [(h["url"], round(h["score"], 9)) for h in cold.search_page(q, k=20)]
        assert a == b, q


def test_warm_term_query_uses_warm_tier(engines):
    capped, cold, _ = engines
    # head-term query stays on the warm tier and still matches compressed
    a = [(r["url"], round(r["score"], 9)) for r in capped.search("common extra", k=20).collect()]
    b = [(r["url"], round(r["score"], 9)) for r in cold.search("common extra", k=20).collect()]
    assert a == b
    assert capped._warm is not None and capped._warm.count() == 150


def test_filtered_cold_term_routes_compressed(engines, monkeypatch):
    """A filtered query with a cold term on the budget-truncated tier takes
    the compressed cogroup; with head terms only it stays on the warm
    tier.  Every engine returns the same page."""
    capped, cold, full = engines
    filters = {"url": {"$lt": "u/025"}}
    calls, route = [], capped.score_variants_topk_filtered
    monkeypatch.setattr(
        capped, "score_variants_topk_filtered",
        lambda *a, **kw: calls.append(1) or route(*a, **kw),
    )
    for q, cogroups in [("common rwba", 1), ("common extra", 0)]:
        calls.clear()
        pages = [
            [(h["url"], round(h["score"], 9)) for h in e.search_page(q, k=20, filters=filters)]
            for e in (capped, cold, full)
        ]
        assert pages[0] and pages[0] == pages[1] == pages[2], q
        assert all(u < "u/025" for u, _ in pages[0]), q
        assert len(calls) == cogroups, q


def test_cold_negative_routes_off_the_warm_tier(engines, planner_routes):
    """A negative keyword the budget left cold has no rows in the tier, so
    the warm statement could not exclude its docs: warm positive words
    plus one cold negative leave the warm tier and match the oracle, on a
    top-k page and on a sorted one."""
    capped, _, _ = engines
    oracle = BM25Oracle(_docs())
    q, neg = "common extra", "rwha"  # rwha: u/007 only, inside the plain top 20
    assert capped._warm_covers([QueryTerm(0, "common"), QueryTerm(0, "extra")])
    assert not capped._warm_covers([QueryTerm(0, "common")], [neg])
    want = oracle.top_k(q, k=20, exclude_terms=[neg])
    assert "u/007" in {u for u, _ in oracle.top_k(q, k=20)} - {u for u, _ in want}
    routes = planner_routes(capped)
    got = [(h["url"], h["score"]) for h in capped.search_page(f"{q} -{neg}", k=20)]
    assert [u for u, _ in got] == [u for u, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want], abs=1e-9)
    every = sorted(u for u, _ in oracle.top_k(q, k=50, exclude_terms=[neg]))
    page = capped.search(f"{q} -{neg}", k=20, sort=["url:asc"]).collect()
    assert [r["url"] for r in page] == every[:20]
    assert routes == ["compressed", "compressed"]


def test_memory_report_disabled_engine_is_estimate_only(engines):
    # the memory-safety probe must not itself decode+persist a tier that a
    # cache_postings=False engine will never read
    _, cold, _ = engines
    rep = cold.warm_memory_report()
    assert cold._warm is None  # nothing was built
    assert rep["warm_rows"] is None and rep["truncated"] is None
    assert rep["est_warm_bytes"] == rep["total_postings"] * SearchEngine.WARM_BYTES_PER_POSTING
    assert rep["jvm_max_heap_bytes"] > 0


def test_memory_report_full_tier(engines):
    _, _, full = engines
    rep = full.warm_memory_report()
    assert rep["truncated"] is False and rep["warm_term_count"] is None
    assert rep["warm_rows"] == rep["total_postings"]
    assert rep["cached_bytes_actual"] > 0
    assert rep["jvm_max_heap_bytes"] > 0
    assert 0 < rep["est_heap_fraction"] < 1
