"""Warm serving tier + bounded vocabulary (VERDICT r1 item 5, the two
scale-killers).

The warm tier is the decoded in-memory twin of the compressed postings; a
point query over it must return EXACTLY what the block-max python path
returns.  The driver vocabulary is capped by descending df with a
distributed fallback, so no full-vocab collect exists on any path.
"""

from __future__ import annotations

import pytest

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import SearchEngine, _edit_distance_within
from meilisearch_thai_spark.sources.pages import generate_pages

N_DOCS = 800

QUERIES = ["ปัญญาประดิษฐ์", "อาหารไทย", "เทคโนโลยี", "machine learning", "Startup ไทย"]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_warm"))
    build_index(spark, generate_pages(spark, N_DOCS, seed=21), out, bucket_span=256)
    return out


def test_warm_path_matches_blockmax_path(spark, idx):
    warm = SearchEngine(spark, idx, cache_postings=True)
    cold = SearchEngine(spark, idx, cache_postings=False)
    assert warm._warm_enabled and not cold._warm_enabled
    for q in QUERIES:
        a = [(r["doc_id"], round(r["score"], 6)) for r in warm.search(q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 6)) for r in cold.search(q, k=10).collect()]
        assert a == b, q
    # warm tier materialized once, row count == total postings
    assert warm._warm is not None
    assert warm._warm.count() == warm.meta.n_postings
    warm.postings.unpersist()
    warm.doc_stats.unpersist()
    warm._warm.unpersist()


def test_warm_multi_variant_matches(spark, idx):
    warm = SearchEngine(spark, idx, cache_postings=True)
    cold = SearchEngine(spark, idx, cache_postings=False)
    for q in ["อาหารไทย", "เทคโนโลยี การเรียนรู้"]:
        a = [(r["doc_id"], round(r["score"], 6)) for r in warm.multi_variant_search(q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 6)) for r in cold.multi_variant_search(q, k=10).collect()]
        assert a == b, q
    warm.postings.unpersist()
    warm.doc_stats.unpersist()
    if warm._warm is not None:
        warm._warm.unpersist()


def test_vocab_bounded_and_truncation_flag(spark, idx):
    eng = SearchEngine(spark, idx, cache_postings=False, vocab_cap=50)
    v = eng.vocabulary()
    assert len(v) == 50 and eng._vocab_truncated
    assert v == sorted(v)
    # capped by df: every kept term at least as frequent as the global median
    full = SearchEngine(spark, idx, cache_postings=False)
    assert len(full.vocabulary()) > 50 and not full._vocab_truncated


def test_spark_fallback_expansion(spark, idx):
    tiny = SearchEngine(spark, idx, cache_postings=False, vocab_cap=10)
    full = SearchEngine(spark, idx, cache_postings=False)
    # a Thai token whose expansions exist in the full vocab but (almost
    # surely) not in a 10-term head: the driver miss must fall through to
    # the distributed lookup and still find them
    probe = "อาหาร"
    distributed = tiny.expand_terms_spark(probe, max_expansions=5)
    assert all(probe in t and t != probe for t in distributed)
    if any(probe in t and t != probe for t in full.vocabulary()):
        assert distributed, "distributed expansion found nothing"
        assert tiny.expand_terms(probe, max_expansions=5), "fallback not wired"


def test_fuzzy_length_bands_equal_brute_scan(spark, idx):
    eng = SearchEngine(spark, idx, cache_postings=False)
    vocab = eng.vocabulary()
    for tok in ("starup", "machne", "leerning"):
        banded = set(eng.expand_terms_fuzzy(tok, max_expansions=100))
        budget = 2 if len(tok) >= 9 else 1
        brute = {
            t
            for t in vocab
            if t != tok and t.isascii() and _edit_distance_within(tok, t, budget)
        }
        assert banded == brute, tok


def _canon(pairs):
    return [(u, round(float(s), 6)) for u, s in pairs]


def _drop_engine(eng):
    eng.postings.unpersist()
    eng.doc_stats.unpersist()
    if eng._warm is not None:
        eng._warm.unpersist()


def test_plan_cache_never_serves_a_deleted_doc(spark, tmp_path):
    """A repeated warm query reuses its parsed plan; after delete_docs +
    refresh_deletes the repeat must run on the rebuilt tier."""
    from meilisearch_thai_spark.index.maintenance import delete_docs
    from meilisearch_thai_spark.query.service import SearchService

    out = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, 300, seed=31), out)
    svc = SearchService(spark, out)
    eng, q = svc.engine, "เทคโนโลยี"
    before = svc.search(q, limit=5)
    assert eng.search_page(q, k=5)
    assert len(eng._warm_binding()[1]) == 2  # both plans cached
    victim = before.hits[0].url
    assert delete_docs(spark, out, [victim]) == 1
    assert eng.refresh_deletes() == 1
    assert victim not in {h.url for h in svc.search(q, limit=5).hits}
    assert victim not in {r["url"] for r in eng.search_page(q, k=5)}
    _drop_engine(eng)


def test_plan_cache_follows_refresh_after_rebuild(spark, tmp_path):
    """After the directory is rebuilt with another corpus and the live
    engine refreshed, a repeated query equals the oracle on the NEW corpus."""
    from meilisearch_thai_spark.index.maintenance import swap_indexes
    from meilisearch_thai_spark.query.oracle import BM25Oracle

    live_dir, next_dir = str(tmp_path / "live"), str(tmp_path / "next")
    build_index(spark, generate_pages(spark, 300, seed=32), live_dir)
    pages = generate_pages(spark, 300, seed=33)
    build_index(spark, pages, next_dir)
    corpus = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    eng = SearchEngine(spark, live_dir)
    q = "อาหารไทย"
    old = eng.search_page(q, k=10)
    swap_indexes(live_dir, next_dir)
    eng.refresh_index()
    got = _canon((r["url"], r["score"]) for r in eng.search_page(q, k=10))
    assert got == _canon(BM25Oracle(corpus).top_k(q, k=10))
    assert got != _canon((r["url"], r["score"]) for r in old)
    _drop_engine(eng)


def test_warm_tier_stays_cached_across_refresh(spark, tmp_path):
    """Rebinding the warm view after refresh_index over unchanged files
    must not uncache the freshly built tier: dropping a temp view uncaches
    every cached plan with the same result, which here is the new tier."""
    out = str(tmp_path / "idx")
    build_index(spark, generate_pages(spark, 200, seed=34), out)
    eng = SearchEngine(spark, out)
    cache = spark._jsparkSession.sharedState().cacheManager()
    for _ in range(2):
        assert eng.search_page("อาหารไทย", k=5)
        assert cache.lookupCachedData(eng._warm._jdf).isDefined()
        eng.refresh_index()
    assert eng.search_page("อาหารไทย", k=5)
    assert cache.lookupCachedData(eng._warm._jdf).isDefined()
    _drop_engine(eng)
