"""SearchService end-to-end lifecycle (SURVEY §3.3 parity)."""

from __future__ import annotations

import pytest

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.service import SearchService
from meilisearch_thai_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("svc_idx"))
    build_index(spark, generate_pages(spark, 800, seed=13), out)
    return SearchService(spark, out, cache_postings=False)


def test_basic_response_shape(service):
    r = service.search("ปัญญาประดิษฐ์", limit=5)
    assert r.algorithm == "optimized_score"
    assert 0 < len(r.hits) <= 5
    assert r.hits == sorted(r.hits, key=lambda h: -h.score)
    assert r.query_info["primary_language"] == "thai"
    assert r.query_info["thai_content_detected"]
    assert set(r.timings_ms) == {"tokenization_ms", "search_ms", "ranking_ms"}


def test_pagination(service):
    full = service.search("อาหารไทย", limit=10)
    page2 = service.search("อาหารไทย", limit=5, offset=5)
    assert [h.doc_id for h in page2.hits] == [h.doc_id for h in full.hits[5:10]]
    assert full.has_next == (full.total_unique_hits > 10)


def test_algorithms_run(service):
    for algo in ("weighted_score", "optimized_score", "simple_score", "experimental_score"):
        r = service.search("เทคโนโลยี", limit=3, algorithm=algo)
        assert r.algorithm == algo
        assert isinstance(r.hits, list)


def test_ab_selection_stable(service):
    a1 = service.search("โรงเรียน", session_id="s1", ab_test_algorithm="experimental_score")
    a2 = service.search("โรงเรียน", session_id="s1", ab_test_algorithm="experimental_score")
    assert a1.algorithm == a2.algorithm


def test_validation_raises(service):
    with pytest.raises(ValueError):
        service.search("x", limit=0)


def test_metrics_export(service, spark):
    service.search("ตลาดหุ้น", limit=3)
    df = service.export_metrics(spark)
    assert df.count() == len(service.metrics) > 0
    assert "search_ms" in df.columns
    assert df.filter("search_ms IS NULL").count() == 0


def test_records_bounded_oldest_dropped(service, monkeypatch):
    """metrics/events stay lists capped at MAX_RECORDS, oldest dropped."""
    monkeypatch.setattr(SearchService, "MAX_RECORDS", 3)
    qs = ["ตลาดหุ้น", "โรงเรียน", "อาหารไทย", "เทคโนโลยี", "ปัญญาประดิษฐ์"]
    for q in qs:
        service.search(q, limit=2)
    assert isinstance(service.metrics, list) and isinstance(service.events, list)
    assert [r["query"] for r in service.metrics] == qs[-3:]
    assert [e["query"] for e in service.events] == qs[-3:]
    assert [e["query"] for e in service.events[-2:]] == qs[-2:]


def test_stored_content_eops(spark, tmp_path_factory):
    """store_text_crop: hits carry content, exact-match boost and thai-ratio
    boost fire, X7 dedups on real text (P3/R3/E5 parity)."""
    out = str(tmp_path_factory.mktemp("svc_idx_text"))
    build_index(spark, generate_pages(spark, 400, seed=17), out, store_text_crop=200)
    svc = SearchService(spark, out, cache_postings=False)
    r = svc.search("ปัญญาประดิษฐ์", limit=5)
    assert r.hits
    eng_rows = svc.engine.search("ปัญญาประดิษฐ์", k=3).collect()
    assert "text_crop" in eng_rows[0].__fields__
    # crops are real content, bounded by the configured length
    assert all(0 < len(row["text_crop"]) <= 200 for row in eng_rows)
    from meilisearch_thai_spark.tokenizer import thai_ratio

    assert any(thai_ratio(row["text_crop"]) > 0.3 for row in eng_rows)
    # content-backed relevance: thai-heavy stored text implies nonzero density
    assert all(h.relevance is not None for h in r.hits)
    # experimental_score applies the thai-ratio boost on stored text, so its
    # scores must actually differ from the control arm (ADVICE r1: the A/B
    # test must not compare two identical treatments)
    ctl = svc.search("ปัญญาประดิษฐ์", limit=5, algorithm="optimized_score")
    exp = svc.search("ปัญญาประดิษฐ์", limit=5, algorithm="experimental_score")
    assert [h.score for h in exp.hits] != [h.score for h in ctl.hits]
    by_doc_ctl = {h.doc_id: h.score for h in ctl.hits}
    for h in exp.hits:
        if h.doc_id in by_doc_ctl:
            assert h.score >= by_doc_ctl[h.doc_id]  # boost only raises


def test_include_tokenization_info(service):
    r = service.search("สาหร่ายวากาเมะ", limit=3, include_tokenization_info=True)
    ti = r.query_info["tokenization_info"]
    assert ti["engine"].startswith("newmm")
    assert ti["tokens"] and "".join(ti["tokens"]) == "สาหร่ายวากาเมะ"
    assert len(ti["confidence_scores"]) == len(ti["tokens"])
    assert ti["variants"] and all("weight" in v for v in ti["variants"])
    # absent unless requested (reference default False)
    r2 = service.search("สาหร่ายวากาเมะ", limit=3)
    assert "tokenization_info" not in r2.query_info


def test_highlight_toggle_and_crop_marker(spark, tmp_path_factory):
    """Reference models/requests.py:16-20: highlight=False suppresses all
    highlighting work; crop_marker replaces the '...' ellipsis."""
    out = str(tmp_path_factory.mktemp("svc_idx_hl"))
    build_index(spark, generate_pages(spark, 400, seed=17), out, store_text_crop=500)
    svc = SearchService(spark, out, cache_postings=False)
    on = svc.search("ปัญญาประดิษฐ์", limit=3)
    assert on.hits and any(h.formatted for h in on.hits)
    off = svc.search("ปัญญาประดิษฐ์", limit=3, highlight=False)
    assert all(h.formatted == "" and h.highlights == [] and h.highlight == {} for h in off.hits)
    # same ranking either way — highlighting is presentation only
    assert [h.doc_id for h in off.hits] == [h.doc_id for h in on.hits]
    marked = svc.search("ปัญญาประดิษฐ์", limit=3, crop_marker="[…]")
    joined = "".join(h.formatted for h in marked.hits)
    assert "[…]" in joined or all(len(h.formatted) < 500 for h in marked.hits)


def test_attributes_to_highlight(spark, tmp_path_factory):
    import datetime

    out = str(tmp_path_factory.mktemp("svc_idx_attr_hl"))
    rows = [
        ("u/1", "zebra story", "a zebra walks far", "en"),
        ("u/2", "plain title", "nothing zebra here too", "en"),
    ]
    pages = spark.createDataFrame(
        [(u, t, c, lang) for u, t, c, lang in rows],
        "url string, title string, content string, lang string",
    )
    build_index(
        spark, pages, out, fields=["title", "content"], stored_fields=["title"]
    )
    svc = SearchService(spark, out, cache_postings=False)
    r = svc.search("zebra", limit=5, attributes_to_highlight=["title"])
    assert r.hits
    by_url = {h.url: h for h in r.hits}
    assert "<em>zebra</em>" in by_url["u/1"].highlight["title"]
    # attr requested only for highlight does NOT leak into attributes
    assert by_url["u/1"].attributes == {}
    # unknown attribute names 400 exactly like attributes_to_retrieve
    import pytest as _pytest

    with _pytest.raises(ValueError, match="attributes_to_retrieve"):
        svc.search("zebra", limit=5, attributes_to_highlight=["nope"])


def test_matching_strategy_override_and_variant_cap(spark, tmp_path_factory):
    """Reference SearchOptions matching_strategy (:22) and
    max_query_variants (:32): request-level overrides reach the variant
    pipeline through the service's precomputed ProcessedQuery."""
    from meilisearch_thai_spark.query.pipeline import process_query

    # strategy override: every non-phrase variant forced to 'all'
    pq = process_query("อาหารไทย ราคาถูก", matching_strategy="all")
    assert pq.variants and all(v.matching == "all" for v in pq.variants if v.matching != "phrase")
    # variant cap: 1 keeps only the strongest variant
    pq1 = process_query("อาหารไทย ราคาถูก", max_variants=1)
    assert len(pq1.variants) == 1

    import datetime

    out = str(tmp_path_factory.mktemp("svc_idx_ms"))
    docs = [
        ("u/both", "อาหารไทย ราคาถูก ครบเครื่อง"),
        ("u/one", "อาหารไทย จานเด็ดประจำร้าน"),
        ("u/none", "เทคโนโลยีสมัยใหม่"),
    ]
    pages = spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, 1), b"", t, "th") for u, t in docs],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    build_index(spark, pages, out)
    svc = SearchService(spark, out, cache_postings=False)
    # 'all' = conjunctive across every query term: only u/both qualifies;
    # 'last' relaxes trailing terms, so the partial match surfaces too
    strict = svc.search("อาหารไทย ราคาถูก", limit=20, matching_strategy="all")
    assert {h.url for h in strict.hits} == {"u/both"}
    loose = svc.search("อาหารไทย ราคาถูก", limit=20, matching_strategy="last")
    assert {"u/both", "u/one"} <= {h.url for h in loose.hits}
    one = svc.search("อาหารไทย ราคาถูก", limit=20, max_query_variants=1)
    assert one.query_info["variant_count"] == 1
    with pytest.raises(ValueError, match="max_query_variants"):
        svc.search("x", max_query_variants=0)
    with pytest.raises(ValueError, match="matching_strategy"):
        svc.search("x", matching_strategy="nope")


def test_show_ranking_score_details(service):
    """showRankingScoreDetails: the factor breakdown must multiply out to
    the reported score exactly, and stays empty unless requested."""
    svc = service
    r = svc.search("สาหร่ายวากาเมะ", limit=3, show_ranking_score_details=True)
    assert r.hits
    for h in r.hits:
        d = h.score_details
        assert set(d) == {
            "bm25_weighted", "enhanced_multiplier", "exact_match_multiplier",
            "algorithm_multiplier", "final",
        }
        recomposed = (
            d["bm25_weighted"] * d["enhanced_multiplier"]
            * d["exact_match_multiplier"] * d["algorithm_multiplier"]
        )
        assert abs(recomposed - d["final"]) < 1e-4 * max(1.0, d["final"])
        assert d["final"] == h.score
    r2 = svc.search("สาหร่ายวากาเมะ", limit=3)
    assert r2.hits[0].score_details == {}


def test_suggest_did_you_mean(service):
    """OOV words rewrite to their best in-vocab typo fix; clean queries and
    uncorrectable garbage return None (no banner)."""
    # the corpus is Thai word soup; use a Latin token we KNOW is indexed
    vocab = service.engine.vocabulary()
    latin = [t for t in vocab if t.isascii() and len(t) >= 5]
    if not latin:  # corpus edge: fall back to a Thai word
        latin = [t for t in vocab if len(t) >= 5]
    word = latin[0]
    typo = word[:-1] + ("x" if word[-1] != "x" else "y")
    got = service.suggest(typo)
    assert got == word
    assert service.suggest(word) is None            # already correct
    assert service.suggest("zzzzzzzzzzzz") is None  # nothing corrects


def test_suggest_prefers_higher_df_among_equal_distance(spark, tmp_path_factory):
    """ADVICE r3: among equal-edit-distance corrections, suggest() must pick
    the most frequent term (df desc), not length-band scan order."""
    from meilisearch_thai_spark.index.builder import build_index

    out = str(tmp_path_factory.mktemp("svc_suggest_df"))
    texts = ["paper stack on the paper desk"] * 9 + ["pager device beeped"]
    pages = spark.createDataFrame(
        [(f"{i:04d}", t, "en") for i, t in enumerate(texts)],
        "url string, text string, lang string",
    )
    build_index(spark, pages, out)
    svc = SearchService(spark, out, cache_postings=False)
    # 'pater' is OOV and 1 edit from BOTH 'paper' (df=9) and 'pager' (df=1)
    assert svc.suggest("pater") == "paper"


def test_service_search_after_walks_and_terminates(service):
    pages, cursor, seen = 0, None, []
    while True:
        hits, cursor = service.search_after("อาหารไทย", cursor=cursor, limit=5)
        seen.extend(h["url"] for h in hits)
        pages += 1
        if cursor is None:
            break
        assert pages < 200  # must terminate
    assert len(seen) == len(set(seen)) > 0  # no repeats, non-empty walk
    with pytest.raises(ValueError, match="negative"):
        service.search_after("อาหาร -ไทย")


def test_service_delete_documents_both_forms(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("svc_del"))
    pages = generate_pages(spark, 300, seed=17).persist()
    build_index(spark, pages, out)
    svc = SearchService(spark, out, cache_postings=False)
    with pytest.raises(ValueError, match="exactly one"):
        svc.delete_documents()
    with pytest.raises(ValueError, match="exactly one"):
        svc.delete_documents(urls=["u"], filters={"lang": {"$eq": "en"}})
    victim = pages.limit(1).collect()[0]["url"]
    assert svc.delete_documents(urls=[victim]) == 1
    # live engine already excludes it (refresh_deletes ran)
    r = svc.search("อาหาร", limit=50)
    assert victim not in {h.url for h in r.hits}
    n_en = pages.filter("lang = 'en'").count()
    got = svc.delete_documents(filters={"lang": {"$eq": "en"}})
    # the url-delete above may have consumed one en doc already
    assert got in (n_en, n_en - 1)
    pages.unpersist()


def test_service_search_after_limit_validation(service):
    with pytest.raises(ValueError, match=r"limit must be in"):
        service.search_after("อาหาร", limit=0)
    with pytest.raises(ValueError, match=r"limit must be in"):
        service.search_after("อาหาร", limit=10_001)
