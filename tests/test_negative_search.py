"""MeiliSearch negative keywords (-word, 1.8+ — reference runs 1.15.2):
docs containing a negated word leave the result set; BM25 stats stay
corpus-wide.  Engine results must match the in-process oracle on every
execution path (warm tier, exact route, sort path, the heaps with a
phrase, negative-only placeholder)."""

from __future__ import annotations

import pytest

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import SearchEngine, split_negative_keywords
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.sources.pages import generate_pages

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("negidx"))
    pages = generate_pages(spark, N_DOCS, seed=77)
    build_index(spark, pages, out)
    corpus = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    return out, corpus


def test_split_negative_keywords_parsing():
    assert split_negative_keywords("thai food -spicy") == ("thai food", ["spicy"])
    assert split_negative_keywords("-a b -c") == ("b", ["a", "c"])
    # mid-word hyphen is NOT a negation; bare '-' stays text
    assert split_negative_keywords("state-of-the-art x") == ("state-of-the-art x", [])
    assert split_negative_keywords("a - b") == ("a - b", [])
    with pytest.raises(ValueError, match="negative phrases"):
        split_negative_keywords('food -"thai curry"')


def _top(engine, query, corpus, k=10, **kw):
    got = [(r["url"], r["score"]) for r in engine.search(query, k=k, **kw).collect()]
    return got


def test_negative_search_matches_oracle_kernel_path(spark, built):
    out, corpus = built
    oracle = BM25Oracle(corpus)
    eng = SearchEngine(spark, out, cache_postings=False)
    for q, neg in [("อาหารไทย -เชียงใหม่", ["เชียงใหม่"]), ("เทคโนโลยี -Startup", ["startup"])]:
        pos = q.split(" -")[0]
        want = oracle.top_k(pos, k=10, exclude_terms=neg)
        got = _top(eng, q, corpus)
        assert [u for u, _ in got] == [u for u, _ in want], q
        # every excluded doc really lacks from the page
        for u, _ in got:
            assert all(oracle.tf[u].get(t, 0) == 0 for t in neg)
        # and the exclusion actually removed something vs the plain query
        plain = [u for u, _ in oracle.top_k(pos, k=10)]
        assert [u for u, _ in got] != plain or all(
            all(oracle.tf[u].get(t, 0) == 0 for t in neg) for u in plain
        )


def test_negative_search_warm_path_matches(spark, built):
    out, corpus = built
    oracle = BM25Oracle(corpus)
    eng = SearchEngine(spark, out)  # warm tier enabled (default)
    q, neg = "อาหารไทย -เชียงใหม่", ["เชียงใหม่"]
    want = oracle.top_k("อาหารไทย", k=10, exclude_terms=neg)
    got = _top(eng, q, corpus)
    assert [u for u, _ in got] == [u for u, _ in want]


def test_search_page_honors_negative_keywords(spark, built):
    """The eager serving call excludes like the lazy API on both routes
    (on the warm tier the negated word once scored as a positive term)."""
    out, corpus = built
    want = BM25Oracle(corpus).top_k("อาหารไทย", k=10, exclude_terms=["เชียงใหม่"])
    for eng in (SearchEngine(spark, out), SearchEngine(spark, out, cache_postings=False)):
        got = [(r["url"], r["score"]) for r in eng.search_page("อาหารไทย -เชียงใหม่", k=10)]
        assert [u for u, _ in got] == [u for u, _ in want], eng._warm_enabled
        for (u, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=1e-9), u
        if eng._bucket_partitioned:
            eng.postings.unpersist()
            eng.doc_stats.unpersist()
            eng._warm.unpersist()


def test_rare_and_highdf_negatives_stay_warm(spark, built, planner_routes):
    """Negative keywords are words of the warm statement: a rare one and
    a high-df one (in at least half the corpus) both stay on the warm
    route and match the oracle."""
    from meilisearch_thai_spark.tokenizer import extract_index_terms, tokenize_for_index

    out, corpus = built
    oracle = BM25Oracle(corpus)
    pos = "อาหารไทย"
    plain = [u for u, _ in oracle.top_k(pos, k=10)]
    qterms = set(extract_index_terms(tokenize_for_index(pos)))
    words = [
        t for t in sorted(oracle.df, key=lambda t: (oracle.df[t], t))
        if t not in qterms and extract_index_terms(tokenize_for_index(t)) == [t]
    ]
    rare = next(t for t in words if any(oracle.tf[u].get(t, 0) for u in plain))
    high = next(t for t in reversed(words) if oracle.top_k(pos, k=10, exclude_terms=[t]))
    assert oracle.df[rare] <= 20 and oracle.df[high] >= N_DOCS // 2
    eng = SearchEngine(spark, out)
    eng.warm_postings()
    routes = planner_routes(eng)
    for neg in (rare, high):
        want = oracle.top_k(pos, k=10, exclude_terms=[neg])
        assert want and [u for u, _ in want] != plain, neg
        page = [(h["url"], h["score"]) for h in eng.search_page(f"{pos} -{neg}", k=10)]
        for got in (page, _top(eng, f"{pos} -{neg}", corpus)):
            assert [u for u, _ in got] == [u for u, _ in want], neg
            for (u, a), (_, b) in zip(got, want):
                assert a == pytest.approx(b, abs=1e-9), (neg, u)
    assert routes == ["warm"] * 4
    eng.postings.unpersist()
    eng.doc_stats.unpersist()
    eng._warm.unpersist()


def test_exact_route_decodes_each_block_once(spark, built):
    """On the exact route the anti-join's side decodes only the negative
    words' blocks: the executed plan of a cold search with a negative
    holds two decodes (``MapInPandas``) over disjoint posting scans — the
    query words' and the negative words' — and the page equals the
    oracle's."""
    from test_plan_properties import _exec_nodes

    from meilisearch_thai_spark.tokenizer import extract_index_terms, tokenize_for_index

    out, corpus = built
    pos, neg = "เทคโนโลยี อาหาร", "ความเข้าใจ"
    want = BM25Oracle(corpus).top_k(pos, k=10, exclude_terms=[neg])
    assert want and want != BM25Oracle(corpus).top_k(pos, k=10)
    eng = SearchEngine(spark, out, cache_postings=False)
    df = eng.search(f"{pos} -{neg}", k=10)
    got = [(r["url"], r["score"]) for r in df.collect()]
    assert [u for u, _ in got] == [u for u, _ in want]
    for (u, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9), u
    words = {
        "query": set(extract_index_terms(tokenize_for_index(pos))),
        "negative": set(extract_index_terms(tokenize_for_index(neg))),
    }
    decodes = [
        n for n in _exec_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "MapInPandas"
    ]
    scanned = []
    for d in decodes:
        scans = [n.simpleString(10_000) for n in _exec_nodes(d) if n.nodeName().startswith("Scan")]
        scanned.append({w for s in scans for w in words["query"] | words["negative"] if w in s})
    assert sorted(scanned, key=len) == sorted(words.values(), key=len), scanned


def test_negative_only_query_is_placeholder_page(spark, built):
    out, corpus = built
    oracle = BM25Oracle(corpus)
    eng = SearchEngine(spark, out, cache_postings=False)
    rows = eng.search("-อาหาร", k=5).collect()
    assert len(rows) == 5
    assert all(r["score"] == 0.0 for r in rows)
    # stable doc-id order, and none contains the negated term
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)
    for r in rows:
        assert oracle.tf[r["url"]].get("อาหาร", 0) == 0


def test_negative_with_sort_path(spark, built):
    # sort forces the exact full-scoring path; exclusion must apply there too
    out, corpus = built
    oracle = BM25Oracle(corpus)
    eng = SearchEngine(spark, out, cache_postings=False)
    rows = eng.search("อาหารไทย -เชียงใหม่", k=10, sort=["url:asc"]).collect()
    assert len(rows) > 0
    urls = [r["url"] for r in rows]
    # sort path = url order over ALL matching non-excluded docs, first k
    want = sorted(
        u for u, _ in oracle.top_k("อาหารไทย", k=N_DOCS, exclude_terms=["เชียงใหม่"])
    )[: len(urls)]
    assert urls == want


def test_unknown_negative_term_is_noop(spark, built):
    out, corpus = built
    eng = SearchEngine(spark, out, cache_postings=False)
    a = _top(eng, "อาหารไทย", corpus)
    b = _top(eng, "อาหารไทย -zzzzqqq", corpus)
    assert a == b


def test_negative_only_placeholder_honors_filters_and_sort(spark, built):
    from meilisearch_thai_spark.sources.pages import generate_pages

    out, corpus = built
    langs = {
        r["url"]: r["lang"]
        for r in generate_pages(spark, N_DOCS, seed=77).select("url", "lang").collect()
    }
    eng = SearchEngine(spark, out, cache_postings=False)
    oracle = BM25Oracle(corpus)
    rows = eng.search("-อาหาร", k=8, filters={"lang": "th"}, sort=["url:desc"]).collect()
    assert len(rows) > 0
    urls = [r["url"] for r in rows]
    assert urls == sorted(urls, reverse=True)          # placeholder sort applies
    for u in urls:
        assert langs[u] == "th"                         # placeholder filter applies
        assert oracle.tf[u].get("อาหาร", 0) == 0        # exclusion applies
    # exactly the first k of the sorted, filtered, non-excluded set
    want = sorted(
        (u for u in corpus if langs[u] == "th" and oracle.tf[u].get("อาหาร", 0) == 0),
        reverse=True,
    )[:8]
    assert urls == want


def test_negative_respects_attributes_to_search_on(spark, tmp_path):
    from meilisearch_thai_spark.index.builder import build_index

    rows = [
        ("0001", "apple zebra", "plain filler", "en"),   # zebra in TITLE
        ("0002", "apple pie", "zebra crossing", "en"),   # zebra only in CONTENT
        ("0003", "apple cake", "plain words", "en"),     # never excluded
    ]
    pages = spark.createDataFrame(
        rows, "url string, title string, content string, lang string"
    )
    out = str(tmp_path / "fneg")
    build_index(spark, pages, out, fields=["title", "content"])
    for eng in (SearchEngine(spark, out), SearchEngine(spark, out, cache_postings=False)):
        all_fields = {
            r["url"] for r in eng.search_terms(["apple"], k=10, exclude_terms=["zebra"]).collect()
        }
        assert all_fields == {"0003"}, eng._warm_enabled
        title_only = {
            r["url"]
            for r in eng.search_terms(
                ["apple"], k=10, exclude_terms=["zebra"], attributes_to_search_on=["title"]
            ).collect()
        }
        # the restriction applies to negatives too: content-only zebra survives
        assert title_only == {"0002", "0003"}, eng._warm_enabled
        if eng._bucket_partitioned:
            eng.postings.unpersist()
            eng.doc_stats.unpersist()
            eng._warm.unpersist()


def test_multi_variant_search_honors_negatives(spark, built):
    out, corpus = built
    oracle = BM25Oracle(corpus)
    eng = SearchEngine(spark, out, cache_postings=False)
    plain = [r["url"] for r in eng.multi_variant_search("อาหารไทย", k=10).collect()]
    # negate a term taken FROM the top plain hit, so the exclusion provably
    # bites; pick one that is not a query term
    qterms = {"อาหาร", "ไทย", "อาหารไทย"}
    neg = next(t for t in oracle.tf[plain[0]] if t not in qterms and len(t) > 1)
    rows = eng.multi_variant_search(f"อาหารไทย -{neg}", k=10).collect()
    assert len(rows) > 0
    got = [r["url"] for r in rows]
    assert plain[0] not in got
    for r in rows:
        assert oracle.tf[r["url"]].get(neg, 0) == 0


def test_multi_variant_negative_only_placeholder(spark, built):
    out, corpus = built
    eng = SearchEngine(spark, out, cache_postings=False)
    rows = eng.multi_variant_search("-อาหาร", k=5).collect()
    assert len(rows) == 5
    assert all(r["variant_type"] == "placeholder" and r["score"] == 0.0 for r in rows)


def test_service_and_batch_paths_honor_negatives(spark, built):
    from meilisearch_thai_spark.query.service import SearchService

    out, corpus = built
    oracle = BM25Oracle(corpus)
    svc = SearchService(spark, out)
    r = svc.search("อาหารไทย -เชียงใหม่", limit=10)
    assert len(r.hits) > 0
    for h in r.hits:
        assert oracle.tf[h.url].get("เชียงใหม่", 0) == 0
    # batch: a negative-bearing query routes through the single-query path,
    # order preserved, neighbors still batched; negate a term from the plain
    # top hit so the exclusion provably bites
    eng = svc.engine
    plain = eng.multi_variant_page("อาหารไทย", k=10)
    qterms = {"อาหาร", "ไทย", "อาหารไทย"}
    neg = next(t for t in oracle.tf[plain[0]["url"]] if t not in qterms and len(t) > 1)
    pages = eng.batch_multi_variant_page(
        ["อาหารไทย", f"อาหารไทย -{neg}", "เทคโนโลยี"], k=10
    )
    assert len(pages) == 3 and all(p for p in pages)
    for h in pages[1]:
        assert oracle.tf[h["url"]].get(neg, 0) == 0
    assert plain[0]["url"] in {h["url"] for h in pages[0]}
    assert plain[0]["url"] not in {h["url"] for h in pages[1]}
