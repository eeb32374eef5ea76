"""Multi-field (attribute) indexing — the reference's searchableAttributes +
'attribute' ranking (settings_manager.py:72-95) and attributesToRetrieve
(search_executor.py:721-723).

Correctness bar: the engine's fielded BM25 (BM25F with per-field df/dl/avgdl
and index-setting weights) must equal an in-process pure-Python oracle built
on the SAME pinned tokenizer, on every query path (cold block-max heap, warm
JVM tier, filtered cogroup, phrase)."""

from __future__ import annotations

import math
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import SearchEngine

FIELDS = ["title", "content"]

# deterministic 30-doc two-field Latin corpus (the tokenizer's Latin path is
# plain lowercase word tokens, so the oracle can tokenize identically)
_W = ["apple", "banana", "cherry", "durian", "fig", "grape", "kiwi", "lemon",
      "mango", "melon", "olive", "peach", "pear", "plum", "quince"]


def _corpus() -> list[dict]:
    rows = []
    for i in range(30):
        title = " ".join(_W[(i + j) % len(_W)] for j in range(1 + i % 3))
        content = " ".join(_W[(i * 7 + j * 3) % len(_W)] for j in range(8 + i % 9))
        rows.append({"url": f"{i:04d}", "title": title, "content": content, "lang": "en"})
    # targeted rows for the ranking/count/phrase assertions
    rows.append({"url": "9000", "title": "zebra story", "content": "plain filler words here", "lang": "en"})
    rows.append({"url": "9001", "title": "other things", "content": "zebra crossing filler here", "lang": "en"})
    rows.append({"url": "9002", "title": "apple pie", "content": "apple tart and apple cake", "lang": "en"})
    rows.append({"url": "9003", "title": "red fish", "content": "blue water", "lang": "en"})
    rows.append({"url": "9004", "title": "water red", "content": "fish blue", "lang": "en"})
    return rows


def _tok(text: str) -> list[str]:
    from meilisearch_thai_spark.tokenizer import extract_index_terms, tokenize_for_index

    return extract_index_terms(tokenize_for_index(text or ""))


def bm25f_oracle(
    rows: list[dict], query_terms: list[str], weights: list[float],
    k1: float = 1.2, b: float = 0.75, search_on: list[str] | None = None,
) -> list[tuple[str, float, int]]:
    """(url, score, matched_words) for every matching doc, BM25F with
    per-field df/dl/avgdl — the build-side contract re-derived independently.
    ``search_on`` matches only the named fields (attributesToSearchOn);
    their corpus statistics are unchanged."""
    docs = [(r["url"], [_tok(r[f]) for f in FIELDS]) for r in rows]
    n = len(docs)
    avgdl = [max(sum(len(d[1][i]) for d in docs) / n, 1e-9) for i in range(len(FIELDS))]
    dfs: list[Counter] = [Counter() for _ in FIELDS]
    for _u, per in docs:
        for i, toks in enumerate(per):
            for t in set(toks):
                dfs[i][t] += 1
    out = []
    for url, per in docs:
        s, matched = 0.0, set()
        for i, toks in enumerate(per):
            if search_on is not None and FIELDS[i] not in search_on:
                continue
            c = Counter(toks)
            for t in dict.fromkeys(query_terms):
                tf = c.get(t, 0)
                if not tf:
                    continue
                matched.add(t)
                idf = math.log(1.0 + (n - dfs[i][t] + 0.5) / (dfs[i][t] + 0.5))
                s += (
                    weights[i] * idf * tf * (k1 + 1.0)
                    / (tf + k1 * (1.0 - b + b * len(toks) / avgdl[i]))
                )
        if matched:
            out.append((url, s, len(matched)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out


@pytest.fixture(scope="module")
def corpus():
    return _corpus()


@pytest.fixture(scope="module")
def fielded_index(spark, tmp_path_factory, corpus):
    out = str(tmp_path_factory.mktemp("idx_fielded"))
    pages = spark.createDataFrame(
        [(r["url"], r["title"], r["content"], r["lang"]) for r in corpus],
        "url string, title string, content string, lang string",
    )
    meta = build_index(
        spark, pages, out, fields=FIELDS, positional=True,
        stored_fields=["lang", "title"],
    )
    assert meta.fields == FIELDS
    assert meta.field_weights == [2.0, 1.0]  # default halving by ordinal
    return out


@pytest.fixture(scope="module")
def cold(spark, fielded_index):
    return SearchEngine(spark, fielded_index, cache_postings=False)


@pytest.fixture(scope="module")
def warm(spark, fielded_index):
    eng = SearchEngine(spark, fielded_index, cache_postings=True)
    eng.warm_postings()
    yield eng
    eng.refresh_index()  # unpersists caches


def _hits(df):
    return [(r["url"], round(r["score"], 9), r["terms_matched"]) for r in df.collect()]


def test_bm25f_matches_python_oracle(cold, corpus):
    for q in (["apple"], ["apple", "banana"], ["mango", "olive", "fig"]):
        got = _hits(cold.search_terms(q, k=50))
        want = [(u, round(s, 9), m) for u, s, m in bm25f_oracle(corpus, q, [2.0, 1.0])][:50]
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gu, gs, gm), (wu, ws, wm) in zip(got, want):
            assert gm == wm, (gu, gm, wm)
            assert gs == pytest.approx(ws, abs=1e-9), gu


def test_title_match_outranks_content_match(cold):
    got = _hits(cold.search_terms(["zebra"], k=5))
    assert [u for u, _s, _m in got][:2] == ["9000", "9001"]
    assert got[0][1] > got[1][1]


def test_terms_matched_counts_distinct_words(cold):
    # 'apple' hits title AND content of 9002 — still ONE matched word
    rows = {r["url"]: r for r in cold.search_terms(["apple"], k=50).collect()}
    assert rows["9002"]["terms_matched"] == 1


def test_matching_all_across_fields(cold, corpus):
    # conjunctive: a word satisfied from EITHER field counts
    got = _hits(cold.search_terms(["apple", "cherry"], k=50, matching="all"))
    want = [(u, s, m) for u, s, m in bm25f_oracle(corpus, ["apple", "cherry"], [2.0, 1.0]) if m == 2]
    assert [g[0] for g in got] == [w[0] for w in want][:50]


def test_warm_equals_cold(cold, warm, corpus):
    for q in (["apple"], ["apple", "banana"], ["zebra"], ["mango", "olive", "fig"]):
        got_c = _hits(cold.search_terms(q, k=50))
        got_w = _hits(warm.search_terms(q, k=50))
        assert [(u, m) for u, _s, m in got_c] == [(u, m) for u, _s, m in got_w]
        for (cu, cs, _cm), (_wu, ws, _wm) in zip(got_c, got_w):
            assert cs == pytest.approx(ws, abs=1e-9), cu


def test_filtered_fielded_search(cold, corpus):
    got = _hits(cold.search_terms(["apple", "banana"], k=50, filters={"lang": "en"}))
    want = bm25f_oracle(corpus, ["apple", "banana"], [2.0, 1.0])[:50]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gu, gs, _), (_wu, ws, _w) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), gu


def test_filtered_warm_route_matches_cogroup_and_oracle(cold, warm, corpus, monkeypatch):
    """A filtered fielded query stays on the warm tier (doc_stats
    semi-join) and equals the compressed cogroup and the BM25F oracle
    restricted to the allowed docs."""
    by_url = {r["url"]: r for r in corpus}
    calls, route = [], warm.score_variants_topk_filtered
    monkeypatch.setattr(
        warm, "score_variants_topk_filtered", lambda *a, **kw: calls.append(1) or route(*a, **kw)
    )
    cases = [
        ({"url": {"$gte": "0010", "$lt": "9002"}}, lambda r: "0010" <= r["url"] < "9002"),
        ({"title": {"$ne": "apple pie"}}, lambda r: r["title"] != "apple pie"),
    ]
    for filters, allow in cases:
        for q in (["apple", "banana"], ["zebra"], ["mango", "olive", "fig"]):
            want = [
                (u, s) for u, s, _m in bm25f_oracle(corpus, q, [2.0, 1.0]) if allow(by_url[u])
            ][:50]
            assert want, (filters, q)
            for eng in (warm, cold):
                got = [(r["url"], r["score"]) for r in eng.search_terms(q, k=50, filters=filters).collect()]
                assert [u for u, _ in got] == [u for u, _ in want], (filters, q, eng._warm_enabled)
                for (u, a), (_, b) in zip(got, want):
                    assert a == pytest.approx(b, abs=1e-9), u
    assert calls == []


def test_phrase_within_field_only(cold):
    # "red fish" is adjacent in 9003's TITLE; 9004 has both words split
    # across fields — a phrase must never chain across attributes
    urls = [r["url"] for r in cold.search_phrase(["red", "fish"], k=10).collect()]
    assert "9003" in urls
    assert "9004" not in urls


def test_stored_fields_roundtrip(cold):
    hits = cold.search_page("zebra", k=2, attributes_to_retrieve=["title", "lang"])
    assert hits and hits[0]["title"] == "zebra story" and hits[0]["lang"] == "en"
    with pytest.raises(ValueError, match="attributes_to_retrieve"):
        cold.search_page("zebra", k=2, attributes_to_retrieve=["nope"])


def test_internal_columns_not_retrievable(cold):
    # doc_id/doc_len/norm_hash are index internals, never stored document
    # fields (reference 400s unknown attributes; hit stripping :363-367)
    for col in ("doc_id", "doc_len", "norm_hash"):
        with pytest.raises(ValueError, match="attributes_to_retrieve"):
            cold.search_page("zebra", k=2, attributes_to_retrieve=[col])


def test_empty_variant_query_keeps_attr_schema(cold):
    # a query that yields no variants must return the SAME columns as a
    # matching one (union-safe) and still reject unknown attribute names
    df = cold.multi_variant_search("!!!", k=5, attributes_to_retrieve=["title"])
    assert df.count() == 0
    assert "title" in df.columns
    matching = cold.multi_variant_search("zebra", k=5, attributes_to_retrieve=["title"])
    assert df.columns == matching.columns
    with pytest.raises(ValueError, match="attributes_to_retrieve"):
        cold.multi_variant_search("!!!", k=5, attributes_to_retrieve=["nope"])


def test_service_attributes_and_underscore_stripping(spark, tmp_path, corpus):
    from meilisearch_thai_spark.query.service import SearchService

    out = str(tmp_path / "idx_priv")
    pages = spark.createDataFrame(
        [(r["url"], r["title"], r["content"], r["lang"], f"s{r['url']}") for r in corpus],
        "url string, title string, content string, lang string, _secret string",
    )
    build_index(spark, pages, out, fields=FIELDS, stored_fields=["lang", "_secret"])
    svc = SearchService(spark, out, cache_postings=False)
    resp = svc.search("zebra", limit=2, attributes_to_retrieve=["lang", "_secret"])
    assert resp.hits and resp.hits[0].attributes == {"lang": "en"}  # _secret stripped


def test_compaction_preserves_fielded_scores(spark, tmp_path, corpus, cold):
    from meilisearch_thai_spark.index.maintenance import compact_index, delete_docs

    out = str(tmp_path / "idx_compact")
    pages = spark.createDataFrame(
        [(r["url"], r["title"], r["content"], r["lang"]) for r in corpus],
        "url string, title string, content string, lang string",
    )
    build_index(spark, pages, out, fields=FIELDS)
    assert delete_docs(spark, out, ["9001"]) == 1
    compact_index(spark, out)
    eng = SearchEngine(spark, out, cache_postings=False)
    # scores equal a FRESH fielded build over the surviving corpus
    fresh_dir = str(tmp_path / "idx_fresh")
    survivors = [r for r in corpus if r["url"] != "9001"]
    build_index(
        spark,
        spark.createDataFrame(
            [(r["url"], r["title"], r["content"], r["lang"]) for r in survivors],
            "url string, title string, content string, lang string",
        ),
        fresh_dir,
        fields=FIELDS,
    )
    fresh = SearchEngine(spark, fresh_dir, cache_postings=False)
    for q in (["zebra"], ["apple", "banana"]):
        got = _hits(eng.search_terms(q, k=50))
        want = _hits(fresh.search_terms(q, k=50))
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gu, gs, _), (_wu, ws, _w) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), gu


def test_unfielded_index_unchanged(spark, tmp_path, corpus):
    """A classic single-text build is bit-identical to pre-field behavior:
    meta carries no fields and queries take the unfielded paths."""
    out = str(tmp_path / "idx_plain")
    pages = spark.createDataFrame(
        [(r["url"], r["title"] + " " + r["content"], r["lang"]) for r in corpus],
        "url string, text string, lang string",
    )
    meta = build_index(spark, pages, out)
    assert meta.fields == [] and meta.field_params() is None
    eng = SearchEngine(spark, out, cache_postings=False)
    assert eng._fp is None and eng._fprefixes == []
    assert _hits(eng.search_terms(["apple"], k=5))


def test_attributes_to_search_on_restricts_matching(cold):
    # 'zebra' lives in 9000's TITLE and 9001's CONTENT
    title_only = _hits(cold.search_terms(["zebra"], k=5, attributes_to_search_on=["title"]))
    assert [u for u, _s, _m in title_only] == ["9000"]
    content_only = _hits(cold.search_terms(["zebra"], k=5, attributes_to_search_on=["content"]))
    assert [u for u, _s, _m in content_only] == ["9001"]
    # naming every field == no restriction
    both = _hits(cold.search_terms(["zebra"], k=5, attributes_to_search_on=FIELDS))
    assert both == _hits(cold.search_terms(["zebra"], k=5))


def test_attributes_to_search_on_restriction_is_scoped(cold):
    # after a restricted call the engine answers unrestricted again
    cold.search_terms(["zebra"], k=5, attributes_to_search_on=["title"]).collect()
    assert [u for u, _s, _m in _hits(cold.search_terms(["zebra"], k=5))] == ["9000", "9001"]


def test_attributes_to_search_on_warm_routes_to_compressed(warm, cold):
    got = _hits(warm.search_terms(["zebra"], k=5, attributes_to_search_on=["content"]))
    want = _hits(cold.search_terms(["zebra"], k=5, attributes_to_search_on=["content"]))
    assert got == want == [(u, s, m) for u, s, m in got if u == "9001"]


def test_attributes_to_search_on_validation(cold, spark, tmp_path, corpus):
    with pytest.raises(ValueError, match="unknown searchable"):
        cold.search_terms(["zebra"], attributes_to_search_on=["nope"])
    with pytest.raises(ValueError, match="at least one"):
        cold.search_terms(["zebra"], attributes_to_search_on=[])
    flat = str(tmp_path / "idx_flat")
    pages = spark.createDataFrame(
        [(r["url"], None, None, r["title"] + " " + r["content"], r["lang"]) for r in corpus],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    build_index(spark, pages, flat)
    with pytest.raises(ValueError, match="multi-attribute"):
        SearchEngine(spark, flat, cache_postings=False).search_terms(
            ["zebra"], attributes_to_search_on=["title"]
        )


def test_service_attributes_to_search_on(spark, fielded_index):
    from meilisearch_thai_spark.query.service import SearchService

    svc = SearchService(spark, fielded_index, cache_postings=False)
    r = svc.search("zebra", limit=5, attributes_to_search_on=["title"])
    assert [h.url for h in r.hits] == ["9000"]
    r2 = svc.search("zebra", limit=5)
    assert [h.url for h in r2.hits] == ["9000", "9001"]


@pytest.mark.parametrize("cache_postings", [True, False], ids=["warm", "cold"])
def test_search_on_is_per_request_under_concurrency(spark, fielded_index, monkeypatch, cache_postings):
    """attributesToSearchOn belongs to its request: an unrestricted
    search_page run while a restricted SearchService.search is held inside
    its planning step, on the same engine, gets its own serial answer, and
    so does the restricted search."""
    from meilisearch_thai_spark.query.service import SearchService

    svc = SearchService(spark, fielded_index, cache_postings=cache_postings)
    eng = svc.engine

    def restricted() -> list[str]:
        return [h.url for h in svc.search("zebra", limit=5, attributes_to_search_on=["title"]).hits]

    def unrestricted() -> list[str]:
        return [r["url"] for r in eng.search_page("zebra")]

    try:
        assert (restricted(), unrestricted()) == (["9000"], ["9000", "9001"])
        planning, release, holder, got = threading.Event(), threading.Event(), {}, {}
        planned = eng._ranked_rows

        def held(*args, **kwargs):
            if threading.get_ident() == holder["ident"]:
                planning.set()
                release.wait(120)
            return planned(*args, **kwargs)

        def client():
            holder["ident"] = threading.get_ident()
            got["restricted"] = restricted()

        monkeypatch.setattr(eng, "_ranked_rows", held)
        worker = threading.Thread(target=client)
        worker.start()
        try:
            assert planning.wait(120)
            got["unrestricted"] = unrestricted()
        finally:
            release.set()
            worker.join(120)
        assert not worker.is_alive()
        assert got == {"restricted": ["9000"], "unrestricted": ["9000", "9001"]}
    finally:
        eng._drop_warm()
        eng.postings.unpersist()
        eng.doc_stats.unpersist()


def test_term_dfs_respects_search_on_without_cache_pollution(cold):
    # 'zebra': title of 9000 only (df 1 per restriction), but content of
    # 9001 too unrestricted (df = max over fields)
    full = cold.term_dfs(["zebra"])["zebra"]
    title_df = cold.term_dfs(["zebra"], cold._search_on(["title"]))["zebra"]
    assert title_df == 1 and full >= 1
    # restricted lookups must not poison the shared memo cache
    assert cold.term_dfs(["zebra"])["zebra"] == full


_UNCUT_QUERIES = (["apple", "banana"], ["zebra"], ["mango", "olive", "fig"])


@pytest.mark.parametrize("search_on", [None, ["content"]])
@pytest.mark.parametrize("engine", ["warm", "cold"])
def test_uncut_routes_match_oracle(request, corpus, planner_routes, engine, search_on):
    """Sort, distinct and a search_after walk rank every matching doc
    (k=None): the warm statement over the tier, or — cold, or restricted by
    attributesToSearchOn — over the request's own decoded posting blocks.
    Both equal the BM25F oracle: the same order, scores within 1e-9."""
    from meilisearch_thai_spark.query.adhoc import SCORE_DECIMALS

    eng = request.getfixturevalue(engine)
    routes = planner_routes(eng)
    titles = {r["url"]: r["title"] for r in corpus}
    for q in _UNCUT_QUERIES:
        want = bm25f_oracle(corpus, q, [2.0, 1.0], search_on=search_on)
        if not want:
            continue
        # every hit has lang "en": the sort leaves relevance order
        got = eng.search_terms(
            q, k=50, sort=["lang:asc"], attributes_to_search_on=search_on
        ).collect()
        _assert_same_ranking([(r["url"], r["score"], r["terms_matched"]) for r in got], want[:50])
        # distinct title: each title's best doc, in relevance order
        best: dict[str, tuple] = {}
        for hit in want:
            best.setdefault(titles[hit[0]], hit)
        got = eng.search_terms(
            q, k=50, distinct="title", attributes_to_search_on=search_on
        ).collect()
        _assert_same_ranking(
            [(r["url"], r["score"], r["terms_matched"]) for r in got],
            sorted(best.values(), key=lambda h: (-h[1], h[0]))[:50],
        )
        # a cursor walk of 4-hit pages in (rounded score DESC, url) order
        walk, cursor = [], None
        while True:
            page = eng.search_after(
                q, cursor=cursor, k=4, attributes_to_search_on=search_on
            ).collect()
            if not page:
                break
            walk += [(r["url"], r["score"], r["terms_matched"]) for r in page]
            cursor = (page[-1]["score"], page[-1]["url"])
        rounded = sorted(
            ((u, round(s, SCORE_DECIMALS), m) for u, s, m in want), key=lambda h: (-h[1], h[0])
        )
        _assert_same_ranking(walk, rounded)
    expected = "warm" if engine == "warm" and search_on is None else "compressed"
    assert routes and set(routes) == {expected}


def _assert_same_ranking(got, want):
    assert [(u, m) for u, _s, m in got] == [(u, m) for u, _s, m in want]
    for (u, a, _), (_u, b, _m) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9), u
