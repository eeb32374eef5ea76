"""Filtered search answers the same on every route.

A filtered request whose terms the warm tier holds runs as one SQL
statement whose scan semi-joins the filter's doc_stats ids; the compressed
route cogroups the posting blocks with the allowed ids.  For every filter
form both must return the BM25 oracle's top-k restricted to the allowed
docs: the same doc order, scores within 1e-9.  Filters restrict candidates
only — corpus-wide BM25 stats are unchanged — so the oracle scores the
whole corpus and the allowed set is applied to its ranking.
"""

from __future__ import annotations

import math
import shutil

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index import maintenance
from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import SearchEngine
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.sources.pages import generate_pages
from meilisearch_thai_spark.tokenizer import extract_index_terms, tokenize_for_index

N_DOCS = 300
K = 10
QUERIES = ["อาหารไทย", "Startup ไทย"]


def _haversine(lat1, lng1, lat2, lng2):
    d = math.pi / 180.0
    p1, l1, p2, l2 = lat1 * d, lng1 * d, lat2 * d, lng2 * d
    h = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
    return 2 * 6371000.0 * math.asin(min(1.0, math.sqrt(h)))


# each filter form with its Python twin over a doc's metadata row
FILTERS = [
    ({"lang": "th"}, lambda d: d["lang"] == "th"),
    ({"lang": {"$in": ["th", "en"]}}, lambda d: d["lang"] in ("th", "en")),
    ({"lang": {"$ne": "th"}}, lambda d: d["lang"] is not None and d["lang"] != "th"),
    ({"doc_len": {"$gte": 30, "$lt": 60}}, lambda d: 30 <= d["doc_len"] < 60),
    ({"tag": {"$exists": True}}, lambda d: d["tag"] is not None),
    (
        {"_geo": {"$radius": [-20.0, -40.0, 2_500_000.0]}},
        lambda d: _haversine(-20.0, -40.0, d["lat"], d["lng"]) <= 2_500_000.0,
    ),
    (
        {"_geo": {"$boundingBox": [[40.0, 120.0], [-30.0, 20.0]]}},
        lambda d: -30.0 <= d["lat"] <= 40.0 and 20.0 <= d["lng"] <= 120.0,
    ),
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """(index dir, url → metadata row with text, oracle over the corpus)."""
    rid = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    pages = (
        generate_pages(spark, N_DOCS, seed=41)
        .withColumn("lat", F.pmod(rid * 37, F.lit(17000)).cast("double") / 100.0 - 85.0)
        .withColumn("lng", F.pmod(rid * 73, F.lit(35000)).cast("double") / 100.0 - 175.0)
        .withColumn("tag", F.when(rid % 3 == 0, F.lit("x")))
        .persist()
    )
    out = str(tmp_path_factory.mktemp("idx_filtered") / "idx")
    build_index(spark, pages, out, stored_fields=["lat", "lng", "tag"])
    rows = {
        r["url"]: r.asDict()
        for r in pages.select("url", "text", "lang", "lat", "lng", "tag").collect()
    }
    pages.unpersist()
    oracle = BM25Oracle({u: d["text"] for u, d in rows.items()})
    for u, d in rows.items():
        d["doc_len"] = oracle.doc_len[u]
    return out, rows, oracle


def _engines(spark, out):
    warm, cold = SearchEngine(spark, out), SearchEngine(spark, out, cache_postings=False)
    warm.warm_postings()
    return warm, cold


def _drop(*engines):
    for e in engines:
        if e._bucket_partitioned:
            e.postings.unpersist()
            e.doc_stats.unpersist()
        if e._warm is not None:
            e._warm.unpersist()


def _cogroup_calls(monkeypatch, eng) -> list:
    """Record every call of the compressed filtered route on ``eng``."""
    calls, route = [], eng.score_variants_topk_filtered

    def spy(*args, **kwargs):
        calls.append(1)
        return route(*args, **kwargs)

    monkeypatch.setattr(eng, "score_variants_topk_filtered", spy)
    return calls


def _oracle_page(oracle, rows, query, allow, exclude=()):
    hits = oracle.top_k(query, k=len(rows), exclude_terms=list(exclude))
    return [(u, s) for u, s in hits if allow(rows[u])][:K]


def _assert_same(got, want, label):
    assert [u for u, _ in got] == [u for u, _ in want], label
    for (u, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9), (label, u)


def _page(eng, query, filters):
    return [(r["url"], r["score"]) for r in eng.search_page(query, k=K, filters=filters)]


def test_metadata_twin_matches_the_index(spark, corpus):
    """The Python filter twins read doc_len from the oracle; the index
    must store the same lengths."""
    out, rows, _oracle = corpus
    eng = SearchEngine(spark, out, cache_postings=False)
    stored = {r["url"]: r["doc_len"] for r in eng.doc_stats.select("url", "doc_len").collect()}
    assert stored == {u: d["doc_len"] for u, d in rows.items()}


def test_every_filter_form_agrees_on_both_routes(spark, corpus, monkeypatch):
    out, rows, oracle = corpus
    warm, cold = _engines(spark, out)
    warm_cogroups = _cogroup_calls(monkeypatch, warm)
    cold_cogroups = _cogroup_calls(monkeypatch, cold)
    matched = 0
    for filters, allow in FILTERS:
        assert any(allow(d) for d in rows.values()) and not all(allow(d) for d in rows.values())
        for q in QUERIES:
            want = _oracle_page(oracle, rows, q, allow)
            matched += len(want)
            _assert_same(_page(warm, q, filters), want, ("warm", filters, q))
            _assert_same(_page(cold, q, filters), want, ("cogroup", filters, q))
        # full variant fan-out: the two routes rank the same page
        w = warm.multi_variant_page(QUERIES[1], k=K, filters=filters)
        c = cold.multi_variant_page(QUERIES[1], k=K, filters=filters)
        _assert_same(
            [(r["url"], r["score"]) for r in w], [(r["url"], r["score"]) for r in c],
            ("multi-variant", filters),
        )
        assert {r["url"] for r in w} <= {u for u, d in rows.items() if allow(d)}
    assert matched > 3 * len(FILTERS)
    assert warm_cogroups == []
    assert len(cold_cogroups) == len(FILTERS) * (len(QUERIES) + 1)
    _drop(warm, cold)


def _negative(oracle, rows, query, allow, words):
    """A negative keyword for ``query``'s filtered page: the first of
    ``words`` outside the query that tokenizes to itself and changes the
    page without emptying it."""
    qterms = set(extract_index_terms(tokenize_for_index(query)))
    plain = _oracle_page(oracle, rows, query, allow)
    for t in words:
        if t in qterms or extract_index_terms(tokenize_for_index(t)) != [t]:
            continue
        page = _oracle_page(oracle, rows, query, allow, exclude=[t])
        if page and page != plain:
            return t
    raise AssertionError("no negative keyword changes the page")


def test_filtered_routes_with_negative_keywords(spark, corpus, monkeypatch):
    """A rare and a high-df negative keyword both ride the warm statement
    as an anti-join, beside the filter's semi-join: no cogroup on the warm
    engine, nor on the cold one, which ranks them on the exact route.
    Both answer like the oracle."""
    out, rows, oracle = corpus
    warm, cold = _engines(spark, out)
    filters, allow = FILTERS[0]
    q = QUERIES[0]
    by_df = sorted(oracle.df, key=lambda t: (oracle.df[t], t))
    best = _oracle_page(oracle, rows, q, allow)[0][0]
    rare = _negative(oracle, rows, q, allow, [t for t in by_df if oracle.tf[best].get(t, 0)])
    high = _negative(oracle, rows, q, allow, reversed(by_df))
    assert oracle.df[rare] <= 20 and oracle.df[high] >= N_DOCS // 3
    warm_cogroups = _cogroup_calls(monkeypatch, warm)
    cold_cogroups = _cogroup_calls(monkeypatch, cold)
    for neg in (rare, high):
        want = _oracle_page(oracle, rows, q, allow, exclude=[neg])
        for eng in (warm, cold):
            _assert_same(_page(eng, f"{q} -{neg}", filters), want, (neg, eng._warm_enabled))
    assert warm_cogroups == [] and cold_cogroups == []
    _drop(warm, cold)


def test_filtered_routes_with_tombstones(spark, corpus, tmp_path):
    out, rows, oracle = corpus
    filters, allow = FILTERS[0]
    q = QUERIES[0]
    live = str(tmp_path / "idx")
    shutil.copytree(out, live)
    victims = [u for u, _ in _oracle_page(oracle, rows, q, allow)[:2]]
    assert maintenance.delete_docs(spark, live, victims) == 2
    warm, cold = _engines(spark, live)
    # tombstones leave the corpus-wide stats as built
    want = _oracle_page(oracle, rows, q, lambda d: allow(d) and d["url"] not in victims)
    for eng in (warm, cold):
        _assert_same(_page(eng, q, filters), want, ("tombstones", eng._warm_enabled))
    _drop(warm, cold)


def test_undeclared_filter_field_raises_before_any_spark_job(spark, corpus, tmp_path):
    from meilisearch_thai_spark.index.settings import update_filterable_attributes
    from meilisearch_thai_spark.query.service import SearchService

    out = str(tmp_path / "idx")
    shutil.copytree(corpus[0], out)
    update_filterable_attributes(out, ["lang"])
    svc = SearchService(spark, out)
    cold = SearchEngine(spark, out, cache_postings=False)
    bad = {"tag": {"$exists": True}}
    sc = spark.sparkContext
    sc.setJobGroup("undeclared-filter", "request validation only")
    try:
        for call in (
            lambda: svc.search(QUERIES[1], filters=bad),
            lambda: svc.engine.search_page(QUERIES[1], filters=bad),
            lambda: cold.search_page(QUERIES[1], filters=bad),
            lambda: cold.multi_variant_page(QUERIES[1], filters=bad),
        ):
            with pytest.raises(ValueError, match="not declared"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("undeclared-filter")) == []
    # a declared field still serves
    assert svc.search(QUERIES[0], filters={"lang": "th"}).hits
    _drop(svc.engine, cold)
