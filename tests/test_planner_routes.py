"""Every scored request is planned by one serving planner.

Sort, distinct and cursor requests ask the planner for every matching doc
(``k=None``) and cut the page themselves.  On a warm engine that is the
warm statement without its LIMIT; on a ``cache_postings=False`` engine it
is the compressed posting decode.  Both must return the BM25 oracle's
page: the same doc order, scores within 1e-9 — plain, filtered, with a
negative keyword and with tombstones.
"""

from __future__ import annotations

import math
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index import maintenance
from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import QueryTerm, SearchEngine, ServeRequest
from meilisearch_thai_spark.query.federation import federated_search
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.sources.pages import generate_pages
from meilisearch_thai_spark.tokenizer import extract_index_terms, tokenize_for_index

N_DOCS = 300
K = 10
QUERY = "อาหารไทย"
GEO = (13.75, 100.5)
SORTS = [
    (["doc_len:asc"], lambda d: d["doc_len"]),
    (["doc_len:desc"], lambda d: -d["doc_len"]),
    ([f"_geoPoint({GEO[0]}, {GEO[1]}):asc"], lambda d: _haversine(*GEO, d["lat"], d["lng"])),
]


def _haversine(lat1, lng1, lat2, lng2):
    d = math.pi / 180.0
    p1, l1, p2, l2 = lat1 * d, lng1 * d, lat2 * d, lng2 * d
    h = math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin((l2 - l1) / 2) ** 2
    return 2 * 6371000.0 * math.asin(min(1.0, math.sqrt(h)))


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """(index dir, url → metadata row, oracle over the corpus)."""
    rid = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    pages = (
        generate_pages(spark, N_DOCS, seed=43)
        .withColumn("lat", F.pmod(rid * 37, F.lit(17000)).cast("double") / 100.0 - 85.0)
        .withColumn("lng", F.pmod(rid * 73, F.lit(35000)).cast("double") / 100.0 - 175.0)
        .withColumn("tag", F.when(rid % 3 == 0, F.lit("x")))
        .persist()
    )
    out = str(tmp_path_factory.mktemp("idx_planner") / "idx")
    build_index(spark, pages, out, stored_fields=["lat", "lng", "tag"])
    rows = {
        r["url"]: r.asDict()
        for r in pages.select("url", "text", "lang", "lat", "lng", "tag").collect()
    }
    pages.unpersist()
    oracle = BM25Oracle({u: d["text"] for u, d in rows.items()})
    ids = SearchEngine(spark, out, cache_postings=False).doc_stats.select("url", "doc_id").collect()
    for r in ids:
        rows[r["url"]]["doc_id"] = r["doc_id"]
        rows[r["url"]]["doc_len"] = oracle.doc_len[r["url"]]
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


def _exec_nodes(plan) -> list:
    """JVM nodes of an executed plan outside cached relations (AQE plans
    and query stages descended into; an InMemoryTableScan is a leaf)."""
    out, stack = [], [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        out.append(p)
        children = p.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _rare_negative(oracle, best, query):
    """A rare negative keyword: a word of ``best`` outside the query that
    tokenizes to itself."""
    qterms = set(extract_index_terms(tokenize_for_index(query)))
    for t, _tf in sorted(oracle.tf[best].items()):
        if t not in qterms and 1 <= oracle.df[t] <= 20 and extract_index_terms(tokenize_for_index(t)) == [t]:
            return t
    raise AssertionError(f"no rare word in {best}")


def _ranked(oracle, rows, allow, exclude=()):
    """Every doc the oracle matches for QUERY, relevance order, as
    (metadata row, score)."""
    hits = oracle.top_k(QUERY, k=len(rows), exclude_terms=list(exclude))
    return [(rows[u], s) for u, s in hits if allow(rows[u])]


def _assert_same(got, want, label):
    assert [u for u, _ in got] == [u for u, _ in want], label
    for (u, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9), (label, u)


def _pairs(rows):
    return [(r["url"], r["score"]) for r in rows]


def _check_requests(eng, ranked, label, query, exclude, filters):
    """Sort, distinct, a cursor walk and a sorted multi-variant page on
    ``eng`` against the oracle's ranking of the same allowed docs."""
    terms = extract_index_terms(tokenize_for_index(QUERY))
    plans = []
    for sort, key in SORTS:
        want = sorted(ranked, key=lambda h: (key(h[0]), -h[1], h[0]["doc_id"]))[:K]
        page = eng.search(query, k=K, sort=sort, filters=filters)
        plans.append(page)
        _assert_same(_pairs(page.collect()), [(d["url"], s) for d, s in want], (label, sort))
    seen, want = set(), []
    for d, s in sorted(ranked, key=lambda h: (-h[1], h[0]["doc_id"])):
        group = d["tag"] if d["tag"] is not None else ("doc", d["url"])
        if group not in seen:
            seen.add(group)
            want.append((d["url"], s))
    page = eng.search_terms(terms, k=K, distinct="tag", filters=filters, exclude_terms=exclude or None)
    plans.append(page)
    _assert_same(_pairs(page.collect()), want[:K], (label, "distinct"))
    if not exclude:  # a cursor walk takes no negative keywords
        walk, cursor = [], None
        while True:
            page = eng.search_after(terms, cursor=cursor, k=7, filters=filters)
            plans.append(page)
            got = page.collect()
            if not got:
                break
            walk.extend(_pairs(got))
            cursor = (got[-1]["score"], got[-1]["url"])
        want = sorted(((d["url"], round(s, 4)) for d, s in ranked), key=lambda h: (-h[1], h[0]))
        _assert_same(walk, want, (label, "search_after"))
    page = eng.multi_variant_search(query, k=K, sort=["doc_len:desc"], filters=filters)
    plans.append(page)
    return plans, page.collect()


@pytest.mark.parametrize("case", ["plain", "filter", "negative", "tombstone"])
def test_sort_distinct_cursor_agree_on_every_route(spark, corpus, tmp_path, planner_routes, case):
    out, rows, oracle = corpus
    allow, filters, exclude, query = (lambda d: True), None, [], QUERY
    if case == "filter":
        allow, filters = (lambda d: d["lang"] == "th"), {"lang": "th"}
    elif case == "negative":
        neg = _rare_negative(oracle, _ranked(oracle, rows, allow)[0][0]["url"], QUERY)
        exclude, query = [neg], f"{QUERY} -{neg}"
    elif case == "tombstone":
        live = str(tmp_path / "idx")
        shutil.copytree(out, live)
        victims = [d["url"] for d, _ in _ranked(oracle, rows, allow)[:2]]
        assert maintenance.delete_docs(spark, live, victims) == 2
        # tombstones leave the corpus-wide stats as built
        allow, out = (lambda d: d["url"] not in victims), live
    ranked = _ranked(oracle, rows, allow, exclude)
    assert len(ranked) > 2 * K
    warm, cold = _engines(spark, out)
    routes = {"warm": planner_routes(warm), "cold": planner_routes(cold)}
    pages = {}
    for name, eng in (("warm", warm), ("cold", cold)):
        plans, pages[name] = _check_requests(eng, ranked, (case, name), query, exclude, filters)
        if name == "warm":
            for plan in plans:
                names = [n.nodeName() for n in _exec_nodes(plan._jdf.queryExecution().executedPlan())]
                assert not [n for n in names if "InPandas" in n], (case, names)
    assert set(routes["warm"]) == {"warm"} and set(routes["cold"]) == {"compressed"}
    # the sorted multi-variant page: the same on both routes, in field order
    _assert_same(_pairs(pages["warm"]), _pairs(pages["cold"]), (case, "multi_variant_search"))
    lens = [rows[r["url"]]["doc_len"] for r in pages["warm"]]
    assert pages["warm"] and lens == sorted(lens, reverse=True)
    _drop(warm, cold)


def test_every_scored_entry_point_reaches_the_planner(spark, corpus, planner_routes):
    out, _rows, _oracle = corpus
    warm, cold = _engines(spark, out)
    terms = extract_index_terms(tokenize_for_index(QUERY))
    calls = {
        "search": lambda e: e.search(QUERY).collect(),
        "search_page": lambda e: e.search_page(QUERY),
        "search_terms": lambda e: e.search_terms(terms).collect(),
        "search_terms(sort)": lambda e: e.search_terms(terms, sort=["doc_len:asc"]).collect(),
        "search_terms(distinct)": lambda e: e.search_terms(terms, distinct="lang").collect(),
        "search_after": lambda e: e.search_after(terms).collect(),
        "search_prefix": lambda e: e.search_prefix("อาหา").collect(),
        "scored_topk": lambda e: e.scored_topk(terms).collect(),
        "multi_variant_search": lambda e: e.multi_variant_search(QUERY).collect(),
        "multi_variant_search(sort)": lambda e: e.multi_variant_search(QUERY, sort=["doc_len:asc"]).collect(),
        "multi_variant_page": lambda e: e.multi_variant_page(QUERY),
        "multi_variant_page(sort)": lambda e: e.multi_variant_page(QUERY, sort=["doc_len:asc"]),
        "batch_multi_variant_page": lambda e: e.batch_multi_variant_page([QUERY, "Startup"]),
        "federated_search": lambda e: federated_search({"a": e}, terms).collect(),
    }
    for eng in (warm, cold):
        routes = planner_routes(eng)
        for name, call in calls.items():
            routes.clear()
            assert call(eng), name
            assert routes, (name, eng._warm_enabled)
    _drop(warm, cold)


def test_sort_and_distinct_errors_run_no_spark_job(spark, corpus):
    """A bad sort or distinct field is a request error raised before the
    negative-keyword lookup and the 'frequency' df scan run any job."""
    out, _rows, _oracle = corpus
    warm = SearchEngine(spark, out)
    cold = SearchEngine(spark, out, cache_postings=False)
    sc = spark.sparkContext
    sc.setJobGroup("bad-sort-distinct", "request validation only")
    try:
        for eng in (warm, cold):
            with pytest.raises(ValueError, match="nope"):
                eng.search("อาหาร -ข่าว", sort=["nope:asc"])
            with pytest.raises(ValueError, match="nope"):
                eng.search_terms(["อาหาร", "ไทย"], matching="frequency", distinct="nope")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("bad-sort-distinct")) == []
    _drop(warm, cold)


def test_plan_cache_eviction_under_concurrent_inserts(spark, corpus, monkeypatch):
    """Eight threads insert distinct texts into one engine's plan cache of
    two entries: no thread fails, the cache stays bounded, and every
    answer equals serial execution."""
    out, _rows, oracle = corpus
    eng = SearchEngine(spark, out)
    eng.warm_postings()
    monkeypatch.setattr(eng, "_PLAN_CACHE_CAP", 2)
    words = sorted(t for t in oracle.df if extract_index_terms(tokenize_for_index(t)) == [t])[:32]
    assert len(words) == 32
    serial = {w: _pairs(eng.search_page(w, k=5)) for w in words}
    got, errors = {}, []

    def client(mine):
        try:
            for w in mine:
                for k in range(1, 6):  # parsed, not run: five more texts each
                    eng._ranked_topk(ServeRequest([QueryTerm(0, w)], k=k))
                got[w] = _pairs(eng.search_page(w, k=5))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(words[i::8],)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == serial
    assert len(eng._warm_binding()[1]) <= 2 + len(threads)
    _drop(eng)
