"""Warm pages answered from rows kept in the plan cache.

An eager top-k page on a warm engine keeps the rows it collected beside
its parsed Dataset, in the warm binding's plan cache, keyed by the
statement text.  A repeat returns them: no Spark job and no Py4J round
trip.  The entries die with the binding, so after every mutation path
that rebinds the tier — ``refresh_index``, ``refresh_deletes`` after a
delete, ``update_dictionary`` and ``reprocess_documents`` — the next
repeat runs on the new tier.  The rows held per binding stay under
``_RESULT_ROWS_CAP``.

A repeated ``SearchService.search`` also skips the driver work before the
page finishing: the page's hits are kept resolved to their stored columns
(no doc-store read), and the processed query and the engine's prepared
request are memoized per binding (no Q1-Q8 pipeline, no typo expansion).
The memo follows every rebind and the process-wide dictionary, and stays
correct under threads at a cap of two entries.

Also here: the eager step and ``term_dfs`` run no Spark job for words the
index does not hold, once the driver vocabulary is complete.
"""

from __future__ import annotations

import datetime
import itertools
import sys
import threading
from contextlib import contextmanager

import pytest
from test_plan_properties import _py4j_calls

from meilisearch_thai_spark import dictionary as D
from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.index.maintenance import delete_docs, swap_indexes
from meilisearch_thai_spark.index.settings import update_dictionary
from meilisearch_thai_spark.query import service as service_mod
from meilisearch_thai_spark.query.executor import SearchEngine
from meilisearch_thai_spark.query.oracle import BM25Oracle
from meilisearch_thai_spark.query.service import SearchService
from meilisearch_thai_spark.sources.pages import generate_pages
from meilisearch_thai_spark.streaming.ingest import add_documents

N_DOCS = 300
QUERY = "เทคโนโลยี อาหาร"
# its second word is no index word, so a first search runs the typo scan
OOV_QUERY = "เทคโนโลยี ตลาดหลักทรัพย์"
_GROUPS = itertools.count()


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_result_cache") / "idx")
    pages = generate_pages(spark, N_DOCS, seed=51)
    build_index(spark, pages, out)
    return out, {r["url"]: r["text"] for r in pages.select("url", "text").collect()}


@contextmanager
def _jobs(sc):
    """The ids of the Spark jobs run inside the block."""
    group, ids = f"result-cache-{next(_GROUPS)}", []
    sc.setJobGroup(group, "result cache test")
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _hits(resp):
    return [(h.url, h.score, h.variant_type) for h in resp.hits]


def _page(rows):
    return [(r["url"], r["score"]) for r in rows]


def _assert_same(got, want, why=None):
    """The same urls in the same order, scores within 1e-9."""
    assert [u for u, _ in got] == [u for u, _ in want], why
    assert [s for _, s in got] == pytest.approx([s for _, s in want], abs=1e-9), why


def _drop(*engines):
    for eng in engines:
        if eng._bucket_partitioned:
            eng.postings.unpersist()
            eng.doc_stats.unpersist()
        if eng._warm is not None:
            eng._warm.unpersist()


def _counts(eng):
    rep = eng._cache_report()
    return rep["plan_cache_misses"], rep["plan_cache_hits"], rep["result_cache_hits"]


def test_repeated_search_runs_no_job_and_no_py4j_call(spark, idx):
    """A repeated SearchService.search — plain, filtered, with a negative
    keyword — makes no Py4J round trip, runs no Spark job and returns the
    hits of its first run."""
    svc = SearchService(spark, idx[0])
    svc.engine.warm_postings()
    svc.search("ปัญญาประดิษฐ์")  # first search: vocabulary, typo settings
    for query, filters in ((QUERY, None), (QUERY, {"lang": "th"}), (f"{QUERY} -ข่าว", None)):
        first = _hits(svc.search(query, filters=filters))
        assert first, (query, filters)
        with _jobs(spark.sparkContext) as jobs, _py4j_calls(spark) as calls:
            again = _hits(svc.search(query, filters=filters))
        assert calls == [], (query, filters, calls[:3])
        assert jobs == [], (query, filters)
        assert again == first, (query, filters)
    _drop(svc.engine)


def test_counters_read_miss_then_result_hit_then_miss_after_refresh(spark, idx):
    """The engine counts each warm serving case: a first page is a miss,
    its repeat a result hit, the lazy API over the same statement a plan
    hit, and after refresh_index the page is a miss again (the binding
    and its kept rows are gone).  The rows held are reported beside
    ``cached_bytes_actual``."""
    eng = SearchEngine(spark, idx[0])
    assert _counts(eng) == (0, 0, 0)
    page = _page(eng.search_page(QUERY, k=5))
    assert _counts(eng) == (1, 0, 0)
    assert _page(eng.search_page(QUERY, k=5)) == page
    assert _counts(eng) == (1, 0, 1)
    assert _page(eng.search(QUERY, k=5).collect()) == page
    assert _counts(eng) == (1, 1, 1)
    rep = eng.warm_memory_report()
    assert rep["result_rows_held"] == 5 and rep["result_rows_cap"] == eng._RESULT_ROWS_CAP
    assert rep["cached_bytes_actual"] > 0
    eng.refresh_index()
    assert eng._cache_report()["result_rows_held"] == 0
    assert _page(eng.search_page(QUERY, k=5)) == page
    assert _counts(eng) == (2, 1, 1)
    _drop(eng)


def test_requests_differing_in_one_input_never_share_an_entry(spark, idx):
    """``k``, threshold, normalisation and filter each change the
    statement text, so each request keeps its own rows: every repeat
    equals its own first run, the lazy API over the same statement, and
    a ``cache_postings=False`` engine's page."""
    eng = SearchEngine(spark, idx[0])
    cold = SearchEngine(spark, idx[0], cache_postings=False)
    base = eng.multi_variant_page(QUERY, k=5)
    cut = sorted(r["score"] for r in base)[len(base) // 2]
    requests = {
        "k=3": dict(k=3),
        "k=5": dict(k=5),
        "threshold": dict(k=5, min_score_threshold=cut),
        "normalize": dict(k=5, normalize=True),
        "filter": dict(k=5, filters={"lang": "th"}),
    }
    first = {name: _page(eng.multi_variant_page(QUERY, **kw)) for name, kw in requests.items()}
    plans = eng._warm_binding()[1]
    assert len(plans) == len(requests)
    for name, kw in requests.items():
        assert _page(eng.multi_variant_page(QUERY, **kw)) == first[name], name
        assert _page(eng.multi_variant_search(QUERY, **kw).collect()) == first[name], name
        _assert_same(first[name], _page(cold.multi_variant_page(QUERY, **kw)), name)
    assert len(plans) == len(requests)
    assert first["k=3"] == first["k=5"][:3]
    assert 0 < len(first["threshold"]) < len(first["k=5"])
    assert max(s for _u, s in first["normalize"]) == pytest.approx(1.0)
    assert first["filter"] != first["k=5"]
    _drop(eng)


def test_concurrent_repeats_stay_under_the_rows_ceiling(spark, idx, monkeypatch):
    """Eight threads repeat queries against a ceiling of three pages'
    rows: every answer equals serial execution, and the rows held never
    pass the ceiling."""
    words = ["ปัญญาประดิษฐ์", "การเรียนรู้", "อาหารไทย", "เทคโนโลยี", "รถยนต์ไฟฟ้า",
             "โรงเรียน", "ข่าว", "ตลาด"]
    eng = SearchEngine(spark, idx[0])
    serial = {w: _page(eng.search_page(w, k=5)) for w in words}
    assert all(serial.values())
    eng.refresh_index()
    eng.warm_postings()  # built once, before the threads
    monkeypatch.setattr(eng, "_RESULT_ROWS_CAP", 15)
    held, errors, got = [], [], {i: [] for i in range(8)}

    def client(i):
        try:
            for w in (words[i:] + words[:i]) * 2:
                got[i].append((w, _page(eng.search_page(w, k=5))))
                held.append(eng._cache_report()["result_rows_held"])
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
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
    assert all(page == serial[w] for pages in got.values() for w, page in pages)
    assert held and max(held) <= 15
    assert eng._cache_report()["result_cache_hits"] > 0
    _drop(eng)


def test_repeat_follows_deletes_and_a_rebuilt_index(spark, tmp_path):
    """After delete_documents, refresh_deletes after delete_docs, and
    refresh_index over a rebuilt directory, the repeated request answers
    from the new state: the same as a fresh engine, never a kept row."""
    live, nxt = str(tmp_path / "live"), str(tmp_path / "next")
    build_index(spark, generate_pages(spark, N_DOCS, seed=52), live)
    pages = generate_pages(spark, N_DOCS, seed=53)
    build_index(spark, pages, nxt)
    svc = SearchService(spark, live)
    eng = svc.engine
    for _ in range(2):
        before = _hits(svc.search(QUERY))
    victim = before[0][0]
    assert svc.delete_documents(urls=[victim]) == 1
    after = _hits(svc.search(QUERY))
    assert victim not in {u for u, _s, _v in after}

    page = _page(eng.search_page(QUERY, k=10))
    victim = page[0][0]
    assert delete_docs(spark, live, [victim]) == 1
    assert _page(eng.search_page(QUERY, k=10)) == page  # deletes unseen until refreshed
    assert eng.refresh_deletes() == 2
    assert victim not in {u for u, _s in _page(eng.search_page(QUERY, k=10))}

    swap_indexes(live, nxt)
    eng.refresh_index()
    corpus = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    _assert_same(_page(eng.search_page(QUERY, k=10)), BM25Oracle(corpus).top_k(QUERY, k=10))
    fresh = SearchService(spark, live)
    assert _hits(svc.search(QUERY)) == _hits(fresh.search(QUERY))
    _drop(eng, fresh.engine)


def test_repeat_follows_dictionary_update_and_reprocess(spark, tmp_path):
    """update_dictionary and reprocess_documents rebind the live engine:
    the next repeat is a miss on the new tier, not a kept row, and
    equals a fresh service's answer."""
    word = "ควอนตัมคอมพิวเตอร์"
    ts = datetime.datetime(2026, 1, 1)
    texts = [f"งานวิจัย{word}ล่าสุด", f"ข่าว{word}ประจำวัน", "ร้านอาหารไทยอร่อยมาก", "คอมพิวเตอร์ราคาถูก"]
    docs = spark.createDataFrame(
        [(f"https://ex.com/{i}", t, "th", ts, None) for i, t in enumerate(texts)],
        "url string, text string, lang string, warc_ts timestamp, html binary",
    )
    out = str(tmp_path / "idx")
    D.set_custom_words([])
    try:
        add_documents(spark, docs, out, n_shards=2)
        svc = SearchService(spark, out)
        q = "คอมพิวเตอร์"
        for _ in range(2):
            before = _hits(svc.search(q))
        assert {u for u, _s, _v in before} == {f"https://ex.com/{i}" for i in (0, 1, 3)}
        misses = _counts(svc.engine)[0]
        svc.update_dictionary(add=[word])
        assert _hits(svc.search(q)) == before  # postings predate the word
        assert _counts(svc.engine)[0] == misses + 1
        svc.reprocess_documents(docs.filter(docs.text.contains(word)))
        after = _hits(svc.search(q))
        assert _counts(svc.engine)[0] == misses + 2
        assert after != before
        fresh = SearchService(spark, out)
        assert _hits(fresh.search(q)) == after
        assert {u for u, _s, _v in _hits(svc.search(word))} == {"https://ex.com/0", "https://ex.com/1"}
        _drop(svc.engine, fresh.engine)
    finally:
        D.set_custom_words([])


def test_request_without_an_index_word_runs_no_job(spark, idx):
    """With a complete driver vocabulary, a request none of whose words
    the index holds returns the empty page before planning: no Spark job,
    filtered or not, on the service and the engine."""
    svc = SearchService(spark, idx[0])
    svc.search("ปัญญาประดิษฐ์")  # collects the vocabulary
    eng = svc.engine
    assert eng._vocab_complete()
    for filters in (None, {"lang": "th"}):
        with _jobs(spark.sparkContext) as jobs:
            assert svc.search("qqqqqqqqqq", filters=filters).hits == []
            assert eng.search_page("zzqxzzqx", filters=filters) == []
        assert jobs == [], filters
    _drop(eng)


def test_term_dfs_runs_no_scan_for_unseen_words(spark, idx):
    """Single Latin letters the index does not hold (the char-fallback
    variant's words) get df 0 from a complete vocabulary with no job,
    and the same dfs as the postings scan an engine without a collected
    vocabulary runs."""
    eng = SearchEngine(spark, idx[0], cache_postings=False)
    vocab = set(eng.vocabulary())
    assert eng._vocab_complete()
    letters = [c for c in "qxzjv" if c not in vocab][:3]
    assert letters
    terms = [*letters, "เทคโนโลยี", "อาหาร"]
    with _jobs(spark.sparkContext) as jobs:
        dfs = eng.term_dfs(terms)
    assert jobs == []
    scanned = SearchEngine(spark, idx[0], cache_postings=False).term_dfs(terms)
    assert dfs == scanned
    assert all(dfs[c] == 0 for c in letters) and dfs["อาหาร"] > 0


def _spy(monkeypatch, owner, name, calls):
    """Count the calls of ``owner.name`` into ``calls[name]``."""
    original = getattr(owner, name)
    calls[name] = 0

    def counted(*args, **kwargs):
        calls[name] += 1
        return original(*args, **kwargs)

    monkeypatch.setattr(owner, name, counted)


def test_repeat_skips_analysis_expansion_and_doc_store(spark, idx, monkeypatch):
    """A repeat of a query with an out-of-vocabulary word calls neither
    the Q1-Q8 pipeline nor the typo scan nor the doc store, runs no Spark
    job and makes no Py4J call — and answers as its first run did."""
    svc = SearchService(spark, idx[0])
    eng = svc.engine
    svc.search("ปัญญาประดิษฐ์")  # first search: vocabulary, typo settings
    calls: dict[str, int] = {}
    _spy(monkeypatch, service_mod, "process_query", calls)
    _spy(monkeypatch, eng, "expand_terms_fuzzy", calls)
    _spy(monkeypatch, eng, "_doc_store", calls)
    first = svc.search(OOV_QUERY)
    assert first.hits and calls["process_query"] == 1
    assert calls["expand_terms_fuzzy"] > 0 and calls["_doc_store"] == 1
    for key in calls:
        calls[key] = 0
    with _jobs(spark.sparkContext) as jobs, _py4j_calls(spark) as py4j:
        again = svc.search(OOV_QUERY)
    assert calls == {"process_query": 0, "expand_terms_fuzzy": 0, "_doc_store": 0}
    assert py4j == [] and jobs == []
    assert _hits(again) == _hits(first)
    assert again.query_info == first.query_info
    assert len(svc.events) == 3  # the page finishing records every request
    _drop(eng)


def test_memo_follows_every_rebind(spark, tmp_path):
    """After refresh_index, delete_docs + refresh_deletes, update_dictionary
    and reprocess_documents the memo is empty, and the next search and
    its repeat equal a fresh service's answer."""
    word = "ควอนตัมคอมพิวเตอร์"
    ts = datetime.datetime(2026, 1, 1)
    texts = [f"งานวิจัย{word}ล่าสุด", f"ข่าว{word}ประจำวัน", "ร้านคอมพิวเตอร์ราคาถูก",
             "คอมพิวเตอร์ราคาถูก", "ร้านอาหารไทยอร่อยมาก"]
    docs = spark.createDataFrame(
        [(f"https://ex.com/{i}", t, "th", ts, None) for i, t in enumerate(texts)],
        "url string, text string, lang string, warc_ts timestamp, html binary",
    )
    out = str(tmp_path / "idx")
    q = f"{word} ราคาถูก"
    D.set_custom_words([])
    try:
        add_documents(spark, docs, out, n_shards=2)
        svc = SearchService(spark, out)
        eng = svc.engine
        for _ in range(2):
            svc.search(q)
        assert eng._cache_report()["request_memo_entries"] > 0

        def check(why):
            assert eng._cache_report()["request_memo_entries"] == 0, why
            got = _hits(svc.search(q))
            fresh = SearchService(spark, out)
            assert got == _hits(fresh.search(q)), why
            assert _hits(svc.search(q)) == got, why
            _drop(fresh.engine)
            return got

        eng.refresh_index()
        check("refresh_index")
        assert delete_docs(spark, out, ["https://ex.com/2"]) == 1
        eng.refresh_deletes()
        assert "https://ex.com/2" not in {u for u, _s, _v in check("refresh_deletes")}
        svc.update_dictionary(add=[word])
        before = check("update_dictionary")
        svc.reprocess_documents(docs.filter(docs.text.contains(word)))
        assert check("reprocess_documents") != before
        _drop(eng)
    finally:
        D.set_custom_words([])


def test_memo_follows_the_process_dictionary(spark, idx, tmp_path):
    """The custom dictionary is process-wide, last-loaded index wins: a
    second engine whose index carries another custom dictionary, loaded
    between two repeats, changes the repeat's tokenization to the one a
    fresh pipeline pass gives — never the memoized one."""
    from meilisearch_thai_spark.query.pipeline import process_query

    word = "ควอนตัมคอมพิวเตอร์"
    other = str(tmp_path / "other")
    docs = spark.createDataFrame(
        [("https://o.ex/0", f"งานวิจัย{word}", "th", datetime.datetime(2026, 1, 1), None)],
        "url string, text string, lang string, warc_ts timestamp, html binary",
    )
    D.set_custom_words([])
    try:
        add_documents(spark, docs, other, n_shards=1)
        update_dictionary(other, add=[word], apply_runtime=False)
        svc = SearchService(spark, idx[0])

        def terms():
            info = svc.search(word, include_tokenization_info=True).query_info
            return [v["terms"] for v in info["tokenization_info"]["variants"]]

        def fresh_terms():
            return [v.terms for v in process_query(word, synonyms=svc.engine._synonyms or None).variants]

        first = terms()
        assert terms() == first == fresh_terms()
        second = SearchEngine(spark, other, cache_postings=False)
        assert D.get_custom_dictionary() == [word]
        now = terms()
        assert now == fresh_terms() and now != first
        assert [word] in now
        _drop(svc.engine, second)
    finally:
        D.set_custom_words([])


def test_mutating_a_returned_hit_leaves_the_repeat_alone(spark, idx):
    """Callers get copies of the kept hits: changing a returned row, or a
    returned Hit, does not change what the next repeat returns."""
    svc = SearchService(spark, idx[0])
    eng = svc.engine
    page = eng.search_page(QUERY, k=5, attributes_to_retrieve=["lang"])
    want = [dict(r) for r in page]
    for r in page:
        r["url"], r["score"], r["lang"] = "mutated", -1.0, "xx"
        r["extra"] = [1]
    assert eng.search_page(QUERY, k=5, attributes_to_retrieve=["lang"]) == want
    first = svc.search(QUERY, attributes_to_retrieve=["lang"])
    want_hits = [(h.url, h.score, dict(h.attributes)) for h in first.hits]
    for h in first.hits:
        h.url, h.score = "mutated", -1.0
        h.attributes["lang"] = "xx"
    again = svc.search(QUERY, attributes_to_retrieve=["lang"])
    assert [(h.url, h.score, dict(h.attributes)) for h in again.hits] == want_hits
    _drop(eng)


def test_concurrent_repeats_over_a_memo_of_two(spark, idx, monkeypatch):
    """Eight threads repeat service searches, out-of-vocabulary words
    included, against a memo (and plan cache) of two entries: every answer
    equals serial execution, and the memo never holds more than two."""
    queries = [QUERY, OOV_QUERY, "ปัญญาประดิษฐ์", "อาหารไทย", f"{QUERY} -ข่าว"]
    serial_svc = SearchService(spark, idx[0])
    serial = {q: _hits(serial_svc.search(q)) for q in queries}
    assert all(serial.values())
    _drop(serial_svc.engine)
    svc = SearchService(spark, idx[0])
    eng = svc.engine
    svc.search("ปัญญาประดิษฐ์")  # the tier and vocabulary, before the threads
    monkeypatch.setattr(eng, "_PLAN_CACHE_CAP", 2)
    held, errors, got = [], [], {i: [] for i in range(8)}

    def client(i):
        try:
            for q in (queries[i % 5:] + queries[: i % 5]) * 2:
                got[i].append((q, _hits(svc.search(q))))
                held.append(eng._cache_report()["request_memo_entries"])
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
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
    assert all(hits == serial[q] for pages in got.values() for q, hits in pages)
    assert held and max(held) <= 2
    rep = eng._cache_report()
    assert rep["request_memo_hits"] > 0 and rep["request_memo_misses"] > 0
    _drop(eng)
