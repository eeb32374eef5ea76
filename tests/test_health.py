"""Health/readiness probes + config hot-reload status (reference
health.py:21-270, config_management.py:255-337): report shape, staleness
flip on a settings update, reload clearing it, and the documents-stale
signal a dictionary update leaves until reprocess."""

from __future__ import annotations

import os

import pytest

from meilisearch_thai_spark import dictionary as D
from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.index.health import (
    health_report,
    reload_status,
    trigger_reload,
)
from meilisearch_thai_spark.index.settings import update_dictionary, update_synonyms
from meilisearch_thai_spark.query.executor import SearchEngine
from meilisearch_thai_spark.sources.pages import generate_pages


@pytest.fixture(autouse=True)
def _clean_overlay():
    D.set_custom_words([])
    yield
    D.set_custom_words([])


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("healthroot"))
    pages = generate_pages(spark, 60, seed=11)
    build_index(spark, pages, os.path.join(root, "idx1"))
    return root


def test_report_shape_and_available(spark, root):
    eng = SearchEngine(spark, os.path.join(root, "idx1"))
    rep = health_report(spark, root, engines={"idx1": eng})
    assert rep["status"] == "available"
    assert rep["spark"]["alive"] and rep["spark"]["application_id"]
    assert [i["uid"] for i in rep["indexes"]] == ["idx1"]
    assert rep["indexes"][0]["state"] == "available"
    assert rep["unavailable_indexes"] == []
    assert rep["engines"]["idx1"]["reload"]["stale"] is False
    assert "memory" in rep["engines"]["idx1"]
    assert rep["stats"] == {}  # no Spark jobs unless asked


def test_with_stats_runs_index_stats(spark, root):
    rep = health_report(spark, root, with_stats=True)
    assert rep["stats"]["idx1"]["numberOfDocuments"] == 60


def test_settings_update_flips_staleness_and_reload_clears_it(spark, root):
    idx = os.path.join(root, "idx1")
    eng = SearchEngine(spark, idx)
    assert reload_status(eng)["stale"] is False

    update_synonyms(idx, {"laptop": ["notebook"]})
    rs = reload_status(eng)
    assert rs["stale"] is True
    assert "synonyms_fingerprint" in rs["drifted_settings"]
    # composite probe degrades on a stale engine
    assert health_report(spark, root, engines={"idx1": eng})["status"] == "degraded"

    rs2 = trigger_reload(eng)
    assert rs2["stale"] is False
    assert health_report(spark, root, engines={"idx1": eng})["status"] == "available"


def test_dictionary_update_reports_documents_stale(spark, root):
    idx = os.path.join(root, "idx1")
    eng = SearchEngine(spark, idx)
    update_dictionary(idx, add=["ควอนตัมคอมพิวเตอร์"])
    rs = reload_status(eng)
    assert rs["stale"] is True and "custom_dictionary" in rs["drifted_settings"]
    # reload picks up the query-side setting, but the postings were built
    # with the old dictionary — documents_stale persists until reprocess
    rs2 = trigger_reload(eng)
    assert rs2["stale"] is False
    assert rs2["documents_stale"] is True
    update_dictionary(idx, remove=["ควอนตัมคอมพิวเตอร์"])
    eng.refresh_index()
    assert reload_status(eng)["documents_stale"] is False


def test_degraded_on_unservable_index(spark, root, tmp_path):
    import shutil

    root2 = str(tmp_path / "r2")
    os.makedirs(root2)
    shutil.copytree(os.path.join(root, "idx1"), os.path.join(root2, "idxA"))
    # a corrupt meta is an unservable lifecycle state
    with open(os.path.join(root2, "idxA", "meta.json"), "w") as fh:
        fh.write("{not json")
    rep = health_report(spark, root2)
    assert rep["status"] == "degraded"
    assert rep["unavailable_indexes"] == ["idxA"]


def test_service_level_dictionary_and_health(spark, tmp_path):
    """Service facade composes the round-5 surfaces the way the reference
    endpoints do: update_dictionary hot-applies to the live engine,
    health()/reload_status() report scoped status, reprocess closes the
    documents-stale gap."""
    import datetime

    from meilisearch_thai_spark.query.service import SearchService
    from meilisearch_thai_spark.streaming.ingest import add_documents
    from meilisearch_thai_spark.tokenizer import tokenize_for_index

    WORD = "ควอนตัมคอมพิวเตอร์"
    ts = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://s.ex/1", f"งานวิจัย{WORD}ล่าสุด", "th", ts, None),
            ("https://s.ex/2", "ร้านอาหารไทย", "th", ts, None),
        ],
        "url string, text string, lang string, warc_ts timestamp, html binary",
    )
    idx = str(tmp_path / "svcidx")
    add_documents(spark, pages, idx, n_shards=2)
    svc = SearchService(spark, idx)
    assert svc.health()["status"] == "available"
    assert svc.get_custom_dictionary() == []

    rep = svc.update_dictionary(add=[WORD])
    assert rep["custom_dictionary"] == [WORD]
    assert rep["documents_stale"] is True  # postings predate the word
    assert tokenize_for_index(WORD) == [WORD]  # hot-applied
    assert svc.reload_status()["stale"] is False  # update_dictionary refreshed
    assert svc.health()["status"] == "available"

    out = svc.reprocess_documents(pages.filter(pages.text.contains(WORD)))
    assert out["numberOfDocuments"] == 2
    assert svc.reload_status()["documents_stale"] is False
    r = svc.search(WORD, limit=5)
    assert [h.url for h in r.hits] == ["https://s.ex/1"]

    svc.update_dictionary(remove=[WORD])
    assert svc.get_custom_dictionary() == []


def test_prometheus_metrics_exposition(spark, root):
    """GET /metrics parity: valid Prometheus text exposition with index,
    engine, and service families; label values escaped."""
    from meilisearch_thai_spark.index.health import prometheus_metrics
    from meilisearch_thai_spark.query.service import SearchService

    idx = os.path.join(root, "idx1")
    svc = SearchService(spark, idx)
    svc.search("เทคโนโลยี", limit=3)
    svc.search("zzznothing", limit=3)  # likely zero hits (typo-tolerant)
    eng = svc.engine
    text = prometheus_metrics(spark, root, engines={"idx1": eng}, services={"idx1": svc})

    lines = text.strip().splitlines()
    assert lines[0].startswith("# HELP mst_up")
    assert "mst_up 1" in lines
    assert any(l.startswith('mst_index_documents{uid="idx1"} 60') for l in lines)
    assert any(l.startswith('mst_index_available{state="available",uid="idx1"} 1') for l in lines)
    assert any(l.startswith('mst_engine_settings_stale{uid="idx1"} 0') for l in lines)
    assert any(l.startswith('mst_queries_total{uid="idx1"} 2') for l in lines)
    expected_zero = sum(1 for r in svc.metrics if not r.get("n_hits"))
    assert any(
        l == f'mst_queries_zero_results_total{{uid="idx1"}} {expected_zero}'
        for l in lines
    )
    # the exported search-stage sum is the sum of the records' search_ms
    expected_sum = round(sum(r["search_ms"] for r in svc.metrics), 3)
    assert any(
        l == f'mst_query_search_ms_sum{{uid="idx1"}} {expected_sum}' for l in lines
    )
    assert expected_sum > 0
    # every sample line belongs to a declared family and parses as
    # name{labels} value
    families = {l.split()[2] for l in lines if l.startswith("# TYPE")}
    for l in lines:
        if l.startswith("#"):
            continue
        name = l.split("{")[0].split(" ")[0]
        assert name in families
        assert len(l.rsplit(" ", 1)) == 2 and float(l.rsplit(" ", 1)[1]) is not None
