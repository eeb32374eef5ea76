"""Federated multi-index search (MeiliSearch v1.10 federation): one query
across several indexes, merged by max-normalized weighted score — all
branches in ONE lazy Spark plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import SearchEngine
from meilisearch_thai_spark.query.federation import federated_search


@pytest.fixture(scope="module")
def two_indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("fed")

    def mk(name, rows):
        out = str(base / name)
        pages = spark.createDataFrame(rows, "url string, text string, lang string").select(
            "url",
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        build_index(spark, pages, out)
        return SearchEngine(spark, out, cache_postings=False)

    a = mk("a", [
        ("a1", "wakame salad recipe", "en"),
        ("a2", "wakame soup", "en"),
        ("a3", "filler words entirely", "en"),
    ])
    b = mk("b", [
        ("b1", "wakame wakame wakame central", "en"),
        ("b2", "unrelated text", "en"),
    ])
    return {"a": a, "b": b}


def test_each_index_best_hit_normalizes_to_its_weight(spark, two_indexes):
    hits = federated_search(two_indexes, ["wakame"], k=10).collect()
    uids = {h["index_uid"] for h in hits}
    assert uids == {"a", "b"}
    best = {}
    for h in hits:
        best.setdefault(h["index_uid"], h["federated_score"])
    # default weight 1.0: each index's top hit normalizes to exactly 1.0,
    # making cross-index scores comparable despite different BM25 stats
    assert best == {"a": 1.0, "b": 1.0}


def test_weights_scale_whole_indexes(spark, two_indexes):
    hits = federated_search(
        two_indexes, ["wakame"], k=10, weights={"b": 0.5}
    ).collect()
    for h in hits:
        if h["index_uid"] == "b":
            assert h["federated_score"] <= 0.5
    # a's hits (weight 1.0) outrank b's best now
    assert hits[0]["index_uid"] == "a"


def test_single_job_plan_and_validation(spark, two_indexes):
    df = federated_search(two_indexes, ["wakame"], k=5)
    # one lazy plan — a union, not N sequential collects
    assert "Union" in df._jdf.queryExecution().logical().toString()
    with pytest.raises(ValueError, match="unknown indexes"):
        federated_search(two_indexes, ["wakame"], weights={"zzz": 2.0})
    with pytest.raises(ValueError, match="at least one"):
        federated_search({}, ["wakame"])


@pytest.fixture(scope="module")
def warm_and_cold(spark, tmp_path_factory):
    """The same two indexes served by warm engines and by
    ``cache_postings=False`` engines."""
    base = tmp_path_factory.mktemp("fedwarm")

    def mk(name, rows, **kw):
        out = str(base / name)
        pages = spark.createDataFrame(
            rows, "url string, text string, lang string"
        ).select(
            "url",
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        build_index(spark, pages, out)
        return SearchEngine(spark, out, **kw)

    rows_a = [
        ("a1", "wakame salad recipe", "en"),
        ("a2", "wakame soup extra words", "en"),
        ("a3", "filler words entirely", "en"),
    ]
    rows_b = [
        ("b1", "wakame wakame wakame central", "en"),
        ("b2", "unrelated text", "en"),
    ]
    warm = {"a": mk("wa", rows_a), "b": mk("wb", rows_b)}
    cold = {"a": mk("ca", rows_a, cache_postings=False),
            "b": mk("cb", rows_b, cache_postings=False)}
    return warm, cold


def _fed_rows(df):
    return [(r["index_uid"], r["url"], r["score"], r["federated_score"]) for r in df.collect()]


def test_warm_sql_fast_path_matches_classic_and_falls_back(spark, warm_and_cold, planner_routes):
    """Every branch is its engine's planner statement: the warm tier's on
    warm engines, the compressed heaps' on cold ones — and the merged
    values are the same either way."""
    warm, cold = warm_and_cold
    routes = {
        (side, uid): planner_routes(eng)
        for side, engines in (("warm", warm), ("cold", cold))
        for uid, eng in engines.items()
    }
    for normalize in (True, False):
        fast = federated_search(warm, ["wakame", "soup"], k=10, normalize=normalize)
        classic = federated_search(cold, ["wakame", "soup"], k=10, normalize=normalize)
        got, want = _fed_rows(fast), _fed_rows(classic)
        assert got == want, (normalize, got, want)
    # schema parity with the classic path
    assert fast.columns == classic.columns
    assert routes == {
        ("warm", "a"): ["warm"] * 2, ("warm", "b"): ["warm"] * 2,
        ("cold", "a"): ["compressed"] * 2, ("cold", "b"): ["compressed"] * 2,
    }


def test_index_uid_with_a_quote(spark, warm_and_cold):
    """Index uids are SQL string literals in the merge statement: a uid
    with a quote serves the same hits on warm and cold engines."""
    warm, cold = warm_and_cold
    uids = {"a": "o'brien", "b": "b\\'x"}
    for normalize in (True, False):
        got, want = (
            _fed_rows(
                federated_search(
                    {uids[u]: e for u, e in engines.items()}, ["wakame", "soup"], k=10,
                    weights={uids["b"]: 0.5}, normalize=normalize,
                )
            )
            for engines in (warm, cold)
        )
        assert got == want and {u for u, *_ in got} == set(uids.values()), (normalize, got)
