"""E-ops, X7, R7-R9, S6 parity tests (reference result_enhancer / result_ranker)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.query import enhancer as E


# ------------------------------------------------------------------ E1
def test_extract_highlights():
    text = "a <em>x</em> b <strong>y</strong> c <mark>z</mark> [HIGHLIGHT]w[/HIGHLIGHT]"
    assert E.extract_highlights(text) == ["x", "y", "z", "w"]
    assert E.extract_highlights("") == []


def test_highlights_column(spark):
    df = spark.createDataFrame(
        [(1, "no markup"), (2, "<em>ไทย</em> and <mark>wakame</mark>")], "k long, text string"
    )
    got = {r["k"]: (r["highlights"], r["n_highlights"]) for r in
           E.highlights_column(df, "k", "text").collect()}
    assert got[1] == ([], 0)
    assert got[2] == (["ไทย", "wakame"], 2)


# ------------------------------------------------------------------ E2-E4
def test_compound_spans_and_merge():
    text = "สาหร่ายวากาเมะ กับ สาหร่าย"
    spans = E.compound_spans(text, "สาหร่ายวากาเมะ", ["สาหร่าย", "วากาเมะ"])
    exact = [s for s in spans if s.confidence == 1.0]
    assert len(exact) == 1 and exact[0].start == 0
    merged = E.merge_spans(spans)
    # the part-spans inside the exact span merge into it, keeping conf 1.0
    assert merged[0].confidence == 1.0
    assert all(a.end <= b.start for a, b in zip(merged, merged[1:]))


def test_fuzzy_partial():
    assert E.fuzzy_partial_confidence("วากาเมะ", "สาหร่ายวากาเมะ") == 0.0  # ratio 0.5 < 0.6
    assert E.fuzzy_partial_confidence("วากาเมะ", "วากาเมะ!") == pytest.approx(7 / 8)
    assert E.fuzzy_partial_confidence("", "x") == 0.0


# ------------------------------------------------------------------ E5-E6
def test_enhanced_score_caps():
    # boosts cap at 2.0 / 1.8 / 1.4 ⇒ max multiplier 5.04
    assert E.enhanced_score(1.0, compound_matches=100, thai_ratio=5.0, title_match=True) == pytest.approx(
        2.0 * 1.8 * 1.4
    )
    assert E.enhanced_score(0.5, 0, 0.0, False) == 0.5


def test_relevance_factors():
    f = E.relevance_factors("abcdefghij", ["abc"], thai_matches=1, total_matches=2, confidences=[0.5, 1.0])
    assert f["highlight_density"] == pytest.approx(0.3)
    assert f["thai_match_ratio"] == 0.5
    assert f["avg_confidence"] == 0.75
    assert f["has_highlights"]


# ------------------------------------------------------------------ X7
def test_content_similarity_dedup():
    hits = [
        {"text": "the quick brown fox jumps", "score": 1.0},
        {"text": "the quick brown fox jumps!", "score": 0.9},  # near-dup of #1
        {"text": "something completely different", "score": 0.8},
    ]
    kept = E.content_similarity_dedup(hits, threshold=0.85)
    assert [h["score"] for h in kept] == [1.0, 0.8]
    # cap respected: with max_comparisons=0 nothing is ever compared → all kept
    assert len(E.content_similarity_dedup(hits, max_comparisons=0)) == 3


# ------------------------------------------------------------------ R7
def test_rank_algorithms(spark):
    df = spark.createDataFrame(
        [(1, 2.0, 0.9), (2, 1.0, 0.0), (3, 4.0, 0.5)], "doc_id long, score double, thai_ratio double"
    )
    simple = E.rank_hits(df, E.ALGORITHMS["simple_score"]).collect()
    assert {r["doc_id"]: r["score"] for r in simple} == {1: 2.0, 2: 1.0, 3: 4.0}

    exp = {r["doc_id"]: r["score"] for r in
           E.rank_hits(df, E.ALGORITHMS["experimental_score"], "thai_ratio").collect()}
    assert exp[1] == pytest.approx(2.0 * 1.18)
    assert exp[2] == pytest.approx(1.0)

    norm = {r["doc_id"]: r["score"] for r in
            E.rank_hits(df, E.ALGORITHMS["weighted_score"]).collect()}
    assert norm[3] == pytest.approx(1.0) and norm[2] == pytest.approx(0.25)


# ------------------------------------------------------------------ R8/R9
def test_ab_selection_deterministic():
    a = E.select_algorithm("sess1", "q", "experimental_score", traffic_pct=50)
    assert a == E.select_algorithm("sess1", "q", "experimental_score", traffic_pct=50)
    assert E.select_algorithm("s", "q", "x", traffic_pct=0) == "optimized_score"
    assert E.select_algorithm("s", "q", "x", traffic_pct=100) == "x"


def test_content_boost_presets():
    assert E.resolve_content_boosts(0.9, 20)["preset"] == "formal"
    assert E.resolve_content_boosts(0.1, 5)["preset"] == "informal"
    assert E.resolve_content_boosts(0.5, 5)["preset"] == "mixed"


# ------------------------------------------------------------------ S6
def test_metrics_frame(spark):
    recs = [
        {"query": "วากาเมะ", "variant_count": 3, "n_hits": 10, "search_ms": 420.0, "algorithm": "optimized_score"},
    ]
    df = E.query_metrics_frame(spark, recs)
    assert df.count() == 1
    assert df.schema.simpleString().startswith("struct<query:string,variant_count:int")
