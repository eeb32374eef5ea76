"""Physical-plan regression guards for the hot paths (PLANS.md).

These assert the *shape* Catalyst produces, so a refactor that silently
reintroduces a shuffle or a Python stage into the serving path fails CI, not
a benchmark three rounds later.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index.builder import build_index
from meilisearch_thai_spark.query.executor import (
    QueryTerm,
    SearchEngine,
    ServeRequest,
    Variant,
    required_terms,
)
from meilisearch_thai_spark.query.ranker import VARIANT_BOOSTS
from meilisearch_thai_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def warm_engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_plan"))
    build_index(spark, generate_pages(spark, 400, seed=23), out)
    eng = SearchEngine(spark, out)
    eng.warm_postings()
    yield eng
    eng.postings.unpersist()
    eng.doc_stats.unpersist()
    if eng._warm is not None:
        eng._warm.unpersist()


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _query_part(df) -> str:
    """The executed plan above the cached tier.  (Exchange/MapInPandas
    strings appear inside InMemoryRelation cache-BUILD subtrees.)"""
    return _final_plan(df).split("InMemoryRelation")[0]


def test_warm_point_query_plan_has_no_python_stage_or_exchange(warm_engine):
    single = [QueryTerm(0, "เทคโนโลยี"), QueryTerm(0, "อาหาร")]
    multi = single + [QueryTerm(1, "อาหาร"), QueryTerm(1, "โรงเรียน")]
    variants = [Variant("original", 1.0, 2, "best"), Variant("tokenized", 0.8, 2, "all")]
    for plan in (
        warm_engine._ranked_topk(ServeRequest(single, k=10)),
        warm_engine._ranked_topk(ServeRequest(multi, variants, required=required_terms(variants), k=10)),
    ):
        plan.collect()  # finalize AQE so the executed plan is the real one
        txt = _final_plan(plan)
        # the query path itself: no Python, no shuffle
        assert "MapInPandas" not in _query_part(plan)
        assert "Exchange" not in _query_part(plan)
        assert "TakeOrderedAndProject" in txt
        # terms compiled as a referenced InSet, not inlined constants
        assert "INSET" in txt.upper()


def test_warm_single_variant_plan_is_query_invariant(warm_engine):
    """Two different queries must produce IDENTICAL generated-code shape:
    same plan string modulo the InSet values — the codegen-cache property
    the serving latency depends on."""
    import re

    def shape(terms):
        plan = warm_engine._ranked_topk(ServeRequest([QueryTerm(0, t) for t in terms], k=10))
        plan.collect()
        txt = re.sub(r"INSET [^)]*", "INSET <terms>", _query_part(plan))
        txt = re.sub(r"#\d+L?", "#x", txt)  # normalize expr ids
        # a plan-cache hit re-executes the cached Dataset, which numbers
        # its result stage anew
        txt = re.sub(r"ResultQueryStage \d+", "ResultQueryStage <n>", txt)
        return txt

    # ≥2 terms keeps the InSet form (a 1-element isin optimizes to EqualTo,
    # whose string literal is still a codegen reference object — cached —
    # but the PLAN STRING differs, so compare multi-term shapes here)
    assert shape(["เทคโนโลยี", "อาหาร"]) == shape(["อาหารไทย", "โรงเรียน"])


def _column_reference(eng, qterms, variants):
    """The multi-variant warm page written with the Column API — the
    reference the one-statement SQL route must equal bit for bit."""
    k1, b = eng.meta.k1, eng.meta.b
    idf = F.log(F.lit(1.0) + (F.lit(float(eng.meta.n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    bm25 = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(eng.meta.avgdl))
    )
    by_term = {}
    for q in qterms:
        by_term.setdefault(q.term, []).append(q.variant_id)
    terms = sorted(by_term)
    vmap = F.create_map(*[x for t in terms for x in (F.lit(t), F.array([F.lit(v) for v in by_term[t]]))])
    scored = (
        eng.warm_postings().filter(F.col("term").isin(terms))
        .withColumn("variant_id", F.explode(vmap[F.col("term")]))
        .withColumn("s", bm25)
        .groupBy("variant_id", "doc_id")
        .agg(F.sum("s").alias("score"), F.count("*").alias("terms_matched"))
    )
    wmap = F.create_map(*[x for i, v in enumerate(variants) for x in (F.lit(i), F.lit(v.weight))])
    tmap = F.create_map(*[x for i, v in enumerate(variants) for x in (F.lit(i), F.lit(v.type))])
    boost = F.lit(1.0)
    for vt, bst in VARIANT_BOOSTS.items():
        boost = F.when(F.col("variant_type") == vt, F.lit(bst)).otherwise(boost)
    hit = (
        scored.withColumn("weight", wmap[F.col("variant_id")])
        .withColumn("variant_type", tmap[F.col("variant_id")])
        .withColumn("score", F.col("score") * F.col("weight") * boost)
    )
    best = F.max_by(
        F.struct("score", "variant_type", "terms_matched"),
        F.struct(F.col("score"), F.col("weight"), -F.col("variant_id")),
    ).alias("best")
    return (
        hit.groupBy("doc_id").agg(best)
        .select("doc_id", "best.score", "best.variant_type", "best.terms_matched")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    )


def test_warm_sql_point_path_same_plan_and_values(warm_engine):
    """The one-statement warm route (``_ranked_topk`` on a warm engine)
    returns the rows a Column-API plan of the same shape returns, bit for
    bit: raw BM25 on a single variant, and weighted, boosted,
    per-doc-deduplicated scores on several."""
    terms = ["เทคโนโลยี", "อาหาร"]
    fast = warm_engine._ranked_topk(ServeRequest([QueryTerm(0, t) for t in terms], k=10)).collect()
    slow = _column_reference(
        warm_engine, [QueryTerm(0, t) for t in terms], [Variant("x", 1.0, 2, "best")]
    )
    assert fast and [(r["doc_id"], r["score"], r["terms_matched"]) for r in fast] == [
        (r["doc_id"], r["score"], r["terms_matched"]) for r in slow
    ]
    qterms = [QueryTerm(0, "เทคโนโลยี"), QueryTerm(0, "อาหาร"), QueryTerm(1, "อาหาร"),
              QueryTerm(2, "อาหารไทย"), QueryTerm(2, "เทคโนโลยี")]
    variants = [Variant("original", 1.0, 2, "best"), Variant("tokenized", 0.9, 1, "best"),
                Variant("fallback", 0.6, 2, "best")]
    fast = warm_engine._ranked_topk(ServeRequest(qterms, variants, k=10)).collect()
    slow = _column_reference(warm_engine, qterms, variants)
    assert fast and [tuple(r) for r in fast] == [tuple(r) for r in slow]


def _exec_nodes(plan) -> list:
    """The JVM nodes of an executed plan outside cached relations: AQE
    plans and query stages are descended into, while an InMemoryTableScan
    is a leaf (the cached tier's build plan is not part of the query)."""
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


def _restricted_plans(eng, **restriction):
    """A single- and a multi-variant warm statement under ``restriction``."""
    single = [QueryTerm(0, "เทคโนโลยี"), QueryTerm(0, "อาหาร")]
    multi = single + [QueryTerm(1, "อาหาร"), QueryTerm(1, "โรงเรียน")]
    variants = [Variant("original", 1.0, 2, "best"), Variant("tokenized", 0.8, 2, "all")]
    return (
        eng._ranked_topk(ServeRequest(single, k=10, **restriction)),
        eng._ranked_topk(
            ServeRequest(multi, variants, required=required_terms(variants), k=10, **restriction)
        ),
    )


def _assert_one_broadcast_join(spark, plan, join_type, cached):
    """``plan`` is the warm plan plus ONE broadcast hash join of
    ``join_type`` whose build side scans ``cached``'s cache: no Python
    stage, no exchange but the broadcast, the term InSet still on the tier
    scan of the stream side."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    built_cache = cache.lookupCachedData(cached._jdf).get().cachedRepresentation()
    assert plan.collect()
    nodes = _exec_nodes(plan._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    assert not [n for n in names if "InPandas" in n], names
    assert [n for n in names if "Exchange" in n] == ["BroadcastExchange"], names
    join = [
        n for n in nodes
        if n.nodeName() == "BroadcastHashJoin" and n.joinType().toString() == join_type
    ]
    assert len(join) == 1, names
    built = [n for n in _exec_nodes(join[0].right()) if n.nodeName() == "InMemoryTableScan"]
    assert len(built) == 1
    assert built[0].relation().cacheBuilder().equals(built_cache.cacheBuilder())
    streamed = [n for n in _exec_nodes(join[0].left()) if n.nodeName() == "InMemoryTableScan"]
    assert len(streamed) == 1 and "INSET" in streamed[0].simpleString(1000).upper()


def test_warm_filtered_plan_is_a_broadcast_semi_join(spark, warm_engine):
    """A filtered warm statement keeps the warm plan and adds one
    broadcast semi-join over the cached doc_stats: no Python stage, no
    shuffle, the term InSet still on the tier scan."""
    filter_sql = warm_engine._filter_sql({"lang": {"$in": ["th", "th-en"]}})
    for plan in _restricted_plans(warm_engine, filter_sql=filter_sql):
        _assert_one_broadcast_join(spark, plan, "LeftSemi", warm_engine.doc_stats)


def test_warm_negative_plan_is_a_broadcast_anti_join(spark, warm_engine):
    """Negative keywords keep the warm plan and add one broadcast
    anti-join whose build side scans the warm tier's own cache: no Python
    stage, no shuffle, the term InSet still on the stream side."""
    neg = ["ไทย"]  # in many docs: an empty build side would be planned away
    assert warm_engine.docs_with_terms(neg).count() > 0
    for plan in _restricted_plans(warm_engine, neg=neg):
        _assert_one_broadcast_join(spark, plan, "LeftAnti", warm_engine.warm_postings())


@contextmanager
def _py4j_calls(spark):
    """The list of Py4J commands the driver sends inside the block.
    Frees of proxies left by earlier work ("m d" commands, sent whenever
    Python's garbage collector runs) are not the block's own calls and are
    not counted."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command


def test_warm_search_py4j_budget(spark, warm_engine):
    """A warm SearchService.search builds its plan in one spark.sql call,
    filtered or not, with a negative keyword or not: at most 20 Py4J round
    trips on a plan-cache miss and fewer on the repeat (the Column-built
    plan took over a thousand).  A federated search over two warm engines
    composes both branches into one statement: at most 12 round trips,
    collect included."""
    from meilisearch_thai_spark.query.federation import federated_search
    from meilisearch_thai_spark.query.service import SearchService

    svc = SearchService(spark, warm_engine.index_dir)
    svc.engine.warm_postings()
    svc.search("ปัญญาประดิษฐ์")  # first search: vocabulary, typo settings
    for query, filters in (
        ("เทคโนโลยี อาหาร", None),
        ("เทคโนโลยี อาหาร", {"lang": "th"}),
        ("เทคโนโลยี อาหาร -ข่าว", None),
    ):
        counts = []
        for _ in range(2):
            with _py4j_calls(spark) as calls:
                svc.search(query, filters=filters)
            counts.append(len(calls))
        miss, hit = counts
        assert miss <= 20, (query, filters, counts)
        assert hit < miss, (query, filters, counts)
    engines = {"a": warm_engine, "b": svc.engine}
    counts = []
    for _ in range(2):
        with _py4j_calls(spark) as calls:
            assert federated_search(engines, ["เทคโนโลยี", "อาหาร"], k=10).collect()
        counts.append(len(calls))
    assert counts[1] <= 12, counts
    svc.engine.postings.unpersist()
    svc.engine.doc_stats.unpersist()
    svc.engine._warm.unpersist()


def test_compressed_plans_are_sql_text(spark, warm_engine):
    """The compressed routes write their posting scans and the tombstone
    exclusion as SQL text: a 1,000-id tombstone set is one Py4J call (the
    Column API's isin made about four per id), and a cold search_page
    builds its plan in far fewer round trips than the Column-built block
    frame's 209."""
    cold = SearchEngine(spark, warm_engine.index_dir, cache_postings=False)
    ids = sorted(r["doc_id"] for r in cold.doc_stats.select("doc_id").collect())
    cold._tombstones = ids[::2] + list(range(ids[-1] + 1, ids[-1] + 1001 - len(ids[::2])))
    assert len(cold._tombstones) == 1000
    with _py4j_calls(spark) as calls:
        kept = cold._exclude_deleted(cold.doc_stats)
    assert len(calls) <= 2, len(calls)
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == ids[1::2]
    cold._tombstones = []
    cold.search_page("เทคโนโลยี อาหาร")
    for query in ("อาหาร ไทย", "อาหาร ไทย -โรงเรียน"):
        with _py4j_calls(spark) as calls:
            assert cold.search_page(query)
        assert len(calls) <= 100, (query, len(calls))


def test_cold_scan_pushes_term_filter(spark, warm_engine):
    cold = SearchEngine(spark, warm_engine.index_dir, cache_postings=False)
    blocks = cold.candidate_blocks([QueryTerm(0, "เทคโนโลยี")])
    txt = blocks._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in txt
    assert "term" in txt


def test_webtext_rowwise_ops_no_shuffle_no_python(spark):
    """gopher_quality and mask_pii must stay pure per-row Column plans —
    one scan, zero Exchange, zero Python stage (webtext.py scale notes)."""
    from meilisearch_thai_spark.pipeline import webtext as wt

    docs = spark.createDataFrame(
        [(1, "line one\nline two words here")], "id long, text string"
    )
    for df in (
        wt.gopher_quality(docs, "id", "text"),
        wt.mask_pii(docs, "id", "text"),
    ):
        txt = _final_plan(df)
        assert "Exchange" not in txt
        assert "Python" not in txt and "MapInPandas" not in txt


def test_new_rowwise_ops_no_shuffle_no_python(spark):
    """URL normalization, deterministic sampling, and HTML extraction must
    stay pure per-row plans — zero Exchange, zero Python stage (their
    documented scale shapes)."""
    from pyspark.sql import functions as F

    from meilisearch_thai_spark.pipeline import sampling as smp
    from meilisearch_thai_spark.pipeline import weburl as wu
    from meilisearch_thai_spark.pipeline import webtext as wt

    docs = spark.createDataFrame(
        [(1, "https://A.Example.com:443/x?utm_source=a&id=1#f",
          "<html><body><p>hello</p></body></html>")],
        "id long, url string, html string",
    )
    for df in (
        wu.normalize_urls(docs, "id", "url"),
        smp.deterministic_sample(docs, "id", 0.5),
        wt.extract_html_text(docs, "id", "html"),
    ):
        txt = _final_plan(df)
        assert "Exchange" not in txt
        assert "Python" not in txt and "MapInPandas" not in txt


def test_contamination_single_shuffle_broadcast_bench(spark):
    """benchmark_contamination: per-row gram dedup (array_distinct), the
    benchmark side broadcasts, and the only Exchange is the per-doc count
    groupBy — ONE shuffle total on the corpus stream."""
    from meilisearch_thai_spark.pipeline import webtext as wt

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
        "id long, text string",
    )
    bench = spark.createDataFrame([("alpha beta gamma delta",)], "text string")
    out = wt.benchmark_contamination(docs, "id", "text", bench, "text", n=4)
    out.collect()  # finalize AQE
    txt = _final_plan(out)
    assert "BroadcastHashJoin" in txt
    assert "SortMergeJoin" not in txt
    # AQE prints Final AND Initial plan sections — count the final one only.
    # Two hash exchanges are expected there: the per-doc count groupBy (the
    # one corpus-stream shuffle) and the tiny benchmark-side gram distinct.
    final = txt.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2


def test_remove_boilerplate_flagged_side_broadcasts(spark):
    """The removal join must broadcast the (tiny, high-df) flagged-line set,
    never shuffle the exploded corpus against it."""
    from meilisearch_thai_spark.pipeline import webtext as wt

    docs = spark.createDataFrame(
        [(i, "same header\nbody %d" % i) for i in range(6)], "id long, text string"
    )
    out = wt.remove_boilerplate(docs, "id", "text", min_df=3)
    out.collect()  # finalize AQE
    txt = _final_plan(out)
    assert "BroadcastHashJoin" in txt or "BroadcastNestedLoopJoin" not in txt
    assert "SortMergeJoin" not in txt


def test_unicode_fix_single_arrow_stage_no_shuffle(spark):
    """unicode_fix: one scan → codegen regexps → ONE ArrowEvalPython (the
    NFC pandas UDF) — no Exchange, no extra Python stages."""
    from meilisearch_thai_spark.pipeline.webtext import unicode_fix

    df = spark.createDataFrame([(1, "a\r\nb"), (2, "x\x07y")], "doc_id long, text string")
    out = unicode_fix(df, "doc_id", "text")
    out.collect()
    txt = _final_plan(out)
    assert "Exchange" not in txt
    assert txt.count("ArrowEvalPython") == 1
    assert "MapInPandas" not in txt


def test_facet_search_termless_pure_jvm(spark, warm_engine):
    """facet_search without query terms: a doc_stats scan + one partial-agg
    groupBy + TakeOrderedAndProject — no Python stage anywhere."""
    out = warm_engine.facet_search("lang", max_hits=10)
    out.collect()
    txt = _final_plan(out)
    query_part = txt.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" not in query_part and "MapInPandas" not in query_part
    assert "TakeOrderedAndProject" in txt


def test_similar_documents_no_python_and_broadcast_query_vector(spark, warm_engine):
    """similar_documents: JVM dot products (no Python stage) and the 1-row
    query vector arrives via BroadcastExchange/BroadcastNestedLoopJoin."""
    urls = [r["url"] for r in warm_engine.doc_stats.select("url").limit(3).collect()]
    emb = spark.createDataFrame(
        [(u, [float(i + 1), 1.0]) for i, u in enumerate(urls)],
        "url string, embedding array<double>",
    )
    out = warm_engine.similar_documents(emb, urls[0], k=2)
    out.collect()
    txt = _final_plan(out)
    query_part = txt.split("InMemoryRelation")[0]
    assert "ArrowEvalPython" not in query_part and "MapInPandas" not in query_part
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastExchange" in txt


def test_pack_sequences_single_shard_shuffle_no_global_sort(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = pack_sequences(docs, "doc_id", "text", 256, 8)
    df.collect()  # finalize AQE
    txt = _final_plan(df)
    # the running-offset window must be shard-partitioned, never a
    # single-partition global sort
    assert "SinglePartition" not in txt
    assert "hashpartitioning(shard" in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt
    # partial aggregation before the (shard,seq) rollup's exchange
    assert "partial_count" in txt or "partial" in txt.lower()


def test_chunk_documents_zero_shuffle_pure_jvm(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.packing import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = chunk_documents(docs, "doc_id", "text", 64, 16)
    txt = _final_plan(df)
    assert "Exchange" not in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_blocklist_filter_sits_on_scan(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.weburl import filter_blocklist, normalize_urls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"), F.lit(".x.com/p")).alias("url")
    )
    df = filter_blocklist(normalize_urls(docs, "doc_id", "url"), ["h1.x.com"], "host")
    txt = _final_plan(df)
    assert "Exchange" not in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_recrawl_latest_plan_is_partial_agg_no_sort(spark, sf_dir):
    from pyspark.sql import functions as F

    from meilisearch_thai_spark.pipeline.weburl import recrawl_latest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    crawls = docs.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 20).cast("string")).alias("url"),
        (F.col("doc_id") * 7 % 11).alias("ts"),
        "doc_id",
    )
    df = recrawl_latest(crawls, "url", "ts", "doc_id")
    df.collect()
    txt = _final_plan(df)
    final = txt.split("== Initial Plan ==")[0]
    # map-side combine BEFORE the one exchange — the shuffle carries
    # ~|urls| rows, never the corpus (the whole point vs a window)
    assert "partial_max_by" in final
    assert final.count("Exchange") == 1
    assert "Window" not in final
    assert "MapInPandas" not in final and "BatchEvalPython" not in final


def test_quality_classifier_plan_zero_exchange_zero_python(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.webtext import quality_classifier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = quality_classifier(docs, "doc_id", "text")
    df.collect()
    txt = _final_plan(df)
    assert "Exchange" not in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_against_snapshot_plan_is_anti_join_no_python(spark, sf_dir):
    from pyspark.sql import functions as F

    from meilisearch_thai_spark.pipeline.dedup import against_snapshot

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    snap = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    df = against_snapshot(new, snap, "doc_id", "text")
    df.collect()
    txt = _final_plan(df)
    assert "LeftAnti" in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_apply_robots_corpus_never_shuffles(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.weburl import apply_robots, parse_robots

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".x.com/p/"), (F.col("doc_id") % 10).cast("string"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [(f"h{i}.x.com", "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n") for i in range(7)],
        "host string, robots_txt string",
    )
    df = apply_robots(docs, "doc_id", "url", parse_robots(robots))
    df.collect()
    txt = _final_plan(df).split("== Initial Plan ==")[0]
    # every non-broadcast exchange must sit on the hosts-bounded rules
    # side (hashpartitioning on host); the corpus rides a broadcast join
    # plus a per-row array_max fold — no corpus-wide shuffle, no Python
    for line in txt.splitlines():
        if "Exchange" in line and "BroadcastExchange" not in line:
            assert "hashpartitioning(host" in line, line
    assert "BroadcastExchange" in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_repetition_signals_zero_shuffle(spark, sf_dir):
    from meilisearch_thai_spark.pipeline.webtext import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = repetition_signals(docs, "doc_id", "text")
    df.collect()
    txt = _final_plan(df)
    assert "Exchange" not in txt
    assert "MapInPandas" not in txt and "BatchEvalPython" not in txt


def test_search_after_plan_keeps_topk_heap_k_sized(spark, warm_engine):
    """Keyset pagination: the cursor lands as a plain Filter between the
    scoring aggregate and TakeOrderedAndProject(k) — the heap must be
    limit=k, never offset+k (the whole point of the cursor)."""
    page = warm_engine.search_after(["เทคโนโลยี"], cursor=(3.5, "https://x/9"), k=7)
    page.collect()
    txt = _final_plan(page)
    assert "TakeOrderedAndProject" in txt and "limit=7" in txt.replace(" ", "")
    # the cursor predicate is present as a filter, not a post-collect trim
    assert "Filter" in txt and "3.5" in txt


def test_batch_search_terms_single_python_stage(spark, warm_engine):
    """The N-query batch is ONE job: exactly one MapInPandas (the shared
    bucket top-k kernel) no matter how many queries ride it."""
    out = warm_engine.batch_search_terms(
        [["เทคโนโลยี"], ["อาหาร"], ["โรงเรียน"]], k=5
    )
    out.collect()
    txt = _final_plan(out)
    # AQE prints a reused broadcast subtree at each consumer, so dedupe by
    # kernel content: exactly ONE distinct Python stage
    kernels = {
        line[line.index("MapInPandas"):]
        for line in txt.splitlines()
        if "MapInPandas" in line
    }
    assert len(kernels) == 1, kernels
