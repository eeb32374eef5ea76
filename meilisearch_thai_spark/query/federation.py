"""Federated multi-index search (MeiliSearch v1.10 ``/multi-search`` with
``federation``): one query across several indexes, merged into a single
ranked hit list.

The reference proxies one MeiliSearch node; real deployments shard corpora
into many indexes (per-site, per-language, per-tenant) and federate at query
time.  Distributed top-k is a top-k per index plus one global merge, and
that merge is the only code here: each engine's serving planner writes its
top-``pool_k`` as SQL text (:meth:`~.executor.SearchEngine._ranked_sql` —
the cached tier's statement on a warm engine, the block-max heaps behind a
temp view on a cold one), each branch joins its engine's doc_stats view for
urls, and every branch and the merge parse as ONE ``spark.sql`` statement:
one driver round trip whatever the branch count, N indexes searched in ONE
Spark job.  Catalyst plans each branch independently, so per-index pruning
(block-max, the term InSet) stays intact.

Score comparability: raw BM25 is corpus-dependent (df/avgdl differ per
index), so cross-index ranking uses each index's MAX-normalized score times
the caller's per-index federation weight — the same normalization MeiliSearch
applies via its 0-1 ranking score, expressed with deterministic arithmetic
the DuckDB oracle reproduces exactly.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame

from .requests import sql_double, sql_str


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
    Each index contributes its top-``pool_k`` (default ``k``) candidates,
    ranked by its own serving planner exactly as its ``search_terms`` would
    rank them; ``federated_score = weight * score / max_score_within_index``
    over the contributed pool, merged and cut to ``k`` (ties: index uid,
    then doc id).

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
    if normalize:
        fed = "round(_w * score / max(score) OVER (PARTITION BY index_uid), 4)"
        # ties group by index first: normalized scores are per-index scales
        order = "federated_score DESC, index_uid ASC, doc_id ASC"
    else:
        fed = "round(_w * score, 4)"
        # raw sharded mode: doc ids are GLOBAL (one corpus), so the
        # monolithic engine's tie-break (doc id asc) must win over shard uid
        # for exact rank parity
        order = "federated_score DESC, doc_id ASC, index_uid ASC"
    with ExitStack() as scoped:  # cold branches' views live until the parse
        branches = []
        for uid in sorted(engines):
            eng = engines[uid]
            ranked, _route = scoped.enter_context(eng._ranked_sql(eng._request(pool_k, terms)))
            # presentation-precision (4-decimal) scores BEFORE the
            # normalization ratio: both the ratio's inputs are then
            # engine-stable doubles, so any external oracle normalizing the
            # same rounded pool agrees bit-for-bit
            branches.append(
                f"(SELECT {sql_str(uid)} AS index_uid, d.url AS url, t.doc_id AS doc_id,"
                f" round(t.score, 4) AS score, {sql_double(weights.get(uid, 1.0))} AS _w"
                f" FROM ({ranked}) t JOIN {eng._stats_view()} d ON d.doc_id = t.doc_id)"
            )
        return next(iter(engines.values())).spark.sql(
            f"SELECT index_uid, url, doc_id, score, {fed} AS federated_score"
            f" FROM ({' UNION ALL '.join(branches)})"
            f" ORDER BY {order} LIMIT {int(k)}"
        )
