"""SearchService — the reference's SearchProxyService.search lifecycle.

End-to-end equivalent of `POST /api/v1/search`
(src/search_proxy/services/search_proxy_service.py:119-265, SURVEY §3.3):
validate (P6) → query pipeline Q1-Q8 → ONE Spark job for all variants
(X1-X4, R1/R2, block-max pruned) → algorithm selection R7/R8 → enhancement
E1-E6 + X7 on the collected page → threshold P7, pagination R10 → response
with stage timings and an S6 metrics record.

Everything after the Spark job runs driver-side on ≤ (offset+limit) rows,
exactly where the reference runs it per-response.

A repeated search does none of the work its first run did before the page
finishing: the processed query and the engine's prepared request are
memoized per warm binding (``SearchEngine._memoized``), and a warm page's
hits are kept resolved in the plan cache, so a repeat runs no Spark job,
makes no Py4J call and reads no doc store.  Validation and the page
finishing, with its S6 records, run on every request.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession

from ..dictionary import dictionary_fingerprint
from .enhancer import (
    ALGORITHMS,
    RankingConfig,
    content_similarity_dedup,
    crop_and_highlight,
    enhanced_score,
    extract_highlights,
    fuzzy_partial_confidence,
    match_positions,
    relevance_factors,
    select_algorithm,
)
from .executor import SearchEngine, _query_words
from .pipeline import process_query
from .requests import SearchRequest, validate_request


@dataclass
class Hit:
    url: str
    doc_id: int
    score: float
    variant_type: str
    terms_matched: int
    highlights: list[str] = field(default_factory=list)
    relevance: dict = field(default_factory=dict)
    formatted: str = ""  # the reference's _formatted: cropped text with <em> marks
    # attributesToRetrieve payload: requested stored doc fields, verbatim
    # (reference hits return the document minus _-fields,
    # search_executor.py:363-367, 721-723)
    attributes: dict = field(default_factory=dict)
    # attributesToHighlight payload (reference responses.py:16 `highlight`):
    # attr -> cropped text with <em> marks, string-valued stored fields only
    highlight: dict = field(default_factory=dict)
    # showMatchesPosition payload (MeiliSearch _matchesPosition): attr ->
    # [{"start", "length"}] over the unmodified attribute value; "text" keys
    # the stored content field when the index carries one
    matches_position: dict = field(default_factory=dict)
    # showRankingScoreDetails payload: how Hit.score was composed — the
    # variant-weighted BM25 base and each multiplicative boost actually
    # applied.  Empty unless requested.
    score_details: dict = field(default_factory=dict)


@dataclass
class SearchResponse:
    hits: list[Hit]
    total_unique_hits: int
    offset: int
    limit: int
    has_next: bool
    query_info: dict
    timings_ms: dict
    algorithm: str


class SearchService:
    """Driver-facing facade over a built index (reference: SearchProxyService)."""

    # S6 records kept per service, newest last: past the cap the oldest
    # records drop, so a long-lived service holds bounded memory
    MAX_RECORDS = 10_000

    def __init__(self, spark: SparkSession, index_dir: str, cache_postings: bool = True):
        self.engine = SearchEngine(spark, index_dir, cache_postings=cache_postings)
        self.metrics: list[dict] = []  # S6: one record per query
        self.events: list[dict] = []  # S6: analytics.EVENT_SCHEMA records

    def _keep(self, records: list[dict], rec: dict) -> None:
        """Append ``rec``, dropping the oldest records past ``MAX_RECORDS``."""
        records.append(rec)
        if len(records) > self.MAX_RECORDS:
            del records[: len(records) - self.MAX_RECORDS]

    def search(
        self,
        query: str,
        limit: int = 10,
        offset: int = 0,
        algorithm: str | None = None,
        session_id: str | None = None,
        ab_test_algorithm: str | None = None,
        ab_traffic_pct: int = 10,
        min_score_threshold: float = 0.0,
        filters: dict | None = None,
        sort: list[str] | None = None,
        crop_length: int = 200,
        include_tokenization_info: bool = False,
        attributes_to_retrieve: list[str] | None = None,
        highlight: bool = True,
        attributes_to_highlight: list[str] | None = None,
        crop_marker: str = "...",
        matching_strategy: str = "best",
        max_query_variants: int | None = None,
        attributes_to_search_on: list[str] | None = None,
        show_matches_position: bool = False,
        show_ranking_score_details: bool = False,
        prefix_search: bool = False,
    ) -> SearchResponse:
        req = validate_request(
            SearchRequest(
                query,
                limit=limit,
                offset=offset,
                min_score_threshold=min_score_threshold,
                filters=filters,
                sort=list(sort or []),
                crop_length=crop_length,
                highlight=highlight,
                attributes_to_highlight=list(attributes_to_highlight or []),
                crop_marker=crop_marker,
                matching_strategy=matching_strategy,
                max_query_variants=max_query_variants,
            )
        )

        # R8: A/B selection unless explicitly pinned
        if algorithm is None:
            if session_id is not None and ab_test_algorithm is not None:
                algorithm = select_algorithm(session_id, query, ab_test_algorithm, ab_traffic_pct)
            else:
                algorithm = "optimized_score"
        config: RankingConfig = ALGORITHMS[algorithm]

        t0 = time.time()
        pq = self._processed(req, prefix_search)
        t_tok = time.time()

        # need offset+limit rows, +headroom when content-dedup may drop some
        k = req.offset + req.limit
        cap = self._max_total_hits()
        if cap is not None:
            # S5 maxTotalHits: never even FETCH past the cap — the setting's
            # point is bounding the distributed top-(offset+limit) heap
            k = min(k, cap)
        fetch_k = k * 2 if config.content_dedup else k
        # Q7: fallback tokenization doubles the candidate fetch, capped at
        # 100 (search_executor.py:884-886) — but never below the requested
        # page end, or deep offsets would truncate to an empty page
        if pq.fallback_used:
            fetch_k = min(fetch_k * 2, max(100, fetch_k))
        # fetch the union of retrieve + highlight attrs in the one metadata
        # lookup; _postprocess keeps only the retrieve list on Hit.attributes
        fetch_attrs = list(dict.fromkeys((attributes_to_retrieve or []) + req.attributes_to_highlight))
        try:
            rows = self.engine.multi_variant_page(
                req.query,
                k=max(fetch_k, 1),
                min_score_threshold=req.min_score_threshold,
                normalize=config.normalize,
                filters=req.filters,
                sort=req.sort or None,
                attributes_to_retrieve=fetch_attrs or None,
                pq=pq,  # carries matching_strategy/max_query_variants;
                # also saves the engine a second Q1-Q8 pipeline pass
                attributes_to_search_on=attributes_to_search_on,
            )
        except Exception:
            # S6: execution failures ARE recorded (success=False) before the
            # error surfaces — without this, failed_queries could never be
            # nonzero and the failure/zero-result distinction is meaningless
            self._record_event(req.query, session_id, (time.time() - t_tok) * 1000,
                               0, False, pq.analysis.primary_language)
            raise
        t_search = time.time()
        return self._postprocess(
            req, pq, rows, algorithm, config, session_id, sort, t0, t_tok, t_search,
            include_tokenization_info=include_tokenization_info,
            attributes_to_retrieve=attributes_to_retrieve,
            show_matches_position=show_matches_position,
            show_ranking_score_details=show_ranking_score_details,
        )

    def _processed(self, req: SearchRequest, prefix_search: bool):
        """The Q1-Q8 processed query of ``req``, memoized per warm binding
        (``SearchEngine._memoized``) by everything it is built from besides
        the binding (the engine's synonyms and vocabulary): the query, the
        matching strategy, the variant cap, prefix search and the
        process-wide dictionary, which follows the last-loaded index.  The
        memoized query is complete before it is kept and never mutated
        after."""

        def build():
            pq_kwargs = {}
            if req.max_query_variants is not None:
                pq_kwargs["max_variants"] = req.max_query_variants
            pq = process_query(
                req.query, synonyms=self.engine._synonyms or None,
                matching_strategy=req.matching_strategy, **pq_kwargs,
            )
            if prefix_search:
                # search-as-you-type: completions of the last word ride the
                # same one-job variant fan-out (MeiliSearch prefix-matches
                # the final word by default; opt-in keeps existing
                # exact-token behavior).  The prefixSearch=disabled setting
                # governs BOTH prefix surfaces — this one and
                # SearchEngine.search_prefix — identically.
                if not getattr(self.engine.meta, "prefix_search", True):
                    raise ValueError(
                        "prefix search is disabled on this index "
                        "(settings.update_prefix_search to re-enable)"
                    )
                from .pipeline import add_prefix_variants

                add_prefix_variants(pq, self.engine.expand_terms, raw_query=req.query)
            return pq

        key = (
            "query", req.query, req.matching_strategy, req.max_query_variants,
            prefix_search, dictionary_fingerprint(),
        )
        return self.engine._memoized(key, build)

    def _max_total_hits(self) -> int | None:
        """pagination.maxTotalHits from the index settings (None = uncapped)
        — the ONE lookup shared by search(), batch_search(), and
        _postprocess() so the fetch clamp and the response clamp can never
        read the setting differently."""
        return (getattr(self.engine.meta, "pagination", None) or {}).get(
            "max_total_hits"
        )

    def _postprocess(
        self, req, pq, rows, algorithm, config, session_id, sort, t0, t_tok, t_search,
        include_tokenization_info: bool = False,
        attributes_to_retrieve: list[str] | None = None,
        show_matches_position: bool = False,
        show_ranking_score_details: bool = False,
    ) -> SearchResponse:
        """Driver-side page finishing shared by search and batch_search:
        X7 content-dedup, pagination, E1 highlight generation, E3-E6
        enhancement, R3/R7 boosts, S6 metric+event records."""
        # when the index stores content (build_index(store_text_crop=N)),
        # the E-ops and X7 run on real text; otherwise they key on url
        attrs = [a for a in (attributes_to_retrieve or []) if not a.startswith("_")]
        hl_attrs = [a for a in req.attributes_to_highlight if not a.startswith("_")]
        hits = [
            {
                "url": r["url"],
                "doc_id": r["doc_id"],
                "score": float(r["score"]),
                "variant_type": r["variant_type"],
                "terms_matched": int(r["terms_matched"]),
                "text": r.get("text_crop") or r["url"],
                # _geoDistance (meters, present iff the sort has a _geoPoint)
                # rides on attributes — MeiliSearch returns it inside the hit
                "attributes": {
                    a: r[a] for a in attrs if a in r
                } | ({"_geoDistance": r["_geoDistance"]} if "_geoDistance" in r else {}),
                "hl_values": {a: r[a] for a in hl_attrs if a in r and isinstance(r[a], str)},
            }
            for r in rows
        ]
        if config.content_dedup:
            hits = content_similarity_dedup(hits, text_key="text")
        # S5 pagination.maxTotalHits: rows past the cap are unreachable and
        # the reported total is clamped (MeiliSearch caps estimatedTotalHits
        # at the setting) — the guardrail that bounds every executor's
        # offset+limit heap; deep exports go through search_after instead
        cap = self._max_total_hits()
        if cap is not None:
            hits = hits[:cap]
        total = len(hits)
        page = hits[req.offset : req.offset + req.limit]

        out_hits = []
        q_lower = req.query.lower()
        # highlight terms: every variant's terms + the raw query (longest
        # match wins inside crop_and_highlight's alternation)
        hl_terms = list(dict.fromkeys([t for v in pq.variants for t in v.terms] + [req.query]))
        for h in page:
            text = str(h.get("text", ""))
            has_content = bool(text) and text != h["url"]
            if has_content and req.highlight:
                # E1 generation: the reference's _formatted hit view
                # (search_executor.py:705-723; Thai crop-doubling :874-878)
                formatted, gen_hl = crop_and_highlight(
                    text, hl_terms, req.crop_length, marker=req.crop_marker
                )
            else:
                formatted, gen_hl = "", []
            highlights = (gen_hl or extract_highlights(text)) if req.highlight else []
            # attributesToHighlight (reference requests.py:18, responses.py:16):
            # each requested string attribute gets its own cropped+marked view
            attr_highlight = (
                {
                    a: crop_and_highlight(v, hl_terms, req.crop_length, marker=req.crop_marker)[0]
                    for a, v in h.get("hl_values", {}).items()
                }
                if req.highlight
                else {}
            )
            conf = fuzzy_partial_confidence(q_lower, text.lower())
            rel = relevance_factors(text, highlights, 0, h["terms_matched"], [conf] if conf else [])
            # R3/E5 on stored content: exact substring containment boosts 2.0
            # (result_ranker.py:1286-1303); thai-ratio boost capped at 1.8
            from ..tokenizer import thai_ratio as _tr

            exact = q_lower in text.lower() and has_content
            tr_val = _tr(text) if has_content else 0.0
            base_score = float(h["score"])
            score = enhanced_score(base_score, 0, tr_val, False)
            enh_mult = score / base_score if base_score else 1.0
            exact_mult = 2.0 if exact else 1.0
            score *= exact_mult
            # R7 algorithm-specific boost (rank_hits semantics on the
            # collected page): experimental_score's thai-ratio boost must
            # actually change the ranking vs the control arm
            algo_mult = 1.0
            if config.thai_ratio_boost and has_content:
                algo_mult = 1.0 + config.thai_ratio_boost * tr_val
                score *= algo_mult
            score_details = (
                {
                    "bm25_weighted": base_score,      # variant-weighted BM25
                    "enhanced_multiplier": round(enh_mult, 6),   # E5 thai-ratio
                    "exact_match_multiplier": exact_mult,        # R3
                    "algorithm_multiplier": round(algo_mult, 6),  # R7
                    "final": score,
                }
                if show_ranking_score_details
                else {}
            )
            if show_matches_position:
                # _matchesPosition over the UNMODIFIED values (not the crop):
                # the stored content field plus every retrieved/highlighted
                # string attribute
                mp_sources = {}
                if has_content:
                    mp_sources["text"] = text
                for a, v in {**h.get("attributes", {}), **h.get("hl_values", {})}.items():
                    if isinstance(v, str):
                        mp_sources[a] = v
                mpos = {
                    a: p
                    for a, v in mp_sources.items()
                    if (p := match_positions(v, hl_terms))
                }
            else:
                mpos = {}
            out_hits.append(
                Hit(
                    h["url"], h["doc_id"], score, h["variant_type"], h["terms_matched"],
                    highlights, rel, formatted, h.get("attributes", {}), attr_highlight,
                    mpos, score_details,
                )
            )
        if not sort:
            # with sort=..., the engine's doc-field ordering is authoritative
            # (re-sorting by enhanced score would undo it)
            out_hits.sort(key=lambda x: (-x.score, x.doc_id))
        t_rank = time.time()

        timings = {
            "tokenization_ms": round((t_tok - t0) * 1000, 2),
            "search_ms": round((t_search - t_tok) * 1000, 2),
            "ranking_ms": round((t_rank - t_search) * 1000, 2),
        }
        self._keep(
            self.metrics,
            {
                "query": req.query,
                "variant_count": len(pq.variants),
                "n_hits": total,
                "search_ms": timings["search_ms"],
                "algorithm": algorithm,
            },
        )
        # S6 event record (analytics.EVENT_SCHEMA) — success=True because the
        # request EXECUTED (failures are recorded in search()'s except path;
        # zero-result queries are counted via n_hits == 0, not as failures)
        self._record_event(
            req.query, session_id, timings["search_ms"], total, True,
            pq.analysis.primary_language,
        )
        query_info = {
            "original_query": pq.original_query,
            "primary_language": pq.analysis.primary_language,
            "thai_content_detected": pq.analysis.thai_ratio > 0,
            "variant_count": len(pq.variants),
        }
        if include_tokenization_info:
            # reference include_tokenization_info (models/requests.py:101,
            # responses carry the segmentation behind the search): the pinned
            # segmenter's full result for the normalized query
            from ..tokenizer import default_segmenter

            seg_res = default_segmenter().segment_text(pq.original_query)
            query_info["tokenization_info"] = {
                "engine": seg_res.engine,
                "tokens": seg_res.tokens,
                "word_boundaries": seg_res.word_boundaries,
                "confidence_scores": seg_res.confidence_scores,
                "variants": [
                    {
                        "type": v.variant_type,
                        "terms": list(v.terms),  # the memoized query's stay its own
                        "weight": v.weight,
                        "matching": v.matching,
                        "tokenization_confidence": v.metadata.get("tokenization_confidence"),
                    }
                    for v in pq.variants
                ],
            }
        return SearchResponse(
            hits=out_hits,
            total_unique_hits=total,
            offset=req.offset,
            limit=req.limit,
            has_next=total > req.offset + req.limit,
            query_info=query_info,
            timings_ms=timings,
            algorithm=algorithm,
        )

    def _record_event(self, query, session_id, response_time_ms, n_hits, success, language):
        import datetime as _dt

        self._keep(
            self.events,
            {
                "query": query,
                "session_id": session_id,
                "ts": _dt.datetime.now(),
                "response_time_ms": response_time_ms,
                "n_hits": n_hits,
                "success": success,
                "language": language,
            },
        )

    MAX_BATCH_SIZE = 50  # reference models/requests.py:98 (max_items=50)
    MAX_QUERY_LENGTH = 500  # reference performance.max_query_length

    def batch_search(
        self,
        queries: list[str],
        limit: int = 10,
        offset: int = 0,
        algorithm: str | None = None,
        session_id: str | None = None,
        min_score_threshold: float = 0.0,
    ) -> list[SearchResponse]:
        """The reference's batch-search endpoint
        (search_proxy_service.py:267-349, POST /api/v1/batch-search):
        validate 1-50 non-empty queries, answer each with full search
        semantics, return one SearchResponse per query in order.

        Spark-first shape: instead of N concurrent HTTP searches under an
        asyncio semaphore, ALL queries' variants score in ONE cluster job
        (engine.batch_multi_variant_page) and only the driver-side page
        finishing runs per query — per-query cost amortizes toward the
        at-scale batched number (~70 ms/query in bench.py)."""
        if not 1 <= len(queries) <= self.MAX_BATCH_SIZE:
            raise ValueError(f"batch size must be in [1, {self.MAX_BATCH_SIZE}], got {len(queries)}")
        for i, q in enumerate(queries):
            if not isinstance(q, str) or not q.strip():
                raise ValueError(f"query {i + 1} cannot be empty")
            if len(q) > self.MAX_QUERY_LENGTH:
                raise ValueError(f"query {i + 1} too long: {len(q)} > {self.MAX_QUERY_LENGTH}")
        algorithm = algorithm or "optimized_score"
        config: RankingConfig = ALGORITHMS[algorithm]

        t0 = time.time()
        reqs = [
            validate_request(
                SearchRequest(q, limit=limit, offset=offset, min_score_threshold=min_score_threshold)
            )
            for q in queries
        ]
        pqs = [process_query(r.query, synonyms=self.engine._synonyms or None) for r in reqs]
        t_tok = time.time()
        k = offset + limit
        cap = self._max_total_hits()
        if cap is not None:
            k = min(k, cap)  # same fetch-side maxTotalHits clamp as search()
        fetch_k = k * 2 if config.content_dedup else k
        if any(pq.fallback_used for pq in pqs):
            fetch_k = min(fetch_k * 2, max(100, fetch_k))
        per_query_rows = self.engine.batch_multi_variant_page(
            queries, k=max(fetch_k, 1), min_score_threshold=min_score_threshold,
            normalize=config.normalize, pqs=pqs,
        )
        t_search = time.time()
        # per-query timing attribution: the batch shares one job, so each
        # response (and its S6 event) carries its 1/n share — recording the
        # WHOLE batch wall per query would corrupt latency analytics
        n = len(queries)
        tok_each, search_each = (t_tok - t0) / n, (t_search - t_tok) / n
        # anchor at the real wall clock so _postprocess's ranking_ms
        # (time.time() - t_search) stays meaningful
        t_tok_i = t_search - search_each
        t0_i = t_tok_i - tok_each
        return [
            self._postprocess(
                req, pq, rows, algorithm, config, session_id, None,
                t0_i, t_tok_i, t_search,
            )
            for req, pq, rows in zip(reqs, pqs, per_query_rows)
        ]

    def facet_distribution(
        self, query: str, facets: list[str], filters: dict | None = None
    ) -> dict[str, dict[str, int]]:
        """MeiliSearch ``facetDistribution``: per requested field, counts of
        each value over EVERY document matching the query (>= 1 term of ANY
        generated variant — synonym/compound-split matches the search can
        return count too — after ``filters``), not just the returned page.

        Returns ``{facet: {value: count}}``.  The aggregation is distributed
        (engine.facet_distribution) — the matching set never collects; only
        the (facet, value, count) rollup does, which is bounded by facet
        cardinality, the same contract MeiliSearch's maxValuesPerFacet
        acknowledges."""
        pq = process_query(query, synonyms=self.engine._synonyms or None)
        if not pq.variants:
            return {f: {} for f in facets}
        terms = list(dict.fromkeys(t for v in pq.variants for t in v.terms))
        rows = self.engine.facet_distribution(terms, facets, filters=filters).collect()
        out: dict[str, dict[str, int]] = {f: {} for f in facets}
        for r in rows:
            out[r["facet"]][r["value"]] = int(r["n_docs"])
        return out

    def facet_search(
        self,
        facet_name: str,
        facet_query: str = "",
        query: str | None = None,
        filters: dict | None = None,
        max_hits: int = 100,
    ) -> list[dict]:
        """MeiliSearch ``POST /indexes/:uid/facet-search``: autocomplete the
        VALUES of one facet (case-insensitive prefix on ``facet_query``),
        counted over the documents matching the optional ``query`` +
        ``filters``.  Returns ``facetHits``-shaped rows
        ``[{"value": v, "count": n}, ...]``, count-desc."""
        terms = None
        if query:
            pq = process_query(query, synonyms=self.engine._synonyms or None)
            if not pq.variants:
                return []
            terms = list(dict.fromkeys(t for v in pq.variants for t in v.terms))
        rows = self.engine.facet_search(
            facet_name, facet_query, terms=terms, filters=filters, max_hits=max_hits
        ).collect()
        return [{"value": r["value"], "count": int(r["count"])} for r in rows]

    def similar_documents(
        self,
        embeddings,
        target_url: str,
        k: int = 10,
        fields: list[str] | None = None,
    ) -> list[dict]:
        """MeiliSearch ``GET /indexes/:uid/similar``: the k documents most
        similar to ``target_url`` by embedding cosine — eager hit rows
        (url, requested fields, cosine), similarity-desc."""
        rows = self.engine.similar_documents(
            embeddings, target_url, k=k, fields=fields
        ).collect()
        return [r.asDict() for r in rows]

    def facet_stats(
        self, query: str, facets: list[str], filters: dict | None = None
    ) -> dict[str, dict[str, float]]:
        """MeiliSearch ``facetStats``: per requested numeric field, min and
        max over every document matching the query (any variant's terms,
        after ``filters``) — the data behind a range-slider UI.

        Returns ``{facet: {"min": x, "max": y}}``; facets with no matching
        docs are omitted, matching MeiliSearch."""
        pq = process_query(query, synonyms=self.engine._synonyms or None)
        if not pq.variants:
            return {}
        terms = list(dict.fromkeys(t for v in pq.variants for t in v.terms))
        rows = self.engine.facet_stats(terms, facets, filters=filters).collect()
        return {
            r["facet"]: {"min": float(r["min_value"]), "max": float(r["max_value"])}
            for r in rows
        }

    def search_after(
        self,
        query: str,
        cursor: tuple[float, str] | None = None,
        limit: int = 10,
        filters: dict | None = None,
    ) -> tuple[list[dict], tuple[float, str] | None]:
        """Keyset deep pagination at the service level: one page of hits
        plus the cursor for the next call (``None`` when the walk is done).

        The query tokenizes through the shared pipeline (negatives are
        rejected — an exclusion set has no stable cursor order contract),
        then pages through :meth:`SearchEngine.search_after`'s
        (presentation-score DESC, url ASC) total order.  This is the
        exhaustive-export surface (dump every match, arbitrarily deep);
        interactive pagination stays on :meth:`search`'s offset/limit."""
        if not 1 <= limit <= 10_000:
            # export pages may be big (unlike search()'s interactive 100
            # cap) but limit=0 has no next-cursor and negatives have no
            # meaning — validate here, the request layer never sees this
            raise ValueError(f"limit must be in [1, 10000], got {limit}")
        terms, negatives = _query_words(query)
        if negatives:
            raise ValueError(
                "search_after does not support negative keywords; "
                "use search() for filtered interactive queries"
            )
        rows = self.engine.search_after(
            terms, cursor=cursor, k=limit, filters=filters
        ).collect()
        hits = [
            {"url": r["url"], "score": r["score"], "terms_matched": r["terms_matched"]}
            for r in rows
        ]
        nxt = (rows[-1]["score"], rows[-1]["url"]) if len(rows) == limit else None
        return hits, nxt

    def delete_documents(
        self, urls: list[str] | None = None, filters: dict | None = None
    ) -> int:
        """Service-level delete (reference client.py:251-268 delete by ids;
        MeiliSearch v1.2 deleteByFilter for the predicate form) — exactly
        one of ``urls``/``filters``.  The live engine refreshes its
        tombstone snapshot afterwards, so this service's next query already
        excludes the victims (per-engine snapshot semantics otherwise)."""
        if (urls is None) == (filters is None):
            raise ValueError("pass exactly one of urls= or filters=")
        from ..index.maintenance import delete_by_filter, delete_docs

        if urls is not None:
            n = delete_docs(self.engine.spark, self.engine.index_dir, urls)
        else:
            n = delete_by_filter(self.engine.spark, self.engine.index_dir, filters)
        self.engine.refresh_deletes()
        return n

    def suggest(self, query: str) -> str | None:
        """"Did you mean": rewrite out-of-vocabulary query words to their
        best in-vocabulary typo correction (the same banded-Damerau
        expansion the typo rule uses, honouring the index's typoTolerance
        settings).  Returns the corrected query, or None when every word is
        already in the vocabulary or nothing corrects — the UI contract of a
        suggestion banner, not a silent rewrite (the search itself already
        applies typo variants; this surfaces WHAT it matched)."""
        from ..tokenizer import extract_index_terms, tokenize_for_index

        eng = self.engine
        vocab = eng._vocab_set()
        words = extract_index_terms(tokenize_for_index(query or ""))
        out: list[str] = []
        changed = False
        for w in words:
            if w in vocab:
                out.append(w)
                continue
            fixes = eng.expand_terms_fuzzy(w, max_expansions=8)
            if fixes:
                # rank the candidate pool by (edit distance, df desc, term):
                # a 1-edit common word beats a 2-edit rare one — the
                # "most likely correction" contract of a did-you-mean banner,
                # not whichever candidate the length-band scan met first
                from .executor import _edit_distance_within

                dfs = eng.term_dfs(fixes)
                best = min(
                    fixes,
                    key=lambda t: (
                        1 if _edit_distance_within(w, t, 1) else 2,
                        -dfs.get(t, 0),
                        t,
                    ),
                )
                out.append(best)
                changed = True
            else:
                out.append(w)
        return " ".join(out) if changed else None

    # ------------------------------------------------ config management
    # (reference src/api/endpoints/config.py:389-535 dictionary family and
    # config_management.py:255-337 hot reload — the service owns the live
    # engine, so these compose settings updates with the refresh the
    # reference's endpoints perform implicitly)

    def update_dictionary(self, add=None, remove=None) -> dict:
        """Add/remove runtime custom-dictionary words and hot-apply them to
        THIS service's live engine (query tokenization picks the words up
        on the very next search).  Returns the reference-shaped report:
        the overlay plus the documents-stale flag (postings keep their
        build-time tokenization until :meth:`reprocess_documents`)."""
        from ..index.health import reload_status
        from ..index.settings import update_dictionary as _upd

        meta = _upd(self.engine.index_dir, add=add, remove=remove)
        self.engine.refresh_index()
        rs = reload_status(self.engine)
        return {
            "custom_dictionary": list(meta.custom_dictionary or []),
            "documents_stale": rs["documents_stale"],
        }

    def get_custom_dictionary(self) -> list[str]:
        from ..index.settings import get_custom_dictionary as _get

        return _get(self.engine.index_dir)

    def reprocess_documents(self, pages) -> dict:
        """Route documents through the add_documents retokenize path (e.g.
        after a dictionary update) and rebind the live engine."""
        from ..index.settings import reprocess_documents as _re

        meta = _re(self.engine.spark, pages, self.engine.index_dir)
        self.engine.refresh_index()
        return {"numberOfDocuments": meta.n_docs}

    def reload_status(self) -> dict:
        """Reference ``get_hot_reload_status`` for this service's engine."""
        from ..index.health import reload_status as _rs

        return _rs(self.engine)

    def reload(self) -> dict:
        """Reference ``trigger_reload``: refresh from disk, return status."""
        from ..index.health import trigger_reload as _tr

        return _tr(self.engine)

    def health(self, with_stats: bool = False) -> dict:
        """Reference health probes scoped to this service's index: Spark
        liveness + this engine's reload staleness + warm-tier memory, and
        (opt-in) the exchange-free document stats."""
        import os as _os

        from ..index.health import health_report

        root = _os.path.dirname(_os.path.abspath(self.engine.index_dir)) or "."
        uid = _os.path.basename(_os.path.abspath(self.engine.index_dir))
        rep = health_report(
            self.engine.spark, root, engines={uid: self.engine},
            with_stats=with_stats,
        )
        # scope the multi-index listing to THIS service's index
        rep["indexes"] = [i for i in rep["indexes"] if i["uid"] == uid]
        rep["unavailable_indexes"] = [
            u for u in rep["unavailable_indexes"] if u == uid
        ]
        rep["stats"] = {u: s for u, s in rep["stats"].items() if u == uid}
        recheck = rep["spark"]["alive"] and not rep["unavailable_indexes"] and not any(
            e["reload"]["stale"] for e in rep["engines"].values()
        )
        rep["status"] = "available" if recheck else "degraded"
        return rep

    def export_metrics(self, spark: SparkSession):
        """S6: metrics DataFrame for the run (write with .write.json/parquet)."""
        from .enhancer import query_metrics_frame

        return query_metrics_frame(spark, self.metrics)

    def events_df(self, spark: SparkSession):
        """S6: this service's search events as an analytics DataFrame."""
        from .analytics import events_frame

        return events_frame(spark, self.events)

    def analytics_report(self, spark: SparkSession) -> dict:
        """S6 parity (analytics.py:211-332): query-pattern + session blocks
        aggregated from the recorded events via the DataFrame jobs in
        ``query.analytics`` — the same code that runs over a full event log
        at scale."""
        from .analytics import query_analytics, session_analytics

        ev = self.events_df(spark)
        return {
            "query_analytics": query_analytics(ev),
            "session_analytics": session_analytics(ev),
        }

    def popular_searches(
        self, spark: SparkSession, limit: int = 50, language: str | None = None
    ) -> list[dict]:
        """The /analytics/popular-searches endpoint
        (api/endpoints/analytics.py:194-250)."""
        from .analytics import popular_searches

        return [r.asDict() for r in popular_searches(self.events_df(spark), limit, language).collect()]

    def trending_searches(self, spark: SparkSession, top: int = 10) -> list[dict]:
        """The /analytics/trending endpoint (api/endpoints/analytics.py:
        253-289; detector analytics.py:523-541)."""
        from .analytics import trending_queries

        return [r.asDict() for r in trending_queries(self.events_df(spark), top=top).collect()]

    def quality_report(self, spark: SparkSession) -> dict:
        """The /analytics/quality endpoint (analytics.py:334-385)."""
        from .analytics import quality_report

        return quality_report(self.events_df(spark))

    def response_dict(self, resp: SearchResponse) -> dict:
        return asdict(resp)
