"""BM25 top-k execution over the block-compressed posting index.

The reference fans out per-variant HTTP searches to MeiliSearch under an
asyncio semaphore (src/search_proxy/services/search_executor.py:55-176); here
ALL variants score in ONE Spark job.  Each search is one request, a frozen
:class:`ServeRequest` built once from the entry point's arguments
(:meth:`SearchEngine._request`: scoring terms and variants, ``k``, required
counts, phrase checks, negative words, filter SQL, the attributesToSearchOn
field prefixes, ranking options); nothing of it is engine state.  The
serving planner (:meth:`SearchEngine._ranked_sql`) names the route that
scores it:

- warm: one cached SQL statement over the decoded in-memory tier —
  ``term IN (…)`` scan [+ ``doc_id IN`` the filter's doc_stats ids, a
  broadcast semi-join] [+ ``doc_id NOT IN`` the docs holding a negative
  keyword, a broadcast anti-join over the same view] → explode(term →
  variant ids) → BM25 SQL scalar → per-(variant, doc) sum,
  exchange-free → :func:`rank_sql`;
- exact: the same statement over the query words' posting blocks,
  decoded into tier rows behind a temp view (the negative words' blocks
  decode to bare doc ids behind a second one) — when the tier cannot
  serve a request that asks for no top-k (``k=None``: sort, distinct,
  cursor) or carries negative keywords;
- block_max: term-pushdown scan of the posting blocks → block-max bucket
  heaps in a pandas UDF → :func:`rank_sql`;
- cogroup: the same heaps cogrouped with the allowed doc ids, when a
  filter restricts candidates or a phrase variant meets negative keywords.

All rank with the same statement: matching-strategy filter, variant
weights and boosts, per-doc dedup, threshold, top-k.  BM25 has one
definition per substrate: the SQL scalar (``_warm_s_sql``) and the numpy
kernel (:func:`builder.bm25`, shared with the build's block-max bounds);
posting blocks decode through :mod:`index.codec`.  The federation
composes each index's statement as SQL text (:meth:`SearchEngine._ranked_sql`).

A warm statement is served in one of three cases, keyed by its text in the
warm binding's plan cache (:meth:`SearchEngine._warm_entry`):

- a miss: the text is parsed (``spark.sql``) and run;
- a plan hit (lazy API only): the parsed Dataset is reused, so only
  execution is paid;
- a result hit: an eager top-k page (:meth:`SearchEngine._ranked_rows`)
  returns copies of the hits collected and resolved to their stored
  columns the first time, kept under the hit columns — no Spark job, no
  Py4J round trip, no doc-store read.

In front of the statement, the binding's request memo
(:meth:`SearchEngine._memoized`) keeps what a repeat would otherwise
rebuild: the service's processed query and the multi-variant prepared
request (Q10 vocabulary and typo expansion, filter compilation, checks).
Both caches start empty when the binding changes.
"""

from __future__ import annotations

import copy
import itertools
import os
import re
import threading
from contextlib import contextmanager
from dataclasses import KW_ONLY, dataclass, replace
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.builder import FIELD_SEP, IndexMeta, bm25, field_weights, load_meta
from ..index.codec import decode_blocks, decode_doc_block
from ..tokenizer import extract_index_terms, tokenize_for_index
from .pipeline import split_negative_keywords  # re-export (parse lives in Q1-Q8)
from .pipeline import split_query_negatives
from .requests import check_declared, filters_to_sql, sql_str

# process-wide temp-view namer; next() on a count is atomic, so engines and
# requests in different threads never register the same name
_VIEW_SEQ = itertools.count(1)
# guards the warm plan caches' and request memos' insert-and-evict, the
# kept hits' ceiling and the engines' cache counters
# (SearchEngine._warm_entry, _keep_page, _memoized)
_PLAN_LOCK = threading.Lock()


@dataclass
class QueryTerm:
    """One (variant, term) scoring row; weight applied at variant merge."""

    variant_id: int
    term: str


@dataclass(frozen=True)
class Variant:
    """One scoring variant; its variant id is its position in the list.
    Each conjunctive prefix of a Q7 'last'/'frequency' variant is its own
    scoring variant carrying the parent's type and weight."""

    type: str
    weight: float
    n_terms: int
    matching: str
    query: int = 0  # batch namespace (position in the request batch)


def required_terms(variants: list[Variant]) -> dict[int, int]:
    """variant id → matched-term count a doc needs (conjunctive variants)."""
    return {
        vid: v.n_terms for vid, v in enumerate(variants) if v.matching in ("all", "phrase")
    }


def _query_words(query: str) -> tuple[list[str], list[str]]:
    """Query text → (index words, negative words), both tokenized by the
    pinned index tokenizer (:func:`pipeline.split_query_negatives`)."""
    positive, negatives = split_query_negatives(query)
    return extract_index_terms(tokenize_for_index(positive)), negatives


@dataclass(frozen=True)
class ServeRequest:
    """One scored search, built once from an entry point's arguments
    (:meth:`SearchEngine._request`) and read by every step of the serving
    planner (:meth:`SearchEngine._ranked_sql`).  Nothing of a request lives
    on the engine, so concurrent requests never see each other's
    restriction.

    ``qterms`` are the scoring (variant, word) pairs and ``variants`` their
    weighted variants (None: raw BM25, a doc keeping its best
    sub-variant); ``k`` cuts the top-k (None: every matching doc);
    ``required`` maps a variant to the words a doc must match and
    ``phrase_terms`` a phrase variant to its positional check; ``neg`` are
    the negative words, ``filter_sql`` the compiled filter and ``prefixes``
    the attributesToSearchOn field prefixes (None: every searchable
    attribute); the rest are :func:`rank_sql` options."""

    qterms: Sequence[QueryTerm]
    variants: Sequence[Variant] | None = None
    _: KW_ONLY
    k: int | None
    required: dict[int, int] | None = None
    phrase_terms: dict[int, list[str]] | None = None
    neg: Sequence[str] = ()
    filter_sql: str | None = None
    prefixes: tuple[str, ...] | None = None
    normalize: bool = False
    threshold: float = 0.0
    per_query: bool = False

    def ranked(self, src: str) -> str:
        """:func:`rank_sql` of ``src`` under this request's options."""
        return rank_sql(
            src, self.variants, required=self.required, normalize=self.normalize,
            threshold=self.threshold, k=self.k, per_query=self.per_query,
            dedup=self.variants is None and len({q.variant_id for q in self.qterms}) > 1,
        )


def _sql_map(pairs) -> str:
    return "map(" + ", ".join(f"{a}, {b}" for a, b in pairs) + ")"


# the columns of a ranked statement's rows (:func:`rank_sql`); every other
# hit column is a stored doc field, read from the doc store
_SCORED = ("doc_id", "score", "variant_type", "terms_matched", "query_id")


def _rows_held(plans: dict) -> int:
    """Resolved hits kept across one binding's plan-cache entries."""
    return sum(len(hits) for _df, pages in plans.values() for hits in pages.values())


def _copy_hit(hit: dict) -> dict:
    """A caller's copy of a kept hit; list and map values are copied too,
    so no caller can change what the next repeat returns."""
    return {c: copy.deepcopy(v) if isinstance(v, (list, dict)) else v for c, v in hit.items()}


def rank_sql(
    src: str,
    variants: list[Variant] | None = None,
    *,
    required: dict[int, int] | None = None,
    normalize: bool = False,
    threshold: float = 0.0,
    k: int | None = None,
    per_query: bool = False,
    dedup: bool = False,
) -> str:
    """Per-doc ranking over ``src`` — a view or parenthesized query with
    columns (variant_id, doc_id, score, terms_matched), one row per
    (variant, doc) — as one SQL statement:

    required-terms filter → [R1/R2 ``score * weight * boost`` → X4 best
    variant per doc] → [R6 ``max(score) OVER ()`` normalization] → P7
    threshold → ``ORDER BY score DESC, doc_id ASC LIMIT k`` (with
    ``per_query``: the first ``k`` of each query by ``row_number``).

    ``variants=None`` ranks raw BM25; ``dedup`` then keeps each doc's best
    sub-variant (ties to the earliest).  Doubles print with ``repr`` and a
    ``D`` suffix, so every constant folds to the same IEEE value the Column
    API would build, and the weighting multiplies in the same order —
    results are bit-identical to a Column plan of the same shape."""
    from .ranker import VARIANT_BOOSTS

    rel = src
    if required:
        need = _sql_map(sorted(required.items())) + "[variant_id]"
        rel = f"(SELECT * FROM {rel} WHERE {need} IS NULL OR terms_matched = {need})"
    keys = ["query_id", "doc_id"] if per_query else ["doc_id"]
    cols = ["doc_id", "score", "terms_matched"]
    if variants is not None:
        by = ", ".join(keys)
        weight = _sql_map((i, f"{v.weight!r}D") for i, v in enumerate(variants))
        boost = _sql_map(
            (i, f"{VARIANT_BOOSTS.get(v.type, 1.0)!r}D") for i, v in enumerate(variants)
        )
        vtype = _sql_map((i, sql_str(v.type)) for i, v in enumerate(variants))
        qid = (
            f", {_sql_map((i, v.query) for i, v in enumerate(variants))}[variant_id] AS query_id"
            if per_query
            else ""
        )
        cols = [*keys, "score", "variant_type", "terms_matched"]
        # X4: each doc keeps its best variant hit; ties to the larger
        # weight, then the earlier variant
        rel = (
            f"(SELECT {by}, b.score AS score, b.variant_type AS variant_type,"
            f" b.terms_matched AS terms_matched FROM (SELECT {by},"
            f" max_by(struct(score, variant_type, terms_matched),"
            f" struct(score, weight, -variant_id)) AS b FROM (SELECT {by},"
            f" variant_id, terms_matched, weight, variant_type,"
            f" score * weight * {boost}[variant_id] AS score FROM (SELECT *,"
            f" {weight}[variant_id] AS weight, {vtype}[variant_id] AS variant_type{qid}"
            f" FROM {rel})) GROUP BY {by}))"
        )
    elif dedup:
        rel = (
            f"(SELECT doc_id, b.score AS score, b.terms_matched AS terms_matched FROM"
            f" (SELECT doc_id, max_by(struct(score, terms_matched),"
            f" struct(score, -variant_id)) AS b FROM {rel} GROUP BY doc_id))"
        )
    if normalize:
        mx = f"max(score) OVER ({'PARTITION BY query_id' if per_query else ''})"
        norm = f"CASE WHEN {mx} > 0 THEN score / {mx} ELSE score END AS score"
        rel = f"(SELECT {', '.join(norm if c == 'score' else c for c in cols)} FROM {rel})"
    out = ", ".join(cols)
    where = f" WHERE score >= {float(threshold)!r}D" if threshold > 0 else ""
    if k is None:
        return f"SELECT {out} FROM {rel}{where}"
    if per_query:
        return (
            f"SELECT {out} FROM (SELECT *, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY score DESC, doc_id ASC) AS _rn FROM {rel}{where}) WHERE _rn <= {int(k)}"
        )
    return f"SELECT {out} FROM {rel}{where} ORDER BY score DESC, doc_id ASC LIMIT {int(k)}"


def _edit_distance_within(a: str, b: str, k: int) -> bool:
    """Banded Damerau-Levenshtein (OSA): True iff distance ≤ k (O(len·k)).

    Transpositions count as one edit — MeiliSearch's typo semantics
    ("strtaup" is one typo away from "startup")."""
    if abs(len(a) - len(b)) > k:
        return False
    if len(a) > len(b):
        a, b = b, a
    if not a:
        return len(b) <= k
    prev2: list[int] | None = None
    prev = list(range(len(a) + 1))
    for j in range(1, len(b) + 1):
        cur = [k + 1] * (len(a) + 1)  # outside-band cells stay > k
        cur[0] = j
        lo, hi = max(1, j - k), min(len(a), j + k)
        for i in range(lo, hi + 1):
            c = min(
                prev[i] + 1,
                cur[i - 1] + 1,
                prev[i - 1] + (a[i - 1] != b[j - 1]),
            )
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                c = min(c, prev2[i - 2] + 1)
            cur[i] = c
        if min(cur[lo : hi + 1]) > k:
            return False
        prev2, prev = prev, cur
    return prev[len(a)] <= k


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("variant_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("terms_matched", T.LongType(), False),
    ]
)


def _decode_doc_positions(doc_ids, tfs, pos_bytes) -> dict[int, np.ndarray]:
    """pos_bytes (concatenated per-doc position deltas) → {doc_id: positions}."""
    from ..index.codec import decode_block_positions

    per_doc = decode_block_positions(pos_bytes, tfs)
    return {int(d): seg for d, seg in zip(doc_ids, per_doc) if len(seg)}


def _min_window_span(term_positions: dict[str, np.ndarray], need: int) -> int | None:
    """Classic minimal-window sweep over sorted (position, term) events:
    smallest span containing ≥1 occurrence of each of the ``need`` terms."""
    events = sorted((int(p), t) for t, ps in term_positions.items() for p in ps)
    have: dict[str, int] = {}
    lo = 0
    best = None
    for p, t in events:
        have[t] = have.get(t, 0) + 1
        while len(have) == need:
            span = p - events[lo][0]
            best = span if best is None else min(best, span)
            lt = events[lo][1]
            have[lt] -= 1
            if not have[lt]:
                del have[lt]
            lo += 1
    return None if best is None else int(best)


def _phrase_docs(g, ordered_terms: list[str]) -> set[int]:
    """Docs in this (variant, bucket) group containing the exact phrase:
    a position chain p, p+1, ... across ``ordered_terms``."""
    want = set(ordered_terms)
    perterm: dict[str, dict[int, np.ndarray]] = {}
    for row in g.itertuples(index=False):
        if row.term not in want or not row.pos_bytes:
            continue
        ids, tfs = decode_doc_block(row.doc_bytes, row.tf_bytes)
        perterm.setdefault(row.term, {}).update(_decode_doc_positions(ids, tfs, row.pos_bytes))
    if set(perterm) != want:
        return set()
    candidates = set(perterm[ordered_terms[0]])
    for t in ordered_terms[1:]:
        candidates &= set(perterm[t])
    ok = set()
    for d in candidates:
        chain = set(int(x) for x in perterm[ordered_terms[0]][d])
        for t in ordered_terms[1:]:
            nxt = set(int(x) + 0 for x in perterm[t][d])
            chain = {p + 1 for p in chain} & nxt
            if not chain:
                break
        if chain:
            ok.add(d)
    return ok


def _phrase_docs_any_field(g, terms: list[str], prefixes: list[str]) -> set[int]:
    """Fielded phrase check: positions restart per attribute, so a phrase
    must chain within ONE field — union over fields of the per-field chain."""
    if not prefixes:
        return _phrase_docs(g, terms)
    ok: set[int] = set()
    for pre in prefixes:
        ok |= _phrase_docs(g, [pre + t for t in terms])
    return ok


def _score_blocks(
    pdf: pd.DataFrame, k1: float, b: float, avgdl: float, n_docs: int, field_params
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode and BM25-score a frame of posting blocks (one batch decode,
    one :func:`builder.bm25` call) → ``(per-block doc counts, doc_ids,
    scores, per-block base terms)``: a fielded term scores with its field's
    weight and avgdl and reports its base term (field prefix stripped)."""
    counts, ids, tfs, dls = decode_blocks(pdf["doc_bytes"], pdf["tf_bytes"], pdf["dl_bytes"])
    w, adl, base = field_weights(pdf["term"].to_numpy(object), field_params, avgdl)
    df = np.repeat(pdf["df"].to_numpy(np.int64), counts)
    scores = bm25(df, tfs, dls, n_docs, k1, b, np.repeat(adl, counts), np.repeat(w, counts))
    return counts, ids, scores, base


def _agg_doc_scores(
    ids: np.ndarray, scores: np.ndarray, tids: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(per-row doc, score, base-term id) → per-doc (uids, score sums,
    distinct-base-term counts).  Unfielded indexes (``tids=None``) keep the
    cheap bincount (each (term, doc) row is unique there)."""
    uids, inv = np.unique(ids, return_inverse=True)
    sums = np.bincount(inv, weights=scores)
    if tids is None:
        return uids, sums, np.bincount(inv)
    ntid = int(tids.max()) + 1 if len(tids) else 1
    upair = np.unique(inv * ntid + tids)
    cnts = np.bincount(upair // ntid, minlength=len(uids))
    return uids, sums, cnts


def _make_group_scorer(
    k1: float,
    b: float,
    avgdl: float,
    n_docs: int,
    required_terms: dict[int, int],
    phrase_terms: dict[int, list[str]] | None = None,
    excluded: np.ndarray | None = None,
    field_params=None,
    field_prefixes: list[str] | None = None,
):
    """The per-group step both heap kernels share:
    ``score(variant_id, blocks, allowed=None)`` decodes and scores one
    (variant[, bucket]) group of posting blocks → per-doc ``(uids, sums,
    cnts)`` (``cnts`` = DISTINCT base words matched: on a fielded index a
    word matching in two attributes is one match), then drops docs outside
    ``allowed``, excluded docs (tombstones — inside the heap, so pages stay
    full), docs short of the variant's required count, and finally docs
    failing its phrase check."""

    def score(vid, g: pd.DataFrame, allowed: np.ndarray | None = None):
        vid = int(vid)
        counts, ids, scores, base = _score_blocks(g, k1, b, avgdl, n_docs, field_params)
        tids = np.repeat(np.unique(base, return_inverse=True)[1], counts) if field_params else None
        uids, sums, cnts = _agg_doc_scores(ids, scores, tids)
        keep = np.ones(len(uids), dtype=bool)
        if allowed is not None:
            keep &= np.isin(uids, allowed)
        if excluded is not None:
            keep &= ~np.isin(uids, excluded)
        if vid in required_terms:
            keep &= cnts == required_terms[vid]
        uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
        if phrase_terms and vid in phrase_terms and len(uids):
            ok = _phrase_docs_any_field(g, phrase_terms[vid], field_prefixes or [])
            keep = np.fromiter((int(d) in ok for d in uids), dtype=bool, count=len(uids))
            uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
        return uids, sums, cnts

    return score


def _make_bucket_topk(score, k: int):
    """Block-max pruned per-partition top-k (R11 block-max WAND, SURVEY §7.4)
    over the groups ``score`` (:func:`_make_group_scorer`) ranks.

    Buckets are doc-ranges aligned across terms (bucket = doc_id//span), so a
    doc's WHOLE multi-term score lives inside one bucket: per-bucket sums are
    final scores, and a bucket whose upper bound (Σ per-term block-max) is
    below the running k-th score can be skipped without decoding — exact
    pruning, no rank error.  Buckets are visited in descending upper-bound
    order, so the first prunable bucket ends the variant's scan (per-partition
    threshold + final merge; a driver-coordinated global threshold would add
    round trips for little extra pruning).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import heapq

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        out_vid, out_doc, out_score, out_cnt = [], [], [], []
        for vid, vg in pdf.groupby("variant_id", sort=False):
            # upper bound per bucket: Σ over terms of that term's best block
            ub = (
                vg.groupby(["bucket", "term"])["block_max_score"].max().groupby(level=0).sum()
            ).sort_values(ascending=False)
            heap: list = []  # min-heap of (score, -doc_id), size <= k
            grouped = dict(tuple(vg.groupby("bucket", sort=False)))
            for bucket, bound in ub.items():
                if len(heap) == k and bound < heap[0][0]:
                    break  # descending bounds: nothing below can enter top-k
                    # (strict <: an equal-bound bucket could still win a
                    # doc_id tie-break at exactly the k-th score)
                uids, sums, cnts = score(vid, grouped[bucket])
                for d, s, c in zip(uids, sums, cnts):
                    item = (float(s), -int(d), int(c))
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
            for s, nd, c in heap:
                out_vid.append(vid)
                out_doc.append(-nd)
                out_score.append(s)
                out_cnt.append(c)
        if out_doc:
            yield pd.DataFrame(
                {
                    "variant_id": np.asarray(out_vid, dtype=np.int32),
                    "doc_id": np.asarray(out_doc, dtype=np.int64),
                    "score": np.asarray(out_score, dtype=np.float64),
                    "terms_matched": np.asarray(out_cnt, dtype=np.int64),
                }
            )

    return run


def _empty_topk_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "variant_id": pd.Series(dtype="int32"),
            "doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
            "terms_matched": pd.Series(dtype="int64"),
        }
    )


def _make_filtered_bucket_topk(score, k: int):
    """Per-bucket top-k restricted to an allowed-doc set (P4 filtered search).

    Runs as a cogroup of (candidate blocks, allowed doc ids) per bucket: a
    bucket with NO allowed docs is never decoded (the filter prunes whole
    buckets before any posting bytes are touched — the filtered twin of
    block-max pruning), and within a bucket only allowed docs enter the heap.
    Block-max bounds stay valid upper bounds under filtering, so results are
    exact.  Output is ≤ k rows per (variant, bucket); the caller merges with
    a global top-k."""

    def run(blocks_pdf: pd.DataFrame, allowed_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(blocks_pdf) or not len(allowed_pdf):
            return _empty_topk_pdf()
        allowed = np.sort(allowed_pdf["doc_id"].to_numpy(np.int64))
        out_vid, out_doc, out_score, out_cnt = [], [], [], []
        for vid, vg in blocks_pdf.groupby("variant_id", sort=False):
            uids, sums, cnts = score(vid, vg, allowed)
            if not len(uids):
                continue
            order = np.lexsort((uids, -sums))[:k]
            out_vid.append(np.full(len(order), vid, dtype=np.int32))
            out_doc.append(uids[order])
            out_score.append(sums[order])
            out_cnt.append(cnts[order])
        if not out_doc:
            return _empty_topk_pdf()
        return pd.DataFrame(
            {
                "variant_id": np.concatenate(out_vid),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
                "terms_matched": np.concatenate(out_cnt).astype(np.int64),
            }
        )

    return run


def matching_prefixes(
    terms: list[str],
    matching: str,
    dfs: dict[str, int] | None = None,
    max_levels: int = 5,
) -> list[list[str]]:
    """Q7 'last'/'frequency' as conjunctive prefix sub-variants
    (query_processor.py:954-981, search_executor.py:735-742).

    'last': MeiliSearch drops trailing query words until hits exist; per-doc
    that means "score each doc on the longest query prefix it fully
    contains", expressed here as one conjunctive sub-variant per prefix —
    a doc's winning sub-variant is its longest matched prefix automatically,
    because the longer prefix's BM25 sum strictly dominates (per-term scores
    are positive) and the per-doc dedup keeps the max.

    'frequency': same scheme over terms re-ordered rarest-first (ascending
    document frequency), so the most selective terms are required and the
    Zipf-head terms relax first.

    ``max_levels`` caps the sub-variant count (the reference stops dropping
    as soon as results appear; at 5 levels a miss on the 5 leading terms is
    a miss).  Returns ``[terms]`` unchanged for other strategies.
    """
    uniq = list(dict.fromkeys(terms))
    if matching not in ("last", "frequency") or len(uniq) < 2:
        return [uniq]
    if matching == "frequency":
        dfs = dfs or {}
        order = sorted(range(len(uniq)), key=lambda i: (dfs.get(uniq[i], 0), i))
        uniq = [uniq[i] for i in order]
    lo = max(1, len(uniq) - max_levels + 1)
    return [uniq[:j] for j in range(len(uniq), lo - 1, -1)]


_GEOPOINT_RE = re.compile(r"^_geoPoint\(\s*(-?\d+(?:\.\d+)?)\s*,\s*(-?\d+(?:\.\d+)?)\s*\)$")


def parse_geo_point(field: str) -> tuple[float, float] | None:
    """``_geoPoint(lat, lng)`` sort field → (lat, lng), else None; a
    malformed _geoPoint raises (MeiliSearch 400s on bad geo syntax)."""
    if not field.startswith("_geoPoint"):
        return None
    m = _GEOPOINT_RE.match(field)
    if not m:
        raise ValueError(f"malformed _geoPoint sort field {field!r} (want _geoPoint(lat, lng))")
    lat, lng = float(m.group(1)), float(m.group(2))
    if not (-90.0 <= lat <= 90.0 and -180.0 <= lng <= 180.0):
        raise ValueError(f"_geoPoint out of range: {field!r}")
    return lat, lng


def geo_sort_point(sort: list[str] | None) -> tuple[float, float] | None:
    """First ``_geoPoint`` in the sort list — the point whose distance the
    hits expose as ``_geoDistance`` (MeiliSearch geosearch semantics)."""
    for s in sort or []:
        pt = parse_geo_point(s.partition(":")[0])
        if pt is not None:
            return pt
    return None


def attach_geo_distance(df: DataFrame, gp: tuple[float, float]) -> DataFrame:
    """MeiliSearch attaches ``_geoDistance`` (meters) to hits when sorting
    by ``_geoPoint`` — floored to WHOLE meters so the DuckDB oracle hash
    cannot flip on libm sin/asin ulps.  The one definition of that grain,
    shared by every response path that exposes the field."""
    from .requests import geo_distance_m

    return df.withColumn("_geoDistance", F.floor(geo_distance_m(*gp)).cast("long"))


def parse_sort(sort: list[str], available: list[str]) -> list:
    """``["field:asc|desc", ...]`` → orderBy Column list; unknown fields raise
    (the reference 400s on non-sortable attributes; silently dropping a sort
    is worse than rejecting it — VERDICT.md r1 'wire or reject').
    ``_geoPoint(lat, lng):asc|desc`` sorts by haversine distance from the
    point to the document's lat/lng metadata (MeiliSearch geosearch)."""
    from .requests import geo_distance_m

    cols = []
    for s in sort:
        fld, _, direction = s.partition(":")
        if direction not in ("asc", "desc"):
            raise ValueError(f"sort direction must be 'asc' or 'desc', got {s!r}")
        pt = parse_geo_point(fld)
        if pt is not None:
            missing = {"lat", "lng"} - set(available)
            if missing:
                raise ValueError(
                    f"_geoPoint sort needs lat/lng doc metadata; missing {sorted(missing)}"
                )
            expr = geo_distance_m(*pt)
            cols.append(expr.asc() if direction == "asc" else expr.desc())
            continue
        if fld not in available:
            raise ValueError(f"sort field {fld!r} not in doc metadata {sorted(available)}")
        cols.append(F.asc(fld) if direction == "asc" else F.desc(fld))
    return cols


_WARM_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("df", T.LongType(), False),
    ]
)


_WARM_FIELDED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
    ]
)

_DOC_ID_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False)])

# the posting-block columns the warm-tier decode reads
_TIER_COLS = ("term", "df", "doc_bytes", "tf_bytes", "dl_bytes")


def _make_tier_exploder(k1: float, b: float, avgdl: float, n_docs: int, field_params):
    """posting blocks → decoded warm-tier rows, one pandas DataFrame per
    ARROW BATCH (one :func:`codec.decode_blocks` call; per-block frames
    dominated the tier load at scale, ~617k blocks for a 3M-doc index).

    Unfielded rows are (term, doc_id, tf, dl, df) and score in SQL.  On a
    fielded index the weighted per-field BM25 term score is FINAL at decode
    time (w, idf, per-field avgdl are all index settings), so the rows are
    (base term, doc_id, s) — the caller merges multi-field rows into one
    row per (word, doc), keeping the serving plan's count(*) ==
    matched-word-count property."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if field_params:
                counts, ids, s, base = _score_blocks(pdf, k1, b, avgdl, n_docs, field_params)
                yield pd.DataFrame({"term": np.repeat(base, counts), "doc_id": ids, "s": s})
                continue
            counts, ids, tfs, dls = decode_blocks(
                pdf["doc_bytes"], pdf["tf_bytes"], pdf["dl_bytes"]
            )
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(object), counts),
                    "doc_id": ids,
                    "tf": tfs.astype(np.int32),
                    "dl": dls.astype(np.int32),
                    "df": np.repeat(pdf["df"].to_numpy(np.int64), counts),
                }
            )

    return explode


def _make_doc_id_exploder(excluded: np.ndarray | None):
    """posting blocks → their doc ids minus ``excluded`` (one batch decode
    per Arrow batch; the exclusion ships in the closure, not the plan)."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = decode_blocks(pdf["doc_bytes"])[1]
            if excluded is not None:
                ids = ids[~np.isin(ids, excluded)]
            yield pd.DataFrame({"doc_id": ids})

    return explode


class SearchEngine:
    """Query-side handle on a built index directory."""

    VOCAB_CAP = 200_000  # driver-side vocabulary bound (head terms by df)
    # decoded warm row ≈ term (dict-encoded, ~10 B amortized) + 3×8 B
    # numerics + columnar-cache overhead; the REAL number for a built tier
    # comes from warm_memory_report() — this constant only sizes the
    # head-term selection before the tier exists
    WARM_BYTES_PER_POSTING = 48

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache_postings: bool = True,
        vocab_cap: int | None = None,
        warm_budget_bytes: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.vocab_cap = vocab_cap or self.VOCAB_CAP
        self._warm_enabled = cache_postings
        self._warm: DataFrame | None = None  # decoded serving tier (lazy)
        self._warm_budget = warm_budget_bytes  # None = warm everything
        self._doomed_df: DataFrame | None = None  # lazy anti-join side (>cap)
        # (warm tier, its temp view, that view's plan cache) — _warm_binding
        self._warm_bound: tuple = (None, None, {})
        # warm serving cases (_warm_entry) and request-memo lookups
        # (_memoized) since the engine started; they survive rebinds, as
        # counters must
        self._cache_counts = dict.fromkeys(
            ("plan_cache_misses", "plan_cache_hits", "result_cache_hits",
             "request_memo_hits", "request_memo_misses"), 0
        )
        self._views: dict[str, DataFrame] = {}  # kind → df behind its temp view
        self._view_id = next(_VIEW_SEQ)  # names this engine's temp views
        self._load_index()

    def _load_index(self) -> None:
        """(Re)bind all index state: tables, meta, caches, tombstones."""
        spark, index_dir = self.spark, self.index_dir
        self._vocab_truncated = False
        self._warm_terms: frozenset[str] | None = None  # None = full tier warm
        self._df_cache: dict[str, int] = {}  # term -> document frequency
        for attr in ("_vocab", "_vocab_by_len", "_vocab_rev", "_vocabset", "_pads", "_suffix_memo"):
            if hasattr(self, attr):
                delattr(self, attr)
        self.meta: IndexMeta = load_meta(index_dir)
        self.postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        self.doc_stats = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
        self._bucket_partitioned = False
        cache_postings = self._warm_enabled
        # T12 query side: the index's stop-words never produce postings, so
        # they must leave query term sets too (else 'all'/'last'/'frequency'
        # require df=0 terms and match nothing)
        self._stopwords = frozenset(getattr(self.meta, "stopwords", []) or [])
        # runtime custom-dictionary overlay (settings.update_dictionary):
        # applied to this process's tokenizer so QUERY tokenization matches
        # the index's effective dictionary immediately — same
        # last-loaded-index-wins contract as the segmenter singleton itself
        from ..dictionary import set_custom_words

        set_custom_words(getattr(self.meta, "custom_dictionary", []) or [])
        # S5 synonyms ride with the index settings (builder.IndexMeta); the
        # engine feeds them into variant generation — MeiliSearch applies
        # synonyms at search time, the posting data is untouched
        self._synonyms: dict[str, list[str]] = dict(getattr(self.meta, "synonyms", {}) or {})
        # multi-field (attribute) index: postings carry field-prefixed terms
        # ("i\x1f<term>"); queries fan each word out across all searchable
        # attributes and scores weight per field (builder.field_params)
        self._fp = self.meta.field_params()
        # per-row BM25 contribution over the warm view as a SQL scalar (the
        # fielded tier pre-merges scores into "s")
        k1, b = self.meta.k1, self.meta.b
        N, avgdl = float(self.meta.n_docs), float(self.meta.avgdl)
        self._warm_s_sql = "s" if self._fp else (
            f"ln(1.0D + ({N!r}D - df + 0.5D) / (df + 0.5D))"
            f" * (tf * {k1 + 1.0!r}D)"
            f" / (tf + {k1!r}D * ({1.0 - b!r}D + {b!r}D * dl / {avgdl!r}D))"
        )
        self._fprefixes = (
            [f"{i}{FIELD_SEP}" for i in range(len(self.meta.fields))] if self._fp else []
        )
        # deleted docs (index/maintenance.py delete_docs): excluded exactly
        # in every scoring path; compact_index() resets the set — keep it
        # compacted before it grows unbounded (Lucene-style deletes).
        # Snapshotted at load; call refresh_deletes() on a live engine to
        # pick up later delete_docs calls.
        from ..index.maintenance import tombstoned_ids

        self._tombstones: list[int] = tombstoned_ids(spark, index_dir)
        if cache_postings:
            # Document-partitioned serving layout (the way search engines
            # shard): cache the postings hash-partitioned by bucket ONCE, so
            # every query's per-doc multi-term sums are complete within each
            # cached partition and the scoring job needs NO exchange at all —
            # scan(cache, term filter) → local top-k → driver merge.
            # Partition count sized by data (≈64 MB serving shards), capped at
            # the core count: a tiny index in 32 slivers pays 32 python-task
            # launches per query for no parallelism gain.
            psize = self._dir_bytes(os.path.join(index_dir, "postings"))
            P = max(1, min(spark.sparkContext.defaultParallelism, psize // (64 << 20) + 1))
            self.postings = self.postings.repartition(P, "bucket").persist()
            self.doc_stats = self.doc_stats.coalesce(max(1, P)).persist()
            self._bucket_partitioned = True
        # the request memo (_memoized) starts empty once every input it
        # was built from is reloaded
        self._memo: dict = {}

    @staticmethod
    def _dir_bytes(path: str) -> int:
        try:
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        except OSError:
            return 0

    # ------------------------------------------------------------------
    def warm_postings(self) -> DataFrame:
        """The hot serving tier: postings decoded ONCE (:meth:`_tier_rows`)
        into cached (term, doc_id, tf, dl, df) rows — (term, doc_id, s) on a
        fielded index — hash-partitioned by doc_id and term-sorted within.

        Point queries over this tier are pure JVM — filter(InSet) → hash agg
        (exchange-free: the cache partitioning already clusters doc_id) →
        TakeOrderedAndProject — no Python stage on the latency path at all.
        Measured: a mapInPandas stage costs ~150-190 ms fixed per job
        regardless of row count, which WAS the single-query p50
        (VERDICT r1 'performance weak' item 1).

        Memory trade-off: decoded rows run ~4× the compressed block bytes;
        this is the classic in-memory hot tier over the compressed
        source-of-truth layout, per serving shard at scale.  Disable with
        ``cache_postings=False`` (batch/analytics jobs keep the compressed
        block-max path; so do phrase queries — :meth:`_ranked_sql` has the
        route rule).

        With ``warm_budget_bytes`` set, only the HEAD TERMS BY POSTING COUNT
        that fit the budget (at WARM_BYTES_PER_POSTING estimated decoded
        bytes/row) are warmed — the guardrail for the 4× decode multiplier
        at 100×: head terms carry most of the postings AND most of the query
        traffic, so a small term set buys most of the latency win, and
        queries touching any cold term transparently fall back to the
        compressed posting blocks (:meth:`_warm_covers` routes per query;
        results are identical, tested): a top-k to the block-max heaps, an
        uncut request (sort, distinct, cursor) to the same warm statement
        over its own terms' blocks, decoded by :meth:`_tier_rows`."""
        if self._warm is None:
            src = self.postings
            if self._warm_budget is not None:
                budget_rows = max(0, int(self._warm_budget) // self.WARM_BYTES_PER_POSTING)
                tdf = src.select("term", "df").distinct()
                if self._fprefixes:
                    tdf = tdf.select(
                        F.substring_index("term", FIELD_SEP, -1).alias("term"), "df"
                    )
                # decoded rows for a word == sum of its per-field dfs;
                # running-total window over the df-desc order picks the
                # largest prefix of head terms inside the budget.  The
                # window runs over the TERM table (metadata-sized, one-off
                # at warm time), never the postings; at extreme vocab sizes
                # swap the exact cumsum for an approxQuantile df threshold.
                trows = tdf.groupBy("term").agg(F.sum("df").alias("rows"))
                wspec = (
                    Window.orderBy(F.desc("rows"), F.asc("term"))
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                sel = (
                    trows.withColumn("cum", F.sum("rows").over(wspec))
                    .filter(F.col("cum") <= F.lit(budget_rows))
                    .select("term")
                    .limit(self.vocab_cap)  # driver membership set stays bounded
                )
                self._warm_terms = frozenset(r["term"] for r in sel.collect())
                key = (
                    F.substring_index("term", FIELD_SEP, -1)
                    if self._fprefixes
                    else F.col("term")
                )
                src = src.filter(key.isin(*self._warm_terms)) if self._warm_terms else src.filter(F.lit(False))
            rows = max(self.meta.n_postings, 1)
            P = max(1, min(self.spark.sparkContext.defaultParallelism, rows * 32 // (64 << 20) + 1))
            warm = self._tier_rows(src.select(*_TIER_COLS))
            self._warm = (
                warm.repartition(P, "doc_id")
                # term-sorted WITHIN each doc_id partition: the in-memory
                # columnar cache keeps min/max stats per batch, so a query's
                # term filter prunes whole batches instead of scanning every
                # cached row — measured p50 0.239 s → 0.155 s at 800k docs,
                # and the gap widens with corpus size (the scan would
                # otherwise grow linearly).  Hash partitioning by doc_id is
                # preserved through the sort, so the per-doc agg stays
                # exchange-free.
                .sortWithinPartitions("term")
                .persist()
            )
            self._warm.count()
        return self._warm

    def _tier_rows(self, blocks: DataFrame) -> DataFrame:
        """Posting blocks (``_TIER_COLS``) → warm-tier rows, the shape
        :meth:`_warm_scored_sql` reads: (term, doc_id, tf, dl, df), or on a
        fielded index (base term, doc_id, s) merged ONCE per (word, doc)
        across fields, so every query keeps count(*) == matched-word-count.
        Deleted docs never enter (zero per-query cost for deletes).  The
        decode of the warm tier (:meth:`warm_postings` adds the partitioning
        and the persist) and of the exact route (:meth:`_ranked_sql`)."""
        m = self.meta
        rows = blocks.mapInPandas(
            _make_tier_exploder(m.k1, m.b, m.avgdl, m.n_docs, self._fp),
            _WARM_FIELDED_SCHEMA if self._fp else _WARM_SCHEMA,
        )
        if self._fp:
            rows = rows.groupBy("term", "doc_id").agg(F.sum("s").alias("s"))
        return self._exclude_deleted(rows)

    def _warm_view(self) -> str:
        """The warm tier's temp view name (registered once per tier build)."""
        return self._warm_binding()[0]

    def _warm_binding(self) -> tuple[str, dict]:
        """(warm view name, its plan cache), registered once per tier build.

        Warm queries run as ONE ``spark.sql`` string over this view (see
        :meth:`_ranked_sql`): building the plan through the Column API cost
        one py4j round trip per expression node — over a thousand per
        multi-variant request.  The view and the plan cache bound to it are
        swapped in ONE assignment, after the view is replaced: a reader
        that sees the new cache parses against the new tier, and a rebuilt
        tier (refresh, deletes) starts an empty cache."""
        w = self.warm_postings()
        bound = self._warm_bound
        if bound[0] is not w:
            # one view name per engine, replaced in place and never
            # dropped: dropping a temp view uncaches every cached plan with
            # the same result — after refresh_index over unchanged files,
            # that is the freshly built tier itself
            name = f"mst_warm_{self._view_id}"
            w.createOrReplaceTempView(name)
            bound = self._warm_bound = (w, name, {})
        return bound[1], bound[2]

    _PLAN_CACHE_CAP = 512  # parsed warm plans per binding (tiny objects)
    # collected rows kept per binding, all entries together: at the
    # default 10-hit page that is thousands of pages, above the plan cap
    _RESULT_ROWS_CAP = 65_536

    def _warm_scored_sql(
        self, view: str, qterms: list[QueryTerm], excluded: str | None = None,
        allowed: str | None = None,
    ) -> str:
        """(variant_id, doc_id, score, terms_matched) per (variant, doc) over
        the warm view: ``term IN (…)`` (an InSet — the columnar cache prunes
        term-sorted batches) → ``explode(map(term → variant ids)[term])`` →
        the BM25 scalar → sum and count, exchange-free (the tier is
        hash-partitioned by doc_id).  A single-variant query takes a
        constant variant id instead of the map, so its generated code is
        identical across queries.  The docs in ``excluded`` (a query of the
        doc ids holding a negative keyword) drop at the scan, and so do the
        docs outside ``allowed`` (a query of allowed doc ids): the whole
        matching set is scored here, so both are exact.  Spark plans
        ``doc_id NOT IN (…)`` as an anti-join and ``doc_id IN (…)`` as a
        semi-join below the explode, broadcast at serving sizes, which
        keeps the stream side's doc_id partitioning and the aggregates
        exchange-free."""
        by_term: dict[str, list[int]] = {}
        for q in qterms:
            by_term.setdefault(q.term, []).append(q.variant_id)
        terms = sorted(by_term)
        where = f"term IN ({', '.join(map(sql_str, terms))})" if terms else "FALSE"
        if excluded is not None:
            where += f" AND doc_id NOT IN ({excluded})"
        if allowed is not None:
            where += f" AND doc_id IN ({allowed})"
        vids = sorted({q.variant_id for q in qterms})
        if len(vids) <= 1:
            return (
                f"(SELECT {vids[0] if vids else 0} AS variant_id, doc_id,"
                f" sum({self._warm_s_sql}) AS score, count(1) AS terms_matched"
                f" FROM {view} WHERE {where} GROUP BY doc_id)"
            )
        vmap = _sql_map((sql_str(t), f"array({', '.join(map(str, by_term[t]))})") for t in terms)
        return (
            f"(SELECT variant_id, doc_id, sum(s) AS score, count(1) AS terms_matched"
            f" FROM (SELECT explode({vmap}[term]) AS variant_id, doc_id,"
            f" {self._warm_s_sql} AS s FROM {view} WHERE {where})"
            f" GROUP BY variant_id, doc_id)"
        )

    def _warm_entry(self, text: str, eager: bool = False) -> list:
        """A warm statement's plan-cache entry ``[Dataset, pages]``, parsed
        on a miss; ``pages`` maps hit columns to the resolved hits an eager
        page kept (:meth:`_keep_page`).  Counts the serving case: a miss, a
        plan hit, or — for an ``eager`` caller finding a kept page — a
        result hit.

        Entries are kept per warm binding, keyed by the SQL text, which
        fixes every input of the answer: terms, variants, weights, ``k``,
        threshold, normalisation, filter, negatives and view names.  Spark
        caches the analyzed and compiled QueryExecution on the Dataset, so
        a plan hit pays only execution.  The cache belongs to one warm view
        (:meth:`_warm_binding`), so it can never serve a stale tier; a
        refresh that rereads doc_stats also rebuilds the tier, so it never
        serves stale metadata either."""
        plans = self._warm_binding()[1]
        entry = plans.get(text)
        if entry is None:
            entry, case = [self.spark.sql(text), {}], "plan_cache_misses"
        else:
            case = "result_cache_hits" if eager and entry[1] else "plan_cache_hits"
        with _PLAN_LOCK:
            self._cache_counts[case] += 1
            if case == "plan_cache_misses":
                # FIFO eviction iterates the dict: no other thread's insert
                # may land between the iterator and its first key
                if len(plans) >= self._PLAN_CACHE_CAP:
                    plans.pop(next(iter(plans), None), None)
                plans[text] = entry
        return entry

    def _keep_page(self, text: str, entry: list, cols: tuple, hits: tuple) -> None:
        """Keep ``hits`` under their columns ``cols`` in ``entry``,
        ``text``'s plan-cache entry, under ``_RESULT_ROWS_CAP`` hits for
        the whole binding: the oldest entries give up their pages (their
        Datasets stay) until these fit.  A page larger than the ceiling is
        not kept, nor is an entry no longer in the current binding
        (evicted, or the tier rebound meanwhile)."""
        cap = self._RESULT_ROWS_CAP
        with _PLAN_LOCK:
            plans = self._warm_bound[2]
            if plans.get(text) is not entry or len(hits) > cap:
                return
            held = _rows_held(plans)
            for old in plans.values():
                if held + len(hits) <= cap:
                    break
                held -= sum(map(len, old[1].values()))
                old[1] = {}
            entry[1] = {**entry[1], cols: hits}

    def _ranked_rows(self, req: ServeRequest, cols: Sequence[str] | None = None) -> list[dict]:
        """The serving planner's eager step: the rows of the statement
        :meth:`_ranked_sql` writes, collected and joined to their stored
        hit ``cols`` (:meth:`_resolve_meta`; by default a hit without
        retrieved attributes) — every eager top-k page ends here.  A warm
        statement's resolved hits stay in its plan-cache entry
        (:meth:`_warm_entry`), keyed by ``cols``, so a repeated request
        returns copies of them with no Spark job, no Py4J round trip and
        no doc-store read; other ``cols`` over a kept statement re-read
        only the doc store.  A request with no scoring word, or none that
        is an index word when the driver vocabulary is complete
        (:meth:`_vocab_complete`), returns no rows before planning."""
        qterms = req.qterms
        if not qterms or (
            self._vocab_complete() and self._vocab_set().isdisjoint(q.term for q in qterms)
        ):
            return []
        cols = tuple(cols or self._hit_cols(None))
        with self._ranked_sql(req) as (text, route):
            if route != "warm":
                return self._resolve_meta(self.spark.sql(text).collect(), cols)
            entry = self._warm_entry(text, eager=True)
            pages = entry[1]
            hits = pages.get(cols)
            if hits is None:
                kept = next(iter(pages.values()), None)
                rows = entry[0].collect() if kept is None else [
                    {c: h[c] for c in _SCORED if c in h} for h in kept
                ]
                hits = tuple(self._resolve_meta(rows, cols))
                self._keep_page(text, entry, cols, hits)
            return [_copy_hit(h) for h in hits]

    def _stats_view(self) -> str:
        """doc_stats as a temp view — the join side of SQL-composed serving
        paths (the warm route's filter, query.federation's url join)."""
        return self._table_view(self.doc_stats, "stats")

    def _postings_view(self) -> str:
        """The posting blocks as a temp view — the scan of the compressed
        routes, written as SQL text (:meth:`_blocks_sql`)."""
        return self._table_view(self.postings, "postings")

    def _table_view(self, df: DataFrame, kind: str) -> str:
        """``df`` as the engine's ``mst_<kind>_<id>`` temp view, registered
        once per binding (the :meth:`_warm_view` contract: replaced when
        the engine rebinds, never dropped)."""
        name, views = f"mst_{kind}_{self._view_id}", self._views
        if views.get(kind) is not df:
            df.createOrReplaceTempView(name)
            views[kind] = df
        return name

    def _blocks_sql(self, terms: list[str], cols: str) -> str:
        """``SELECT cols`` over the posting blocks of the index-level
        ``terms`` — one ``spark.sql`` text, where the Column API paid a
        Py4J round trip per expression node and about four per literal;
        the ``term IN`` filter pushes to the parquet scan."""
        where = f"term IN ({', '.join(map(sql_str, terms))})" if terms else "FALSE"
        return f"SELECT {cols} FROM {self._postings_view()} WHERE {where}"

    def _warm_covers(
        self, qterms: Sequence[QueryTerm], neg: Sequence[str] = (),
        prefixes: tuple[str, ...] | None = None,
    ) -> bool:
        """True iff every query term and negative keyword (``neg``) is
        resident in the warm tier, and no attributesToSearchOn restriction
        (``prefixes``) applies: warm rows pre-merge the per-field scores,
        so only the compressed path's term lookup can honour one.

        On a budget-truncated tier a cold term would be silently ABSENT from
        the decoded rows (wrong scores, not slow scores; for a negative
        keyword, a lost exclusion), so any cold word routes the whole query
        to the compressed path.  A term the index has never seen is also
        routed cold: the compressed path resolves it identically (zero
        postings), and treating unknown as cold keeps this check a pure
        frozenset lookup with no vocab scan."""
        if not self._warm_enabled or prefixes is not None:
            return False
        if self._warm_budget is None:
            return True
        if self._warm_terms is None:  # budget set but tier not built yet
            self.warm_postings()
        return all(q.term in self._warm_terms for q in qterms) and all(
            t in self._warm_terms for t in neg
        )

    def warm_memory_report(self) -> dict:
        """Memory accounting for the decoded serving tier (VERDICT r2 #8).

        Returns actual cached bytes (Spark block-manager storage info — the
        whole truth, including the compressed postings/doc_stats caches),
        the warm tier's row count and estimated decoded bytes, the JVM's max
        heap, and the est. heap fraction — the number an operator watches
        before raising ``warm_budget_bytes`` on a serving shard.  Beside
        them, the warm serving cases counted since the engine started
        (``plan_cache_misses``, ``plan_cache_hits``, ``result_cache_hits``),
        the resolved hits the plan cache keeps (``result_rows_held``, at
        most ``result_rows_cap``), the request-memo lookups
        (``request_memo_hits``, ``request_memo_misses``) and the entries
        the memo holds (``request_memo_entries``) — kept on the driver, so
        not in ``cached_bytes_actual``.

        On a ``cache_postings=False`` engine this is a pure estimate from
        index metadata (``warm_rows`` is None): the probe must not itself
        decode and persist a tier no query path will ever read."""
        warm_rows = int(self.warm_postings().count()) if self._warm_enabled else None
        jsc = self.spark.sparkContext._jsc.sc()
        cached = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        heap = int(self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        est = (self.meta.n_postings if warm_rows is None else warm_rows) * self.WARM_BYTES_PER_POSTING
        terms = self._warm_terms
        return {
            "warm_rows": warm_rows,
            "total_postings": int(self.meta.n_postings),
            "est_warm_bytes": int(est),
            "cached_bytes_actual": int(cached),
            "jvm_max_heap_bytes": heap,
            "est_heap_fraction": est / heap if heap else None,
            "budget_bytes": self._warm_budget,
            "truncated": None if warm_rows is None else terms is not None,
            "warm_term_count": None if terms is None else len(terms),
            **self._cache_report(),
        }

    def _cache_report(self) -> dict:
        """The plan cache's and request memo's counters, the hits the
        plan cache's binding keeps and the entries the memo holds."""
        with _PLAN_LOCK:
            return {
                **self._cache_counts,
                "result_rows_held": _rows_held(self._warm_bound[2]),
                "result_rows_cap": self._RESULT_ROWS_CAP,
                "request_memo_entries": len(self._memo),
            }

    def vocabulary(self) -> list[str]:
        """Sorted index terms, collected once per engine — BOUNDED.

        Backs Q10 term expansion (tokenizer/query_processor.py:328-471) and
        the reference's partial-compound matching.  The driver copy is capped
        at ``vocab_cap`` terms by DESCENDING document frequency: on a Thai
        corpus the newmm dictionary (~60k words) fits entirely, while on an
        open web corpus the unbounded Latin tail (typos, urls, codes) — the
        r1 driver-OOM risk — is cut off and served by the distributed
        fallback :meth:`expand_terms_spark` instead.  Head terms are exactly
        the useful expansion targets, so the cap costs almost no recall."""
        if not hasattr(self, "_vocab"):
            cap = self.vocab_cap
            rows = (
                self._base_terms_df()
                .groupBy("term")
                .agg(F.max("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(cap + 1)
                .collect()
            )
            self._vocab_truncated = len(rows) > cap
            rows = rows[:cap]
            for r in rows:
                self._df_cache.setdefault(r["term"], int(r["df"]))
            self._vocab = sorted(r["term"] for r in rows)
            by_len: dict[int, list[str]] = {}
            for t in self._vocab:
                by_len.setdefault(len(t), []).append(t)
            self._vocab_by_len = by_len
        return self._vocab

    def _base_terms_df(self) -> DataFrame:
        """(term, df) with field prefixes stripped — the WORD-level view of
        the postings table (expansion/typo/df consumers think in words, not
        per-attribute term spaces).  On a fielded index a word's df is the
        max across its field variants (its best-case selectivity); prefix
        pushdown is lost there, but these are bounded offline/driver scans,
        not the serving path."""
        if not self._fprefixes:
            return self.postings.select("term", "df")
        return self.postings.select(
            F.substring_index("term", FIELD_SEP, -1).alias("term"), "df"
        )

    def _vocab_set(self) -> set[str]:
        if not hasattr(self, "_vocabset"):
            self._vocabset = set(self.vocabulary())
        return self._vocabset

    def _vocab_complete(self) -> bool:
        """True iff the driver vocabulary is collected and not truncated:
        it then holds every index word, with its df in ``_df_cache``, so a
        word outside it has no posting.  Never collects it."""
        return hasattr(self, "_vocab") and not self._vocab_truncated

    def expand_terms(self, token: str, max_expansions: int = 10) -> list[str]:
        """Q10: index terms containing (Thai) or prefixed by (Latin) ``token``.

        Latin prefix lookup is a bisect range scan on the sorted vocab
        (O(log n + m), not a linear pass); Thai containment scans the bounded
        vocab.  When the driver vocab was truncated and finds nothing, the
        distributed fallback handles the tail."""
        if not token or len(token) < 2:
            return []
        vocab = self.vocabulary()
        if token.isascii():
            import bisect

            i = bisect.bisect_left(vocab, token)
            out: list[str] = []
            while i < len(vocab) and vocab[i].startswith(token):
                if vocab[i] != token:
                    out.append(vocab[i])
                    if len(out) >= max_expansions:
                        break
                i += 1
        else:
            out = []
            for t in vocab:
                if token in t and t != token:
                    out.append(t)
                    if len(out) >= max_expansions:
                        break
        if not out and self._vocab_truncated:
            out = self.expand_terms_spark(token, max_expansions)
        return out

    def expand_terms_suffix(self, token: str, max_expansions: int = 10) -> list[str]:
        """Q10 suffix completion: index terms ENDING with ``token`` — the
        reference's ``*tok`` wildcard variants
        (tokenizer/query_processor.py:328-471), which prefix expansion
        misses ('book' → 'notebook'/'cookbook').  Latin only: Thai tokens
        already get full containment in :meth:`expand_terms`.

        Bisect range scan over a REVERSED-term sorted copy of the bounded
        vocab (suffix of t == prefix of t[::-1]); built lazily once per
        engine.  Tail fallback for truncated vocabs goes through an
        ``endswith`` scan (no pushdown — suffix predicates never prune a
        lexicographic sort; bounded-k collect keeps it safe)."""
        if not token or len(token) < 2 or not token.isascii():
            return []
        import bisect

        vocab = self.vocabulary()
        if not hasattr(self, "_vocab_rev"):
            self._vocab_rev = sorted(t[::-1] for t in vocab)
        rtok = token[::-1]
        i = bisect.bisect_left(self._vocab_rev, rtok)
        out: list[str] = []
        while i < len(self._vocab_rev) and self._vocab_rev[i].startswith(rtok):
            t = self._vocab_rev[i][::-1]
            if t != token:
                out.append(t)
                if len(out) >= max_expansions:
                    break
            i += 1
        if not out and self._vocab_truncated and token not in self._vocab_set():
            # distributed tail fallback ONLY for tokens outside the head
            # vocab (an in-vocab word with no head completions is the common
            # case and must not trigger a scan: unlike the prefix fallback,
            # endswith prunes nothing on the term-sorted layout).  Memoized
            # per engine so repeated queries pay the scan once.
            if not hasattr(self, "_suffix_memo"):
                self._suffix_memo: dict[str, list[str]] = {}
            if token in self._suffix_memo:
                return list(self._suffix_memo[token])
            rows = (
                self._base_terms_df()
                .filter(F.col("term").endswith(token) & (F.col("term") != token))
                .groupBy("term")
                .agg(F.max("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_expansions)
                .collect()
            )
            out = [r["term"] for r in rows]
            self._suffix_memo[token] = list(out)
        return out

    def expand_terms_spark(self, token: str, max_expansions: int = 10) -> list[str]:
        """Distributed Q10 expansion for tokens outside the bounded driver
        vocab: prefix (Latin — StartsWith pushes to the term-sorted parquet
        scan, row-group min/max pruning) or containment (Thai) over the full
        term table, df-ranked, k-bounded collect."""
        cond = (
            F.col("term").startswith(token) if token.isascii() else F.col("term").contains(token)
        )
        rows = (
            self._base_terms_df()
            .filter(cond & (F.col("term") != token))
            .groupBy("term")
            .agg(F.max("df").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def expand_terms_fuzzy(self, token: str, max_expansions: int = 5) -> list[str]:
        """Typo tolerance against the vocabulary — MeiliSearch's typo ranking
        rule (1 edit for words ≥5 chars, 2 for ≥9; the rule the reference
        configures via rankingRules=[...,typo,...],
        settings_manager.py:72-79).  Script-agnostic like MeiliSearch's
        word-level typo rule: Thai tokens match Thai vocabulary, Latin
        matches Latin (cross-script neighbors are never real typos — a
        1-edit hop between scripts is an encoding accident, not a typo).
        Thai lengths count codepoints, so the ≥5 threshold means most
        single newmm words qualify at budget 1.  Scans only the ±budget
        LENGTH BANDS of the bounded vocab (edit distance > budget is
        impossible outside them), so per-token cost is a small slice of the
        dictionary, not the corpus vocabulary.

        Honours the index's ``typoTolerance`` setting
        (settings.update_typo_tolerance): enabled flag, the
        minWordSizeForTypos thresholds, and disableOnWords."""
        cfg = self._typo_config()
        if not cfg["enabled"] or token.lower() in cfg["disable_on_words"]:
            return []
        if len(token) < cfg["one_typo"]:
            return []
        budget = 2 if len(token) >= cfg["two_typos"] else 1
        self.vocabulary()
        ascii_tok = token.isascii()
        # EDIT-DISTANCE-ORDERED: all 1-edit candidates precede any 2-edit
        # candidate, so a bounded pool (max_expansions) can never truncate
        # away a closer correction in favor of a farther one met earlier in
        # length-band scan order (MeiliSearch's typo rule likewise ranks
        # 1-typo matches above 2-typo) — suggest() and the typo variants
        # both depend on this ordering
        out: list[str] = []
        seen: set[str] = set()
        for b in range(1, budget + 1):
            for length in range(len(token) - b, len(token) + b + 1):
                for t in self._vocab_by_len.get(length, ()):
                    if t == token or t in seen or t.isascii() != ascii_tok:
                        continue
                    if _edit_distance_within(token, t, b):
                        seen.add(t)
                        out.append(t)
                        if len(out) >= max_expansions:
                            return out
        return out

    def _typo_config(self) -> dict:
        """Resolved typoTolerance settings (meta overrides on the MeiliSearch
        defaults); disable_on_words as a set for O(1) gating."""
        if not hasattr(self, "_typo_cfg"):
            from ..index.settings import TYPO_DEFAULTS

            cfg = {**TYPO_DEFAULTS, **(getattr(self.meta, "typo_tolerance", None) or {})}
            cfg["disable_on_words"] = frozenset(cfg["disable_on_words"])
            self._typo_cfg = cfg
        return self._typo_cfg

    def _index_term_map(
        self, qterms: Sequence[QueryTerm], prefixes: tuple[str, ...] | None = None
    ) -> dict[str, list[int]]:
        """query (variant, word) pairs → index-term → variant ids.

        On a fielded index each query word fans out to one lookup term per
        searched attribute — ``prefixes``, the attributesToSearchOn
        restriction, or every searchable attribute (the reference's
        searchableAttributes: a word matches in ANY field,
        settings_manager.py:72-95) — the fan-out is a LOOKUP-set expansion
        only, scoring stays per (field, term) row."""
        by_term: dict[str, list[int]] = {}
        prefixes = prefixes or self._fprefixes
        for q in qterms:
            if prefixes:
                for pre in prefixes:
                    by_term.setdefault(pre + q.term, []).append(q.variant_id)
            else:
                by_term.setdefault(q.term, []).append(q.variant_id)
        return by_term

    def _search_on(self, attributes: list[str] | None) -> tuple[str, ...] | None:
        """attributesToSearchOn (MeiliSearch search param, default all) →
        the field prefixes term lookup fans out to, None when it names
        every searchable attribute or is not given.  Scoring math is
        untouched: weights, df and avgdl ride the per-field term rows that
        remain.  Unknown fields are a request error (MeiliSearch 400s); it
        requires a fielded index."""
        if attributes is None:
            return None
        if not self._fp:
            raise ValueError(
                "attributes_to_search_on requires a multi-attribute index "
                "(build_index(fields=[...]))"
            )
        if not attributes:
            raise ValueError("attributes_to_search_on must name at least one field")
        idx = {f: i for i, f in enumerate(self.meta.fields)}
        bad = sorted(a for a in set(attributes) if a not in idx)
        if bad:
            raise ValueError(
                f"unknown searchable attributes {bad}; index fields are "
                f"{self.meta.fields}"
            )
        prefixes = [f"{i}{FIELD_SEP}" for i in sorted({idx[a] for a in attributes})]
        return None if prefixes == self._fprefixes else tuple(prefixes)

    def candidate_blocks(self, qterms: list[QueryTerm]) -> DataFrame:
        """Term lookup (X2): every posting-block column plus ``variant_id``
        (:meth:`_candidate_sql`)."""
        return self.spark.sql(self._candidate_sql(qterms, ["*"]))

    def _candidate_sql(
        self, qterms: Sequence[QueryTerm], cols: list[str],
        prefixes: tuple[str, ...] | None = None,
    ) -> str:
        """The candidate posting blocks as SQL text: ``variant_id`` and
        ``cols`` of the query terms' blocks in the searched attributes
        (``prefixes``, :meth:`_index_term_map`).

        The (tiny) query-terms table is folded into the plan as a literal map
        instead of a broadcast join — same semantics, but no broadcast
        exchange and no extra job on the per-query latency path.  The
        ``term IN`` filter pushes to the scan so parquet row-group min/max
        stats on the term-sorted files prune untouched groups.
        """
        by_term = self._index_term_map(qterms, prefixes)
        terms = sorted(by_term)
        vmap = _sql_map((sql_str(t), f"array({', '.join(map(str, by_term[t]))})") for t in terms)
        vid = f"explode({vmap}[term])" if terms else "0"
        return self._blocks_sql(terms, ", ".join([f"{vid} AS variant_id", *cols]))

    def _excluded_array(self):
        """Snapshot tombstone set for the python heap paths.  Ships in the
        task closure (~8 bytes/id): fine through ~10^5 deletions; beyond
        that compaction is overdue (TOMBSTONE_LITERAL_CAP guidance) — the
        JVM paths switch to an anti-join there, the heap paths accept the
        closure cost to keep exact full pages."""
        if not self._tombstones:
            return None
        return np.sort(np.asarray(self._tombstones, dtype=np.int64))

    def _exclude_deleted(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned doc ids from a (…, doc_id, …) frame: a
        ``doc_id NOT IN (…)`` SQL predicate for small delete sets (one Py4J
        call, where ``Column.isin`` paid about four per id), anti-join above
        TOMBSTONE_LITERAL_CAP (a 10^5+-literal plan is the wrong shape — and
        that size means compact_index is overdue)."""
        from ..index.maintenance import TOMBSTONE_LITERAL_CAP

        if not self._tombstones:
            return df
        if len(self._tombstones) <= TOMBSTONE_LITERAL_CAP:
            ids = ", ".join(str(int(i)) for i in self._tombstones)
            return df.filter(f"doc_id NOT IN ({ids})")
        # anti-join against the SNAPSHOTTED ids (not a re-read of the
        # tombstone files — files may have been cleared by a concurrent
        # compaction, and snapshot semantics must match the literal branch)
        if self._doomed_df is None:
            self._doomed_df = self.spark.createDataFrame(
                [(int(i),) for i in self._tombstones], "doc_id long"
            ).cache()
        return df.join(self._doomed_df, "doc_id", "left_anti")

    def refresh_index(self) -> None:
        """Rebind a live engine to the CURRENT on-disk index — required after
        ``compact_index`` (or any rebuild) over this directory: the engine's
        DataFrames and cached file listings otherwise keep pointing at the
        swapped-out tables (maintenance.py single-writer contract).  Drops
        every derived cache (postings/doc_stats persists, warm tier, vocab,
        df memo, tombstone snapshot, plan cache) and re-reads everything."""
        self._drop_warm()
        if hasattr(self, "_typo_cfg"):
            del self._typo_cfg  # settings may have changed on disk
        if self._bucket_partitioned:
            self.postings.unpersist()
            self.doc_stats.unpersist()
        self._load_index()

    def refresh_deletes(self) -> int:
        """Re-read the tombstone set on a live engine (the reference's
        deletes apply to the running MeiliSearch immediately; here the
        serving tier re-excludes on refresh).  Returns the new count."""
        from ..index.maintenance import tombstoned_ids

        before = set(self._tombstones)
        self._tombstones = tombstoned_ids(self.spark, self.index_dir)
        if set(self._tombstones) != before:
            self._drop_warm()  # rebuilt (minus deletes) on next warm query
        return len(self._tombstones)

    def _drop_warm(self) -> None:
        """Unpersist the warm tier and the tombstone anti-join side, and
        drop the plan cache bound to the tier with the hits it keeps, and
        the request memo; the next warm query rebuilds the tier and starts
        empty caches."""
        for df in (self._warm, self._doomed_df):
            if df is not None:
                df.unpersist()
        self._warm, self._doomed_df = None, None
        self._warm_bound = (None, None, {})
        self._memo = {}

    def _memoized(self, key: tuple, build):
        """The request memo: ``build()``'s value for ``key``, built once
        per binding and kept until the binding changes (``refresh_index``,
        ``refresh_deletes`` after a delete, which start a new memo), at
        most ``_PLAN_CACHE_CAP`` entries, the oldest evicted first.  Keys
        are tagged tuples of every input of the value besides the binding;
        values are never mutated by their readers.  A value built while
        the binding changed is returned but not kept.  Counts each lookup
        as a hit or a miss."""
        memo = self._memo
        value = memo.get(key)
        hit = value is not None
        if not hit:
            value = build()
        with _PLAN_LOCK:
            self._cache_counts["request_memo_hits" if hit else "request_memo_misses"] += 1
            if not hit and memo is self._memo:
                # FIFO eviction iterates the dict under the lock, as in
                # _warm_entry
                if len(memo) >= self._PLAN_CACHE_CAP:
                    memo.pop(next(iter(memo), None), None)
                memo[key] = value
        return value

    def score_variants_topk(self, req: ServeRequest, partitions: int | None = None) -> DataFrame:
        """EXACT per-variant top-``req.k`` with block-max bucket pruning (R11).

        One small shuffle of candidate *blocks* by (variant, bucket) — doc
        alignment of buckets across terms makes per-bucket scores final, so
        decoded postings never shuffle at all, and buckets whose block-max
        bound cannot reach the running k-th score never decode (the exact
        route, for requests without a ``k``, decodes every candidate
        posting into tier rows and aggregates them in the JVM instead,
        :meth:`_ranked_sql`).  Output is ≤ partitions × k rows per variant;
        merge with a global top-k.
        """
        blocks, score = self._heap_inputs(req, ["block_max_score"])
        if not self._bucket_partitioned:
            # cold path: establish bucket-completeness per partition explicitly
            partitions = partitions or self.spark.sparkContext.defaultParallelism
            blocks = blocks.repartition(partitions, "bucket")
        return blocks.mapInPandas(_make_bucket_topk(score, req.k), _TOPK_SCHEMA)

    def _heap_inputs(self, req: ServeRequest, extra_cols: list[str]):
        """(candidate blocks, per-group scorer) of ``req`` — the set-up both
        heap routes share; phrase checks add ``pos_bytes`` and need a
        positional index.  The heaps exclude tombstones; negative keywords
        restrict the allowed docs instead (:meth:`_ranked_sql`)."""
        cols = ["bucket", "term", "df", *extra_cols, "doc_bytes", "tf_bytes", "dl_bytes"]
        if req.phrase_terms:
            if not getattr(self.meta, "positional", False):
                raise ValueError(
                    "phrase matching requires a positional index "
                    "(build_index(positional=True))"
                )
            cols.append("pos_bytes")
        m = self.meta
        score = _make_group_scorer(
            m.k1, m.b, m.avgdl, m.n_docs, req.required or {}, req.phrase_terms,
            self._excluded_array(), self._fp, req.prefixes or self._fprefixes,
        )
        return self.spark.sql(self._candidate_sql(req.qterms, cols, req.prefixes)), score

    def term_dfs(
        self, terms: list[str], prefixes: tuple[str, ...] | None = None
    ) -> dict[str, int]:
        """Document frequency per query term (drives 'frequency' matching)
        in the searched attributes: ``prefixes``, an attributesToSearchOn
        restriction, or all (None), where a word's df is the max over its
        fields.

        One term-pushdown scan for the terms not yet known, written as SQL
        text over the posting blocks (:meth:`_blocks_sql`).  Unrestricted
        dfs are memoized per engine, so repeated/warm queries pay nothing,
        and with a complete driver vocabulary every index word is already
        cached, so no scan runs at all; restricted dfs are computed fresh,
        so the memo keeps its all-field values.  A term absent from the
        index gets df=0 (sorts first — required earliest — which keeps
        unknown terms from silently relaxing)."""
        memo = self._df_cache if prefixes is None else {}
        missing = sorted({t for t in terms if t not in memo})
        if missing and (prefixes is not None or not self._vocab_complete()):
            pre = prefixes or self._fprefixes
            keys = [p + t for t in missing for p in pre] if pre else missing
            # the field prefix is stripped AFTER the pushed-down term filter
            word = f"substring_index(term, {sql_str(FIELD_SEP)}, -1)" if pre else "term"
            text = self._blocks_sql(keys, f"{word} AS word, max(df) AS df") + " GROUP BY 1"
            memo.update((r["word"], int(r["df"])) for r in self.spark.sql(text).collect())
            for t in missing:
                memo.setdefault(t, 0)
        return {t: memo.get(t, 0) for t in terms}

    def allowed_docs(self, filters: dict) -> DataFrame:
        """P4: filter dict → allowed doc_id set from the doc metadata table
        (reference filter semantics: restrict candidates, corpus-wide BM25
        stats unchanged — search_executor.py:766-829)."""
        return self.doc_stats.filter(self._filter_sql(filters) or "TRUE").select("doc_id")

    def _filter_sql(self, filters: dict | None) -> str | None:
        """A request's filter as validated Spark SQL (None = unfiltered).
        When the index declares ``filterableAttributes``, undeclared fields
        are a request error (MeiliSearch 400); like a ``_geo`` filter on an
        index without lat/lng, it raises here, before any Spark job."""
        if not filters:
            return None
        check_declared(
            filters.keys(),
            getattr(self.meta, "filterable_attributes", None),
            "filterable fields",
        )
        self._check_geo_filter(filters)
        return filters_to_sql(filters)

    def _check_geo_filter(self, filters: dict | None) -> None:
        """A ``_geo`` filter needs lat/lng doc metadata — raise the clean
        request error (not a plan-time AnalysisException) on EVERY path that
        compiles filters: search, facets, deletes."""
        if "_geo" in (filters or {}):
            missing = {"lat", "lng"} - set(self.doc_stats.columns)
            if missing:
                raise ValueError(
                    f"_geo filter needs lat/lng doc metadata; missing {sorted(missing)}"
                )

    def score_variants_topk_filtered(self, req: ServeRequest, allowed: DataFrame) -> DataFrame:
        """Exact per-variant top-k over an allowed-doc subset (P4 + R11) —
        the compressed route for restricted requests the warm tier cannot
        serve (:meth:`_ranked_topk`).

        Cogroups candidate blocks with the allowed doc ids per bucket:
        buckets with no allowed docs are pruned before any decode, and the
        decode loop intersects with the allowed set before the heap.  The
        allowed side arrives as one hash shuffle of bare doc ids (the filter
        predicate itself was already pushed into the doc_stats scan).

        ``block_max_score`` is intentionally NOT selected: per-bucket groups
        are scored independently (no running cross-bucket threshold exists
        inside a cogroup), so the bound could never prune here — shipping it
        through the Arrow exchange was pure dead weight (ADVICE r2)."""
        blocks, score = self._heap_inputs(req, [])
        allowed_b = allowed.withColumn(
            "bucket", (F.col("doc_id") / F.lit(self.meta.bucket_span)).cast("long")
        )
        return (
            blocks.groupby("bucket")
            .cogroup(allowed_b.groupby("bucket"))
            .applyInPandas(_make_filtered_bucket_topk(score, req.k), _TOPK_SCHEMA)
        )

    def _drop_stopwords(self, terms: list[str]) -> list[str]:
        if not self._stopwords:
            return terms
        return [t for t in terms if t not in self._stopwords]

    def _doc_store(self):
        """pyarrow dataset over doc_stats for direct point lookups."""
        if not hasattr(self, "_pads"):
            import pyarrow.dataset as pads

            self._pads = pads.dataset(os.path.join(self.index_dir, "doc_stats"))
        return self._pads

    def _hit_cols(self, attributes: list[str] | None, variant: bool = False) -> list[str]:
        """A hit row's columns — ``url, doc_id, score, [variant_type,]
        terms_matched``, the stored text crop, then the retrieved
        ``attributes`` (validated, :meth:`_check_attrs`): the one
        definition behind every hit shape, lazy or eager."""
        return list(
            dict.fromkeys(
                ["url", "doc_id", "score", *(["variant_type"] if variant else []), "terms_matched"]
                + (["text_crop"] if "text_crop" in self.doc_stats.columns else [])
                + self._check_attrs(attributes)
            )
        )

    def _public_fields(self) -> list[str]:
        """The retrievable/facetable/distinct-able document fields — the one
        shared definition lives on IndexMeta.public_fields."""
        return self.meta.public_fields(self.doc_stats.columns)

    def _check_attrs(self, attributes: list[str] | None) -> list[str]:
        """Validate an attributesToRetrieve list against the stored doc
        metadata (reference search_executor.py:721-723): unknown fields are
        a request error (MeiliSearch 400s), ``_``-prefixed fields are never
        returned (hit stripping, :363-367)."""
        if not attributes:
            return []
        public = set(self._public_fields())
        bad = sorted(a for a in set(attributes) if a not in public)
        if bad:
            raise ValueError(
                f"attributes_to_retrieve {bad} not in stored doc fields "
                f"{sorted(public)}"
            )
        return [a for a in dict.fromkeys(attributes) if not a.startswith("_")]

    def _resolve_meta(self, rows: list, cols: Sequence[str]) -> list[dict]:
        """k-bounded doc-metadata lookup + driver-side merge: the scored
        ``rows`` gain the stored hit ``cols`` (:meth:`_hit_cols`).

        Serving engines resolve stored fields for the k winners with a DIRECT
        point read against the doc store, not a cluster job: doc_stats files
        are doc_id-contiguous (range-partitioned build), so a pyarrow read
        with an ``isin`` filter prunes to the few row groups containing the
        ids via parquet min/max statistics — microseconds of I/O, zero Spark
        scheduling.  Falls back to a cached-doc_stats filter scan if the
        direct read fails (e.g. non-local storage without pyarrow access)."""
        if not rows:
            return []
        ids = [int(r["doc_id"]) for r in rows]
        stored = [c for c in cols if c not in _SCORED]
        cols = ["doc_id", *stored]
        try:
            import pyarrow.dataset as pads

            tbl = self._doc_store().to_table(filter=pads.field("doc_id").isin(ids), columns=cols)
            meta = {int(d["doc_id"]): d for d in tbl.to_pylist()}
        except Exception:  # noqa: BLE001 — remote stores: fall back to Spark
            meta = {
                int(m["doc_id"]): m
                for m in self.doc_stats.select(*cols).filter(F.col("doc_id").isin(ids)).collect()
            }
        out = []
        for r in rows:
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            m = meta.get(int(d["doc_id"]))
            if m is None:
                continue
            for c in stored:
                d[c] = m[c]
            out.append(d)
        return out

    def list_documents(
        self,
        offset: int = 0,
        limit: int = 20,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """MeiliSearch ``GET /indexes/:uid/documents``: a stable page of the
        stored documents (doc_id order — the build's url rank, so pagination
        is deterministic across calls), tombstoned docs excluded, columns
        limited to the requested public ``fields`` (default: all public).

        Plan: doc_stats scan → deletes excluded → ORDER BY the
        range-partitioned doc_id → offset+limit cut; column pruning pushes
        the ``fields`` selection into the parquet scan."""
        if offset < 0 or limit <= 0:
            raise ValueError(f"need offset >= 0 and limit > 0, got {offset}/{limit}")
        cols = self._check_attrs(fields) if fields else self._public_fields()
        out = (
            self._exclude_deleted(self.doc_stats)
            .orderBy(F.asc("doc_id"))
            .limit(offset + limit)
            .select("doc_id", *[c for c in cols if c != "doc_id"])
        )
        if offset:
            w = Window.orderBy(F.asc("doc_id"))
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > offset)
                .drop("_rn")
            )
        return out

    def get_document(self, url: str, fields: list[str] | None = None) -> dict:
        """MeiliSearch ``GET /indexes/:uid/documents/:id``: ONE stored
        document by its external key (url — this layout's primary key),
        tombstoned documents excluded like every read path; absent documents
        raise (the MeiliSearch 404).  ``fields`` prunes like
        :meth:`list_documents`.

        Plan: a pushed-down point read — the url equality lands in
        PushedFilters so parquet row-group min/max stats prune the scan."""
        cols = self._check_attrs(fields) if fields else self._public_fields()
        rows = (
            self._exclude_deleted(self.doc_stats)
            .filter(F.col("url") == url)
            .select("doc_id", *[c for c in cols if c != "doc_id"])
            .limit(1)
            .collect()
        )
        if not rows:
            raise ValueError(f"document not found: {url!r}")
        return rows[0].asDict()

    def search_page(
        self,
        query: str,
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
        sort: list[str] | None = None,
        attributes_to_retrieve: list[str] | None = None,
    ) -> list[dict]:
        """The SERVING call: top-k hits as plain rows (eager, k-bounded) —
        the eager twin of :meth:`search`, sharing its preparation
        (:meth:`_prepare`) up to the run step (:meth:`_run_eager`).

        The scored top-k comes from the serving planner's eager step
        (:meth:`_ranked_rows`: on a warm engine one cached SQL statement,
        filters and negative keywords included) and the winners' metadata
        from a direct point read (:meth:`_resolve_meta`) — no metadata
        job; a warm page's resolved hits are kept for a repeat.
        Sorted requests and negative-only queries take the lazy plan, which
        the DataFrame API keeps for composition."""
        terms, neg = _query_words(query)
        prepared = self._prepare(
            k, attributes_to_retrieve, sort, terms=terms, matching=matching, neg=neg,
            filters=filters,
        )
        return self._run_eager(prepared)

    def _request(
        self, k: int | None, terms: Sequence[str] = (), matching: str = "best", *,
        pqs: list | None = None, neg: Sequence[str] | None = None,
        filters: dict | None = None, search_on: list[str] | None = None, **rank,
    ) -> ServeRequest:
        """The one preparation of a scored request, in request-error order
        (every check raises before a Spark job runs): the attributesToSearchOn
        prefixes (:meth:`_search_on`), the filter SQL (:meth:`_filter_sql`),
        then the scoring terms.

        ``terms`` expand by the Q7 ``matching`` strategy into conjunctive
        prefix sub-variants (:func:`matching_prefixes`, stop-words dropped;
        'frequency' orders by the dfs of the searched fields).  ``pqs``
        instead contribute each processed query's weighted variants
        (:meth:`_add_scoring_variants`, namespaced by query in a batch),
        and their negative words are the request's; a single query's phrase
        variants keep their positional check when there is a ``k`` to heap
        (positions are only checked inside the top-k heaps).  ``rank`` are
        :class:`ServeRequest`'s :func:`rank_sql` options."""
        prefixes = self._search_on(search_on)
        filter_sql = self._filter_sql(filters)
        variants = phrases = None
        if pqs is None:
            uniq = list(dict.fromkeys(self._drop_stopwords(terms)))
            dfs = self.term_dfs(uniq, prefixes) if matching == "frequency" and len(uniq) > 1 else None
            groups = matching_prefixes(uniq, matching, dfs)
            qterms = [QueryTerm(vid, t) for vid, g in enumerate(groups) for t in g]
            if matching == "all":
                required: dict[int, int] | None = {0: len(uniq)}
            elif len(groups) > 1:
                required = {vid: len(g) for vid, g in enumerate(groups)}
            else:
                required = None
        else:
            qterms, variants, phrases = [], [], {}
            positional = k is not None and not rank.get("per_query") and self.meta.positional
            # one df lookup covers every query's 'frequency' terms
            dfs = self._frequency_dfs([v for pq in pqs for v in pq.variants], prefixes)
            for qi, pq in enumerate(pqs):
                self._add_scoring_variants(
                    pq, dfs, qterms, variants, qi, phrases if positional else None
                )
            # per-variant EXACT top-k suffices for the global top-k after
            # weighting: weights are constant per variant, so any doc in the
            # final top-k is in its winning variant's top-k
            required = required_terms(variants)
            neg = [t for pq in pqs for t in pq.exclude_terms]
        return ServeRequest(
            qterms, variants, k=k, required=required, phrase_terms=phrases or None,
            neg=sorted({t for t in neg or () if t}), filter_sql=filter_sql,
            prefixes=prefixes, **rank,
        )

    def _prepare(
        self, k: int, attributes: list[str] | None, sort: list[str] | None = None,
        distinct: str | None = None, **request,
    ) -> tuple[ServeRequest, object, list[str]]:
        """What a search and its eager twin share up to the run step, every
        request error first: the hit columns (:meth:`_hit_cols`, the
        retrieved ``attributes`` checked — a ``pqs`` request's hits carry
        their variant type), the page tail (:meth:`_page_tail`, ``sort`` and
        ``distinct`` checked) and the request (:meth:`_request`, asking for
        every matching doc when the page tail cuts by sort or distinct) →
        ``(request, page tail, hit columns)``."""
        cols = self._hit_cols(attributes, variant="pqs" in request)
        page = self._page_tail(k, sort, distinct, cols)
        return self._request(None if sort or distinct else k, **request), page, cols

    def _run_lazy(self, req: ServeRequest, page, cols: list[str]) -> DataFrame:
        """The lazy run step: the request's hits as a DataFrame — the
        planner's top-k (:meth:`_ranked_topk`) joined to its doc metadata,
        or every matching doc cut by the page tail when the request has no
        ``k``; a request with no scoring word is unscored
        (:meth:`_unscored`)."""
        if not req.qterms:
            return page(self._unscored(req))
        scored = self._ranked_topk(req)
        if req.k is None:
            return page(self.doc_stats.join(scored, "doc_id"))
        return self._finalize_hits(scored, cols)

    def _run_eager(self, prepared: tuple) -> list[dict]:
        """The eager run step: the planner's collected top-k
        (:meth:`_ranked_rows`) with its metadata point-read
        (:meth:`_resolve_meta`).  A request the page tail must cut (sort)
        and a negative-only query take the lazy step."""
        req, page, cols = prepared
        if req.k is None or (req.neg and not req.qterms):
            return [r.asDict() for r in self._run_lazy(req, page, cols).collect()]
        return self._ranked_rows(req, cols)

    def _unscored(self, req: ServeRequest) -> DataFrame:
        """The hits of a request with no scoring word, at score 0.  A
        negative-only query has MeiliSearch placeholder semantics: every
        live doc the filter keeps that holds no negative word in the
        searched fields, variant type ``placeholder``; otherwise there is
        none."""
        base = self._exclude_deleted(self.doc_stats)
        if req.filter_sql is not None:
            base = base.filter(req.filter_sql)
        if req.neg:
            neg_docs = self._term_doc_ids(req.neg, req.prefixes).distinct()
            base = base.join(neg_docs, "doc_id", "left_anti")
        else:
            base = base.limit(0)
        return (
            base.withColumn("score", F.lit(0.0))
            .withColumn("terms_matched", F.lit(0).cast("long"))
            .withColumn("variant_type", F.lit("placeholder"))
        )

    def _finalize_hits(self, topk: DataFrame, cols: list[str]) -> DataFrame:
        """The ≤ k winning rows joined to their doc metadata, as hit
        ``cols`` (:meth:`_hit_cols`), in score order."""
        return (
            self.doc_stats.join(F.broadcast(topk), "doc_id")
            .select(*cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def _page_tail(self, k: int, sort: list[str] | None, distinct: str | None, out_cols: list[str]):
        """The one page-ordering tail of the requests ranked without a cut
        (sort, distinct, negative-only placeholders).  Validates ``sort``
        (declared sortable, parseable) and ``distinct`` (a public field)
        when called — call it before any Spark job — and returns the
        function that cuts a doc_stats ⋈ scored frame into the page:

        distinct window (MeiliSearch distinctAttribute: at most one hit per
        value of a stored field, the best by relevance; a NULL value is its
        own group) → ``_geoDistance`` when sorting by ``_geoPoint`` → sort
        fields, then ``score DESC, doc_id ASC`` → ``LIMIT k``
        (TakeOrderedAndProject — no full sort materializes)."""
        order = []
        if sort:
            check_declared(
                [x.partition(":")[0] for x in sort],
                getattr(self.meta, "sortable_attributes", None),
                "sortable fields",
            )
            order = parse_sort(sort, self.doc_stats.columns)
        if distinct and distinct not in self._public_fields():
            raise ValueError(
                f"unknown distinct field {distinct!r}; available {self._public_fields()}"
            )
        gp = geo_sort_point(sort)
        cols = [*out_cols, "_geoDistance"] if gp is not None else out_cols

        def page(joined: DataFrame) -> DataFrame:
            relevance = [F.desc("score"), F.asc("doc_id")]
            if distinct:
                key = F.coalesce(
                    F.col(distinct).cast("string"),
                    F.concat(F.lit("\x00doc:"), F.col("doc_id").cast("string")),
                )
                w = Window.partitionBy(key).orderBy(*relevance)
                joined = (
                    joined.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            if gp is not None:
                joined = attach_geo_distance(joined, gp)
            return joined.orderBy(*order, *relevance).limit(k).select(*cols)

        return page

    def search_terms(
        self,
        terms: list[str],
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
        sort: list[str] | None = None,
        attributes_to_retrieve: list[str] | None = None,
        distinct: str | None = None,
        attributes_to_search_on: list[str] | None = None,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Single-variant BM25 top-k (the walking-skeleton API).

        ``matching='all'`` requires every query term present (reference
        matching strategy 'all'; search_executor.py:845-910), 'best' is
        disjunctive, 'last'/'frequency' expand into conjunctive prefix
        sub-variants (:func:`matching_prefixes`) scored in the same job.
        ``filters`` restricts candidates by doc metadata (corpus-wide BM25
        stats unchanged); ``sort`` replaces relevance order with doc-field
        order (MeiliSearch sort semantics: sort fields first, relevance as
        tie-break) and ``distinct`` keeps the best hit per value of a stored
        field — both need every matching doc, so the serving planner ranks
        without a cut (``k=None``: on a warm engine the warm statement
        without its LIMIT) and :meth:`_page_tail` cuts the page.
        ``attributes_to_search_on`` restricts matching to the named
        searchable attributes of a fielded index (MeiliSearch
        attributesToSearchOn, default all); ``exclude_terms`` are negative
        keywords, and without any scoring word the page is a placeholder
        (:meth:`_unscored`).
        """
        return self._run_lazy(*self._prepare(
            k, attributes_to_retrieve, sort, distinct, terms=terms, matching=matching,
            neg=exclude_terms, filters=filters, search_on=attributes_to_search_on,
        ))

    def search_after(
        self,
        terms: list[str],
        cursor: tuple[float, str] | None = None,
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
        attributes_to_retrieve: list[str] | None = None,
        attributes_to_search_on: list[str] | None = None,
    ) -> DataFrame:
        """Keyset (cursor) pagination: the page strictly AFTER ``cursor`` in
        the stable pagination order — the deep-pagination shape offset
        pagination cannot sustain at scale (page P via offset needs a
        top-(P·k) heap on every executor and P·k rows through the final
        merge; the cursor filter keeps every heap at k rows regardless of
        depth — the service's offset/limit covers the shallow MeiliSearch
        surface, this covers the exhaustive-export one).

        The pagination order is ``(presentation score DESC, url ASC)`` —
        score rounded to ``SCORE_DECIMALS`` exactly as hits display it.
        A cursor must be SERIALIZABLE and survive re-execution; the rounded
        score is the engine's only score stable enough for that contract
        (full-precision doubles depend on float summation order across
        partitions), and ``url`` — the external document key — breaks ties,
        so the order is total and rebuild-stable (doc ids reassign on
        rebuild; urls don't).  Page 1 = ``cursor=None``; every page must
        come from THIS method so all pages share one total order.

        ``cursor`` is ``(score, url)`` of the previous page's last hit.
        The serving planner ranks every matching doc (``k=None``, as for
        sort/distinct): the cursor predicate lands between scoring and the
        top-k, so the plan is Filter → TakeOrderedAndProject(k) — never a
        growing heap.  ``attributes_to_search_on`` restricts matching as in
        :meth:`search_terms`.
        """
        from .adhoc import SCORE_DECIMALS

        out_cols = self._hit_cols(attributes_to_retrieve)
        req = self._request(None, terms, matching, filters=filters, search_on=attributes_to_search_on)
        if not req.qterms:
            return self._unscored(req).select(*out_cols)  # no scorable terms: no pages
        joined = self.doc_stats.join(self._ranked_topk(req), "doc_id").withColumn(
            "score", F.round("score", SCORE_DECIMALS)
        )
        if cursor is not None:
            cs, cu = float(cursor[0]), str(cursor[1])
            joined = joined.filter(
                (F.col("score") < F.lit(cs))
                | ((F.col("score") == F.lit(cs)) & (F.col("url") > F.lit(cu)))
            )
        return (
            joined.orderBy(F.desc("score"), F.asc("url")).limit(k).select(*out_cols)
        )

    def batch_search_terms(
        self, term_sets: list[list[str]], k: int = 10
    ) -> DataFrame:
        """Many single-variant BM25 top-k queries in ONE cluster job,
        returned as ONE DataFrame keyed by ``query_id`` (input order).

        The DataFrame-native core of the reference's batch endpoint
        (search_proxy_service.py:267-349): where the reference fans out N
        concurrent HTTP searches under an asyncio semaphore, here every
        query becomes a variant namespace in the SAME block-max bucket
        top-k job (:meth:`score_variants_topk`) — candidate blocks for all
        queries ride one shuffle, per-bucket heaps stay k-sized per query,
        and one window finalizes each query's global top-k.  Per-query cost
        amortizes toward the batched at-scale number instead of paying N
        job overheads (``SearchService.batch_search`` builds full
        SearchResponse pages on top of the same idea; this method is the
        raw-terms surface that stays a DataFrame, for pipelines that join
        search results onward rather than serve them)."""
        if not term_sets:
            raise ValueError("batch_search_terms needs at least one query")
        # same per-query preamble as search_terms (stopword drop + dedup) —
        # batch results must equal N independent single-query calls even on
        # an engine with configured stopwords
        qterms = [
            QueryTerm(i, t)
            for i, ts in enumerate(term_sets)
            for t in dict.fromkeys(self._drop_stopwords(list(ts)))
        ]
        if not qterms:
            # every query was all-stopwords: N empty result pages
            return self.doc_stats.limit(0).select(
                F.lit(0).alias("query_id"),
                "url",
                "doc_id",
                F.lit(0.0).alias("score"),
                F.lit(0).cast("long").alias("terms_matched"),
            )
        scored = self.score_variants_topk(ServeRequest(qterms, k=k))
        w = Window.partitionBy("variant_id").orderBy(F.desc("score"), F.asc("doc_id"))
        topk = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        return (
            self.doc_stats.join(F.broadcast(topk), "doc_id")
            .select(
                F.col("variant_id").alias("query_id"),
                "url",
                "doc_id",
                "score",
                "terms_matched",
            )
            .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        )

    def search_prefix(
        self,
        query: str,
        k: int = 10,
        max_expansions: int = 5,
        filters: dict | None = None,
        attributes_to_retrieve: list[str] | None = None,
    ) -> DataFrame:
        """MeiliSearch search-as-you-type: prefix matching on the FINAL word.

        Unless ``query`` ends in whitespace, its last word additionally
        matches every index term it prefixes (MeiliSearch applies prefix
        search to the final query word by default; the reference proxies raw
        queries straight to MeiliSearch, so partially-typed words hit this
        path — search_proxy/services/search_executor.py forwards ``q``
        verbatim).  Shape: variant 0 = the literal terms; variant i = the
        same terms with the last word replaced by completion i (bounded
        head-vocab scan of :meth:`expand_terms`, lexicographic order).  All
        variants score in ONE job on the serving planner's route
        (:meth:`_ranked_topk`, filters included); completions are
        discounted ×``PREFIX_COMPLETION_WEIGHT`` so the literal word beats
        its completions at equal raw score (exactness above prefix), and a
        doc keeps its best variant (X4 dedup, ties to the literal variant).
        Weights are constant per variant, so within-variant raw rank ==
        weighted rank and the pruned per-variant top-k stays exact.

        Negative keywords (``-word``) parse exactly as in :meth:`search`;
        they never prefix-expand (MeiliSearch negates the literal word).
        """
        from .ranker import PREFIX_COMPLETION_WEIGHT

        if not getattr(self.meta, "prefix_search", True):
            # S5 prefixSearch toggle (MeiliSearch v1.12: disabled) → 400
            raise ValueError(
                "prefix search is disabled on this index "
                "(settings.update_prefix_search to re-enable)"
            )
        terms, exclude_terms = _query_words(query)
        base = list(dict.fromkeys(self._drop_stopwords(terms)))
        groups: list[list[str]] = [base]
        if base and not query[-1].isspace():
            for c in self.expand_terms(base[-1], max_expansions):
                groups.append(list(dict.fromkeys(base[:-1] + [c])))
        if len(groups) == 1:
            # nothing to complete → plain single-variant search
            return self.search_terms(
                base, k=k, filters=filters,
                attributes_to_retrieve=attributes_to_retrieve,
                exclude_terms=exclude_terms or None,
            )
        cols = self._hit_cols(attributes_to_retrieve)
        # a variant type without a boost (R2's table falls back to 1.0), so
        # the weight alone discounts completions; ties keep the literal
        # variant (larger weight, then the earlier variant)
        weights = [1.0] + [PREFIX_COMPLETION_WEIGHT] * (len(groups) - 1)
        req = replace(
            self._request(k, neg=exclude_terms, filters=filters),
            qterms=[QueryTerm(vid, t) for vid, ts in enumerate(groups) for t in ts],
            variants=[Variant("completion", w, len(ts), "best") for w, ts in zip(weights, groups)],
        )
        return self._finalize_hits(self._ranked_topk(req), cols)

    def scored_topk(
        self,
        terms: list[str],
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
    ) -> DataFrame:
        """The scoring core of :meth:`search_terms` WITHOUT the metadata
        join → (doc_id, score, terms_matched), same top-k and order — for
        callers that resolve metadata themselves (or not at all).  The
        federation composes the same planner output as SQL text instead
        (:meth:`_ranked_sql`), so all its branches parse as one statement."""
        return self._ranked_topk(self._request(k, terms, matching, filters=filters))

    def _ranked_topk(self, req: ServeRequest) -> DataFrame:
        """The serving planner: :meth:`_ranked_sql`'s ranked relation as a
        DataFrame — a warm statement through the plan cache
        (:meth:`_warm_entry`), any other parsed while its scored view
        lives."""
        with self._ranked_sql(req) as (text, route):
            return self._warm_entry(text)[0] if route == "warm" else self.spark.sql(text)

    @contextmanager
    def _ranked_sql(self, req: ServeRequest):
        """The serving planner's text step: yields ``(sql, route)``, the
        per-doc ranking of the request (:meth:`ServeRequest.ranked`) as one
        SQL statement, cut to the top ``req.k`` — or, with ``k=None``,
        every matching doc unordered, for a caller that cuts by sort,
        distinct or cursor — and the name of the route that scores it.
        The text is valid inside the block only.

        ``warm`` — :meth:`_warm_scored_sql` over the tier's view, a filter
        riding as a doc_stats semi-join and the negative keywords as an
        anti-join over the same view — whenever the tier can answer: it
        holds every query and negative word (:meth:`_warm_covers`: warm
        tier enabled, no cold word on a budget-truncated tier, no
        attributesToSearchOn restriction) and no variant needs positions
        (``phrase_terms``).  Otherwise, without a ``k`` or with negatives
        and no phrase, ``exact``: the same statement over the query words'
        posting blocks, decoded into tier rows (:meth:`_tier_rows`), its
        anti-join over the negative words' blocks decoded to doc ids
        (:meth:`_term_doc_ids`) — each block decodes once, both lookups
        honouring the request's attributesToSearchOn restriction.
        Otherwise the block-max heaps: ``block_max``, or ``cogroup`` — the
        heaps cogrouped with the allowed ids, the filter's docs minus the
        negatives' — when either restricts candidates (phrase checks need a
        heap, so they need a ``k``).  Decoded or heap frames sit behind
        temp views, dropped when the block exits — a parsed Dataset keeps
        the resolved plan.  The eager step (:meth:`_ranked_rows`) runs
        after this one, so every request it plans passes here."""
        neg, filter_sql = req.neg, req.filter_sql
        if not req.phrase_terms and self._warm_covers(req.qterms, neg, req.prefixes):
            route = "warm"
        elif req.k is None or (neg and not req.phrase_terms):
            route = "exact"
        else:
            route = "block_max" if filter_sql is None and not neg else "cogroup"
        allowed = None  # the filter's semi-join side, for the SQL routes
        if filter_sql is not None and route in ("warm", "exact"):
            allowed = f"SELECT doc_id FROM {self._stats_view()} WHERE {filter_sql}"
        if route == "warm":
            view = self._warm_view()
            excluded = (
                f"SELECT doc_id FROM {view} WHERE term IN ({', '.join(map(sql_str, neg))})"
                if neg else None
            )
            yield req.ranked(self._warm_scored_sql(view, req.qterms, excluded, allowed)), route
            return
        scored = rel = f"mst_scored_{next(_VIEW_SEQ)}"
        views: dict[str, DataFrame] = {}  # temp views, dropped at exit
        if route == "exact":
            keys = sorted(self._index_term_map(req.qterms, req.prefixes))
            blocks = self.spark.sql(self._blocks_sql(keys, ", ".join(_TIER_COLS)))
            views[scored] = self._tier_rows(blocks)
            excluded = None
            if neg:  # the negatives' blocks decode once, to bare doc ids
                name = f"mst_excluded_{next(_VIEW_SEQ)}"
                views[name] = self._term_doc_ids(neg, req.prefixes)
                excluded = f"SELECT doc_id FROM {name}"
            rel = self._warm_scored_sql(scored, req.qterms, excluded, allowed)
        elif route == "block_max":
            views[scored] = self.score_variants_topk(req)
        else:
            allowed_ids = self.doc_stats.filter(filter_sql or "TRUE").select("doc_id")
            if neg:
                neg_docs = self._term_doc_ids(neg, req.prefixes).distinct()
                allowed_ids = allowed_ids.join(neg_docs, "doc_id", "left_anti")
            views[scored] = self.score_variants_topk_filtered(req, allowed_ids)
        for name, frame in views.items():
            frame.createOrReplaceTempView(name)
        try:
            yield req.ranked(rel), route
        finally:
            for name in views:
                self.spark.catalog.dropTempView(name)

    def search_phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact-adjacency phrase search (MeiliSearch quoted-phrase
        semantics): BM25 top-k over docs containing ``terms`` as a
        consecutive run, verified by position chains inside the bucket top-k
        (requires ``build_index(positional=True)``).  Raw BM25 — the
        variant-weighted phrase boost lives in ``multi_variant_search``."""
        uniq = list(dict.fromkeys(self._drop_stopwords(terms)))
        req = ServeRequest(
            [QueryTerm(0, t) for t in uniq], k=k, required={0: len(uniq)},
            phrase_terms={0: self._drop_stopwords(list(terms))},
        )
        cols = self._hit_cols(None)
        if not uniq:
            return self._unscored(req).select(*cols)
        topk = (
            self.score_variants_topk(req)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", "terms_matched")
        )
        return self._finalize_hits(topk, cols)

    def search_with_proximity(
        self,
        query: str,
        k: int = 10,
        overfetch: int = 3,
        decay: float = 0.05,
    ) -> DataFrame:
        """BM25 top-(k*overfetch) re-ranked by term proximity — MeiliSearch's
        'proximity' ranking rule (settings_manager.py:72-79), which plain BM25
        ignores.  Requires a positional index.

        score' = score * (1 + exp(-decay * (min_window - n_terms + 1))): a doc
        where the query terms appear as a tight run gets up to 2x, far-apart
        terms asymptotically keep their BM25 score.  Runs as a driver-side
        re-rank of the collected candidate page (k rows), not a cluster job —
        exactly where the reference does its result re-ranking."""
        if not getattr(self.meta, "positional", False):
            raise ValueError("proximity ranking requires build_index(positional=True)")
        terms = list(dict.fromkeys(extract_index_terms(tokenize_for_index(query))))
        if len(terms) < 2:
            return self.search(query, k=k)
        cand = self.search_terms(terms, k=k * overfetch).collect()
        if not cand:
            return self.search(query, k=k)
        doc_ids = [int(r["doc_id"]) for r in cand]
        windows = self._min_windows(terms, doc_ids)
        import math

        rescored = []
        for r in cand:
            w = windows.get(int(r["doc_id"]))
            boost = 1.0 + math.exp(-decay * (w - len(terms) + 1)) if w is not None else 1.0
            rescored.append((r["url"], int(r["doc_id"]), float(r["score"]) * boost, int(r["terms_matched"])))
        rescored.sort(key=lambda x: (-x[2], x[1]))
        return self.spark.createDataFrame(
            rescored[:k], "url string, doc_id long, score double, terms_matched long"
        )

    def _min_windows_df(self, terms: list[str], doc_ids: list[int]) -> DataFrame:
        """Minimal span covering one occurrence of every term, per doc — as a
        DataFrame of ``(doc_id, min_window)``.

        One small job: candidate docs' buckets only (bucket + term pushdown
        into the parquet scan), positions decoded and windowed INSIDE a
        per-bucket ``applyInPandas``.  A doc never spans buckets
        (bucket = doc_id // span), so each group is self-contained; only
        ``(doc_id, min_window)`` pairs (≤ len(doc_ids) rows) cross the
        executor→driver boundary — raw ``doc_bytes``/``pos_bytes`` stay
        executor-side no matter how hot the terms are at 100×."""
        buckets = [int(b) for b in sorted({d // self.meta.bucket_span for d in doc_ids})]
        want_docs = {int(d) for d in doc_ids}
        pref = self._fprefixes
        lookup = [p + t for t in terms for p in pref] if pref else list(terms)
        need = len(terms)

        def run(g: pd.DataFrame) -> pd.DataFrame:
            # positions restart per attribute, so proximity windows are a
            # WITHIN-FIELD property: group by (doc, field), window each
            # group, keep the doc's best field
            perdoc: dict[tuple[int, str], dict[str, np.ndarray]] = {}
            for row in g.itertuples(index=False):
                ids, tfs = decode_doc_block(row.doc_bytes, row.tf_bytes)
                posmap = _decode_doc_positions(ids, tfs, row.pos_bytes)
                fid, sep, base = row.term.partition(FIELD_SEP)
                if not sep:
                    fid, base = "", row.term
                for d, pos in posmap.items():
                    if d in want_docs:
                        perdoc.setdefault((d, fid), {})[base] = pos
            best_per_doc: dict[int, int] = {}
            for (d, _fid), tp in perdoc.items():
                if len(tp) < need:
                    continue
                best = _min_window_span(tp, need)
                if best is not None:
                    best_per_doc[d] = min(best_per_doc.get(d, best), best)
            return pd.DataFrame(
                {
                    "doc_id": np.fromiter(best_per_doc.keys(), dtype=np.int64),
                    "min_window": np.fromiter(best_per_doc.values(), dtype=np.int64),
                }
            )

        return (
            self.postings.filter(F.col("term").isin(lookup))
            .filter(F.col("bucket").isin(buckets))
            .select("bucket", "term", "doc_bytes", "tf_bytes", "pos_bytes")
            .groupBy("bucket")
            .applyInPandas(run, "doc_id long, min_window long")
        )

    def _min_windows(self, terms: list[str], doc_ids: list[int]) -> dict[int, int]:
        """Collect of :meth:`_min_windows_df` — k-bounded (doc_id, window)
        pairs only."""
        return {
            int(r["doc_id"]): int(r["min_window"])
            for r in self._min_windows_df(terms, doc_ids).collect()
        }

    def _neg_scan_terms(
        self, terms: Sequence[str], prefixes: tuple[str, ...] | None = None
    ) -> list[str]:
        """Index-level term keys for an exclusion lookup: an
        attributesToSearchOn restriction (``prefixes``) applies to negatives
        exactly like positives (a title-restricted search only excludes on
        title)."""
        uniq = sorted({t for t in terms if t})
        if not uniq:
            raise ValueError("terms must be non-empty")
        prefixes = prefixes or self._fprefixes
        return [p + t for t in uniq for p in prefixes] if prefixes else uniq

    def docs_with_terms(self, terms: list[str]) -> DataFrame:
        """DISTINCT doc ids containing ANY of ``terms`` — a lazy decode-only
        plan (:meth:`_term_doc_ids` → distinct).  Backs negative keywords
        and the facet match set; also the building block for "docs
        mentioning X" audits."""
        return self._term_doc_ids(terms).distinct()

    def _term_doc_ids(
        self, terms: Sequence[str], prefixes: tuple[str, ...] | None = None
    ) -> DataFrame:
        """The doc ids of ``terms``' postings, one row per posting:
        term-pushdown scan of those terms' posting blocks in the searched
        attributes (``prefixes``, :meth:`_neg_scan_terms`) → vectorized
        varbyte unpack, tombstones excluded.  The ``exact`` route's
        anti-join side, where duplicates cost nothing and a distinct would
        cost a shuffle."""
        keys = self._neg_scan_terms(terms, prefixes)
        blocks = self.spark.sql(self._blocks_sql(keys, "doc_bytes"))
        explode = _make_doc_id_exploder(self._excluded_array())
        return blocks.mapInPandas(explode, _DOC_ID_SCHEMA)

    def search(
        self,
        query: str,
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
        sort: list[str] | None = None,
        attributes_to_retrieve: list[str] | None = None,
    ) -> DataFrame:
        """Tokenize ``query`` with the SAME pinned tokenizer and score.

        Negative keywords (``-word``, MeiliSearch 1.8+) parse here: each
        negative chunk is tokenized by the same pinned tokenizer and every
        resulting term excludes its documents from the result set
        (disjunctive over all negative tokens; corpus-wide BM25 stats
        unchanged — exclusion prunes candidates exactly like a filter)."""
        terms, exclude_terms = _query_words(query)
        return self.search_terms(
            terms, k=k, matching=matching, filters=filters, sort=sort,
            attributes_to_retrieve=attributes_to_retrieve,
            exclude_terms=exclude_terms or None,
        )

    def multi_variant_search(
        self,
        query: str,
        k: int = 10,
        min_score_threshold: float = 0.0,
        normalize: bool = False,
        filters: dict | None = None,
        sort: list[str] | None = None,
        attributes_to_retrieve: list[str] | None = None,
        pq=None,
        attributes_to_search_on: list[str] | None = None,
    ) -> DataFrame:
        """Full search-proxy semantics in ONE Spark job (SURVEY §3.3 / X1).

        Driver side: Q1-Q8 variant pipeline.  Cluster side: all variants
        score together (variant_id column replaces the reference's per-variant
        asyncio fan-out, search_executor.py:55-176), then R1/R2 weight+boost,
        X4 per-doc dedup keeping the best variant hit, optional R6
        normalization, P7 threshold, R10 top-k.

        ``filters`` (P4, search_executor.py:721-764) restricts candidates by
        doc metadata, on whichever route the serving planner picks
        (:meth:`_ranked_topk`); ``sort`` (P6,
        search_executor.py:766-843) orders the final page by doc fields with
        relevance as tie-break: the planner ranks every matching doc
        (``k=None``) and :meth:`_page_tail` cuts the page.  With sort,
        phrase variants degrade to conjunctive matching (positions are only
        checked inside the top-k heaps).  ``attributes_to_search_on``
        restricts matching to the named searchable attributes (MeiliSearch
        attributesToSearchOn).  ``pq`` lets a caller (SearchService) supply
        an already-processed query carrying request-level overrides
        (matching_strategy, max_query_variants) without a second pipeline
        pass.

        Returns (url, doc_id, score, variant_type, terms_matched).
        """
        return self._run_lazy(*self._variant_prepare(
            query, k, min_score_threshold, normalize, filters, sort,
            attributes_to_retrieve, pq, attributes_to_search_on,
        ))

    def multi_variant_page(
        self,
        query: str,
        k: int = 10,
        min_score_threshold: float = 0.0,
        normalize: bool = False,
        filters: dict | None = None,
        sort: list[str] | None = None,
        attributes_to_retrieve: list[str] | None = None,
        pq=None,
        attributes_to_search_on: list[str] | None = None,
    ) -> list[dict]:
        """Eager serving twin of :meth:`multi_variant_search` — the path a
        request/response service should call: the planner's scored top-k
        collect (on a warm engine one cached SQL statement, filtered or
        not) + a direct metadata point read (:meth:`_resolve_meta`).  A
        repeat takes its prepared request from the request memo
        (:meth:`_variant_prepare`) and its hits, resolved, from the plan
        cache.  Sorted requests and negative-only queries (placeholder
        semantics) take the lazy plan."""
        prepared = self._variant_prepare(
            query, k, min_score_threshold, normalize, filters, sort,
            attributes_to_retrieve, pq, attributes_to_search_on,
        )
        return self._run_eager(prepared)

    def _variant_prepare(
        self, query, k, threshold, normalize, filters, sort, attributes, pq, search_on
    ) -> tuple:
        """The multi-variant twins' shared preparation (:meth:`_prepare`):
        the Q1-Q8 variant pipeline, unless the caller ran it (``pq``).
        The prepared request is memoized (:meth:`_memoized`) by the
        processed query's variants and negative words and every other
        argument, so a repeat skips building it: Q10 vocabulary and typo
        expansion, df lookups, the filter's compilation and the request
        checks."""
        if pq is None:
            from .pipeline import process_query

            pq = process_query(query, synonyms=self._synonyms or None)
        key = (
            "request",
            tuple((v.variant_type, tuple(v.terms), v.weight, v.matching) for v in pq.variants),
            tuple(pq.exclude_terms), k, threshold, normalize, repr(filters),
            tuple(sort or ()), tuple(attributes or ()),
            None if search_on is None else tuple(search_on),
        )
        return self._memoized(key, lambda: self._prepare(
            k, attributes, sort, pqs=[pq], filters=filters, search_on=search_on,
            normalize=normalize, threshold=threshold,
        ))

    def facet_distribution(
        self,
        terms: list[str],
        facets: list[str],
        filters: dict | None = None,
        max_values_per_facet: int | None = None,
    ) -> DataFrame:
        """MeiliSearch-style ``facetDistribution`` over the FULL matching set
        → (facet, value, n_docs): for each requested doc_stats column, the
        count of documents containing >= 1 query term (after ``filters``).

        The reference's engine computes facets only over what a single
        MeiliSearch node holds; this is the distributed twin — and the scan
        stays proportional to the QUERY, not the corpus: the postings read
        prunes to the query terms' blocks (term INSET pushdown), only those
        blocks decode, and the counts aggregate with map-side combine.
        Facet fields are the public attribute surface: the build's declared
        ``stored_fields`` plus url/lang/text_crop when present (internal
        index columns like doc_len are not facetable)."""
        self._check_facets(facets)
        if max_values_per_facet is None:
            # S5 faceting.maxValuesPerFacet: the index setting supplies the
            # default when the call doesn't pass one (None = uncapped)
            max_values_per_facet = (getattr(self.meta, "faceting", None) or {}).get(
                "max_values_per_facet"
            )
        # query-side stop-words never match at search time, so they must not
        # inflate facet counts either (parity with the hit set)
        qterms = list(dict.fromkeys(self._drop_stopwords(list(terms))))
        if not qterms or not facets:
            return self.spark.createDataFrame(
                [], "facet string, value string, n_docs long"
            )
        joined = self._facet_match_set(qterms, filters)
        stack = ", ".join(f"'{f}', cast(`{f}` as string)" for f in facets)
        out = (
            joined.selectExpr(f"stack({len(facets)}, {stack}) as (facet, value)")
            .groupBy("facet", "value")
            .agg(F.count("*").alias("n_docs"))
        )
        if max_values_per_facet is not None:
            # MeiliSearch maxValuesPerFacet (default 100 there): top-N values
            # per facet by count — the cardinality guard for id-like fields.
            # One window over the already-aggregated rollup, not the match set.
            w = Window.partitionBy("facet").orderBy(F.desc("n_docs"), F.asc("value"))
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_values_per_facet)
                .drop("_rn")
            )
        return out

    def _check_facets(self, facets: list[str]) -> None:
        """Facet fields must be public document fields and, when the index
        declares filterableAttributes, declared ones (MeiliSearch
        invalid_search_facets 400)."""
        missing = [f for f in facets if f not in self._public_fields()]
        if missing:
            raise ValueError(
                f"unknown facet fields {missing}; available {self._public_fields()}"
            )
        check_declared(
            facets, getattr(self.meta, "filterable_attributes", None), "filterable fields"
        )

    def _facet_match_set(self, qterms: list[str], filters: dict | None) -> DataFrame:
        """doc_stats rows of every document containing >= 1 query term (after
        ``filters``) — the shared match set behind facetDistribution and
        facetStats: a join to :meth:`docs_with_terms`, whose postings read
        prunes to the query terms' blocks (term INSET pushdown)."""
        filter_sql = self._filter_sql(filters)
        ds = self.doc_stats if filter_sql is None else self.doc_stats.filter(filter_sql)
        return ds.join(self.docs_with_terms(qterms), "doc_id")

    def facet_stats(
        self,
        terms: list[str],
        facets: list[str],
        filters: dict | None = None,
    ) -> DataFrame:
        """MeiliSearch ``facetStats``: per requested NUMERIC facet field, the
        min and max value over the full matching set (>= 1 query term, after
        ``filters``) → (facet, min_value, max_value) as doubles — the data
        behind a range-slider UI.

        MeiliSearch computes facetStats only for fields whose values are
        numbers; requesting a non-numeric field here is a request error (the
        caller can see dtypes up front, so silence would hide a bug).  One
        exchange-free partial+final aggregate over the match set — min/max
        are algebraic, so the rollup is map-side combined and the collected
        result is O(#facets)."""
        import pyspark.sql.types as _T

        self._check_facets(facets)
        dtypes = {f.name: f.dataType for f in self.doc_stats.schema.fields}
        non_numeric = sorted(
            f for f in facets if not isinstance(dtypes.get(f), _T.NumericType)
        )
        if non_numeric:
            raise ValueError(
                f"facetStats needs numeric fields; {non_numeric} are not "
                "(MeiliSearch computes stats only over number values)"
            )
        qterms = list(dict.fromkeys(self._drop_stopwords(list(terms))))
        if not qterms or not facets:
            return self.spark.createDataFrame(
                [], "facet string, min_value double, max_value double"
            )
        joined = self._facet_match_set(qterms, filters)
        stack = ", ".join(f"'{f}', cast(`{f}` as double)" for f in facets)
        return (
            joined.selectExpr(f"stack({len(facets)}, {stack}) as (facet, value)")
            .groupBy("facet")
            .agg(
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            # a facet whose every matching value is NULL has no stats — omit
            # the row (MeiliSearch omits such facets; min/max over all-NULL
            # would otherwise emit a (facet, NULL, NULL) row)
            .filter(F.col("min_value").isNotNull())
        )

    def facet_search(
        self,
        facet_name: str,
        facet_query: str = "",
        terms: list[str] | None = None,
        filters: dict | None = None,
        max_hits: int = 100,
    ) -> DataFrame:
        """MeiliSearch ``POST /indexes/:uid/facet-search``: search the VALUES
        of one facet — case-insensitive prefix match of ``facet_query`` on
        the value — within the documents matching the optional query
        ``terms`` + ``filters``; → (value, count) ordered by count desc then
        value asc, capped at ``max_hits`` (MeiliSearch caps facet-search
        responses at 100 hits).

        With no ``terms`` the counts cover the whole (filtered) corpus —
        MeiliSearch's facet search without ``q``.  Plan shape: the same
        INSET-pruned match set as facetDistribution (or a plain doc_stats
        scan without terms), one map-side-combined groupBy on the value,
        top-N via TakeOrderedAndProject — never a full sort."""
        if not getattr(self.meta, "facet_search", True):
            # S5 facetSearch toggle (MeiliSearch v1.12): disabled → 400
            raise ValueError(
                "facet search is disabled on this index "
                "(settings.update_facet_search to re-enable)"
            )
        self._check_facets([facet_name])
        if terms is not None:
            qterms = list(dict.fromkeys(self._drop_stopwords(list(terms))))
            if not qterms:
                return self.spark.createDataFrame([], "value string, count long")
            ds = self._facet_match_set(qterms, filters)
        else:
            filter_sql = self._filter_sql(filters)
            ds = self._exclude_deleted(self.doc_stats)
            if filter_sql is not None:
                ds = ds.filter(filter_sql)
        value = F.col(facet_name).cast("string")
        out = ds.select(value.alias("value")).filter(F.col("value").isNotNull())
        if facet_query:
            out = out.filter(
                F.lower(F.col("value")).startswith(facet_query.lower())
            )
        return (
            out.groupBy("value")
            .agg(F.count("*").cast("long").alias("count"))
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(max_hits)
        )

    def similar_documents(
        self,
        embeddings: DataFrame,
        target_url: str,
        vec_col: str = "embedding",
        k: int = 10,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """MeiliSearch ``GET /indexes/:uid/similar`` (the vector-store
        more-like-this endpoint): the ``k`` documents whose embeddings are
        most cosine-similar to ``target_url``'s, excluding the document
        itself and tombstoned docs, each hit carrying the requested public
        ``fields`` plus ``cosine``.

        ``embeddings`` is a (url, vector) frame — the embedder's output table
        sitting NEXT to the index, like MeiliSearch's vector store sits next
        to the inverted index.  Plan: embeddings semi-joined to the live url
        set (tombstones and unknown urls drop BEFORE ranking, so result
        pages stay full), 1-row broadcast of the query vector, JVM-side
        column-function dot products, TakeOrderedAndProject top-k, then one
        k-row join back to doc_stats for the public fields.  The brute scan
        is the exactness baseline; at 100 TB route candidate generation
        through the LSH/IVF twins in ``pipeline.similarity`` and rerank the
        pooled candidates here."""
        from ..pipeline.similarity import cosine_topk_to_query

        cols = self._check_attrs(fields) if fields else self._public_fields()
        live = self._exclude_deleted(self.doc_stats)
        emb = embeddings.select(F.col("url"), F.col(vec_col).alias("embedding")).join(
            live.select("url"), "url"
        )
        # existence check as a POINT lookup on each side separately (url
        # predicate pushes to both scans) — not a take(1) over the full
        # join, which would scan embeddings×doc_stats just to word an error
        if not embeddings.filter(F.col("url") == target_url).take(1):
            raise ValueError(f"no embedding for document {target_url!r}")
        if not live.filter(F.col("url") == target_url).take(1):
            raise ValueError(f"no embedding for document {target_url!r}")
        top = cosine_topk_to_query(emb, "url", "embedding", target_url, k=k)
        return (
            top.withColumnRenamed("vec_key", "url")
            .join(live, "url")
            .select("url", *[c for c in cols if c != "url"], "cosine")
            .orderBy(F.desc("cosine"), F.asc("url"))
        )

    def batch_multi_variant_page(
        self,
        queries: list[str],
        k: int = 10,
        min_score_threshold: float = 0.0,
        normalize: bool = False,
        pqs: list | None = None,
    ) -> list[list[dict]]:
        """Many full multi-variant searches in ONE Spark job (the reference's
        batch_search endpoint, search_proxy_service.py:267-349 — but instead
        of an asyncio semaphore running N independent HTTP searches, every
        query's variants score together with a (query, variant) namespace and
        split apart after one collect).  Per-query cost at scale is the
        at-scale claim: job overhead amortizes across the whole batch.

        Scope notes: Q10 vocabulary expansion and positional phrase
        verification are per-query refinements of the single-query path —
        batch mode keeps the Q1-Q8 variant semantics (quoted phrases degrade
        to conjunctive matching here).

        Returns one hit-row list per input query (order preserved)."""
        from .pipeline import process_query

        if pqs is None:  # caller (SearchService) usually already processed them
            pqs = [process_query(q, synonyms=self._synonyms or None) for q in queries]
        negi = [i for i, p in enumerate(pqs) if getattr(p, "exclude_terms", None)]
        if negi:
            # per-query exclusion sets can't share one heap job (a doc
            # excluded for query A may win for query B) — route the
            # negative-bearing queries through the single-query path and
            # batch the rest; order preserved
            neg_set = set(negi)
            rest_idx = [i for i in range(len(queries)) if i not in neg_set]
            out: list = [None] * len(queries)
            if rest_idx:
                rest = self.batch_multi_variant_page(
                    [queries[i] for i in rest_idx], k=k,
                    min_score_threshold=min_score_threshold,
                    normalize=normalize, pqs=[pqs[i] for i in rest_idx],
                )
                for j, i in enumerate(rest_idx):
                    out[i] = rest[j]
            for i in negi:
                out[i] = self.multi_variant_page(
                    queries[i], k=k, min_score_threshold=min_score_threshold,
                    normalize=normalize, pq=pqs[i],
                )
            return out
        req = self._request(
            k, pqs=pqs, normalize=normalize, threshold=min_score_threshold, per_query=True
        )
        resolved = self._ranked_rows(req)
        out: list[list[dict]] = [[] for _ in queries]
        for d in resolved:
            out[int(d.pop("query_id"))].append(d)
        for hits in out:
            hits.sort(key=lambda d: (-d["score"], d["doc_id"]))
        return out

    def _expansion_variants(self, tokens: list[str], seen_terms: set[str]):
        """Q10 vocabulary + typo expansion as extra FALLBACK variant term
        sets: ``[(terms, weight), ...]`` — shared by the single-query and
        batch paths.  Only fires when the index actually contains superstring
        (or 1-2-edit) terms for a query token."""
        expansions: list[str] = []
        fuzzy: list[str] = []
        for tok in dict.fromkeys(tokens):
            for e in self.expand_terms(tok):
                if e not in seen_terms and e not in expansions:
                    expansions.append(e)
            # suffix completions ride the same fallback variant (reference
            # *tok wildcard, query_processor.py:328-471): 'book' also pulls
            # 'notebook'/'cookbook', which prefix expansion cannot see
            for e in self.expand_terms_suffix(tok):
                if e not in seen_terms and e not in expansions:
                    expansions.append(e)
            # typo rule fires only when the token itself misses the index
            # (MeiliSearch ranks exact above typo; an existing term needs no
            # fuzzy neighbors to produce its hits)
            if tok not in self._vocab_set():
                for e in self.expand_terms_fuzzy(tok):
                    if e not in seen_terms and e not in expansions and e not in fuzzy:
                        fuzzy.append(e)
        out = []
        if expansions:
            out.append((expansions[:10], 0.6))
        if fuzzy:
            out.append((fuzzy[:10], 0.5))
        return out

    def _frequency_dfs(self, variants, prefixes=None) -> dict[str, int] | None:
        """One df lookup covering every 'frequency' variant's terms in the
        searched attributes (:meth:`term_dfs`) — per-variant lookups would
        serialize driver-blocking scans before the one scoring job."""
        terms = sorted(
            {t for v in variants if v.matching == "frequency" and len(set(v.terms)) > 1 for t in v.terms}
        )
        return self.term_dfs(terms, prefixes) if terms else None

    def _add_scoring_variants(
        self, pq, dfs, qterms: list[QueryTerm], variants: list[Variant],
        query: int = 0, phrase_specs: dict[int, list[str]] | None = None,
    ) -> None:
        """One processed query's Q1-Q8 variants, then its Q10 expansion
        fallbacks, appended as scoring variants (variant id = position in
        ``variants``).  ``phrase_specs``, when given, collects the positional
        check of each phrase variant; without it a phrase degrades to
        conjunctive matching (all terms required, no adjacency)."""

        def add(vtype: str, terms: list[str], weight: float, m: str) -> int:
            vid = len(variants)
            qterms.extend(QueryTerm(vid, t) for t in terms)
            variants.append(Variant(vtype, float(weight), len(terms), m, query))
            return vid

        for v in pq.variants:
            uniq = list(dict.fromkeys(self._drop_stopwords(v.terms)))
            if not uniq:
                continue  # pure-stopword variant: nothing indexable to match
            if v.matching in ("last", "frequency") and len(uniq) >= 2:
                # Q7: one conjunctive sub-variant per prefix, all in this job;
                # a doc's longest matched prefix wins the per-doc dedup
                for pf in matching_prefixes(uniq, v.matching, dfs):
                    add(v.variant_type, pf, v.weight, "all")
                continue
            vid = add(v.variant_type, uniq, v.weight, v.matching)
            if phrase_specs is not None and v.matching == "phrase":
                # stop-words leave the phrase too: the build strips them
                # BEFORE position numbering, so remaining terms are adjacent
                # in the index exactly when they surround dropped stop-words
                phrase_specs[vid] = self._drop_stopwords(list(v.terms))
        # Q10 vocabulary expansion as extra FALLBACK variants: MeiliSearch
        # matches sub-words/prefixes natively (the golden corpus's
        # partial_compound queries rely on it); exact-term BM25 needs the
        # expansion made explicit.  Suppression set = THIS query's own terms
        # (in a batch, another query's terms must not mask an expansion)
        tokens = [t for v in pq.variants for t in v.terms]
        for terms, weight in self._expansion_variants(tokens, set(tokens)):
            add("fallback", terms, weight, "best")
