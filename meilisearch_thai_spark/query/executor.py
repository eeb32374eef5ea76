"""BM25 top-k execution over the block-compressed posting index.

The reference fans out per-variant HTTP searches to MeiliSearch under an
asyncio semaphore (src/search_proxy/services/search_executor.py:55-176); here
ALL variants score in ONE Spark job:

    postings  ⋈ broadcast(query terms)     [term filter pushed to parquet scan]
      → mapInPandas block decode + BM25    [numpy, Arrow-batched]
      → groupBy(variant_id, doc_id) sum    [JVM hash agg]
      → matching-strategy filter, boosts, dedup, top-k

Term lookup is the broadcast hash join the reference outsources to
MeiliSearch's internal index (SURVEY X1/X2/R11).
"""

from __future__ import annotations

import itertools
import os
import re
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.builder import FIELD_SEP, IndexMeta, load_meta
from ..index.codec import varbyte_decode
from .pipeline import split_negative_keywords  # re-export (parse lives in Q1-Q8)

# process-wide temp-view namer; next() on a count is atomic, so engines and
# requests in different threads never register the same name
_VIEW_SEQ = itertools.count(1)


def _row_field(term: str, field_params, avgdl: float) -> tuple[float, float, str]:
    """(weight, avgdl, base_term) for one posting row — identity on
    unfielded indexes; on fielded indexes resolves the term's field prefix
    to its index-setting weight and per-field avgdl (builder.FIELD_SEP)."""
    if field_params:
        pre, sep, base = term.partition(FIELD_SEP)
        if sep:
            w, adl = field_params.get(pre, (1.0, avgdl))
            return w, adl, base
    return 1.0, avgdl, term

_SCORED_SCHEMA = T.StructType(
    [
        T.StructField("variant_id", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


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


def _sql_str(s: str) -> str:
    """A Spark SQL string literal (the form ``lit(s).expr().sql()`` prints)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_map(pairs) -> str:
    return "map(" + ", ".join(f"{a}, {b}" for a, b in pairs) + ")"


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
    from .ranker import VARIANT_BOOST_SQL

    rel = src
    if required:
        need = _sql_map(sorted(required.items())) + "[variant_id]"
        rel = f"(SELECT * FROM {rel} WHERE {need} IS NULL OR terms_matched = {need})"
    keys = ["query_id", "doc_id"] if per_query else ["doc_id"]
    cols = ["doc_id", "score", "terms_matched"]
    if variants is not None:
        by = ", ".join(keys)
        weight = _sql_map((i, f"{v.weight!r}D") for i, v in enumerate(variants))
        vtype = _sql_map((i, _sql_str(v.type)) for i, v in enumerate(variants))
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
            f" score * weight * {VARIANT_BOOST_SQL} AS score FROM (SELECT *,"
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


def _make_decoder(k1: float, b: float, avgdl: float, n_docs: int, field_params=None):
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_vid, out_doc, out_term, out_score = [], [], [], []
            for row in pdf.itertuples(index=False):
                deltas = varbyte_decode(row.doc_bytes)
                ids = np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
                tfs = varbyte_decode(row.tf_bytes).astype(np.float64)
                dls = varbyte_decode(row.dl_bytes).astype(np.float64)
                w, adl, base = _row_field(row.term, field_params, avgdl)
                term_idf = np.log(1.0 + (n_docs - row.df + 0.5) / (row.df + 0.5))
                scores = w * term_idf * (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * dls / adl))
                n = len(ids)
                out_vid.append(np.full(n, row.variant_id, dtype=np.int32))
                out_doc.append(ids)
                # base term, not the field-prefixed one: downstream
                # terms_matched counts DISTINCT QUERY WORDS matched (a word
                # hitting both title and content is one match)
                out_term.append(np.full(n, base, dtype=object))
                out_score.append(scores)
            if not out_doc:
                continue
            yield pd.DataFrame(
                {
                    "variant_id": np.concatenate(out_vid),
                    "doc_id": np.concatenate(out_doc),
                    "term": np.concatenate(out_term),
                    "score": np.concatenate(out_score),
                }
            )

    return decode


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
        deltas = varbyte_decode(row.doc_bytes)
        ids = np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
        tfs = varbyte_decode(row.tf_bytes)
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


def _score_block_rows(
    vg, k1: float, b: float, avgdl: float, n_docs: int, field_params
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one (variant[, bucket]) group of posting blocks into flat
    (doc_ids, scores, base_term_ids) arrays.

    ``base_term_ids`` number the DISTINCT BASE terms (field prefix stripped)
    so callers can count matched query words per doc: on a fielded index the
    same word matching in two attributes is still ONE matched word."""
    ids_l, score_l, tid_l = [], [], []
    tids: dict[str, int] = {}
    for row in vg.itertuples(index=False):
        deltas = varbyte_decode(row.doc_bytes)
        ids = np.cumsum(deltas, dtype=np.uint64).astype(np.int64)
        tfs = varbyte_decode(row.tf_bytes).astype(np.float64)
        dls = varbyte_decode(row.dl_bytes).astype(np.float64)
        w, adl, base = _row_field(row.term, field_params, avgdl)
        idf = np.log(1.0 + (n_docs - row.df + 0.5) / (row.df + 0.5))
        score_l.append(w * idf * (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * dls / adl)))
        ids_l.append(ids)
        tid_l.append(np.full(len(ids), tids.setdefault(base, len(tids)), dtype=np.int64))
    return np.concatenate(ids_l), np.concatenate(score_l), np.concatenate(tid_l)


def _agg_doc_scores(
    ids: np.ndarray, scores: np.ndarray, tids: np.ndarray, fielded: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(per-row doc, score, base-term id) → per-doc (uids, score sums,
    distinct-base-term counts).  Unfielded indexes keep the cheap bincount
    (each (term, doc) row is unique there)."""
    uids, inv = np.unique(ids, return_inverse=True)
    sums = np.bincount(inv, weights=scores)
    if not fielded:
        return uids, sums, np.bincount(inv)
    ntid = int(tids.max()) + 1 if len(tids) else 1
    upair = np.unique(inv * ntid + tids)
    cnts = np.bincount(upair // ntid, minlength=len(uids))
    return uids, sums, cnts


def _make_bucket_topk(
    k1: float,
    b: float,
    avgdl: float,
    n_docs: int,
    k: int,
    required_terms: dict[int, int],
    phrase_terms: dict[int, list[str]] | None = None,
    excluded: np.ndarray | None = None,
    field_params=None,
    field_prefixes: list[str] | None = None,
):
    """Block-max pruned per-partition top-k (R11 block-max WAND, SURVEY §7.4).

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
            need = required_terms.get(int(vid))
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
                g = grouped[bucket]
                ids, scores, tids = _score_block_rows(g, k1, b, avgdl, n_docs, field_params)
                uids, sums, cnts = _agg_doc_scores(ids, scores, tids, bool(field_params))
                if excluded is not None and len(uids):
                    # tombstones excluded INSIDE the heap so pages stay full
                    keep = ~np.isin(uids, excluded)
                    uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
                if need is not None:
                    keep = cnts == need
                    uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
                if phrase_terms and int(vid) in phrase_terms and len(uids):
                    ok = _phrase_docs_any_field(g, phrase_terms[int(vid)], field_prefixes or [])
                    keep = np.fromiter((int(d) in ok for d in uids), dtype=bool, count=len(uids))
                    uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
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


def _make_filtered_bucket_topk(
    k1: float,
    b: float,
    avgdl: float,
    n_docs: int,
    k: int,
    required_terms: dict[int, int],
    phrase_terms: dict[int, list[str]] | None = None,
    excluded: np.ndarray | None = None,
    field_params=None,
    field_prefixes: list[str] | None = None,
):
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
        if excluded is not None:
            allowed = allowed[~np.isin(allowed, excluded)]
        if not len(allowed):
            return _empty_topk_pdf()
        out_vid, out_doc, out_score, out_cnt = [], [], [], []
        for vid, vg in blocks_pdf.groupby("variant_id", sort=False):
            need = required_terms.get(int(vid))
            ids, scores, tids = _score_block_rows(vg, k1, b, avgdl, n_docs, field_params)
            keep = np.isin(ids, allowed, assume_unique=False)
            ids, scores, tids = ids[keep], scores[keep], tids[keep]
            if not len(ids):
                continue
            uids, sums, cnts = _agg_doc_scores(ids, scores, tids, bool(field_params))
            if need is not None:
                keep = cnts == need
                uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
            if phrase_terms and int(vid) in phrase_terms and len(uids):
                ok = _phrase_docs_any_field(vg, phrase_terms[int(vid)], field_prefixes or [])
                keep = np.fromiter((int(d) in ok for d in uids), dtype=bool, count=len(uids))
                uids, sums, cnts = uids[keep], sums[keep], cnts[keep]
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


def _negative_literal_cap() -> int:
    """Resolved at call time so a test (or operator) adjusting
    ``index.maintenance.TOMBSTONE_LITERAL_CAP`` moves this gate too."""
    from ..index import maintenance

    return maintenance.TOMBSTONE_LITERAL_CAP


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


def _make_warm_exploder():
    """postings blocks → decoded (term, doc_id, tf, dl, df) rows — the one-off
    pass that builds the hot serving tier.

    One pandas DataFrame per ARROW BATCH (numpy arrays concatenated across
    blocks), not one per posting block: per-block frame construction + concat
    dominated the tier load at scale (~617k blocks for a 3M-doc index)."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms_l, ids_l, tf_l, dl_l, df_l = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.cumsum(varbyte_decode(row.doc_bytes), dtype=np.uint64).astype(np.int64)
                n = len(ids)
                terms_l.append(np.full(n, row.term, dtype=object))
                ids_l.append(ids)
                tf_l.append(varbyte_decode(row.tf_bytes).astype(np.int32))
                dl_l.append(varbyte_decode(row.dl_bytes).astype(np.int32))
                df_l.append(np.full(n, row.df, dtype=np.int64))
            if ids_l:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_l),
                        "doc_id": np.concatenate(ids_l),
                        "tf": np.concatenate(tf_l),
                        "dl": np.concatenate(dl_l),
                        "df": np.concatenate(df_l),
                    }
                )

    return explode


_WARM_FIELDED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
    ]
)


def _make_warm_fielded_exploder(k1: float, b: float, avgdl: float, n_docs: int, field_params):
    """Fielded twin of :func:`_make_warm_exploder`: per posting row the
    weighted per-field BM25 term score is FINAL at warm-build time (w, idf,
    per-field avgdl are all index settings), so the tier stores
    (base term, doc_id, score) directly — the caller merges multi-field rows
    into one row per (word, doc), keeping the serving plan's
    count(*) == matched-word-count property."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            terms_l, ids_l, s_l = [], [], []
            for row in pdf.itertuples(index=False):
                ids = np.cumsum(varbyte_decode(row.doc_bytes), dtype=np.uint64).astype(np.int64)
                tfs = varbyte_decode(row.tf_bytes).astype(np.float64)
                dls = varbyte_decode(row.dl_bytes).astype(np.float64)
                w, adl, base = _row_field(row.term, field_params, avgdl)
                idf = np.log(1.0 + (n_docs - row.df + 0.5) / (row.df + 0.5))
                s_l.append(w * idf * (tfs * (k1 + 1.0)) / (tfs + k1 * (1.0 - b + b * dls / adl)))
                terms_l.append(np.full(len(ids), base, dtype=object))
                ids_l.append(ids)
            if ids_l:
                yield pd.DataFrame(
                    {
                        "term": np.concatenate(terms_l),
                        "doc_id": np.concatenate(ids_l),
                        "s": np.concatenate(s_l),
                    }
                )

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
        # attributesToSearchOn (MeiliSearch search param): when set, term
        # LOOKUP fans out to these field prefixes only — scoring math is
        # untouched (weights/df/avgdl ride the per-field term rows that
        # remain).  None = all searchable attributes.
        self._active_prefixes: list[str] | None = None
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
        """The hot serving tier: postings decoded ONCE into cached
        (term, doc_id, tf, dl, df) rows, hash-partitioned by doc_id.

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
        block-max path; so do filtered/phrase queries).

        With ``warm_budget_bytes`` set, only the HEAD TERMS BY POSTING COUNT
        that fit the budget (at WARM_BYTES_PER_POSTING estimated decoded
        bytes/row) are warmed — the guardrail for the 4× decode multiplier
        at 100×: head terms carry most of the postings AND most of the query
        traffic, so a small term set buys most of the latency win, and
        queries touching any cold term transparently fall back to the
        compressed block-max path (:meth:`_warm_covers` routes per query;
        results are identical, tested)."""
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
            if self._fp:
                # fielded: scores are final at warm time (weights/avgdl are
                # index settings); merge per (word, doc) across fields ONCE
                # here so every query keeps count(*) == matched-word-count
                warm = (
                    src.select("term", "df", "doc_bytes", "tf_bytes", "dl_bytes")
                    .mapInPandas(
                        _make_warm_fielded_exploder(
                            self.meta.k1, self.meta.b, self.meta.avgdl,
                            self.meta.n_docs, self._fp,
                        ),
                        _WARM_FIELDED_SCHEMA,
                    )
                    .groupBy("term", "doc_id")
                    .agg(F.sum("s").alias("s"))
                )
            else:
                warm = src.select(
                    "term", "df", "doc_bytes", "tf_bytes", "dl_bytes"
                ).mapInPandas(_make_warm_exploder(), _WARM_SCHEMA)
            # deleted docs never enter the serving tier — zero per-query
            # cost for deletes on the warm path
            warm = self._exclude_deleted(warm)
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

    def _warm_view(self) -> str:
        """The warm tier's temp view name (registered once per tier build)."""
        return self._warm_binding()[0]

    def _warm_binding(self) -> tuple[str, dict]:
        """(warm view name, its plan cache), registered once per tier build.

        Warm queries run as ONE ``spark.sql`` string over this view (see
        :meth:`_warm_ranked`): building the plan through the Column API cost
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

    _PLAN_CACHE_CAP = 512  # parsed warm plans per engine (tiny objects)

    def _warm_scored_sql(self, view: str, qterms: list[QueryTerm], neg_ids=None) -> str:
        """(variant_id, doc_id, score, terms_matched) per (variant, doc) over
        the warm view: ``term IN (…)`` (an InSet — the columnar cache prunes
        term-sorted batches) → ``explode(map(term → variant ids)[term])`` →
        the BM25 scalar → sum and count, exchange-free (the tier is
        hash-partitioned by doc_id).  A single-variant query takes a
        constant variant id instead of the map, so its generated code is
        identical across queries.  Negative-keyword ids drop at the scan:
        the whole matching set is scored here, so that is exact."""
        by_term: dict[str, list[int]] = {}
        for q in qterms:
            by_term.setdefault(q.term, []).append(q.variant_id)
        terms = sorted(by_term)
        where = f"term IN ({', '.join(map(_sql_str, terms))})" if terms else "FALSE"
        if neg_ids is not None and len(neg_ids):
            where += f" AND doc_id NOT IN ({', '.join(str(int(i)) for i in neg_ids)})"
        vids = sorted({q.variant_id for q in qterms})
        if len(vids) <= 1:
            return (
                f"(SELECT {vids[0] if vids else 0} AS variant_id, doc_id,"
                f" sum({self._warm_s_sql}) AS score, count(1) AS terms_matched"
                f" FROM {view} WHERE {where} GROUP BY doc_id)"
            )
        vmap = _sql_map((_sql_str(t), f"array({', '.join(map(str, by_term[t]))})") for t in terms)
        return (
            f"(SELECT variant_id, doc_id, sum(s) AS score, count(1) AS terms_matched"
            f" FROM (SELECT explode({vmap}[term]) AS variant_id, doc_id,"
            f" {self._warm_s_sql} AS s FROM {view} WHERE {where})"
            f" GROUP BY variant_id, doc_id)"
        )

    def _warm_ranked(self, qterms: list[QueryTerm], variants=None, neg_ids=None, **rank) -> DataFrame:
        """The warm route as ONE cached ``spark.sql`` statement:
        :meth:`_warm_scored_sql` ranked by :func:`rank_sql` (``rank`` are its
        keywords; raw BM25 dedups sub-variants by itself).

        Parsed Datasets are kept per engine, keyed by the SQL text: Spark
        caches the analyzed and compiled QueryExecution on the Dataset, so a
        repeated query pays only execution.  The cache belongs to one warm
        view (:meth:`_warm_binding`), so it can never serve a stale tier."""
        view, plans = self._warm_binding()
        if variants is None:
            rank.setdefault("dedup", len({q.variant_id for q in qterms}) > 1)
        text = rank_sql(self._warm_scored_sql(view, qterms, neg_ids), variants, **rank)
        df = plans.get(text)
        if df is None:
            df = self.spark.sql(text)
            if len(plans) >= self._PLAN_CACHE_CAP:
                plans.pop(next(iter(plans), None), None)  # FIFO — bounded, simple
            plans[text] = df
        return df

    def _rank_scored(self, scored: DataFrame, variants=None, **rank) -> DataFrame:
        """:func:`rank_sql` over a scored frame of the compressed routes
        (block-max, filtered, exact) — the same statement the warm route
        runs, through a temp view that lives only while the SQL is parsed
        (the Dataset keeps the resolved plan)."""
        name = f"mst_scored_{next(_VIEW_SEQ)}"
        scored.createOrReplaceTempView(name)
        try:
            return self.spark.sql(rank_sql(name, variants, **rank))
        finally:
            self.spark.catalog.dropTempView(name)

    def _stats_view(self) -> str:
        """doc_stats as a temp view (same once-per-binding contract as
        :meth:`_warm_view`) — the join side of SQL-composed serving paths
        (query.federation's warm fast path)."""
        ds, name = self.doc_stats, f"mst_stats_{self._view_id}"
        if getattr(self, "_stats_view_df", None) is not ds:
            ds.createOrReplaceTempView(name)  # replaced, never dropped (above)
            self._stats_view_df = ds
        return name

    def _warm_covers(self, qterms: list[QueryTerm]) -> bool:
        """True iff every query term is resident in the warm tier.

        On a budget-truncated tier a cold term would be silently ABSENT from
        the decoded rows (wrong scores, not slow scores), so any cold term
        routes the whole query to the compressed block-max path.  A term the
        index has never seen is also routed cold: the compressed path
        resolves it identically (zero postings), and treating unknown as
        cold keeps this check a pure frozenset lookup with no vocab scan."""
        if not self._warm_enabled:
            return False
        if self._active_prefixes is not None and self._active_prefixes != self._fprefixes:
            # warm rows pre-merge per-field scores; an attributesToSearchOn
            # restriction cannot be applied there — route to the compressed
            # path, whose term lookup honours the restriction exactly
            return False
        if self._warm_budget is None:
            return True
        if self._warm_terms is None:  # budget set but tier not built yet
            self.warm_postings()
        return all(q.term in self._warm_terms for q in qterms)

    def warm_memory_report(self) -> dict:
        """Memory accounting for the decoded serving tier (VERDICT r2 #8).

        Returns actual cached bytes (Spark block-manager storage info — the
        whole truth, including the compressed postings/doc_stats caches),
        the warm tier's row count and estimated decoded bytes, the JVM's max
        heap, and the est. heap fraction — the number an operator watches
        before raising ``warm_budget_bytes`` on a serving shard.

        On a ``cache_postings=False`` engine this is a pure estimate from
        index metadata (``warm_rows`` is None): the probe must not itself
        decode and persist a tier no query path will ever read."""
        if not self._warm_enabled:
            jsc = self.spark.sparkContext._jsc.sc()
            cached = sum(i.memSize() for i in jsc.getRDDStorageInfo())
            heap = int(self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
            est = self.meta.n_postings * self.WARM_BYTES_PER_POSTING
            return {
                "warm_rows": None,
                "total_postings": int(self.meta.n_postings),
                "est_warm_bytes": int(est),
                "cached_bytes_actual": int(cached),
                "jvm_max_heap_bytes": heap,
                "est_heap_fraction": est / heap if heap else None,
                "budget_bytes": self._warm_budget,
                "truncated": None,
                "warm_term_count": None,
            }
        w = self.warm_postings()
        warm_rows = w.count()
        jsc = self.spark.sparkContext._jsc.sc()
        cached = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        heap = int(self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        est = warm_rows * self.WARM_BYTES_PER_POSTING
        return {
            "warm_rows": int(warm_rows),
            "total_postings": int(self.meta.n_postings),
            "est_warm_bytes": int(est),
            "cached_bytes_actual": int(cached),
            "jvm_max_heap_bytes": heap,
            "est_heap_fraction": est / heap if heap else None,
            "budget_bytes": self._warm_budget,
            "truncated": self._warm_terms is not None,
            "warm_term_count": len(self._warm_terms) if self._warm_terms is not None else None,
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

    def _index_term_map(self, qterms: list[QueryTerm]) -> dict[str, list[int]]:
        """query (variant, word) pairs → index-term → variant ids.

        On a fielded index each query word fans out to one lookup term per
        searchable attribute (the reference's searchableAttributes: a word
        matches in ANY field, settings_manager.py:72-95) — the fan-out is a
        LOOKUP-set expansion only, scoring stays per (field, term) row."""
        by_term: dict[str, list[int]] = {}
        prefixes = self._lookup_prefixes()
        for q in qterms:
            if prefixes:
                for pre in prefixes:
                    by_term.setdefault(pre + q.term, []).append(q.variant_id)
            else:
                by_term.setdefault(q.term, []).append(q.variant_id)
        return by_term

    def _lookup_prefixes(self) -> list[str]:
        """Field prefixes for query-time term lookup: the attributesToSearchOn
        restriction when one is active, else every searchable attribute."""
        return (
            self._active_prefixes
            if self._active_prefixes is not None
            else self._fprefixes
        )

    @contextmanager
    def search_on(self, attributes: list[str] | None):
        """Restrict term lookup to the named searchable attributes for the
        queries PLANNED inside the block (MeiliSearch ``attributesToSearchOn``,
        default all).  Plans capture the restriction eagerly (literal term
        maps / closures), so executing the returned DataFrames after the
        block is safe.  Unknown fields are a request error (MeiliSearch
        400s); requires a fielded index.

        NOT thread-safe (sets engine-level state for the duration of the
        block, like every other mutable engine cache): an engine is a
        single-request planner — concurrent requests need one engine per
        thread, or serialized planning."""
        if attributes is None:
            yield
            return
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
        prev = self._active_prefixes
        self._active_prefixes = [
            f"{i}{FIELD_SEP}" for i in sorted({idx[a] for a in attributes})
        ]
        try:
            yield
        finally:
            self._active_prefixes = prev

    def candidate_blocks(self, qterms: list[QueryTerm]) -> DataFrame:
        """Term lookup (X2): scan filter + literal term→variants expansion.

        The (tiny) query-terms table is folded into the plan as a literal map
        instead of a broadcast join — same semantics, but no broadcast
        exchange and no extra job on the per-query latency path.  The ``isin``
        filter pushes to the scan so parquet row-group min/max stats on the
        term-sorted files prune untouched groups.
        """
        by_term = self._index_term_map(qterms)
        terms = sorted(by_term)
        if not terms:
            return self.postings.filter(F.lit(False)).withColumn("variant_id", F.lit(0))
        kv = []
        for t in terms:
            kv.append(F.lit(t))
            kv.append(F.array([F.lit(v) for v in by_term[t]]))
        vmap = F.create_map(*kv)
        return (
            self.postings.filter(F.col("term").isin(terms))
            .withColumn("variant_id", F.explode(vmap[F.col("term")]))
        )

    def _excluded_array(self):
        """Snapshot exclusion set for the python heap paths.  Ships in the
        task closure (~8 bytes/id): fine through ~10^5 deletions; beyond
        that compaction is overdue (TOMBSTONE_LITERAL_CAP guidance) — the
        JVM paths switch to an anti-join there, the heap paths accept the
        closure cost to keep exact full pages."""
        if not self._tombstones:
            return None
        return np.sort(np.asarray(self._tombstones, dtype=np.int64))

    def _merged_excluded(self, extra):
        """Tombstones ∪ a per-query exclusion set (negative keywords) for
        the heap kernels."""
        base = self._excluded_array()
        if extra is None or not len(extra):
            return base
        if base is None:
            return extra
        return np.unique(np.concatenate([base, extra]))

    def _exclude_deleted(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned doc ids from a (…, doc_id, …) frame: plan-literal
        InSet for small delete sets, anti-join above TOMBSTONE_LITERAL_CAP
        (a 10^5+-literal plan is the wrong shape — and that size means
        compact_index is overdue)."""
        from ..index.maintenance import TOMBSTONE_LITERAL_CAP

        if not self._tombstones:
            return df
        if len(self._tombstones) <= TOMBSTONE_LITERAL_CAP:
            return df.filter(~F.col("doc_id").isin(self._tombstones))
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
        df memo, tombstone snapshot) and re-reads everything."""
        for df in (self._warm, self._doomed_df):
            if df is not None:
                df.unpersist()
        self._warm, self._doomed_df = None, None
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
            if self._warm is not None:
                self._warm.unpersist()
                self._warm = None  # rebuilt (minus deletes) on next warm query
            if self._doomed_df is not None:
                self._doomed_df.unpersist()
                self._doomed_df = None
        return len(self._tombstones)

    def score_variants(self, qterms: list[QueryTerm], prune_threshold: float | None = None) -> DataFrame:
        """Per-(variant, doc) BM25 sums + matched-term counts."""
        blocks = self.candidate_blocks(qterms)
        if prune_threshold is not None:
            blocks = blocks.filter(F.col("block_max_score") >= F.lit(prune_threshold))
        decode = _make_decoder(
            self.meta.k1, self.meta.b, self.meta.avgdl, self.meta.n_docs, self._fp
        )
        scored = blocks.select(
            "variant_id", "term", "df", "doc_bytes", "tf_bytes", "dl_bytes"
        ).mapInPandas(decode, _SCORED_SCHEMA)
        scored = self._exclude_deleted(scored)
        if self._fp:
            # fielded: the decoder emits BASE terms, and a doc matching the
            # same word in two attributes yields two rows — matched-word
            # count must be distinct over base terms
            return scored.groupBy("variant_id", "doc_id").agg(
                F.sum("score").alias("score"),
                F.countDistinct("term").alias("terms_matched"),
            )
        # count(*) == countDistinct(term): a doc appears in exactly one bucket
        # per term, so each (variant, doc, term) row is unique
        return scored.groupBy("variant_id", "doc_id").agg(
            F.sum("score").alias("score"),
            F.count("*").alias("terms_matched"),
        )

    def score_variants_topk(
        self,
        qterms: list[QueryTerm],
        k: int,
        required_terms: dict[int, int] | None = None,
        partitions: int | None = None,
        phrase_terms: dict[int, list[str]] | None = None,
        extra_excluded=None,
    ) -> DataFrame:
        """EXACT per-variant top-k with block-max bucket pruning (R11).

        One small shuffle of candidate *blocks* by (variant, bucket) — doc
        alignment of buckets across terms makes per-bucket scores final, so
        decoded postings never shuffle at all (vs ``score_variants``, which
        shuffles every decoded (variant, doc) row into a hash agg).  Output is
        ≤ partitions × k rows per variant; merge with a global top-k.
        """
        cols = [
            "variant_id", "bucket", "term", "df", "block_max_score",
            "doc_bytes", "tf_bytes", "dl_bytes",
        ]
        if phrase_terms:
            if not getattr(self.meta, "positional", False):
                raise ValueError(
                    "phrase matching requires a positional index "
                    "(build_index(positional=True))"
                )
            cols.append("pos_bytes")
        blocks = self.candidate_blocks(qterms).select(*cols)
        if not self._bucket_partitioned:
            # cold path: establish bucket-completeness per partition explicitly
            partitions = partitions or self.spark.sparkContext.defaultParallelism
            blocks = blocks.repartition(partitions, "bucket")
        run = _make_bucket_topk(
            self.meta.k1, self.meta.b, self.meta.avgdl, self.meta.n_docs, k,
            required_terms or {}, phrase_terms,
            self._merged_excluded(extra_excluded),
            self._fp, self._lookup_prefixes(),
        )
        return blocks.mapInPandas(run, _TOPK_SCHEMA)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Document frequency per query term (drives 'frequency' matching).

        One term-pushdown scan for the not-yet-cached terms only; results are
        memoized per engine, so repeated/warm queries pay nothing.  A term
        absent from the index gets df=0 (sorts first — required earliest —
        which keeps unknown terms from silently relaxing)."""
        restricted = (
            self._active_prefixes is not None
            and self._active_prefixes != self._fprefixes
        )
        if restricted:
            # attributesToSearchOn: dfs must reflect the SEARCHED fields only
            # ('frequency' ordering would otherwise rank by fields the query
            # cannot match) — computed fresh, NOT memoized: the shared
            # _df_cache holds all-field values and must stay unpolluted
            pref = self._active_prefixes
            src = self.postings.filter(
                F.col("term").isin([p + t for t in sorted(set(terms)) for p in pref])
            ).select(F.substring_index("term", FIELD_SEP, -1).alias("term"), "df")
            rows = src.groupBy("term").agg(F.max("df").alias("df")).collect()
            found = {r["term"]: int(r["df"]) for r in rows}
            return {t: found.get(t, 0) for t in terms}
        missing = sorted({t for t in terms if t not in self._df_cache})
        if missing:
            if self._fprefixes:
                # prefixed-term filter pushes to the scan; strip AFTER so a
                # word's df = max over its per-attribute variants
                src = self.postings.filter(
                    F.col("term").isin([p + t for t in missing for p in self._fprefixes])
                ).select(F.substring_index("term", FIELD_SEP, -1).alias("term"), "df")
            else:
                src = self.postings.filter(F.col("term").isin(missing)).select("term", "df")
            rows = src.groupBy("term").agg(F.max("df").alias("df")).collect()
            for r in rows:
                self._df_cache[r["term"]] = int(r["df"])
            for t in missing:
                self._df_cache.setdefault(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _check_declared(self, fields, declared, kind: str) -> None:
        from .requests import check_declared

        check_declared(fields, declared, kind)

    def allowed_docs(self, filters: dict) -> DataFrame:
        """P4: filter dict → allowed doc_id set from the doc metadata table
        (reference filter semantics: restrict candidates, corpus-wide BM25
        stats unchanged — search_executor.py:766-829).  When the index
        declares ``filterableAttributes``, undeclared fields are a request
        error (MeiliSearch 400)."""
        from .requests import filters_to_column

        self._check_declared(
            (filters or {}).keys(),
            getattr(self.meta, "filterable_attributes", None),
            "filterable fields",
        )
        self._check_geo_filter(filters)
        return self.doc_stats.filter(filters_to_column(filters)).select("doc_id")

    def _check_geo_filter(self, filters: dict | None) -> None:
        """A ``_geo`` filter needs lat/lng doc metadata — raise the clean
        request error (not a plan-time AnalysisException) on EVERY path that
        hands filters to ``filters_to_column``: search, facets, deletes."""
        if "_geo" in (filters or {}):
            missing = {"lat", "lng"} - set(self.doc_stats.columns)
            if missing:
                raise ValueError(
                    f"_geo filter needs lat/lng doc metadata; missing {sorted(missing)}"
                )

    def score_variants_topk_filtered(
        self,
        qterms: list[QueryTerm],
        k: int,
        allowed: DataFrame,
        required_terms: dict[int, int] | None = None,
        phrase_terms: dict[int, list[str]] | None = None,
        extra_excluded=None,
    ) -> DataFrame:
        """Exact per-variant top-k over an allowed-doc subset (P4 + R11).

        Cogroups candidate blocks with the allowed doc ids per bucket:
        buckets with no allowed docs are pruned before any decode, and the
        decode loop intersects with the allowed set before the heap.  The
        allowed side arrives as one hash shuffle of bare doc ids (the filter
        predicate itself was already pushed into the doc_stats scan).

        ``block_max_score`` is intentionally NOT selected: per-bucket groups
        are scored independently (no running cross-bucket threshold exists
        inside a cogroup), so the bound could never prune here — shipping it
        through the Arrow exchange was pure dead weight (ADVICE r2)."""
        cols = [
            "variant_id", "bucket", "term", "df",
            "doc_bytes", "tf_bytes", "dl_bytes",
        ]
        if phrase_terms:
            if not getattr(self.meta, "positional", False):
                raise ValueError(
                    "phrase matching requires a positional index "
                    "(build_index(positional=True))"
                )
            cols.append("pos_bytes")
        blocks = self.candidate_blocks(qterms).select(*cols)
        allowed_b = allowed.withColumn(
            "bucket", (F.col("doc_id") / F.lit(self.meta.bucket_span)).cast("long")
        )
        run = _make_filtered_bucket_topk(
            self.meta.k1, self.meta.b, self.meta.avgdl, self.meta.n_docs, k,
            required_terms or {}, phrase_terms,
            self._merged_excluded(extra_excluded),
            self._fp, self._lookup_prefixes(),
        )
        return (
            blocks.groupby("bucket")
            .cogroup(allowed_b.groupby("bucket"))
            .applyInPandas(run, _TOPK_SCHEMA)
        )

    def _drop_stopwords(self, terms: list[str]) -> list[str]:
        if not self._stopwords:
            return terms
        return [t for t in terms if t not in self._stopwords]

    def _expand_matching(self, terms: list[str], matching: str):
        """Shared Q7 expansion: (uniq, prefixes, qterms, required)."""
        uniq = list(dict.fromkeys(self._drop_stopwords(terms)))
        dfs = self.term_dfs(uniq) if matching == "frequency" and len(uniq) > 1 else None
        prefixes = matching_prefixes(uniq, matching, dfs)
        qterms = [QueryTerm(vid, t) for vid, pf in enumerate(prefixes) for t in pf]
        if matching == "all":
            required: dict[int, int] | None = {0: len(uniq)}
        elif len(prefixes) > 1:
            required = {vid: len(pf) for vid, pf in enumerate(prefixes)}
        else:
            required = None
        return uniq, prefixes, qterms, required

    def _doc_store(self):
        """pyarrow dataset over doc_stats for direct point lookups."""
        if not hasattr(self, "_pads"):
            import pyarrow.dataset as pads

            self._pads = pads.dataset(os.path.join(self.index_dir, "doc_stats"))
        return self._pads

    def _exact_scored(self, qterms, filters, required, prefixes) -> DataFrame:
        """Shared exact-scoring preamble for the sort/distinct paths: full
        scores (+ filter join, required-terms map, per-doc dedup)."""
        scored = self.score_variants(qterms)
        if filters:
            scored = scored.join(self.allowed_docs(filters), "doc_id")
        return self._rank_scored(scored, required=required, dedup=len(prefixes) > 1)

    def _hit_cols(self, attributes: list[str] | None) -> list[str]:
        """Output column set for a hit row (validated attributes appended)."""
        return list(
            dict.fromkeys(
                ["url", "doc_id", "score", "terms_matched"]
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

    def _resolve_meta(self, rows: list, attributes: list[str] | None = None) -> list[dict]:
        """k-bounded doc-metadata lookup + driver-side merge.

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
        attrs = self._check_attrs(attributes)
        cols = list(
            dict.fromkeys(
                ["doc_id", "url"]
                + (["text_crop"] if "text_crop" in self.doc_stats.columns else [])
                + attrs
            )
        )
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
            d["url"] = m["url"]
            if "text_crop" in cols:
                d["text_crop"] = m["text_crop"]
            for a in attrs:
                d[a] = m[a]
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
        """The SERVING call: top-k hits as plain rows (eager, k-bounded).

        On a warm engine this is two small pure-JVM jobs — scored top-k
        collect (TakeOrderedAndProject) + metadata point lookup — with no
        Python stage and no broadcast exchange; the lazy :meth:`search`
        DataFrame API remains for plan composition.  Filter/sort/cold paths
        delegate to it."""
        from ..tokenizer import extract_index_terms, tokenize_for_index

        if filters or sort or not self._warm_enabled:
            return [
                r.asDict()
                for r in self.search(
                    query, k=k, matching=matching, filters=filters, sort=sort,
                    attributes_to_retrieve=attributes_to_retrieve,
                ).collect()
            ]
        terms = extract_index_terms(tokenize_for_index(query))
        if not terms:
            return []
        _uniq, _prefixes, qterms, required = self._expand_matching(terms, matching)
        if not self._warm_covers(qterms):
            # budget-truncated tier + a cold term: identical results via the
            # compressed block-max path (the lazy API routes it)
            return [
                r.asDict()
                for r in self.search(
                    query, k=k, matching=matching,
                    attributes_to_retrieve=attributes_to_retrieve,
                ).collect()
            ]
        rows = self._warm_ranked(qterms, required=required, k=k).collect()
        return self._resolve_meta(rows, attributes_to_retrieve)

    def _finalize_hits(
        self,
        topk: DataFrame,
        extra_cols: list[str] | None = None,
        attributes: list[str] | None = None,
    ) -> DataFrame:
        """Resolve urls (and stored text + requested attributes) for the
        ≤ k winning rows."""
        out_cols = list(
            dict.fromkeys(
                ["url", "doc_id", "score", "terms_matched"]
                + (extra_cols or [])
                + (["text_crop"] if "text_crop" in self.doc_stats.columns else [])
                + self._check_attrs(attributes)
            )
        )
        return (
            self.doc_stats.join(F.broadcast(topk), "doc_id")
            .select(*out_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

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
        tie-break) — with sort the top-k cannot prune by score, so the exact
        full-scoring path runs instead of the block-max heap.
        ``attributes_to_search_on`` restricts matching to the named
        searchable attributes of a fielded index (MeiliSearch
        attributesToSearchOn, default all).
        """
        if attributes_to_search_on is not None:
            with self.search_on(attributes_to_search_on):
                return self.search_terms(
                    terms, k=k, matching=matching, filters=filters, sort=sort,
                    attributes_to_retrieve=attributes_to_retrieve,
                    distinct=distinct, exclude_terms=exclude_terms,
                )
        neg_ids = blocked = None
        if exclude_terms:
            neg_ids, blocked = self._negative_exclusion(exclude_terms)
        uniq, prefixes, qterms, required = self._expand_matching(terms, matching)
        if not qterms and exclude_terms:
            # negative-only query: MeiliSearch placeholder semantics — every
            # non-excluded doc, no relevance score; filters/sort/distinct
            # apply exactly as on a placeholder search
            base = self._exclude_deleted(self.doc_stats)
            if filters:
                base = base.join(self.allowed_docs(filters), "doc_id")
            base = self._apply_negative_exclusion(base, neg_ids, blocked)
            if distinct:
                if distinct not in self._public_fields():
                    raise ValueError(
                        f"unknown distinct field {distinct!r}; available "
                        f"{self._public_fields()}"
                    )
                key = F.coalesce(
                    F.col(distinct).cast("string"),
                    F.concat(F.lit("\x00doc:"), F.col("doc_id").cast("string")),
                )
                w = Window.partitionBy(key).orderBy(F.asc("doc_id"))
                base = (
                    base.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            if sort:
                self._check_declared(
                    [x.partition(":")[0] for x in sort],
                    getattr(self.meta, "sortable_attributes", None),
                    "sortable fields",
                )
            order = (
                [*parse_sort(sort, self.doc_stats.columns)] if sort else []
            ) + [F.asc("doc_id")]
            # not _finalize_hits: it re-orders by score, which would discard
            # a requested placeholder sort (all scores are 0.0 here)
            joined = base.withColumn("score", F.lit(0.0)).withColumn(
                "terms_matched", F.lit(0).cast("long")
            )
            out_cols = self._hit_cols(attributes_to_retrieve)
            gp = geo_sort_point(sort)
            if gp is not None:
                joined = attach_geo_distance(joined, gp)
                out_cols = [*out_cols, "_geoDistance"]
            return joined.orderBy(*order).limit(k).select(*out_cols)
        if distinct or sort:
            # exact full-scoring path: a block-max top-k could starve a
            # distinct value, and with sort the cut cannot prune by score
            scored = self._exact_scored(qterms, filters, required, prefixes)
            # before the distinct window/cut: an excluded doc must never be
            # a distinct representative either
            scored = self._apply_negative_exclusion(scored, neg_ids, blocked)
            out_cols = self._hit_cols(attributes_to_retrieve)
            joined = self.doc_stats.join(scored, "doc_id")
            if distinct:
                # MeiliSearch distinctAttribute: at most one hit per value of
                # a stored field, best-by-relevance representative, applied
                # BEFORE the top-k cut.  Docs with a NULL field value stay
                # individually distinct (each its own group), matching
                # MeiliSearch.
                if distinct not in self._public_fields():
                    raise ValueError(
                        f"unknown distinct field {distinct!r}; available "
                        f"{self._public_fields()}"
                    )
                key = F.coalesce(
                    F.col(distinct).cast("string"),
                    F.concat(F.lit("\x00doc:"), F.col("doc_id").cast("string")),
                )
                w = Window.partitionBy(key).orderBy(F.desc("score"), F.asc("doc_id"))
                joined = (
                    joined.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            if sort:
                self._check_declared(
                    [x.partition(":")[0] for x in sort],
                    getattr(self.meta, "sortable_attributes", None),
                    "sortable fields",
                )
            order = (
                [*parse_sort(sort, self.doc_stats.columns)] if sort else []
            ) + [F.desc("score"), F.asc("doc_id")]
            gp = geo_sort_point(sort)
            if gp is not None:
                joined = attach_geo_distance(joined, gp)
                out_cols = [*out_cols, "_geoDistance"]
            return joined.orderBy(*order).limit(k).select(*out_cols)
        topk = self._scored_topk_expanded(
            qterms, required, prefixes, k, filters, neg_ids=neg_ids, blocked=blocked
        )
        return self._finalize_hits(topk, attributes=attributes_to_retrieve)

    def search_after(
        self,
        terms: list[str],
        cursor: tuple[float, str] | None = None,
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
        attributes_to_retrieve: list[str] | None = None,
    ) -> DataFrame:
        """Keyset (cursor) pagination: the page strictly AFTER ``cursor`` in
        the stable pagination order — the deep-pagination shape offset
        pagination cannot sustain at scale (page P via offset needs a
        top-(P·k) heap on every executor and P·k rows through the final
        merge; the cursor filter keeps every heap at k rows regardless of
        depth — R10's ``paginate`` covers the shallow MeiliSearch
        offset/limit surface, this covers the exhaustive-export one).

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
        Runs the exact full-scoring path (the same one sort/distinct use):
        the cursor predicate lands between scoring and the top-k, so the
        plan is Filter → TakeOrderedAndProject(k) — never a growing heap.
        """
        from .adhoc import SCORE_DECIMALS

        uniq, prefixes, qterms, required = self._expand_matching(terms, matching)
        if not qterms:
            # no scorable terms → the walk has no pages.  With a cursor the
            # answer must stay inside THIS method's total order (never
            # silently forward to search_terms, which would drop the cursor
            # and re-serve page 1); without one, page 1 == the plain result.
            base = self.search_terms(
                terms, k=k, matching=matching, filters=filters,
                attributes_to_retrieve=attributes_to_retrieve,
            )
            return base.limit(0) if cursor is not None else base
        scored = self._exact_scored(qterms, filters, required, prefixes)
        joined = self.doc_stats.join(scored, "doc_id").withColumn(
            "score", F.round("score", SCORE_DECIMALS)
        )
        if cursor is not None:
            cs, cu = float(cursor[0]), str(cursor[1])
            joined = joined.filter(
                (F.col("score") < F.lit(cs))
                | ((F.col("score") == F.lit(cs)) & (F.col("url") > F.lit(cu)))
            )
        out_cols = self._hit_cols(attributes_to_retrieve)
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
        scored = self.score_variants_topk(qterms, k=k)
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
        variants score in ONE block-max bucket top-k job; completions are
        discounted ×``PREFIX_COMPLETION_WEIGHT`` so the literal word beats
        its completions at equal raw score (exactness above prefix), and a
        doc keeps its best variant (X4 dedup, ties to the literal variant).
        Weights are constant per variant, so within-variant raw rank ==
        weighted rank and the pruned per-variant top-k stays exact.

        Negative keywords (``-word``) parse exactly as in :meth:`search`;
        they never prefix-expand (MeiliSearch negates the literal word).
        """
        from .pipeline import split_query_negatives
        from .ranker import PREFIX_COMPLETION_WEIGHT
        from ..tokenizer import extract_index_terms, tokenize_for_index

        if not getattr(self.meta, "prefix_search", True):
            # S5 prefixSearch toggle (MeiliSearch v1.12: disabled) → 400
            raise ValueError(
                "prefix search is disabled on this index "
                "(settings.update_prefix_search to re-enable)"
            )
        positive, exclude_terms = split_query_negatives(query)
        base = list(
            dict.fromkeys(
                self._drop_stopwords(extract_index_terms(tokenize_for_index(positive)))
            )
        )
        variants: list[list[str]] = [base]
        if base and not query[-1].isspace():
            for c in self.expand_terms(base[-1], max_expansions):
                variants.append(list(dict.fromkeys(base[:-1] + [c])))
        if len(variants) == 1:
            # nothing to complete → plain single-variant search
            return self.search_terms(
                base, k=k, filters=filters,
                attributes_to_retrieve=attributes_to_retrieve,
                exclude_terms=exclude_terms or None,
            )
        neg_ids = blocked = None
        if exclude_terms:
            neg_ids, blocked = self._negative_exclusion(exclude_terms)
        qterms = [QueryTerm(vid, t) for vid, ts in enumerate(variants) for t in ts]
        if blocked is not None:
            allowed = (
                self.allowed_docs(filters) if filters
                else self._exclude_deleted(self.doc_stats.select("doc_id"))
            )
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=allowed.join(blocked, "doc_id", "left_anti")
            )
        elif filters:
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=self.allowed_docs(filters),
                extra_excluded=neg_ids,
            )
        else:
            scored = self.score_variants_topk(qterms, k=k, extra_excluded=neg_ids)
        scored = scored.withColumn(
            "score",
            F.col("score")
            * F.when(F.col("variant_id") == 0, F.lit(1.0)).otherwise(
                F.lit(PREFIX_COMPLETION_WEIGHT)
            ),
        )
        topk = self._rank_scored(scored, k=k, dedup=True)
        return self._finalize_hits(topk, attributes=attributes_to_retrieve)

    def scored_topk(
        self,
        terms: list[str],
        k: int = 10,
        matching: str = "best",
        filters: dict | None = None,
    ) -> DataFrame:
        """The scoring core of :meth:`search_terms` WITHOUT the metadata
        join → (doc_id, score, terms_matched), same top-k and order.

        Useful when the caller resolves metadata itself (or not at all);
        federation measured FASTER with per-branch `search_terms` joins
        (see query/federation.py), so this is a building block, not the
        federation's current shape."""
        uniq, prefixes, qterms, required = self._expand_matching(terms, matching)
        return self._scored_topk_expanded(qterms, required, prefixes, k, filters)

    def _scored_topk_expanded(
        self, qterms, required, prefixes, k: int, filters: dict | None,
        neg_ids=None, blocked: DataFrame | None = None,
    ) -> DataFrame:
        if blocked is not None:
            # high-df negative keywords: allowed = docs ∖ blocked through the
            # filtered cogroup — fully distributed, never collected
            allowed = (
                self.allowed_docs(filters) if filters
                else self._exclude_deleted(self.doc_stats.select("doc_id"))
            )
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=allowed.join(blocked, "doc_id", "left_anti"),
                required_terms=required,
            )
        elif filters:
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=self.allowed_docs(filters),
                required_terms=required, extra_excluded=neg_ids,
            )
        elif self._warm_covers(qterms):
            # point-query serving: one cached SQL statement over the warm tier
            return self._warm_ranked(qterms, required=required, neg_ids=neg_ids, k=k)
        else:
            scored = self.score_variants_topk(
                qterms, k=k, required_terms=required, extra_excluded=neg_ids
            )
        return self._rank_scored(scored, k=k, dedup=len(prefixes) > 1)

    def search_phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact-adjacency phrase search (MeiliSearch quoted-phrase
        semantics): BM25 top-k over docs containing ``terms`` as a
        consecutive run, verified by position chains inside the bucket top-k
        (requires ``build_index(positional=True)``).  Raw BM25 — the
        variant-weighted phrase boost lives in ``multi_variant_search``."""
        uniq = list(dict.fromkeys(self._drop_stopwords(terms)))
        if not uniq:
            return self._finalize_hits(
                self.doc_stats.filter(F.lit(False)).select(
                    "doc_id", F.lit(0.0).alias("score"), F.lit(0).cast("long").alias("terms_matched")
                )
            )
        qterms = [QueryTerm(0, t) for t in uniq]
        scored = self.score_variants_topk(
            qterms, k=k, required_terms={0: len(uniq)}, phrase_terms={0: self._drop_stopwords(list(terms))}
        )
        topk = (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score", "terms_matched")
        )
        return self._finalize_hits(topk)

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
        from ..tokenizer import extract_index_terms, tokenize_for_index

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
        pref = self._lookup_prefixes()
        lookup = [p + t for t in terms for p in pref] if pref else list(terms)
        need = len(terms)

        def run(g: pd.DataFrame) -> pd.DataFrame:
            # positions restart per attribute, so proximity windows are a
            # WITHIN-FIELD property: group by (doc, field), window each
            # group, keep the doc's best field
            perdoc: dict[tuple[int, str], dict[str, np.ndarray]] = {}
            for row in g.itertuples(index=False):
                ids = np.cumsum(varbyte_decode(row.doc_bytes), dtype=np.uint64).astype(np.int64)
                tfs = varbyte_decode(row.tf_bytes)
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

    def _neg_scan_terms(self, terms: list[str]) -> list[str]:
        """Index-level term keys for an exclusion lookup: the
        attributesToSearchOn restriction applies to negatives exactly like
        positives (a title-restricted search only excludes on title)."""
        uniq = sorted({t for t in terms if t})
        if not uniq:
            raise ValueError("terms must be non-empty")
        prefixes = self._lookup_prefixes()
        return [p + t for t in uniq for p in prefixes] if prefixes else uniq

    def docs_with_terms(self, terms: list[str]) -> DataFrame:
        """DISTINCT doc ids containing ANY of ``terms`` — a lazy decode-only
        plan (term-pushdown scan of those terms' posting blocks → vectorized
        varbyte unpack → distinct), tombstones excluded, honoring an active
        attributesToSearchOn restriction.  Backs negative keywords; also the
        building block for "docs mentioning X" audits."""
        from ..index.maintenance import _make_block_unpacker, _tf_schema

        blocks = self.postings.filter(
            F.col("term").isin(self._neg_scan_terms(terms))
        ).select("term", "n_docs", "doc_bytes", "tf_bytes", "dl_bytes")
        unpack = _make_block_unpacker(list(self._tombstones or []), positional=False)
        return blocks.mapInPandas(unpack, _tf_schema(False)).select("doc_id").distinct()

    def _negative_exclusion(self, exclude_terms: list[str]):
        """Negative-keyword routing → ``(ids, blocked_df)``, at most one
        non-None (both None when no negative term matches anything).

        The routing estimate is the SUM of ``df`` over every matching
        index-level term key (field-prefixed variants included — on a
        fielded index the blocked set is the UNION across fields, so a
        per-word max would undercount it): one exchange-free aggregate over
        the term-pushdown scan, always ≥ |blocked|.  Small exclusion sets
        (same ``TOMBSTONE_LITERAL_CAP`` economics as deletions) collect to
        the driver once and ride the heap kernels' existing excluded-array
        hook — pages stay full, block-max pruning intact, ONE extra bounded
        job per query.  High-df negatives (excluding a frequent word can
        block half the corpus) never collect: the blocked ids stay a
        DataFrame and the query runs through the filtered cogroup path with
        ``allowed = docs ∖ blocked``, all distributed."""
        neg = [t for t in dict.fromkeys(exclude_terms) if t]
        if not neg:
            return None, None
        est = (
            self.postings.filter(F.col("term").isin(self._neg_scan_terms(neg)))
            .groupBy("term").agg(F.max("df").alias("df"))  # df repeats per block
            .agg(F.sum("df"))
            .collect()[0][0]
        )
        total_df = int(est or 0)
        if total_df == 0:
            return None, None
        blocked = self.docs_with_terms(neg)
        if total_df > _negative_literal_cap():
            return None, blocked
        ids = np.asarray([r["doc_id"] for r in blocked.collect()], dtype=np.int64)
        if not len(ids):
            return None, None
        return np.sort(ids), None

    @staticmethod
    def _apply_negative_exclusion(df: DataFrame, neg_ids, blocked) -> DataFrame:
        """Drop negative-keyword-blocked docs from a (…, doc_id, …) frame —
        literal InSet for collected sets, anti-join for DataFrame sets (the
        tombstone `_exclude_deleted` shape, per-query)."""
        if neg_ids is not None:
            return df.filter(~F.col("doc_id").isin([int(i) for i in neg_ids]))
        if blocked is not None:
            return df.join(blocked, "doc_id", "left_anti")
        return df

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
        from ..tokenizer import extract_index_terms, tokenize_for_index
        from .pipeline import split_query_negatives

        positive, exclude_terms = split_query_negatives(query)
        terms = extract_index_terms(tokenize_for_index(positive))
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
    ) -> DataFrame:
        """Full search-proxy semantics in ONE Spark job (SURVEY §3.3 / X1).

        Driver side: Q1-Q8 variant pipeline.  Cluster side: all variants
        score together (variant_id column replaces the reference's per-variant
        asyncio fan-out, search_executor.py:55-176), then R1/R2 weight+boost,
        X4 per-doc dedup keeping the best variant hit, optional R6
        normalization, P7 threshold, R10 top-k.

        ``filters`` (P4, search_executor.py:721-764) restricts candidates by
        doc metadata through the filtered block-max path; ``sort`` (P6,
        search_executor.py:766-843) orders the final page by doc fields with
        relevance as tie-break (score top-k pruning is disabled then — sort
        must see every matching doc).  With sort, phrase variants degrade to
        conjunctive matching (positions aren't decoded on the full-scoring
        path).

        Returns (url, doc_id, score, variant_type, terms_matched).
        """
        # attrs validate (400-style ValueError) and shape the output schema
        # BEFORE the empty-variant early exit, so a no-variant query returns
        # the same columns as a matching one and still rejects unknown names
        out_cols = list(
            dict.fromkeys(
                ["url", "doc_id", "score", "variant_type", "terms_matched"]
                + (["text_crop"] if "text_crop" in self.doc_stats.columns else [])
                + self._check_attrs(attributes_to_retrieve)
            )
        )
        if pq is None:
            from .pipeline import process_query

            pq = process_query(query, synonyms=self._synonyms or None)
        dedup, sort_cols = self._multi_variant_dedup(
            query, k, min_score_threshold, normalize, filters, sort, pq=pq
        )
        gp = geo_sort_point(sort)
        if gp is not None:
            # _geoPoint sort exposes _geoDistance on every response shape
            # (MeiliSearch geosearch), including the empty and placeholder ones
            out_cols = [*out_cols, "_geoDistance"]
        if dedup is None and getattr(pq, "exclude_terms", None):
            # negative-only query → placeholder page (search_terms owns the
            # semantics, including the _geoDistance attach); variant_type
            # marks it for the proxy response shape
            page = self.search_terms(
                [], k=k, filters=filters, sort=sort,
                attributes_to_retrieve=attributes_to_retrieve,
                exclude_terms=pq.exclude_terms,
            )
            return page.withColumn("variant_type", F.lit("placeholder")).select(
                *out_cols
            )
        if dedup is None:
            score_types = {
                "score": T.DoubleType(),
                "variant_type": T.StringType(),
                "terms_matched": T.LongType(),
                "_geoDistance": T.LongType(),
            }
            ds_types = {f.name: f.dataType for f in self.doc_stats.schema.fields}
            empty = T.StructType(
                [T.StructField(c, score_types.get(c) or ds_types[c]) for c in out_cols]
            )
            return self.spark.createDataFrame([], empty)
        if sort_cols:
            # sort fields first, relevance as tie-break; limit AFTER the
            # metadata join (TakeOrderedAndProject — no full sort materializes)
            joined = self.doc_stats.join(dedup, "doc_id")
            if gp is not None:
                joined = attach_geo_distance(joined, gp)
            return (
                joined.orderBy(*sort_cols, F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .select(*out_cols)
            )
        return (
            self.doc_stats.join(F.broadcast(dedup), "doc_id")
            .select(*out_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

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
    ) -> list[dict]:
        """Eager serving twin of :meth:`multi_variant_search`: two k-bounded
        pure-JVM jobs on a warm engine (scored top-k collect + metadata point
        lookup) — the path a request/response service should call."""
        if pq is None:
            from .pipeline import process_query

            pq = process_query(query, synonyms=self._synonyms or None)
        if not pq.variants and getattr(pq, "exclude_terms", None):
            # negative-only query: placeholder semantics live on the lazy path
            return [
                r.asDict()
                for r in self.multi_variant_search(
                    query, k=k, min_score_threshold=min_score_threshold,
                    normalize=normalize, filters=filters, sort=sort,
                    attributes_to_retrieve=attributes_to_retrieve, pq=pq,
                ).collect()
            ]
        if filters or sort or not self._warm_enabled:
            return [
                r.asDict()
                for r in self.multi_variant_search(
                    query, k=k, min_score_threshold=min_score_threshold,
                    normalize=normalize, filters=filters, sort=sort,
                    attributes_to_retrieve=attributes_to_retrieve, pq=pq,
                ).collect()
            ]
        # validate BEFORE any empty-result early return so a bad attribute
        # raises regardless of whether the query matched (parity with the
        # lazy path and multi_variant_search)
        self._check_attrs(attributes_to_retrieve)
        topk, _ = self._multi_variant_dedup(query, k, min_score_threshold, normalize, None, None, pq=pq)
        if topk is None:
            return []
        return self._resolve_meta(topk.collect(), attributes_to_retrieve)

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
        missing = [f for f in facets if f not in self._public_fields()]
        if missing:
            raise ValueError(
                f"unknown facet fields {missing}; available {self._public_fields()}"
            )
        # MeiliSearch: facets must be filterable attributes when a
        # declaration exists (invalid_search_facets 400)
        self._check_declared(
            facets, getattr(self.meta, "filterable_attributes", None),
            "filterable fields",
        )
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

    def _facet_match_set(self, qterms: list[str], filters: dict | None) -> DataFrame:
        """doc_stats rows of every document containing >= 1 query term (after
        ``filters``) — the shared match set behind facetDistribution and
        facetStats.  The postings read prunes to the query terms' blocks
        (term INSET pushdown); only those blocks decode."""
        from .requests import filters_to_column

        self._check_geo_filter(filters)
        if self._fp:  # fielded index: a word appears once per indexed field
            inset = [f"{i}{FIELD_SEP}{t}" for i in range(len(self.meta.fields)) for t in qterms]
        else:
            inset = qterms
        blocks = self.postings.filter(F.col("term").isin(inset)).select(
            "term", "df", "doc_bytes", "tf_bytes", "dl_bytes"
        )
        matched = (
            self._exclude_deleted(blocks.mapInPandas(_make_warm_exploder(), _WARM_SCHEMA))
            .select("doc_id")
            .distinct()
        )
        ds = self.doc_stats
        if filters:
            self._check_declared(
                filters.keys(),
                getattr(self.meta, "filterable_attributes", None),
                "filterable fields",
            )
            ds = ds.filter(filters_to_column(filters))
        return ds.join(matched, "doc_id")

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

        missing = [f for f in facets if f not in self._public_fields()]
        if missing:
            raise ValueError(
                f"unknown facet fields {missing}; available {self._public_fields()}"
            )
        self._check_declared(
            facets, getattr(self.meta, "filterable_attributes", None),
            "filterable fields",
        )
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
        if facet_name not in self._public_fields():
            raise ValueError(
                f"unknown facet field {facet_name!r}; available {self._public_fields()}"
            )
        self._check_declared(
            [facet_name], getattr(self.meta, "filterable_attributes", None),
            "filterable fields",
        )
        if terms is not None:
            qterms = list(dict.fromkeys(self._drop_stopwords(list(terms))))
            if not qterms:
                return self.spark.createDataFrame([], "value string, count long")
            ds = self._facet_match_set(qterms, filters)
        else:
            from .requests import filters_to_column

            ds = self._exclude_deleted(self.doc_stats)
            if filters:
                self._check_declared(
                    filters.keys(),
                    getattr(self.meta, "filterable_attributes", None),
                    "filterable fields",
                )
                self._check_geo_filter(filters)
                ds = ds.filter(filters_to_column(filters))
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
        # ONE df lookup covering every query's 'frequency' terms — per-query
        # term_dfs calls would serialize up to 50 driver-blocking scans before
        # the single scoring job (memoized, so only uncached terms cost)
        dfs = self._frequency_dfs([v for pq in pqs for v in pq.variants])
        qterms: list[QueryTerm] = []
        variants: list[Variant] = []
        for qi, pq in enumerate(pqs):
            self._add_scoring_variants(pq, dfs, qterms, variants, query=qi)
        if not qterms:
            return [[] for _ in queries]
        required = required_terms(variants)
        rank = dict(normalize=normalize, threshold=min_score_threshold, k=k, per_query=True)
        if self._warm_covers(qterms):
            ranked = self._warm_ranked(qterms, variants, required=required, **rank)
        else:
            ranked = self._rank_scored(
                self.score_variants_topk(qterms, k=k, required_terms=required), variants, **rank
            )
        rows = ranked.collect()
        resolved = self._resolve_meta(rows)
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

    def _frequency_dfs(self, variants) -> dict[str, int] | None:
        """One df lookup covering every 'frequency' variant's terms (memoized)."""
        terms = sorted(
            {t for v in variants if v.matching == "frequency" and len(set(v.terms)) > 1 for t in v.terms}
        )
        return self.term_dfs(terms) if terms else None

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

    def _multi_variant_dedup(
        self,
        query: str,
        k: int,
        min_score_threshold: float,
        normalize: bool,
        filters: dict | None,
        sort: list[str] | None,
        pq=None,
    ):
        """Variant pipeline + scoring + weighting + per-doc dedup + threshold.

        Returns ``(DataFrame | None, sort_cols | None)`` with columns
        (doc_id, score, variant_type, terms_matched) — the part of the search
        shared by the lazy DataFrame API and the eager page API.  Without
        ``sort`` the frame is the final top-``k`` in score order; with it,
        every matching doc, for the caller's field order.  ``pq`` lets a
        caller (SearchService) supply an already-processed query carrying
        request-level overrides (matching_strategy, max_query_variants)
        without a second pipeline pass."""
        from .pipeline import process_query

        if pq is None:
            pq = process_query(query, synonyms=self._synonyms or None)
        if not pq.variants:
            return None, None
        qterms: list[QueryTerm] = []
        variants: list[Variant] = []
        phrase_specs: dict[int, list[str]] = {}
        self._add_scoring_variants(
            pq, self._frequency_dfs(pq.variants), qterms, variants,
            phrase_specs=phrase_specs if getattr(self.meta, "positional", False) and not sort else None,
        )
        # per-variant EXACT top-k with bucket pruning is sufficient for the
        # global top-k after weighting: weights are constant per variant, so
        # within-variant rank by raw score == rank by weighted score, and any
        # doc in the final top-k is in its winning variant's top-k
        required = required_terms(variants)
        rank = dict(normalize=normalize, threshold=min_score_threshold, k=None if sort else k)
        # negative keywords parsed by Q1-Q8 ride the same routing the
        # single-variant path uses (literal excluded-array vs distributed
        # blocked-DataFrame, by df estimate)
        neg_ids = blocked = None
        if getattr(pq, "exclude_terms", None):
            neg_ids, blocked = self._negative_exclusion(pq.exclude_terms)
        if sort:
            self._check_declared(
                [x.partition(":")[0] for x in sort],
                getattr(self.meta, "sortable_attributes", None),
                "sortable fields",
            )
            sort_cols = parse_sort(sort, self.doc_stats.columns)
            scored = self.score_variants(qterms)
            if filters:
                scored = scored.join(self.allowed_docs(filters), "doc_id")
            scored = self._apply_negative_exclusion(scored, neg_ids, blocked)
            return self._rank_scored(scored, variants, required=required, **rank), sort_cols
        if blocked is not None:
            # high-df negatives: allowed = docs ∖ blocked, fully distributed
            allowed = (
                self.allowed_docs(filters) if filters
                else self._exclude_deleted(self.doc_stats.select("doc_id"))
            )
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=allowed.join(blocked, "doc_id", "left_anti"),
                required_terms=required, phrase_terms=phrase_specs or None,
            )
        elif filters:
            scored = self.score_variants_topk_filtered(
                qterms, k=k, allowed=self.allowed_docs(filters),
                required_terms=required, phrase_terms=phrase_specs or None,
                extra_excluded=neg_ids,
            )
        elif not phrase_specs and self._warm_covers(qterms):
            # point-query serving: one cached SQL statement over the warm
            # tier (phrase variants need positional decode — python path
            # below)
            return self._warm_ranked(qterms, variants, neg_ids, required=required, **rank), None
        else:
            scored = self.score_variants_topk(
                qterms, k=k, required_terms=required,
                phrase_terms=phrase_specs or None, extra_excluded=neg_ids,
            )
        return self._rank_scored(scored, variants, **rank), None
