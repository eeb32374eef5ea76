"""Distributed inverted-index build (the engine MeiliSearch hides).

Pipeline (SURVEY §3.2 Spark equivalent):

    pages → assign dense doc ids (range-partition + two-pass offsets)
          → index_terms_udf (newmm segmentation, Arrow-batched)
          → explode → groupBy(doc_id, term) tf           [map-side combine]
          → bucket = doc_id // bucket_span               [salted merge: bounds
            every (term, bucket) group, defeating Zipf head-term skew — AQE
            does not cover hot aggregation keys, SURVEY §4.1]
          → applyInPandas: delta+varbyte blocks + per-block BM25 max score
          → postings parquet sorted by term (row-group pruning at query time)

Also writes ``doc_stats`` (url ↔ doc_id, doc_len, norm-text hash = the per-url
byte-identity lineage) and ``meta.json`` (N, avgdl, BM25 params, dictionary
fingerprint).  Checkpoint/lineage for resumable builds lives in
``lineage.py``.

Scale notes: every stage is a narrow map or a combiner-friendly aggregation;
the only wide shuffles are the two groupBys and the range partition for id
assignment.  No collect() touches row data — driver only sees partition
counts and scalar stats.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import varbyte_encode_chunks

DEFAULT_BLOCK_SIZE = 128
DEFAULT_BUCKET_SPAN = 8192  # docs per (term, bucket) group == block_size * 64

# Multi-field (attribute) indexing: each searchable field is its own term
# space — postings for field i of attribute list [title, content, ...] carry
# terms "i\x1f<term>" (Lucene's per-field inverted index; the reference's
# searchableAttributes, settings_manager.py:72-95).  \x1f (ASCII unit
# separator) never survives tokenization, so prefixed and plain terms cannot
# collide.  Everything downstream (codec, buckets, block-max, compaction)
# is field-agnostic; only tokenization, BM25 stats (per-field df/dl/avgdl)
# and the per-field weight know about fields.
FIELD_SEP = "\x1f"


def field_prefix(fid: int) -> str:
    return f"{fid}{FIELD_SEP}"


@dataclass(frozen=True)
class BM25Params:
    """Pinned scoring parameters (SURVEY §7 risk 2)."""

    k1: float = 1.2
    b: float = 0.75


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    block_size: int
    bucket_span: int
    k1: float
    b: float
    dictionary_fingerprint: str
    n_terms: int = -1
    n_postings: int = -1
    positional: bool = False
    stopwords_fingerprint: str = ""  # T12: "" = no stop-word list (default OFF)
    # the list itself (small — config, not data): the query side must drop
    # the same terms, or conjunctive strategies would require unindexed
    # (df=0) words and return nothing
    stopwords: list[str] = field(default_factory=list)
    # multi-field (attribute) indexing — [] = classic single-text index.
    # Weights are an INDEX setting (like MeiliSearch's searchableAttributes
    # order): they are baked into block_max_score at build time, so the
    # block-max pruning bound stays exact for weighted scores.
    fields: list[str] = field(default_factory=list)
    field_weights: list[float] = field(default_factory=list)
    field_avgdl: list[float] = field(default_factory=list)
    # metadata columns carried into doc_stats for attributesToRetrieve
    stored_fields: list[str] = field(default_factory=list)
    # S5 synonyms setting (reference settings_manager.py:226-249 add_synonyms,
    # pushed in the settings payload :171): one-way canonical -> alternates,
    # applied QUERY-SIDE as synonym variants (MeiliSearch applies synonyms at
    # search time; the index itself is unchanged).  Stored + fingerprinted in
    # meta so query config rides with the index like stopwords do.
    synonyms: dict = field(default_factory=dict)
    synonyms_fingerprint: str = ""
    # the stop-word list the POSTINGS were built with (settings.py
    # update_stop_words may extend the query-side list after build, but a
    # build-time word's postings are physically gone — un-stopping one
    # requires a rebuild, and this records which ones those are).
    # None (old metas) means "same as stopwords".
    stopwords_build: list[str] | None = None
    # S5 typoTolerance setting (MeiliSearch: enabled, minWordSizeForTypos
    # oneTypo/twoTypos, disableOnWords).  None = the MeiliSearch defaults
    # (enabled, 5/9, no disabled words); applied QUERY-SIDE by
    # expand_terms_fuzzy — postings are untouched, like synonyms/stopwords.
    typo_tolerance: dict | None = None
    # S5 filterable/sortable attribute declarations (MeiliSearch
    # filterableAttributes / sortableAttributes).  None = UNDECLARED mode:
    # every stored field filters/sorts (a permissive superset of
    # MeiliSearch's default-deny, kept for drop-in compatibility with
    # indexes built before the setting existed); a declared list is
    # enforced — undeclared fields are a request error, matching the 400.
    filterable_attributes: list[str] | None = None
    sortable_attributes: list[str] | None = None
    # set on shards produced by index.sharded.build_sharded_index:
    # {"n_shards": N, "shard": s} — n_docs/avgdl above are then the GLOBAL
    # corpus values and postings carry GLOBAL df, so every shard scores with
    # corpus-wide BM25 statistics (exact parity with the single index)
    sharding: dict | None = None
    # runtime custom-dictionary overlay (reference config.py:389-535
    # add/remove_dictionary_words): words added to the segmentation
    # dictionary AFTER this index was built.  Query-side tokenization picks
    # them up immediately on refresh_index; documents containing them keep
    # their build-time tokenization until routed through the add_documents
    # retokenize path (index.settings.update_dictionary documents the
    # contract).  dictionary_fingerprint above covers the dictionary in
    # effect when the CURRENT postings were tokenized.
    custom_dictionary: list[str] = field(default_factory=list)
    # S5 pagination/faceting settings (MeiliSearch `pagination.maxTotalHits`,
    # `faceting.maxValuesPerFacet`, and the v1.12 facetSearch/prefixSearch
    # toggles).  None = PERMISSIVE mode (no cap/limit — same drop-in
    # precedent as filterable_attributes: MeiliSearch's own defaults are
    # 1000/100, enforced only once the operator sets them); the toggles
    # default on, and disabling one turns the matching endpoint into a
    # request error like MeiliSearch's 400.
    pagination: dict | None = None
    faceting: dict | None = None
    facet_search: bool = True
    prefix_search: bool = True

    def public_fields(self, available_columns) -> list[str]:
        """The retrievable/facetable/distinct-able document fields: the
        build's declared stored_fields plus url/lang/text_crop when the
        given doc_stats columns carry them — NOT internal index columns
        (doc_id, doc_len, norm_hash).  The ONE definition shared by the
        engine's attribute validation, index_stats, and the settings
        declaration checks (drift between copies was a real reviewed bug)."""
        cols = set(available_columns)
        return sorted(
            set(self.stored_fields)
            | {c for c in ("url", "lang", "text_crop") if c in cols}
        )

    def field_params(self) -> dict[str, tuple[float, float]] | None:
        """prefix-id → (weight, per-field avgdl), or None when unfielded."""
        if not self.fields:
            return None
        return {
            str(i): (float(self.field_weights[i]), float(self.field_avgdl[i]))
            for i in range(len(self.fields))
        }


POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("block_max_score", T.DoubleType(), False),
        # per-block concatenated within-doc position deltas (b"" when the
        # index is built without positions)
        T.StructField("pos_bytes", T.BinaryType(), True),
    ]
)


def idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    """Lucene-style non-negative BM25 idf."""
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25(df, tf, dl, n_docs: int, k1: float, b: float, avgdl, w=1.0) -> np.ndarray:
    """The numpy BM25 term score of posting rows — the one definition both
    the build (block-max bounds) and the query kernels (heaps, the fielded
    warm tier) evaluate:
    ``w * idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl))``.

    ``w``/``avgdl`` are scalars or per-row arrays (:func:`field_weights`);
    ``w=1.0`` when unfielded, and ``1.0*x`` is exact, so one operation order
    keeps every bound bit-identical to the scores it bounds."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return w * idf(np.asarray(df, dtype=np.float64), n_docs) * (tf * (k1 + 1.0)) / (
        tf + k1 * (1.0 - b + b * dl / avgdl)
    )


def field_weights(
    terms, field_params: dict[str, tuple[float, float]] | None, avgdl: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-term (weight, avgdl, base term): a field-prefixed term resolves
    to its field's index-setting weight and per-field avgdl, its prefix
    stripped; any other term (or an unfielded index) is (1.0, avgdl, term).
    O(#terms) Python — callers pass one term per block or group."""
    n = len(terms)
    w, adl = np.ones(n), np.full(n, float(avgdl))
    base = np.empty(n, dtype=object)
    for i, t in enumerate(terms):
        pre, sep, rest = t.partition(FIELD_SEP)
        if field_params and sep:
            w[i], adl[i] = field_params.get(pre, (1.0, avgdl))
            t = rest
        base[i] = t
    return w, adl, base


def url_doc_id_map(
    pages: DataFrame, partitions: int | None = None, _caches: list[DataFrame] | None = None
) -> DataFrame:
    """``(url, doc_id)`` mapping: doc_id = global url rank, no driver data.

    Range-partition *url strings only* (column pruning: nothing else is
    shuffled or crosses into Python), sort within partitions, then two-pass
    offset assignment (per-partition counts → cumulative offsets → local row
    number).  The driver only ever sees one count per partition — the
    10^12-scale pattern.

    Doc ids equal the global url rank regardless of partition count (range
    partitions are contiguous and ordered), so output is identical at any
    parallelism — the property the scaling bench relies on.
    """
    spark = pages.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism
    urls = (
        pages.select("url")
        .repartitionByRange(partitions, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if _caches is not None:
        _caches.append(urls)
    counts = {r["_pid"]: r["cnt"] for r in urls.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [T.StructField("url", T.StringType(), False), T.StructField("doc_id", T.LongType(), False)]
    )

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"url": pd.Series(dtype=object), "doc_id": pd.Series(dtype="int64")})
                continue
            pid = int(pdf["_pid"].iloc[0])
            start = boff.value[pid] + local
            local += len(pdf)
            yield pd.DataFrame(
                {"url": pdf["url"], "doc_id": np.arange(start, start + len(pdf), dtype=np.int64)}
            )

    return urls.mapInPandas(tag, out_schema)


def assign_doc_ids(
    pages: DataFrame, partitions: int | None = None, _caches: list[DataFrame] | None = None
) -> DataFrame:
    """Input columns + dense deterministic ``doc_id`` (global url rank).

    The heavy columns never enter the rank computation: ``url_doc_id_map``
    shuffles/sorts url strings only, and the payload meets its id through one
    hash join on url.  The input is persisted because the range partitioner's
    boundary sampling plus the join probe would otherwise scan the source
    twice (callers pass ``_caches`` to unpersist after materialization).
    """
    pages = pages.persist()
    if _caches is not None:
        _caches.append(pages)
    mapping = url_doc_id_map(pages, partitions, _caches=_caches)
    return pages.join(mapping, "url")


def _docs_schema(store_text_crop: int | None) -> T.StructType:
    fields = [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("doc_len", T.IntegerType(), False),
        T.StructField("norm_hash", T.StringType(), False),
        # per-doc term frequencies: (doc_id, term) aggregation is free here —
        # a doc lives in exactly one partition, so tf never needs a shuffle
        T.StructField("tcounts", T.MapType(T.StringType(), T.IntegerType()), False),
    ]
    if store_text_crop is not None:
        fields.append(T.StructField("text_crop", T.StringType(), True))
    return T.StructType(fields)


def _docs_schema_full(
    store_text_crop: int | None,
    positional: bool,
    fielded: bool = False,
    stored: list[T.StructField] | None = None,
) -> T.StructType:
    base = list(_docs_schema(store_text_crop).fields)
    if positional:
        # positions of each term occurrence (ordinal among the doc's index
        # terms) — the phrase/proximity substrate; tf == len(positions)
        base.append(
            T.StructField("tpos", T.MapType(T.StringType(), T.ArrayType(T.IntegerType())), False)
        )
    if fielded:
        # per-field token counts ("0" → len(title terms), ...): the per-term
        # dl for field-prefixed postings, and the per-field avgdl source
        base.append(T.StructField("flens", T.MapType(T.StringType(), T.IntegerType()), False))
    for f in stored or []:
        base.append(f)
    return T.StructType(base)


DOCS_SCHEMA = _docs_schema(None)


def tokenized_docs(
    pages: DataFrame,
    partitions: int | None = None,
    _caches: list[DataFrame] | None = None,
    store_text_crop: int | None = None,
    positional: bool = False,
    stopwords: frozenset[str] | None = None,
    fields: list[str] | None = None,
    stored_fields: list[str] | None = None,
) -> DataFrame:
    """pages → (doc_id, url, lang, doc_len, norm_hash, terms) in ONE pass.

    Fuses dense doc-id assignment (global url rank via range partition +
    two-pass offsets) with tokenization and the byte-identity hash inside a
    single ``mapInPandas``: one shuffle of (url, text, lang), one JVM↔Python
    Arrow crossing, no join.  The offsets-counting job materializes the range
    exchange; the main job then *skips* that map stage (Spark shuffle-stage
    reuse on the shared lineage), so text is shuffled exactly once.

    Doc ids equal the global url rank regardless of partition count, so the
    output is identical at any parallelism — the scaling-bench invariant.

    ``fields`` switches on multi-attribute indexing: each listed column is
    tokenized into its own term space (terms prefixed ``f"{i}{FIELD_SEP}"``),
    per-field token counts land in ``flens``, ``doc_len`` is the total across
    fields, and the byte-identity hash covers the "\\n"-joined normalized
    fields in attribute order.  ``stored_fields`` columns pass through
    untouched (the attributesToRetrieve payload).
    """
    spark = pages.sparkSession
    partitions = partitions or spark.sparkContext.defaultParallelism
    text_cols = list(fields) if fields else ["text"]
    stored = [c for c in (stored_fields or []) if c not in ("url", "lang")]
    in_cols = ["url", *dict.fromkeys(text_cols + ["lang"] + stored)]
    slim = pages.select(*in_cols).persist()
    if _caches is not None:
        _caches.append(slim)
    # persist() freezes the range boundaries: the boundary sampling is seeded
    # by rdd id, so two independently-compiled jobs over an unpersisted
    # repartitionByRange can disagree on partitioning — the counts below would
    # then describe different partitions than the ones the tagging pass sees
    # (observed as duplicate doc ids).  The cache pins one physical layout
    # that both jobs read.
    parted = (
        slim.repartitionByRange(partitions, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if _caches is not None:
        _caches.append(parted)
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    boff = spark.sparkContext.broadcast(offsets)

    # runtime custom-dictionary overlay (dictionary.py): captured here on the
    # driver so executor workers — which re-import modules fresh — tokenize
    # with the same effective dictionary; empty tuple = pinned packaged dict
    from ..dictionary import get_custom_dictionary

    custom_words = tuple(get_custom_dictionary())

    def assign_and_tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        from collections import Counter

        from ..dictionary import set_custom_words
        from ..tokenizer import default_processor, extract_index_terms, tokenize_for_index

        set_custom_words(custom_words)  # idempotent on reused workers
        # direct calls, no memo cache: web corpus texts are ~all unique, so a
        # cache is pure overhead (and its churn hurts multi-worker scaling);
        # tokens are computed once and reused for both terms and the norm hash
        proc = default_processor()

        def field_terms(t):
            """one field's text → (prefix-less index terms, normalized text)."""
            if isinstance(t, str) and t:
                toks = tokenize_for_index(t)
                tt = extract_index_terms(toks)
                if stopwords:
                    # T12: stop-words leave the POSTING stream only — the
                    # norm hash below stays over the full token stream
                    # (byte-identity extraction contract is untouched)
                    tt = [w for w in tt if w not in stopwords]
                return tt, proc.process_tokens(t, toks).processed_text
            return [], (t or "")

        local = 0
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["_pid"].iloc[0])
            start = boff.value[pid] + local
            local += len(pdf)
            tcounts, hashes, lens, tpos_col, flens_col, crops = [], [], [], [], [], []
            field_series = [pdf[c] for c in text_cols]
            for vals in zip(*field_series):
                counter: Counter = Counter()
                tp: dict[str, list[int]] = {}
                flens: dict[str, int] = {}
                norms: list[str] = []
                total = 0
                for fi, t in enumerate(vals):
                    tt, norm = field_terms(t)
                    norms.append(norm)
                    pre = f"{fi}{FIELD_SEP}" if fields else ""
                    flens[str(fi)] = len(tt)
                    total += len(tt)
                    counter.update(pre + w for w in tt)
                    if positional:
                        # positions restart per field: adjacency (phrase) is a
                        # within-attribute property, never across fields
                        for i, term in enumerate(tt):
                            tp.setdefault(pre + term, []).append(i)
                h = hashlib.sha256("\n".join(norms).encode("utf-8")).hexdigest()
                tcounts.append(dict(counter))
                hashes.append(h)
                lens.append(total)
                if positional:
                    tpos_col.append(tp)
                if fields:
                    flens_col.append(flens)
                if store_text_crop is not None:
                    disp = "\n".join(v for v in vals if isinstance(v, str))
                    crops.append(disp[:store_text_crop])
            cols = {
                "doc_id": np.arange(start, start + len(pdf), dtype=np.int64),
                "url": pdf["url"].to_numpy(),
                "lang": pdf["lang"].to_numpy(),
                "doc_len": np.asarray(lens, dtype=np.int32),
                "norm_hash": hashes,
                "tcounts": tcounts,
            }
            if store_text_crop is not None:
                cols["text_crop"] = crops
            if positional:
                cols["tpos"] = tpos_col
            if fields:
                cols["flens"] = flens_col
            for c in stored:
                cols[c] = pdf[c].to_numpy()
            yield pd.DataFrame(cols)

    stored_struct = [pages.schema[c] for c in stored]
    return parted.mapInPandas(
        assign_and_tokenize,
        _docs_schema_full(store_text_crop, positional, bool(fields), stored_struct),
    )


def _encode_sorted_frame(
    pdf: pd.DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
    field_params: dict[str, tuple[float, float]] | None = None,
) -> pd.DataFrame:
    """Encode a frame sorted by (term, bucket, doc_id) into posting blocks.

    Fully vectorized: group/block boundaries via numpy change-point masks, one
    varbyte pass per column for the whole frame (sliced per block), per-block
    BM25 max via ``np.maximum.reduceat`` — no per-group pandas objects.
    """
    n = len(pdf)
    terms = pdf["term"].to_numpy()
    buckets = pdf["bucket"].to_numpy(np.int64)
    ids = pdf["doc_id"].to_numpy(np.uint64)
    tfs = pdf["tf"].to_numpy(np.uint64)
    dls = pdf["doc_len"].to_numpy(np.uint64)
    dfs = pdf["df"].to_numpy(np.int64)

    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
    gstarts = np.flatnonzero(change)
    glens = np.diff(np.append(gstarts, n))
    # index of each row within its (term, bucket) group
    gix = np.arange(n) - np.repeat(gstarts, glens)
    bstarts = np.flatnonzero(gix % block_size == 0)
    blens = np.diff(np.append(bstarts, n)).astype(np.int32)
    block_id = (gix[bstarts] // block_size).astype(np.int32)

    w, adl = 1.0, avgdl
    if field_params:
        # per-(term, bucket) group weight and avgdl, broadcast to rows via
        # the group run-lengths
        w_g, a_g, _base = field_weights(terms[gstarts], field_params, avgdl)
        w, adl = np.repeat(w_g, glens), np.repeat(a_g, glens)
    scores = bm25(dfs, tfs, dls, n_docs, k1, b, adl, w)
    bmax = np.maximum.reduceat(scores, bstarts)

    deltas = np.empty_like(ids)
    deltas[0] = ids[0]
    np.subtract(ids[1:], ids[:-1], out=deltas[1:])
    deltas[bstarts] = ids[bstarts]  # first value of each block is absolute

    if "positions" in pdf.columns:
        # flatten all docs' positions; delta-encode with a reset at each doc
        # (first position absolute); per-block slices via flat offsets —
        # decode recovers doc boundaries from tf_bytes
        pos_col = pdf["positions"].to_list()
        plens = np.fromiter((len(x) for x in pos_col), dtype=np.int64, count=n)
        flat = (
            np.concatenate([np.asarray(x, dtype=np.uint64) for x in pos_col])
            if n and plens.sum()
            else np.zeros(0, dtype=np.uint64)
        )
        row_offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(plens, out=row_offs[1:])
        pdeltas = flat.copy()
        if len(flat):
            pdeltas[1:] -= flat[:-1]
            starts = row_offs[:-1][plens > 0]
            pdeltas[starts] = flat[starts]
        pos_bytes = varbyte_encode_chunks(pdeltas, row_offs[bstarts]) if len(flat) else [b""] * len(bstarts)
        # varbyte_encode_chunks needs chunk starts over VALUE indices; blocks
        # with zero positions yield empty slices naturally
        if len(flat) == 0:
            pos_bytes = [b""] * len(bstarts)
    else:
        pos_bytes = [b""] * len(bstarts)

    return pd.DataFrame(
        {
            "term": terms[bstarts],
            "bucket": buckets[bstarts],
            "block_id": block_id,
            "first_doc": ids[bstarts].astype(np.int64),
            "n_docs": blens,
            "doc_bytes": varbyte_encode_chunks(deltas, bstarts),
            "tf_bytes": varbyte_encode_chunks(tfs, bstarts),
            "dl_bytes": varbyte_encode_chunks(dls, bstarts),
            "df": dfs[bstarts],
            "block_max_score": bmax,
            "pos_bytes": pos_bytes,
        }
    )


def _make_partition_encoder(
    n_docs: int,
    avgdl: float,
    params: BM25Params,
    block_size: int,
    field_params: dict[str, tuple[float, float]] | None = None,
):
    """Streaming ``mapInPandas`` encoder over a partition sorted by
    (term, bucket, doc_id).

    Replaces per-group ``applyInPandas`` (one pandas DataFrame per (term,
    bucket) — ruinous with Zipf-many tiny groups).  Arrow batches stream
    through; only the trailing — possibly batch-spanning — group is carried
    over, so memory stays bounded by ``bucket_span`` + one batch regardless of
    partition size.
    """
    k1, b = params.k1, params.b

    def encode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            terms = pdf["term"].to_numpy()
            buckets = pdf["bucket"].to_numpy(np.int64)
            tail = (terms == terms[-1]) & (buckets == buckets[-1])
            n_tail = int(np.count_nonzero(tail))  # sorted ⇒ tail is contiguous
            if n_tail == len(pdf):
                carry = pdf  # whole batch is one group (≤ bucket_span rows)
                continue
            carry = pdf.iloc[len(pdf) - n_tail :].reset_index(drop=True)
            yield _encode_sorted_frame(
                pdf.iloc[: len(pdf) - n_tail], n_docs, avgdl, k1, b, block_size, field_params
            )
        if carry is not None and len(carry):
            yield _encode_sorted_frame(carry, n_docs, avgdl, k1, b, block_size, field_params)

    return encode_partition


def encode_postings(
    posting_rows: DataFrame,
    n_docs: int,
    avgdl: float,
    params: BM25Params,
    block_size: int,
    partitions: int,
    field_params: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """(doc_id, term, tf, doc_len, df, bucket) rows → compressed posting blocks.

    ``repartition(term, bucket)`` is the salted merge: the bucket column bounds
    every co-located group to ``bucket_span`` docs, so Zipf head terms spread
    across tasks instead of melting one (SURVEY §4.1 — AQE does not cover hot
    aggregation keys).
    """
    encoder = _make_partition_encoder(n_docs, avgdl, params, block_size, field_params)
    return (
        posting_rows.repartition(partitions, "term", "bucket")
        .sortWithinPartitions("term", "bucket", "doc_id")
        .mapInPandas(encoder, POSTINGS_SCHEMA)
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
    bucket_span: int = DEFAULT_BUCKET_SPAN,
    params: BM25Params = BM25Params(),
    postings_partitions: int | None = None,
    store_text_crop: int | None = None,
    positional: bool = False,
    stopwords: list[str] | frozenset[str] | None = None,
    fields: list[str] | None = None,
    field_weights: list[float] | None = None,
    stored_fields: list[str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
    sink=None,
) -> IndexMeta:
    """Build the full inverted index under ``out_dir``.

    Layout: ``{out_dir}/postings`` (parquet, term-sorted), ``{out_dir}/doc_stats``,
    ``{out_dir}/meta.json``.

    ``store_text_crop=N`` additionally stores the first N chars of each doc in
    ``doc_stats.text_crop`` — the reference's displayedAttributes/crop
    behavior (settings_manager.py:80-95): hits come back with content for
    highlighting and exact-match boosts.  Off by default (at web scale stored
    text multiplies the doc_stats footprint).

    ``stopwords`` (T12; reference settings_manager stopWords, default OFF like
    the reference ships none for Thai) drops the listed terms from the posting
    stream inside the fused tokenize pass — doc_len and BM25 stats then count
    indexed terms only; the byte-identity norm hash is unaffected.  The list's
    fingerprint lands in meta.json so index/query config drift is detectable.

    ``fields`` switches on multi-attribute indexing (the reference's
    searchableAttributes + 'attribute' ranking rule,
    settings_manager.py:72-95): each listed ``pages`` column is indexed as
    its own term space with per-field df/doc_len/avgdl, and scores are
    weighted per field — ``field_weights`` defaults to halving by attribute
    ordinal (``2^(n-1-i)``: for [title, content] → [2.0, 1.0]), so a title
    match outranks the same match in content.  Weights are an INDEX setting
    (baked into block_max_score so pruning bounds stay exact), mirroring
    MeiliSearch where attribute order is index configuration.

    ``stored_fields`` carries the listed metadata columns verbatim into
    doc_stats — the attributesToRetrieve payload (search_executor.py:721-723);
    they are retrievable per hit and usable as filter/sort fields.

    ``synonyms`` (S5; reference settings_manager.py:226-249 add_synonyms)
    stores the one-way canonical->alternates map in meta.json with a
    fingerprint.  Synonyms are a QUERY-TIME setting (MeiliSearch applies
    them at search time): the posting stream is untouched, and the engine
    generates synonym variants for queries containing a canonical form.

    ``sink`` (default :class:`~.sinks.ParquetSink` rooted at ``out_dir``) is
    the storage seam: every final index table write/read goes through it, so
    an Iceberg deployment is ``sink=IcebergSink("cat.db.idx")`` — one
    constructor, zero builder changes (north-rule Iceberg mapping).
    """
    from ..dictionary import dictionary_fingerprint, get_custom_dictionary
    from .sinks import ParquetSink

    sink = sink or ParquetSink(out_dir)

    postings_partitions = postings_partitions or spark.sparkContext.defaultParallelism
    stopset = frozenset(stopwords) if stopwords else None
    fields = list(fields) if fields else None
    if fields and field_weights is None:
        field_weights = [float(2 ** (len(fields) - 1 - i)) for i in range(len(fields))]
    if fields and len(field_weights) != len(fields):
        raise ValueError("field_weights must match fields one-to-one")
    stored = [c for c in (stored_fields or []) if c not in ("url", "lang")]
    from . import settings as _settings

    syn = _settings.normalize_synonyms(synonyms)

    # id assignment + tokenization + byte-identity hash fused into one pass
    # (column pruning first: html/warc_ts never enter a shuffle or Python)
    caches: list[DataFrame] = []
    docs = tokenized_docs(
        pages, _caches=caches, store_text_crop=store_text_crop, positional=positional,
        stopwords=stopset, fields=fields, stored_fields=stored,
    ).persist()

    # doc_stats: id mapping + byte-identity lineage hash (north-rule invariant).
    # N and avgdl ride along as observed metrics — no separate stats job.
    stat_cols = ["doc_id", "url", "lang", "doc_len", "norm_hash"] + stored
    if store_text_crop is not None:
        stat_cols.append("text_crop")
    obs = Observation("corpus_stats")
    sink.write(
        docs.select(*stat_cols).observe(
            obs, F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
        ),
        "doc_stats",
    )  # docs is already range-partitioned by url → doc_id-contiguous files, no shuffle
    for c in caches:  # docs cache is materialized now; upstream caches can go
        c.unpersist()
    n_docs, avgdl = int(obs.get["n"]), float(obs.get["avgdl"] or 1.0)

    field_params = None
    if fields:
        # per-field avgdl over ALL docs (empty fields count as length 0):
        # one tiny agg over the cached docs frame — flens always carries
        # every field key, so sum/N == the mean including zeros
        favg = {
            r["fid"]: float(r["a"] or 0.0)
            for r in docs.select(F.explode("flens").alias("fid", "flen"))
            .groupBy("fid")
            .agg(F.avg("flen").alias("a"))
            .collect()
        }
        field_avgdl = [max(favg.get(str(i), 0.0), 1e-9) for i in range(len(fields))]
        field_params = {
            str(i): (float(field_weights[i]), field_avgdl[i]) for i in range(len(fields))
        }

    # token -> tf: already aggregated per doc inside the tokenize pass (a doc
    # never spans partitions), so this explode is a NARROW op — no shuffle,
    # no groupBy.  Recompute from the docs cache is a cheap map, so tf itself
    # needs no second cache.
    if positional:
        # positions ride along; tf == number of positions (phrase substrate)
        tf = docs.select(
            "doc_id", "doc_len", *(["flens"] if fields else []),
            F.explode("tpos").alias("term", "positions"),
        ).withColumn("tf", F.size("positions"))
    else:
        tf = docs.select(
            "doc_id", "doc_len", *(["flens"] if fields else []),
            F.explode("tcounts").alias("term", "tf"),
        )
    if fields:
        # per-term dl = the term's FIELD length (field id = the term prefix);
        # a narrow JVM map lookup, no extra shuffle
        tf = tf.withColumn(
            "doc_len", F.col("flens")[F.substring_index("term", FIELD_SEP, 1)]
        ).drop("flens")

    # document frequency per term — combiner-friendly count, skew-safe.
    # Vocabulary is dictionary-bounded (newmm terms), so df_tbl is tiny
    # relative to tf: AQE converts this join to broadcast at runtime from the
    # observed shuffle size (no driver-side count, and no forced broadcast
    # that could blow up on an unbounded vocabulary).
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))

    posting_rows = tf.join(df_tbl, "term").withColumn(
        "bucket", (F.col("doc_id") / F.lit(bucket_span)).cast("long")
    )
    postings = encode_postings(
        posting_rows, n_docs, avgdl, params, block_size, postings_partitions, field_params
    )

    # final clustering by term: blocks are already compressed (cheap shuffle),
    # and term-contiguous files give parquet row-group pruning at query time
    sink.write(
        postings.repartition(postings_partitions, "term")
        .sortWithinPartitions("term", "bucket", "block_id"),
        "postings",
    )

    meta = IndexMeta(
        n_docs=n_docs,
        avgdl=avgdl,
        block_size=block_size,
        bucket_span=bucket_span,
        k1=params.k1,
        b=params.b,
        dictionary_fingerprint=dictionary_fingerprint(),
        custom_dictionary=get_custom_dictionary(),
        positional=positional,
        stopwords_fingerprint=_settings.stopwords_fingerprint(stopset),
        stopwords=sorted(stopset) if stopset else [],
        stopwords_build=sorted(stopset) if stopset else [],
        fields=fields or [],
        field_weights=[float(w) for w in field_weights] if fields else [],
        field_avgdl=field_avgdl if fields else [],
        stored_fields=stored,
        synonyms=syn,
        synonyms_fingerprint=_settings.synonyms_fingerprint(syn),
    )
    pst = sink.read(spark, "postings")
    agg = pst.agg(
        F.countDistinct("term").alias("nt"), F.sum("n_docs").alias("np")
    ).collect()[0]
    meta.n_terms, meta.n_postings = int(agg["nt"]), int(agg["np"])
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(asdict(meta), fh, indent=1)
    # a fresh build defines a NEW document set: tombstones against the old
    # index must not dangle onto reassigned doc ids (maintenance.py)
    from .maintenance import clear_tombstones

    clear_tombstones(out_dir)
    docs.unpersist()
    return meta


def load_meta(index_dir: str) -> IndexMeta:
    if os.path.exists(os.path.join(index_dir, "_COMPACTING")):
        raise RuntimeError(
            f"index at {index_dir} has an interrupted compaction in progress "
            "(_COMPACTING marker present) — the pre-compaction tables are "
            "preserved as *_replaced; restore them (or re-run compact_index "
            "after moving them back) before serving"
        )
    with open(os.path.join(index_dir, "meta.json")) as fh:
        return IndexMeta(**json.load(fh))
