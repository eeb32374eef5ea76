"""Result ranking / dedup / normalization operators (SURVEY §2.5-§2.6).

Re-expresses the reference's ResultRanker + SearchExecutor merge semantics
(src/search_proxy/services/result_ranker.py, search_executor.py) as generic
column-parameterized DataFrame transforms.  Everything is built-in Column
arithmetic / window functions — whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Variant-type boost table (reference: result_ranker.py:1258-1284, R2).
VARIANT_BOOSTS = {
    "original": 1.1,
    "tokenized": 1.2,
    "compound_split": 1.3,
    "fallback": 0.8,
    "mixed_language": 1.0,
    "phrase": 1.5,  # exact adjacency dominates loose-token matches (quoted intent)
    "synonym": 1.0,  # equal-word semantics; exactness boost separates originals
    # same boost as tokenized: the exactness ordering comes from the
    # ×PREFIX_COMPLETION_WEIGHT variant weight, not a second boost discount
    "prefix": 1.2,
}
# R2 boost as ONE SQL CASE over a ``variant_type`` column (unknown types
# keep 1.0); doubles print with ``repr`` + ``D`` so they fold to the table's
# exact IEEE values
VARIANT_BOOST_SQL = (
    "CASE variant_type "
    + " ".join(f"WHEN '{vt}' THEN {boost!r}D" for vt, boost in VARIANT_BOOSTS.items())
    + " ELSE 1.0D END"
)
ENGINE_BOOST_NEWMM = 1.1
# search-as-you-type: a completed last word scores slightly below the same
# words matched literally (MeiliSearch exactness ranks exact above prefix)
PREFIX_COMPLETION_WEIGHT = 0.95
EXACT_MATCH_BOOST = 2.0  # result_ranker.py:1286-1303, config settings.py:61
POSITION_DECAY = 0.1  # result_ranker.py:364-366
MIN_SCORE_THRESHOLD = 0.1  # search_proxy/config/settings.py:65


def dedup_by_key_max(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """X4: keep the best row per key; deterministic multi-column tie-break
    (reference: search_executor.py:523-548 keeps max score, ties by weight)."""
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols], F.asc(key))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def dedup_by_content_signature(
    df: DataFrame, text_col: str, sig_len: int, order_cols: list[str], id_col: str
) -> DataFrame:
    """X5: signature = leading ``sig_len`` chars; keep best row per signature
    (reference: search_executor.py:550-579, signature title[:100]|content[:200])."""
    sig = F.substring(F.col(text_col), 1, sig_len)
    w = Window.partitionBy(sig).orderBy(*[F.desc(c) for c in order_cols], F.asc(id_col))
    return (
        df.withColumn("_sig", sig)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_sig")
    )


def hybrid_dedup(
    df: DataFrame, id_col: str, text_col: str, sig_len: int, order_cols: list[str]
) -> DataFrame:
    """X6: id-dedup then content-dedup (search_executor.py:581-601)."""
    step1 = dedup_by_key_max(df, id_col, order_cols)
    return dedup_by_content_signature(step1, text_col, sig_len, order_cols, id_col)


def normalize_scores(df: DataFrame, score_col: str = "score") -> DataFrame:
    """R6: divide by global max (result_ranker.py:1305-1327); single scalar
    aggregate broadcast back — no full-window shuffle."""
    mx = df.agg(F.max(score_col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .withColumn(
            score_col,
            F.when(F.col("_mx") > 0, F.col(score_col) / F.col("_mx")).otherwise(F.col(score_col)),
        )
        .drop("_mx")
    )


def position_decay(df: DataFrame, part_col: str, order_col: str, score_col: str) -> DataFrame:
    """R4: score *= exp(-decay * position) with position = rank within group
    (result_ranker.py:364-366)."""
    w = Window.partitionBy(part_col).orderBy(F.asc(order_col))
    pos = F.row_number().over(w) - F.lit(1)
    return df.withColumn(score_col, F.col(score_col) * F.exp(F.lit(-POSITION_DECAY) * pos))


def apply_min_score_threshold(df: DataFrame, score_col: str = "score", threshold: float = MIN_SCORE_THRESHOLD) -> DataFrame:
    """P7 (result_ranker.py:245-249)."""
    return df.filter(F.col(score_col) >= F.lit(threshold))


def paginate_topk(df: DataFrame, order_cols: list[str], limit: int, offset: int = 0) -> DataFrame:
    """R10: score-desc top-k with offset (search_proxy_service.py:621-627).

    offset=0 compiles to TakeOrderedAndProject; with offset we take
    offset+limit then slice by global row_number (k stays small)."""
    ordered = df.orderBy(*[F.desc(c) for c in order_cols])
    if offset == 0:
        return ordered.limit(limit)
    top = ordered.limit(offset + limit)
    w = Window.orderBy(*[F.desc(c) for c in order_cols])
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + limit))
        .drop("_rn")
    )


def exact_match_boost(df: DataFrame, text_col: str, query: str, score_col: str = "score") -> DataFrame:
    """R3: ×2.0 when the lowercased query is a substring of the text
    (result_ranker.py:1286-1303)."""
    hit = F.contains(F.lower(F.col(text_col)), F.lit(query.lower()))
    return df.withColumn(score_col, F.when(hit, F.col(score_col) * EXACT_MATCH_BOOST).otherwise(F.col(score_col)))
