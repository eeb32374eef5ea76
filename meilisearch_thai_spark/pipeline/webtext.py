"""Web-text corpus hygiene operators (C4 / Gopher style) for training-data
pipelines.

The reference engine (certogo-tech/meilisearch-thai) ingests crawled pages
as-is (src/meilisearch_integration/document_processor.py builds documents
straight from raw text); a 100 TB web-text pipeline needs a cleaning stage
in front of the index build.  These operators implement the standard public
heuristics:

- **Boilerplate line removal** — C4 (Raffel et al. 2020, §2.2) drops lines
  that recur across documents (nav bars, cookie banners, footers).
  Implemented as line document-frequency: flag lines appearing in >=
  ``min_df`` distinct documents, then strip them order-preservingly.
- **Quality signals** — Gopher rules (Rae et al. 2021, Table A1): word
  count band, mean word length band, alphabetic-word fraction, bullet /
  ellipsis line fractions, duplicate-line fraction, top-bigram repetition
  fraction.
- **PII masking** — regex masking of emails / IPv4 / phone numbers with
  per-doc match counts (patterns restricted to constructs with identical
  semantics in Java regex and RE2 so the DuckDB oracle is exact).

Determinism: every fraction is emitted as integer basis points
(``(10000 * num) div den``) — pure integer arithmetic, bit-identical in any
engine (same trick as textstats.quality_score; float ROUND at .5 diverges
between Spark and DuckDB).

Scale notes (100 TB): line-df is a groupBy on the line value with map-side
combine — at full scale key on ``xxhash64(line)`` instead of the raw string
to bound shuffle width; the flagged-line set is tiny relative to the corpus
(boilerplate is by definition high-df), so the removal join broadcasts.
Gopher signals and PII masking are pure per-row Column expressions (JVM
codegen, zero shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import ws_tokens

# Gopher-style acceptance thresholds (Rae et al. 2021, Table A1), expressed
# in integer basis points against the emitted columns.
# Gopher's "must contain >= 2 distinct common stop words" language test
# (Rae et al. 2021 Table A1 — removes lorem-ipsum/keyword-stuffing pages).
# English-centric by construction: pass stop_words=None for Thai-tokenized
# text (the ZWSP-joined segments never contain these), or supply a
# Thai function-word list.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

GOPHER_THRESHOLDS = {
    "min_stop_words": 2,
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len_bp": 30_000,   # mean word length >= 3
    "max_mean_word_len_bp": 100_000,  # mean word length <= 10
    "min_alpha_word_bp": 8_000,       # >= 80% words contain a letter
    "max_bullet_line_bp": 9_000,      # <= 90% lines start with a bullet
    "max_ellipsis_line_bp": 3_000,    # <= 30% lines end with an ellipsis
    "max_dup_line_bp": 3_000,         # <= 30% duplicate lines
    "max_top_bigram_bp": 1_800,       # top 2-gram <= 18% of all 2-grams
}

# One letter (Latin or Thai block) anywhere in the word. Literal char-class
# ranges only — identical semantics in Java regex and RE2.
_ALPHA_WORD_RE = "[A-Za-zก-๛]"

# Repetition-removal thresholds (Rae et al. 2021, Table A1 — the char-
# fraction family; the count-fraction dup-line and top-bigram rules live in
# GOPHER_THRESHOLDS above). Integer basis points.
REPETITION_THRESHOLDS = {
    "max_dup_para_bp": 3_000,          # <= 30% duplicate paragraphs
    "max_dup_line_char_bp": 2_000,     # <= 20% chars in duplicate lines
    "max_dup_para_char_bp": 2_000,     # <= 20% chars in duplicate paragraphs
    "max_top_2gram_char_bp": 2_000,    # top 2-gram covers <= 20% of chars
    "max_top_3gram_char_bp": 1_800,
    "max_top_4gram_char_bp": 1_600,
    "max_dup_5gram_char_bp": 1_500,    # duplicate 5-grams cover <= 15%
    "max_dup_10gram_char_bp": 1_000,   # duplicate 10-grams cover <= 10%
}

# PII patterns — Java-regex / RE2 common subset (no lookaround, no \b edge
# differences on unicode; \b over ASCII digits/letters is identical).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9][0-9 -]{6,}[0-9]"


def split_lines(docs: DataFrame, id_col: str, text_col: str, delim: str = "\n") -> DataFrame:
    """Explode documents into (doc_key, pos, line) — narrow, no shuffle."""
    return docs.select(
        F.col(id_col).alias("doc_key"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "line"),
    )


def boilerplate_lines(
    docs: DataFrame, id_col: str, text_col: str, min_df: int = 3, delim: str = "\n"
) -> DataFrame:
    """Lines occurring in >= min_df distinct documents → (line, line_df).

    C4-style cross-document recurrence (Raffel et al. 2020 drop any line
    seen more than once at web scale; min_df is the tunable analogue).
    countDistinct shuffles once on the line value with partial aggregation.
    """
    lines = split_lines(docs, id_col, text_col, delim).select("doc_key", "line")
    return (
        lines.groupBy("line")
        .agg(F.countDistinct("doc_key").alias("line_df"))
        .filter(F.col("line_df") >= min_df)
    )


def remove_boilerplate(
    docs: DataFrame, id_col: str, text_col: str, min_df: int = 3, delim: str = "\n"
) -> DataFrame:
    """Strip flagged lines, preserving within-doc order →
    (doc_key, clean_text, n_kept, n_removed).

    Documents whose every line is boilerplate survive with clean_text ''.
    The flagged set is small (high-df lines only) so AQE broadcasts the
    anti-join side; the rebuild is one groupBy on doc_key.
    """
    flagged = boilerplate_lines(docs, id_col, text_col, min_df, delim).select("line")
    lines = split_lines(docs, id_col, text_col, delim)
    kept = lines.join(F.broadcast(flagged.withColumn("_flag", F.lit(1))), "line", "left")
    return (
        kept.groupBy("doc_key")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_flag").isNull(), F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s.line,
                ),
                delim,
            ).alias("clean_text"),
            F.sum(F.when(F.col("_flag").isNull(), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(F.col("_flag").isNotNull(), 1).otherwise(0)).cast("long").alias("n_removed"),
        )
    )


def remove_boilerplate_sql(
    table: str, id_col: str, text_col: str, min_df: int = 3
) -> str:
    return f"""
WITH arrs AS (
  SELECT {id_col} AS doc_key, string_split({text_col}, chr(10)) AS arr FROM {table}
),
flat AS (
  SELECT doc_key, unnest(generate_series(1, len(arr))) AS pos, arr FROM arrs
),
lines AS (SELECT doc_key, pos, arr[pos] AS line FROM flat),
df AS (
  SELECT line FROM lines GROUP BY 1 HAVING COUNT(DISTINCT doc_key) >= {min_df}
),
tagged AS (
  SELECT l.doc_key, l.pos, l.line, (d.line IS NOT NULL) AS flagged
  FROM lines l LEFT JOIN df d ON l.line = d.line
)
SELECT doc_key,
       COALESCE(string_agg(CASE WHEN NOT flagged THEN line END, chr(10) ORDER BY pos), '') AS clean_text,
       CAST(SUM(CASE WHEN NOT flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM tagged GROUP BY doc_key
"""


def gopher_quality(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    word_split: str = " |\n",
    stop_words: tuple | None = GOPHER_STOP_WORDS,
) -> DataFrame:
    """Gopher-style per-document quality signals, all integer basis points.

    Zero-shuffle: every signal — including the top-bigram repetition
    fraction — is a Column expression over the word/line arrays (the bigram
    mode is a fold over the *sorted* bigram array counting the longest equal
    run, so no explode+groupBy is needed).

    ``word_split`` is a regex; the default whitespace split matches the
    published Gopher rules for space-delimited languages. For Thai, run the
    tokenizer first and pass the ZWSP-joined ``processed_text`` with
    ``word_split='[ \\u200b\\n]'`` so "words" are real segments.
    """
    out = docs.select(
        F.col(id_col).alias("doc_key"),
        F.filter(F.split(F.col(text_col), word_split), lambda t: t != "").alias("ws"),
        F.split(F.col(text_col), delim).alias("lines"),
    )
    out = out.select(
        "doc_key",
        "lines",
        "ws",
        F.size("ws").cast("long").alias("n_words"),
        F.expr(
            "zip_with(slice(ws, 1, greatest(size(ws)-1, 0)),"
            "         slice(ws, 2, greatest(size(ws)-1, 0)),"
            "         (a, b) -> concat(a, ' ', b))"
        ).alias("bg"),
    )
    top_run = (
        "aggregate(array_sort(bg),"
        " named_struct('prev', cast('' as string), 'run', cast(0 as long), 'best', cast(0 as long)),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(x = acc.prev, acc.run + 1, cast(1 as long)),"
        "   'best', greatest(acc.best, if(x = acc.prev, acc.run + 1, cast(1 as long)))),"
        " acc -> acc.best)"
    )
    sum_len = "aggregate(ws, cast(0 as long), (acc, t) -> acc + length(t))"
    alpha_words = f"cast(size(filter(ws, t -> t rlike '{_ALPHA_WORD_RE}')) as long)"
    bullet_lines = (
        "cast(size(filter(lines, l -> l like '- %' or l like '•%')) as long)"
    )
    ellipsis_lines = (
        "cast(size(filter(lines, l -> l like '%...' or l like '%…')) as long)"
    )
    # All fractions via integer `div` — bit-identical to DuckDB's `//`.
    sig = out.select(
        "doc_key",
        F.col("n_words"),
        F.expr(f"(10000 * ({sum_len})) div greatest(n_words, 1)").alias("mean_word_len_bp"),
        F.expr(f"(10000 * {alpha_words}) div greatest(n_words, 1)").alias("alpha_word_bp"),
        F.expr(f"(10000 * {bullet_lines}) div greatest(cast(size(lines) as long), 1)").alias("bullet_line_bp"),
        F.expr(f"(10000 * {ellipsis_lines}) div greatest(cast(size(lines) as long), 1)").alias("ellipsis_line_bp"),
        F.expr(
            "(10000 * cast(size(lines) - size(array_distinct(lines)) as long))"
            " div greatest(cast(size(lines) as long), 1)"
        ).alias("dup_line_bp"),
        F.expr(f"(10000 * ({top_run})) div greatest(cast(size(bg) as long), 1)").alias("top_bigram_bp"),
        *(
            [
                F.expr(
                    "cast(size(array_intersect("
                    " array_distinct(transform(ws, x -> lower(x))),"
                    " array(" + ", ".join(f"'{w}'" for w in stop_words) + ")"
                    ")) as long)"
                ).alias("stop_word_distinct")
            ]
            if stop_words
            else []
        ),
    )
    t = GOPHER_THRESHOLDS
    stop_ok = (
        (F.col("stop_word_distinct") >= t["min_stop_words"])
        if stop_words
        else F.lit(True)
    )
    return sig.withColumn(
        "gopher_pass",
        stop_ok
        & (F.col("n_words") >= t["min_words"])
        & (F.col("n_words") <= t["max_words"])
        & (F.col("mean_word_len_bp") >= t["min_mean_word_len_bp"])
        & (F.col("mean_word_len_bp") <= t["max_mean_word_len_bp"])
        & (F.col("alpha_word_bp") >= t["min_alpha_word_bp"])
        & (F.col("bullet_line_bp") <= t["max_bullet_line_bp"])
        & (F.col("ellipsis_line_bp") <= t["max_ellipsis_line_bp"])
        & (F.col("dup_line_bp") <= t["max_dup_line_bp"])
        & (F.col("top_bigram_bp") <= t["max_top_bigram_bp"]),
    )


def gopher_quality_sql(
    table: str, id_col: str, text_col: str, word_split_sql: str = "' |' || chr(10)",
    stop_words: tuple | None = GOPHER_STOP_WORDS,
) -> str:
    t = GOPHER_THRESHOLDS
    stop_col = (
        ",\n         len(list_intersect(list_distinct(list_transform(b.ws, x -> lower(x))), ["
        + ", ".join(f"'{w}'" for w in stop_words)
        + "]))::BIGINT AS stop_word_distinct"
        if stop_words
        else ""
    )
    stop_clause = (
        f"stop_word_distinct >= {t['min_stop_words']} AND " if stop_words else ""
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_key,
         list_filter(regexp_split_to_array({text_col}, {word_split_sql}), x -> x <> '') AS ws,
         string_split({text_col}, chr(10)) AS lines
  FROM {table}
),
bgflat AS (
  SELECT doc_key, unnest(generate_series(1, len(ws) - 1)) AS i, ws FROM base
  WHERE len(ws) >= 2
),
bgcnt AS (
  SELECT doc_key, ws[i] || ' ' || ws[i+1] AS bigram, COUNT(*) AS c
  FROM bgflat GROUP BY 1, 2
),
bgtop AS (
  SELECT doc_key, MAX(c)::BIGINT AS top_run, SUM(c)::BIGINT AS n_bg
  FROM bgcnt GROUP BY 1
),
sig AS (
  SELECT b.doc_key,
         len(b.ws)::BIGINT AS n_words,
         ((10000 * COALESCE(list_sum(list_transform(b.ws, x -> length(x)::BIGINT)), 0)::BIGINT)
            // greatest(len(b.ws), 1))::BIGINT AS mean_word_len_bp,
         ((10000 * len(list_filter(b.ws, x -> regexp_matches(x, '{_ALPHA_WORD_RE}'))))
            // greatest(len(b.ws), 1))::BIGINT AS alpha_word_bp,
         ((10000 * len(list_filter(b.lines, l -> l LIKE '- %' OR l LIKE chr(8226) || '%')))
            // greatest(len(b.lines), 1))::BIGINT AS bullet_line_bp,
         ((10000 * len(list_filter(b.lines, l -> l LIKE '%...' OR l LIKE '%' || chr(8230))))
            // greatest(len(b.lines), 1))::BIGINT AS ellipsis_line_bp,
         ((10000 * (len(b.lines) - len(list_distinct(b.lines))))
            // greatest(len(b.lines), 1))::BIGINT AS dup_line_bp,
         ((10000 * COALESCE(g.top_run, 0)) // greatest(COALESCE(g.n_bg, 0), 1))::BIGINT AS top_bigram_bp{stop_col}
  FROM base b LEFT JOIN bgtop g USING (doc_key)
)
SELECT *,
       ({stop_clause}n_words >= {t['min_words']} AND n_words <= {t['max_words']}
        AND mean_word_len_bp >= {t['min_mean_word_len_bp']}
        AND mean_word_len_bp <= {t['max_mean_word_len_bp']}
        AND alpha_word_bp >= {t['min_alpha_word_bp']}
        AND bullet_line_bp <= {t['max_bullet_line_bp']}
        AND ellipsis_line_bp <= {t['max_ellipsis_line_bp']}
        AND dup_line_bp <= {t['max_dup_line_bp']}
        AND top_bigram_bp <= {t['max_top_bigram_bp']}) AS gopher_pass
FROM sig
"""


def _ngram_arr(n: int) -> str:
    """SQL expr: word n-gram array over ``ws`` (space-joined), empty when
    the doc is shorter than n.  The CASE guard matters: Spark's
    sequence(1, size-n+1) would run DESCENDING for short docs."""
    return (
        f"case when size(ws) >= {n} then"
        f" transform(sequence(1, size(ws)-{n}+1),"
        f"           i -> array_join(slice(ws, i, {n}), ' '))"
        f" else array() end"
    )


def _dup_chars_fold(arr_expr: str) -> str:
    """SQL expr: Σ over distinct values v of (count(v)-1) · length(v) —
    chars contained in occurrences beyond the first.  One fold over the
    SORTED array (equal values are adjacent), zero shuffle.  The ''
    sentinel is safe: a real '' element matching it adds length 0."""
    return (
        f"aggregate(array_sort({arr_expr}),"
        " named_struct('prev', cast('' as string), 'dc', cast(0 as long)),"
        " (acc, x) -> named_struct('prev', x,"
        "   'dc', acc.dc + if(x = acc.prev, cast(length(x) as long), cast(0 as long))),"
        " acc -> acc.dc)"
    )


def _top_cover_fold(arr_expr: str) -> str:
    """SQL expr: count(g*) · length(g*) for the most frequent element g*
    (ties broken by (count, length, value) descending — deterministic in
    both engines).  Run-length fold over the sorted array."""
    run2 = "if(x = acc.prev, acc.run + 1, cast(1 as long))"
    better = (
        f"({run2} > acc.brun or ({run2} = acc.brun and"
        f" (cast(length(x) as long) > acc.blen or"
        f"  (cast(length(x) as long) = acc.blen and x > acc.bg))))"
    )
    return (
        f"aggregate(array_sort({arr_expr}),"
        " named_struct('prev', cast('' as string), 'run', cast(0 as long),"
        "              'brun', cast(0 as long), 'blen', cast(0 as long),"
        "              'bg', cast('' as string)),"
        f" (acc, x) -> named_struct('prev', x, 'run', {run2},"
        f"   'brun', if({better}, {run2}, acc.brun),"
        f"   'blen', if({better}, cast(length(x) as long), acc.blen),"
        f"   'bg', if({better}, x, acc.bg)),"
        " acc -> acc.brun * acc.blen)"
    )


def repetition_signals(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rae et al. (Gopher) repetition-removal signals — the char-fraction
    family, complementing the count-fraction dup-line / top-bigram rules in
    :func:`gopher_quality`.  All integer basis points.

    Per document: duplicate-paragraph fraction, characters inside duplicate
    lines / paragraphs (occurrences beyond the first, over total line /
    paragraph chars), characters covered by the single most frequent word
    {2,3,4}-gram (count × gram length over the space-joined token-stream
    length, capped at 100%), and characters inside duplicate word
    {5,10}-grams — the standard (count−1) × length simplification of the
    paper's overlap-free counting, capped at 100%.

    Zero shuffle: every signal is a fold over a per-row sorted array
    (pure Column codegen, same pattern as :func:`gopher_quality`) — at
    100 TB this is a single scan-speed pass.  ``repetition_pass`` applies
    the Table A1 thresholds (REPETITION_THRESHOLDS).
    """
    base = docs.select(
        F.col(id_col).alias("doc_key"),
        ws_tokens(F.col(text_col)).alias("ws"),
        F.split(F.col(text_col), "\n").alias("lines"),
        F.split(F.col(text_col), "\n\n").alias("paras"),
    )
    tot_chars = (
        "aggregate(ws, cast(0 as long), (acc, t) -> acc + length(t))"
        " + greatest(cast(size(ws) - 1 as long), 0)"
    )
    line_chars = "aggregate(lines, cast(0 as long), (acc, t) -> acc + length(t))"
    para_chars = "aggregate(paras, cast(0 as long), (acc, t) -> acc + length(t))"

    cols = [
        F.col("doc_key"),
        F.expr(
            "(10000 * cast(size(paras) - size(array_distinct(paras)) as long))"
            " div greatest(cast(size(paras) as long), 1)"
        ).alias("dup_para_bp"),
        F.expr(
            f"(10000 * ({_dup_chars_fold('lines')})) div greatest({line_chars}, 1)"
        ).alias("dup_line_char_bp"),
        F.expr(
            f"(10000 * ({_dup_chars_fold('paras')})) div greatest({para_chars}, 1)"
        ).alias("dup_para_char_bp"),
    ]
    for n in (2, 3, 4):
        cols.append(
            F.expr(
                f"least(10000, (10000 * ({_top_cover_fold(_ngram_arr(n))}))"
                f" div greatest({tot_chars}, 1))"
            ).alias(f"top_{n}gram_char_bp")
        )
    for n in (5, 10):
        cols.append(
            F.expr(
                f"least(10000, (10000 * ({_dup_chars_fold(_ngram_arr(n))}))"
                f" div greatest({tot_chars}, 1))"
            ).alias(f"dup_{n}gram_char_bp")
        )
    sig = base.select(*cols)
    t = REPETITION_THRESHOLDS
    return sig.withColumn(
        "repetition_pass",
        (F.col("dup_para_bp") <= t["max_dup_para_bp"])
        & (F.col("dup_line_char_bp") <= t["max_dup_line_char_bp"])
        & (F.col("dup_para_char_bp") <= t["max_dup_para_char_bp"])
        & (F.col("top_2gram_char_bp") <= t["max_top_2gram_char_bp"])
        & (F.col("top_3gram_char_bp") <= t["max_top_3gram_char_bp"])
        & (F.col("top_4gram_char_bp") <= t["max_top_4gram_char_bp"])
        & (F.col("dup_5gram_char_bp") <= t["max_dup_5gram_char_bp"])
        & (F.col("dup_10gram_char_bp") <= t["max_dup_10gram_char_bp"]),
    )


def repetition_signals_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`repetition_signals` — deliberately a different
    shape (unnest + GROUP BY + window instead of sorted-array folds), so
    the fold implementations are independently verified."""
    t = REPETITION_THRESHOLDS
    gram_ctes, gram_cols = [], []
    for n in (2, 3, 4, 5, 10):
        gram_ctes.append(f"""
c{n} AS (
  SELECT doc_key, g, COUNT(*) AS c FROM (
    SELECT doc_key, array_to_string(ws[i:i+{n}-1], ' ') AS g
    FROM (SELECT doc_key, ws, unnest(generate_series(1, len(ws)-{n}+1)) AS i
          FROM base WHERE len(ws) >= {n})
  ) GROUP BY 1, 2
)""")
    for n in (2, 3, 4):
        gram_ctes.append(f"""
top{n} AS (
  SELECT doc_key, (c * length(g))::BIGINT AS cover FROM (
    SELECT doc_key, g, c, row_number() OVER (
      PARTITION BY doc_key ORDER BY c DESC, length(g) DESC, g DESC) AS rn
    FROM c{n}) WHERE rn = 1
)""")
        gram_cols.append(
            f"LEAST(10000, (10000 * COALESCE(top{n}.cover, 0))"
            f" // greatest(b.tot_chars, 1))::BIGINT AS top_{n}gram_char_bp"
        )
    for n in (5, 10):
        gram_ctes.append(f"""
dup{n} AS (
  SELECT doc_key, SUM((c - 1) * length(g))::BIGINT AS dc
  FROM c{n} WHERE c > 1 GROUP BY 1
)""")
        gram_cols.append(
            f"LEAST(10000, (10000 * COALESCE(dup{n}.dc, 0))"
            f" // greatest(b.tot_chars, 1))::BIGINT AS dup_{n}gram_char_bp"
        )
    joins = "".join(
        f" LEFT JOIN top{n} ON top{n}.doc_key = b.doc_key" for n in (2, 3, 4)
    ) + "".join(f" LEFT JOIN dup{n} ON dup{n}.doc_key = b.doc_key" for n in (5, 10))
    gram_ctes_sql = ",".join(gram_ctes)
    gram_cols_sql = ",\n         ".join(gram_cols)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_key,
         list_filter(string_split({text_col}, ' '), x -> x <> '') AS ws,
         string_split({text_col}, chr(10)) AS lines,
         string_split({text_col}, chr(10) || chr(10)) AS paras,
         (COALESCE(list_sum(list_transform(
             list_filter(string_split({text_col}, ' '), x -> x <> ''),
             x -> length(x)::BIGINT)), 0)
          + greatest(len(list_filter(string_split({text_col}, ' '), x -> x <> '')) - 1, 0)
         )::BIGINT AS tot_chars
  FROM {table}
),
ldup AS (
  SELECT doc_key, SUM((c - 1) * length(v))::BIGINT AS dc, SUM(c * length(v))::BIGINT AS tot
  FROM (SELECT doc_key, v, COUNT(*) AS c
        FROM (SELECT doc_key, unnest(lines) AS v FROM base) GROUP BY 1, 2)
  GROUP BY 1
),
pdup AS (
  SELECT doc_key, SUM((c - 1) * length(v))::BIGINT AS dc, SUM(c * length(v))::BIGINT AS tot
  FROM (SELECT doc_key, v, COUNT(*) AS c
        FROM (SELECT doc_key, unnest(paras) AS v FROM base) GROUP BY 1, 2)
  GROUP BY 1
),{gram_ctes_sql},
sig AS (
  SELECT b.doc_key,
         ((10000 * (len(b.paras) - len(list_distinct(b.paras))))
            // greatest(len(b.paras), 1))::BIGINT AS dup_para_bp,
         ((10000 * COALESCE(ldup.dc, 0)) // greatest(COALESCE(ldup.tot, 0), 1))::BIGINT AS dup_line_char_bp,
         ((10000 * COALESCE(pdup.dc, 0)) // greatest(COALESCE(pdup.tot, 0), 1))::BIGINT AS dup_para_char_bp,
         {gram_cols_sql}
  FROM base b
  LEFT JOIN ldup ON ldup.doc_key = b.doc_key
  LEFT JOIN pdup ON pdup.doc_key = b.doc_key{joins}
)
SELECT *,
       (dup_para_bp <= {t['max_dup_para_bp']}
        AND dup_line_char_bp <= {t['max_dup_line_char_bp']}
        AND dup_para_char_bp <= {t['max_dup_para_char_bp']}
        AND top_2gram_char_bp <= {t['max_top_2gram_char_bp']}
        AND top_3gram_char_bp <= {t['max_top_3gram_char_bp']}
        AND top_4gram_char_bp <= {t['max_top_4gram_char_bp']}
        AND dup_5gram_char_bp <= {t['max_dup_5gram_char_bp']}
        AND dup_10gram_char_bp <= {t['max_dup_10gram_char_bp']}) AS repetition_pass
FROM sig
"""


def mask_pii(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Mask emails / IPv4 / phone numbers →
    (doc_key, masked_text, n_email, n_ipv4, n_phone).

    Counts are taken on the original text; masking applies email → ipv4 →
    phone in that order (the classes cannot overlap: phone chars exclude
    dots and letters). Pure Column expressions, zero shuffle.
    """
    txt = F.col(text_col)
    n_email = F.size(
        F.expr(f"regexp_extract_all({text_col}, r'{PII_EMAIL_RE}', 0)")
    ).cast("long")
    n_ipv4 = F.size(
        F.expr(f"regexp_extract_all({text_col}, r'{PII_IPV4_RE}', 0)")
    ).cast("long")
    n_phone = F.size(
        F.expr(f"regexp_extract_all({text_col}, r'{PII_PHONE_RE}', 0)")
    ).cast("long")
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        F.col(id_col).alias("doc_key"),
        masked.alias("masked_text"),
        n_email.alias("n_email"),
        n_ipv4.alias("n_ipv4"),
        n_phone.alias("n_phone"),
    )


def mask_pii_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT {id_col} AS doc_key,
       regexp_replace(regexp_replace(regexp_replace({text_col},
           '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IPV4_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS masked_text,
       len(regexp_extract_all({text_col}, '{PII_EMAIL_RE}'))::BIGINT AS n_email,
       len(regexp_extract_all({text_col}, '{PII_IPV4_RE}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all({text_col}, '{PII_PHONE_RE}'))::BIGINT AS n_phone
FROM {table}
"""


def clean_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 3,
    require_gopher: bool = False,
    mask: bool = True,
    delim: str = "\n",
    word_split: str = " |\n",
) -> DataFrame:
    """The composed pre-indexing hygiene pass: boilerplate-line strip →
    optional Gopher quality gate → optional PII mask, with ``text_col``
    rewritten in place and EVERY other input column carried through — so a
    crawled-pages frame (url, warc_ts, html, text, lang) comes out with the
    same schema (minus gate-dropped rows) and feeds ``build_index``/
    ``add_documents`` directly, as advertised.

    Each stage is the operator above — one line-df shuffle + one rebuild
    groupBy; the gate and mask stay narrow.  The carried columns ride a
    final id-keyed join (co-partitioned with the rebuild shuffle), not the
    per-line explode, so wide metadata (e.g. raw html) is never duplicated
    per line.
    """
    cleaned = remove_boilerplate(docs, id_col, text_col, min_df=min_df, delim=delim)
    out = cleaned.select(F.col("doc_key").alias(id_col), F.col("clean_text").alias(text_col))
    if require_gopher:
        passing = gopher_quality(
            out, id_col, text_col, delim=delim, word_split=word_split
        ).filter("gopher_pass").select(F.col("doc_key").alias(id_col))
        out = out.join(passing, id_col)
    if mask:
        out = mask_pii(out, id_col, text_col).select(
            F.col("doc_key").alias(id_col), F.col("masked_text").alias(text_col)
        )
    others = [c for c in docs.columns if c not in (id_col, text_col)]
    if others:
        out = docs.select(id_col, *others).join(out, id_col)
    return out.select(*docs.columns)


def benchmark_contamination(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str,
    n: int = 8,
    word_split: str = " |\n",
) -> DataFrame:
    """Benchmark decontamination signals (GPT-3, Brown et al. 2020 §C uses
    13-gram overlap; PaLM/Llama use 8-10): for every training document, how
    many of its word ``n``-grams also occur in the evaluation ``benchmark``
    corpus → (doc_key, n_grams, n_contaminated, contaminated_bp).

    Docs with ``contaminated_bp > 0`` overlap the benchmark and would leak
    eval answers into training; callers drop or audit them.

    Scale shape: ONE shuffle total.  Per-doc gram dedup happens INSIDE the
    row (``array_distinct`` over the gram array — narrow, no exchange), the
    benchmark gram set is tiny next to a 100 TB corpus so the overlap check
    is a BROADCAST join on the exploded stream, and the only exchange is the
    per-doc count groupBy (map-side combine).  At full scale hash grams
    (xxhash64) instead of carrying strings through the explode.

    Fractions in integer basis points (bit-stable across engines).
    """
    # n-gram array over the whitespace tokens (sliding, stride 1) — same
    # construction as dedup.duplicate_spans so the two signals agree
    def spans_arr(ws: str):
        return F.expr(
            f"filter(transform({ws}, (x, i) -> if(i + {n} <= size({ws}),"
            f" array_join(slice({ws}, i + 1, {n}), ' '), null)), w -> w is not null)"
        )

    base = docs.select(
        F.col(id_col).alias("doc_key"),
        F.filter(F.split(F.col(text_col), word_split), lambda t: t != "").alias("ws"),
    ).select("doc_key", spans_arr("ws").alias("grams"))
    doc_grams = base.select(
        "doc_key", F.explode_outer(F.array_distinct("grams")).alias("gram")
    )
    bench_grams = (
        benchmark.select(
            F.filter(
                F.split(F.col(bench_text_col), word_split), lambda t: t != ""
            ).alias("ws")
        )
        .select(F.explode(spans_arr("ws")).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tagged = doc_grams.join(F.broadcast(bench_grams), "gram", "left")
    return tagged.groupBy("doc_key").agg(
        F.sum(F.when(F.col("gram").isNotNull(), 1).otherwise(0)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0)).cast("long").alias("n_contaminated"),
        F.expr(
            "(10000 * sum(case when _hit is not null then 1 else 0 end))"
            " div greatest(sum(case when gram is not null then 1 else 0 end), 1)"
        ).alias("contaminated_bp"),
    )


def benchmark_contamination_sql(
    table: str,
    id_col: str,
    text_col: str,
    bench_table: str,
    bench_text_col: str,
    n: int = 8,
) -> str:
    """DuckDB twin of :func:`benchmark_contamination` (split on space|newline)."""
    ws = "list_filter(regexp_split_to_array({col}, ' |' || chr(10)), x -> x <> '')"
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_key, {ws.format(col=text_col)} AS ws FROM {table}
),
dg AS (
  SELECT DISTINCT doc_key, array_to_string(ws[i : i + {n - 1}], ' ') AS gram
  FROM base, unnest(range(1, greatest(len(ws) - {n - 1}, 0) + 1)) AS r(i)
),
bws AS (
  SELECT {ws.format(col=bench_text_col)} AS ws FROM {bench_table}
),
bg AS (
  SELECT DISTINCT array_to_string(ws[i : i + {n - 1}], ' ') AS gram
  FROM bws, unnest(range(1, greatest(len(ws) - {n - 1}, 0) + 1)) AS r(i)
),
tagged AS (
  SELECT d.doc_key, d.gram, (b.gram IS NOT NULL) AS hit
  FROM dg d LEFT JOIN bg b USING (gram)
),
agg AS (
  SELECT doc_key,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         ((10000 * SUM(CASE WHEN hit THEN 1 ELSE 0 END)) // greatest(COUNT(*), 1))::BIGINT AS contaminated_bp
  FROM tagged GROUP BY 1
)
SELECT b.doc_key,
       COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.n_contaminated, 0) AS n_contaminated,
       COALESCE(a.contaminated_bp, 0) AS contaminated_bp
FROM base b LEFT JOIN agg a USING (doc_key)
"""


# HTML → text extraction regexes (Java-regex / RE2 common subset: inline
# (?is) flags, non-greedy .*?, literal classes; NO backreferences — RE2 has
# none, so container tags are dropped one pattern per tag name).  A full
# HTML5 parser is out of scope by design: these are the C4/CCNet-style
# crawl heuristics, not a DOM implementation.
# head drops last of the containers: the title is extracted BEFORE body
# processing, so the whole head section (meta/link/title noise) can go
_HTML_DROP_TAGS = ["script", "style", "noscript", "template", "head"]
_HTML_DROP_RE = "(?is)<{tag}[^>]*>.*?</{tag}>"
_HTML_COMMENT_RE = r"(?s)<!--.*?-->"
_HTML_BLOCK_RE = r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr|/table|/section|/article)[^>]*>"
_HTML_TAG_RE = r"<[^>]+>"
_HTML_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"),
]


def _decode_entities(col):
    """Decode the six common entities; ``&amp;`` LAST so author-escaped
    markup (``&amp;lt;``) cannot re-form an entity.  Shared by body text,
    head metadata, and sitemap loc decoding."""
    for ent, rep in _HTML_ENTITIES:
        if ent != "&amp;":
            col = F.replace(col, F.lit(ent), F.lit(rep))
    return F.replace(col, F.lit("&amp;"), F.lit("&"))


def html_text_columns(html_col):
    """(title Column, text Column) of the extraction in
    :func:`extract_html_text`, applicable IN PLACE on any frame — the shape
    for callers that must keep their own row identity (e.g. WARC records,
    where urls repeat across re-crawls and an id-keyed join would mispair
    rows)."""
    from pyspark.sql import Column

    h = html_col if isinstance(html_col, Column) else F.col(html_col)
    h = F.coalesce(h, F.lit(""))
    title = F.trim(_decode_entities(F.regexp_extract(h, _HTML_TITLE_RE, 1)))
    body = h
    for tag in _HTML_DROP_TAGS:
        body = F.regexp_replace(body, _HTML_DROP_RE.format(tag=tag), "")
    body = F.regexp_replace(body, _HTML_COMMENT_RE, "")
    body = F.regexp_replace(body, _HTML_BLOCK_RE, "\n")
    body = F.regexp_replace(body, _HTML_TAG_RE, " ")
    body = _decode_entities(body)
    body = F.regexp_replace(body, r"[ \t\r]+", " ")
    body = F.regexp_replace(body, r" ?\n ?", "\n")
    body = F.regexp_replace(body, r"\n{2,}", "\n")
    # trim() strips spaces only — leading/trailing newlines (a doc ending at
    # a block closer) need the regex
    body = F.regexp_replace(body, r"^\n+|\n+$", "")
    return title, F.trim(body)


def extract_html_text(docs: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Crawl-grade HTML → text extraction → (doc_key, title, text).

    The pages schema carries raw ``html`` precisely so this stage can run
    inside the pipeline (reference document_processor.py receives
    pre-extracted text from its crawler; at 100 TB the extraction IS
    pipeline work).  Heuristic chain — drop script/style/noscript/template
    and comments, break at block-level closers, strip remaining tags,
    decode the six common entities, collapse whitespace — pure per-row
    Column codegen, zero shuffle, same determinism contract as the other
    webtext operators (the DuckDB oracle is exact).

    ``&amp;`` decodes LAST so author-escaped markup (``&amp;lt;``) cannot
    re-form an entity.  Pass a string column (cast binary html yourself —
    charset detection is the caller's policy).  NULL html (failed fetch)
    yields empty outputs, not NULL propagation."""
    title, text = html_text_columns(html_col)
    return docs.select(
        F.col(id_col).alias("doc_key"),
        title.alias("title"),
        text.alias("text"),
    )


def extract_html_text_sql(table: str, id_col: str, html_col: str) -> str:
    """DuckDB twin of :func:`extract_html_text`."""
    html_col = f"COALESCE({html_col}, '')"
    ent_chain = "{col}"
    for ent, rep in _HTML_ENTITIES:
        if ent != "&amp;":
            rep_sql = rep.replace("'", "''")
            ent_chain = f"replace({ent_chain}, '{ent}', '{rep_sql}')"
    ent_chain = f"replace({ent_chain}, '&amp;', '&')"
    body = html_col
    for tag in _HTML_DROP_TAGS:
        body = f"regexp_replace({body}, '{_HTML_DROP_RE.format(tag=tag)}', '', 'g')"
    body = f"regexp_replace({body}, '{_HTML_COMMENT_RE}', '', 'g')"
    body = f"regexp_replace({body}, '{_HTML_BLOCK_RE}', chr(10), 'g')"
    body = f"regexp_replace({body}, '{_HTML_TAG_RE}', ' ', 'g')"
    body = ent_chain.format(col=body)
    body = f"regexp_replace({body}, '[ \\t\\r]+', ' ', 'g')"
    body = f"regexp_replace({body}, ' ?\\n ?', chr(10), 'g')"
    body = f"regexp_replace({body}, '\\n{{2,}}', chr(10), 'g')"
    body = f"regexp_replace({body}, '^\\n+|\\n+$', '', 'g')"
    return f"""
SELECT {id_col} AS doc_key,
       trim({ent_chain.format(col=f"regexp_extract({html_col}, '{_HTML_TITLE_RE}', 1)")}) AS title,
       trim({body}) AS text
FROM {table}
"""


def unigram_logprob(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ref: DataFrame,
    ref_text_col: str,
    word_split: str = " |\n",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020 filter
    web text by LM perplexity; the no-external-model version is a unigram LM
    trained on a trusted reference slice): per document, the mean add-one-
    smoothed unigram log-probability of its tokens under the reference →
    (doc_key, n_tokens, mean_logprob).

    ``logp(t) = ln((c_ref(t) + 1) / (N_ref + V_ref + 1))``; out-of-vocabulary
    tokens take the smoothing floor ``ln(1 / (N_ref + V_ref + 1))``.  Lower
    (more negative) means less like the reference — the filtering knob is a
    percentile cut on ``mean_logprob``, exactly CCNet's head/middle/tail
    split.  ``mean_logprob`` is rounded to 4 decimals (engine-stable).

    Scale shape: the reference vocabulary is bounded (a trusted slice, not
    the corpus), so its logprob table BROADCASTS; the corpus token stream
    explodes narrow, joins broadcast, and aggregates per doc with map-side
    combine — one corpus shuffle.  Empty docs score 0 with n_tokens 0.
    """
    toks_col = F.filter(F.split(F.col(text_col), word_split), lambda t: t != "")
    ref_toks = ref.select(
        F.explode(
            F.filter(F.split(F.col(ref_text_col), word_split), lambda t: t != "")
        ).alias("tok")
    )
    counts = ref_toks.groupBy("tok").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_ref"), F.count("*").alias("v_ref")
    )
    lp = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.log((F.col("c") + 1.0) / (F.col("n_ref") + F.col("v_ref") + 1.0)).alias("logp"),
        )
    )
    floor = totals.select(
        F.log(1.0 / (F.col("n_ref") + F.col("v_ref") + 1.0)).alias("floor")
    )
    stream = docs.select(
        F.col(id_col).alias("doc_key"), F.explode_outer(toks_col).alias("tok")
    )
    tagged = stream.join(F.broadcast(lp), "tok", "left").crossJoin(F.broadcast(floor))
    return tagged.groupBy("doc_key").agg(
        F.sum(F.when(F.col("tok").isNotNull(), 1).otherwise(0)).cast("long").alias("n_tokens"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("tok").isNotNull(), F.coalesce(F.col("logp"), F.col("floor"))))
                / F.greatest(
                    F.sum(F.when(F.col("tok").isNotNull(), 1).otherwise(0)), F.lit(1)
                ),
                F.lit(0.0),
            ),
            4,
        ).alias("mean_logprob"),
    )


def unigram_logprob_sql(
    table: str, id_col: str, text_col: str, ref_table: str, ref_text_col: str
) -> str:
    """DuckDB twin of :func:`unigram_logprob` (split on space|newline)."""
    ws = "list_filter(regexp_split_to_array({col}, ' |' || chr(10)), x -> x <> '')"
    return f"""
WITH rt AS (
  SELECT unnest({ws.format(col=ref_text_col)}) AS tok FROM {ref_table}
),
counts AS (SELECT tok, COUNT(*)::DOUBLE AS c FROM rt GROUP BY 1),
totals AS (SELECT SUM(c) AS n_ref, COUNT(*)::DOUBLE AS v_ref FROM counts),
lp AS (
  SELECT tok, ln((c + 1.0) / (n_ref + v_ref + 1.0)) AS logp FROM counts, totals
),
flr AS (SELECT ln(1.0 / (n_ref + v_ref + 1.0)) AS floor FROM totals),
stream AS (
  SELECT {id_col} AS doc_key, unnest({ws.format(col=text_col)}) AS tok FROM {table}
),
agg AS (
  SELECT s.doc_key,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(SUM(COALESCE(lp.logp, flr.floor)) / GREATEST(COUNT(*), 1), 4) AS mean_logprob
  FROM stream s LEFT JOIN lp USING (tok) CROSS JOIN flr
  GROUP BY 1
)
SELECT d.{id_col} AS doc_key,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.mean_logprob, 0.0) AS mean_logprob
FROM {table} d LEFT JOIN agg a ON d.{id_col} = a.doc_key
"""


# ---------------------------------------------------------------- unicode fix

# C0 controls except \t(09)/\n(0a), plus DEL + C1 (the cp1252-mojibake band).
# Literal \x escapes: Java regex and RE2 both parse them, so the SAME pattern
# text runs in Spark and in the DuckDB twin.
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]"
# BOM + soft hyphen: invisible chars crawls inherit from editors/CMSes.
# ZWSP (​) is deliberately KEPT — it is a Thai word-boundary signal the
# tokenizer consumes (T9 joining), not noise.
_INVISIBLE_RE = r"[\x{feff}\x{ad}]"


def unicode_fix(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ftfy-lite text normalization for crawled corpora →
    (doc_key, fixed_text): newline canonicalization (\\r\\n and \\r → \\n),
    C0/C1 control-character strip (tab/newline kept), BOM/soft-hyphen
    removal, then Unicode NFC composition — the standard first stage of a
    web-text training pipeline (every downstream exact/fuzzy dedup keys on
    bytes, so two crawls of the same page must normalize identically).

    Everything except NFC is pure Column codegen; NFC runs in ONE
    Arrow-batched pandas UDF (Spark has no built-in normalizer) — at 100 TB
    this is the narrow per-row map it looks like: no shuffle, no state,
    vectorized batches.  The DuckDB twin uses ``nfc_normalize`` — both sides
    implement Unicode NFC, so parity is exact."""
    def _nfc_fn(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    _nfc = F.pandas_udf(_nfc_fn, "string")  # scalar Arrow-batched series→series

    t = F.regexp_replace(F.col(text_col), r"\r\n|\r", "\n")
    t = F.regexp_replace(t, _CTRL_RE, "")
    t = F.regexp_replace(t, _INVISIBLE_RE, "")
    return docs.select(F.col(id_col).alias("doc_key"), _nfc(t).alias("fixed_text"))


def unicode_fix_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`unicode_fix` (same regex literals, RE2-parsed)."""
    return f"""
SELECT {id_col} AS doc_key,
       nfc_normalize(
         regexp_replace(
           regexp_replace(
             regexp_replace({text_col}, '\\r\\n|\\r', chr(10), 'g'),
             '{_CTRL_RE}', '', 'g'),
           '{_INVISIBLE_RE}', '', 'g')
       ) AS fixed_text
FROM {table}
"""


def dedup_lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document exact line deduplication (the CCNet/C4 crawl-artifact
    cleaner: nav menus, cookie banners, and footers repeat VERBATIM inside a
    page): keep each distinct line's FIRST occurrence, preserve order →
    (doc_key, text).

    Document-local array Columns — zero shuffle.  ``array_position`` makes
    the keep test "is this the line's first index", which is O(lines²) per
    document; web pages run hundreds of lines so this beats an
    explode+window shuffle by orders of magnitude, but cap pathological
    million-line docs upstream (gopher_quality's line limits) before this
    at 100 TB.  Empty lines dedupe like any other (one survives).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, lambda x, i: F.array_position(lines, x) == i + 1)
    return docs.select(
        F.col(id_col).alias("doc_key"),
        F.array_join(kept, "\n").alias("text"),
    )


def dedup_lines_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`dedup_lines` (explode + first-position window +
    ordered string_agg — the shape the Spark version avoids via arrays)."""
    return f"""
WITH lines AS (
  SELECT {id_col} AS doc_key,
         unnest(string_split({text_col}, chr(10))) AS line,
         generate_subscripts(string_split({text_col}, chr(10)), 1) AS pos
  FROM {table}
),
firsts AS (
  SELECT doc_key, line, pos,
         MIN(pos) OVER (PARTITION BY doc_key, line) AS first_pos
  FROM lines
)
SELECT doc_key,
       COALESCE(string_agg(line, chr(10) ORDER BY pos), '') AS text
FROM firsts WHERE pos = first_pos
GROUP BY doc_key
"""


def quality_classifier(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
    seed: str = "qc",
) -> DataFrame:
    """Model-based quality filter, the fastText-classifier shape (DCLM /
    FineWeb-Edu style): a LINEAR model over hashed unigram features decides
    keep/drop → (doc_key, logit, keep).

    The feature pipeline is the production one — token → md5 hash bucket
    (``j = h % n_buckets``) → weight lookup → mean logit — expressed
    entirely in Column codegen (transform + aggregate over the token
    array): zero shuffle, zero Python, linear scan at 100 TB.  The weight
    VECTOR here is a deterministic placeholder (Knuth-multiplicative
    integer derivation from the bucket index, w_j ∈ [-1, 1] in milli
    units); swapping in trained weights = replacing the arithmetic
    derivation with a broadcast ``n_buckets``-entry map — the hashing,
    bucketing, and aggregation stay identical, which is the part that has
    to scale.  No media/ML libs are needed or faked: a linear classifier
    IS this arithmetic.

    Determinism across engines: weights stay INTEGER (milli-units) through
    the sum — integer addition is order-independent, so any partitioning or
    fold order gives the same total; ``keep`` is the integer sign test
    (never a float threshold), and the reported ``logit`` does the single
    float division at the end, identically on both engines.  An empty doc
    scores 0 → keep (gate it with length rules upstream, not here).
    """
    toks = ws_tokens(F.lower(F.col(text_col)))

    def w_milli(tok):
        j = _hash_bucket(tok, n_buckets, seed)  # the shared bucketing
        return (j * F.lit(2654435761)) % 2001 - 1000

    total = F.aggregate(
        F.transform(toks, w_milli), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.greatest(F.size(toks), F.lit(1))
    return docs.select(
        F.col(id_col).alias("doc_key"),
        F.round(total / (F.lit(1000.0) * n), 9).alias("logit"),
        (total >= 0).alias("keep"),
    )


def quality_classifier_sql(
    table: str, id_col: str, text_col: str, n_buckets: int = 1024, seed: str = "qc"
) -> str:
    """DuckDB twin of :func:`quality_classifier`."""
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_key,
         list_filter(string_split(lower({text_col}), ' '), x -> x <> '') AS toks
  FROM {table}
),
s AS (
  SELECT doc_key, len(toks) AS n,
         COALESCE(list_sum(list_transform(toks, x ->
           ((('0x' || substr(md5('{seed}' || '|' || x), 1, 15))::UBIGINT::BIGINT
             % {n_buckets}) * 2654435761) % 2001 - 1000
         )), 0)::BIGINT AS total
  FROM t
)
SELECT doc_key,
       ROUND(total / (1000.0 * greatest(n, 1)), 9) AS logit,
       total >= 0 AS keep
FROM s
"""


_DEDUP_SEPS = {"line": "\n", "paragraph": "\n\n"}


def dedup_lines_global(
    docs: DataFrame, id_col: str, text_col: str, unit: str = "line"
) -> DataFrame:
    """CORPUS-WIDE exact line deduplication (the C4 move, applied at line
    grain: any line occurring more than once ANYWHERE in the corpus — nav
    chrome, cookie banners, license boilerplate, quoted headers — survives
    only at its first occurrence in ``(doc_key, position)`` order) →
    ``(doc_key, text)``, every input doc present (possibly empty).

    Shape: posexplode lines (narrow) → winner per md5(line) via ONE
    map-side-combinable ``min(struct(doc, pos))`` aggregate (the exchange
    carries ~|distinct lines| after partial reduction) → hash join back on
    the line hash to flag winners (AQE reuses the exchange; no corpus-wide
    sort — a window ``row_number() OVER (PARTITION BY hash)`` computes the
    same flag but sorts every shuffle partition) → per-doc reassembly by
    position.  Within-doc repeats fall out as a special case (the first
    corpus-wide occurrence is the only survivor), so this strictly
    subsumes :func:`dedup_lines`; run THIS one when you can afford the
    shuffle, the within-doc one when you cannot.

    ``unit="paragraph"`` runs the same dedup at blank-line-separated
    paragraph grain (the Dolma/RefinedWeb move — license blocks, quoted
    posts, syndicated articles recur as whole paragraphs that line grain
    shreds into partly-unique pieces).  Same plan, same oracle shape; only
    the split/join separator changes.
    """
    sep = _DEDUP_SEPS[unit]
    lines = docs.select(
        F.col(id_col).alias("doc_key"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("h", F.md5("line"))
    winners = lines.groupBy("h").agg(
        F.min(F.struct("doc_key", "pos")).alias("w")
    )
    kept = lines.join(winners, "h").filter(
        (F.col("doc_key") == F.col("w.doc_key")) & (F.col("pos") == F.col("w.pos"))
    )
    surv = kept.groupBy("doc_key").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text")
    )
    return (
        docs.select(F.col(id_col).alias("doc_key"))
        .join(surv, "doc_key", "left")
        .select("doc_key", F.coalesce("text", F.lit("")).alias("text"))
    )


def dedup_lines_global_sql(
    table: str, id_col: str, text_col: str, unit: str = "line"
) -> str:
    """DuckDB twin of :func:`dedup_lines_global` (window form — same
    winners because (doc, pos) is a total order within each line group)."""
    sep_sql = {"line": "chr(10)", "paragraph": "chr(10) || chr(10)"}[unit]
    return f"""
WITH lines AS (
  SELECT {id_col} AS doc_key,
         unnest(string_split({text_col}, {sep_sql})) AS line,
         generate_subscripts(string_split({text_col}, {sep_sql}), 1) AS pos
  FROM {table}
),
flagged AS (
  SELECT doc_key, line, pos,
         row_number() OVER (PARTITION BY md5(line) ORDER BY doc_key, pos) AS rn
  FROM lines
),
surv AS (
  SELECT doc_key, string_agg(line, {sep_sql} ORDER BY pos) AS text
  FROM flagged WHERE rn = 1 GROUP BY doc_key
),
base AS (SELECT {id_col} AS doc_key FROM {table})
SELECT base.doc_key, COALESCE(surv.text, '') AS text
FROM base LEFT JOIN surv USING (doc_key)
"""


def quality_buckets(
    scored: DataFrame,
    id_col: str = "doc_key",
    score_col: str = "mean_logprob",
    n_buckets: int = 4,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank documents
    by LM-quality score and cut into ``n_buckets`` equal buckets — bucket 1
    is the most reference-like slice (the "head" a curriculum samples
    first), the last bucket the tail a pipeline drops or down-weights.

    Deterministic on both engines: the score arrives already engine-stably
    rounded (:func:`unigram_logprob` rounds to 4 decimals) and ties break
    on ``id_col``; NTILE's leading-buckets-get-the-remainder rule is the
    same standard SQL semantics in Spark and DuckDB.

    Scale note: an unpartitioned NTILE is one global sort — of (id, score)
    pairs only, never the text, so it's a narrow two-column exchange; at
    100 TB prefer ``percentile_approx`` threshold cuts (one aggregate, no
    sort) when approximate bucket boundaries are acceptable.  Exact NTILE
    is the oracle-gated reference semantics.
    """
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return scored.select(
        id_col, score_col, F.ntile(n_buckets).over(w).alias("bucket")
    )


def quality_buckets_sql(
    scored_sql: str,
    id_col: str = "doc_key",
    score_col: str = "mean_logprob",
    n_buckets: int = 4,
) -> str:
    """DuckDB twin of :func:`quality_buckets`."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    return f"""
SELECT {id_col}, {score_col},
       NTILE({n_buckets}) OVER (ORDER BY {score_col} DESC, {id_col} ASC) AS bucket
FROM ({scored_sql})
"""


def _hash_bucket(tok, n_buckets: int, seed: str):
    """Token → feature bucket: the ONE hashing definition shared by the
    placeholder classifier, the trainer, and trained-weight inference
    (md5(seed|token) 15-hex prefix → long → mod)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"), tok)), 1, 15), 16, 10
    ).cast("long")
    return h % n_buckets


def train_quality_classifier(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 1024,
    epochs: int = 10,
    lr: float = 1.0,
    seed: str = "qc",
) -> tuple[list[float], float]:
    """Train the fastText-shape quality filter (logistic regression over
    hashed mean-normalized unigram counts) with full-batch gradient
    descent — the training half of :func:`quality_classifier`'s documented
    upgrade path ("swapping in trained weights"), DCLM/FineWeb-Edu style:
    label a small seed set (wiki-like = 1, raw-crawl = 0), train, then
    filter the 100 TB corpus with :func:`quality_classifier_trained`.

    Scale shape: the feature table (doc, bucket, x) materializes ONCE
    (one explode + one groupBy, then ``localCheckpoint`` — epochs never
    re-tokenize); each epoch is two hash aggregations — per-doc scores
    (weights enter as a BROADCAST n_buckets-entry array literal, so the
    dot product is a zero-shuffle lookup-sum) and per-bucket gradients —
    plus one n_buckets-row collect to update the driver-held vector.
    Training data is seed-set-sized, not corpus-sized; n_buckets floats
    on the driver is the entire model state.

    Floating-point note: gradient sums run in doubles, so exact bits can
    vary with partitioning (unlike this repo's integer-fixed-point ops);
    tests assert separation quality, not bitwise equality.

    Returns (weights, bias): weights[j] multiplies feature j, bias adds.
    """
    if epochs < 1:
        raise ValueError("train_quality_classifier needs at least one epoch")
    toks = ws_tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col).alias("doc_key"),
        F.col(label_col).cast("double").alias("y"),
        F.explode(F.transform(toks, lambda t: _hash_bucket(t, n_buckets, seed))).alias("j"),
        F.greatest(F.size(toks), F.lit(1)).alias("n"),
    )
    feats = (
        base.groupBy("doc_key", "y", "j")
        .agg((F.count("*") / F.first("n")).alias("x"))
        .localCheckpoint()
    )
    n_docs = feats.select("doc_key").distinct().count()
    w = [0.0] * n_buckets
    b = 0.0
    try:
        for _ in range(epochs):
            warr = F.array(*[F.lit(float(v)) for v in w])
            scores = feats.groupBy("doc_key", "y").agg(
                F.sum(F.element_at(warr, F.col("j").cast("int") + 1) * F.col("x")).alias("s")
            )
            resid = scores.select(
                "doc_key",
                (F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("s") + F.lit(b))))).alias("r"),
            )
            grad_rows = (
                feats.join(resid, "doc_key")
                .groupBy("j")
                .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
                .collect()
            )
            bias_g = resid.agg(F.sum("r").alias("g")).collect()[0]["g"] or 0.0
            for row in grad_rows:
                w[int(row["j"])] += lr * float(row["g"]) / n_docs
            b += lr * float(bias_g) / n_docs
    finally:
        feats.unpersist()
    return w, b


def quality_classifier_trained(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float],
    bias: float = 0.0,
    seed: str = "qc",
) -> DataFrame:
    """Inference with TRAINED weights — identical plan shape to the
    placeholder :func:`quality_classifier` (token → hash bucket → weight
    lookup → mean logit, pure Column codegen, zero shuffle at 100 TB);
    the weight vector rides the plan as a broadcast array literal and the
    lookup is ``element_at``.  Returns (doc_key, logit, keep)."""
    n_buckets = len(weights)
    toks = ws_tokens(F.lower(F.col(text_col)))
    warr = F.array(*[F.lit(float(v)) for v in weights])
    total = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(warr, _hash_bucket(t, n_buckets, seed).cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.greatest(F.size(toks), F.lit(1))
    logit = total / n + F.lit(float(bias))
    return docs.select(
        F.col(id_col).alias("doc_key"),
        F.round(logit, 9).alias("logit"),
        (logit >= 0).alias("keep"),
    )


def freeze_classifier_weights(
    weights: list[float], bias: float, scale: int = 1000
) -> tuple[list[int], int]:
    """Quantize trained float weights to integer milli-units for
    :func:`quality_classifier_frozen` — the deployment step that restores
    the placeholder's cross-engine bit-identity (integer sums are
    order-independent; double sums are not).  1e-3 quantization is far
    below a hashed-unigram linear model's decision noise."""
    return [int(round(w * scale)) for w in weights], int(round(bias * scale))


def quality_classifier_frozen(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    milli_weights: list[int],
    bias_milli: int = 0,
    seed: str = "qc",
) -> DataFrame:
    """Inference with TRAINED-then-quantized weights — the deployable form
    of :func:`train_quality_classifier`'s output (freeze with
    :func:`freeze_classifier_weights`), closing the loop the placeholder
    :func:`quality_classifier` documents ("swapping in trained weights").

    Identical plan shape to the placeholder: token → shared md5 bucket →
    weight lookup → mean logit, pure Column codegen, ZERO shuffle — a
    linear scan at 100 TB.  The weight vector rides the plan as a
    broadcast ``n_buckets``-entry array literal (``element_at`` lookup).
    Determinism across engines: milli-weights stay INTEGER through the
    sum, ``keep`` is the integer sign test of ``total + n*bias`` (never a
    float threshold), and the reported ``logit`` does one float division
    at the end — bit-identical to the DuckDB twin
    :func:`quality_classifier_frozen_sql`, unlike the float-summing
    :func:`quality_classifier_trained` whose bits can vary with fold
    order.  Returns (doc_key, logit, keep).
    """
    n_buckets = len(milli_weights)
    toks = ws_tokens(F.lower(F.col(text_col)))
    warr = F.array(*[F.lit(int(v)).cast("long") for v in milli_weights])
    total = F.aggregate(
        F.transform(
            toks,
            lambda t: F.element_at(warr, _hash_bucket(t, n_buckets, seed).cast("int") + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.greatest(F.size(toks), F.lit(1))
    scored = total + n.cast("long") * F.lit(int(bias_milli))
    return docs.select(
        F.col(id_col).alias("doc_key"),
        F.round(scored / (F.lit(1000.0) * n), 9).alias("logit"),
        (scored >= 0).alias("keep"),
    )


def quality_classifier_frozen_sql(
    table: str,
    id_col: str,
    text_col: str,
    milli_weights: list[int],
    bias_milli: int = 0,
    seed: str = "qc",
) -> str:
    """DuckDB twin of :func:`quality_classifier_frozen` (weights as a
    literal list, same shared md5 bucketing, integer sum + sign test)."""
    n_buckets = len(milli_weights)
    wlist = "[" + ",".join(str(int(v)) for v in milli_weights) + "]"
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_key,
         list_filter(string_split(lower({text_col}), ' '), x -> x <> '') AS toks
  FROM {table}
),
s AS (
  SELECT doc_key, greatest(len(toks), 1) AS n,
         COALESCE(list_sum(list_transform(toks, x ->
           list_extract({wlist},
             (('0x' || substr(md5('{seed}' || '|' || x), 1, 15))::UBIGINT::BIGINT
              % {n_buckets})::INT + 1)
         )), 0)::BIGINT AS total
  FROM t
)
SELECT doc_key,
       ROUND((total + n * {int(bias_milli)}) / (1000.0 * n), 9) AS logit,
       (total + n * {int(bias_milli)}) >= 0 AS keep
FROM s
"""


# metadata tags are matched in two steps (whole tag, then the attribute out
# of the matched tag) so ATTRIBUTE ORDER never matters — RE2/Java common
# subset has no lookahead to do it in one pattern.  Attribute values match
# double- OR single-quoted forms (["'] classes in the tag patterns; paired
# alternates for the value extraction); UNQUOTED values are supported only
# for the html lang attribute (common there, rare for content/href urls —
# the remaining restriction, documented).
_META_DESC_TAG_RE = "(?is)<meta[^>]*name=[\"']description[\"'][^>]*>"
_META_ROBOTS_TAG_RE = "(?is)<meta[^>]*name=[\"']robots[\"'][^>]*>"
_META_OG_TITLE_TAG_RE = "(?is)<meta[^>]*property=[\"']og:title[\"'][^>]*>"
_LINK_CANONICAL_TAG_RE = "(?is)<link[^>]*rel=[\"']canonical[\"'][^>]*>"
_CONTENT_ATTR_DQ_RE = '(?is)content="([^"]*)"'
_CONTENT_ATTR_SQ_RE = "(?is)content='([^']*)'"
_HREF_ATTR_DQ_RE = '(?is)href="([^"]*)"'
_HREF_ATTR_SQ_RE = "(?is)href='([^']*)'"
_HTML_LANG_RE = "(?is)<html[^>]*\\slang=[\"']?([^\\s>\"']*)"
# robots meta: the 'none' directive is defined as noindex,nofollow
_NOINDEX_RE = r"noindex|(^|[,\s])none($|[,\s])"


def extract_html_metadata(docs: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Head-metadata extraction — the crawl signals next to
    :func:`extract_html_text`'s body text: meta description, canonical
    url (the dedup key site owners DECLARE, feeding the same rollups as
    weburl.normalize_urls — trimmed so it joins raw fetch urls), og:title,
    the html lang attribute (a language-ID prior), and the robots meta
    noindex flag incl. the ``none`` directive (the in-page counterpart of
    weburl's robots.txt gate).

    Two-step tag→attribute matching keeps attribute order irrelevant
    inside the RE2/Java regex subset; single- and double-quoted attribute
    values both match (unquoted only for lang — see the regex block
    comment); entity decoding matches :func:`extract_html_text`, so the
    two functions' titles agree byte-for-byte on the same page.  Pure
    per-row Column codegen, zero shuffle, exact DuckDB twin.  Missing
    tags yield empty strings (noindex false), NULL html yields all-empty.

    Returns (doc_key, title, description, canonical, og_title, html_lang,
    noindex)."""
    h = F.coalesce(F.col(html_col), F.lit(""))

    def attr(tag_re: str, dq_re: str, sq_re: str):
        tag = F.regexp_extract(h, tag_re, 0)
        dq = F.regexp_extract(tag, dq_re, 1)
        sq = F.regexp_extract(tag, sq_re, 1)
        # '' = no match; a genuinely-empty double-quoted value falling
        # through to the single-quote probe still yields '' — same answer
        return F.when(dq != "", dq).otherwise(sq)

    content = lambda tag_re: attr(tag_re, _CONTENT_ATTR_DQ_RE, _CONTENT_ATTR_SQ_RE)  # noqa: E731
    title = F.trim(_decode_entities(F.regexp_extract(h, _HTML_TITLE_RE, 1)))
    robots = F.lower(content(_META_ROBOTS_TAG_RE))
    return docs.select(
        F.col(id_col).alias("doc_key"),
        title.alias("title"),
        F.trim(_decode_entities(content(_META_DESC_TAG_RE))).alias("description"),
        F.trim(
            _decode_entities(
                attr(_LINK_CANONICAL_TAG_RE, _HREF_ATTR_DQ_RE, _HREF_ATTR_SQ_RE)
            )
        ).alias("canonical"),
        F.trim(_decode_entities(content(_META_OG_TITLE_TAG_RE))).alias("og_title"),
        F.lower(F.regexp_extract(h, _HTML_LANG_RE, 1)).alias("html_lang"),
        robots.rlike(_NOINDEX_RE).alias("noindex"),
    )


def _decode_entities_sql(expr: str) -> str:
    """SQL twin of :func:`_decode_entities` (same replacement order)."""
    for ent, rep in _HTML_ENTITIES:
        if ent != "&amp;":
            rep_sql = rep.replace("'", "''")
            expr = f"replace({expr}, '{ent}', '{rep_sql}')"
    return f"replace({expr}, '&amp;', '&')"


def _sql_quote(pattern: str) -> str:
    """Regex pattern → SQL string literal body (single quotes doubled —
    several patterns here carry ' inside ["'] classes)."""
    return pattern.replace("'", "''")


def extract_html_metadata_sql(table: str, id_col: str, html_col: str) -> str:
    """DuckDB twin of :func:`extract_html_metadata`."""
    h = f"COALESCE({html_col}, '')"

    def attr(tag_re: str, dq_re: str, sq_re: str) -> str:
        tag = f"regexp_extract({h}, '{_sql_quote(tag_re)}', 0)"
        dq = f"regexp_extract({tag}, '{_sql_quote(dq_re)}', 1)"
        sq = f"regexp_extract({tag}, '{_sql_quote(sq_re)}', 1)"
        return f"CASE WHEN {dq} <> '' THEN {dq} ELSE {sq} END"

    def content(tag_re: str) -> str:
        return attr(tag_re, _CONTENT_ATTR_DQ_RE, _CONTENT_ATTR_SQ_RE)

    href = attr(_LINK_CANONICAL_TAG_RE, _HREF_ATTR_DQ_RE, _HREF_ATTR_SQ_RE)
    title = f"regexp_extract({h}, '{_sql_quote(_HTML_TITLE_RE)}', 1)"
    lang = f"regexp_extract({h}, '{_sql_quote(_HTML_LANG_RE)}', 1)"
    return f"""
SELECT {id_col} AS doc_key,
       trim({_decode_entities_sql(title)}) AS title,
       trim({_decode_entities_sql(content(_META_DESC_TAG_RE))}) AS description,
       trim({_decode_entities_sql(href)}) AS canonical,
       trim({_decode_entities_sql(content(_META_OG_TITLE_TAG_RE))}) AS og_title,
       lower({lang}) AS html_lang,
       regexp_matches(lower({content(_META_ROBOTS_TAG_RE)}), '{_sql_quote(_NOINDEX_RE)}') AS noindex
FROM {table}
"""
