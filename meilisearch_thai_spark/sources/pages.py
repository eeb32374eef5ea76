"""Synthetic Common-Crawl-style ``pages`` corpus (FIXTURES.md §1).

Input contract from BASELINE.json ``input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

Generation is DISTRIBUTED and deterministic: ``spark.range(n)`` fans row ids
across executors and each row's content derives only from ``(seed, row_id)``
(numpy PCG64 seeded per row), so output is identical for any partitioning or
cluster size — the property that lets the scaling bench at two parallelism
levels run on byte-identical input.

Thai sentences are composed from the SAME merged dictionary the segmenter is
pinned to (mirroring real newmm use, where pythainlp's corpus covers real
text).  Word choice is Zipfian so head-term skew is present by construction —
the salted posting build (SURVEY §4.1) is exercised, not just theorized.
"""

from __future__ import annotations

from datetime import datetime, timezone
from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_ENGLISH_WORDS = (
    "startup technology digital marketing machine learning data cloud spark "
    "index search engine thai food travel business online platform mobile app "
    "software hardware network security analytics model training token"
).split()

_PUNCT = [" ", " ", " ", "! ", "? ", ", ", ". "]


@lru_cache(maxsize=1)
def _thai_pool() -> tuple[list[str], np.ndarray]:
    """Sorted Thai word pool + Zipfian probabilities (rank^-1.1)."""
    from ..dictionary import merged_words

    words = sorted(merged_words())
    # deterministic shuffle so Zipf head is not alphabetical
    rng = np.random.default_rng(1234)
    order = rng.permutation(len(words))
    words = [words[i] for i in order]
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()
    return words, p


def _gen_row(rng: np.random.Generator, words: list[str], p: np.ndarray) -> tuple[str, str]:
    """One page's (text, lang)."""
    r = rng.random()
    if r < 0.10:
        lang = "en"
        n = int(rng.integers(8, 60))
        toks = rng.choice(len(_ENGLISH_WORDS), size=n)
        text = " ".join(_ENGLISH_WORDS[i] for i in toks)
        return text, lang
    mixed = r < 0.25
    lang = "th-en" if mixed else "th"
    n_sent = int(rng.integers(1, 6))
    parts: list[str] = []
    for _ in range(n_sent):
        n = int(rng.integers(4, 25))
        idx = rng.choice(len(words), size=n, p=p)
        sent = "".join(words[i] for i in idx)
        if mixed and rng.random() < 0.7:
            en = " " + " ".join(
                _ENGLISH_WORDS[i] for i in rng.choice(len(_ENGLISH_WORDS), size=int(rng.integers(1, 4)))
            ) + " "
            cut = int(rng.integers(0, len(sent)))
            sent = sent[:cut] + en + sent[cut:]
        parts.append(sent)
        parts.append(_PUNCT[int(rng.integers(0, len(_PUNCT)))])
    return "".join(parts).strip(), lang


def generate_pages(spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Deterministic distributed pages table with ``n_rows`` rows."""
    partitions = partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        words, p = _thai_pool()
        for pdf in batches:
            rows = []
            for rid in pdf["id"].to_numpy():
                rng = np.random.default_rng((seed << 34) + int(rid))
                text, lang = _gen_row(rng, words, p)
                rows.append(
                    (
                        f"https://example.th/doc/{int(rid):010d}",
                        _EPOCH.replace(tzinfo=None) + pd.Timedelta(seconds=int(rid)),
                        b"<html><body>" + text.encode("utf-8") + b"</body></html>",
                        text,
                        lang,
                    )
                )
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return spark.range(0, n_rows, numPartitions=partitions).mapInPandas(gen, PAGES_SCHEMA)
