"""The build and query kernels agree on BM25, bit for bit.

Block-max pruning (``bound < heap[0]`` in the bucket heaps) is exact only
if every block's stored ``block_max_score`` equals the best score the
query kernel computes for that block's postings — not merely within a
tolerance.  Checked over every block of an unfielded, a fielded and a
positional index built with small blocks."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from meilisearch_thai_spark.index.builder import build_index, load_meta
from meilisearch_thai_spark.query.executor import _score_blocks
from meilisearch_thai_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 300, seed=11).cache()


@pytest.mark.parametrize("kind", ["unfielded", "fielded", "positional"])
def test_block_max_equals_query_kernel_max(spark, tmp_path_factory, pages, kind):
    src, kw = pages, {}
    if kind == "fielded":
        src = pages.select(
            "url", "lang", F.substring("text", 1, 30).alias("title"), F.col("text").alias("content")
        )
        kw = dict(fields=["title", "content"], field_weights=[3.0, 0.7])
    elif kind == "positional":
        kw = dict(positional=True)
    out = str(tmp_path_factory.mktemp(f"kernels_{kind}"))
    build_index(spark, src, out, block_size=8, bucket_span=64, **kw)
    meta = load_meta(out)
    pst = spark.read.parquet(os.path.join(out, "postings")).toPandas()
    assert len(pst) > 200 and (pst["n_docs"] == 1).any() and (pst["n_docs"] == 8).any()
    if kind == "fielded":
        assert pst["term"].str.contains("\x1f").all()
    counts, _ids, scores, _base = _score_blocks(
        pst, meta.k1, meta.b, meta.avgdl, meta.n_docs, meta.field_params()
    )
    assert counts.tolist() == pst["n_docs"].tolist()
    kernel_max = np.maximum.reduceat(scores, np.cumsum(counts) - counts)
    stored = pst["block_max_score"].to_numpy(np.float64)
    assert np.array_equal(kernel_max.view(np.int64), stored.view(np.int64))
