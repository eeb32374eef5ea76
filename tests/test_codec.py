from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from meilisearch_thai_spark.index.codec import (
    decode_doc_block,
    encode_doc_block,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**63 - 1], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(vals)) == vals).all()


def test_varbyte_empty():
    assert varbyte_encode(np.zeros(0, dtype=np.uint64)) == b""
    assert len(varbyte_decode(b"")) == 0


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(np.arange(10_000_000, dtype=np.uint64), 5000, replace=False))
    tfs = rng.integers(1, 50, size=5000).astype(np.uint64)
    db, tb = encode_doc_block(ids, tfs)
    out_ids, out_tfs = decode_doc_block(db, tb)
    assert (out_ids == ids).all()
    assert (out_tfs == tfs).all()
    # delta+varbyte on dense-ish ids should compress well below 8 bytes/id
    assert len(db) < 8 * len(ids)


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_property_roundtrip(ids):
    ids = np.sort(np.array(ids, dtype=np.uint64))
    tfs = (ids % 31 + 1).astype(np.uint64)
    db, tb = encode_doc_block(ids, tfs)
    out_ids, out_tfs = decode_doc_block(db, tb)
    assert (out_ids == ids).all() and (out_tfs == tfs).all()


def _random_blocks(seed: int) -> list[tuple[str, np.ndarray, np.ndarray, np.ndarray]]:
    """Seeded posting blocks: every third a single-doc block, doc ids above
    2**32 mixed with blocks of one-byte ids (< 128), a few terms interleaved."""
    rng = np.random.default_rng(seed)
    blocks = []
    for i in range(int(rng.integers(20, 60))):
        n = 1 if i % 3 == 0 else int(rng.integers(2, 40))
        if i % 2:
            ids = np.sort(rng.choice(2**40, n, replace=False)).astype(np.uint64) + np.uint64(2**33)
        else:
            ids = np.sort(rng.choice(128, n, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 300, n).astype(np.uint64)
        dls = rng.integers(1, 5000, n).astype(np.uint64)
        blocks.append((f"t{int(rng.integers(0, 5))}", ids, tfs, dls))
    return blocks


def test_decode_blocks_matches_per_block_decode():
    from meilisearch_thai_spark.index.codec import decode_blocks

    for seed in range(5):
        blocks = _random_blocks(seed)
        enc = [(*encode_doc_block(ids, tfs), varbyte_encode(dls)) for _t, ids, tfs, dls in blocks]
        counts, ids, tfs, dls = decode_blocks(
            [e[0] for e in enc], [e[1] for e in enc], [e[2] for e in enc]
        )
        per = [decode_doc_block(db, tb) for db, tb, _dl in enc]
        assert counts.tolist() == [len(b[1]) for b in blocks]
        assert ids.dtype == np.int64
        assert ids.tolist() == [int(d) for p in per for d in p[0]]
        assert tfs.tolist() == [int(t) for p in per for t in p[1]]
        assert dls.tolist() == [int(d) for b in blocks for d in b[3]]


def test_block_unpacker_decodes_through_codec_minus_tombstones():
    import pandas as pd

    from meilisearch_thai_spark.index.maintenance import _make_block_unpacker

    for seed in range(5):
        blocks = _random_blocks(seed)
        rng = np.random.default_rng(100 + seed)
        all_ids = np.concatenate([b[1] for b in blocks]).astype(np.int64)
        excluded = sorted(int(d) for d in rng.choice(all_ids, 15, replace=False))
        pdf = pd.DataFrame(
            {
                "term": [b[0] for b in blocks],
                "doc_bytes": [encode_doc_block(b[1], b[2])[0] for b in blocks],
                "tf_bytes": [varbyte_encode(b[2]) for b in blocks],
                "dl_bytes": [varbyte_encode(b[3]) for b in blocks],
            }
        )
        got = pd.concat(list(_make_block_unpacker(excluded, positional=False)(iter([pdf]))))
        want = [
            (t, int(d), int(tf), int(dl))
            for t, ids, tfs, dls in blocks
            for d, tf, dl in zip(ids, tfs, dls)
            if int(d) not in excluded
        ]
        assert list(got.itertuples(index=False, name=None)) == want
