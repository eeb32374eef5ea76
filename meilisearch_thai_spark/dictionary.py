"""Dictionary loading — the pinned tokenization contract.

Reference behavior re-expressed (NOT ported): the reference builds its newmm
tokenizer from ``set(pythainlp.thai_words()) | custom_compound_dict`` where the
compound dict is data/dictionaries/thai_compounds.json with 10 categories
(reference: src/tokenizer/factory.py:22-65, src/tokenizer/thai_segmenter.py:67-76).

Here the base corpus is our authored wordlist (pythainlp is not available in
this environment) and the compound categories are a data contract mirroring the
reference's. ``dictionary_fingerprint()`` hashes the merged dictionary so index
lineage can pin byte-identity of tokenization (SURVEY §7 risk 1).
"""

from __future__ import annotations

import hashlib
import json
from functools import lru_cache

from .tokenizer.trie import Trie


def _read_data(name: str) -> str:
    """Packaged-data reader that works from a plain checkout AND from inside
    a ``--py-files`` zip on executors (importlib.resources is zip-safe;
    ``open(Path(__file__)/...)`` is not)."""
    from importlib import resources

    return resources.files("meilisearch_thai_spark.data").joinpath(name).read_text(
        encoding="utf-8"
    )

# Known long Thai words that must NOT be heuristically split as compounds
# (reference: src/tokenizer/token_processor.py:380-387 `_is_common_long_word`).
COMMON_LONG_WORDS = frozenset(
    {
        "สวัสดีครับ",
        "สวัสดีค่ะ",
        "ขอบคุณครับ",
        "ขอบคุณค่ะ",
        "ประเทศไทย",
        "กรุงเทพมหานคร",
        "มหาวิทยาลัย",
    }
)

# Thai stop words configured into the reference index
# (reference: src/meilisearch_integration/settings_manager.py:65-69). Kept
# configurable and OFF by default to preserve rank-identity (SURVEY T12).
THAI_STOP_WORDS = frozenset(
    {
        "การ", "ของ", "ใน", "ที่", "และ", "เป็น", "มี", "ได้", "ให้", "ไม่",
        "จะ", "ว่า", "กับ", "แล้ว", "ก็", "นี้", "นั้น", "อยู่", "ด้วย", "ไป",
        "มา", "ถึง", "จาก", "หรือ", "แต่",
    }
)


@lru_cache(maxsize=1)
def load_base_words() -> frozenset[str]:
    """Authored base vocabulary (stand-in for pythainlp ``thai_words()``)."""
    words = set()
    for line in _read_data("thai_words.txt").splitlines():
        w = line.strip()
        if w and not w.startswith("#"):
            words.add(w)
    return frozenset(words)


@lru_cache(maxsize=1)
def load_compound_words() -> frozenset[str]:
    """Compound dictionary (10 categories, data contract with the reference)."""
    payload = json.loads(_read_data("compounds.json"))
    return frozenset(w for cat in payload["categories"].values() for w in cat)


@lru_cache(maxsize=1)
def merged_words() -> frozenset[str]:
    return load_base_words() | load_compound_words() | _CUSTOM_WORDS


@lru_cache(maxsize=1)
def merged_trie() -> Trie:
    """The pinned segmentation trie: base vocabulary ∪ compound dictionary
    ∪ the runtime custom-word overlay (empty by default)."""
    return Trie(merged_words())


@lru_cache(maxsize=1)
def dictionary_fingerprint() -> str:
    """SHA-256 over the sorted EFFECTIVE wordlist (packaged ∪ overlay) —
    pinned into index lineage.  With no overlay this is the packaged
    dictionary's fingerprint, byte-stable across rounds."""
    blob = "\n".join(sorted(merged_words())).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()


# ---------------------------------------------------------------------------
# Runtime custom-dictionary overlay — the reference's dictionary-management
# endpoints (src/api/endpoints/config.py:389-535 add_dictionary_words /
# remove_dictionary_words / get_custom_dictionary) re-expressed.  The overlay
# is PROCESS-GLOBAL like the pinned dictionary itself (one effective
# dictionary per tokenizing process — the reference's segmenter singleton has
# the same shape); per-index persistence lives in meta.json
# (``index.settings.update_dictionary``), and executor workers receive the
# overlay by closure capture in the tokenize UDF factories, never by ambient
# module state (workers re-import modules fresh, so ambient state would
# silently tokenize with the packaged dictionary only).
# ---------------------------------------------------------------------------

_CUSTOM_WORDS: frozenset[str] = frozenset()


def get_custom_dictionary() -> list[str]:
    """The current runtime overlay words, sorted (reference
    ``get_custom_dictionary``)."""
    return sorted(_CUSTOM_WORDS)


def _clear_dictionary_caches() -> None:
    """Invalidate every cache derived from the merged dictionary: the word
    set, trie, fingerprint, the segmenter singleton, and the per-worker
    token memo caches in ``tokenizer.udfs`` (their keys are text-only, so a
    dictionary change would otherwise serve stale segmentations)."""
    import sys

    merged_words.cache_clear()
    merged_trie.cache_clear()
    dictionary_fingerprint.cache_clear()
    tok = sys.modules.get("meilisearch_thai_spark.tokenizer")
    if tok is not None:
        tok.default_segmenter.cache_clear()
    udfs = sys.modules.get("meilisearch_thai_spark.tokenizer.udfs")
    if udfs is not None:
        udfs._tokens_cached.cache_clear()
        udfs._terms_cached.cache_clear()
        udfs._norm_cached.cache_clear()


def set_custom_words(words) -> bool:
    """Replace the overlay wholesale; returns True when it changed (and all
    tokenizer caches were invalidated).  Idempotent no-op on an identical
    set — safe to call at the top of every Arrow batch on reused workers."""
    global _CUSTOM_WORDS
    new = frozenset(w for w in (str(x).strip() for x in words) if w)
    if new == _CUSTOM_WORDS:
        return False
    _CUSTOM_WORDS = new
    _clear_dictionary_caches()
    return True
