"""newmm-style dictionary maximal-matching Thai word segmentation.

This is a from-scratch implementation of the *tokenization contract* of the
reference engine, which calls pythainlp's ``word_tokenize(text, engine="newmm",
keep_whitespace=True)`` with a custom dictionary
(reference: src/tokenizer/thai_segmenter.py:84-155, call at 111-115;
custom tokenizer built at :67-76).  pythainlp is not available here, so the
algorithm is re-derived from the published newmm design (dictionary-based
maximal matching over a word graph, unsegmentable spans grouped into
character-cluster "unknown" tokens) and pinned as OUR deterministic contract:

* candidates at each position = all dictionary words starting there (trie),
  plus one Thai character-cluster step (so segmentation never dead-ends);
* objective: lexicographically minimize (unknown characters, token count) —
  dictionary words always win unless they force more unknowns downstream;
* ties break toward the LONGEST word at the earliest position (maximal
  matching), making output fully deterministic;
* consecutive unknown clusters merge into one token;
* non-Thai spans follow newmm's pattern rules: Latin runs, digit runs and
  whitespace runs are single tokens (``keep_whitespace=True`` semantics),
  other symbols are single-char tokens.

Invariant (tested): ``"".join(tokens) == text`` and
``len(word_boundaries) == len(tokens) + 1``
(reference test contract: tests/unit/test_thai_segmenter.py:39-150).
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from .trie import END_MARK as _TRIE_END
from .trie import Trie

# Thai block boundaries (reference: src/tokenizer/thai_segmenter.py:314-316).
THAI_LO = "฀"
THAI_HI = "๿"

# Leading vowels that must attach to the FOLLOWING consonant cluster.
_LEAD_VOWELS = frozenset("เแโใไ")  # เ แ โ ใ ไ
# Combining marks that must attach to the PREVIOUS character:
# mai han-akat, sara am, above/below vowels, tone marks, thanthakhat etc.
_COMBINING = frozenset(
    chr(c) for c in [0x0E31, 0x0E33, *range(0x0E34, 0x0E3B), *range(0x0E47, 0x0E4F)]
)

_THAI_RE = re.compile(rf"[{THAI_LO}-{THAI_HI}]+")
_LATIN_RE = re.compile(r"[A-Za-z]+")
_DIGIT_RE = re.compile(r"[0-9๐-๙]+(?:[.,][0-9๐-๙]+)*")
_SPACE_RE = re.compile(r"\s+")


def is_thai_char(ch: str) -> bool:
    return THAI_LO <= ch <= THAI_HI


def thai_ratio(text: str) -> float:
    if not text:
        return 0.0
    return sum(1 for c in text if is_thai_char(c)) / len(text)


def is_thai_text(text: str) -> bool:
    """Primarily-Thai predicate (>50% Thai chars) — thai_segmenter.py:306-312."""
    return bool(text) and thai_ratio(text) > 0.5


@dataclass
class TokenizationResult:
    """Mirror of the reference's TokenizationResult dataclass
    (src/tokenizer/thai_segmenter.py:29-38)."""

    original_text: str
    tokens: list[str]
    word_boundaries: list[int]
    confidence_scores: list[float] | None = None
    processing_time_ms: float = 0.0
    engine: str = "newmm_custom"
    meta: dict = field(default_factory=dict)


def _cluster_end(text: str, i: int, n: int) -> int:
    """End index of one Thai orthographic cluster starting at ``i``.

    Keeps leading vowels with their consonant and combining marks with their
    base so unknown-word fallback never splits inside a glyph cluster.
    """
    j = i
    while j < n and text[j] in _LEAD_VOWELS:
        j += 1
    if j < n:
        j += 1  # base consonant / vowel
    while j < n and text[j] in _COMBINING:
        j += 1
    return max(j, i + 1)


def _segment_thai_run(run: str, trie: Trie, exclude_full: bool = False) -> list[tuple[str, bool]]:
    """DP segmentation of a pure-Thai span.

    Returns ``[(token, is_known)]``.  ``exclude_full=True`` drops the
    whole-span dictionary match — used by the compound second pass to force a
    split attempt (deterministic stand-in for the reference's alternative-
    engine fallback, src/tokenizer/thai_segmenter.py:212-239).
    """
    n = len(run)
    if n == 0:
        return []
    # dp cost encodes the (unknown_chars, token_count) lexicographic pair as
    # one int: cost = unknown*K + count with K > any possible count — same
    # ordering as tuple comparison, ~2x faster in the 1-call-per-char loop
    K = n + 2
    INF = 1 << 62
    dp = [INF] * (n + 1)
    dp[n] = 0
    steps = [1] * (n + 1)
    knowns = [False] * (n + 1)
    root = trie.root
    lead, comb = _LEAD_VOWELS, _COMBINING
    for i in range(n - 1, -1, -1):
        best = INF
        best_step, best_known = 1, False
        # trie walk inlined (ascending length, `<=` keeps the longest among
        # equal costs — same winner as the longest-first strict-< scan, but
        # without a per-position function call + list build, the measured
        # hot spot of the whole index build)
        node = root.get(run[i])
        j2 = i + 1
        while node is not None:
            if _TRIE_END in node:
                if not (exclude_full and i == 0 and j2 == n):
                    cand = dp[j2] + 1
                    if cand <= best:
                        best = cand
                        best_step, best_known = j2 - i, True
            if j2 >= n:
                break
            node = node.get(run[j2])
            j2 += 1
        # unknown cluster step (always available so DP cannot dead-end);
        # cluster-boundary scan inlined (_cluster_end semantics)
        j = i
        while j < n and run[j] in lead:
            j += 1
        if j < n:
            j += 1
        while j < n and run[j] in comb:
            j += 1
        if j <= i:
            j = i + 1
        cand = dp[j] + (j - i) * K + 1
        if cand < best:
            best = cand
            best_step, best_known = j - i, False
        dp[i] = best
        steps[i] = best_step
        knowns[i] = best_known
    # Walk the path, merging consecutive unknown clusters into one token.
    out: list[tuple[str, bool]] = []
    i = 0
    unk_start = -1
    while i < n:
        step, known = steps[i], knowns[i]
        if known:
            if unk_start >= 0:
                out.append((run[unk_start:i], False))
                unk_start = -1
            out.append((run[i : i + step], True))
        else:
            if unk_start < 0:
                unk_start = i
        i += step
    if unk_start >= 0:
        out.append((run[unk_start:], False))
    return out


class NewmmSegmenter:
    """Deterministic newmm-style segmenter over a pinned merged dictionary.

    Single source of truth for tokenization: used driver-side for queries and
    inside pandas UDFs for documents, guaranteeing byte-identical output per
    input text (the per-row invariant of the north rule).
    """

    def __init__(self, trie: Trie, keep_whitespace: bool = True, engine_tag: str = "newmm_custom"):
        self.trie = trie
        self.keep_whitespace = keep_whitespace
        self.engine_tag = engine_tag

    # -- T1/T2: primary segmentation ------------------------------------
    def tokenize(self, text: str) -> list[str]:
        """Segment ``text``; tokens exactly partition the input."""
        if not text:
            return []
        tokens: list[str] = []
        n = len(text)
        i = 0
        while i < n:
            m = _THAI_RE.match(text, i)  # maximal Thai run, scanned in C
            if m:
                tokens.extend(t for t, _ in _segment_thai_run(m.group(), self.trie))
                i = m.end()
                continue
            m = _SPACE_RE.match(text, i)
            if m:
                if self.keep_whitespace:
                    tokens.append(m.group())
                i = m.end()
                continue
            m = _LATIN_RE.match(text, i) or _DIGIT_RE.match(text, i)
            if m:
                tokens.append(m.group())
                i = m.end()
                continue
            tokens.append(text[i])  # punctuation / symbol: single-char token
            i += 1
        return tokens

    def _token_confidence(self, tok: str) -> float:
        """Deterministic per-token confidence (Q3 substrate): dictionary Thai
        words are certain (1.0), unknown Thai clusters came from the DP
        fallback (0.5), Latin/digit runs are rule-based (0.9), everything
        else — punctuation, symbols, whitespace — is neutral (0.7)."""
        if not tok or tok.isspace():
            return 0.7
        if is_thai_char(tok[0]):
            return 1.0 if tok in self.trie else 0.5
        if tok[0].isascii() and (tok[0].isalpha() or tok[0].isdigit()):
            return 0.9
        return 0.7

    def segment_text(self, text: str) -> TokenizationResult:
        """Full result with boundaries — reference thai_segmenter.py:84-155."""
        if not text or not text.strip():
            return TokenizationResult(text or "", [], [], engine=self.engine_tag)
        t0 = time.perf_counter()
        tokens = self.tokenize(text)
        boundaries = self._boundaries(tokens)
        return TokenizationResult(
            original_text=text,
            tokens=tokens,
            word_boundaries=boundaries,
            confidence_scores=[self._token_confidence(t) for t in tokens],
            processing_time_ms=(time.perf_counter() - t0) * 1000.0,
            engine=self.engine_tag,
        )

    # -- T3: compound second pass ----------------------------------------
    def segment_compound_words(self, text: str, compound_dict: frozenset[str]) -> TokenizationResult:
        """Two-pass segmentation preserving dictionary compounds.

        Long Thai tokens (>6 chars, primarily Thai) NOT in the compound
        dictionary are re-split when a pure dictionary split exists
        (reference: src/tokenizer/thai_segmenter.py:157-210; we replace the
        nondeterministic attacut/deepcut fallback at :212-239 with a
        deterministic retry that excludes the whole-token match).
        """
        primary = self.segment_text(text)
        out: list[str] = []
        changed = False
        for tok in primary.tokens:
            if len(tok) > 6 and is_thai_text(tok) and tok not in compound_dict:
                parts = _segment_thai_run(tok, self.trie, exclude_full=True)
                if len(parts) > 1 and all(k for _, k in parts):
                    out.extend(t for t, _ in parts)
                    changed = True
                    continue
            out.append(tok)
        if not changed:
            return primary
        return TokenizationResult(
            original_text=text,
            tokens=out,
            word_boundaries=self._boundaries(out),
            processing_time_ms=primary.processing_time_ms,
            engine=f"{self.engine_tag}_compound",
        )

    # -- T6: boundary offsets ---------------------------------------------
    @staticmethod
    def _boundaries(tokens: list[str]) -> list[int]:
        """Cumulative char offsets; len == len(tokens)+1, starts at 0
        (reference: src/tokenizer/thai_segmenter.py:241-259 — tokens partition
        the text here, so cumulative sums are exact)."""
        b = [0]
        pos = 0
        for t in tokens:
            pos += len(t)
            b.append(pos)
        return b
