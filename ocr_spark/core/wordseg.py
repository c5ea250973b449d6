"""Dictionary-driven word segmentation — deterministic port of the
reference's SymSpell usage (U7/X6).

The reference builds ``SymSpell(max_dictionary_edit_distance=0)`` over
the public SymSpell ``en-80k.txt`` term-frequency list (80,000 rows,
from the symspellpy distribution — MIT; the same file ships in the
reference's data dir) and calls only ``word_segmentation`` on purely
alphabetic tokens (/root/reference/service/core/post.py:6-30). We ship
that dictionary at ``ocr_spark/data/en-80k.txt`` and load it lazily per
process (executor-local singleton; ~1.3 MB).

Port semantics (SymSpell WordSegmentation at edit distance 0 — public
algorithm, Wolf Garbe): compositions are ranked primarily by MINIMUM
distance_sum — each unknown chunk costs its length, each additional
chunk costs one separator — with log10 unigram probability as the
tiebreak (unknown chunk probability = 10 / (N * 10^len)). A known token
therefore always stays whole (distance 0 beats any split's separator).

Case semantics: the DEFAULT here is case-insensitive lookup with
original casing preserved in the output. symspellpy's raw lookup is
case-sensitive (dictionary is all lowercase), under which a
sentence-initial capitalized word is "unknown" and the DP can split it
('The' → 'T he' — distance 1 sep + 1 unknown char beats 3 unknown
chars). That reading is available behind ``case_sensitive=True`` (env
``OCR_SPARK_SYMSPELL_CASE=sensitive``) and its divergence class is
pinned by tests (test_kernels::test_symspell_case_modes); the golden
fixtures are frozen on the case-insensitive default, which does not
corrupt ordinary capitalized text.
"""

from __future__ import annotations

import math
import os
import re
from functools import lru_cache

_ALPHA_SPLIT_RE = re.compile(r"([a-zA-Z]+|[^a-zA-Z]+)")

_DICT_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "data", "en-80k.txt")

_freqs_cache: dict[str, int] | None = None
_total_cache: int = 0
_maxlen_cache: int = 0


def _read_dict_text() -> str:
    """Read the dictionary whether the package lives on the filesystem
    or inside a --py-files zip (importlib.resources handles both; the
    plain open() is the fast path for filesystem installs)."""
    if os.path.exists(_DICT_PATH):
        with open(_DICT_PATH, encoding="utf-8") as fh:
            return fh.read()
    from importlib import resources
    return (resources.files("ocr_spark") / "data" / "en-80k.txt") \
        .read_text(encoding="utf-8")


def _freqs() -> dict[str, int]:
    """Lazy per-process dictionary load (executor singleton)."""
    global _freqs_cache, _total_cache, _maxlen_cache
    if _freqs_cache is None:
        freqs: dict[str, int] = {}
        for line in _read_dict_text().splitlines():
            parts = line.split()
            if len(parts) == 2:
                freqs[parts[0]] = int(parts[1])
        _freqs_cache = freqs
        _total_cache = sum(freqs.values())
        _maxlen_cache = max(map(len, freqs))
    return _freqs_cache


def _log_prob(chunk_lower: str) -> float:
    freqs = _freqs()
    cnt = freqs.get(chunk_lower)
    if cnt is not None:
        return math.log10(cnt / _total_cache)
    # SymSpell smoothing for unknown chunks: 10 / (N * 10^len)
    return math.log10(10.0 / _total_cache) - len(chunk_lower)


def _cost(chunk_lower: str) -> int:
    """distance_sum contribution: 0 for a dictionary word, else its
    length (every character counts as an edit)."""
    return 0 if chunk_lower in _freqs() else len(chunk_lower)


def _case_sensitive_default() -> bool:
    """Read the env flag at CALL time, not import time: an executor's
    module import happens before any job-specific env could land, and
    the extraction kernel propagates the driver's value by setting the
    worker env (extraction.py captures it in the mapInArrow closure)."""
    return os.environ.get("OCR_SPARK_SYMSPELL_CASE",
                          "insensitive") == "sensitive"


@lru_cache(maxsize=65536)
def segment_token(token: str, case_sensitive: bool = False) -> str:
    """Insert spaces into an alphabetic token, SymSpell-style: minimize
    (distance_sum, -log_prob_sum); ties keep the earlier composition.
    Known words always stay whole. ``case_sensitive=True`` reproduces
    symspellpy's raw reading (lowercase dictionary, no normalization —
    capitalized words become unknown chunks)."""
    n = len(token)
    if n == 0:
        return token
    freqs = _freqs()
    lower = token if case_sensitive else token.lower()
    if lower in freqs:
        return token
    max_len = _maxlen_cache
    # DP over prefix lengths: state = (distance_sum, neg_log_prob)
    INF = (1 << 60, math.inf)
    best: list[tuple[int, float]] = [INF] * (n + 1)
    back = [0] * (n + 1)
    best[0] = (0, 0.0)
    for j in range(1, n + 1):
        lo = max(0, j - max_len)
        for i in range(lo, j):
            if best[i] == INF:
                continue
            part = lower[i:j]
            sep = 1 if i > 0 else 0
            cand = (best[i][0] + sep + _cost(part),
                    best[i][1] - _log_prob(part))
            if cand < best[j]:
                best[j] = cand
                back[j] = i
    if best[n] == INF:  # token longer than any dictionary span chain
        return token
    cuts = []
    j = n
    while j > 0:
        cuts.append(j)
        j = back[j]
    cuts.reverse()
    if len(cuts) == 1:
        return token
    out = []
    prev = 0
    for c in cuts:
        out.append(token[prev:c])
        prev = c
    return " ".join(out)


def correct_segmentation_and_typos(raw_text: str,
                                   case_sensitive: bool | None = None) -> str:
    """Port of the reference's token-type split + per-alpha-token
    segmentation + single-space join (post.py:12-30, X6).

    Splits into alternating alpha / non-alpha runs; alpha runs go through
    ``segment_token``; all tokens are stripped, empties dropped, and the
    result is joined with single spaces (this intentionally perturbs
    spacing around punctuation exactly like the reference does).
    ``case_sensitive=None`` uses the module default (env
    ``OCR_SPARK_SYMSPELL_CASE``)."""
    if not raw_text:
        return ""
    if case_sensitive is None:
        case_sensitive = _case_sensitive_default()
    tokens = _ALPHA_SPLIT_RE.findall(raw_text)
    out = []
    for tok in tokens:
        fixed = (segment_token(tok, case_sensitive) if tok.isalpha()
                 else tok)
        fixed = fixed.strip()
        if fixed:
            out.append(fixed)
    return " ".join(out)
