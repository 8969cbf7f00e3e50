"""Positioned-token primitives and text normalization.

Re-expression of the reference's geometry/text layer:

- ``Token``       ~ OcrItem / TextToken (app/schemas/ocr.py:16-21,
                  app/services/rules/text_normalize.py:50-65)
- ``normalize_text`` ~ F1 chain (text_normalize.py:78-88): the *order*
  fullwidth->halfwidth, strip brackets, remove whitespace, lowercase is
  part of byte-identity.
- number/date/bool coercions ~ F4-F7 (template_schema.py:167-224,
  app/schemas/invoice.py:10-36).

Pure Python + stdlib; shared by the layout kernel and validation.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache


@dataclass(frozen=True)
class Token:
    text: str
    x1: float
    y1: float
    x2: float
    y2: float
    page: int = 1
    # centers precomputed: y_center alone is read ~900x per token on
    # the template path (clustering, sorting, region tests) — property
    # call overhead was ~5% of the sequential kernel (cProfile)
    x_center: float = field(init=False, repr=False, compare=False, default=0.0)
    y_center: float = field(init=False, repr=False, compare=False, default=0.0)

    def __post_init__(self) -> None:
        object.__setattr__(self, "x_center", (self.x1 + self.x2) / 2.0)
        object.__setattr__(self, "y_center", (self.y1 + self.y2) / 2.0)


# ---------------------------------------------------------------------------
# F2: fullwidth -> halfwidth (U+3000 -> space, U+FF01..FF5E -> -0xFEE0)
_FW_TABLE = {0x3000: 0x20}
_FW_TABLE.update({cp: cp - 0xFEE0 for cp in range(0xFF01, 0xFF5F)})

# F3: bracket strip alphabet
_BRACKETS = "()（）[]【】"
_BRACKET_TABLE = {ord(c): None for c in _BRACKETS}

_WS_RE = re.compile(r"\s+")


def fullwidth_to_halfwidth(s: str) -> str:
    return s.translate(_FW_TABLE)


def strip_brackets(s: str) -> str:
    return s.translate(_BRACKET_TABLE)


@lru_cache(maxsize=65536)
def _normalize_cached(s: str) -> str:
    return _WS_RE.sub("", strip_brackets(fullwidth_to_halfwidth(s))).lower()


def normalize_text(s: str) -> str:
    """F1 — fullwidth -> halfwidth, strip brackets, remove whitespace,
    lowercase (order is load-bearing).

    Memoized: anchor keys, header labels and sum keys are re-normalized
    for every document (bounded cache — pure function, worker-local)."""
    return _normalize_cached(s)


# ---------------------------------------------------------------------------
# F4-F7: coercions.  Reject set per template_schema.py:174-178.
_NUM_STRIP_RE = re.compile(r"[^\d.\-]")
_NUM_REJECT = {"", ".", "-", "-.", ".-"}


def parse_number(s: str | float | int | None) -> float | None:
    """F4/F7 — strip everything but [\\d.-], then float; None on junk."""
    if s is None:
        return None
    if isinstance(s, (int, float)):
        return float(s)
    cleaned = _NUM_STRIP_RE.sub("", s)
    if cleaned in _NUM_REJECT:
        return None
    try:
        return float(cleaned)
    except ValueError:
        return None


def parse_integer(s) -> int | None:
    v = parse_number(s)
    if v is None:
        return None
    try:
        return int(v)
    except (ValueError, OverflowError):
        return None


_TRUE_SET = {"true", "1", "yes", "y", "是"}
_FALSE_SET = {"false", "0", "no", "n", "否"}


def parse_boolean(s) -> bool | None:
    if isinstance(s, bool):
        return s
    if s is None:
        return None
    v = str(s).strip().lower()
    if v in _TRUE_SET:
        return True
    if v in _FALSE_SET:
        return False
    return None


_DATE_RE = re.compile(r"(\d{4})[-/.](\d{1,2})[-/.](\d{1,2})")
_DATE_CN_RE = re.compile(r"(\d{4})年(\d{1,2})月(\d{1,2})日")


def parse_date(s) -> str | None:
    """F6 — ``YYYY[-/.]M[-/.]D`` or Chinese ``YYYY年M月D日`` -> ISO string."""
    if s is None:
        return None
    text = str(s)
    m = _DATE_RE.search(text) or _DATE_CN_RE.search(text)
    if not m:
        return None
    y, mo, d = (int(g) for g in m.groups())
    if not (1 <= mo <= 12 and 1 <= d <= 31):
        return None
    return f"{y:04d}-{mo:02d}-{d:02d}"


_ANCHOR_TAIL_RE = re.compile(r"^[:：]\s*")


def strip_anchor_tail(value: str) -> str:
    """F8 — strip a leading colon (ASCII or fullwidth) + whitespace."""
    return _ANCHOR_TAIL_RE.sub("", value.strip())


def is_empty(v) -> bool:
    """F10 — None / blank string / empty collection."""
    if v is None:
        return True
    if isinstance(v, str):
        return v.strip() == ""
    if isinstance(v, (list, tuple, dict, set)):
        return len(v) == 0
    return False
