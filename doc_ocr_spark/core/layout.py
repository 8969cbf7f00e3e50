"""Layout analysis over positioned tokens (the PDF-like payload path).

Re-expresses the reference's geometric core for reading-order
reconstruction (SURVEY.md §2.5):

- ``cluster_lines``   L1 (text_normalize.py:91-111) — greedy y-clustering
  with a *running pairwise mean* centroid.  Order-dependent by design; the
  kernel always feeds it tokens sorted by (page, y_center), so the result
  is deterministic regardless of Spark partitioning.
- ``merge_tokens``    L3 (text_normalize.py:131-159) — x-gap adjacency
  fold with bbox union.
- ``Line``            L4 — an immutable reading line whose x-ordered
  tokens, space-joined text, no-separator text and normalized text are
  each derived once, on first use, and shared by every later reader.
- ``page_bounds``     L5, ``region_filter`` L6.
- ``detect_columns`` / ``reading_order_text`` — the column-order
  reconstruction the north_star asks for (the HTML-era analogue of the
  reference's perspective correction P4: geometry fix-up with a
  confidence gate, else no-op).

Pure Python; dataclasses only (numpy not needed at per-document sizes —
documents have 10^2-10^4 tokens; vectorization happens at the Arrow batch
level, not inside one document).
"""

from __future__ import annotations

from operator import attrgetter
from dataclasses import dataclass, field

from doc_ocr_spark.core.tokens import Token, normalize_text


_BY_X1 = attrgetter("x1")
_BY_PAGE_Y_X = attrgetter("page", "y_center", "x1")


class _view:
    """A value derived from a Line on first read and stored in the
    instance dict, which then shadows this descriptor: what
    ``functools.cached_property`` does, without the lock it takes on
    every first read before Python 3.12 (a line's views are read on the
    per-document hot path)."""

    def __init__(self, derive):
        self.derive = derive
        self.name = derive.__name__
        self.__doc__ = derive.__doc__

    def __get__(self, line, owner=None):
        if line is None:
            return self
        value = line.__dict__[self.name] = self.derive(line)
        return value


@dataclass(frozen=True)
class Line:
    """~ reference Line (text_normalize.py:68-75).

    Immutable once built: a step that changes the tokens (merging)
    builds a new Line.  Each view below is derived on first use and
    kept, so template match, scalar fields and table rebuild share one
    derivation per line.
    """

    items: tuple[Token, ...]
    y_center: float
    page: int

    @_view
    def by_x(self) -> tuple[Token, ...]:
        """The tokens in x order."""
        return tuple(sorted(self.items, key=_BY_X1))

    @_view
    def text(self) -> str:
        """Space-joined token texts: the extracted_text surface."""
        return " ".join(t.text for t in self.by_x)

    @_view
    def compact(self) -> str:
        """Token texts joined with no separator: what patterns match."""
        return "".join(t.text for t in self.by_x)

    @_view
    def norm(self) -> str:
        """``normalize_text`` of ``compact``: what anchors match."""
        return normalize_text(self.compact)


def _line_groups(tokens: list[Token], y_tol: float) -> list[list]:
    """L1 — greedy reading-line clustering into ``[page, y_center,
    tokens]`` groups (``cluster_lines`` wraps them in Lines; rotation
    scoring and reading order read the tokens without a Line).

    Sort by (page, y_center); scan; each token joins the nearest *recent*
    line on the same page within ``y_tol`` of the line's centroid,
    scanning existing lines newest-first and stopping at a page change.
    Joining updates the centroid as a running pairwise mean
    ``(old + new) / 2`` — exactly the reference's order-dependent
    semantics (text_normalize.py:110), kept because golden byte-identity
    is defined over it.
    """
    groups: list[list] = []
    for tok in sorted(tokens, key=_BY_PAGE_Y_X):
        target: list | None = None
        for group in reversed(groups):
            if group[0] != tok.page:
                break
            if abs(group[1] - tok.y_center) <= y_tol:
                target = group
                break
        if target is None:
            groups.append([tok.page, tok.y_center, [tok]])
        else:
            target[2].append(tok)
            target[1] = (target[1] + tok.y_center) / 2.0
    return groups


def cluster_lines(tokens: list[Token], y_tol: float = 5.0) -> list[Line]:
    """L1 — the reading lines of ``_line_groups``."""
    return [Line(tuple(items), y, page) for page, y, items in _line_groups(tokens, y_tol)]


def merge_tokens(
    tokens: list[Token],
    max_x_gap: float = 6.0,
    merge_single_char: bool = False,
) -> list[Token]:
    """L3 — x-sorted adjacency fold.

    Merge ``next`` into ``prev`` iff ``max_x_gap > 0`` and
    ``next.x1 - prev.x2 <= max_x_gap`` and (when ``merge_single_char``)
    one side is a single character.  ``max_x_gap <= 0`` disables
    merging entirely — the reference treats a non-positive gap config
    as "off" (text_normalize.py:138-141), it does NOT mean "merge only
    touching tokens".  Merged bbox is the union; merged text is direct
    concatenation (no separator) — the split-anchor repair
    (`合` + `计` -> `合计`).
    """
    if max_x_gap <= 0:
        return sorted(tokens, key=_BY_X1)
    ordered = sorted(tokens, key=_BY_X1)
    out: list[Token] = []
    for tok in ordered:
        if out:
            prev = out[-1]
            gap = tok.x1 - prev.x2
            size_ok = (not merge_single_char) or (
                len(prev.text) <= 1 or len(tok.text) <= 1
            )
            if gap <= max_x_gap and size_ok and tok.page == prev.page:
                out[-1] = Token(
                    text=prev.text + tok.text,
                    x1=min(prev.x1, tok.x1),
                    y1=min(prev.y1, tok.y1),
                    x2=max(prev.x2, tok.x2),
                    y2=max(prev.y2, tok.y2),
                    page=prev.page,
                )
                continue
        out.append(tok)
    return out


def page_bounds(tokens: list[Token]) -> tuple[float, float]:
    """L5 — (max x2, max y2) with floor 1.0."""
    if not tokens:
        return (1.0, 1.0)
    return (
        max(1.0, max(t.x2 for t in tokens)),
        max(1.0, max(t.y2 for t in tokens)),
    )


def region_filter(
    tokens: list[Token],
    region: tuple[float, float, float, float],
    bounds: tuple[float, float],
    y_offset: float = 0.0,
) -> list[Token]:
    """L6 — keep tokens whose bbox *center* lies inside the region.

    ``region`` is normalized [0..1]^2 (rx1, ry1, rx2, ry2); scaled by the
    page bounds, optionally shifted in y (``relative_to: title_line``).
    """
    w, h = bounds
    ax1, ay1, ax2, ay2 = (
        region[0] * w,
        region[1] * h + y_offset,
        region[2] * w,
        region[3] * h + y_offset,
    )
    return [
        t
        for t in tokens
        if ax1 <= t.x_center <= ax2 and ay1 <= t.y_center <= ay2
    ]


# ---------------------------------------------------------------------------
# Rotation normalization (P1/P2 analogue)


def _alignment_score(tokens: list[Token]) -> float | None:
    """Flush-left evidence for one candidate orientation: cluster the
    tokens into reading lines and compare how many lines START at a
    shared (modal) x position against how many END at one.  Text lines
    start flush at a small set of margins/column starts and end ragged,
    so reading orientation scores positive; upside-down scores
    negative.  Mode mass (largest 4-px bucket / n_lines) instead of
    edge variance because variance is column-fragile: a two-column
    page's line lefts are bimodal {margin1, margin2}, which inflates
    variance but keeps mode mass high (measured: variance misclassified
    42/450 corpus pages, mode mass 0).  None = too few lines."""
    groups = _line_groups(tokens, 5.0)
    if len(groups) < 3:
        return None
    lefts = [min(t.x1 for t in items) for _, _, items in groups]
    rights = [max(t.x2 for t in items) for _, _, items in groups]

    def _mode_mass(xs: list[float], tol: float = 4.0) -> float:
        buckets: dict[int, int] = {}
        for x in xs:
            b = round(x / tol)
            buckets[b] = buckets.get(b, 0) + 1
        return max(buckets.values()) / len(xs)

    return _mode_mass(lefts) - _mode_mass(rights)


def detect_rotation(tokens: list[Token]) -> int:
    """Infer page rotation from token geometry — the heuristic stand-in
    for the reference's PP-LCNet orientation model (preprocess.py:
    127-139), covering the model's full label set {0, 90, 180, 270}.

    Two geometry cues, no content model:

    1. Sideways gate — multi-character boxes are wide (aspect >> 1) in
       reading orientation, tall after a 90/270 rotation.  Median
       aspect of >=3-char tokens < 0.9 -> sideways.
    2. Baseline direction — within {0,180} (or {90,270}) the boxes are
       congruent, so orientation comes from per-line x-alignment under
       TRIAL unrotations: lines start flush-left and end ragged-right
       only in reading orientation (_alignment_score).  The alternate
       candidate must win DECISIVELY (margin 0.1 of line mass);
       ambiguity (near-tied scores, too few lines) falls back to the
       smaller angle, keeping the round-1 no-op behaviour on symmetric
       layouts.  Measured on the 450-page corpus: upright families
       score >= +0.067, 180-rotated <= -0.25 — clean separation.
    """
    aspects = sorted(
        (t.x2 - t.x1) / (t.y2 - t.y1)
        for t in tokens
        if len(t.text) >= 3 and t.y2 > t.y1
    )
    if len(aspects) < 3:
        return 0
    median = aspects[len(aspects) // 2]
    if median >= 0.9:
        # {0,180}: x -> W - x is a reflection, so score(180) is
        # -score(0) up to bucket rounding — ONE clustering decides
        # (keeps the detector cheap on the upright common case)
        s = _alignment_score(tokens)
        if s is None:
            return 0
        return 180 if -s > s + 0.1 else 0
    s_base = _alignment_score(unrotate_tokens(tokens, 90))
    s_alt = _alignment_score(unrotate_tokens(tokens, 270))
    if s_base is None or s_alt is None:
        return 90
    return 270 if s_alt > s_base + 0.1 else 90


def unrotate_tokens(tokens: list[Token], angle: int) -> list[Token]:
    """Undo a clockwise page rotation on token boxes (numpy-free exact
    coordinate transform, the P2 analogue of cv2.rotate,
    preprocess.py:243-256).  Supports the model's full label set
    {0, 90, 180, 270}."""
    if angle == 0 or not tokens:
        return tokens
    if angle == 90:
        # page was rotated 90 CW: rotated width == original height
        h = max(t.x2 for t in tokens)
        return [
            Token(
                text=t.text,
                x1=t.y1,
                y1=h - t.x2,
                x2=t.y2,
                y2=h - t.x1,
                page=t.page,
            )
            for t in tokens
        ]
    if angle == 180:
        w = max(t.x2 for t in tokens)
        h = max(t.y2 for t in tokens)
        return [
            Token(
                text=t.text,
                x1=w - t.x2,
                y1=h - t.y2,
                x2=w - t.x1,
                y2=h - t.y1,
                page=t.page,
            )
            for t in tokens
        ]
    if angle == 270:
        # page was rotated 90 CCW: undo by rotating CW
        # (rotated height == original width)
        h = max(t.y2 for t in tokens)
        return [
            Token(
                text=t.text,
                x1=h - t.y2,
                y1=t.x1,
                x2=h - t.y1,
                y2=t.x2,
                page=t.page,
            )
            for t in tokens
        ]
    raise ValueError(f"unsupported rotation {angle}")


# ---------------------------------------------------------------------------
# Column-order reconstruction (multi-column reading order)


@dataclass
class ColumnSplit:
    boundaries: list[float] = field(default_factory=list)  # x cut points

    @property
    def n_columns(self) -> int:
        return len(self.boundaries) + 1

    def column_of(self, t: Token) -> int:
        c = 0
        for b in self.boundaries:
            if t.x_center >= b:
                c += 1
        return c


def detect_columns(
    tokens: list[Token],
    min_gap: float = 24.0,
    min_coverage: float = 0.65,
) -> ColumnSplit:
    """Find vertical whitespace gutters splitting a page into columns.

    Confidence-gated like the reference's perspective correction
    (preprocess.py:258-309: apply only when the quad is trustworthy, else
    no-op): a gutter must be at least ``min_gap`` wide and free of tokens
    for at least ``min_coverage`` of the page height, else the page is
    treated as single-column.

    Algorithm: project token x-intervals, sweep the sorted interval ends
    for maximal empty gaps, then for each candidate gap check vertical
    coverage (fraction of the page height where the gap stays empty).
    """
    if len(tokens) < 4:
        return ColumnSplit()
    xs = sorted((t.x1, t.x2) for t in tokens)
    page_h = max(t.y2 for t in tokens) - min(t.y1 for t in tokens)
    if page_h <= 0:
        return ColumnSplit()
    x_left = min(t.x1 for t in tokens)
    x_right = max(t.x2 for t in tokens)
    # sweep merged x-intervals for gaps
    gaps: list[tuple[float, float]] = []
    cur_end = xs[0][1]
    for a, b in xs[1:]:
        if a > cur_end + min_gap:
            gaps.append((cur_end, a))
        cur_end = max(cur_end, b)
    boundaries: list[float] = []
    for g1, g2 in gaps:
        if g1 <= x_left or g2 >= x_right:
            continue
        mid = (g1 + g2) / 2.0
        # vertical coverage: rows of tokens straddling the gutter midline
        straddle = [t for t in tokens if t.x1 < mid < t.x2]
        covered = 1.0 - (
            sum(t.y2 - t.y1 for t in straddle) / page_h if straddle else 0.0
        )
        if covered >= min_coverage:
            boundaries.append(mid)
    return ColumnSplit(boundaries=boundaries)


def reading_order_lines(
    tokens: list[Token],
    y_tol: float = 5.0,
    max_x_gap: float = 6.0,
) -> list[Line]:
    """Full reading-order reconstruction for one document.

    Per page: detect columns; within each column (left to right) cluster
    lines top-to-bottom; within each line merge adjacent tokens.  Returns
    lines in final reading order.
    """
    out: list[Line] = []
    pages = sorted({t.page for t in tokens})
    for page in pages:
        page_toks = [t for t in tokens if t.page == page]
        split = detect_columns(page_toks)
        for col in range(split.n_columns):
            col_toks = [t for t in page_toks if split.column_of(t) == col]
            for page_no, y, items in _line_groups(col_toks, y_tol):
                merged = merge_tokens(items, max_x_gap=max_x_gap)
                out.append(Line(tuple(merged), y, page_no))
    return out
