"""Template DSL: declarative extraction queries over positioned tokens.

A from-scratch re-expression of the reference's template machinery — the
"query language" of SURVEY.md §1.3 — with the same clause semantics:

- ``match_rules``       dispatch: ordered title parts on one line + scored
                        anchors + min_score    (template_matcher.py:27-118)
- ``non_table_fields``  scalar selects: use text|pos|both, anchor
                        right-neighbour geometry, page regions
                        (invoice_rule_extractor.py:124-287)
- ``table``             header detect, column boundaries, cell assignment,
                        row-group state machine, sum row
                        (invoice_rule_extractor.py:296-565)
- ``fields``            output schema -> validate.py

Templates are plain dicts (JSON-loadable); tiny, broadcast once per job.
All functions are pure and deterministic.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from doc_ocr_spark.core.layout import (
    Line,
    cluster_lines,
    merge_tokens,
    page_bounds,
    region_filter,
)
from doc_ocr_spark.core.tokens import Token, is_empty, normalize_text, strip_anchor_tail

REQUIRED_TEMPLATE_KEYS = ("name", "match_rules", "fields")


def check_template(tpl: dict) -> None:
    """~ template_loader.py:29-33 — fail fast on malformed templates."""
    missing = [k for k in REQUIRED_TEMPLATE_KEYS if k not in tpl]
    if missing:
        raise ValueError(f"template missing keys: {missing}")


# ---------------------------------------------------------------------------
# Matching (L7-L9)


@dataclass
class TemplateMatch:
    template: dict
    page: int
    score: float
    title_line: Line | None
    # the matched page, as matching saw it: its tokens, their bounds and
    # its lines at the title rule's y_tol (field and table extraction
    # read these, so each line's text views are derived once)
    tokens: list[Token]
    bounds: tuple[float, float]
    lines: list[Line]


def _find_title_line(lines: list[Line], parts: list[str]) -> Line | None:
    """Ordered substring scan with a cursor, all parts on ONE line
    (template_matcher.py:38-66)."""
    norm_parts = [normalize_text(p) for p in parts]
    for line in lines:
        text = line.norm
        pos = 0
        ok = True
        for part in norm_parts:
            idx = text.find(part, pos)
            if idx < 0:
                ok = False
                break
            pos = idx + len(part)
        if ok:
            return line
    return None


def _anchor_hits(
    lines: list[Line],
    anchor: dict,
    tokens: list[Token],
    bounds: tuple[float, float],
) -> bool:
    """L8 — scored anchor: optional region refilter + recluster, then
    regex or normalized-substring match on line text."""
    search_lines = lines
    if "region" in anchor:
        sub = region_filter(tokens, tuple(anchor["region"]), bounds)
        search_lines = cluster_lines(sub, y_tol=anchor.get("y_tol", 5.0))
    if "regex" in anchor:
        pat = re.compile(anchor["regex"])
        return any(pat.search(l.compact) for l in search_lines)
    needle = normalize_text(anchor["text"])
    return any(needle in l.norm for l in search_lines)


def match_template(
    tokens: list[Token], templates: list[dict], y_tol: float = 5.0
) -> TemplateMatch | None:
    """L7 — per (template, page) score; required-anchor veto; argmax.

    Deterministic tie-break: higher score, then template list order, then
    lower page (the reference relies on iteration order; we make the
    ordering explicit so distribution cannot perturb it).
    """
    pages = sorted({t.page for t in tokens})
    by_page = {p: [t for t in tokens if t.page == p] for p in pages}
    bounds_of = {p: page_bounds(by_page[p]) for p in pages}
    # templates overwhelmingly share a title y_tol — cluster once per
    # (page, y_tol), not once per (template, page) (cProfile: the
    # redundant clusterings were ~15% of the pdftok kernel path)
    lines_cache: dict[tuple[int, float], list[Line]] = {}

    def _lines(page: int, tol: float) -> list[Line]:
        key = (page, tol)
        if key not in lines_cache:
            lines_cache[key] = cluster_lines(by_page[page], y_tol=tol)
        return lines_cache[key]

    best: TemplateMatch | None = None
    for t_idx, tpl in enumerate(templates):
        rules = tpl["match_rules"]
        for page in pages:
            page_toks = by_page[page]
            bounds = bounds_of[page]
            lines = _lines(page, rules.get("title", {}).get("y_tol", y_tol))
            score = 0.0
            title_line = None
            title_rule = rules.get("title")
            if title_rule:
                title_line = _find_title_line(lines, title_rule["parts"])
                if title_line is None:
                    if title_rule.get("required", True):
                        continue
                else:
                    score += title_rule.get("score", 1.0)
            rejected = False
            for anchor in rules.get("anchors", []):
                hit = _anchor_hits(lines, anchor, page_toks, bounds)
                if hit:
                    score += anchor.get("score", 1.0)
                elif anchor.get("required", False):
                    rejected = True
                    break
            if rejected or score < rules.get("min_score", 0.0):
                continue
            if best is None or score > best.score:
                best = TemplateMatch(
                    tpl, page, score, title_line, page_toks, bounds, lines
                )
    return best


def title_fallback(lines: list[Line]) -> Line | None:
    """L9 — topmost line (invoice_rule_extractor.py:624-627)."""
    return min(lines, key=lambda l: l.y_center) if lines else None


# ---------------------------------------------------------------------------
# Scalar field extraction (L10-L12)


def _value_from_match(m: re.Match) -> str:
    """Last capture group if any, else whole match
    (invoice_rule_extractor.py:207-213)."""
    if m.lastindex:
        return m.group(m.lastindex)
    return m.group(0)


def _extract_text_mode(
    field: dict, lines: list[Line], tokens: list[Token]
) -> str | None:
    """L10 — regex path then anchor-text path."""
    if "regex" in field:
        pat = re.compile(field["regex"])
        scope = field.get("match_scope", "line")
        if scope == "box":
            for tok in tokens:
                m = pat.search(tok.text)
                if m:
                    return _value_from_match(m)
        else:
            for line in lines:
                m = pat.search(line.compact)
                if m:
                    return _value_from_match(m)
        return None
    anchor = field.get("anchor")
    if not anchor:
        return None
    needle = normalize_text(anchor)
    x_min = field.get("x_gap", [0.0, 80.0])
    if isinstance(x_min, (int, float)):
        x_min = [0.0, float(x_min)]
    y_tol = field.get("y_tol", 8.0)
    for line in lines:
        for tok in line.by_x:
            if needle not in normalize_text(tok.text):
                continue
            # (a) same-token tail after the anchor text
            norm_tail = _same_token_tail(tok.text, anchor)
            if norm_tail:
                return norm_tail
            # (b) right-neighbour candidates in the x-gap band
            cands = [
                c
                for c in tokens
                if c.page == tok.page
                and x_min[0] <= c.x1 - tok.x2 <= x_min[1]
                and abs(c.y1 - tok.y1) <= y_tol
            ]
            if cands:
                return min(cands, key=lambda c: c.x1).text.strip()
            # (c) fallback: nearest strictly-right token on the line
            if field.get("fallback_right_neighbor", True):
                right = [
                    c
                    for c in tokens
                    if c.page == tok.page
                    and c.x1 > tok.x2
                    and abs(c.y1 - tok.y1) <= y_tol
                ]
                if right:
                    return min(right, key=lambda c: c.x1).text.strip()
    return None


def _same_token_tail(token_text: str, anchor: str) -> str | None:
    """F8 — value embedded in the anchor's own token after ':'/'：'
    (invoice_rule_extractor.py:602-607)."""
    idx = token_text.find(anchor)
    if idx < 0:
        return None
    tail = token_text[idx + len(anchor):]
    tail = strip_anchor_tail(tail)
    return tail or None


def _extract_pos_mode(
    field: dict,
    tokens: list[Token],
    bounds: tuple[float, float],
    y_offset: float = 0.0,
) -> str | None:
    """L11 — region filter -> recluster -> optional merge -> first regex
    hit in y order, or full normalized text when allow_extra."""
    region = field.get("region")
    sub = (
        region_filter(tokens, tuple(region), bounds, y_offset=y_offset)
        if region
        else tokens
    )
    if not sub:
        return None
    lines = cluster_lines(sub, y_tol=field.get("y_tol", 5.0))
    if field.get("merge_tokens", True):
        max_x_gap = field.get("max_x_gap", 6.0)
        lines = [
            Line(tuple(merge_tokens(l.items, max_x_gap=max_x_gap)), l.y_center, l.page)
            for l in lines
        ]
    pat = re.compile(field["regex"]) if "regex" in field else None
    if pat is not None:
        for line in sorted(lines, key=lambda l: l.y_center):
            m = pat.search(line.compact)
            if m:
                return _value_from_match(m)
        return None
    if field.get("allow_extra", False):
        joined = "".join(
            l.compact for l in sorted(lines, key=lambda l: l.y_center)
        )
        return joined or None
    first = min(lines, key=lambda l: l.y_center)
    return first.compact or None


def extract_scalar_field(
    field: dict,
    lines: list[Line],
    tokens: list[Token],
    bounds: tuple[float, float],
    title_y: float = 0.0,
) -> str | None:
    """L12 — dispatch on ``use: text|pos|both`` (both = text else pos)."""
    use = field.get("use", "both")
    y_offset = title_y if field.get("relative_to") == "title_line" else 0.0
    value = None
    if use in ("text", "both"):
        value = _extract_text_mode(field, lines, tokens)
    if value is None and use in ("pos", "both"):
        value = _extract_pos_mode(field, tokens, bounds, y_offset=y_offset)
    return value


# ---------------------------------------------------------------------------
# Table reconstruction (L13-L21)


@dataclass
class HeaderMatch:
    line: Line
    # label -> (x1, x2) span bbox in x
    spans: dict[str, tuple[float, float]]


def detect_header(
    lines: list[Line], table_spec: dict
) -> HeaderMatch | None:
    """L13 — first line whose merged tokens cover >= min_hit labels.

    Per label: shortest consecutive token span whose concatenated
    normalized text contains the label, with a left-to-right cursor so
    labels claim disjoint spans in order
    (invoice_rule_extractor.py:630-668).
    """
    labels = table_spec["header"]
    hm = table_spec.get("header_match", {})
    min_hit = hm.get("min_hit", len(labels))
    max_x_gap = hm.get("max_x_gap", 10.0)
    for line in sorted(lines, key=lambda l: (l.page, l.y_center)):
        toks = merge_tokens(line.by_x, max_x_gap=max_x_gap)
        norm = [normalize_text(t.text) for t in toks]
        spans: dict[str, tuple[float, float]] = {}
        cursor = 0
        for label in labels:
            needle = normalize_text(label)
            found = None
            # shortest consecutive span starting at/after the cursor
            for i in range(cursor, len(toks)):
                acc = ""
                for j in range(i, len(toks)):
                    acc += norm[j]
                    if needle in acc:
                        found = (i, j)
                        break
                if found:
                    break
            if found:
                i, j = found
                spans[label] = (toks[i].x1, toks[j].x2)
                cursor = found[1] + 1
        if len(spans) >= min_hit:
            return HeaderMatch(line=line, spans=spans)
    return None


def build_column_boundaries(
    header: HeaderMatch, table_spec: dict
) -> list[tuple[str, float, float]]:
    """L14 — (label, left, right) per matched header, x-sorted.

    Boundary between adjacent columns is the midpoint of their centers;
    labels listed in ``boundary_by_header_end`` use the previous header's
    x2 as their left edge and their own x2 as the right;
    ``first_column_left`` overrides column 0's left edge; ``assign_rule
    .x_tol`` widens every column both ways
    (invoice_rule_extractor.py:671-697).
    """
    by_end = set(table_spec.get("boundary_by_header_end", []))
    x_tol = table_spec.get("assign_rule", {}).get("x_tol", 0.0)
    ordered = sorted(
        header.spans.items(), key=lambda kv: (kv[1][0] + kv[1][1]) / 2.0
    )
    cols: list[tuple[str, float, float]] = []
    for i, (label, (sx1, sx2)) in enumerate(ordered):
        center = (sx1 + sx2) / 2.0
        if i == 0:
            left = table_spec.get("first_column_left", sx1)
        elif label in by_end:
            left = ordered[i - 1][1][1]  # previous header's x2
        else:
            prev_center = (ordered[i - 1][1][0] + ordered[i - 1][1][1]) / 2.0
            left = (prev_center + center) / 2.0
        if label in by_end:
            right = sx2
        elif i + 1 < len(ordered):
            nxt_center = (ordered[i + 1][1][0] + ordered[i + 1][1][1]) / 2.0
            right = (center + nxt_center) / 2.0
        else:
            right = float("inf")
        cols.append((label, left - x_tol, right + x_tol))
    return cols


def assign_row_cells(
    line: Line,
    columns: list[tuple[str, float, float]],
    column_map: dict[str, str],
) -> dict[str, str]:
    """L15 — token joins the FIRST column whose [left, right] contains its
    x_center; per-column x-ordered concat, stripped
    (invoice_rule_extractor.py:700-708)."""
    cells: dict[str, list[str]] = {}
    for tok in line.by_x:
        xc = tok.x_center
        for label, left, right in columns:
            if left <= xc <= right:
                cells.setdefault(label, []).append(tok.text)
                break
    out: dict[str, str] = {}
    for label, parts in cells.items():
        field = column_map.get(label, label)
        val = "".join(parts).strip()
        if val:
            out[field] = val
    return out


@dataclass
class TableResult:
    rows: list[dict]
    sums: dict[str, float]
    errors: list[str]


def _is_sum_line(line: Line, key: str, max_x_gap: float) -> bool:
    """L19 — merged-token exact normalized equality with the key, or
    containment in the joined line (invoice_rule_extractor.py:845-862)."""
    needle = normalize_text(key)
    merged = merge_tokens(line.by_x, max_x_gap=max_x_gap)
    if any(normalize_text(t.text) == needle for t in merged):
        return True
    return needle in line.norm


def _hits_stop_anchor(line: Line, stop_anchors: list[str]) -> bool:
    """L22 — normalized containment of any stop anchor."""
    return any(normalize_text(a) in line.norm for a in stop_anchors)


def _next_effective_is_sum(
    body: list[Line],
    idx: int,
    columns: list[tuple[str, float, float]],
    column_map: dict[str, str],
    sum_spec: dict | None,
    max_x_gap: float,
    stop_anchors: list[str],
    ignore_blank: bool,
) -> bool:
    """L16 anchor_skip_before_sum lookahead: is the next effective line
    after ``idx`` the sum row?  (invoice_rule_extractor.py:762-787) —
    a stop anchor or any non-blank row before the sum answers no; blank
    rows are looked past only under ignore_blank."""
    if not sum_spec:
        return False
    for j in range(idx + 1, len(body)):
        line = body[j]
        if stop_anchors and _hits_stop_anchor(line, stop_anchors):
            return False
        if _is_sum_line(line, sum_spec["key"], max_x_gap):
            return True
        if assign_row_cells(line, columns, column_map):
            return False
        if not ignore_blank:
            # reference parity (:781-785): the lookahead stops at a
            # blank under allow_blank even though the MAIN loop would
            # tolerate it — deliberate asymmetry, kept byte-faithful
            return False
    return False


def extract_table(
    lines: list[Line], table_spec: dict
) -> TableResult:
    """L13-L21 — full table reconstruction.

    Row-group state machine (invoice_rule_extractor.py:392-541):

    - iterate y-sorted lines strictly below the header (skipping lines
      within ``y_gap`` of it); stop at ``row_end.stop_anchors``
    - mode ``line``: every non-blank line is a row
    - mode ``anchor``: a row *block* opens at an anchor line (all
      ``anchor_required`` cells non-empty AND any ``anchor_any`` cell
      non-empty); continuation lines append to the open block; before any
      anchor is seen, a line with all required cells is promoted to an
      anchor (first-row fallback)
    - ``anchor_skip_before_sum`` (invoice_rule_extractor.py:365,481,
      enabled in all three reference templates): a would-be anchor whose
      next effective line is the sum row folds into the open block
      instead of opening a spurious last row
    - blank policy: ``ignore_blank`` skips, ``allow_blank`` tolerates up
      to ``blank_row_max`` consecutive blanks, else a blank breaks
    - block merge (L17): ``merge_join`` fields concat non-empty values
      with ``joiner``; all other fields take the first non-empty value
    - rows missing any ``required_fields`` are dropped (L18)
    - sum row (L19-L21): detect by key; missing amounts searched
      ``max_lines_down`` below (stopping at ``stop_anchor``) then
      ``max_lines_up`` above (L20); ``targets`` remaps into payload paths
    """
    errors: list[str] = []
    header = detect_header(lines, table_spec)
    if header is None:
        return TableResult(rows=[], sums={}, errors=["table_header_not_found"])
    columns = build_column_boundaries(header, table_spec)
    column_map = table_spec.get("column_map", {})
    rg = table_spec.get("row_group", {})
    mode = rg.get("mode", "line")
    required = rg.get("anchor_required", [])
    anchor_any = rg.get("anchor_any", [])
    merge_join = set(rg.get("merge_join", []))
    joiner = rg.get("joiner", "")
    blank_policy = rg.get("blank", "break")  # ignore_blank|allow_blank|break
    blank_row_max = rg.get("blank_row_max", 1)
    skip_before_sum = rg.get("anchor_skip_before_sum", False)
    sum_x_gap = table_spec.get("header_match", {}).get("max_x_gap", 10.0)
    stop_anchors = table_spec.get("row_end", {}).get("stop_anchors", [])
    sum_spec = table_spec.get("sum_row")
    y_gap = rg.get("y_gap", 1.0)

    hline = header.line
    body = [
        l
        for l in sorted(lines, key=lambda l: (l.page, l.y_center))
        if (l.page > hline.page)
        or (l.page == hline.page and l.y_center > hline.y_center + y_gap)
    ]

    blocks: list[list[dict]] = []
    open_block: list[dict] | None = None
    sum_line: Line | None = None
    sum_line_idx = -1
    blanks = 0
    body_cells: list[dict] = []
    stopped_at = len(body)

    for idx, line in enumerate(body):
        if stop_anchors and _hits_stop_anchor(line, stop_anchors):
            stopped_at = idx
            break
        if sum_spec and _is_sum_line(line, sum_spec["key"], sum_x_gap):
            sum_line = line
            sum_line_idx = idx
            body_cells.append(assign_row_cells(line, columns, column_map))
            continue
        cells = assign_row_cells(line, columns, column_map)
        body_cells.append(cells)
        if sum_line is not None:
            continue  # lines after the sum row are not item rows
        if not cells:
            blanks += 1
            if blank_policy == "ignore_blank":
                continue
            if blank_policy == "allow_blank" and blanks <= blank_row_max:
                continue
            if blank_policy == "allow_blank":
                break
            break
        blanks = 0
        if mode == "line":
            blocks.append([cells])
            continue
        # anchor mode
        req_ok = all(not is_empty(cells.get(f)) for f in required)
        any_ok = (not anchor_any) or any(
            not is_empty(cells.get(f)) for f in anchor_any
        )
        is_anchor = req_ok and any_ok
        if not is_anchor and open_block is None and req_ok:
            is_anchor = True  # first-row fallback (required-only promote)
        if (
            is_anchor
            and skip_before_sum
            and open_block is not None
            and _next_effective_is_sum(
                body,
                idx,
                columns,
                column_map,
                sum_spec,
                sum_x_gap,
                stop_anchors,
                blank_policy == "ignore_blank",
            )
        ):
            # fold the last pre-sum anchor into the open block
            open_block.append(cells)
            continue
        if is_anchor:
            open_block = [cells]
            blocks.append(open_block)
        elif open_block is not None:
            open_block.append(cells)
        # else: stray pre-anchor line — dropped, like the reference

    # pad body_cells for lines between sum row and stop (sum search range)
    while len(body_cells) < min(stopped_at, len(body)):
        i = len(body_cells)
        body_cells.append(assign_row_cells(body[i], columns, column_map))

    # L17 block merge
    rows: list[dict] = []
    for block in blocks:
        merged: dict[str, str] = {}
        field_names = []
        for cells in block:
            for k in cells:
                if k not in field_names:
                    field_names.append(k)
        for fname in field_names:
            values = [c[fname] for c in block if not is_empty(c.get(fname))]
            if not values:
                continue
            if fname in merge_join:
                merged[fname] = joiner.join(values)
            else:
                merged[fname] = values[0]
        if merged:
            rows.append(merged)

    # L18 required filter
    row_required = table_spec.get("required_fields", [])
    if row_required:
        rows = [
            r for r in rows if all(not is_empty(r.get(f)) for f in row_required)
        ]

    # L19-L21 sum row
    sums: dict[str, float] = {}
    if sum_spec:
        from doc_ocr_spark.core.tokens import parse_number

        if sum_line is None:
            if sum_spec.get("required", True):
                errors.append("sum_row_not_found")
        else:
            ns = sum_spec.get("neighbor_search", {})
            max_down = ns.get("max_lines_down", 0)
            max_up = ns.get("max_lines_up", 0)
            stop_anchor = ns.get("stop_anchor")
            want = sum_spec.get("fields", ["amount"])
            found: dict[str, float] = {}

            def _take(cells: dict) -> None:
                for f in want:
                    if f in found:
                        continue
                    v = parse_number(cells.get(f))
                    if v is not None:
                        found[f] = v

            _take(body_cells[sum_line_idx])
            # search down
            for j in range(sum_line_idx + 1, min(sum_line_idx + 1 + max_down, len(body_cells))):
                if stop_anchor and _hits_stop_anchor(body[j], [stop_anchor]):
                    break
                if len(found) == len(want):
                    break
                _take(body_cells[j])
            # search up (not past the header — body starts below it)
            for j in range(sum_line_idx - 1, max(sum_line_idx - 1 - max_up, -1), -1):
                if len(found) == len(want):
                    break
                _take(body_cells[j])
            if "amount" in found:
                sums["total_amount"] = found["amount"]
            if "tax" in found:
                sums["tax_amount"] = found["tax"]
            if "amount" in found:
                sums["amount_with_tax"] = found["amount"] + found.get("tax", 0.0)
            targets = sum_spec.get("targets", {})
            for src, dst in targets.items():
                if src in sums:
                    sums[dst] = sums.pop(src)
            missing = [f for f in want if f not in found]
            if missing and sum_spec.get("required", True):
                errors.append("sum_values_missing:" + ",".join(missing))
    return TableResult(rows=rows, sums=sums, errors=errors)
