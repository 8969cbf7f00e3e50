"""Per-document extraction kernel: ``(url, html bytes) -> ExtractResult``.

The unit of byte-identity (SURVEY.md §3.3): no I/O, no randomness, no
time dependence.  Dispatches on payload type:

- HTML bytes          -> tokenize -> boilerplate classify -> main content
- ``PDFTOK\\n`` magic -> positioned-token stream -> reading-order
                         reconstruction -> template match -> field/table
                         extraction -> validation

Mirrors the reference's pipeline order (invoice_rule_extractor.py:40-122:
guards -> match_template -> restrict to matched page -> cluster ->
fields -> table -> validate) and its failure taxonomy L25: errors are
DATA in the result, never raised.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from doc_ocr_spark.core.boilerplate import extract_main_content
from doc_ocr_spark.core.htmltok import decode_html, tokenize_html
from doc_ocr_spark.core.layout import (
    Line,
    # not called here since the match carries the page's lines; kept
    # because perfbench/trace.py times core phases by wrapping the names
    # this module imports, cluster_lines among them
    cluster_lines,  # noqa: F401
    detect_rotation,
    reading_order_lines,
    unrotate_tokens,
)
from doc_ocr_spark.core.templates import (
    extract_scalar_field,
    extract_table,
    match_template,
    title_fallback,
)
from doc_ocr_spark.core.tokens import Token
from doc_ocr_spark.core.validate import set_path, validate_payload

PDFTOK_MAGIC = b"PDFTOK\n"
KERNEL_VERSION = "doc_ocr_spark-0.1.0"


@dataclass
class ExtractResult:
    url: str | None
    extracted_text: str = ""
    # (field, start, end) spans into extracted_text
    spans: list[tuple[str, int, int]] = field(default_factory=list)
    template_name: str | None = None
    complete: bool = False
    errors: list[str] = field(default_factory=list)
    fields_json: str | None = None


def _parse_pdftok(payload: bytes) -> list[Token]:
    """Parse the JSON-lines positioned-token stream (FIXTURES.md §3).

    All lines are decoded with ONE json.loads (the per-line call was
    ~8% of kernel time under cProfile); JSON-lines semantics are
    unchanged — blank lines skipped, any malformed line fails the doc
    into the parse_error taxonomy row exactly as before."""
    # strip each line (old per-line behaviour): \x0b/\x0c padding is not
    # JSON whitespace, so unstripped lines would turn previously-valid
    # payloads into parse_error rows
    lines = [
        raw.strip()
        for raw in payload[len(PDFTOK_MAGIC):].split(b"\n")
        if raw.strip()
    ]
    if not lines:
        return []
    ds = json.loads(b"[" + b",".join(lines) + b"]")
    return [
        Token(
            text=str(d["text"]),
            x1=float(d["x1"]),
            y1=float(d["y1"]),
            x2=float(d["x2"]),
            y2=float(d["y2"]),
            page=int(d.get("page", 1)),
        )
        for d in ds
    ]


def _dump_fields(data: dict) -> str:
    """Canonical JSON — key-sorted, compact, unicode kept — so golden
    comparison is a plain string equality."""
    return json.dumps(data, sort_keys=True, ensure_ascii=False, separators=(",", ":"))


def _lines_to_text(lines: list[Line]) -> tuple[str, list[tuple[str, int, int]]]:
    """Reading-order lines -> text + per-line spans (sep: ' ' within a
    line, '\\n' between lines)."""
    parts: list[str] = []
    spans: list[tuple[str, int, int]] = []
    pos = 0
    for ln in lines:
        if parts:
            pos += 1
        txt = ln.text
        start = pos
        parts.append(txt)
        pos += len(txt)
        spans.append(("line", start, pos))
    return "\n".join(parts), spans


def _extract_pdftok(url: str, payload: bytes, templates: list[dict]) -> ExtractResult:
    res = ExtractResult(url=url)
    try:
        tokens = _parse_pdftok(payload)
    except (ValueError, KeyError, TypeError):
        res.errors.append("parse_error:pdftok")
        return res
    if not tokens:
        res.errors.append("no_tokens")  # ~ no_ocr_items
        return res

    # orientation normalization (P1/P2 analogue): geometry-only
    # heuristic, confidence-gated no-op when ambiguous
    angle = detect_rotation(tokens)
    if angle:
        tokens = unrotate_tokens(tokens, angle)

    # main-content surface: full reading-order reconstruction (always
    # emitted, even when no template matches)
    lines = reading_order_lines(tokens)
    res.extracted_text, res.spans = _lines_to_text(lines)

    if not templates:
        res.errors.append("no_templates")
        return res
    m = match_template(tokens, templates)
    if m is None:
        res.errors.append("template_not_matched")
        return res
    res.template_name = m.template["name"]

    # restrict to the matched page (invoice_rule_extractor.py:69 — the
    # reference's partition-pruning analogue): the match carries that
    # page's tokens, bounds and lines at the title rule's y_tol
    title_line = m.title_line or title_fallback(m.lines)
    title_y = title_line.y_center if title_line else 0.0

    payload_dict: dict = {}
    for k, v in m.template.get("fixed_fields", {}).items():
        set_path(payload_dict, k, v)
    for fspec in m.template.get("non_table_fields", []):
        value = extract_scalar_field(fspec, m.lines, m.tokens, m.bounds, title_y=title_y)
        if value is not None:
            set_path(payload_dict, fspec["name"], value)

    table_spec = m.template.get("table")
    table_errors: list[str] = []
    if table_spec:
        tr = extract_table(m.lines, table_spec)
        table_errors = tr.errors
        if tr.rows:
            payload_dict["items"] = tr.rows
        for k, v in tr.sums.items():
            set_path(payload_dict, k, v)

    data, verrors = validate_payload(payload_dict, m.template.get("fields", {}))
    res.errors.extend(table_errors)
    res.errors.extend(verrors)
    res.fields_json = _dump_fields(data)
    res.complete = not res.errors
    return res


def _extract_html(url: str, payload: bytes) -> ExtractResult:
    res = ExtractResult(url=url)
    try:
        blocks = tokenize_html(decode_html(payload))
    except Exception:  # stdlib parser is tolerant; belt-and-braces
        res.errors.append("parse_error:html")
        return res
    if not blocks:
        res.errors.append("no_content")
        return res
    asm = extract_main_content(blocks)
    res.extracted_text = asm.text
    res.spans = asm.spans
    if not asm.text:
        res.errors.append("no_main_content")
        return res
    res.complete = True
    return res


def extract_document(
    url: str | None, payload: bytes | None, templates: list[dict] | None = None
) -> ExtractResult:
    """The kernel.  ``templates`` defaults to the built-in set.  A page
    without a url has no identity to key its output on; it comes back as
    an error row (errors are data), not extracted."""
    if url is None:
        return ExtractResult(url=None, errors=["missing_url"])
    if templates is None:
        from doc_ocr_spark.core.builtin_templates import builtin_templates

        templates = builtin_templates()
    if not payload:
        return ExtractResult(url=url, errors=["empty_document"])
    if payload.startswith(PDFTOK_MAGIC):
        return _extract_pdftok(url, payload, templates)
    return _extract_html(url, payload)
