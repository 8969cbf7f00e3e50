"""Property-based tests (hypothesis) for the kernel's core invariants.

These complement the example-based suites: the fast HTML scanner must
track the stdlib oracle on ARBITRARY markup-ish input, normalization
must be idempotent, and layout clustering must not depend on input
order (the precondition for distributed byte-identity)."""

import random as _random

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from doc_ocr_spark.core.htmltok import tokenize_html, tokenize_html_htmlparser
from doc_ocr_spark.core.layout import cluster_lines, merge_tokens
from doc_ocr_spark.core.tokens import (
    Token,
    fullwidth_to_halfwidth,
    normalize_text,
    parse_number,
)

# -- HTML scanner equivalence ----------------------------------------------

_tag_names = st.sampled_from(
    ["div", "p", "a", "span", "nav", "script", "style", "br", "h1", "li", "table"]
)
_fragment = st.one_of(
    st.text(alphabet="abc <>&;#x/='\"!-?[\n\t", max_size=30),
    _tag_names.map(lambda t: f"<{t}>"),
    _tag_names.map(lambda t: f"</{t}>"),
    _tag_names.map(lambda t: f"<{t} class='x' data-n=\"a>b\">"),
    st.sampled_from(
        ["&amp;", "&lt;", "&#65;", "&unknown;", "<!-- c -->", "<!DOCTYPE html>",
         "<br/>", "<![CDATA[x]]>", "<![CDATA[q] ]>", "<![cdata[y]]>",
         "<![if gte IE 7]>", "<![endif]>", "<![ignore[z]]>",
         "<?pi?>", "<", ">", "&"]
    ),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_fragment, max_size=30))
def test_scanner_tracks_stdlib_on_arbitrary_markup(parts):
    """Start tags run through the stdlib's own parse_starttag, so even
    torn/malformed tags with stray quotes must match the oracle.

    Marked sections with DEFINED stdlib behaviour (cdata/ignore/...
    closing at ']]>', if/else/endif at ']>') are compared like any
    other construct.  The one excluded class: inputs where the stdlib
    parser itself CRASHES (unknown keyword '<![foo]>' / non-name
    '<![123]>' -> _markupbase AssertionError) — the fast scanner skips
    those like a bogus declaration instead of raising, which is the
    correct behaviour for a crawler kernel, so they are skipped rather
    than compared (divergence documented in htmltok.py)."""
    html = "".join(parts)
    try:
        expected = tokenize_html_htmlparser(html)
    except AssertionError:
        assume(False)
    assert tokenize_html(html) == expected


# -- normalization ----------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_normalize_text_is_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_fullwidth_to_halfwidth_is_idempotent(s):
    once = fullwidth_to_halfwidth(s)
    assert fullwidth_to_halfwidth(once) == once


@settings(max_examples=100, deadline=None)
@given(
    st.floats(min_value=0, max_value=10**9, allow_nan=False).map(
        lambda x: round(x, 2)
    ),
    st.sampled_from(["", "$", "CNY ", "¥", "  "]),
    st.sampled_from(["", " USD", "元", "  "]),
)
def test_parse_number_strips_decoration(x, prefix, suffix):
    assert parse_number(f"{prefix}{x}{suffix}") == x


# -- layout order-invariance --------------------------------------------


def _tokens_from_spec(spec):
    toks = []
    for i, (page, yq, xq) in enumerate(spec):
        x1 = float(xq) * 15.0
        y1 = float(yq) * 40.0  # y rows far apart vs the 5.0 y_tol
        toks.append(
            Token(text=f"t{i}", x1=x1, y1=y1, x2=x1 + 10.0, y2=y1 + 12.0, page=page)
        )
    return toks


_spec = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=150, deadline=None)
@given(_spec, st.integers(min_value=0, max_value=2**31))
def test_cluster_lines_is_input_order_invariant(spec, seed):
    """Shuffled token input must produce identical lines — the property
    that makes the distributed kernel's output independent of shuffle
    arrival order (SURVEY.md §7.4.1)."""
    toks = _tokens_from_spec(spec)
    shuffled = list(toks)
    _random.Random(seed).shuffle(shuffled)

    def canon(lines):
        return [
            (ln.page, ln.y_center, [t.text for t in ln.by_x])
            for ln in lines
        ]

    assert canon(cluster_lines(toks)) == canon(cluster_lines(shuffled))


@settings(max_examples=150, deadline=None)
@given(_spec, st.floats(min_value=0.0, max_value=50.0))
def test_merge_tokens_preserves_text_multiset(spec, max_x_gap):
    """Merging may concatenate but never drop or duplicate characters."""
    toks = sorted(_tokens_from_spec(spec), key=lambda t: t.x1)
    merged = merge_tokens(toks, max_x_gap=max_x_gap, merge_single_char=False)
    assert "".join(t.text for t in merged) == "".join(t.text for t in toks)


# -- WARC codec round-trip ---------------------------------------------------

_warc_url = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1,
    max_size=60,
).map(lambda s: "https://h.test/" + s)
_warc_payload = st.binary(max_size=400)  # arbitrary bytes: \r\n\r\n, gzip
# magic, WARC/ prefixes inside payloads must all round-trip intact


@given(pages=st.lists(st.tuples(_warc_url, _warc_payload), max_size=8))
@settings(max_examples=60, deadline=None)
def test_warc_encode_parse_roundtrip(pages):
    """Content-Length framing must make ANY payload byte-safe —
    including payloads containing record separators, header-block
    terminators, or 'WARC/' magic."""
    import gzip as _gzip
    import io
    from datetime import datetime

    from doc_ocr_spark.sources.warc import encode_warc_record, iter_warc_pages

    ts = datetime(2024, 3, 1, 7, 5, 9)
    raw = b"".join(encode_warc_record(u, ts, b) for u, b in pages)
    got = list(iter_warc_pages(io.BytesIO(raw)))
    assert [(u, b) for u, _, b in got] == pages
    assert all(t == ts for _, t, _ in got)
    # and through per-record gzip members (the .warc.gz layout)
    gz = b"".join(
        _gzip.compress(encode_warc_record(u, ts, b), mtime=0) for u, b in pages
    )
    got2 = list(iter_warc_pages(_gzip.GzipFile(fileobj=io.BytesIO(gz))))
    assert [(u, b) for u, _, b in got2] == pages
