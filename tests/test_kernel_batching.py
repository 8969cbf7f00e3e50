"""The kernel's byte-budget flush: one giant html blob must not balloon
an output batch (SURVEY.md §7.4.2 skew rule) — input above the budget
is split across multiple yielded RecordBatches, and rows survive
unchanged."""

import pyarrow as pa

from doc_ocr_spark.kernel import _BYTE_BUDGET, make_kernel


def _batch(rows):
    return pa.RecordBatch.from_pylist(
        rows, schema=pa.schema([("url", pa.string()), ("html", pa.binary())])
    )


def test_giant_inputs_flush_multiple_output_batches():
    html = b"<html><body><p>" + b"word " * 2000 + b"</p></body></html>"
    per_doc = len(html)
    n_docs = (_BYTE_BUDGET // per_doc) + 50  # ~1.0x budget + margin
    rows = [{"url": f"https://g/{i}", "html": html} for i in range(n_docs)]
    kernel = make_kernel(None)
    out = list(kernel(iter([_batch(rows)])))
    assert len(out) >= 2  # flushed mid-stream, not one giant batch
    assert sum(b.num_rows for b in out) == n_docs
    urls = [u for b in out for u in b.column("url").to_pylist()]
    assert urls == [r["url"] for r in rows]  # order and count preserved


def test_small_inputs_single_batch():
    rows = [{"url": f"https://s/{i}", "html": b"<p>tiny</p>"} for i in range(10)]
    kernel = make_kernel(None)
    out = list(kernel(iter([_batch(rows)])))
    assert len(out) == 1
    assert out[0].num_rows == 10


def test_null_url_row_is_error_data(spark):
    """A page without a url comes back as a ``missing_url`` error row;
    the task does not fail on a null in a non-null output column."""
    from doc_ocr_spark.kernel import apply_kernel

    df = spark.createDataFrame(
        [(None, b"<p>hello world</p>"), ("u2", b"<p>x</p>")],
        "url string, html binary",
    )
    rows = {r.url: r for r in apply_kernel(df).collect()}
    assert set(rows) == {None, "u2"}
    assert list(rows[None].errors) == ["missing_url"]
    assert "missing_url" not in rows["u2"].errors
