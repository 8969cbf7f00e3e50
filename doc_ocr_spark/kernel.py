"""Arrow-batch kernel: the distributed face of the pure-Python core.

``mapInArrow`` (not per-row Python UDFs — input_hint mandate): record
batches stream through ``extract_batches`` which calls
``core.extract_document`` per document.  One url is always processed
whole inside one batch iteration (SURVEY.md §7.4.1 — never split a
document), and output batches are emitted under a byte budget so a
single giant html blob cannot balloon task memory (skew rule §7.4.2).
Together with the session's ``arrow.maxRecordsPerBatch`` cap on input
rows per batch and the keyless respread of split-starved scans, this is
all the giant-blob handling the job needs: its one exchange comes after
the kernel (job.extract_bucketed), so no key ever groups raw html.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from doc_ocr_spark.core.extractor import KERNEL_VERSION, extract_document

OUTPUT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("field", StringType(), True),
                        StructField("start", LongType(), True),
                        StructField("end", LongType(), True),
                    ]
                )
            ),
            True,
        ),
        StructField("template_name", StringType(), True),
        StructField("complete", BooleanType(), True),
        StructField("errors", ArrayType(StringType()), True),
        StructField("fields_json", StringType(), True),
        StructField("bytes_in", LongType(), True),
        StructField("extractor_version", StringType(), True),
    ]
)

# the same schema on the Arrow side (url non-null, list children named
# "element" -- Spark's conversion)
_ARROW_SCHEMA = to_arrow_schema(OUTPUT_SCHEMA)

# Flush an output batch once this much input has been processed; bounds
# peak memory for the giant-blob family without splitting any document.
_BYTE_BUDGET = 32 << 20


def make_kernel(templates: list[dict] | None):
    """Build the ``mapInArrow`` function with templates captured in the
    closure (templates are tiny — the broadcast-variable analogue of the
    reference's lru_cache(1) loader, template_loader.py:14)."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows: list[dict] = []
        budget = 0
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            for url, html in zip(urls, htmls):
                res = extract_document(url, html, templates)
                rows.append(
                    {
                        "url": res.url,
                        "extracted_text": res.extracted_text,
                        "spans": [
                            {"field": f, "start": s, "end": e}
                            for (f, s, e) in res.spans
                        ],
                        "template_name": res.template_name,
                        "complete": res.complete,
                        "errors": res.errors,
                        "fields_json": res.fields_json,
                        "bytes_in": len(html) if html else 0,
                        "extractor_version": KERNEL_VERSION,
                    }
                )
                budget += len(html) if html else 0
                if budget >= _BYTE_BUDGET:
                    yield pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)
                    rows, budget = [], 0
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)

    return extract_batches


def apply_kernel(df: DataFrame, templates: list[dict] | None = None) -> DataFrame:
    """``(url, html, ...) -> OUTPUT_SCHEMA`` via mapInArrow.

    Column pruning is explicit: only (url, html) ever crosses into
    Python (SURVEY.md §4 'never carry text along').

    Round 6: the kernel is the heaviest per-byte map stage in the repo
    and runs at the SCAN's parallelism — a small corpus parquet is one
    row group, serializing extraction on one of 32 cores (measured:
    the sf1.0 bench corpus is a single 3.8 MB row group).  The
    condition-gated respread round-robins the raw rows up to the
    session parallelism when the scan is split-starved — fewer scan
    splits OR fewer parquet row groups than cores, since a split
    without a row group reads nothing (a 4000-page file of two row
    groups cut into four byte splits ran two busy tasks on four
    slots).  It is a structural no-op at corpus scale, where splits and
    row groups >> cores; the 1 MB floor keeps truly tiny corpora on the
    scan layout.  Kernel output is per-row,
    so results are byte-identical at any parallelism (the golden
    identity tests pin this).  Streaming inputs keep their layout
    (micro-batch DFs report no input files, so the floor returns them
    unchanged).

    Pass a scan plus narrow projections and filters: respread counts
    the input's row groups, which an exchange below the kernel would
    hide.  Callers place their exchange AFTER the kernel
    (job.extract_bucketed).
    """
    pruned = df.select("url", "html")
    if not pruned.isStreaming:
        from doc_ocr_spark.operators import respread

        pruned = respread(pruned, min_bytes=1 << 20)
    return pruned.mapInArrow(make_kernel(templates), OUTPUT_SCHEMA)
