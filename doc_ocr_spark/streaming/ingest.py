"""Incremental crawl ingest via Structured Streaming.

The reference is strict request/response (SURVEY.md §2.7 'Streaming:
none'); at corpus scale the equivalent of its per-request entry point is
a file-arrival stream: new page parquet files land in a directory, each
micro-batch runs the SAME batch kernel, output and lineage commit
per batch (exactly-once via the streaming checkpoint).

``foreachBatch`` calls ``doc_ocr_spark.job.extract_bucketed``, the same
kernel -> bucket exchange as the batch job, so batch and streaming share
one code path and one exchange placement — no second extraction
implementation.
Exactly-once = checkpoint (batch replay on crash) + idempotent batch
writes (dynamic overwrite of the batch's own ``batch_id=`` partitions);
see ``process_batch``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from doc_ocr_spark.job import extract_bucketed

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


# output dirs already checked for the pre-batch_id partition layout
# this process lifetime (one FS listing per dir, not per micro-batch)
_LAYOUT_CHECKED: set[str] = set()


def _fail_on_legacy_layout(spark: SparkSession, output_dir: str) -> None:
    """Fail fast if ``output_dir`` holds the pre-round-4 layout
    (``partitionBy(part_bucket)`` with batch_id as a data column).

    The current layout is ``partitionBy(batch_id, part_bucket)``;
    restarting an old stream (old checkpoint + old output dir) against
    it would produce a MIXED layout in one directory — unreadable by
    Spark's partition inference, and the dynamic overwrite could not
    replace replayed old-layout rows (ADVICE r04).  Upgrade path:
    discard (or re-ingest into) the pre-existing output dir and its
    checkpoint; there is no in-place migration."""
    if output_dir in _LAYOUT_CHECKED:
        return
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(output_dir)
    fs = path.getFileSystem(conf)
    if fs.exists(path):
        for st in fs.listStatus(path):
            if st.getPath().getName().startswith("part_bucket="):
                raise RuntimeError(
                    f"{output_dir} holds the legacy part_bucket-only "
                    "partition layout; the stream now writes "
                    "partitionBy(batch_id, part_bucket) and mixing the "
                    "two is unreadable. Start from a fresh output dir + "
                    "checkpoint (or move the legacy output aside)."
                )
    _LAYOUT_CHECKED.add(output_dir)


def write_extracted_batch(
    batch_df,
    batch_id: int,
    output_dir: str,
    n_buckets: int,
    templates: list[dict] | None = None,
) -> None:
    """One micro-batch: ``extract_bucketed`` (kernel, then the one
    bucket exchange of the extracted rows) + IDEMPOTENT write.

    Exactly-once discipline: foreachBatch alone is at-least-once — a
    crash between a plain append and the checkpoint commit replays the
    batch and would DUPLICATE its rows on restart.  The standard fix:
    partition the output by batch_id and make each batch a DYNAMIC
    partition overwrite of its own partitions — a replayed batch then
    replaces its previous (possibly partial) output instead of
    appending beside it (asserted by the replay test in
    tests/test_functions_sources.py).  ``part_bucket`` stays the second
    partition level, so bucket partition-pruning is unchanged for
    downstream consumers."""
    _fail_on_legacy_layout(batch_df.sparkSession, output_dir)
    (
        extract_bucketed(batch_df, n_buckets, templates)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "part_bucket")
        .parquet(output_dir)
    )


def _pages_from_warc_binary(batch_df):
    """binaryFile rows (path, content, ...) -> (url, html) pages: each
    task parses its files' WARC records (sources/warc.py codec), with
    per-record gzip members decompressed in one pass.  The streaming
    source hands the WHOLE file as a row (binaryFile semantics), so the
    memory unit is one archive per task — acceptable for incremental
    arrival; bulk backfills should prefer the batch job's record-
    streaming ``--input-format warc`` path."""
    import io

    import pandas as pd

    from doc_ocr_spark.sources.warc import iter_warc_pages

    def gen(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                if str(path).endswith(".gz"):
                    import gzip

                    blob = gzip.decompress(blob)  # multi-member capable
                rows = [
                    (url, html)
                    for url, _ts, html in iter_warc_pages(io.BytesIO(blob))
                ]
                yield pd.DataFrame(rows, columns=["url", "html"])

    return batch_df.select("path", "content").mapInPandas(
        gen, "url string, html binary"
    )


def start_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    max_files_per_trigger: int = 8,
    templates: list[dict] | None = None,
    source_format: str = "parquet",
):
    """Start the stream; returns the StreamingQuery (caller awaits).

    ``source_format='warc'`` watches for arriving ``*.warc`` /
    ``*.warc.gz`` archives (binaryFile file stream) instead of page
    parquet — the crawl's own wire format lands and is extracted
    incrementally with the same exactly-once batch protocol."""
    if source_format == "warc":
        # binaryFile's schema is FIXED by the format; the streaming
        # source still requires it stated explicitly
        stream = (
            spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("pathGlobFilter", "*.warc*")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(input_dir)
        )
    else:
        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
            .select("url", "html")
        )

    def process_batch(batch_df, batch_id: int) -> None:
        if source_format == "warc":
            batch_df = _pages_from_warc_binary(batch_df)
        write_extracted_batch(batch_df, batch_id, output_dir, n_buckets, templates)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
