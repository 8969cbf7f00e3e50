"""Corpus source/sink: Iceberg-first with transparent parquet fallback.

The north rule targets Iceberg tables of Common-Crawl-style pages.  The
sandbox has no Iceberg runtime jar, so the reader/writer take a table
reference and try the catalog first, falling back to a parquet path with
the same layout semantics:

- partition spec: Iceberg ``PARTITIONED BY (bucket(N, url))`` ==
  parquet ``partitionBy(part_bucket)`` where
  ``part_bucket = pmod(xxhash64(url), N)`` (job.py's salt — stable,
  data-independent, resume-safe)
- snapshot metadata == the ``_lineage`` parquet (job.py)

This mirrors the reference's single source operator S1
(app/api/routes/invoice.py:13-51, one-file-per-request multipart) lifted
to table scans: the content-type allowlist becomes a column predicate,
pushed down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the pages table: parquet corpora, WARC archives and the streaming
# ingest all read into this schema (DDL, as every reader accepts it)
PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _is_iceberg_ref(ref: str) -> bool:
    # catalog.db.table style (no path separators, has dots)
    return "/" not in ref and "." in ref


def read_corpus(spark: SparkSession, ref: str, columns: tuple[str, ...] | None = None) -> DataFrame:
    """Read the pages table from an Iceberg table ref or a parquet path.

    Column pruning is explicit: pass ``columns`` so only what the kernel
    needs ever reaches the scan (shows up as ReadSchema in the plan).
    """
    if _is_iceberg_ref(ref):
        try:
            df = spark.read.format("iceberg").load(ref)
        except Exception:
            df = spark.table(ref)
    else:
        df = spark.read.parquet(ref)
    if columns:
        df = df.select(*columns)
    return df


def write_corpus(df: DataFrame, ref: str, n_buckets: int = 64, mode: str = "append") -> None:
    """Write pages/extraction output, bucket-partitioned by url hash."""
    from doc_ocr_spark.job import with_bucket

    out = with_bucket(df, n_buckets)
    if _is_iceberg_ref(ref):
        try:
            out.writeTo(ref).append()
            return
        except Exception:
            pass
    out.write.mode(mode).partitionBy("part_bucket").parquet(ref)
