"""WARC source (ISO 28500): round-trip, foreign-wire tolerance, and the
golden gate — the extraction kernel over a WARC-read corpus must match
the sequential golden run byte-for-byte (same invariant as the parquet
path, test_spark_job.py)."""

import gzip
import io

import pytest

from doc_ocr_spark.datagen import generate_pages
from doc_ocr_spark.golden import compare_to_golden, golden_rows
from doc_ocr_spark.kernel import apply_kernel
from doc_ocr_spark.sources.warc import (
    encode_warc_record,
    http_payload,
    iter_warc_pages,
    iter_warc_records,
    read_warc,
    write_warc_files,
)

N_DOCS = 60


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    pages = generate_pages(N_DOCS, seed=42)
    # mixed layout: 2 gzipped (per-record members) + 2 plain, to cover
    # both wire forms in one read
    write_warc_files(pages[: N_DOCS // 2], str(d), n_files=2, compress=True)
    write_warc_files(
        pages[N_DOCS // 2 :], str(d / "plain"), n_files=2, compress=False
    )
    return str(d), pages


def test_warc_roundtrip_all_fields(spark, warc_dir):
    d, pages = warc_dir
    got = {
        r.url: (r.warc_ts, bytes(r.html) if r.html is not None else None)
        for r in read_warc(spark, d).collect()
    }
    assert len(got) == N_DOCS
    from datetime import timezone

    for p in pages:
        ts, html = got[p["url"]]
        # datagen timestamps are tz-aware UTC; Spark collects naive UTC
        # (session tz) — same convention the parquet path produces
        exp = p["warc_ts"].astimezone(timezone.utc).replace(tzinfo=None)
        assert ts == exp, p["url"]
        assert html == p["html"], p["url"]


def test_warc_kernel_matches_golden(spark, warc_dir):
    """The north-star path end-to-end: WARC files -> pages schema ->
    Arrow extraction kernel == sequential golden, byte-identical."""
    d, _ = warc_dir
    corpus = read_warc(spark, d).select("url", "html")
    rows = [r.asDict(recursive=True) for r in apply_kernel(corpus).collect()]
    assert compare_to_golden(rows, golden_rows(N_DOCS, seed=42)) == []


def test_warc_skips_non_response_records():
    page = generate_pages(1, seed=42)[0]
    rec = encode_warc_record(page["url"], page["warc_ts"], page["html"])
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    )
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: https://x.test/\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    )
    got = list(iter_warc_pages(io.BytesIO(info + req + rec)))
    assert [u for u, _, _ in got] == [page["url"]]


def test_warc_lf_only_headers_and_chunked_body():
    """Foreign writers: LF-only header lines, and an HTTP body with
    chunked transfer-encoding (the reader must de-chunk)."""
    body = b"5\r\nhello\r\n6\r\n world\r\n0\r\n\r\n"
    http = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + body
    )
    rec = (
        b"WARC/1.1\n"
        b"WARC-Type: response\n"
        b"WARC-Target-URI: https://lf.test/a\n"
        b"WARC-Date: 2024-06-01T12:30:00Z\n"
        + f"Content-Length: {len(http)}\n".encode()
        + b"\n"
        + http
    )
    got = list(iter_warc_pages(io.BytesIO(rec)))
    assert len(got) == 1
    url, ts, payload = got[0]
    assert url == "https://lf.test/a"
    assert ts.isoformat() == "2024-06-01T12:30:00"
    assert payload == b"hello world"


def test_warc_resource_record_block_passes_through():
    """A resource record (no HTTP envelope) yields its block verbatim."""
    blob = b"\x89PNG fake bytes"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://r.test/img\r\n"
        + f"Content-Length: {len(blob)}\r\n".encode()
        + b"\r\n"
        + blob
    )
    (_, _, payload), = iter_warc_pages(io.BytesIO(rec))
    assert payload == blob


def test_warc_truncated_block_raises():
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://t.test/\r\nContent-Length: 100\r\n\r\nshort"
    )
    with pytest.raises(ValueError, match="truncated WARC block"):
        list(iter_warc_records(io.BytesIO(rec)))
    with pytest.raises(ValueError, match="not a WARC record"):
        list(iter_warc_records(io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")))


def test_warc_gzip_members_concatenate():
    """Per-record gzip members (the spec's .warc.gz layout) stream as
    one archive; empty html (Content-Length 0 payload) round-trips."""
    pages = generate_pages(8, seed=42)
    buf = b"".join(
        gzip.compress(
            encode_warc_record(p["url"], p["warc_ts"], p["html"]), mtime=0
        )
        for p in pages
    )
    got = list(iter_warc_pages(gzip.GzipFile(fileobj=io.BytesIO(buf))))
    assert [u for u, _, _ in got] == [p["url"] for p in pages]
    assert [h for _, _, h in got] == [p["html"] for p in pages]


def test_http_payload_strip_variants():
    assert http_payload(b"HTTP/1.1 200 OK\r\nA: b\r\n\r\nBODY") == b"BODY"
    assert http_payload(b"HTTP/1.0 404 NF\n\n") == b""
    assert http_payload(b"not-http at all") == b"not-http at all"


def test_read_warc_empty_dir(spark, tmp_path):
    df = read_warc(spark, str(tmp_path / "nothing"))
    assert df.count() == 0
    assert df.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_job_end_to_end_from_warc(spark, warc_dir, tmp_path):
    """The full batch job over a WARC input: kernel -> salted exchange
    -> partitioned write + lineage, resume included — identical
    protocol to the parquet path, different source format."""
    from doc_ocr_spark.job import completed_buckets, run_extraction

    d, _ = warc_dir
    out = str(tmp_path / "out")
    m = run_extraction(spark, d, out, n_buckets=8, input_format="warc")
    assert m["docs"] == N_DOCS
    result = spark.read.parquet(out)
    assert result.count() == N_DOCS
    assert set(completed_buckets(spark, out)) == set(range(8))
    rows = [
        r.asDict(recursive=True)
        for r in result.drop("part_bucket", "bytes_in", "extractor_version").collect()
    ]
    assert compare_to_golden(rows, golden_rows(N_DOCS, seed=42)) == []
    # resume over WARC input is the same no-op
    m2 = run_extraction(
        spark, d, out, n_buckets=8, resume=True, input_format="warc"
    )
    assert m2["docs"] == 0


def test_streaming_ingest_from_arriving_warc_archives(spark, tmp_path):
    """Incremental ingest straight off the crawl's wire format: wave 1
    of .warc.gz archives is extracted, then wave 2 ARRIVES and only the
    new files are processed (checkpoint); final output is golden
    byte-identical to the sequential run over all pages."""
    from doc_ocr_spark.streaming import start_incremental_extraction

    pages = generate_pages(40, seed=42)
    indir = tmp_path / "in"
    write_warc_files(pages[:20], str(indir), n_files=2, compress=True)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_incremental_extraction(
        spark, str(indir), out, ckpt,
        n_buckets=4, max_files_per_trigger=1, source_format="warc",
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 20
    # wave 2 lands in the SAME watched dir (plain .warc this time; the
    # file stream source does not recurse into subdirectories)
    write_warc_files(
        pages[20:], str(indir), n_files=2, compress=False, prefix="wave2"
    )
    q2 = start_incremental_extraction(
        spark, str(indir), out, ckpt,
        n_buckets=4, max_files_per_trigger=1, source_format="warc",
    )
    q2.awaitTermination(120)
    rows = [
        r.asDict(recursive=True)
        for r in spark.read.parquet(out)
        .drop("part_bucket", "bytes_in", "extractor_version", "batch_id")
        .collect()
    ]
    assert compare_to_golden(rows, golden_rows(40, seed=42)) == []


def test_http_content_encoding_gzip_payload():
    """Real crawls carry gzip Content-Encoding payloads; chunked
    transfer-encoding wraps OUTSIDE content-encoding and is undone
    first.  An advertised-but-raw body stays raw (tolerant)."""
    plain = b"<html>compressed page</html>"
    gz = gzip.compress(plain, mtime=0)
    rec = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz
    assert http_payload(rec) == plain
    # chunked OUTSIDE gzip
    chunked = (
        f"{len(gz):x}".encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    )
    rec2 = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked
    )
    assert http_payload(rec2) == plain
    # advertised but not actually gzipped -> raw bytes, no crash
    rec3 = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gz"
    assert http_payload(rec3) == b"not gz"


def test_read_warc_one_file_per_task(spark, warc_dir):
    """Round 6 (VERDICT r05 item 2): the file list is range-partitioned
    on its unique sorted path (``repartitionByRange``), so every task
    holds EXACTLY one archive — the hash-on-path form left ~1/e of
    tasks empty and stacked 2+ files on others exactly when file count
    ~ core count."""
    from pyspark.sql import functions as F

    d, _ = warc_dir
    from doc_ocr_spark.sources.warc import list_warc_files

    files = list_warc_files(spark, d)
    assert len(files) == 4
    out = read_warc(spark, d)
    assert out.rdd.getNumPartitions() == len(files)
    per_part = (
        out.select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .count()
        .collect()
    )
    # every task holds exactly one archive -> every partition produces
    # exactly that file's N_DOCS/4 pages, none empty, none doubled
    assert len(per_part) == len(files)
    assert sorted(r["count"] for r in per_part) == [N_DOCS // 4] * len(files)


def test_open_stream_uncompressed_has_readline(tmp_path):
    """ADVICE r05 (medium): _open_stream must return a readline-capable
    stream for UNCOMPRESSED archives from any source — pyarrow
    NativeFile lacks readline, so the non-gz branch wraps too."""
    from doc_ocr_spark.datagen import generate_pages
    from doc_ocr_spark.sources.warc import _open_stream, write_warc_files

    pages = generate_pages(4, seed=1)
    write_warc_files(pages, str(tmp_path), n_files=1, compress=False)
    path = next(p for p in tmp_path.iterdir() if p.suffix == ".warc")

    # pyarrow local filesystem URI exercises the NativeFile branch
    with _open_stream("file://" + str(path)) as f:
        assert hasattr(f, "readline")
        got = list(iter_warc_pages(f))
    assert len(got) == 4
