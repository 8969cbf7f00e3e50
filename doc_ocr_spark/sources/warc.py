"""WARC source (ISO 28500): read Common-Crawl-style archives straight
into the pages schema — the wire format the north-star corpus actually
ships in, parsed from scratch (public spec; no external libs).

Record grammar (WARC/1.0 and 1.1)::

    WARC/1.0<CRLF>
    WARC-Type: response<CRLF>
    WARC-Target-URI: https://...<CRLF>
    WARC-Date: 2024-01-01T00:00:00Z<CRLF>
    Content-Length: N<CRLF>
    <CRLF>
    <N bytes: HTTP response head + CRLF CRLF + payload>
    <CRLF><CRLF>

``*.warc.gz`` files are per-record gzip MEMBERS concatenated (the
spec's recommended layout, and Common Crawl's actual one); Python's
``gzip`` streams concatenated members transparently.

Scale shape: one task per FILE.  Common Crawl's layout is ~1 GB x tens
of thousands of files per crawl, so file granularity IS the natural
parallelism — no splitting a gzip stream (impossible without a
member index) and no driver-side reading.  Only file PATHS are
distributed; each task streams its file record-by-record through
``mapInPandas`` (constant memory per record, never whole-file), so a
1000-executor cluster reads a crawl with zero shuffles before the
extraction kernel.  Non-local paths (hdfs://, s3a://) resolve through
pyarrow's filesystem layer, same as job.py's lineage reader.

Reference tie-in: lifts doc-ocr's single source operator S1
(app/api/routes/invoice.py:13-51, one multipart file per request) to
the archival wire format; the HTTP-header strip plays the role of its
content-type gate.
"""

from __future__ import annotations

import gzip
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from doc_ocr_spark.sources.corpus import PAGES_SCHEMA


# --------------------------------------------------------------------------
# record-level parsing (pure functions, unit-testable without Spark)


def _read_header_block(stream) -> dict[bytes, bytes] | None:
    """Read one WARC header block (version line + named fields) from
    ``stream``; None at EOF.  Tolerates LF-only line ends and the
    blank separator lines between records."""
    line = stream.readline()
    while line in (b"\r\n", b"\n"):  # inter-record separators
        line = stream.readline()
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise ValueError(f"not a WARC record header: {line[:40]!r}")
    headers: dict[bytes, bytes] = {b"@version": line.strip()}
    while True:
        h = stream.readline()
        if h in (b"\r\n", b"\n"):
            return headers
        if not h:
            raise ValueError("truncated WARC header block")
        key, sep, val = h.partition(b":")
        if not sep:
            raise ValueError(f"malformed WARC header line: {h[:40]!r}")
        headers[key.strip().lower()] = val.strip()


def iter_warc_records(stream):
    """Yield ``(headers, block)`` for every record in a WARC stream
    (headers lower-cased bytes -> bytes; block is the raw record
    content, exactly Content-Length bytes)."""
    while True:
        headers = _read_header_block(stream)
        if headers is None:
            return
        try:
            n = int(headers[b"content-length"])
        except KeyError:
            raise ValueError("WARC record without Content-Length") from None
        block = stream.read(n)
        if len(block) != n:
            raise ValueError(
                f"truncated WARC block: wanted {n} bytes, got {len(block)}"
            )
        yield headers, block


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body."""
    out = []
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("truncated chunked body (no size line)")
        size_token = body[pos:nl].split(b";", 1)[0].strip()
        size = int(size_token, 16)
        pos = nl + 2
        if size == 0:
            return b"".join(out)
        chunk = body[pos : pos + size]
        if len(chunk) != size:
            raise ValueError("truncated chunk")
        out.append(chunk)
        pos += size + 2  # skip the chunk's trailing CRLF


def http_payload(block: bytes) -> bytes:
    """Strip the HTTP response head from a WARC response block, undoing
    chunked transfer-encoding and gzip Content-Encoding when the head
    advertises them (both appear in real crawls; transfer-encoding is
    outermost, so it is undone first).  Blocks that do not start with
    an HTTP status line (resource/conversion records) pass through
    whole."""
    if not block.startswith(b"HTTP/"):
        return block
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        head, sep, body = block.partition(b"\n\n")
        if not sep:
            return b""  # headers only, no payload
    low = head.lower()
    if b"chunked" in low.partition(b"transfer-encoding")[2][:200]:
        body = _dechunk(body)
    if b"gzip" in low.partition(b"content-encoding")[2][:200]:
        try:
            body = gzip.decompress(body)
        except OSError:
            pass  # advertised but not actually gzipped: keep raw bytes
    return body


def _parse_warc_date(raw: bytes) -> datetime | None:
    """WARC-Date (ISO 8601, UTC 'Z') -> tz-naive UTC datetime, matching
    the corpus's parquet timestamp convention."""
    if not raw:
        return None
    ts = datetime.fromisoformat(raw.decode().replace("Z", "+00:00"))
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def iter_warc_pages(stream):
    """Yield ``(url, warc_ts, html_bytes)`` for every RESPONSE record;
    request/metadata/warcinfo records are skipped."""
    for headers, block in iter_warc_records(stream):
        if headers.get(b"warc-type") != b"response":
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8")
        ts = _parse_warc_date(headers.get(b"warc-date", b""))
        yield url, ts, http_payload(block)


# --------------------------------------------------------------------------
# Spark reader


def _open_stream(path: str):
    """Open ``path`` (local, file:, or any pyarrow-resolvable URI) as a
    binary stream, transparently gunzipping ``*.gz``."""
    if path.startswith("file:"):
        path = path[5:]
    if "://" in path:
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        raw = filesystem.open_input_stream(p)
    else:
        raw = open(path, "rb")
    import io

    if path.endswith(".gz"):
        # BufferedReader gives C-level readline over the gzip stream —
        # measured +3.6% whole-job on the 60k-doc extraction A/B
        return io.BufferedReader(gzip.GzipFile(fileobj=raw), 1 << 20)
    if not isinstance(raw, io.BufferedIOBase):
        # pyarrow's NativeFile supports readinto but not readline
        # (ADVICE r05: remote UNCOMPRESSED .warc crashed in
        # _read_header_block); BufferedReader supplies readline for any
        # raw stream
        return io.BufferedReader(raw, 1 << 20)
    return raw


def list_warc_files(spark: SparkSession, input_dir: str) -> list[str]:
    """All ``*.warc`` / ``*.warc.gz`` files under ``input_dir`` (any
    Hadoop-supported filesystem), sorted for determinism."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(input_dir)
    fs = path.getFileSystem(conf)
    if not fs.exists(path):
        return []
    out = []
    it = fs.listFiles(path, True)
    while it.hasNext():
        p = it.next().getPath().toString()
        if p.endswith(".warc") or p.endswith(".warc.gz"):
            out.append(p)
    return sorted(out)


def read_warc(spark: SparkSession, input_dir: str) -> DataFrame:
    """Read a directory of WARC files into the pages schema
    ``(url, warc_ts, html, text, lang)`` — text/lang NULL (they are
    extraction OUTPUTS).  One task per file; records stream through
    Arrow batches, never a whole file in memory."""
    import pandas as pd

    files = list_warc_files(spark, input_dir)
    if not files:
        return spark.createDataFrame([], PAGES_SCHEMA)
    # range-partition on the (unique, sorted) path = exactly one file
    # per task (ADVICE r05 / VERDICT item 2: hash-partitioning on path
    # left ~1/e of tasks empty and stacked 2+ archives on others
    # exactly when file count ~ core count; round-robin's randomized
    # per-partition start offset stacks files too).  Exactly one file
    # per task holds while the range sampler sees every path, which then
    # becomes its own bound: each input slice is sampled whole up to
    # 3 x min(100 x files, 1e6) / slices keys (the default
    # spark.sql.execution.rangeExchange.sampleSizePerPartition is 100),
    # and the local list is sliced evenly, so up to ~3 million files.
    fdf = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartitionByRange(len(files), "path")

    def gen(batches):
        for pdf in batches:
            for path in pdf["path"]:
                rows = []
                with _open_stream(path) as f:
                    for url, ts, html in iter_warc_pages(f):
                        rows.append((url, ts, html, None, None))
                        if len(rows) >= 1000:  # bound Arrow batch memory
                            yield pd.DataFrame(
                                rows, columns=["url", "warc_ts", "html", "text", "lang"]
                            )
                            rows = []
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["url", "warc_ts", "html", "text", "lang"]
                    )

    return fdf.mapInPandas(gen, PAGES_SCHEMA)


# --------------------------------------------------------------------------
# writer (deterministic; used by tests and as the corpus exporter)


def encode_warc_record(url: str, warc_ts, html: bytes) -> bytes:
    """One WARC/1.0 response record wrapping ``html`` in a minimal
    HTTP/1.1 200 response.  Record id is a deterministic UUID-shaped
    digest of the url (reproducible corpora; no global state)."""
    import hashlib

    h = hashlib.md5(url.encode("utf-8")).hexdigest()
    rid = f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    date = warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ") if warc_ts else "1970-01-01T00:00:00Z"
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        + f"Content-Length: {len(html)}\r\n\r\n".encode()
        + html
    )
    head = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: {rid}\r\n".encode()
        + f"WARC-Date: {date}\r\n".encode()
        + f"WARC-Target-URI: {url}\r\n".encode()
        + b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(http)}\r\n".encode()
        + b"\r\n"
    )
    return head + http + b"\r\n\r\n"


def write_warc_files(
    pages: list[dict],
    out_dir: str,
    n_files: int = 3,
    compress: bool = True,
    prefix: str = "part",
) -> list[str]:
    """Write ``pages`` (dicts with url/warc_ts/html) round-robin across
    ``n_files`` WARC files; per-record gzip members when ``compress``
    (the spec's and Common Crawl's layout).  Returns the file paths.
    ``prefix`` names the files (distinct waves can land in one dir)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    suffix = ".warc.gz" if compress else ".warc"
    paths = [
        os.path.join(out_dir, f"{prefix}-{k:03d}{suffix}") for k in range(n_files)
    ]
    handles = [open(p, "wb") for p in paths]
    try:
        for i, page in enumerate(pages):
            rec = encode_warc_record(page["url"], page["warc_ts"], page["html"])
            if compress:
                rec = gzip.compress(rec, mtime=0)  # deterministic member
            handles[i % n_files].write(rec)
    finally:
        for h in handles:
            h.close()
    return paths
