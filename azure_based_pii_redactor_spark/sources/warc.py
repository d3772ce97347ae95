"""Pure-stdlib WARC ingestion: the Common-Crawl-shaped source in front of
the pages pipeline (BASELINE.json input_hint: "Common-Crawl-style web
pages").

WARC/1.0 (ISO 28500) is a plain record format: a version line, CRLF
header lines, a blank line, ``Content-Length`` payload bytes, and a
CRLF CRLF record separator.  Common Crawl ships ``.warc.gz`` files
where EVERY record is its own gzip member (so byte-range fetches can
decompress one record); stdlib ``zlib`` decodes concatenated members.

``response`` records carry a full HTTP response as payload -- status
line + headers + body; the page html is the body after the first blank
line.  ``conversion`` records carry the payload directly.

Scale design: each ``.warc.gz`` file decodes inside ONE Arrow-batched
``mapInPandas`` task over a ``binaryFile`` scan -- Common Crawl files
are ~1 GB and self-contained, so file-level parallelism is the natural
unit (100 TB = ~100k files spread across executors); no shuffle.  The
output is PAGES_SCHEMA, so ``run_scrub_pipeline`` consumes it
unchanged (text/lang arrive NULL and are filled by extraction +
langid).
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..engine.schema import PAGES_SCHEMA

_CRLF = b"\r\n"


def _gunzip_members(blob: bytes) -> bytes:
    """Decompress ALL concatenated gzip members (the Common-Crawl
    per-record layout); plain (non-gzip) input passes through.  A
    corrupted or truncated member stops decoding and keeps every record
    decoded so far -- one bad member must not fail the Spark task."""
    if blob[:2] != b"\x1f\x8b":
        return blob
    out = []
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            out.append(d.decompress(blob[pos:]))
        except zlib.error:
            break  # corrupt member: keep the prefix that decoded
        if not d.eof:  # truncated trailing member: keep what decoded
            break
        pos = len(blob) - len(d.unused_data)
    return b"".join(out)


def _http_body(payload: bytes) -> bytes:
    """Body of an HTTP response payload (after the first blank line);
    payloads that do not look like HTTP pass through unchanged."""
    if not payload.startswith(b"HTTP/"):
        return payload
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return payload
    return payload[sep + 4 :]


def parse_warc(blob: bytes) -> list[dict]:
    """Decode one WARC (or .warc.gz) file's bytes into page dicts:
    ``{url, warc_ts, html}`` for every response/conversion record with a
    target URI.  warcinfo/request/metadata records are skipped (they
    describe the crawl, not pages)."""
    data = _gunzip_members(bytes(blob))
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        header_end = data.find(b"\r\n\r\n", pos)
        if header_end < 0:
            break  # truncated trailing record
        header_lines = data[pos:header_end].split(_CRLF)
        if not header_lines[0].startswith(b"WARC/"):
            break  # desynchronized: stop rather than emit garbage
        headers: dict[str, str] = {}
        for line in header_lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            break  # corrupted length: payload boundary unknowable -- stop
        if length < 0:
            break
        payload = data[header_end + 4 : header_end + 4 + length]
        pos = header_end + 4 + length
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        if rtype in ("response", "conversion") and url:
            ts = None
            raw_ts = headers.get("warc-date")
            if raw_ts:
                try:
                    parsed = datetime.fromisoformat(
                        raw_ts.replace("Z", "+00:00")
                    )
                    if parsed.tzinfo is None:
                        # WARC-Date is UTC by spec; a naive value must
                        # NOT be interpreted as host-local time (that
                        # would shift warc_ts per machine TZ)
                        parsed = parsed.replace(tzinfo=timezone.utc)
                    ts = parsed.astimezone(timezone.utc).replace(tzinfo=None)
                except ValueError:
                    ts = None  # malformed date: keep the page, null the ts
            body = _http_body(payload) if rtype == "response" else payload
            records.append(
                {"url": url, "warc_ts": ts, "html": body, "rtype": rtype}
            )
    return records


def _scan_records(spark: SparkSession, path: str, to_row) -> DataFrame:
    """The shared binaryFile -> parse_warc -> PAGES_SCHEMA scan scaffold
    behind ``read_warc`` and ``read_wet``: ``to_row`` maps a parsed
    record dict to a (url, warc_ts, html, text, lang) tuple or None to
    skip it.  ONE place owns the scan/batch/empty-frame handling."""
    import pandas as pd

    # project to the one column the decoder reads BEFORE the Python
    # boundary: mapInPandas is opaque to column pruning, and binaryFile
    # rows otherwise carry path/modificationTime/length across Arrow
    # for nothing (guide 4.1)
    binary = spark.read.format("binaryFile").load(path).select("content")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for r in parse_warc(blob):
                    row = to_row(r)
                    if row is not None:
                        rows.append(row)
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return binary.mapInPandas(decode, schema=PAGES_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan -> PAGES_SCHEMA frame (text/lang NULL --
    the pipeline's extraction and langid stages fill them)."""
    return _scan_records(
        spark, path,
        lambda r: (r["url"], r["warc_ts"], r["html"], None, None),
    )


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WET scan (Common Crawl's plain-text sibling of WARC:
    ``conversion`` records whose payload IS the extracted text).  The
    payload lands tolerantly decoded in the TEXT column with html NULL,
    so the pipeline's extraction stage passes it through untouched and
    goes straight to langid/quality/scrub -- feeding WET payloads
    through ``read_warc`` instead would put plain text in the html
    column and run an HTML extraction over it (mangling literal ``<``
    and ``&``).  Non-conversion records (a warcinfo header, stray
    response records in a mixed stream) are skipped.  Same scan shape
    as ``read_warc``: one file per task, gzip members are not a
    parallelism unit -- size ``spark.sql.files.maxPartitionBytes``
    per-corpus as bench.py does."""
    def to_row(r):
        if r["rtype"] != "conversion":
            return None
        return (
            r["url"],
            r["warc_ts"],
            None,
            r["html"].decode("utf-8", errors="replace"),
            None,
        )

    return _scan_records(spark, path, to_row)


# -- fixture writer (tests + local smoke; also documents the format) -------

def encode_warc(
    pages: list[dict], gzip_members: bool = True, http_wrap: bool = False,
    record_type: str = "response",
) -> bytes:
    """Encode ``{url, warc_ts, html}`` dicts as a WARC file: one
    ``record_type`` record per page, each its own gzip member when
    ``gzip_members`` (the Common-Crawl layout).  ``http_wrap`` nests the
    html inside an HTTP response payload as real crawls do
    (``response`` records only); ``record_type="conversion"`` writes
    the WET layout (payload = extracted plain text, no HTTP envelope)."""
    if record_type == "conversion" and http_wrap:
        raise ValueError("WET conversion records carry no HTTP envelope")
    import gzip

    out = []
    for p in pages:
        body = p["html"] or b""
        if http_wrap:
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
            )
        ts = p.get("warc_ts")
        ts_line = (
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n".encode()
            if ts is not None
            else b""
        )
        rec = (
            b"WARC/1.0\r\n"
            + f"WARC-Type: {record_type}\r\n".encode()
            + f"WARC-Target-URI: {p['url']}\r\n".encode()
            + ts_line
            + f"Content-Length: {len(body)}\r\n".encode()
            + b"\r\n"
            + body
            + b"\r\n\r\n"
        )
        out.append(gzip.compress(rec, mtime=0) if gzip_members else rec)
    return b"".join(out)


def _write_corpus(
    spark: SparkSession, path: str, n_rows: int, seed: int, files: int,
    payload_col: str, suffix: str, **encode_kw,
) -> int:
    """The shared body of ``write_warc_corpus`` and ``write_wet_corpus``:
    generate the deterministic pages corpus over ``files`` partitions;
    each partition encodes its rows' ``payload_col`` (cast to bytes, so
    a string column lands UTF-8 encoded) as record payloads
    (``encode_warc(**encode_kw)``) into ONE ``part-NNNNN<suffix>`` file
    -- the one-file-per-task granularity the readers scan back, so
    generation is distributed and the file count, the unit of scan
    parallelism, is explicit.  Returns the page count."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from .pages import generate_pages

    os.makedirs(path, exist_ok=True)
    pages = generate_pages(spark, n_rows, seed, parts=files).select(
        "url", "warc_ts", F.col(payload_col).cast("binary").alias("payload")
    )

    def write_part(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = []
        for pdf in batches:
            for url, ts, body in zip(
                pdf["url"], pdf["warc_ts"], pdf["payload"]
            ):
                rows.append(
                    {
                        "url": url,
                        # pandas delivers null timestamps as NaT, not
                        # None -- pd.isna catches both
                        "warc_ts": None if pd.isna(ts)
                        else ts.to_pydatetime(),
                        "html": b"" if body is None else bytes(body),
                    }
                )
        blob = encode_warc(rows, gzip_members=True, **encode_kw)
        with open(os.path.join(path, f"part-{pid:05d}{suffix}"), "wb") as f:
            f.write(blob)
        yield pd.DataFrame({"n": [len(rows)]})

    return int(
        pages.mapInPandas(write_part, schema="n long")
        .agg(F.sum("n"))
        .first()[0]
    )


def write_warc_corpus(
    spark: SparkSession,
    path: str,
    n_rows: int,
    seed: int = 42,
    files: int = 256,
    http_wrap: bool = True,
) -> int:
    """Materialize a deterministic pages corpus as ``files`` Common-
    Crawl-layout ``.warc.gz`` files (one gzip member per record, html
    nested in an HTTP response payload) -- the bench/test fixture for
    the WARC front door.  Returns the page count."""
    return _write_corpus(
        spark, path, n_rows, seed, files, "html", ".warc.gz",
        http_wrap=http_wrap,
    )


def write_wet_corpus(
    spark: SparkSession,
    path: str,
    n_rows: int,
    seed: int = 42,
    files: int = 256,
) -> int:
    """The WET sibling of ``write_warc_corpus``: the same deterministic
    pages corpus as ``files`` ``.wet.gz`` files of ``conversion``
    records whose payload is each page's extracted plain TEXT (no HTTP
    envelope) -- the layout most Common-Crawl text pipelines actually
    ingest, and the fixture behind the ``wet_scan`` bench entry."""
    return _write_corpus(
        spark, path, n_rows, seed, files, "text", ".wet.gz",
        record_type="conversion",
    )
