"""WARC source: Common-Crawl's native archive format -> pages rows.

A WARC file is a sequence of records: a ``WARC/1.0`` header block
(CRLF-terminated header lines), CRLF CRLF, then ``Content-Length`` bytes of
payload, then CRLF CRLF.  For ``response`` records the payload is an HTTP
response (status line + headers + body); the page bytes are the HTTP body.

Parsing is a pure function (`iter_warc_records`) run inside an
Arrow-batched UDF over ``binaryFile`` rows — one WARC file per row, split
into page rows executor-side, so a directory of .warc files fans out
across the cluster with no driver involvement.  (Gzip member-per-record
.warc.gz is handled when the whole file is gzip-concatenated, the common
Common-Crawl layout.)

This source exists so a crawl archive can feed ``extract_pages`` without
a separate conversion job; schema matches FIXTURES.md §1.

WET — Common Crawl's pre-extracted-text distribution — shares the record
framing (``iter_wet_records``/``read_wet``): ``conversion`` records whose
payload is plain text, no HTTP envelope.  WET rows arrive with ``text``
populated and ``html`` NULL, skipping extraction and feeding the curation
stages directly.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from ..corpus import PAGES_DDL
from ..session import drop_zip_finders

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

_CRLF = b"\r\n"


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    headers: dict[bytes, bytes] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
    return headers


# Plausibility cap on a single declared chunk size.  Real origin servers
# emit chunks of at most a few MB; a pre-decoded archived body whose first
# line happens to parse as hex (e.g. text starting "deadbeef\r\n" =
# 0xdeadbeef ~ 3.7 GB) would otherwise be silently re-sliced into garbage
# by the truncation-tolerant prefix path.
_MAX_CHUNK = 1 << 24  # 16 MiB


def _decode_chunked(body: bytes) -> bytes | None:
    """HTTP/1.1 chunked transfer-encoding decode, truncation-tolerant.

    Returns the de-chunked bytes; a body truncated mid-chunk yields the
    decoded prefix (bounded data loss, never an exception); a body whose
    first size line isn't hex — or declares an implausibly large
    (> ``_MAX_CHUNK``) or negative size — returns None so the caller can
    keep the raw bytes (some archived responses carry the header but a
    pre-decoded body).  Trailer headers after the 0-chunk are ignored.
    """
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol == -1:
            return None if pos == 0 else bytes(out)
        size_token = body[pos:eol].split(b";")[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return None if pos == 0 else bytes(out)
        if size < 0 or size > _MAX_CHUNK:
            # int(b'-6', 16) parses: a negative "size" would walk pos
            # BACKWARDS and loop forever appending the body tail; an
            # implausibly large size is the pre-decoded-body false
            # positive — treat both like the non-hex case
            return None if pos == 0 else bytes(out)
        pos = eol + 2
        if size == 0:
            return bytes(out)
        out += body[pos : pos + size]
        if len(body) < pos + size + 2:
            return bytes(out)  # truncated mid-chunk: keep the prefix
        pos += size + 2  # skip the chunk's trailing CRLF


def _gunzip_best_effort(data: bytes) -> bytes:
    """Multi-member gzip decode that survives a truncated final member.

    Real Common-Crawl .warc.gz files are member-per-record concatenations;
    an interrupted fetch leaves the last member truncated.  ``gzip.read``
    raises EOFError there — a task failure poisoning the whole file — so
    decode member-by-member with zlib and keep every byte that decodes
    (the truncated tail becomes at most one short/absent record, which
    downstream extraction turns into a bounded error row).
    """
    import zlib

    out = bytearray()
    pos = 0
    while pos < len(data) and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data[pos:])
        except zlib.error:
            break
        if not d.eof:
            break  # truncated member: keep its decoded prefix
        pos = len(data) - len(d.unused_data)
    return bytes(out)


def _inflate_best_effort(data: bytes) -> bytes | None:
    """``Content-Encoding: deflate`` decode, both wire variants.

    RFC 9110 says deflate == zlib-wrapped, but many origin servers send a
    RAW deflate stream under the same token; real crawls carry both.  Try
    the zlib wrapper first (its 2-byte header check rejects raw streams
    fast), then raw.  Truncated input yields the decoded prefix
    (``decompressobj`` only raises on corrupt data, not on missing tail);
    undecodable input returns None so the caller keeps the raw bytes.
    """
    import zlib

    for wbits in (15, -15):  # zlib-wrapped, then raw deflate
        d = zlib.decompressobj(wbits=wbits)
        try:
            out = d.decompress(data)
        except zlib.error:
            continue
        if out:
            return out
    return None


# Bounded stand-in body for content codings this container cannot decode
# (brotli has no stdlib codec).  Short of 50 chars on purpose: the page
# routes through the classifier's no-extractable-text path into a
# deterministic error row, and the marker stays greppable in the html
# column so downstream can count/route these urls.
_UNSUPPORTED_CODING_BODY = b"[unsupported content-encoding: %s]"


def _iter_raw_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, payload) for every record in a WARC/WET/WAT
    stream — the shared framing walk: ``WARC/x.y`` header block, CRLF CRLF,
    ``Content-Length`` payload bytes.  Gzip archives (single- or
    multi-member, the Common-Crawl layout) decompress up front,
    truncation-tolerantly."""
    if data[:2] == b"\x1f\x8b":  # gzip (possibly multi-member) archive
        data = _gunzip_best_effort(data)
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start == -1:
            break
        head_end = data.find(_CRLF + _CRLF, start)
        if head_end == -1:
            break
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get(b"content-length", b"0"))
        except ValueError:
            length = 0
        body_start = head_end + 4
        payload = data[body_start : body_start + length]
        pos = body_start + length
        yield headers, payload


def _record_identity(headers: dict) -> tuple[str, datetime | None]:
    url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
    ts_raw = headers.get(b"warc-date", b"").decode("ascii", "replace")
    try:
        ts = datetime.fromisoformat(ts_raw.replace("Z", "+00:00")).replace(
            tzinfo=None
        )
    except ValueError:
        ts = None
    return url, ts


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Yield {'url', 'warc_ts', 'body'} for each response record.

    The HTTP envelope is genuinely parsed: ``Transfer-Encoding: chunked``
    bodies are de-chunked, then ``Content-Encoding`` is honored (transfer
    coding wraps content coding): gzip and deflate (zlib-wrapped or raw)
    decompress truncation-tolerantly; brotli (``br``) has no stdlib codec,
    so those bodies become a bounded tagged marker instead of compressed
    bytes masquerading as html.
    """
    for headers, payload in _iter_raw_records(data):
        if headers.get(b"warc-type") != b"response":
            continue
        url, ts = _record_identity(headers)
        # strip the HTTP response envelope if present, honoring its
        # transfer/content codings
        body = payload
        if payload[:5] == b"HTTP/":
            sep = payload.find(_CRLF + _CRLF)
            if sep != -1:
                http_headers = _parse_headers(payload[:sep])
                body = payload[sep + 4 :]
                if b"chunked" in http_headers.get(b"transfer-encoding", b"").lower():
                    dechunked = _decode_chunked(body)
                    if dechunked is not None:
                        body = dechunked
                enc = http_headers.get(b"content-encoding", b"").strip().lower()
                if enc in (b"gzip", b"x-gzip") and body[:2] == b"\x1f\x8b":
                    body = _gunzip_best_effort(body)
                elif enc == b"deflate":
                    inflated = _inflate_best_effort(body)
                    if inflated is not None:
                        body = inflated
                elif enc in (b"br", b"brotli", b"zstd") and body:
                    body = _UNSUPPORTED_CODING_BODY % enc
        yield {"url": url, "warc_ts": ts, "body": body}


def write_warc(records: list[dict]) -> bytes:
    """Serialize {'url','warc_ts','body'} dicts to WARC bytes (tests/demos)."""
    out = bytearray()
    for r in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + r["body"]
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + r["url"].encode() + _CRLF
            + b"WARC-Date: " + ts.encode() + _CRLF
            + b"Content-Length: " + str(len(http)).encode() + _CRLF
        )
        out += head + _CRLF + http + _CRLF + _CRLF
    return bytes(out)


def read_warc(spark: SparkSession, path: str, pattern: str = "*.warc*") -> DataFrame:
    """Directory of WARC files -> pages(url, warc_ts, html, text, lang)."""
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)
    )

    def split_records(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            drop_zip_finders()
            rows = []
            for content in pdf["content"]:
                for rec in iter_warc_records(bytes(content)):
                    rows.append(
                        (rec["url"], rec["warc_ts"], rec["body"], "", "und")
                    )
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.select("content").mapInPandas(split_records, PAGES_DDL)


def iter_wet_records(data: bytes) -> Iterator[dict]:
    """Yield {'url', 'warc_ts', 'text'} for each ``conversion`` record.

    WET is Common Crawl's pre-extracted-text sibling of WARC: the same
    record framing, but ``WARC-Type: conversion`` records whose payload
    is the extracted plain text directly — no HTTP envelope, no transfer
    or content codings.  The leading ``warcinfo`` record (and any other
    non-conversion type) is skipped by the type gate.
    """
    for headers, payload in _iter_raw_records(data):
        if headers.get(b"warc-type") != b"conversion":
            continue
        url, ts = _record_identity(headers)
        yield {
            "url": url,
            "warc_ts": ts,
            "text": payload.decode("utf-8", "replace"),
        }


def write_wet(records: list[dict]) -> bytes:
    """Serialize {'url','warc_ts','text'} dicts to WET bytes (tests/demos)."""
    out = bytearray()
    for r in records:
        body = r["text"].encode("utf-8")
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: conversion\r\n"
            b"Content-Type: text/plain\r\n"
            + b"WARC-Target-URI: " + r["url"].encode() + _CRLF
            + b"WARC-Date: " + ts.encode() + _CRLF
            + b"Content-Length: " + str(len(body)).encode() + _CRLF
        )
        out += head + _CRLF + body + _CRLF + _CRLF
    return bytes(out)


def read_wet(spark: SparkSession, path: str, pattern: str = "*.wet*") -> DataFrame:
    """Directory of WET files -> pages(url, warc_ts, html, text, lang).

    Rows arrive with ``text`` already populated and ``html`` NULL — the
    extraction stage is upstream (Common Crawl already ran it), so these
    pages feed the curation stages (quality, dedup, mix) directly.  Same
    executor-side fan-out as :func:`read_warc`: one WET file per
    ``binaryFile`` row, split into page rows inside an Arrow batch.
    """
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)
    )

    def split_records(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            drop_zip_finders()
            rows = []
            for content in pdf["content"]:
                for rec in iter_wet_records(bytes(content)):
                    rows.append((rec["url"], rec["warc_ts"], None, rec["text"], "und"))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return files.select("content").mapInPandas(split_records, PAGES_DDL)


_WAT_LINKS_DDL = (
    "url string, warc_ts timestamp, target string, anchor string"
)


def iter_wat_records(data: bytes) -> Iterator[dict]:
    """Yield {'url', 'warc_ts', 'links': [(target, anchor), ...]} per
    ``metadata`` record.

    WAT is Common Crawl's per-page metadata sibling of WARC: the same
    record framing carrying a JSON envelope; outgoing links live at
    Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links
    as ``{path, url, text?}`` objects.  Only href anchors (``path``
    starting ``A@/``) count as links here — script/img/css references are
    not hyperlink edges.  Undecodable JSON yields a bounded empty-links
    row (the page stays visible to graph accounting), never an exception.
    """
    import json

    for headers, payload in _iter_raw_records(data):
        if headers.get(b"warc-type") != b"metadata":
            continue
        url, ts = _record_identity(headers)
        links: list[tuple[str, str]] = []
        try:
            env = json.loads(payload.decode("utf-8", "replace"))
            raw = (
                env.get("Envelope", {})
                .get("Payload-Metadata", {})
                .get("HTTP-Response-Metadata", {})
                .get("HTML-Metadata", {})
                .get("Links", [])
            )
            for lk in raw:
                if not isinstance(lk, dict):
                    continue
                if not str(lk.get("path", "")).startswith("A@/"):
                    continue
                target = lk.get("url")
                if target:
                    links.append((str(target), str(lk.get("text", ""))))
        except (ValueError, AttributeError):
            pass  # malformed envelope -> page row with zero links
        yield {"url": url, "warc_ts": ts, "links": links}


def write_wat(records: list[dict]) -> bytes:
    """Serialize {'url','warc_ts','links':[(target,anchor),...]} dicts to
    WAT bytes (tests/demos)."""
    import json

    out = bytearray()
    for r in records:
        env = {
            "Envelope": {
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {
                            "Links": [
                                {"path": "A@/href", "url": t, "text": a}
                                for t, a in r["links"]
                            ]
                        }
                    }
                }
            }
        }
        body = json.dumps(env).encode("utf-8")
        ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n"
            b"Content-Type: application/json\r\n"
            + b"WARC-Target-URI: " + r["url"].encode() + _CRLF
            + b"WARC-Date: " + ts.encode() + _CRLF
            + b"Content-Length: " + str(len(body)).encode() + _CRLF
        )
        out += head + _CRLF + body + _CRLF + _CRLF
    return bytes(out)


def read_wat(spark: SparkSession, path: str, pattern: str = "*.wat*") -> DataFrame:
    """Directory of WAT files -> link edges (url, warc_ts, target, anchor).

    One row per outgoing href — the input for host-graph construction
    (``functions/webgraph.py``) and anchor-text aggregation without
    re-parsing page HTML.  Same executor-side fan-out as
    :func:`read_warc`; the explode happens inside the Arrow batch.
    """
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)
    )

    def split_records(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            drop_zip_finders()
            rows = []
            for content in pdf["content"]:
                for rec in iter_wat_records(bytes(content)):
                    for target, anchor in rec["links"]:
                        rows.append((rec["url"], rec["warc_ts"], target, anchor))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "target", "anchor"]
            )

    return files.select("content").mapInPandas(split_records, _WAT_LINKS_DDL)
