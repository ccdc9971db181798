"""Minimal WARC reader (ISO 28500; WARC/1.0-1.1) — web-archive ingestion.

Web-scale corpora arrive as WARC containers (Common Crawl's format), not as
per-document files: each ``.warc``/``.warc.gz`` blob holds many records,
and ``response`` records carry the HTTP exchanges whose bodies are the
documents.  The reference has no web source at all (it walks a directory
of PDFs, v10.R:3716); this module is the container half of the north
star's "HTML fragments" input path — bodies flow into the SAME kernel
span kinds the rest of the engine consumes (``html``/``text`` spans,
``media`` placeholders), so boilerplate strip / extraction / the whole
query surface work unchanged on archived web content.

Format essentials implemented (the public spec, nothing more):

* record = version line (``WARC/1.0`` or ``WARC/1.1``), CRLF header lines
  until an empty line, ``Content-Length`` octets of payload, CRLF CRLF;
* ``.warc.gz`` = one gzip MEMBER per record, concatenated — decoded by
  looping ``zlib.decompressobj(wbits=31)`` over the stream (the layout
  that makes per-record random access possible at scale);
* ``response`` records: payload is an HTTP/1.x response — status line +
  headers split at the first CRLFCRLF, body after; ``Content-Type``
  routes the body (text/html -> ``html`` span, text/* -> ``text`` span,
  image/audio/video/* -> one ``media`` span with the target URI as
  ``media_ref``); everything else is skipped like ``warcinfo`` /
  ``request`` / ``metadata`` records;
* ``conversion`` records with a text/* type are taken as extracted text.

Totality contract (same as the PDF decoder): malformed input raises
``UnsupportedWarcError`` — never an IndexError/UnicodeDecodeError out of
an Arrow batch.  Fault isolation is per RECORD (one bad HTTP payload ->
one parse-failure doc, the rest of the archive still extracts); only a
blob whose framing itself is broken collapses to a single failure doc,
keyed by the file path.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schema import DOCS
from ..shipping import map_batches

_MAX_BLOB = 1 << 28           # 256 MiB decompressed ceiling per blob
_CRLF2 = b"\r\n\r\n"


class UnsupportedWarcError(ValueError):
    """Raised for any blob this minimal reader cannot frame safely."""


def _gunzip_members(blob: bytes) -> bytes:
    """Decode concatenated gzip members (the .warc.gz layout)."""
    out: list[bytes] = []
    total = 0
    data = blob
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data, _MAX_BLOB)
        except zlib.error as e:
            raise UnsupportedWarcError(f"bad gzip member: {e}") from e
        total += len(chunk)
        if total > _MAX_BLOB or not d.eof and d.unconsumed_tail:
            raise UnsupportedWarcError("gzip blob exceeds resource ceiling")
        out.append(chunk)
        if not d.eof:             # truncated member
            raise UnsupportedWarcError("truncated gzip member")
        data = d.unused_data
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Lenient name->value map (names lowercased, latin-1 decode)."""
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line or b":" not in line:
            continue
        name, _, value = line.partition(b":")
        headers[name.strip().decode("latin-1").lower()] = (
            value.strip().decode("latin-1")
        )
    return headers


def iter_warc_records(blob: bytes) -> list[dict]:
    """All records of a plain or gzipped WARC blob as dicts:
    {type, uri, headers, payload}.  Raises UnsupportedWarcError on
    framing violations."""
    if len(blob) > _MAX_BLOB:
        raise UnsupportedWarcError("blob exceeds resource ceiling")
    if blob[:2] == b"\x1f\x8b":
        blob = _gunzip_members(blob)
    records: list[dict] = []
    pos = 0
    n = len(blob)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and blob[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not blob.startswith((b"WARC/1.0", b"WARC/1.1"), pos):
            raise UnsupportedWarcError(f"no WARC version line at {pos}")
        hdr_end = blob.find(_CRLF2, pos)
        if hdr_end < 0:
            raise UnsupportedWarcError("unterminated record header")
        headers = _parse_headers(blob[pos:hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise UnsupportedWarcError("missing/bad Content-Length") from e
        if length < 0 or hdr_end + 4 + length > n:
            raise UnsupportedWarcError("payload overruns blob")
        payload = blob[hdr_end + 4:hdr_end + 4 + length]
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri", ""),
                "headers": headers,
                "payload": payload,
            }
        )
        pos = hdr_end + 4 + length
    return records


def _http_body(payload: bytes) -> tuple[str, bytes]:
    """(content-type, body) of an HTTP/1.x response payload."""
    if not payload.startswith(b"HTTP/"):
        raise UnsupportedWarcError("response payload is not HTTP")
    split = payload.find(_CRLF2)
    if split < 0:
        raise UnsupportedWarcError("unterminated HTTP headers")
    http_headers = _parse_headers(payload[:split])
    ctype = http_headers.get("content-type", "").split(";")[0].strip().lower()
    return ctype, payload[split + 4:]


def _body_spans(uri: str, ctype: str, body: bytes) -> list[dict]:
    if ctype == "text/html":
        return [{"kind": "html", "text": body.decode("utf-8", "replace"),
                 "media_ref": None, "offset": 0}]
    if ctype.startswith("text/"):
        return [{"kind": "text", "text": body.decode("utf-8", "replace"),
                 "media_ref": None, "offset": 0}]
    if ctype.split("/")[0] in ("image", "audio", "video"):
        return [{"kind": "media", "text": "", "media_ref": uri, "offset": 0}]
    return []


_FAILURE_SPANS = [{"kind": "region", "text": "UNSUPPORTED_BINARY",
                   "media_ref": None, "offset": 0}]


def warc_to_docs(blob: bytes,
                 blob_id: str = "warc") -> list[tuple[str, list[dict]]]:
    """(doc_id, spans) per document-bearing record of one WARC blob.

    doc_id = WARC-Target-URI (falling back to the record id).  Fault
    isolation is PER RECORD: one mislabeled/truncated response (routine
    in real crawl archives) becomes one parse-failure document and never
    discards the blob's other documents.  Only a blob whose FRAMING is
    broken collapses to a single failure doc — keyed by ``blob_id`` (the
    file path in the Spark source) so two bad archives never collide on
    one doc_id.
    """
    try:
        records = iter_warc_records(bytes(blob))
    except UnsupportedWarcError:
        return [(f"{blob_id}#unparseable", list(_FAILURE_SPANS))]
    docs: list[tuple[str, list[dict]]] = []
    for i, rec in enumerate(records):
        doc_id = (rec["uri"]
                  or rec["headers"].get("warc-record-id")
                  or f"{blob_id}#rec{i}")
        try:
            if rec["type"] == "response":
                ctype, body = _http_body(rec["payload"])
                spans = _body_spans(rec["uri"], ctype, body)
            elif rec["type"] == "conversion":
                ctype = rec["headers"].get("content-type", "").split(";")[0]
                spans = _body_spans(rec["uri"], ctype.strip().lower(),
                                    rec["payload"])
            else:
                continue
        except UnsupportedWarcError:
            # this record, not this blob: the kernel counts it as one
            # parse failure and every other record still extracts
            docs.append((doc_id, list(_FAILURE_SPANS)))
            continue
        if spans:
            docs.append((doc_id, spans))
    return docs


def read_warc_docs(spark: SparkSession, path: str,
                   glob: str = "*.warc*") -> DataFrame:
    """Directory of WARC files -> docs(doc_id, spans), one row per
    archived document (records EXPLODE: input rows are containers).
    Same distributed shape as read_binary_docs — binaryFile scan +
    batched mapInPandas, package shipped to workers."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[str] = []
            spans: list[list[dict]] = []
            for blob_path, blob in zip(pdf["path"], pdf["content"]):
                for doc_id, s in warc_to_docs(blob, blob_id=str(blob_path)):
                    ids.append(doc_id)
                    spans.append(s)
            yield pd.DataFrame({"doc_id": ids, "spans": spans},
                               columns=["doc_id", "spans"])

    return map_batches(raw, parse, DOCS)


# ---------------------------------------------------------------------------
# fixture writer (tests + documentation of the exact subset implemented)
# ---------------------------------------------------------------------------

def build_warc(docs: list[tuple[str, str, bytes]], gzipped: bool = False,
               version: str = "WARC/1.0") -> bytes:
    """Build a WARC blob from (uri, content_type, body) triples — one
    warcinfo record then one response record per doc."""
    import gzip as _gzip

    def record(rtype: str, headers: list[tuple[str, str]],
               payload: bytes) -> bytes:
        head = [version.encode()] + [
            f"{k}: {v}".encode() for k, v in headers
        ] + [f"Content-Length: {len(payload)}".encode()]
        return b"\r\n".join(head) + _CRLF2 + payload + _CRLF2

    recs = [record("warcinfo",
                   [("WARC-Type", "warcinfo"),
                    ("WARC-Record-ID", "<urn:uuid:info>")],
                   b"software: pdf_extraction_tests_spark\r\n")]
    for i, (uri, ctype, body) in enumerate(docs):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode()
                + b"\r\n" + _CRLF2[:2] + body)
        recs.append(record("response",
                           [("WARC-Type", "response"),
                            ("WARC-Record-ID", f"<urn:uuid:{i}>"),
                            ("WARC-Target-URI", uri)],
                           http))
    if gzipped:
        return b"".join(_gzip.compress(r) for r in recs)
    return b"".join(recs)
