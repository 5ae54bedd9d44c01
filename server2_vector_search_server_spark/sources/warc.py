"""WARC (ISO 28500) web-archive source — the CommonCrawl ingestion path.

The reference ingests user uploads (PDF/text/ZIP, ``app.py:160-228``); a
training-data pipeline at 100 TB ingests *web crawls*, and the standard
container for those is WARC: a sequence of records, each

    WARC/1.0\\r\\n
    <Header-Name>: <value>\\r\\n ...          (folded continuations allowed)
    \\r\\n
    <exactly Content-Length payload bytes>
    \\r\\n\\r\\n                               (record separator)

``response`` records carry a raw HTTP response (status line + headers +
body, possibly ``Transfer-Encoding: chunked``).  CommonCrawl ships WARCs as
*multi-member gzip* (one member per record) so readers can resynchronise at
member boundaries.

Spark-first realization (no instruction in the archive bytes is executed;
payloads are opaque binary until explicitly decoded):

  * carrier: ``spark.read.format("binaryFile")`` — one row per ``.warc`` /
    ``.warc.gz`` file; parallelism is file-granular, which matches how
    CommonCrawl is processed in practice (a crawl is ~64k independent
    ~1 GB files listed in ``warc.paths``; assign whole files to tasks).
  * expansion: ``mapInPandas`` generator — records are parsed *streaming*
    (incremental zlib decompression, one record materialized at a time)
    and yielded in bounded Arrow batches, so a 1 GB archive never sits in
    memory as one pandas frame.
  * downstream: payload is a ``binary`` column; HTML text extraction /
    language ID / dedup are the existing operators over it.

Pure stdlib (zlib + email-free hand parser); deliberately tolerant the way
real crawl data requires: unknown headers are kept, a malformed record ends
that *file* (never the job), truncated payloads are surfaced with
``truncated=true`` rather than dropped silently.
"""

from __future__ import annotations

import io
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECORD_SCHEMA = (
    "warc_path string, record_seq long, record_id string, warc_type string, "
    "target_uri string, warc_date string, content_type string, "
    "http_status int, http_content_type string, payload binary, "
    "truncated boolean"
)

_GZIP_MAGIC = b"\x1f\x8b"


class _StreamBytes:
    """Incremental byte cursor over a plain or (multi-member) gzip stream.

    Decompresses lazily: ``read(n)``/``read_until`` pull just enough input
    through zlib to satisfy the request, so peak memory is O(one record),
    not O(file) — the property that lets one task own a ~1 GB CommonCrawl
    member file.
    """

    def __init__(self, blob: bytes):
        self._gz = blob[:2] == _GZIP_MAGIC
        self._raw = io.BytesIO(blob)
        self._buf = bytearray()
        self._pos = 0
        self._dec = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS) if self._gz else None
        self._eof = False

    def _pull(self, want: int) -> None:
        """Grow the buffer until it holds >= want unread bytes or EOF."""
        while not self._eof and len(self._buf) - self._pos < want:
            chunk = self._raw.read(64 * 1024)
            if not chunk:
                self._eof = True
                break
            if self._dec is None:
                self._buf += chunk
                continue
            # multi-member gzip: when one member ends mid-chunk, restart
            # the decompressor on the member's unused tail
            while chunk:
                self._buf += self._dec.decompress(chunk)
                if self._dec.eof:
                    chunk = self._dec.unused_data
                    self._dec = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
                else:
                    chunk = b""

    def read(self, n: int) -> bytes:
        self._pull(n)
        out = bytes(self._buf[self._pos:self._pos + n])
        self._pos += len(out)
        self._compact()
        return out

    def read_line(self, limit: int = 1 << 20) -> bytes | None:
        """Read through the next ``\\n`` (inclusive); None at EOF."""
        start = 0
        while True:
            idx = self._buf.find(b"\n", self._pos + start)
            if idx >= 0:
                out = bytes(self._buf[self._pos:idx + 1])
                self._pos = idx + 1
                self._compact()
                return out
            start = len(self._buf) - self._pos
            if start > limit:
                raise ValueError("header line exceeds limit")
            before = start
            self._pull(start + 64 * 1024)
            if len(self._buf) - self._pos == before:   # true EOF
                if before == 0:
                    return None
                out = bytes(self._buf[self._pos:])
                self._pos = len(self._buf)
                self._compact()
                return out

    def _compact(self) -> None:
        if self._pos > 1 << 20:
            del self._buf[:self._pos]
            self._pos = 0


def _parse_headers(stream: _StreamBytes) -> dict[str, str] | None:
    """Read header lines up to the blank separator; fold continuations.
    Returns None on EOF before any header byte."""
    headers: dict[str, str] = {}
    last_key: str | None = None
    first = True
    while True:
        line = stream.read_line()
        if line is None:
            return headers if not first else None
        first = False
        stripped = line.rstrip(b"\r\n")
        if not stripped:
            return headers
        if stripped[:1] in (b" ", b"\t") and last_key is not None:
            headers[last_key] += " " + stripped.strip().decode("utf-8", "replace")
            continue
        name, _, value = stripped.partition(b":")
        last_key = name.decode("utf-8", "replace").strip().lower()
        headers[last_key] = value.decode("utf-8", "replace").strip()


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body (RFC 9112 §7.1)."""
    out = bytearray()
    buf = io.BytesIO(body)
    while True:
        size_line = buf.readline()
        if not size_line:
            break
        size_str = size_line.split(b";")[0].strip()
        if not size_str:
            continue
        size = int(size_str, 16)
        if size == 0:
            break
        out += buf.read(size)
        buf.read(2)   # chunk-terminating CRLF
    return bytes(out)


def split_http_response(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split a raw HTTP response block into (status, content-type, body).

    The body is transfer-decoded (chunked) but NOT content-decoded
    (gzip Content-Encoding stays — that is a per-record concern of the
    consumer, same as the reference leaving PDFs as bytes until parsed).
    """
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload[:5] in (b"HTTP/",):
        return None, None, payload
    head, body = payload[:sep], payload[sep + 4:]
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    chunked = False
    last = None
    hdrs: dict[str, str] = {}
    for ln in lines[1:]:
        if ln[:1] in (b" ", b"\t") and last is not None:
            hdrs[last] += " " + ln.strip().decode("latin-1")
            continue
        name, _, value = ln.partition(b":")
        last = name.decode("latin-1").strip().lower()
        hdrs[last] = value.decode("latin-1").strip()
    ctype = hdrs.get("content-type")
    chunked = "chunked" in hdrs.get("transfer-encoding", "").lower()
    if chunked:
        try:
            body = _dechunk(body)
        except ValueError:
            pass   # malformed chunk framing: surface the raw wire body
    return status, ctype, body


def iter_warc_records(blob: bytes) -> Iterator[dict]:
    """Yield parsed records from one WARC file's bytes (plain or .gz).

    Each record dict has: record_id, warc_type, target_uri, warc_date,
    content_type, http_status, http_content_type, payload, truncated.
    For ``response`` records ``payload`` is the transfer-decoded HTTP body;
    for every other type it is the raw record block.
    """
    stream = _StreamBytes(blob)
    while True:
        # resync: skip blank separator lines until the next version line.
        # ANY hard corruption from here (bad gzip bytes -> zlib.error,
        # unbounded header line -> ValueError) ends THIS FILE's records,
        # never the job — the same contract as a malformed version line.
        try:
            line = stream.read_line()
            if line is None:
                return
            if not line.strip():
                continue
            if not line.startswith(b"WARC/"):
                return   # malformed from here on: end this file
            headers = _parse_headers(stream)
            if headers is None:
                return
            length = int(headers.get("content-length", ""))
            payload = stream.read(length)
        except (ValueError, zlib.error, OSError):
            return
        truncated = len(payload) < length
        rec_type = headers.get("warc-type", "")
        status = ctype = None
        body = payload
        if rec_type == "response":
            status, ctype, body = split_http_response(payload)
        yield {
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": rec_type,
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "http_status": status,
            "http_content_type": ctype,
            "payload": body,
            "truncated": truncated,
        }
        if truncated:
            return


def parse_warc(files: DataFrame, *, path_col: str = "path",
               content_col: str = "content",
               batch_rows: int = 256) -> DataFrame:
    """Expand WARC file rows into record rows (flatMap-style mapInPandas).

    One input row (a whole ``.warc``/``.warc.gz`` file) yields N record
    rows, emitted in batches of ``batch_rows`` so Arrow transfer stays
    bounded regardless of archive size.  Scale: parallelism is per-file
    (the CommonCrawl model); for few huge files repartition by path first
    so each executor owns whole archives.
    """
    import pandas as pd

    cols = [path_col, content_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def flush(rows: list[dict]) -> pd.DataFrame:
            return pd.DataFrame(rows, columns=[
                "warc_path", "record_seq", "record_id", "warc_type",
                "target_uri", "warc_date", "content_type", "http_status",
                "http_content_type", "payload", "truncated"])

        for pdf in batches:
            rows: list[dict] = []
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                for seq, rec in enumerate(iter_warc_records(bytes(blob))):
                    rows.append({"warc_path": path, "record_seq": seq, **rec})
                    if len(rows) >= batch_rows:
                        yield flush(rows)
                        rows = []
            if rows:
                yield flush(rows)

    return files.select(*cols).mapInPandas(run, schema=RECORD_SCHEMA)


def decode_text_payload(payload_col, ctype_col):
    """Column expr: utf-8/latin-1 text for text/* payloads, else NULL.

    Charset comes from the Content-Type parameter when present (the two
    charsets that matter in practice and are stdlib-safe here); anything
    else decodes as utf-8 with replacement, same default as the
    reference's TextLoader (``document_processor.py:105-117``).
    """
    lower = F.lower(F.coalesce(ctype_col, F.lit("")))
    charset = F.regexp_extract(lower, r"charset=([a-z0-9_\-]+)", 1)
    utf8 = F.decode(payload_col, "UTF-8")
    return F.when(
        lower.startswith("text/"),
        F.when(charset == "iso-8859-1", F.decode(payload_col, "ISO-8859-1"))
         .otherwise(utf8),
    )


# ---------------------------------------------------------------------------
# fixture writer (tests + oracle queries build archives through this, so the
# bytes exercising the parser are REAL WARC bytes, not parser-shaped mocks)

def build_warc_bytes(records: list[dict], *, gzip_members: bool = False) -> bytes:
    """Serialize records to spec-correct WARC bytes.

    Each record dict: warc_type, payload (bytes), and optional target_uri /
    record_id / date / content_type.  With ``gzip_members=True`` each record
    becomes its own gzip member (the CommonCrawl layout).
    """
    out = bytearray()
    for i, rec in enumerate(records):
        payload = rec["payload"]
        rid = rec.get("record_id", f"<urn:uuid:fixture-{i:04d}>")
        lines = [b"WARC/1.0",
                 b"WARC-Type: " + rec["warc_type"].encode(),
                 b"WARC-Record-ID: " + rid.encode(),
                 b"WARC-Date: " + rec.get("date", "2024-01-01T00:00:00Z").encode()]
        if rec.get("target_uri"):
            lines.append(b"WARC-Target-URI: " + rec["target_uri"].encode())
        if rec.get("content_type"):
            lines.append(b"Content-Type: " + rec["content_type"].encode())
        lines.append(b"Content-Length: " + str(len(payload)).encode())
        block = b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        if gzip_members:
            comp = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            out += comp.compress(block) + comp.flush()
        else:
            out += block
    return bytes(out)


def http_response_bytes(status: int, ctype: str, body: bytes, *,
                        chunked: bool = False) -> bytes:
    """Raw HTTP/1.1 response block for a fixture ``response`` record."""
    reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}.get(status, "X")
    head = [f"HTTP/1.1 {status} {reason}".encode(),
            b"Content-Type: " + ctype.encode()]
    if chunked:
        head.append(b"Transfer-Encoding: chunked")
        mid = max(1, len(body) // 2)
        enc = b""
        for part in (body[:mid], body[mid:]):
            if part:
                enc += format(len(part), "x").encode() + b"\r\n" + part + b"\r\n"
        enc += b"0\r\n\r\n"
        body_wire = enc
    else:
        head.append(b"Content-Length: " + str(len(body)).encode())
        body_wire = body
    return b"\r\n".join(head) + b"\r\n\r\n" + body_wire
