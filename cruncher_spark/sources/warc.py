"""WARC (Web ARChive) source: crawl-data ingestion for the pipeline.

Training corpora start as web crawls, and the interchange format for
those is WARC (ISO 28500 — what Common Crawl publishes): a
concatenation of records, each a ``WARC/1.0`` header block + a body of
``Content-Length`` bytes; HTTP ``response`` records carry the raw HTTP
reply (status line + headers + HTML) as their body. This module reads
WARC files into a typed DataFrame so the rest of the engine (dedup,
curation, language-ID, containment, the streaming ingest filters) can
run directly on crawl drops.

Scale shape — file-level parallelism, the Common Crawl contract:

- crawls ship as many ~1 GB ``*.warc.gz`` segment files; ONE file is
  one ``binaryFile`` row and one parse task, so a 100 TB crawl is
  ~100k independent tasks with zero shuffle until the caller
  aggregates. (Per-record random access needs the ``*.warc.wet``/CDX
  sidecars; sequential segment scans — this reader — are how the
  published pipelines, e.g. CCNet, consume the corpus.)
- gzip members: Common Crawl gzips PER RECORD and concatenates, so a
  plain ``gzip.decompress`` would stop at the first member; the
  decoder loops ``zlib.decompressobj(wbits=31)`` over ``unused_data``
  to inflate every member of the stream.
- parsing is a Python ``mapInPandas`` over the file bytes — the one
  place Python is the right tool (binary wire-format parsing, Arrow
  batch in/out), mirroring the codec boundary in
  ``operators/multimodal.py``. Everything downstream is JVM-side.
- malformed content NEVER kills the job (a FAILFAST parse would abort
  a 100 TB scan 90% of the way in): a record that
  cannot be parsed becomes a row with ``parse_error`` set and the
  remaining bytes of that FILE are skipped (framing is lost once a
  Content-Length cannot be trusted); clean records before the damage
  are kept.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: output schema of :func:`read_warc`
WARC_SCHEMA = (
    "warc_file string, record_id string, warc_type string,"
    " target_uri string, warc_date string, content_type string,"
    " http_status int, http_content_type string, payload binary,"
    " parse_error string"
)


def _gunzip_members(data: bytes) -> tuple[bytes, str | None]:
    """Inflate a concatenation of gzip members (per-record gzip — the
    Common Crawl layout; also the single-member whole-file case).

    Returns ``(payload, damage)``. ``damage`` is ``None`` only when the
    whole byte range decoded as complete members; it carries a
    description when zlib errored with input still unconsumed (a
    damaged or garbage member mid-file — indistinguishable from
    "trailing garbage", and the damage-visibility contract treats both
    as reportable rather than silently truncating) or when the final
    member ended mid-stream (truncated download). A valid member whose
    DECOMPRESSED payload is 0 bytes is a clean decode, not damage —
    callers must key off this signal, never off empty output."""
    import zlib

    out = []
    total = len(data)
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data))
            out.append(d.flush())
        except zlib.error as e:
            return (
                b"".join(out),
                f"gzip member damaged at byte {total - len(data)}: {e}",
            )
        if not d.eof:
            return (
                b"".join(out),
                f"gzip member truncated at byte {total - len(data)}",
            )
        if not d.unused_data or d.unused_data == data:
            break
        data = d.unused_data
    return b"".join(out), None


def _parse_http(body: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, payload) from a raw HTTP response body."""
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, body
    head, payload = body[:sep], body[sep + 4 :]
    lines = head.split(b"\r\n")
    status = None
    ctype = None
    parts = lines[0].split(b" ", 2)
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    for ln in lines[1:]:
        if ln.lower().startswith(b"content-type:"):
            ctype = ln.split(b":", 1)[1].strip().decode("latin-1")
            break
    return status, ctype, payload


def parse_warc_bytes(name: str, data: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record in ``data`` (decompressed)."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        hdr_end = data.find(b"\r\n\r\n", pos)
        # startswith with an offset — data[pos:].startswith() would COPY
        # the remaining buffer per record, O(n²) over a 1 GB segment
        if hdr_end < 0 or not data.startswith(b"WARC/", pos):
            yield {
                "warc_file": name,
                "parse_error": f"bad record framing at byte {pos}",
            }
            return
        headers: dict[str, str] = {}
        lines = data[pos:hdr_end].split(b"\r\n")
        for ln in lines[1:]:
            if b":" in ln:
                k, v = ln.split(b":", 1)
                headers[k.strip().decode("latin-1").lower()] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield {
                "warc_file": name,
                "parse_error": f"missing/bad Content-Length at byte {pos}",
            }
            return
        body = data[hdr_end + 4 : hdr_end + 4 + length]
        if len(body) < length:
            yield {
                "warc_file": name,
                "parse_error": f"truncated record at byte {pos}",
            }
            return
        wtype = headers.get("warc-type", "")
        ctype = headers.get("content-type", "")
        status = http_ctype = None
        payload = body
        if wtype == "response" and ctype.startswith("application/http"):
            status, http_ctype, payload = _parse_http(body)
        yield {
            "warc_file": name,
            "record_id": headers.get("warc-record-id"),
            "warc_type": wtype,
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": ctype,
            "http_status": status,
            "http_content_type": http_ctype,
            "payload": payload,
            "parse_error": None,
        }
        pos = hdr_end + 4 + length


def read_warc(
    spark: SparkSession,
    path: str,
    types: tuple[str, ...] | None = ("response",),
) -> DataFrame:
    """Read WARC segment file(s) into one row per record.

    ``path`` accepts the usual Hadoop glob forms
    (``.../segments/*.warc.gz``). ``types`` filters ``WARC-Type``
    AFTER parse (warcinfo/request/metadata records are framing, not
    data — pass ``None`` to keep everything, including rows whose
    ``parse_error`` is set).

    Columns: ``warc_file, record_id, warc_type, target_uri, warc_date,
    content_type, http_status, http_content_type, payload binary,
    parse_error``.
    """
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "warc_file", "record_id", "warc_type", "target_uri",
            "warc_date", "content_type", "http_status",
            "http_content_type", "payload", "parse_error",
        ]
        for pdf in batches:
            rows = []
            for name, blob in zip(pdf["path"], pdf["content"]):
                data = bytes(blob)
                damage = None
                if name.endswith(".gz"):
                    data, damage = _gunzip_members(data)
                for rec in parse_warc_bytes(name, data):
                    rows.append([rec.get(c) for c in cols])
                if damage is not None:
                    # Damage anywhere in the member chain surfaces as a
                    # parse_error row AFTER the records that did decode
                    # (the damage-visibility contract: a mid-file
                    # corrupt member must not truncate silently, and an
                    # empty-but-valid payload must not false-alarm).
                    rows.append([
                        name if c == "warc_file"
                        else damage if c == "parse_error"
                        else None
                        for c in cols
                    ])
            yield pd.DataFrame(rows, columns=cols)

    out = files.mapInPandas(parse, WARC_SCHEMA)
    if types is not None:
        out = out.where(
            F.col("warc_type").isin(list(types))
            & F.col("parse_error").isNull()
        )
    return out


def warc_documents(
    spark: SparkSession, path: str, min_status: int = 200, max_status: int = 299
) -> DataFrame:
    """Crawl → curation bridge: successful HTML responses as
    ``(doc_id, url, canon_url, text)`` — the shape every text operator
    in this repo consumes (dedup, quality, language-ID, containment,
    the streaming ingest filters).

    ``doc_id`` is the portable 64-bit hash of the record id (stable
    across runs and engines); ``canon_url`` is the frontier-dedup key
    (:func:`cruncher_spark.functions.text.canonicalize_url` — NULL for
    a non-absolute WARC-Target-URI, the quarantine signal); ``text`` is
    the JVM-side :func:`cruncher_spark.functions.text.html_to_text`
    extraction — the only Python in the whole path is the WARC frame
    parse.
    """
    from cruncher_spark.functions.text import (
        canonicalize_url,
        html_to_text,
        portable_hash64,
    )

    recs = read_warc(spark, path, types=("response",))
    return (
        recs.where(
            F.col("http_status").between(min_status, max_status)
            & F.coalesce(
                F.col("http_content_type").startswith("text/html"),
                F.lit(True),  # no HTTP content-type header: keep
            )
        )
        .select(
            portable_hash64(F.col("record_id")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            html_to_text(
                F.decode(F.col("payload"), "utf-8")
            ).alias("text"),
        )
        .withColumn("canon_url", canonicalize_url("url"))
        .select("doc_id", "url", "canon_url", "text")
    )
