"""WARC (Web ARChive, ISO 28500) record codec — pure Python, no
libraries: the container CommonCrawl and every web-corpus pipeline
ingests. The writer emits spec-shaped request/response record pairs
(version line, named headers, Content-Length framing, CRLF discipline,
double-CRLF record terminator); the reader WALKS the framing — it
must parse each header block, honor Content-Length exactly, and verify
the record terminator — so any off-by-one in length accounting or CRLF
handling surfaces as a hard error, not a silent drift.

Reference shape: the reference ingests CSV/RDBMS rows
(etl/sources/*); WARC is the equivalent entry point for web corpora,
expressed through the same binary-media plumbing as
operators/multimodal.py (Arrow-batched mapInPandas over an id+payload
frame).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..session import python_stage
from .multimodal import PAYLOAD_SCHEMA, per_payload_stage

_CRLF = b"\r\n"


def encode_warc_pair(doc_id: int, payload: bytes) -> bytes:
    """One request/response WARC record pair for a fetched document.

    The request body is the deterministic HTTP GET for the document's
    URI; the response body is the document payload verbatim."""
    uri = f"http://example.com/{doc_id}"
    req_body = (
        f"GET /{doc_id} HTTP/1.1\r\nHost: example.com\r\n\r\n".encode()
    )

    def record(rtype: str, body: bytes) -> bytes:
        head = (
            b"WARC/1.0" + _CRLF
            + f"WARC-Type: {rtype}".encode() + _CRLF
            + f"WARC-Record-ID: <urn:uuid:{doc_id}>".encode() + _CRLF
            + f"WARC-Target-URI: {uri}".encode() + _CRLF
            + f"Content-Length: {len(body)}".encode() + _CRLF
            + _CRLF
        )
        return head + body + _CRLF + _CRLF

    return record("request", req_body) + record("response", payload)


def parse_warc(buf: bytes) -> list[dict]:
    """Walk a WARC buffer record by record. Returns one dict per record
    with type, uri, and body. Raises ValueError on any framing error —
    wrong version line, missing Content-Length, or a record that does
    not terminate with CRLF CRLF exactly where the length says."""
    out = []
    pos = 0
    while pos < len(buf):
        end_head = buf.find(_CRLF + _CRLF, pos)
        if end_head < 0:
            raise ValueError("warc: unterminated header block")
        lines = buf[pos:end_head].split(_CRLF)
        if lines[0] != b"WARC/1.0":
            raise ValueError("warc: bad version line")
        headers = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(b": ")
            headers[k.decode()] = v.decode()
        if "Content-Length" not in headers:
            raise ValueError("warc: missing Content-Length")
        n = int(headers["Content-Length"])
        body_at = end_head + 4
        body = buf[body_at : body_at + n]
        if len(body) != n:
            raise ValueError("warc: truncated body")
        if buf[body_at + n : body_at + n + 4] != _CRLF + _CRLF:
            raise ValueError("warc: record not terminated at Content-Length")
        out.append(
            {
                "type": headers.get("WARC-Type", ""),
                "uri": headers.get("WARC-Target-URI", ""),
                "body": body,
            }
        )
        pos = body_at + n + 4
    return out


def _warc_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids = pdf["doc_id"].tolist()
        payloads = [
            encode_warc_pair(i, t.encode("utf-8")) for i, t in zip(ids, pdf["text"])
        ]
        yield pd.DataFrame({"media_id": ids, "payload": payloads})


def documents_as_warc(docs: DataFrame) -> DataFrame:
    """Adapter: (doc_id, text) → (media_id, payload) WARC pairs. The
    record framing needs the row id, so this encoder runs its own batch
    function instead of a per-payload codec."""
    return python_stage(
        docs.select("doc_id", "text"),
        _warc_pairs,
        PAYLOAD_SCHEMA,
        key="doc_id",
        per_byte_cost=4,
    )


WARC_SCHEMA = (
    "media_id long, n_records int, uri string, req_len int, "
    "resp_len long, resp_byte_sum long"
)


def warc_features(payload: bytes) -> tuple:
    """(n_records, uri, req_len, resp_len, resp_byte_sum) of one WARC
    request/response pair."""
    recs = parse_warc(payload)
    if [r["type"] for r in recs] != ["request", "response"]:
        raise ValueError("warc: expected request+response pair")
    req, resp = recs
    body = resp["body"]
    return len(recs), resp["uri"], len(req["body"]), len(body), int(sum(body))


def parse_warc_features(media: DataFrame) -> DataFrame:
    """Parse each WARC pair and summarize: record count, response URI,
    request body length (varies with the id width — pins the framing
    walk), response length, and the exact response byte sum."""
    return per_payload_stage(media, warc_features, WARC_SCHEMA, 4)
