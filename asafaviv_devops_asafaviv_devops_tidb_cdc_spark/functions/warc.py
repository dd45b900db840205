"""WARC web-archive ingestion (north-star E36): the container format
of Common Crawl — THE canonical 100 TB training-data source — parsed
in-engine on top of the stdlib ``zlib``.

A Common Crawl ``.warc.gz`` is a concatenation of GZIP MEMBERS, one
member per WARC record (that per-record framing is what makes the
archives splittable and randomly accessible). ``gunzip_members`` walks
the member chain with the stdlib ``zlib`` in gzip mode, which parses
each RFC 1952 header (FEXTRA / FNAME / FCOMMENT / FHCRC, reserved-flag
rejection), inflates the deflate body and verifies the CRC32 + ISIZE
trailer — the same library the PNG path inflates with
(functions/multimodal.py). ``parse_warc_record``
walks the ISO 28500 record grammar: ``WARC/1.0`` version line, CRLF
header fields, mandatory Content-Length, the exact-length block, and
the two-CRLF record terminator.

Synth side (gate fixtures): ``synth_warc_gz_bytes`` builds per-id
archives with formula-derived record counts / types / URIs / body
bytes, rotating the member compression between stored-block streams,
the library encoder and our own ``_deflate_dynamic`` (so the gate
corpus exercises all three BTYPEs inside gzip framing, like the PNG
corpus does inside zlib framing), and rotating the optional header
fields (FNAME / FHCRC / FEXTRA) so header parsing is exercised too.

Everything integer-exact end to end, so the DuckDB oracle re-derives
the record/byte checksums straight from the id formula
(queries/llm_pipeline.py::q_warc_extract). Corrupt input — bad magic,
reserved flags, trailer mismatch, truncated member, malformed record
grammar, a member holding more or less than one record — uniformly
returns None, same contract as every other decoder in the engine.

Reference parity note: the reference engine has no archive-ingest
analogue; this module exists because a 100 TB pipeline's first stage
is reading exactly this format.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from .multimodal import _deflate_dynamic

_FHCRC, _FEXTRA, _FNAME = 2, 4, 8
_FEED_BYTES = 1 << 14  # gunzip_members input slice


# ---------------------------------------------------------------------------
# synth formula (shared between encoder, decoder tests, and the
# DuckDB oracle in queries/llm_pipeline.py — keep the three in sync)
# ---------------------------------------------------------------------------

def warc_record_count(media_id: int) -> int:
    return media_id % 3 + 1


def warc_record_type(media_id: int, r: int) -> str:
    """The full Common Crawl record-type surface: responses and
    requests, per-page metadata, the archive-level warcinfo record
    and the dedup-pointer revisit record (r13 — the last two are what
    a real CC slice opens and dedups with)."""
    return ("response", "request", "metadata", "warcinfo", "revisit")[
        (media_id + r) % 5
    ]


def warc_body_len(media_id: int, r: int) -> int:
    return (media_id * 11 + r * 97) % 200 + 30


def warc_body_byte(media_id: int, r: int, j: int) -> int:
    return (media_id + r * 13 + j * 7) % 256


def warc_target_uri(media_id: int, r: int) -> str:
    return f"http://site{(media_id * 7 + r) % 1000}.example/doc/{media_id}/{r}"


# ---------------------------------------------------------------------------
# gzip member framing (RFC 1952)
# ---------------------------------------------------------------------------

def gzip_member(body: bytes, mtime: int, mode: int, fname: bytes | None = None,
                fextra: bytes | None = None, fhcrc: bool = False) -> bytes:
    """One complete gzip member around ``body``. ``mode`` picks the
    deflate encoder: 0 -> library stored blocks (level 0), 1 -> library
    default, 2 -> our own dynamic-Huffman block (``_deflate_dynamic``
    with the zlib framing stripped). Optional FNAME / FEXTRA / FHCRC
    header fields exercise the decoder's header parsing."""
    if mode == 2:
        raw = _deflate_dynamic(body)[2:-4]  # strip zlib header + adler32
    else:
        co = zlib.compressobj(0 if mode == 0 else 6, zlib.DEFLATED, -15)
        raw = co.compress(body) + co.flush()
    flg = 0
    if fname is not None:
        flg |= _FNAME
    if fextra is not None:
        flg |= _FEXTRA
    if fhcrc:
        flg |= _FHCRC
    head = bytearray(b"\x1f\x8b\x08")
    head.append(flg)
    head += struct.pack("<I", mtime & 0xFFFFFFFF)
    head += b"\x00\xff"  # XFL, OS=unknown
    if fextra is not None:
        head += struct.pack("<H", len(fextra)) + fextra
    if fname is not None:
        head += fname + b"\x00"
    if fhcrc:
        head += struct.pack("<H", zlib.crc32(bytes(head)) & 0xFFFF)
    return bytes(head) + raw + struct.pack(
        "<II", zlib.crc32(body) & 0xFFFFFFFF, len(body) & 0xFFFFFFFF
    )


def gunzip_members(data: bytes):
    """Split a concatenation of gzip members and inflate each one with
    the stdlib's gzip mode, which checks the whole RFC 1952 member:
    magic, CM = 8, reserved FLG bits, the optional FEXTRA / FNAME /
    FCOMMENT fields, FHCRC, and the CRC32 + ISIZE trailer. Returns the
    list of member bodies, or None for anything corrupt — a truncated
    member, or trailing bytes that do not form a whole member.

    Input is fed in bounded slices: at a member's end the library
    copies all input it was given past that end into ``unused_data``,
    so handing it the whole rest of the archive would copy the archive
    once per member (quadratic in the member count)."""
    members: list[bytes] = []
    view, pos = memoryview(data), 0
    while pos < len(view):
        d = zlib.decompressobj(31)
        parts = []
        try:
            while not d.eof and pos < len(view):
                chunk = view[pos : pos + _FEED_BYTES]
                pos += len(chunk)
                parts.append(d.decompress(chunk))
        except zlib.error:
            return None
        if not d.eof:
            return None
        pos -= len(d.unused_data)
        members.append(b"".join(parts))
    return members or None


# ---------------------------------------------------------------------------
# WARC record grammar (ISO 28500)
# ---------------------------------------------------------------------------

def parse_warc_record(block: bytes):
    """Parse exactly ONE WARC record from ``block`` (the Common Crawl
    layout: one record per gzip member). Returns
    (headers: dict[str, str], body: bytes) or None: version line must
    be WARC/1.0 or WARC/1.1, header lines are ``Name: value`` CRLF
    pairs up to an empty line, Content-Length is mandatory and the
    body must be exactly that long, and the record must end with the
    two-CRLF terminator and nothing else. ISO 28500 defines every
    named field as non-repeatable EXCEPT WARC-Concurrent-To (5.7), so
    a repeated WARC-Concurrent-To folds into one comma-joined value
    (real Common Crawl revisit/metadata records use this) while any
    other duplicate is structural corruption (r11 advice)."""
    if not (block.startswith(b"WARC/1.0\r\n") or block.startswith(b"WARC/1.1\r\n")):
        return None
    pos = block.index(b"\r\n") + 2
    headers: dict[str, str] = {}
    while True:
        end = block.find(b"\r\n", pos)
        if end < 0:
            return None
        line = block[pos:end]
        pos = end + 2
        if not line:
            break
        sep = line.find(b":")
        if sep <= 0:
            return None
        try:
            name = line[:sep].decode("ascii").strip()
            value = line[sep + 1 :].decode("ascii").strip()
        except UnicodeDecodeError:
            return None
        if name in headers:
            if name != "WARC-Concurrent-To":
                return None  # ISO 28500: only Concurrent-To repeats
            headers[name] = headers[name] + ", " + value
        else:
            headers[name] = value
    cl = headers.get("Content-Length")
    if cl is None or not cl.isdigit():
        return None
    length = int(cl)
    body = block[pos : pos + length]
    if len(body) != length:
        return None
    if block[pos + length :] != b"\r\n\r\n":
        return None  # record terminator, then nothing
    return headers, body


def build_warc_record(headers: list[tuple[str, str]], body: bytes) -> bytes:
    out = bytearray(b"WARC/1.0\r\n")
    for name, value in headers:
        out += f"{name}: {value}\r\n".encode("ascii")
    out += f"Content-Length: {len(body)}\r\n\r\n".encode("ascii")
    out += body
    out += b"\r\n\r\n"
    return bytes(out)


def synth_warc_gz_bytes(media_id: int) -> bytes:
    """One complete ``.warc.gz`` archive from the id formula:
    1..3 records (one gzip member each, the Common Crawl layout),
    record types rotating response/request/metadata/warcinfo/revisit
    (warcinfo drops the target URI and carries WARC-Filename; revisit
    carries profile, refers-to and a REPEATED WARC-Concurrent-To),
    formula-derived URIs and body bytes, member compression rotating
    stored / library / our dynamic-Huffman deflate, and optional gzip
    header fields rotating in (FNAME when (id+r)%2==0, FHCRC when
    (id+r)%5==0, FEXTRA when (id+r)%7==0)."""
    import numpy as np

    out = bytearray()
    for r in range(warc_record_count(media_id)):
        # vectorized warc_body_byte formula (kept in sync with the
        # scalar helper, which stays the oracle-documented source)
        body = (
            (media_id + r * 13 + 7 * np.arange(
                warc_body_len(media_id, r), dtype=np.int64)) % 256
        ).astype(np.uint8).tobytes()
        rtype = warc_record_type(media_id, r)
        headers = [
            ("WARC-Type", rtype),
            ("WARC-Record-ID", f"<urn:uuid:{media_id:016x}-{r:04x}>"),
            ("WARC-Date", "2026-01-01T00:00:00Z"),
        ]
        if rtype == "warcinfo":
            # archive-level metadata: no target URI (ISO 28500 makes
            # it meaningless here; real CC warcinfo records omit it)
            headers += [
                ("WARC-Filename", f"crawl-{media_id}.warc.gz"),
                ("Content-Type", "application/warc-fields"),
            ]
        else:
            headers.append(("WARC-Target-URI", warc_target_uri(media_id, r)))
        if rtype == "revisit":
            # the CC dedup pointer: profile + refers-to, plus TWO
            # WARC-Concurrent-To fields so the one repeatable header
            # (ISO 28500 5.7) is exercised by the gate corpus itself,
            # not only by pytest
            headers += [
                ("WARC-Profile",
                 "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"),
                ("WARC-Refers-To", f"<urn:uuid:{media_id:016x}-0000>"),
                ("WARC-Concurrent-To", f"<urn:uuid:{media_id:016x}-aaaa>"),
                ("WARC-Concurrent-To", f"<urn:uuid:{media_id:016x}-bbbb>"),
            ]
        rec = build_warc_record(headers, body)
        seed = media_id + r
        out += gzip_member(
            rec,
            mtime=(media_id * 131 + r) & 0xFFFFFFFF,
            mode=seed % 3,
            fname=(f"rec{r}.warc".encode() if seed % 2 == 0 else None),
            fextra=(b"CC\x02\x00ok" if seed % 7 == 0 else None),
            fhcrc=seed % 5 == 0,
        )
    return bytes(out)


def extract_warc_stats(payload: bytes):
    """Decode one archive to the numbers a corpus pipeline keys on:
    (n_records, n_responses, total_len, body_sum, body_wsum,
    uri_len_sum) — body_wsum weights byte j of record r by
    (r * 512 + j + 1), so member order AND byte order must both
    survive the gzip + WARC walk exactly. None if any member or
    record is corrupt or a member does not hold exactly one record."""
    import numpy as np

    members = gunzip_members(payload or b"")
    if members is None:
        return None
    n_responses = 0
    total_len = 0
    body_sum = 0
    body_wsum = 0
    uri_len_sum = 0
    for r, member in enumerate(members):
        rec = parse_warc_record(member)
        if rec is None:
            return None
        headers, body = rec
        if headers.get("WARC-Type") == "response":
            n_responses += 1
        total_len += len(body)
        # vectorized: position-weighted sum over the body bytes (the
        # scalar formula is sum((r*512 + j + 1) * body[j]))
        arr = np.frombuffer(body, dtype=np.uint8).astype(np.int64)
        body_sum += int(arr.sum())
        body_wsum += int(
            ((r * 512 + 1 + np.arange(len(arr), dtype=np.int64)) * arr).sum()
        )
        uri_len_sum += len(headers.get("WARC-Target-URI", ""))
    return (len(members), n_responses, total_len, body_sum, body_wsum,
            uri_len_sum)


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

WARC_STATS_SCHEMA = (
    "media_id long, n_records int, n_responses int, total_len long, "
    "body_sum long, body_wsum long, uri_len_sum long"
)


def synth_warc_payloads(media_ids: DataFrame) -> DataFrame:
    """Arrow-batched synth: one complete .warc.gz archive per id
    (shared stage scaffold: multimodal.synth_payload_stage)."""
    from .multimodal import synth_payload_stage

    return synth_payload_stage(media_ids, synth_warc_gz_bytes)


def warc_extract_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL archive ingest: gzip members split and
    inflated in-engine, WARC records parsed, per-archive checksums
    emitted. Undecodable payloads yield NULL stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "n_records", "n_responses", "total_len",
            "body_sum", "body_wsum", "uri_len_sum",
        ]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                stats = extract_warc_stats(bytes(payload or b""))
                if stats is None:
                    rows.append((int(mid),) + (None,) * 6)
                    continue
                rows.append((int(mid),) + stats)
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(_stats, WARC_STATS_SCHEMA)
