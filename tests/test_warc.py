"""WARC / gzip-member ingest tests (functions/warc.py, r11).

The gzip layer has a LIBRARY VALIDATOR IN THIS CONTAINER (the stdlib
``gzip`` module), so unlike JPEG the cross-decode runs unconditionally:
every synth archive must decode identically through gzip.GzipFile and
through the in-engine member walk. The WARC grammar is pinned by
formula round-trips and a structural rejection battery.
"""

from __future__ import annotations

import gzip
import io
import struct

from hypothesis import given, settings, strategies as st

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import warc as W


def _want_stats(mid: int):
    n = W.warc_record_count(mid)
    return (
        n,
        sum(1 for r in range(n) if W.warc_record_type(mid, r) == "response"),
        sum(W.warc_body_len(mid, r) for r in range(n)),
        sum(W.warc_body_byte(mid, r, j)
            for r in range(n) for j in range(W.warc_body_len(mid, r))),
        sum((r * 512 + j + 1) * W.warc_body_byte(mid, r, j)
            for r in range(n) for j in range(W.warc_body_len(mid, r))),
        sum(
            len(W.warc_target_uri(mid, r))
            for r in range(n)
            if W.warc_record_type(mid, r) != "warcinfo"  # no URI there
        ),
    )


def test_formula_roundtrip_and_library_cross_decode():
    """Every compression mode (stored/library/dynamic by (id+r)%3) and
    every optional gzip header field rotation round-trips to the exact
    formula stats, AND the concatenated members decode byte-identically
    through the stdlib gzip reader — the in-engine member walk is
    library-validated on every id."""
    for mid in list(range(120)) + [1234, 99999, 10**6, 10**7 + 3]:
        pay = W.synth_warc_gz_bytes(mid)
        assert W.extract_warc_stats(pay) == _want_stats(mid), mid
        members = W.gunzip_members(pay)
        lib = gzip.GzipFile(fileobj=io.BytesIO(pay)).read()
        assert b"".join(members) == lib, mid


def test_header_field_rotation_is_on_the_wire():
    """The synth must actually exercise FNAME/FHCRC/FEXTRA: find one
    member of each kind and confirm the flag byte."""
    seen = set()
    for mid in range(80):
        pay = W.synth_warc_gz_bytes(mid)
        pos = 0
        while pos < len(pay) and pay[pos : pos + 3] == b"\x1f\x8b\x08":
            flg = pay[pos + 3]
            for bit, name in ((8, "fname"), (2, "fhcrc"), (4, "fextra")):
                if flg & bit:
                    seen.add(name)
            # skip to next member via the engine walk (single member)
            break
        if seen == {"fname", "fhcrc", "fextra"}:
            break
    assert seen == {"fname", "fhcrc", "fextra"}


@settings(max_examples=60, deadline=None)
@given(
    body=st.binary(min_size=0, max_size=400),
    mode=st.integers(0, 2),
    mtime=st.integers(0, 2**32 - 1),
    fname=st.one_of(st.none(), st.binary(min_size=1, max_size=12).filter(
        lambda b: b"\x00" not in b)),
    fhcrc=st.booleans(),
)
def test_arbitrary_gzip_member_roundtrip(body, mode, mtime, fname, fhcrc):
    member = W.gzip_member(body, mtime, mode, fname=fname, fhcrc=fhcrc)
    assert W.gunzip_members(member) == [body]
    assert gzip.decompress(member) == body  # library agrees


def test_fcomment_field_skipped():
    """The synth never emits FCOMMENT, but real gzip writers do — the
    header walk must skip it by its own grammar (zero-terminated) and
    still verify the trailer. Built by hand since gzip_member doesn't
    expose it."""
    import zlib as _z

    body = b"warc-ish payload"
    co = _z.compressobj(6, _z.DEFLATED, -15)
    raw = co.compress(body) + co.flush()
    head = bytearray(b"\x1f\x8b\x08")
    head.append(16)  # FCOMMENT
    head += struct.pack("<I", 42) + b"\x00\xff"
    head += b"made by a real writer\x00"
    member = bytes(head) + raw + struct.pack(
        "<II", _z.crc32(body) & 0xFFFFFFFF, len(body)
    )
    assert W.gunzip_members(member) == [body]
    assert gzip.decompress(member) == body
    # unterminated comment -> corrupt, not a hang
    assert W.gunzip_members(bytes(head[:-1]) + raw) is None


def test_rejects_corrupt_members_and_records():
    good = W.synth_warc_gz_bytes(9)
    assert W.extract_warc_stats(good) is not None
    assert W.gunzip_members(b"") is None
    assert W.gunzip_members(b"\x1f\x8b") is None  # truncated header
    assert W.gunzip_members(good[:-1]) is None  # truncated trailer
    assert W.gunzip_members(good + b"x") is None  # trailing garbage
    bad = bytearray(good)
    bad[0] ^= 1
    assert W.gunzip_members(bytes(bad)) is None  # magic
    bad = bytearray(good)
    bad[2] = 9
    assert W.gunzip_members(bytes(bad)) is None  # CM != deflate
    bad = bytearray(good)
    bad[3] |= 0x20
    assert W.gunzip_members(bytes(bad)) is None  # reserved FLG bit
    # CRC32 flip: corrupt the first member's trailer (last 8 bytes of
    # the whole single-record archive for an id with 1 record)
    one = W.synth_warc_gz_bytes(0)  # 0 % 3 + 1 = 1 record
    bad = bytearray(one)
    bad[-8] ^= 0xFF
    assert W.gunzip_members(bytes(bad)) is None  # crc mismatch
    bad = bytearray(one)
    bad[-1] ^= 0xFF
    assert W.gunzip_members(bytes(bad)) is None  # isize mismatch
    # FHCRC mismatch: build with fhcrc and flip a header byte (MTIME)
    m = W.gzip_member(b"abc", 7, 1, fhcrc=True)
    bad = bytearray(m)
    bad[4] ^= 1
    assert W.gunzip_members(bytes(bad)) is None
    # members longer than one input slice, and a member starting
    # inside a slice, still split exactly
    body = bytes(range(256)) * 300
    m = W.gzip_member(body, 0, 0)
    assert W.gunzip_members(m) == [body]
    tail = W.gunzip_members(one)
    assert W.gunzip_members(m + m + one) == [body, body] + tail
    # deflate body cut before its final block: a two-block stored
    # member keeps only its first (non-final) block, with and without
    # the original trailer behind it
    assert not m[10] & 1  # first block is not BFINAL
    (first_len,) = struct.unpack("<H", m[11:13])
    cut = m[: 10 + 5 + first_len]
    assert W.gunzip_members(cut) is None
    assert W.gunzip_members(cut + m[-8:]) is None


def test_rejects_malformed_warc_grammar():
    body = b"hello world"
    rec = W.build_warc_record([("WARC-Type", "response")], body)
    assert W.parse_warc_record(rec) == ({"WARC-Type": "response",
                                         "Content-Length": "11"}, body)
    assert W.parse_warc_record(b"WARC/0.9\r\n\r\n\r\n\r\n") is None
    assert W.parse_warc_record(rec[:-1]) is None  # truncated terminator
    assert W.parse_warc_record(rec + b"x") is None  # trailing bytes
    assert W.parse_warc_record(rec.replace(b"Content-Length", b"X-Len")) is None
    # short body: declared length larger than the block
    assert W.parse_warc_record(
        rec.replace(b"Content-Length: 11", b"Content-Length: 99")
    ) is None
    # a member holding TWO records is not the Common Crawl layout
    two = W.gzip_member(rec + rec, 0, 1)
    assert W.extract_warc_stats(two) is None
    # ISO 28500 5.7: WARC-Concurrent-To is the one repeatable field —
    # repeats fold into a comma-joined value; any other duplicate is
    # structural corruption (r11 advice)
    multi = W.build_warc_record(
        [
            ("WARC-Type", "metadata"),
            ("WARC-Concurrent-To", "<urn:uuid:a>"),
            ("WARC-Concurrent-To", "<urn:uuid:b>"),
        ],
        body,
    )
    hdrs, got = W.parse_warc_record(multi)
    assert got == body
    assert hdrs["WARC-Concurrent-To"] == "<urn:uuid:a>, <urn:uuid:b>"
    dup = W.build_warc_record(
        [("WARC-Type", "response"), ("WARC-Type", "request")], body
    )
    assert W.parse_warc_record(dup) is None


def test_stats_null_for_corrupt_payload_in_stage():
    """The Spark stage contract: corrupt archives yield NULL stats,
    never an exception (mirrors every other decoder stage)."""
    assert W.extract_warc_stats(b"\x1f\x8b\x08 garbage") is None
    assert W.extract_warc_stats(b"") is None


def test_full_record_type_surface_on_the_wire():
    """The r13 rotation must actually emit all five CC record types,
    warcinfo records must carry WARC-Filename and NO target URI,
    and revisit records must carry profile/refers-to plus a REPEATED
    WARC-Concurrent-To that the parser folds comma-joined."""
    seen = {}
    for mid in range(40):
        members = W.gunzip_members(W.synth_warc_gz_bytes(mid))
        for member in members:
            headers, _body = W.parse_warc_record(member)
            seen.setdefault(headers["WARC-Type"], headers)
    assert set(seen) == {
        "response", "request", "metadata", "warcinfo", "revisit"
    }
    wi = seen["warcinfo"]
    assert "WARC-Target-URI" not in wi
    assert wi["WARC-Filename"].endswith(".warc.gz")
    assert wi["Content-Type"] == "application/warc-fields"
    rv = seen["revisit"]
    assert "revisit" in rv["WARC-Profile"]
    assert rv["WARC-Refers-To"].startswith("<urn:uuid:")
    assert rv["WARC-Concurrent-To"].count(",") == 1  # two fields folded
