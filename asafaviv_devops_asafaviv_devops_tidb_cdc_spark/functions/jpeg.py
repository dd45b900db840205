"""Baseline JPEG (ITU-T T.81) coefficient codec — the E5 family's
DCT-container decode, pure stdlib + numpy.

What is REAL here: the complete baseline entropy/structure layer —
marker walk (SOI/APPn/COM/DQT/DHT/SOF0/DRI/SOS/RSTn/EOI), 8-bit
quantization-table parse, canonical Huffman table construction from
the file's own DHT segments (BITS/HUFFVAL, MSB-first codes), entropy
decode with byte-unstuffing (FF 00) and restart-marker handling
(bit-realign + DC-predictor reset), DC difference prediction,
(run,size) AC run-length with ZRL and EOB, magnitude ("receive &
extend") decoding, zigzag-to-natural reordering, and dequantization.
Every step is integer-exact, so the driver's DuckDB oracle re-derives
the dequantized coefficient checksums from the synth formula and a
single bit of drift anywhere in the chain hash-fails the gate
(queries/llm_pipeline.py::q_jpeg_coeff_stats).

The inverse DCT + level shift (``decode_jpeg_pixels``) runs in
float64 and is pytest-pinned against a literal four-loop transcription
of the T.81 IDCT formula instead (cross-engine float hashing would be
brittle; the lossy transform is not oracle material).

Scope: 8-bit baseline, grayscale AND multi-component (YCbCr color)
single-scan interleaved frames — 4:4:4, 4:2:2 and 4:2:0 chroma
subsampling, per-component quantization tables and Huffman-table
selectors, interleaved MCU order with padding blocks for
non-MCU-aligned dimensions, and MCU-counted restart intervals that
reset every component's DC predictor (r11; decode_jpeg_components is
the general sequential decoder — SOF0 baseline and, since r11,
SOF1 extended sequential at 8 OR 12 bits with Pq=1 16-bit quant
tables — decode_jpeg_coefficients the strict grayscale view the r10
gate pinned) — AND 8-bit PROGRESSIVE (SOF2)
Huffman frames (r11; decode_jpeg_progressive): multi-scan spectral
selection, successive approximation (DC point transform + raw-bit
refinement, AC first/refinement scans with EOB-run coding and
correction bits), interleaved DC + non-interleaved AC grid
geometries, per-scan table/DRI redefinition. Arithmetic-coded,
hierarchical and 12-bit-PROGRESSIVE variants remain out of scope and
return None, as does any corrupt input (never a guess, never a misleading
raise; same contract as the BMP/PNG decoders in
functions/multimodal.py).

Reference parity note: the reference engine has no multimodal
operators at all (north-star E5); this module exists because a
100 TB training-data pipeline treats JPEG payloads as first-class
binary columns.
"""

from __future__ import annotations

import bisect
import functools
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

# T.81 Figure A.6 zigzag order: index = zigzag position, value =
# natural (row-major) position within the 8x8 block.
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


# ---------------------------------------------------------------------------
# synth formula (shared between encoder, decoder tests, and the
# DuckDB oracle in queries/llm_pipeline.py — keep the three in sync)
# ---------------------------------------------------------------------------

def quant_table_value(zigzag_pos: int) -> int:
    """The synth's quantization table in ZIGZAG order: 1..13 cycling —
    never zero, small enough that dequantized values stay in int16."""
    return (zigzag_pos % 13) + 1


def block_coefficients(media_id: int, k: int) -> dict[int, int]:
    """Quantized coefficients of block k (raster order) as
    {zigzag_pos: value}: one DC plus three ACs at formula-derived
    positions, every value nonzero, positions strictly ascending."""
    dc = ((media_id * 7 + k * 5) % 63) - 31
    p1 = 1 + (media_id + k) % 8  # 1..8
    p2 = 12 + (media_id * 2 + k) % 10  # 12..21
    p3 = 30 + (media_id + 3 * k) % 12  # 30..41
    a1 = ((media_id + 13 * k) % 19) - 9
    if a1 == 0:
        a1 = 5
    a2 = ((media_id * 3 + 7 * k) % 11) - 5
    if a2 == 0:
        a2 = -3
    a3 = ((media_id * 5 + k) % 7) - 3
    if a3 == 0:
        a3 = 2
    return {0: dc, p1: a1, p2: a2, p3: a3}


def image_geometry(media_id: int) -> tuple[int, int]:
    """(blocks_x, blocks_y) for the synth image: 1..3 x 1..3."""
    return media_id % 3 + 1, (media_id * 5) % 3 + 1


def chroma_quant_value(zigzag_pos: int) -> int:
    """The color synth's CHROMA quantization table in zigzag order:
    2..12 cycling — distinct from the luma table so a decoder that
    dequantizes Cb/Cr with the wrong table hash-fails the gate."""
    return (zigzag_pos % 11) + 2


def color_sampling(media_id: int) -> tuple[int, int]:
    """The Y component's (H, V) sampling factors for the color synth
    (chroma is always 1x1): id%3 = 0 -> 4:4:4 (1,1), 1 -> 4:2:2
    (2,1), 2 -> 4:2:0 (2,2)."""
    v = media_id % 3
    return (2 if v >= 1 else 1), (2 if v == 2 else 1)


def color_geometry(media_id: int) -> tuple[int, int, int, int]:
    """(width, height, mcux, mcuy) for the color synth image. The MCU
    grid is 1..2 x 1..2 and the pixel dims are deliberately NOT
    MCU-aligned (width = 8*H*mcux - id % (8*H), likewise height), so
    the rightmost/bottom MCU column carries padding blocks the
    interleaved scan must still encode and decode."""
    hy, vy = color_sampling(media_id)
    mcux = media_id % 2 + 1
    mcuy = (media_id // 2) % 2 + 1
    width = 8 * hy * mcux - media_id % (8 * hy)
    height = 8 * vy * mcuy - (media_id * 3) % (8 * vy)
    return width, height, mcux, mcuy


# ---------------------------------------------------------------------------
# encoder (synth side — builds complete valid baseline JPEGs)
# ---------------------------------------------------------------------------

def _flat_huffman(symbols: list[int]) -> tuple[bytes, bytes, dict[int, tuple[int, int]]]:
    """Flat-length canonical Huffman table over ``symbols``: every
    symbol gets the same code length L with 2^L > len(symbols), so the
    all-1-bits code stays unused (the T.81 convention) and the table is
    trivially valid-but-incomplete — DHT permits that. Returns the DHT
    (BITS, HUFFVAL) payload bytes plus symbol -> (length, code)."""
    n = len(symbols)
    length = 1
    while (1 << length) <= n:
        length += 1
    bits = bytearray(16)
    bits[length - 1] = n
    codes = {sym: (length, i) for i, sym in enumerate(sorted(symbols))}
    return bytes(bits), bytes(sorted(symbols)), codes


class _BitWriter:
    """MSB-first entropy-coded-segment writer with FF 00 byte
    stuffing (T.81 §B.1.1.5)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, width: int) -> None:
        # bulk append: shift the whole field in, drain full bytes —
        # one loop per OUTPUT byte instead of per input bit (the
        # encoder hot path; bit-for-bit identical stream)
        acc = (self.acc << width) | (value & ((1 << width) - 1))
        nbits = self.nbits + width
        out = self.out
        while nbits >= 8:
            nbits -= 8
            byte = (acc >> nbits) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 §F.1.2.3)."""
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, raw bits) for the T.81 'extend' coding: negative values
    are sent as v - 1 masked to size bits."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    raw = v if v > 0 else v + (1 << size) - 1
    return size, raw


def _mcu_units(comps: list[tuple[int, int, int]], mcux: int, mcuy: int):
    """T.81 interleaved scan order, shared by both encoders and both
    decoders (one copy of the index arithmetic): ``comps`` is
    [(component_index, H, V)] in scan order; returns one list per MCU
    of (component_index, padded-grid block index) — per MCU, each
    component contributes its V x H block sub-array row-major over a
    (mcux*H)-wide grid."""
    out = []
    for my in range(mcuy):
        for mx in range(mcux):
            u = []
            for ci, h, v in comps:
                for bv in range(v):
                    for bh in range(h):
                        u.append((ci, (my * v + bv) * (mcux * h) + mx * h + bh))
            out.append(u)
    return out


def encode_baseline_jpeg(
    width: int,
    height: int,
    blocks: list[dict[int, int]],
    restart_interval: int = 0,
    quant=quant_table_value,
    precision: int = 8,
) -> bytes:
    """Complete valid sequential grayscale JPEG from QUANTIZED
    coefficient blocks ({zigzag_pos: value}, raster order): real
    DQT/DHT/SOF/SOS segments, per-file Huffman tables embedded in DHT
    (the decoder must parse them, never assume Annex K), byte-stuffed
    entropy data, and optional DRI + RSTn restart markers (DC
    predictor resets, bit realign). ``precision`` 8 emits SOF0
    baseline with an 8-bit (Pq=0) quant table; 12 emits SOF1 extended
    sequential with a 16-bit (Pq=1) table — the entropy layer is
    byte-identical, which is exactly what the decoder must prove it
    handles (r11)."""
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    # symbol inventories for the two Huffman tables
    dc_sizes = set()
    ac_symbols = set()
    prev = 0
    for k, coeffs in enumerate(blocks):
        if restart_interval and k and k % restart_interval == 0:
            prev = 0
        dc_sizes.add(_magnitude(coeffs.get(0, 0) - prev)[0])
        prev = coeffs.get(0, 0)
        pos = sorted(p for p in coeffs if p and coeffs[p])
        last = 0
        for p in pos:
            run = p - last - 1
            while run > 15:
                ac_symbols.add(0xF0)  # ZRL
                run -= 16
            ac_symbols.add((run << 4) | _magnitude(coeffs[p])[0])
            last = p
        if last != 63:
            ac_symbols.add(0x00)  # EOB
    if not ac_symbols:
        ac_symbols.add(0x00)

    dc_bits, dc_vals, dc_codes = _flat_huffman(sorted(dc_sizes))
    ac_bits, ac_vals, ac_codes = _flat_huffman(sorted(ac_symbols))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    if precision == 8:
        qt = bytes(quant(p) for p in range(64))  # zigzag order
        out += seg(0xDB, b"\x00" + qt)  # DQT, Pq=0 Tq=0
        sof_marker = 0xC0  # SOF0 baseline
    else:
        qt = b"".join(struct.pack(">H", quant(p)) for p in range(64))
        out += seg(0xDB, b"\x10" + qt)  # DQT, Pq=1 Tq=0 (16-bit)
        sof_marker = 0xC1  # SOF1 extended sequential
    out += seg(
        sof_marker,
        bytes([precision]) + struct.pack(">HH", height, width)
        + b"\x01" + b"\x01\x11\x00",
    )
    out += seg(0xC4, b"\x00" + dc_bits + dc_vals)  # DHT DC table 0
    out += seg(0xC4, b"\x10" + ac_bits + ac_vals)  # DHT AC table 0
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")  # SOS

    bw = _BitWriter()
    prev = 0
    rst = 0
    for k, coeffs in enumerate(blocks):
        if restart_interval and k and k % restart_interval == 0:
            bw.align()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            prev = 0
        size, raw = _magnitude(coeffs.get(0, 0) - prev)
        prev = coeffs.get(0, 0)
        ln, code = dc_codes[size]
        bw.put(code, ln)
        if size:
            bw.put(raw, size)
        pos = sorted(p for p in coeffs if p and coeffs[p])
        last = 0
        for p in pos:
            run = p - last - 1
            while run > 15:
                ln, code = ac_codes[0xF0]
                bw.put(code, ln)
                run -= 16
            size, raw = _magnitude(coeffs[p])
            ln, code = ac_codes[(run << 4) | size]
            bw.put(code, ln)
            bw.put(raw, size)
            last = p
        if last != 63:
            ln, code = ac_codes[0x00]  # EOB
            bw.put(code, ln)
    bw.align()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def synth_jpeg_bytes(media_id: int) -> bytes:
    """One complete valid sequential JPEG from the id formula; ids
    divisible by 5 (with >2 blocks) carry DRI + restart markers every
    2 MCUs so the gate exercises predictor resets and bit realigns,
    and ids with media_id % 7 == 3 are emitted as 12-BIT SOF1 extended
    sequential (16-bit Pq=1 quant table) — same coefficients, same
    oracle, different container, so the gate proves the 12-bit parse
    path too (r11)."""
    bx, by = image_geometry(media_id)
    n_blocks = bx * by
    blocks = [block_coefficients(media_id, k) for k in range(n_blocks)]
    restart_interval = 2 if media_id % 5 == 0 and n_blocks > 2 else 0
    precision = 12 if media_id % 7 == 3 else 8
    return encode_baseline_jpeg(
        8 * bx, 8 * by, blocks, restart_interval, precision=precision
    )


def encode_color_jpeg(
    width: int,
    height: int,
    sampling: list[tuple[int, int]],
    comp_blocks: list[list[dict[int, int]]],
    restart_interval: int = 0,
    quants=(quant_table_value, chroma_quant_value),
) -> bytes:
    """Complete valid baseline MULTI-COMPONENT JPEG from QUANTIZED
    coefficient blocks. ``sampling`` is the per-component (H, V)
    factor list (>= 2 components; component 0 uses quant/Huffman
    table 0, all others share table 1 — the universal luma/chroma
    layout); ``comp_blocks[c]`` holds component c's blocks in ITS OWN
    raster order over the padded (mcux*H_c) x (mcuy*V_c) grid. The
    entropy segment is written in T.81 interleaved MCU order (per
    MCU: each component's V x H block sub-array, row-major), with
    optional DRI + RSTn restart markers every ``restart_interval``
    MCUs (all DC predictors reset, bitstream realigned)."""
    ncomp = len(sampling)
    if ncomp < 2:
        raise ValueError("encode_color_jpeg needs >= 2 components")
    if sum(h * v for h, v in sampling) > 10:
        raise ValueError("T.81 B.2.3: > 10 data units per MCU")
    tsel = [0] + [1] * (ncomp - 1)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    for c, (h, v) in enumerate(sampling):
        if len(comp_blocks[c]) != mcux * h * mcuy * v:
            raise ValueError("component block grid does not match sampling")

    def mcus() -> list[list[tuple[int, int]]]:
        """Interleaved scan order: per MCU, (component, block index in
        that component's raster grid) for each data unit."""
        return _mcu_units(
            [(c, h, v) for c, (h, v) in enumerate(sampling)], mcux, mcuy
        )

    # pass 1: symbol inventories for the four Huffman tables
    dc_syms: dict[int, set] = {0: set(), 1: set()}
    ac_syms: dict[int, set] = {0: set(), 1: set()}
    preds = [0] * ncomp
    for mi, units in enumerate(mcus()):
        if restart_interval and mi and mi % restart_interval == 0:
            preds = [0] * ncomp
        for c, bidx in units:
            coeffs = comp_blocks[c][bidx]
            t = tsel[c]
            dc_syms[t].add(_magnitude(coeffs.get(0, 0) - preds[c])[0])
            preds[c] = coeffs.get(0, 0)
            pos = sorted(p for p in coeffs if p and coeffs[p])
            last = 0
            for p in pos:
                run = p - last - 1
                while run > 15:
                    ac_syms[t].add(0xF0)
                    run -= 16
                ac_syms[t].add((run << 4) | _magnitude(coeffs[p])[0])
                last = p
            if last != 63:
                ac_syms[t].add(0x00)
    for t in (0, 1):
        if not ac_syms[t]:
            ac_syms[t].add(0x00)

    dc_tables = {t: _flat_huffman(sorted(dc_syms[t])) for t in (0, 1)}
    ac_tables = {t: _flat_huffman(sorted(ac_syms[t])) for t in (0, 1)}

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    for t in (0, 1):
        qt = bytes(quants[t](p) for p in range(64))  # zigzag order
        out += seg(0xDB, bytes([t]) + qt)  # DQT, Pq=0 Tq=t
    sof = bytearray(b"\x08" + struct.pack(">HH", height, width) + bytes([ncomp]))
    for c, (h, v) in enumerate(sampling):
        sof += bytes([c + 1, (h << 4) | v, tsel[c]])
    out += seg(0xC0, bytes(sof))  # SOF0 baseline
    for t in (0, 1):
        out += seg(0xC4, bytes([t]) + dc_tables[t][0] + dc_tables[t][1])
        out += seg(0xC4, bytes([0x10 | t]) + ac_tables[t][0] + ac_tables[t][1])
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))  # DRI
    sos = bytearray([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, (tsel[c] << 4) | tsel[c]])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))

    # pass 2: entropy-coded segment
    bw = _BitWriter()
    preds = [0] * ncomp
    rst = 0
    for mi, units in enumerate(mcus()):
        if restart_interval and mi and mi % restart_interval == 0:
            bw.align()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
            preds = [0] * ncomp
        for c, bidx in units:
            coeffs = comp_blocks[c][bidx]
            t = tsel[c]
            dc_codes = dc_tables[t][2]
            ac_codes = ac_tables[t][2]
            size, raw = _magnitude(coeffs.get(0, 0) - preds[c])
            preds[c] = coeffs.get(0, 0)
            ln, code = dc_codes[size]
            bw.put(code, ln)
            if size:
                bw.put(raw, size)
            pos = sorted(p for p in coeffs if p and coeffs[p])
            last = 0
            for p in pos:
                run = p - last - 1
                while run > 15:
                    ln, code = ac_codes[0xF0]
                    bw.put(code, ln)
                    run -= 16
                size, raw = _magnitude(coeffs[p])
                ln, code = ac_codes[(run << 4) | size]
                bw.put(code, ln)
                bw.put(raw, size)
                last = p
            if last != 63:
                ln, code = ac_codes[0x00]  # EOB
                bw.put(code, ln)
    bw.align()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def synth_color_jpeg_bytes(media_id: int) -> bytes:
    """One complete valid baseline YCbCr JPEG from the id formula:
    subsampling variant from color_sampling (4:4:4 / 4:2:2 / 4:2:0),
    non-MCU-aligned dims from color_geometry, component c's blocks
    seeded by block_coefficients(media_id*3 + c, k) over its padded
    grid, luma quant table 0 + chroma table 1. Ids with
    media_id % 5 == 0 and more than 2 MCUs carry DRI + restart
    markers every 2 MCUs (all-component DC resets, bit realigns)."""
    hy, vy = color_sampling(media_id)
    width, height, mcux, mcuy = color_geometry(media_id)
    sampling = [(hy, vy), (1, 1), (1, 1)]
    comp_blocks = []
    for c, (h, v) in enumerate(sampling):
        n = mcux * h * mcuy * v
        comp_blocks.append(
            [block_coefficients(media_id * 3 + c, k) for k in range(n)]
        )
    restart_interval = 2 if media_id % 5 == 0 and mcux * mcuy > 2 else 0
    return encode_color_jpeg(width, height, sampling, comp_blocks, restart_interval)


def progressive_true_grid(
    width: int, height: int, h: int, v: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """(tw, th) block grid of a component in a NON-INTERLEAVED scan
    (T.81 A.2.2): the component's true dims are ceil-scaled from the
    frame dims (A.1.1), then ceil-divided by 8 — NOT the padded
    (mcux*h) x (mcuy*v) grid interleaved scans use. The mismatch
    between the two grids (progressive AC scans never visit the MCU
    padding blocks; the interleaved DC scan does) is a classic
    decoder trap and is deliberately exercised by the synth's
    non-MCU-aligned dims."""
    cw = -(-(width * h) // hmax)
    ch = -(-(height * v) // vmax)
    return -(-cw // 8), -(-ch // 8)


def progressive_scan_script(ncomp: int) -> list[tuple[list[int], int, int, int, int]]:
    """The synth's fixed scan script: (component indices, Ss, Se, Ah,
    Al) per scan. Deliberately exercises every progressive mode:
    interleaved DC first scan with a point transform (Al=1), raw-bit
    DC refinement, spectral-selection band splits, an Al=1 first pass
    + Ah=1->Al=0 refinement for components 0-1, and a single
    full-precision (Al=0) AC scan for component 2."""
    if ncomp == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 30, 0, 1),
            ([0], 0, 0, 1, 0),
            ([0], 31, 63, 0, 0),
            ([0], 1, 30, 1, 0),
        ]
    return [
        (list(range(ncomp)), 0, 0, 0, 1),
        ([0], 1, 20, 0, 1),
        ([1], 1, 63, 0, 1),
        ([2], 1, 63, 0, 0),
        (list(range(ncomp)), 0, 0, 1, 0),
        ([0], 21, 63, 0, 1),
        ([0], 1, 20, 1, 0),
        ([0], 21, 63, 1, 0),
        ([1], 1, 63, 1, 0),
    ]


def encode_progressive_jpeg(
    width: int,
    height: int,
    sampling: list[tuple[int, int]],
    comp_blocks: list[list[dict[int, int]]],
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
    restart_interval: int = 0,
    quants=(quant_table_value, chroma_quant_value),
) -> bytes:
    """Complete valid PROGRESSIVE JPEG (SOF2, T.81 Annex G Huffman
    mode) from QUANTIZED coefficient blocks. ``comp_blocks[c]`` is
    component c's PADDED (mcux*H_c) x (mcuy*V_c) raster grid (the
    interleaved DC scan covers padding blocks; AC scans, being
    non-interleaved, walk only the true ceil(cw/8) x ceil(ch/8)
    grid — see progressive_true_grid). Implements the full G.1.2
    entropy repertoire: DC first scans with point transform
    (arithmetic shift) and DC difference prediction, raw-bit DC
    refinement scans, AC first scans with EOB-run accumulation
    (EOBn symbols + extension bits) and the AC point transform
    (magnitude truncation), and AC refinement scans with
    newly-significant insertion, ZRL over zero-HISTORY runs, and
    buffered correction bits (the jcphuff.c ordering discipline:
    ZRLs are emitted at the next significant coefficient while
    k <= EOB, each followed by the bits buffered so far). Every scan
    carries its own DHT (tables are redefined per scan — the shape
    real progressive files have); DRI + RSTn restart markers (every
    ``restart_interval`` MCUs / data units, EOB runs flushed, all DC
    predictors reset, RST numbering restarting at D0 per scan) when
    requested."""
    ncomp = len(sampling)
    if ncomp == 1 and sampling[0] != (1, 1):
        raise ValueError("single-component frames must be 1x1 sampled")
    if sum(h * v for h, v in sampling) > 10:
        raise ValueError("T.81 B.2.3: > 10 data units per MCU")
    if scans is None:
        scans = progressive_scan_script(ncomp)
    tsel = [0] + [1] * (ncomp - 1)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    for c, (h, v) in enumerate(sampling):
        if len(comp_blocks[c]) != mcux * h * mcuy * v:
            raise ValueError("component block grid does not match sampling")

    _units_cache: dict[tuple[int, ...], list] = {}

    def units_for_scan(comps: list[int]) -> list[list[tuple[int, int]]]:
        """One entry per restart-counted data unit: the (component,
        padded-grid block index) list it covers — an MCU for
        interleaved scans, a single true-grid block otherwise. Cached
        per component set: the geometry is fixed for the frame, and
        the 9-scan script revisits each component's unit list up to
        six times."""
        key = tuple(comps)
        units = _units_cache.get(key)
        if units is not None:
            return units
        if len(comps) > 1:
            units = _mcu_units(
                [(c, sampling[c][0], sampling[c][1]) for c in comps],
                mcux, mcuy,
            )
        else:
            c = comps[0]
            h, v = sampling[c]
            tw, th = progressive_true_grid(width, height, h, v, hmax, vmax)
            gx = mcux * h
            units = [[(c, y * gx + x)] for y in range(th) for x in range(tw)]
        _units_cache[key] = units
        return units

    # per-component sparse views, built once and shared by every AC
    # scan that touches the component (6 of the 9 script scans): the
    # band loops below walk only the NONZERO coefficients and derive
    # zero runs from position gaps — per-block cost proportional to
    # the block's support, not the band width (the r13->r14 hot-path
    # rework; the emitted op stream is bit-for-bit unchanged)
    comp_items: dict[int, list[list[tuple[int, int]]]] = {}

    def items_for(c: int) -> list[list[tuple[int, int]]]:
        if c not in comp_items:
            comp_items[c] = [sorted(d.items()) for d in comp_blocks[c]]
        return comp_items[c]

    def scan_ops(scan) -> tuple[list[tuple], dict]:
        """The scan's entropy stream as an op list — the Huffman
        symbol inventory is collected AS ops are built (one pass),
        then the caller derives tables and replays the ops to write
        bits. Ops: ("sym", class, table_id, symbol),
        ("bits", value, n), ("rst",)."""
        comps, ss, se, ah, al = scan
        ops: list[tuple] = []
        syms: dict[tuple[int, int], set] = {}
        eobrun = 0
        eob_bits: list[int] = []

        def sym(cls: int, tid: int, s: int) -> None:
            ops.append(("sym", cls, tid, s))
            syms.setdefault((cls, tid), set()).add(s)

        def flush_eob(tid: int) -> None:
            nonlocal eobrun, eob_bits
            if eobrun:
                r = eobrun.bit_length() - 1
                sym(1, tid, r << 4)
                if r:
                    ops.append(("bits", eobrun - (1 << r), r))
                for bit in eob_bits:
                    ops.append(("bits", bit, 1))
                eobrun = 0
                eob_bits = []

        unit_list = units_for_scan(comps)
        if ss == 0:  # DC scan (Se == 0 enforced by the script)
            preds = {c: 0 for c in comps}
            for ui, unit in enumerate(unit_list):
                if restart_interval and ui and ui % restart_interval == 0:
                    ops.append(("rst",))
                    preds = {c: 0 for c in comps}
                for c, bidx in unit:
                    dc = comp_blocks[c][bidx].get(0, 0) >> al  # arithmetic
                    if ah == 0:
                        size, raw = _magnitude(dc - preds[c])
                        preds[c] = dc
                        sym(0, tsel[c], size)
                        if size:
                            ops.append(("bits", raw, size))
                    else:  # refinement: one raw bit, no Huffman
                        ops.append(("bits", dc & 1, 1))
            return ops, syms

        # AC scan: single component
        c = comps[0]
        tid = tsel[c]
        grid_items = items_for(c)
        for ui, unit in enumerate(unit_list):
            if restart_interval and ui and ui % restart_interval == 0:
                flush_eob(tid)
                ops.append(("rst",))
            (_, bidx), = unit
            # the band's nonzero support after the point transform;
            # every position NOT listed has t == 0 (v may be a small
            # nonzero truncated to zero at this bit plane — same run
            # semantics either way)
            band = [
                (k, v, abs(v) >> al)
                for k, v in grid_items[bidx]
                if ss <= k <= se
            ]
            if ah == 0:  # first scan: point transform toward zero
                prev = ss - 1
                for k, v, t in band:
                    if t == 0:
                        continue
                    r = k - prev - 1
                    prev = k
                    flush_eob(tid)
                    while r > 15:
                        sym(1, tid, 0xF0)
                        r -= 16
                    size, raw = _magnitude(t if v > 0 else -t)
                    sym(1, tid, (r << 4) | size)
                    ops.append(("bits", raw, size))
                if prev < se:  # trailing zero run folds into the EOB run
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob(tid)
                continue
            # refinement scan
            nz = [(k, v, t) for k, v, t in band if t > 0]
            eob_pos = ss - 1
            for k, _, t in nz:
                if t == 1:  # newly significant at this bit plane
                    eob_pos = k
            r = 0
            prev = ss - 1
            pend: list[int] = []
            for k, v, t in nz:
                r += k - prev - 1  # t==0 positions since the last t>0
                prev = k
                # ZRLs are emitted at the next nonzero position while a
                # later newly-significant coefficient exists (k <= EOB);
                # otherwise the zeros fold into the EOB run
                while r > 15 and k <= eob_pos:
                    flush_eob(tid)
                    sym(1, tid, 0xF0)
                    r -= 16
                    for bit in pend:
                        ops.append(("bits", bit, 1))
                    pend = []
                if t > 1:  # already significant: buffer a correction bit
                    pend.append(t & 1)
                    continue
                flush_eob(tid)
                sym(1, tid, (r << 4) | 1)
                ops.append(("bits", 1 if v > 0 else 0, 1))
                for bit in pend:
                    ops.append(("bits", bit, 1))
                pend = []
                r = 0
            r += se - prev  # trailing t==0 positions
            if r or pend:
                eobrun += 1
                eob_bits.extend(pend)
                if eobrun == 0x7FFF:
                    flush_eob(tid)
        flush_eob(tid)
        return ops, syms

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    for t in sorted({tsel[c] for c in range(ncomp)}):
        qt = bytes(quants[t](p) for p in range(64))  # zigzag order
        out += seg(0xDB, bytes([t]) + qt)
    sof = bytearray(b"\x08" + struct.pack(">HH", height, width) + bytes([ncomp]))
    for c, (h, v) in enumerate(sampling):
        sof += bytes([c + 1, (h << 4) | v, tsel[c]])
    out += seg(0xC2, bytes(sof))  # SOF2 progressive
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))  # DRI

    for scan in scans:
        comps, ss, se, ah, al = scan
        # per-scan Huffman tables from this scan's symbol inventory
        # (collected while the ops were built — no second pass)
        ops, syms = scan_ops(scan)
        tables = {}
        for (cls, tid), ss_set in sorted(syms.items()):
            bits_, vals_, codes = _flat_huffman(sorted(ss_set))
            tables[(cls, tid)] = codes
            out += seg(0xC4, bytes([(cls << 4) | tid]) + bits_ + vals_)
        sos = bytearray([len(comps)])
        for c in comps:
            td = tsel[c] if ss == 0 and ah == 0 else 0
            ta = tsel[c] if ss > 0 else 0
            sos += bytes([c + 1, (td << 4) | ta])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, bytes(sos))
        bw = _BitWriter()
        rst = 0
        for op in ops:
            if op[0] == "sym":
                ln, code = tables[(op[1], op[2])][op[3]]
                bw.put(code, ln)
            elif op[0] == "bits":
                bw.put(op[1], op[2])
            else:  # restart marker
                bw.align()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
        bw.align()
        out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def synth_progressive_jpeg_bytes(media_id: int) -> bytes:
    """One complete valid PROGRESSIVE YCbCr JPEG from the id formula:
    the same subsampling/geometry/coefficient formulas as the color
    baseline synth (color_sampling / color_geometry /
    block_coefficients seeded media_id*3 + c), but the coefficients
    live at TRUE-grid raster indices (progressive AC scans never
    carry the MCU padding blocks, whose DC the interleaved DC scan
    sends as zero), encoded through the 9-scan progressive_scan_script
    with per-scan Huffman tables. Ids with media_id % 5 == 0 and more
    than 2 MCUs carry DRI + restart markers every 2 data units in
    EVERY scan (EOB runs flushed at each boundary)."""
    hy, vy = color_sampling(media_id)
    width, height, mcux, mcuy = color_geometry(media_id)
    sampling = [(hy, vy), (1, 1), (1, 1)]
    comp_blocks = []
    for c, (h, v) in enumerate(sampling):
        tw, th = progressive_true_grid(width, height, h, v, hy, vy)
        gx, gy = mcux * h, mcuy * v
        grid = []
        for y in range(gy):
            for x in range(gx):
                if x < tw and y < th:
                    grid.append(block_coefficients(media_id * 3 + c, y * tw + x))
                else:
                    grid.append({0: 0})  # MCU padding block
        comp_blocks.append(grid)
    restart_interval = 2 if media_id % 5 == 0 and mcux * mcuy > 2 else 0
    return encode_progressive_jpeg(
        width, height, sampling, comp_blocks,
        restart_interval=restart_interval,
    )


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

@functools.lru_cache(maxsize=512)
def _dht_table(bits: bytes, vals: bytes) -> tuple[list[int], int]:
    """Canonical JPEG Huffman decode table from a DHT segment's
    BITS/HUFFVAL (T.81 Annex C), laid out FLAT for O(1) decode: a
    list of ``1 << max_len`` entries indexed by the next ``max_len``
    input bits (MSB-first — JPEG's bit order, so the fill per code is
    one contiguous slice). Entry = ``sym << 5 | code_len`` (lengths
    <= 16 need 5 bits); 0 marks a pattern no code covers. Returns
    (table, max_len). Memoized on the raw BITS/HUFFVAL bytes — real
    corpora reuse a handful of tables across millions of images
    (libjpeg ships two standard pairs), so most DHT segments skip
    construction entirely."""
    max_len = max((ln for ln in range(1, 17) if bits[ln - 1]), default=0)
    if max_len == 0:
        return [], 0
    size = 1 << max_len
    table = [0] * size
    code = 0
    idx = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            # a corrupt DHT can declare more codes than a prefix code
            # of these lengths admits (over-subscribed BITS): the next
            # code would run past the table — slice assignment would
            # silently APPEND (and clobber nothing or everything); the
            # module's posture is fail-loud on corrupt tables instead
            # (r13 ADVICE)
            if code >= (1 << length):
                raise _Undecodable("over-subscribed DHT BITS")
            base = code << (max_len - length)
            fill = 1 << (max_len - length)
            table[base : base + fill] = [(vals[idx] << 5) | length] * fill
            code += 1
            idx += 1
        code <<= 1
    return table, max_len


class _Undecodable(Exception):
    pass


def _skip_stuffed(data: bytes, pos: int) -> int:
    """Skip stuffed FF 00 pairs before a marker: the final 1-padding
    byte of an entropy segment may legally be 0xFF, which the encoder
    must write as FF 00 (T.81 B.1.1.5) — a marker seek that does not
    skip it misreads a valid stream as corrupt."""
    while data[pos : pos + 2] == b"\xff\x00":
        pos += 2
    return pos


class _BitReader:
    """MSB-first entropy-coded-segment reader: un-stuffs FF 00,
    surfaces RSTn markers, stops at any other marker. Bits buffer in a
    multi-byte accumulator filled in bulk (``_fill``), so one Huffman
    symbol costs one table index instead of a per-bit walk; the fill
    stops silently at markers/EOF and the consumers raise only when a
    read actually needs bits that are not there — identical strictness
    to the per-bit reader, ~5x less interpreter work."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self, want: int) -> None:
        """Buffer input bits until ``want`` are available, stopping
        (without error) at a marker or EOF. One byte per step keeps
        the over-pull bounded to < 8 bits past ``want``."""
        d = self.data
        n = len(d)
        acc, nb, p = self.acc, self.nbits, self.pos
        while nb < want:
            if p >= n:
                break
            byte = d[p]
            if byte == 0xFF:
                if p + 1 < n and d[p + 1] == 0x00:  # stuffed data byte
                    p += 2
                else:
                    break  # marker (or truncated FF): stop filling
            else:
                p += 1
            acc = ((acc << 8) | byte) & 0xFFFFFF
            nb += 8
        self.acc, self.nbits, self.pos = acc, nb, p

    def rewind_unused(self) -> None:
        """Hand buffered-but-unconsumed WHOLE bytes back to the byte
        stream (walking stuffed FF 00 pairs as the one byte they
        carry — a raw 0xFF data byte is ALWAYS stuffed, so the pair is
        unambiguous) and discard the sub-byte remainder (the <8
        padding bits the old per-bit reader also discarded). Callers
        use this at entropy-segment boundaries, where byte positions
        become meaningful again."""
        d = self.data
        p = self.pos
        for _ in range(self.nbits >> 3):
            if d[p - 2 : p] == b"\xff\x00":
                p -= 2
            else:
                p -= 1
        self.pos = p
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        nb = self.nbits
        if nb == 0:
            self._fill(1)
            nb = self.nbits
            if nb == 0:
                raise _Undecodable
        self.nbits = nb - 1
        return (self.acc >> (nb - 1)) & 1

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
            if self.nbits < n:
                raise _Undecodable
        nb = self.nbits - n
        self.nbits = nb
        return (self.acc >> nb) & ((1 << n) - 1)

    def symbol(self, table: tuple[list[int], int]) -> int:
        tbl, mlen = table
        nb = self.nbits
        if nb < mlen:
            self._fill(mlen)
            nb = self.nbits
        if nb >= mlen:
            idx = (self.acc >> (nb - mlen)) & ((1 << mlen) - 1)
        else:
            # segment end: a code of length <= nb is still decodable;
            # zero-padding selects the right entry, whose length check
            # below rejects anything needing the missing bits
            idx = (self.acc << (mlen - nb)) & ((1 << mlen) - 1)
        entry = tbl[idx] if mlen else 0
        ln = entry & 31
        if ln == 0 or ln > nb:
            raise _Undecodable
        self.nbits = nb - ln
        return entry >> 5

    def restart(self, expect: int) -> None:
        """Consume an RSTn marker at a byte boundary (discarding the
        1-padding bits before it). A padding byte of all 1-bits is a
        legal 0xFF and arrives stuffed as FF 00 (B.1.1.5) — skip such
        pairs while seeking the marker."""
        self.rewind_unused()
        self.pos = _skip_stuffed(self.data, self.pos)
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise _Undecodable
        if d[self.pos + 1] != 0xD0 + expect:
            raise _Undecodable
        self.pos += 2


def _extend(raw: int, size: int) -> int:
    """T.81 EXTEND: size-bit raw value -> signed coefficient."""
    if size == 0:
        return 0
    if raw >> (size - 1):
        return raw
    return raw - (1 << size) + 1


def decode_jpeg_components(payload: bytes):
    """Decode a baseline JPEG — grayscale OR multi-component
    interleaved single-scan — to DEQUANTIZED coefficient blocks:
    returns (width, height, comps) where comps is a list of
    (comp_id, h, v, blocks) in frame order and ``blocks`` is that
    component's padded-grid raster list of {zigzag_pos: dequantized
    int}. For Nf >= 2 the grid is (mcux*h) x (mcuy*v) — padding
    blocks from non-MCU-aligned dims included, exactly as the
    bitstream carries them; the entropy segment is read in T.81
    interleaved MCU order with per-component DC predictors, and
    restart intervals count MCUs (all predictors reset). Every step
    is integer-exact — the oracle-checkable half of JPEG decode.
    Handles SOF0 baseline (8-bit, Pq=0 quant tables) AND SOF1
    extended sequential (8 or 12 bit, Pq=0/1 tables, DC SSSS up to
    15) — the entropy layer is identical (r11). Returns None for
    anything corrupt or out of scope (progressive, arithmetic,
    hierarchical, >3 components, >10 data units per MCU)."""
    b = payload or b""
    if b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    precision = 8
    frame_comps = None  # [(comp_id, h, v, tq)] in frame order
    scan_sel = None  # [(dc_sel, ac_sel)] aligned with frame order
    restart_interval = 0
    try:
        while True:
            if pos + 4 > len(b) or b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:  # EOI before SOS
                return None
            (seg_len,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + seg_len]
            if len(seg) != seg_len - 2:
                return None
            pos += 2 + seg_len
            if marker == 0xDB:  # DQT (possibly several tables)
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0x0F
                    if pq == 0:
                        vals = list(seg[i + 1 : i + 65])
                        if len(vals) != 64:
                            return None
                        i += 65
                    elif pq == 1:  # 16-bit table (12-bit frames, B.2.4.1)
                        raw = seg[i + 1 : i + 129]
                        if len(raw) != 128:
                            return None
                        vals = [
                            (raw[2 * j] << 8) | raw[2 * j + 1]
                            for j in range(64)
                        ]
                        i += 129
                    else:
                        return None
                    qtables[tq] = vals
            elif marker == 0xC4:  # DHT (possibly several tables)
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0x0F
                    bits = seg[i + 1 : i + 17]
                    n = sum(bits)
                    vals = seg[i + 17 : i + 17 + n]
                    if len(vals) != n:
                        return None
                    htables[(tc, th)] = _dht_table(bytes(bits), bytes(vals))
                    i += 17 + n
            elif marker in (0xC0, 0xC1):
                # SOF0 baseline (8-bit only, T.81 B.2.2) or SOF1
                # extended sequential (8 or 12 bit) — the Huffman
                # entropy layer is identical; only the precision byte,
                # the quant-table precision option and the DC
                # magnitude bound differ (r11: 12-bit support)
                precision = seg[0]
                if marker == 0xC0 and precision != 8:
                    return None
                if marker == 0xC1 and precision not in (8, 12):
                    return None
                height, width = struct.unpack(">HH", seg[1:5])
                nf = seg[5]
                if not 1 <= nf <= 3 or len(seg) != 6 + 3 * nf:
                    return None
                frame_comps = []
                for i in range(nf):
                    cid = seg[6 + 3 * i]
                    h, v = seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 0x0F
                    if not (1 <= h <= 4 and 1 <= v <= 4):
                        return None
                    frame_comps.append((cid, h, v, seg[8 + 3 * i]))
                if len({c[0] for c in frame_comps}) != nf:
                    return None  # duplicate component ids
                if nf == 1 and frame_comps[0][1:3] != (1, 1):
                    return None  # single component: no subsampling
                if nf > 1 and sum(h * v for _, h, v, _ in frame_comps) > 10:
                    return None  # T.81 B.2.3 MCU data-unit cap
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-sequential frame types: out of scope
            elif marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS
                if frame_comps is None:
                    return None
                ns = seg[0]
                # single full interleaved scan only (Ns == Nf), scan
                # components in frame order (T.81 B.2.3)
                if ns != len(frame_comps) or len(seg) != 1 + 2 * ns + 3:
                    return None
                scan_sel = []
                for i, (cid, _, _, _) in enumerate(frame_comps):
                    if seg[1 + 2 * i] != cid:
                        return None
                    sel = seg[2 + 2 * i]
                    scan_sel.append((sel >> 4, sel & 0x0F))
                if seg[1 + 2 * ns :] != b"\x00\x3f\x00":
                    return None
                break
            # APPn / COM / anything else with a length: skipped
        if None in (width, height) or width == 0 or height == 0:
            return None
        nf = len(frame_comps)
        qts, dc_ts, ac_ts = [], [], []
        for (cid, h, v, tq), (dc_sel, ac_sel) in zip(frame_comps, scan_sel):
            if tq not in qtables:
                return None
            if (0, dc_sel) not in htables or (1, ac_sel) not in htables:
                return None
            qts.append(qtables[tq])
            dc_ts.append(htables[(0, dc_sel)])
            ac_ts.append(htables[(1, ac_sel)])
        if nf == 1:
            cols = (width + 7) // 8
            rows = (height + 7) // 8
            grids = [(cols, rows)]
        else:
            hmax = max(h for _, h, _, _ in frame_comps)
            vmax = max(v for _, _, v, _ in frame_comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            grids = [(mcux * h, mcuy * v) for _, h, v, _ in frame_comps]
        # forged-dims guard BEFORE any O(width*height) allocation:
        # every data unit costs at least one Huffman symbol = one bit
        # of entropy data, so a grid larger than 8x the remaining
        # payload bytes cannot be backed by a complete scan — reject
        # a tiny payload claiming 65535x65535 in microseconds instead
        # of preallocating gigabytes (r11 review finding)
        total_units = sum(gx * gy for gx, gy in grids)
        if total_units > 8 * (len(b) - pos):
            return None
        if nf == 1:
            mcu_units = [[(0, k)] for k in range(total_units)]
        else:
            mcu_units = _mcu_units(
                [(ci, h, v) for ci, (_, h, v, _) in enumerate(frame_comps)],
                mcux, mcuy,
            )
        n_mcus = len(mcu_units)
        comp_blocks: list[list] = [
            [None] * (gx * gy) for gx, gy in grids
        ]
        reader = _BitReader(b, pos)
        preds = [0] * nf
        rst = 0
        for mi in range(n_mcus):
            if restart_interval and mi and mi % restart_interval == 0:
                reader.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * nf
            for ci, bidx in mcu_units[mi]:
                qt = qts[ci]
                size = reader.symbol(dc_ts[ci])
                if size > (11 if precision == 8 else 15):
                    return None  # T.81 F.1.2.1.2: DC SSSS bound
                diff = _extend(reader.bits(size), size)
                preds[ci] += diff
                coeffs = {0: preds[ci] * qt[0]}
                p = 0
                while p < 63:
                    sym = reader.symbol(ac_ts[ci])
                    if sym == 0x00:  # EOB
                        break
                    run, size = sym >> 4, sym & 0x0F
                    if size == 0:
                        if run != 15:  # only ZRL may have size 0
                            return None
                        p += 16
                        if p > 63:
                            return None
                        continue
                    if size > (10 if precision == 8 else 14):
                        return None  # T.81 F.1.2.2.1: AC SSSS bound
                    p += run + 1
                    if p > 63:
                        return None
                    coeffs[p] = _extend(reader.bits(size), size) * qt[p]
                comp_blocks[ci][bidx] = coeffs
        # entropy data must end at EOI (after 1-padding to the byte
        # boundary — an all-1s padding byte arrives stuffed as FF 00);
        # trailing garbage is corruption. rewind_unused hands back the
        # bulk-fill's over-pulled whole bytes first, so a garbage byte
        # the filler happened to buffer still fails the check.
        reader.rewind_unused()
        eoi_pos = _skip_stuffed(b, reader.pos)
        if b[eoi_pos : eoi_pos + 2] != b"\xff\xd9":
            return None
        return (
            int(width),
            int(height),
            [
                (cid, h, v, blocks)
                for (cid, h, v, _), blocks in zip(frame_comps, comp_blocks)
            ],
        )
    except (_Undecodable, struct.error, IndexError):
        return None


def _peek_frame_header(b: bytes):
    """(SOFn marker byte, sample precision, component count) from one
    cheap marker walk, or None — lets the wrappers dispatch
    sequential vs progressive and reject wrong-component-count or
    wrong-precision payloads WITHOUT a full entropy decode (r11
    review finding: the grayscale wrapper was fully entropy-decoding
    3-component images just to discard them, and the pixel path paid
    two marker walks per corrupt payload)."""
    if b[:2] != b"\xff\xd8":
        return None
    pos = 2
    try:
        while pos + 4 <= len(b) and b[pos] == 0xFF:
            marker = b[pos + 1]
            if marker == 0xD9:
                return None
            (seg_len,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                seg = b[pos + 4 : pos + 2 + seg_len]
                if len(seg) < 6:
                    return None
                return marker, seg[0], seg[5]
            pos += 2 + seg_len
    except struct.error:
        return None
    return None


def decode_jpeg_coefficients(payload: bytes):
    """Decode a baseline single-component JPEG to its DEQUANTIZED
    coefficient blocks: returns (width, height, blocks) where blocks
    is a list (raster order) of {zigzag_pos: dequantized int}. The
    strict grayscale view over decode_jpeg_components — the shape the
    r10 gate pinned (queries/llm_pipeline.py::q_jpeg_coeff_stats).
    Returns None for anything corrupt, for multi-component frames
    (decode those via decode_jpeg_components), and for out-of-scope
    variants (progressive, arithmetic). 12-bit SOF1 frames decode
    (r11) — same entropy layer, wider DC bound, Pq=1 tables."""
    head = _peek_frame_header(payload or b"")
    if head is None or head[0] not in (0xC0, 0xC1) or head[2] != 1:
        return None  # cheap bail: no 3-component entropy decode
    dec = decode_jpeg_components(payload)
    if dec is None:
        return None
    width, height, comps = dec
    if len(comps) != 1:
        return None
    _, h, v, blocks = comps[0]
    if (h, v) != (1, 1):
        return None
    return width, height, blocks


def decode_jpeg_progressive(payload: bytes):
    """Decode a PROGRESSIVE JPEG (SOF2, Huffman-coded — T.81 Annex G)
    to DEQUANTIZED coefficient blocks, same return shape as
    decode_jpeg_components: (width, height, [(comp_id, h, v, blocks)])
    with ``blocks`` the component's padded (mcux*h) x (mcuy*v) raster
    grid of {zigzag_pos: dequantized int} (interleaved DC scans cover
    the MCU padding blocks; non-interleaved scans walk only the true
    ceil-grid — progressive_true_grid). Implements the full G.1.2
    multi-scan machinery: interleaved/non-interleaved DC first scans
    with point transform and DC prediction, raw-bit DC refinement,
    AC first scans with EOB runs (EOBn + extension bits) and ZRL,
    AC refinement with correction bits on nonzero-history
    coefficients, newly-significant ±(1<<Al) insertion and EOB-run
    correction sweeps; per-scan DHT/DQT/DRI redefinition; restart
    markers (per-scan RST numbering, predictors and EOB runs reset,
    EOB runs must not span a boundary). Scan-script discipline is
    enforced per coefficient: a first scan (Ah=0) may only touch
    never-sent coefficients, a refinement must have Ah equal to the
    coefficient's current point transform and Al = Ah-1, and a
    component's AC scans must follow its first DC scan — violations
    return None. Returns None for anything corrupt or out of scope
    (baseline SOF0 — use decode_jpeg_components — arithmetic,
    hierarchical, 12-bit, >3 components). A spec-legal TRUNCATED
    progression (EOI before all refinements) still returns None here:
    the gate decoder demands the complete stream it was handed, never
    a partial-precision guess."""
    b = payload or b""
    if b[:2] != b"\xff\xd8":
        return None
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    width = height = None
    frame_comps = None  # [(comp_id, h, v, tq)] in frame order
    restart_interval = 0
    coef: list[list[list[int]]] = []  # quantized, point-transformed
    nzb: list[list[list[int]]] = []  # per comp, per block: sorted nonzero AC positions
    units_cache: dict[tuple[int, ...], list] = {}
    dc_al: list[int | None] = []  # per comp: DC's current Al (None = unsent)
    ac_al: list[list[int | None]] = []  # per comp, per zigzag pos 1..63
    hmax = vmax = mcux = mcuy = 0
    try:
        while True:
            if pos + 2 > len(b) or b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if pos + 4 > len(b):
                return None
            (seg_len,) = struct.unpack(">H", b[pos + 2 : pos + 4])
            seg = b[pos + 4 : pos + 2 + seg_len]
            if len(seg) != seg_len - 2:
                return None
            pos += 2 + seg_len
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0x0F
                    if pq != 0:
                        return None
                    vals = list(seg[i + 1 : i + 65])
                    if len(vals) != 64:
                        return None
                    qtables[tq] = vals
                    i += 65
            elif marker == 0xC4:  # DHT (redefinable between scans)
                i = 0
                while i + 17 <= len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0x0F
                    bits = seg[i + 1 : i + 17]
                    n = sum(bits)
                    vals = seg[i + 17 : i + 17 + n]
                    if len(vals) != n:
                        return None
                    htables[(tc, th)] = _dht_table(bytes(bits), bytes(vals))
                    i += 17 + n
            elif marker == 0xC2:  # SOF2 progressive
                if frame_comps is not None:
                    return None
                if seg[0] != 8:
                    return None
                height, width = struct.unpack(">HH", seg[1:5])
                if width == 0 or height == 0:
                    return None
                nf = seg[5]
                if not 1 <= nf <= 3 or len(seg) != 6 + 3 * nf:
                    return None
                frame_comps = []
                for i in range(nf):
                    cid = seg[6 + 3 * i]
                    h, v = seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 0x0F
                    if not (1 <= h <= 4 and 1 <= v <= 4):
                        return None
                    frame_comps.append((cid, h, v, seg[8 + 3 * i]))
                if len({c[0] for c in frame_comps}) != nf:
                    return None
                if nf == 1 and frame_comps[0][1:3] != (1, 1):
                    return None
                if nf > 1 and sum(h * v for _, h, v, _ in frame_comps) > 10:
                    return None
                hmax = max(h for _, h, _, _ in frame_comps)
                vmax = max(v for _, _, v, _ in frame_comps)
                mcux = -(-width // (8 * hmax))
                mcuy = -(-height // (8 * vmax))
                # forged-dims guard BEFORE any O(width*height)
                # allocation: a complete progression needs a DC scan
                # covering every padded block at >= 1 bit per data
                # unit, so grids larger than 8x the remaining payload
                # bytes cannot be backed by the stream — reject cheap
                # (r11 review finding, same bound as the baseline
                # decoder)
                total = sum(
                    mcux * h * mcuy * v for _, h, v, _ in frame_comps
                )
                if total > 8 * (len(b) - pos):
                    return None
                for _, h, v, _ in frame_comps:
                    # dense 64-slot lists for O(1) coefficient access
                    # PLUS a per-block sorted nonzero-AC-position
                    # index: refinement sweeps touch exactly the
                    # nonzero-history coefficients, so walking the
                    # support (a handful of positions) instead of the
                    # whole band turns the correction passes from
                    # O(band) to O(nnz) per block per scan; the
                    # forged-dims guard above bounds the allocation
                    n_blocks = mcux * h * mcuy * v
                    coef.append([[0] * 64 for _ in range(n_blocks)])
                    nzb.append([[] for _ in range(n_blocks)])
                    dc_al.append(None)
                    ac_al.append([None] * 64)
            elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # baseline/other frame types: not this decoder
            elif marker == 0xDD:  # DRI (redefinable between scans)
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS — decode one scan
                if frame_comps is None:
                    return None
                ns = seg[0]
                if not 1 <= ns <= len(frame_comps) or len(seg) != 1 + 2 * ns + 3:
                    return None
                ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
                if ah > 13 or al > 13:
                    return None
                # scan components: a subset of frame components, in
                # frame order (T.81 B.2.3)
                sel: list[tuple[int, int, int]] = []  # (ci, td, ta)
                fi = 0
                for i in range(ns):
                    cid = seg[1 + 2 * i]
                    tds = seg[2 + 2 * i]
                    while fi < len(frame_comps) and frame_comps[fi][0] != cid:
                        fi += 1
                    if fi == len(frame_comps):
                        return None
                    sel.append((fi, tds >> 4, tds & 0x0F))
                    fi += 1
                if ss == 0:  # DC scan
                    if se != 0:
                        return None
                    if ah == 0:  # first: per-coefficient never-sent
                        for ci, _, _ in sel:
                            if dc_al[ci] is not None:
                                return None
                            dc_al[ci] = al
                    else:  # refinement: Ah = current Al, Al = Ah - 1
                        for ci, _, _ in sel:
                            if dc_al[ci] != ah or al != ah - 1:
                                return None
                            dc_al[ci] = al
                else:  # AC scan: non-interleaved only
                    if ns != 1 or not ss <= se <= 63:
                        return None
                    ci = sel[0][0]
                    if dc_al[ci] is None:
                        return None  # AC before the component's DC scan
                    state = ac_al[ci]
                    if ah == 0:
                        for k in range(ss, se + 1):
                            if state[k] is not None:
                                return None
                            state[k] = al
                    else:
                        if al != ah - 1:
                            return None
                        for k in range(ss, se + 1):
                            if state[k] != ah:
                                return None
                            state[k] = al
                # entropy tables for this scan
                dc_tbl = {}
                ac_tbl = None
                for ci, td, ta in sel:
                    if ss == 0 and ah == 0:
                        if (0, td) not in htables:
                            return None
                        dc_tbl[ci] = htables[(0, td)]
                    if ss > 0:
                        if (1, ta) not in htables:
                            return None
                        ac_tbl = htables[(1, ta)]
                # data-unit list: (restart-counted unit) -> [(ci, bidx)]
                # — cached per component set (frame geometry is fixed;
                # the script revisits each component's list up to 6x)
                ukey = tuple(ci for ci, _, _ in sel)
                units = units_cache.get(ukey)
                if units is None:
                    if ns > 1:
                        units = _mcu_units(
                            [(ci, frame_comps[ci][1], frame_comps[ci][2])
                             for ci, _, _ in sel],
                            mcux, mcuy,
                        )
                    else:
                        ci = sel[0][0]
                        _, h, v, _ = frame_comps[ci]
                        tw, th = progressive_true_grid(
                            width, height, h, v, hmax, vmax
                        )
                        gx = mcux * h
                        units = [
                            [(ci, y * gx + x)]
                            for y in range(th)
                            for x in range(tw)
                        ]
                    units_cache[ukey] = units
                reader = _BitReader(b, pos)
                preds = {ci: 0 for ci, _, _ in sel}
                eobrun = 0
                rst = 0
                for ui, unit in enumerate(units):
                    if restart_interval and ui and ui % restart_interval == 0:
                        if eobrun:
                            return None  # EOB run across a restart
                        reader.restart(rst)
                        rst = (rst + 1) & 7
                        preds = {ci: 0 for ci, _, _ in sel}
                    for ci, bidx in unit:
                        block = coef[ci][bidx]
                        if ss == 0 and ah == 0:  # DC first
                            size = reader.symbol(dc_tbl[ci])
                            if size > 11:
                                return None
                            preds[ci] += _extend(reader.bits(size), size)
                            block[0] = preds[ci] << al
                        elif ss == 0:  # DC refinement: one raw bit
                            if reader.bit():
                                block[0] |= 1 << al
                        elif ah == 0:  # AC first
                            if eobrun:
                                eobrun -= 1
                                continue
                            nz = nzb[ci][bidx]
                            k = ss
                            while k <= se:
                                sym = reader.symbol(ac_tbl)
                                r, s = sym >> 4, sym & 0x0F
                                if s == 0:
                                    if r == 15:  # ZRL
                                        k += 16
                                        if k > se:
                                            return None
                                        continue
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += reader.bits(r)
                                    eobrun -= 1  # this block ends now
                                    break
                                if s > 10:
                                    return None
                                k += r
                                if k > se:
                                    return None
                                block[k] = _extend(reader.bits(s), s) << al
                                # a corrupt stream re-sending a band's
                                # first AC scan would duplicate k in the
                                # support list; later refinement would
                                # then compute a negative gap and walk
                                # backward — fail the uniform
                                # corrupt-input contract instead
                                # (r14 advice)
                                ins = bisect.bisect_left(nz, k)
                                if ins < len(nz) and nz[ins] == k:
                                    return None
                                nz.insert(ins, k)
                                k += 1
                        else:  # AC refinement
                            p1 = 1 << al
                            nz = nzb[ci][bidx]
                            k = ss
                            if eobrun == 0:
                                while k <= se:
                                    sym = reader.symbol(ac_tbl)
                                    r, s = sym >> 4, sym & 0x0F
                                    if s == 0 and r != 15:
                                        eobrun = 1 << r
                                        if r:
                                            eobrun += reader.bits(r)
                                        break
                                    if s == 0:
                                        val = 0  # ZRL: 16 zero-history
                                    else:
                                        if s != 1:
                                            return None
                                        val = p1 if reader.bit() else -p1
                                    # walk the nonzero SUPPORT, not the
                                    # band: correction bits are read at
                                    # each nonzero-history coefficient
                                    # passed, the zero-run counter r
                                    # consumes only zero-history slots
                                    # (same bits, same order as the
                                    # dense sweep)
                                    idx = bisect.bisect_left(nz, k)
                                    while True:
                                        nxt = nz[idx] if idx < len(nz) else se + 1
                                        gap = min(nxt, se + 1) - k
                                        if r < gap:
                                            k += r
                                            break
                                        r -= gap
                                        k = nxt
                                        if k > se:
                                            break
                                        cur = block[k]
                                        if reader.bit() and not cur & p1:
                                            block[k] = cur + (
                                                p1 if cur > 0 else -p1
                                            )
                                        idx += 1
                                        k += 1
                                    if val != 0:
                                        if k > se:
                                            return None
                                        block[k] = val
                                        bisect.insort(nz, k)
                                    elif k > se:
                                        return None  # ZRL overran the band
                                    k += 1
                            if eobrun:
                                # correction sweep over the rest of the
                                # band's SUPPORT (every remaining
                                # nonzero-history coefficient)
                                for p in nz[bisect.bisect_left(nz, k):]:
                                    if p > se:
                                        break
                                    cur = block[p]
                                    if reader.bit() and not cur & p1:
                                        block[p] = cur + (
                                            p1 if cur > 0 else -p1
                                        )
                                eobrun -= 1
                if eobrun:
                    return None  # EOB run past the last data unit
                reader.rewind_unused()
                pos = _skip_stuffed(b, reader.pos)
            # APPn / COM / anything else with a length: skipped
        if frame_comps is None or None in dc_al:
            return None
        # completeness: every touched coefficient refined down to Al=0
        for ci in range(len(frame_comps)):
            if dc_al[ci] != 0:
                return None
            for k in range(1, 64):
                if ac_al[ci][k] not in (None, 0):
                    return None
        out = []
        for ci, (cid, h, v, tq) in enumerate(frame_comps):
            if tq not in qtables:
                return None
            qt = qtables[tq]
            blocks = []
            for state, nz in zip(coef[ci], nzb[ci]):
                blk = {0: state[0] * qt[0]}
                for k in nz:  # the nonzero support, already ascending
                    blk[k] = state[k] * qt[k]
                blocks.append(blk)
            out.append((cid, h, v, blocks))
        return int(width), int(height), out
    except (_Undecodable, struct.error, IndexError):
        return None


def _idct_plane(blocks, cols: int, rows: int):
    """Natural-order 8x8 blocks -> T.81 A.3.3 inverse DCT (float64)
    -> +128 level shift -> clip -> ``numpy.uint8`` (rows*8, cols*8)
    component plane."""
    import numpy as np

    # C(u) basis matrix: idct2(B) = M.T @ B @ M with
    # M[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    m[0] *= 1 / np.sqrt(2)
    raster = np.zeros((rows * 8, cols * 8), dtype=np.uint8)
    for k, coeffs in enumerate(blocks):
        blk = np.zeros(64)
        for zz, v in coeffs.items():
            blk[ZIGZAG[zz]] = v
        spatial = m.T @ blk.reshape(8, 8) @ m + 128
        yb, xb = divmod(k, cols)
        raster[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8] = np.clip(
            np.rint(spatial), 0, 255
        ).astype(np.uint8)
    return raster


def decode_jpeg_pixels(payload: bytes):
    """Full pixel decode — baseline (SOF0) AND progressive (SOF2)
    Huffman JPEG. Grayscale -> ``numpy.uint8`` (height, width);
    3-component YCbCr (any 4:4:4 / 4:2:2 / 4:2:0 layout with integral
    subsampling ratios) -> per-component IDCT, chroma upsampling by
    pixel replication, JFIF YCbCr -> RGB -> ``numpy.uint8``
    (height, width, 3). The integer coefficient layer is
    oracle-checked via decode_jpeg_components /
    decode_jpeg_progressive (both return the same padded-grid shape,
    so the pixel path downstream is shared); the float IDCT +
    upsample + color conversion here are pytest-pinned against
    literal transcriptions of the formulas. Returns None for corrupt
    input, 2-component frames (no standard color mapping), and
    non-integral subsampling ratios."""
    import numpy as np

    head = _peek_frame_header(payload or b"")
    if head is None or head[1] != 8:
        # the uint8 pixel path is 8-bit only: a 12-bit frame's level
        # shift is +2048 and its output range needs uint16 —
        # coefficient decode handles 12-bit (decode_jpeg_components);
        # pixels for it stay out of scope
        return None
    if head[0] in (0xC0, 0xC1):  # one walk decides the frame type
        dec = decode_jpeg_components(payload)
    elif head[0] == 0xC2:
        dec = decode_jpeg_progressive(payload)
    else:
        return None
    if dec is None:
        return None
    width, height, comps = dec
    if len(comps) == 1:
        _, _, _, blocks = comps[0]
        plane = _idct_plane(blocks, (width + 7) // 8, (height + 7) // 8)
        return plane[:height, :width]
    if len(comps) != 3:
        return None  # no standard color mapping for 2/4 components
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    planes = []
    for _, h, v, blocks in comps:
        if hmax % h or vmax % v:
            return None  # replication upsampling needs integral ratios
        plane = _idct_plane(blocks, mcux * h, mcuy * v)
        # crop to the component's true dims (T.81 A.1.1 ceil scaling),
        # then replicate up to full resolution
        cw = (width * h + hmax - 1) // hmax
        ch = (height * v + vmax - 1) // vmax
        plane = plane[:ch, :cw]
        plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        planes.append(plane[:height, :width].astype(np.float64))
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Spark stages
# ---------------------------------------------------------------------------

JPEG_STATS_SCHEMA = (
    "media_id long, width int, height int, n_blocks int, "
    "dc_sum long, coeff_abs_sum long, coeff_wsum long"
)


def synth_jpeg_payloads(media_ids: DataFrame) -> DataFrame:
    """Arrow-batched synth: one complete valid baseline JPEG per id
    (shared stage scaffold: multimodal.synth_payload_stage)."""
    from .multimodal import synth_payload_stage

    return synth_payload_stage(media_ids, synth_jpeg_bytes)


def jpeg_coeff_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL JPEG entropy decode: per image, the
    dequantized-coefficient checksums. ``coeff_wsum`` weights each
    coefficient by (block_index * 64 + zigzag_pos + 1), so it only
    matches the oracle if block raster order, DC prediction, the
    run-length positions, AND dequantization are all exact.
    Undecodable payloads yield NULL stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = decode_jpeg_coefficients(bytes(payload or b""))
                if dec is None:
                    rows.append((int(mid), None, None, None, None, None, None))
                    continue
                width, height, blocks = dec
                dc_sum = sum(c[0] for c in blocks)
                abs_sum = sum(
                    abs(v) for c in blocks for v in c.values()
                )
                wsum = sum(
                    (k * 64 + p + 1) * v
                    for k, c in enumerate(blocks)
                    for p, v in c.items()
                )
                rows.append(
                    (int(mid), width, height, len(blocks),
                     dc_sum, abs_sum, wsum)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_blocks",
                    "dc_sum", "coeff_abs_sum", "coeff_wsum",
                ],
            )

    return media.mapInPandas(_stats, JPEG_STATS_SCHEMA)


JPEG_COLOR_STATS_SCHEMA = (
    "media_id long, width int, height int, hmax int, vmax int, "
    "n_blocks int, dc_sum_y long, dc_sum_cb long, dc_sum_cr long, "
    "coeff_abs_sum long, coeff_wsum long"
)


def synth_color_jpeg_payloads(media_ids: DataFrame) -> DataFrame:
    """Arrow-batched synth: one complete valid baseline YCbCr JPEG
    per id (subsampling variant, padded MCU grid and restart layout
    all formula-derived — see synth_color_jpeg_bytes; shared stage
    scaffold: multimodal.synth_payload_stage)."""
    from .multimodal import synth_payload_stage

    return synth_payload_stage(media_ids, synth_color_jpeg_bytes)


def synth_progressive_jpeg_payloads(media_ids: DataFrame) -> DataFrame:
    """Arrow-batched synth: one complete valid PROGRESSIVE YCbCr JPEG
    per id (9-scan script, per-scan Huffman tables, spectral bands +
    successive approximation — see synth_progressive_jpeg_bytes;
    shared stage scaffold: multimodal.synth_payload_stage)."""
    from .multimodal import synth_payload_stage

    return synth_payload_stage(media_ids, synth_progressive_jpeg_bytes)


def jpeg_progressive_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL progressive-JPEG multi-scan decode: per
    image, the per-component dequantized-coefficient checksums over
    each component's TRUE block grid (MCU padding blocks — which only
    the interleaved DC scan touches — are cropped, mirroring what the
    pixel path keeps). ``coeff_wsum`` weights each coefficient by
    ((comp_index * 64 + true_block_index) * 64 + zigzag_pos + 1), so
    it only matches the oracle if the spectral-band reassembly,
    successive-approximation refinement, EOB-run bookkeeping,
    interleaved-DC-vs-non-interleaved-AC grid mapping AND the
    per-component quant-table selection are all bit-exact across all
    nine scans. Undecodable or non-3-component payloads yield NULL
    stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "width", "height", "hmax", "vmax", "n_blocks",
            "dc_sum_y", "dc_sum_cb", "dc_sum_cr",
            "coeff_abs_sum", "coeff_wsum",
        ]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = decode_jpeg_progressive(bytes(payload or b""))
                if dec is None or len(dec[2]) != 3:
                    rows.append((int(mid),) + (None,) * 10)
                    continue
                width, height, comps = dec
                hmax = max(h for _, h, _, _ in comps)
                vmax = max(v for _, _, v, _ in comps)
                mcux = -(-width // (8 * hmax))
                n_blocks = 0
                dc_sums = []
                abs_sum = 0
                wsum = 0
                for c, (_, h, v, blocks) in enumerate(comps):
                    tw, th = progressive_true_grid(
                        width, height, h, v, hmax, vmax
                    )
                    gx = mcux * h
                    dc = 0
                    for y in range(th):
                        for x in range(tw):
                            blk = blocks[y * gx + x]
                            k = y * tw + x
                            dc += blk[0]
                            abs_sum += sum(abs(val) for val in blk.values())
                            wsum += sum(
                                ((c * 64 + k) * 64 + p + 1) * val
                                for p, val in blk.items()
                            )
                    dc_sums.append(dc)
                    n_blocks += tw * th
                rows.append(
                    (int(mid), width, height, hmax, vmax, n_blocks,
                     dc_sums[0], dc_sums[1], dc_sums[2], abs_sum, wsum)
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(_stats, JPEG_COLOR_STATS_SCHEMA)


def jpeg_color_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL multi-component JPEG entropy decode: per
    image, the per-component dequantized-coefficient checksums.
    ``coeff_wsum`` weights each coefficient by
    ((comp_index * 64 + block_index) * 64 + zigzag_pos + 1), so it
    only matches the oracle if the interleaved MCU -> component
    raster mapping, per-component DC prediction, run-length
    positions, AND the per-component quant-table selection are all
    exact. Undecodable or non-3-component payloads yield NULL
    stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "media_id", "width", "height", "hmax", "vmax", "n_blocks",
            "dc_sum_y", "dc_sum_cb", "dc_sum_cr",
            "coeff_abs_sum", "coeff_wsum",
        ]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = decode_jpeg_components(bytes(payload or b""))
                if dec is None or len(dec[2]) != 3:
                    rows.append((int(mid),) + (None,) * 10)
                    continue
                width, height, comps = dec
                hmax = max(h for _, h, _, _ in comps)
                vmax = max(v for _, _, v, _ in comps)
                n_blocks = sum(len(blocks) for _, _, _, blocks in comps)
                dc_sums = [
                    sum(blk[0] for blk in blocks)
                    for _, _, _, blocks in comps
                ]
                abs_sum = sum(
                    abs(v)
                    for _, _, _, blocks in comps
                    for blk in blocks
                    for v in blk.values()
                )
                wsum = sum(
                    ((c * 64 + k) * 64 + p + 1) * v
                    for c, (_, _, _, blocks) in enumerate(comps)
                    for k, blk in enumerate(blocks)
                    for p, v in blk.items()
                )
                rows.append(
                    (int(mid), width, height, hmax, vmax, n_blocks,
                     dc_sums[0], dc_sums[1], dc_sums[2], abs_sum, wsum)
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.mapInPandas(_stats, JPEG_COLOR_STATS_SCHEMA)
