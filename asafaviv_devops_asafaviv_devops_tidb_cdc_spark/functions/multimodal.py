"""Multimodal column handling (north-star E5): image/audio/video as
opaque ``binary`` payloads with typed metadata, processed through
Arrow-batched ``mapInPandas``.

``decode_payload`` is a REAL container-header decoder: it sniffs the
magic bytes and parses format + dimensions for PNG/JPEG/GIF/BMP/WAV
from the raw payload — pure stdlib ``struct``, no codec libraries.
Full pixel/sample decode (``decode_pixels``) covers uncompressed
24-bit BMP and any spec-compliant 8-bit RGB non-interlaced PNG.
The codec boundary: deflate (the PNG IDAT stream) is the stdlib
``zlib``'s; the container walks, BMP/WAV/AVI and JPEG
(functions/jpeg.py) are decoded in-engine. MP3/video decode would
need a codec library (PIL/ffmpeg) the engine does not depend on;
corrupt or out-of-scope-variant input uniformly returns None, only
that genuine boundary raises NotImplementedError.
``fake_decode_features`` is the deterministic feature stand-in tests
use downstream of the header sniff.

Scale posture: payloads stay in the executor as Arrow buffers;
``mapInPandas`` streams record batches so one task never materializes
a partition of blobs at once. Partition by content-hash prefix so
co-occurring giant files spread evenly.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, n_chunks int, byte_sum long, mean_byte double, "
    "feature array<float>, format string, width int, height int"
)


def decode_payload(payload: bytes, mime: str | None = None) -> dict:
    """Sniff the container header: magic bytes -> (format, width,
    height) or (format, channels, sample_rate) — the metadata a
    training pipeline filters/buckets on before any expensive pixel
    decode. Returns ``{"format": None}`` for unrecognized payloads
    (opaque bytes stay opaque; never raises on hostile input)."""
    b = payload or b""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            # IHDR is always first: width/height big-endian at 16..24
            w, h = struct.unpack(">II", b[16:24])
            return {"format": "png", "width": w, "height": h}
        if b[:3] == b"GIF" and b[3:6] in (b"87a", b"89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return {"format": "gif", "width": w, "height": h}
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return {"format": "bmp", "width": w, "height": abs(h)}
        if b[:2] == b"\xff\xd8":
            # JPEG: walk segments to the first SOF frame header
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    break
                marker = b[i + 1]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return {"format": "jpeg", "width": w, "height": h}
                seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
                i += 2 + seg_len
            return {"format": "jpeg"}
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE" and len(b) >= 28:
            channels, sample_rate = struct.unpack("<HI", b[22:28])
            return {
                "format": "wav",
                "channels": channels,
                "sample_rate": sample_rate,
            }
    except (struct.error, IndexError):
        pass
    return {"format": None}


def decode_pixels(payload: bytes, mime: str):
    """Full pixel/sample decode. Uncompressed 24-bit BMP, ALL
    deflate-framed PNG, baseline JPEG — grayscale AND 3-component
    YCbCr color with 4:4:4/4:2:2/4:2:0 subsampling — and PROGRESSIVE
    (SOF2) Huffman JPEG (r11: spectral selection + successive
    approximation, multi-scan reassembly) are decoded by stdlib +
    numpy — fixed headers, chunk/marker walks, the PNG deflate stream
    through ``zlib``, interleaved-MCU JPEG entropy decode + IDCT +
    chroma upsample + YCbCr->RGB, filter reconstruction. Contract (r9/r10
    advice — consistent across formats): corrupt input AND
    unsupported in-format variants both return None — for JPEG that
    means arithmetic-coded, hierarchical, 12-bit and >3-component
    frames are indistinguishable from corruption by design (one
    uniform no-guess contract). NotImplementedError is raised ONLY
    for containers with no decoder at all — MP3/video and anything
    else in PIL/ffmpeg territory, not present here."""
    b = payload or b""
    if (mime or "").lower() in ("image/bmp", "bmp") or b[:2] == b"BM":
        return decode_bmp_pixels(payload)
    if (mime or "").lower() in ("image/png", "png") or b[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(payload)
    if (mime or "").lower() in ("image/jpeg", "jpeg", "jpg") or b[:2] == b"\xff\xd8":
        from . import jpeg as _jpeg

        return _jpeg.decode_jpeg_pixels(payload)
    raise NotImplementedError(
        "pixel decoding beyond uncompressed BMP, deflate-framed PNG and "
        "baseline + progressive JPEG (grayscale + YCbCr color) requires "
        "optional codecs (PIL/ffmpeg); decode_payload provides header "
        "metadata, fake_decode_features the deterministic feature stand-in"
    )


def decode_bmp_pixels(payload: bytes):
    """REAL uncompressed 24-bit BMP pixel decoder: parses the file
    header for the pixel-data offset, the DIB header for
    width/height/bpp/compression, strips the 4-byte row padding, and
    un-flips the bottom-up row order (negative height = top-down) into
    a ``numpy.uint8`` array of raster-order BGR bytes of shape
    (height, width, 3). Returns None for anything it cannot decode
    exactly (wrong magic, compressed, non-24bpp, truncated pixel
    data) — never guesses on hostile input."""
    import numpy as np

    b = payload or b""
    if b[:2] != b"BM" or len(b) < 54:
        return None
    try:
        data_off = struct.unpack("<I", b[10:14])[0]
        width, height = struct.unpack("<ii", b[18:26])
        bpp = struct.unpack("<H", b[28:30])[0]
        compression = struct.unpack("<I", b[30:34])[0]
    except struct.error:
        return None
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    if data_off < 54:  # pixel data cannot start inside the headers
        return None
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    if data_off + stride * h > len(b):
        return None
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : width * 3]
    if height > 0:  # bottom-up storage: file row 0 is the BOTTOM row
        rows = rows[::-1]
    return rows.reshape(h, width, 3)


def as_media_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Promote a text corpus to the media-table shape: payload =
    utf-8 bytes, typed metadata computed engine-side (octet length +
    content hash), mime constant."""
    payload = F.col(text_col).cast("binary")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.struct(
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.sha2(F.col(text_col), 256).alias("sha256"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def fake_decode_features(media: DataFrame, chunk: int = 256) -> DataFrame:
    """Deterministic stand-in for decode/feature-extract: per payload,
    chunk count and mean byte value, plus a fixed-length feature vector
    of per-chunk means (padded with 0). Arrow-batched — the real
    decoder drops into the same iterator shape."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = bytes(payload or b"")
                n = len(buf)
                n_chunks = (n + chunk - 1) // chunk
                arr = np.frombuffer(buf, dtype=np.uint8)
                byte_sum = int(arr.sum()) if n else 0
                mean_byte = float(arr.mean()) if n else 0.0
                feat = [
                    float(arr[i * chunk : (i + 1) * chunk].mean())
                    for i in range(min(n_chunks, 8))
                ]
                feat += [0.0] * (8 - len(feat))
                meta = decode_payload(buf)
                rows.append(
                    (
                        int(media_id),
                        n,
                        n_chunks,
                        byte_sum,
                        mean_byte,
                        feat,
                        meta.get("format"),
                        meta.get("width"),
                        meta.get("height"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_bytes",
                    "n_chunks",
                    "byte_sum",
                    "mean_byte",
                    "feature",
                    "format",
                    "width",
                    "height",
                ],
            )

    from ..sources.tables import rebalance

    # spread before the Python stage: one input split would serialize
    # the whole corpus through a single Arrow worker
    return rebalance(media.select("media_id", "payload")).mapInPandas(
        _extract, FEATURE_SCHEMA
    )


SYNTH_SCHEMA = "media_id long, payload binary"
DECODE_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "channels int, sample_rate int"
)


SYNTH_PARTS_DIVISOR = 2


def _synth_parts(sc) -> int:
    """Partition count for the synth->decode Arrow chains. One policy
    for all six builders: a chained mapInPandas pair runs TWO Python
    workers per task (producer/consumer, pipelined through the JVM),
    so HALF-width partitioning keeps live worker count == cores. The
    r13 A/B measured both ways at both granularities: full-width wins
    ~13% on an ISOLATED m100 codec run (the dedicated-media-fleet
    case — one workload owns the box), but in the 256-query suite it
    loses ~20% of TOTAL suite time (64 concurrent Python workers
    oversubscribe against the JVM's own task threads, and every
    later query inherits the churn), so the engine runs half-width."""
    return max(sc.defaultParallelism // SYNTH_PARTS_DIVISOR, 1)


def synth_payload_stage(media_ids: DataFrame, synth_fn) -> DataFrame:
    """Shared Arrow synth scaffold for every per-id bytes builder
    (the containers, BMP, WAV, AVI and PNG here; JPEG
    gray/color/progressive, WARC): repartition to half the
    cores (synth is CPU-bound; leave headroom for the decode stage)
    and mapInPandas ``synth_fn(media_id) -> bytes`` into
    (media_id, payload) rows. One copy of the stage policy — tune the
    parallelism here, not in four pasted builders (r11 review)."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [(int(mid), synth_fn(int(mid))) for mid in pdf["media_id"]]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    n_parts = _synth_parts(media_ids.sparkSession.sparkContext)
    return media_ids.select("media_id").repartition(n_parts).mapInPandas(
        _build, SYNTH_SCHEMA
    )


def synth_container_payloads(media_ids: DataFrame) -> DataFrame:
    """Build REAL container payloads (valid PNG/GIF/BMP/WAV headers,
    magic bytes + packed dimension fields) with formula-derived
    parameters — width = id % 1000 + 1, height = id*7 % 1000 + 1,
    channels = id % 8 + 1, sample_rate = 8000 + (id % 100) * 10 — so an
    oracle can verify the decoded output without parsing binary itself.
    Every 5th id emits unrecognizable bytes (the opaque-payload branch).
    """

    def payload(mid: int) -> bytes:
        w = mid % 1000 + 1
        h = (mid * 7) % 1000 + 1
        kind = mid % 5
        if kind == 0:
            return b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", w, h) + b"\x08"
        if kind == 1:
            return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00"
        if kind == 2:
            return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00\x00"
        if kind == 3:
            ch = mid % 8 + 1
            sr = 8000 + (mid % 100) * 10
            return (
                b"RIFF" + b"\x00\x00\x00\x00" + b"WAVE"
                + b"fmt \x10\x00\x00\x00\x01\x00"
                + struct.pack("<HI", ch, sr) + b"\x00\x00\x00\x00"
            )
        return b"not-a-container-" + str(mid).encode()

    return synth_payload_stage(media_ids, payload)


BMP_STATS_SCHEMA = (
    "media_id long, width int, height int, n_px long, "
    "px_sum long, px_wsum long, mean_millibyte long"
)


def synth_bmp_payloads(media_ids: DataFrame) -> DataFrame:
    """Build COMPLETE valid uncompressed 24-bit BMP files (file header
    + 40-byte DIB header + bottom-up padded pixel rows) with
    formula-derived content: width = id % 48 + 4, height =
    id*7 % 48 + 4, and raster-order pixel byte j = (id + j) % 256 —
    so a DuckDB oracle can recompute the decoded pixel statistics
    from the id alone, without parsing binary. The byte formula runs
    over the UNPADDED raster; the file stores it bottom-up WITH row
    padding, so a decoder only matches the oracle if it strips
    padding and un-flips rows correctly."""

    import numpy as np

    def payload(mid: int) -> bytes:
        w = mid % 48 + 4
        h = (mid * 7) % 48 + 4
        raster = (
            (mid + np.arange(3 * w * h, dtype=np.int64)) % 256
        ).astype(np.uint8).reshape(h, w * 3)
        stride = (w * 3 + 3) & ~3
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = raster[::-1]  # bottom-up rows
        data = padded.tobytes()
        header = (
            b"BM"
            + struct.pack("<I", 54 + len(data))
            + b"\x00\x00\x00\x00"
            + struct.pack("<I", 54)
            + struct.pack("<I", 40)
            + struct.pack("<ii", w, h)
            + struct.pack("<HH", 1, 24)
            + struct.pack("<II", 0, len(data))
            + struct.pack("<iiII", 0, 0, 0, 0)
        )
        return header + data

    return synth_payload_stage(media_ids, payload)


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL pixel decode over a (media_id, payload) BMP
    table: ``decode_bmp_pixels`` parses each file and the stage emits
    order-sensitive statistics of the reconstructed raster —
    ``px_sum`` (order-invariant byte sum), ``px_wsum``
    (position-weighted sum, sum over (j+1)*byte_j in raster order:
    only correct if padding is stripped AND bottom-up rows are
    un-flipped), and integer mean in millibytes. Undecodable payloads
    yield NULL stats rather than poisoning the batch."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_bmp_pixels(bytes(payload or b""))
                if px is None:
                    rows.append((int(mid), None, None, None, None, None, None))
                    continue
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                px_sum = int(flat.sum())
                px_wsum = int(
                    ((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()
                )
                rows.append(
                    (
                        int(mid), w, h, w * h,
                        px_sum, px_wsum,
                        px_sum * 1000 // flat.size,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_px",
                    "px_sum", "px_wsum", "mean_millibyte",
                ],
            )

    return media.mapInPandas(_stats, BMP_STATS_SCHEMA)


RESIZE_STATS_SCHEMA = (
    "media_id long, out_w int, out_h int, "
    "out_sum long, out_wsum long, mean_millibyte long"
)


def bmp_resize_stats(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL resize on REAL decoded pixels: block-mean downsample each
    decoded BMP raster by ``factor`` (integer floor mean over each
    factor x factor block, odd edges dropped — the deterministic
    integer form of average-pooling) and emit order-sensitive stats of
    the RESIZED raster. ``out_wsum`` (position-weighted sum over the
    output raster) only matches the oracle if decode, block indexing,
    and the floor-mean all agree byte-for-byte."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        f = factor
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_bmp_pixels(bytes(payload or b""))
                if px is None:
                    rows.append((int(mid), None, None, None, None, None))
                    continue
                h, w, _ = px.shape
                oh, ow = h // f, w // f
                if oh == 0 or ow == 0:
                    rows.append((int(mid), ow, oh, 0, 0, None))
                    continue
                a = px[: oh * f, : ow * f, :].astype(np.int64)
                # sum each f x f block, then integer floor mean
                block = a.reshape(oh, f, ow, f, 3).sum(axis=(1, 3)) // (f * f)
                flat = block.reshape(-1)
                out_sum = int(flat.sum())
                out_wsum = int(
                    ((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()
                )
                rows.append(
                    (
                        int(mid), ow, oh, out_sum, out_wsum,
                        out_sum * 1000 // flat.size,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_w", "out_h",
                    "out_sum", "out_wsum", "mean_millibyte",
                ],
            )

    return media.mapInPandas(_resize, RESIZE_STATS_SCHEMA)


WAV_STATS_SCHEMA = (
    "media_id long, channels int, sample_rate int, n_frames long, "
    "n_samples long, s_sum long, s_wsum long, peak int"
)


def synth_wav_payloads(media_ids: DataFrame) -> DataFrame:
    """Build COMPLETE valid PCM16 WAV files (RIFF container, `fmt `
    chunk, `data` chunk) with formula-derived content: channels =
    id % 4 + 1, sample_rate = 8000 + (id % 8) * 1000, n_frames =
    id % 400 + 100 (the data chunk holds n_frames * channels int16
    samples, so its length is always a whole multiple of the declared
    block align — spec-clean PCM for every channel count), and raw
    sample i (signed 16-bit little-endian, channel-interleaved order) =
    ((id * 31 + i * 7) % 65536) - 32768 — so a DuckDB oracle can
    recompute the decoded sample statistics from the id alone. A
    decoy `LIST` chunk precedes `data`, so a decoder only matches if
    it walks the RIFF chunk structure instead of assuming a fixed
    44-byte layout."""

    import numpy as np

    def payload(mid: int) -> bytes:
        ch = mid % 4 + 1
        sr = 8000 + (mid % 8) * 1000
        n = (mid % 400 + 100) * ch
        samples = (
            (mid * 31 + 7 * np.arange(n, dtype=np.int64)) % 65536
            - 32768
        ).astype("<i2")
        data = samples.tobytes()
        fmt = (
            b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
        )
        decoy = b"LIST" + struct.pack("<I", 4) + b"INFO"
        body = b"WAVE" + fmt + decoy + b"data" + struct.pack(
            "<I", len(data)
        ) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return synth_payload_stage(media_ids, payload)


def decode_wav_samples(payload: bytes):
    """REAL PCM16 WAV sample decoder: walks the RIFF chunk list (no
    fixed-offset assumptions — skips unknown chunks, honors the
    word-aligned chunk padding rule), requires an uncompressed PCM
    16-bit `fmt ` chunk, and returns (channels, sample_rate,
    int16-array of samples). Returns None for anything it cannot
    decode exactly."""
    import numpy as np

    b = payload or b""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE" or len(b) < 12:
        return None
    # The RIFF size field delimits the payload: bytes past it (appended
    # tags, padding) are NOT chunks and must not fail the parse. Trust
    # it only when plausible — streaming writers commonly leave it 0
    # (written before the data length is known), in which case the
    # buffer end is the only delimiter we have.
    declared_end = 8 + struct.unpack("<I", b[4:8])[0]
    riff_end = min(len(b), declared_end) if declared_end >= 12 else len(b)
    pos, fmt, data = 12, None, None
    while pos + 8 <= riff_end:
        cid = b[pos : pos + 4]
        try:
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        except struct.error:
            return None
        if pos + 8 + size > riff_end:  # chunk must fit INSIDE the payload
            return None
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16 or channels < 1:
        return None
    samples = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
    return channels, sample_rate, samples


def wav_sample_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL sample decode over a (media_id, payload) WAV
    table: RIFF chunk walk + PCM16 decode, emitting order-sensitive
    sample statistics (plain and position-weighted sums, peak
    amplitude). ``n_samples`` counts RAW interleaved int16 samples;
    ``n_frames`` = n_samples // channels is the per-channel frame
    count (the two differ exactly by the channel factor for any
    spec-clean PCM stream). Undecodable payloads yield NULL stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                got = decode_wav_samples(bytes(payload or b""))
                if got is None:
                    rows.append(
                        (int(mid), None, None, None, None, None, None, None)
                    )
                    continue
                ch, sr, samples = got
                s = samples.astype(np.int64)
                rows.append(
                    (
                        int(mid), ch, sr, int(s.size) // ch, int(s.size),
                        int(s.sum()),
                        int(((np.arange(s.size, dtype=np.int64) + 1) * s).sum()),
                        int(np.abs(s).max()) if s.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "channels", "sample_rate", "n_frames",
                    "n_samples", "s_sum", "s_wsum", "peak",
                ],
            )

    return media.mapInPandas(_stats, WAV_STATS_SCHEMA)


FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx int, n_bytes int, b_sum long, b_wsum long"
)


def synth_avi_payloads(media_ids: DataFrame) -> DataFrame:
    """Build structurally valid AVI containers (RIFF 'AVI ' + LIST
    `hdrl` with an `avih` main header carrying the true frame count +
    LIST `movi` with the frame chunks) with formula-derived content:
    n_frames = id % 24 + 6; video frame f is a `00db` chunk of
    (id + f) % 64 + 16 bytes where byte j = (id + f*131 + j) % 256.
    A decoy `01wb` audio chunk follows every video frame and frame
    sizes are frequently odd, so a sampler only matches the oracle if
    it walks the movi LIST selecting video chunks and honors RIFF
    word-alignment."""

    import numpy as np

    def payload(mid: int) -> bytes:
        n = mid % 24 + 6
        movi = b"movi"
        for f in range(n):
            fs = (mid + f) % 64 + 16
            data = (
                (mid + f * 131 + np.arange(fs, dtype=np.int64)) % 256
            ).astype(np.uint8).tobytes()
            movi += b"00db" + struct.pack("<I", fs) + data
            if fs & 1:
                movi += b"\x00"  # RIFF word alignment
            movi += b"01wb" + struct.pack("<I", 4) + b"\x00" * 4
        avih_body = (
            struct.pack("<IIII", 33333, 0, 0, 0)
            + struct.pack("<I", n)  # dwTotalFrames
            + b"\x00" * 36
        )
        hdrl = b"hdrl" + b"avih" + struct.pack("<I", 56) + avih_body
        body = (
            b"AVI "
            + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + struct.pack("<I", len(movi)) + movi
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return synth_payload_stage(media_ids, payload)


def decode_avi_frames(payload: bytes):
    """REAL AVI frame walker: verifies the RIFF 'AVI ' container,
    walks the top-level chunk list to the `movi` LIST, and collects
    the `00db`/`00dc` video frame chunks in stream order (skipping
    audio/index/decoy chunks, honoring word-aligned chunk padding).
    Returns the list of frame byte-strings, or None if the container
    cannot be parsed exactly."""
    b = payload or b""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI " or len(b) < 12:
        return None
    declared_end = 8 + struct.unpack("<I", b[4:8])[0]
    riff_end = min(len(b), declared_end) if declared_end >= 12 else len(b)
    pos, movi = 12, None
    while pos + 8 <= riff_end:
        cid = b[pos : pos + 4]
        try:
            size = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        except struct.error:
            return None
        if pos + 8 + size > riff_end:
            return None
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"LIST" and body[:4] == b"movi":
            movi = body
            break
        pos += 8 + size + (size & 1)
    if movi is None:
        return None
    frames, pos = [], 4
    while pos + 8 <= len(movi):
        cid = movi[pos : pos + 4]
        size = struct.unpack("<I", movi[pos + 4 : pos + 8])[0]
        body = movi[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None
        if cid in (b"00db", b"00dc"):
            frames.append(body)
        pos += 8 + size + (size & 1)
    return frames


def avi_frame_sample_stats(
    media: DataFrame, step: int = 4, max_frames: int = 8
) -> DataFrame:
    """Arrow-batched REAL frame sampling over an (media_id, payload)
    AVI table: the container walker extracts the video frames, every
    ``step``-th frame (capped at ``max_frames`` — cost scales with
    samples, not media length) is reduced to order-sensitive byte
    statistics. Undecodable payloads contribute no rows (a corrupt
    file yields an empty sample, not a poisoned batch)."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_avi_frames(bytes(payload or b""))
                if frames is None:
                    continue
                for f_idx in range(
                    0, min(len(frames), step * max_frames), step
                ):
                    fb = np.frombuffer(frames[f_idx], dtype=np.uint8).astype(
                        np.int64
                    )
                    rows.append(
                        (
                            int(mid), f_idx, int(fb.size),
                            int(fb.sum()),
                            int(
                                ((np.arange(fb.size, dtype=np.int64) + 1) * fb)
                                .sum()
                            ),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "n_bytes", "b_sum", "b_wsum"],
            )

    return media.mapInPandas(_stats, FRAME_STATS_SCHEMA)


def decode_headers(media: DataFrame) -> DataFrame:
    """Arrow-batched header decode over a (media_id, payload) table:
    the REAL ``decode_payload`` sniffing magic bytes and unpacking
    dimension fields. A separate mapInPandas stage from any builder, so
    payload bytes demonstrably round-trip through Arrow."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                m = decode_payload(bytes(payload or b""))
                rows.append(
                    (
                        int(mid),
                        m.get("format"),
                        m.get("width"),
                        m.get("height"),
                        m.get("channels"),
                        m.get("sample_rate"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "width", "height",
                    "channels", "sample_rate",
                ],
            )

    return media.mapInPandas(_decode, DECODE_SCHEMA)


# --------------------------------------------------------------------
# PNG: chunk walk with CRC checks, the zlib stream inflated by the
# stdlib, and the full five-filter scanline reconstruction. The synth
# side below encodes all three deflate block types itself (BTYPE=2
# needs our own encoder), so the gate corpus exercises each of them.
# --------------------------------------------------------------------


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _deflate_dynamic(body: bytes) -> bytes:
    """Minimal RFC 1951-compliant zlib stream with ONE dynamic-Huffman
    (BTYPE=2) literal-only block: per-input Huffman tree over the byte
    histogram (+ end-of-block), code lengths transmitted literally
    through a Huffman-coded code-length alphabet, one unused
    1-bit distance code (the RFC convention for "no distances"). The
    library encoder never picks dynamic blocks for the synth's small
    near-uniform rasters, so this encoder guarantees the gate corpus
    actually contains BTYPE=2 streams; pytest cross-validates every
    emitted stream against ``zlib.decompress``, the same library
    ``_inflate`` decodes with.

    The tree build + header emission are a pure function of the byte
    HISTOGRAM, so they are memoized (``_dynamic_plan``): inputs with
    repeating frequency profiles (the r13 profile measured ~40x reuse
    on the gate corpus) skip straight to the vectorized body
    emission."""
    import zlib

    import numpy as np

    arr = np.frombuffer(body, dtype=np.uint8)
    counts = np.bincount(arr, minlength=256)
    header_bits, wtab, ctab, eob_bits = _dynamic_plan(
        tuple(int(c) for c in counts)
    )
    # body literal emission, vectorized: per-bit symbol index via
    # repeat, per-bit shift = width-1-j (MSB-first within each code)
    sarr = arr.astype(np.int64)
    widths = wtab[sarr]
    starts = np.concatenate([np.zeros(1, dtype=np.int64), widths.cumsum()])
    sym_ix = np.repeat(np.arange(len(sarr)), widths)
    j = np.arange(int(starts[-1]), dtype=np.int64) - starts[sym_ix]
    body_bits = (
        (ctab[sarr][sym_ix] >> (widths[sym_ix] - 1 - j)) & 1
    ).astype(np.uint8)
    allbits = np.concatenate([header_bits, body_bits, eob_bits])
    return (
        b"\x78\x01"
        + np.packbits(allbits, bitorder="little").tobytes()
        + struct.pack(">I", zlib.adler32(body) & 0xFFFFFFFF)
    )


def _limit_code_lengths(
    depth: dict[int, int], freqs: dict[int, int], cap: int
) -> dict[int, int]:
    """Length-limit a Huffman code to ``cap`` bits, keeping the Kraft
    sum EXACTLY complete (deflate decoders — zlib included — reject
    incomplete literal/code-length trees). The zlib-trees.c approach,
    expressed on the Kraft ledger in units of 2^-cap: clamp over-deep
    codes, then lengthen lowest-frequency codes while over budget and
    shorten highest-frequency ones while under. Every adjustment is a
    multiple of the smallest outstanding unit, so the greedy walk
    lands exactly on budget; a failure to converge raises (fail loud,
    never emit an invalid table)."""
    if max(depth.values()) <= cap:
        return depth
    ls = {s: min(ln, cap) for s, ln in depth.items()}
    budget = 1 << cap
    kraft = sum(1 << (cap - ln) for ln in ls.values())
    # order once: cheapest symbols first for lengthening, dearest
    # first for shortening; sym id breaks ties deterministically
    by_cost = sorted(ls, key=lambda s: (freqs.get(s, 0), s))
    while kraft > budget:
        # deepest still-lengthenable among the cheapest symbols —
        # smallest Kraft step, so no overshoot past the exact budget
        best = None
        for s in by_cost:
            ln = ls[s]
            if ln < cap and (best is None or ln > ls[best]):
                best = s
        if best is None:
            raise ValueError(f"cannot limit code lengths to {cap}")
        kraft -= 1 << (cap - ls[best] - 1)
        ls[best] += 1
    for s in reversed(by_cost):  # shorten the most frequent first
        while ls[s] > 1 and kraft + (1 << (cap - ls[s])) <= budget:
            kraft += 1 << (cap - ls[s])
            ls[s] -= 1
    if kraft != budget:
        raise ValueError(f"cannot complete {cap}-bit code")
    return ls


# RFC 1951 §3.2.7: the order in which code lengths for the
# code-length alphabet are transmitted in a dynamic-Huffman header.
_CLEN_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)


@functools.lru_cache(maxsize=512)
def _dynamic_plan(counts_key: tuple):
    """The histogram-determined part of one dynamic-Huffman block:
    (header bits incl. the Huffman-coded code-length table, the
    literal tree's (width, code) lookup arrays, the end-of-block
    bits). Everything here is canonical-order deterministic, so equal
    histograms produce byte-identical streams."""
    import heapq
    from collections import Counter

    import numpy as np

    freqs = {s: int(c) for s, c in enumerate(counts_key) if c}
    freqs[256] = freqs.get(256, 0) + 1  # end-of-block

    def huff_lengths(counter) -> dict[int, int]:
        if len(counter) == 1:
            return {next(iter(counter)): 1}
        # Huffman via parent pointers (no per-merge symbol-list
        # concatenation): leaves get ids in sorted-symbol order,
        # internal nodes increasing ids, so the (freq, id) tie-break
        # reproduces the previous (freq, tick) merge order exactly.
        items = sorted(counter.items())
        heap = [(f, i) for i, (_s, f) in enumerate(items)]
        heapq.heapify(heap)
        parent: dict[int, int] = {}
        nid = len(items)
        while len(heap) > 1:
            f1, i1 = heapq.heappop(heap)
            f2, i2 = heapq.heappop(heap)
            parent[i1] = nid
            parent[i2] = nid
            heapq.heappush(heap, (f1 + f2, nid))
            nid += 1
        # parents always have larger ids, so one descending-id pass
        # resolves every depth
        depths = {nid - 1: 0}
        for node in range(nid - 2, -1, -1):
            depths[node] = depths[parent[node]] + 1
        # Over-deep codes (Fibonacci-skewed frequencies force depth 16
        # with ~2.6k symbols — r10 advice; skewed code-length
        # histograms force >7 on the cl tree, hit for real by the r13
        # WARC revisit headers) are repaired by the caller via
        # _limit_code_lengths, the way every production deflate
        # encoder length-limits its trees.
        return {s: depths[i] for i, (s, _f) in enumerate(items)}

    def canon_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
        """symbol -> (bit-length, MSB-first code), canonical order."""
        max_len = max(lengths.values())
        bl_count = [0] * (max_len + 1)
        for ln in lengths.values():
            bl_count[ln] += 1
        code = 0
        next_code = [0] * (max_len + 1)
        for bits in range(1, max_len + 1):
            code = (code + bl_count[bits - 1]) << 1
            next_code[bits] = code
        out: dict[int, tuple[int, int]] = {}
        for sym in sorted(lengths):
            ln = lengths[sym]
            out[sym] = (ln, next_code[ln])
            next_code[ln] += 1
        return out

    lit_lengths = _limit_code_lengths(huff_lengths(freqs), freqs, 15)
    lit_codes = canon_codes(lit_lengths)
    hlit = 257  # symbols 0..256 (no length codes used)
    lit_seq = [lit_lengths.get(s, 0) for s in range(hlit)]
    dist_seq = [1]  # one unused 1-bit distance code (RFC convention)
    full_seq = lit_seq + dist_seq
    cl_freqs = Counter(full_seq)
    # the header's 3-bit code-length fields cap the cl tree at 7 bits
    cl_lengths = _limit_code_lengths(huff_lengths(cl_freqs), cl_freqs, 7)
    cl_codes = canon_codes(cl_lengths)
    hclen_lengths = [cl_lengths.get(s, 0) for s in _CLEN_ORDER]
    while len(hclen_lengths) > 4 and hclen_lengths[-1] == 0:
        hclen_lengths.pop()

    # Header bits collected as a flat 0/1 list (a few hundred bits);
    # the body's literal codes — the hot path, one code per input
    # byte — are emitted VECTORIZED by the caller and the whole
    # stream packs in one np.packbits call (LSB-first byte fill, zero
    # padding to the byte boundary, both per RFC 1951).
    head: list[int] = []

    def put(value: int, width: int) -> None:  # LSB-first field
        for i in range(width):
            head.append((value >> i) & 1)

    def emit_codes(syms, codes) -> "np.ndarray":
        """Vectorized MSB-first-within-code emission of one code per
        symbol: per-bit symbol index via repeat, per-bit shift =
        width-1-j."""
        size = max(codes) + 1
        wtab = np.zeros(size, dtype=np.int64)
        ctab = np.zeros(size, dtype=np.int64)
        for s, (ln, code) in codes.items():
            wtab[s] = ln
            ctab[s] = code
        arr = np.asarray(syms, dtype=np.int64)
        widths = wtab[arr]
        starts = np.concatenate(
            [np.zeros(1, dtype=np.int64), widths.cumsum()]
        )
        sym_ix = np.repeat(np.arange(len(arr)), widths)
        j = np.arange(int(starts[-1]), dtype=np.int64) - starts[sym_ix]
        return ((ctab[arr][sym_ix] >> (widths[sym_ix] - 1 - j)) & 1).astype(
            np.uint8
        )

    put(1, 1)  # BFINAL
    put(2, 2)  # BTYPE=2
    put(hlit - 257, 5)
    put(len(dist_seq) - 1, 5)
    put(len(hclen_lengths) - 4, 4)
    for ln in hclen_lengths:
        put(ln, 3)
    header_bits = np.concatenate(
        [
            np.array(head, dtype=np.uint8),
            # lengths sent literally, no 16/17/18 runs
            emit_codes(full_seq, cl_codes),
        ]
    )
    # the literal tree's lookup arrays for the caller's body emission
    wtab = np.zeros(257, dtype=np.int64)
    ctab = np.zeros(257, dtype=np.int64)
    for s, (ln, code) in lit_codes.items():
        wtab[s] = ln
        ctab[s] = code
    return header_bits, wtab, ctab, emit_codes([256], lit_codes)


def synth_png_payloads(media_ids: DataFrame) -> DataFrame:
    """Build COMPLETE valid PNG files (signature, IHDR, split IDAT,
    decoy tEXt, IEND — all chunk CRCs real) with formula-derived
    content: width = id % 24 + 4, height = id*5 % 24 + 4, 8-bit RGB
    (color type 2), raster byte j = (id*13 + j) % 256. Every scanline
    is filtered with filter (id + row) % 3 (None/Sub/Up) before the
    zlib framing. The zlib framing rotates by id%3 — 0: hand-rolled
    <=512-byte STORED blocks; 1: zlib Z_FIXED (FIXED-HUFFMAN BTYPE=1
    blocks with real LZ77 back-references); 2: ``_deflate_dynamic``, a
    guaranteed DYNAMIC-HUFFMAN (BTYPE=2) block with a per-image
    Huffman tree and transmitted code-length tables (zlib-validated in
    pytest — the library encoder never picks dynamic for rasters this
    small, so the guarantee needs our own RFC 1951 encoder). Every
    stream is split across two IDAT chunks with a decoy tEXt between
    them, so a decoder only matches the DuckDB oracle if it
    concatenates IDATs, inflates every deflate block type (verifying
    adler32), and reconstructs all three filters byte-exactly."""

    import zlib

    import numpy as np

    def payload(mid: int) -> bytes:
        w = mid % 24 + 4
        h = (mid * 5) % 24 + 4
        raster = (
            (mid * 13 + np.arange(3 * w * h, dtype=np.int64)) % 256
        ).astype(np.uint8).reshape(h, 3 * w)
        # encode-side filtering, whole-raster vectorized
        # (uint8 subtraction wraps mod 256 natively); the
        # decoder must invert exactly
        left = np.zeros_like(raster)
        left[:, 3:] = raster[:, :-3]
        above = np.zeros_like(raster)
        above[1:] = raster[:-1]
        ftypes = (mid + np.arange(h)) % 3
        filt = np.where(
            (ftypes == 1)[:, None],
            raster - left,  # Sub: minus left pixel's same byte
            np.where(
                (ftypes == 2)[:, None],
                raster - above,  # Up: minus the row above
                raster,  # None
            ),
        )
        lines = np.empty((h, 1 + 3 * w), dtype=np.uint8)
        lines[:, 0] = ftypes
        lines[:, 1:] = filt
        body = lines.tobytes()
        variant = mid % 3
        if variant == 1:
            # fixed-Huffman framing via the library encoder
            # (Z_FIXED forbids dynamic trees). memLevel 9
            # keeps it one block.
            co = zlib.compressobj(6, zlib.DEFLATED, 15, 9, zlib.Z_FIXED)
            stream = bytearray(co.compress(body) + co.flush())
        elif variant == 2:
            # hand-rolled guaranteed-BTYPE=2 stream (the
            # library encoder never picks dynamic for these
            # small near-uniform rasters; pytest validates
            # every _deflate_dynamic stream via zlib)
            stream = bytearray(_deflate_dynamic(body))
        else:
            # hand-rolled zlib framing: header + stored blocks
            # (<=512 bytes each) + adler32 of the raw bytes
            stream = bytearray(b"\x78\x01")
            pos = 0
            while True:
                part = body[pos : pos + 512]
                pos += len(part)
                final = 1 if pos >= len(body) else 0
                stream.append(final)  # BTYPE=00 in bits 1-2
                stream.extend(
                    struct.pack("<HH", len(part), len(part) ^ 0xFFFF)
                )
                stream.extend(part)
                if final:
                    break
            stream.extend(
                struct.pack(">I", zlib.adler32(body) & 0xFFFFFFFF)
            )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        cut = max(len(stream) // 2, 1)
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", bytes(stream[:cut]))
            + _png_chunk(b"tEXt", b"Comment\x00decoy between idats")
            + _png_chunk(b"IDAT", bytes(stream[cut:]))
            + _png_chunk(b"IEND", b"")
        )
        return payload

    return synth_payload_stage(media_ids, payload)


def _inflate(stream: bytes):
    """zlib-stream (RFC 1950) inflate via the stdlib: header check
    bits, every deflate block type and the adler32 trailer are the
    library's. Returns the uncompressed bytes, or None for anything
    the library rejects — a preset dictionary included — for a
    truncated stream, and for any byte after the trailer."""
    import zlib

    d = zlib.decompressobj(15)
    try:
        out = d.decompress(stream)
    except zlib.error:
        return None
    if not d.eof or d.unused_data:
        return None
    return out


def decode_png_pixels(payload: bytes):
    """REAL PNG decoder: walks the chunk list verifying every CRC,
    concatenates IDAT data, inflates the zlib stream (``_inflate``,
    stdlib ``zlib``), and reconstructs all five scanline filters
    (None/Sub/Up/Average/Paeth) into a ``numpy.uint8``
    (height, width, 3) RGB raster. Scope: 8-bit color type 2,
    non-interlaced. Returns None for anything corrupt or out-of-scope
    it cannot decode exactly — never raises, never guesses."""
    import zlib

    import numpy as np

    b = payload or b""
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        if pos + 12 + ln > len(b):
            return None  # chunk data or CRC cut short
        ctype = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", b[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            return None
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype_ != 2 or comp != 0 or filt != 0 or interlace != 0:
        return None
    if w <= 0 or h <= 0:
        return None
    body = _inflate(bytes(idat))
    if body is None or len(body) != h * (1 + 3 * w):
        return None
    bpp, stride = 3, 3 * w
    rows = np.frombuffer(body, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes = rows[:, 0]
    cur_rows = rows[:, 1:]
    raster = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        f = ftypes[r]
        cur = cur_rows[r]
        if f == 0:
            raster[r] = cur
        elif f == 2:  # Up: uint8 add wraps mod 256 natively
            np.add(cur, prev, out=raster[r])
        elif f == 1:  # Sub: per-channel prefix sum (cumsum promotes
            # uint8 to int64; the uint8 cast wraps mod 256)
            raster[r] = (
                cur.reshape(-1, bpp).cumsum(axis=0).astype(np.uint8)
            ).reshape(-1)
        elif f in (3, 4):  # Average / Paeth: inherently left-recursive
            # — plain-int lists beat numpy scalar indexing ~10x here
            cur_l = cur.tolist()
            prev_l = prev.tolist()
            raw = [0] * stride
            if f == 3:
                for x in range(stride):
                    a = raw[x - bpp] if x >= bpp else 0  # reconstructed left
                    raw[x] = (cur_l[x] + ((a + prev_l[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = raw[x - bpp] if x >= bpp else 0
                    bb = prev_l[x]
                    c = prev_l[x - bpp] if x >= bpp else 0
                    # |p-a|,|p-b|,|p-c| for p=a+b-c reduce to:
                    pa, pb, pc = abs(bb - c), abs(a - c), abs(a + bb - 2 * c)
                    pred = (
                        a if pa <= pb and pa <= pc else (bb if pb <= pc else c)
                    )
                    raw[x] = (cur_l[x] + pred) & 0xFF
            raster[r] = raw
        else:
            return None
        prev = raster[r]
    return raster.reshape(h, w, 3)


PNG_STATS_SCHEMA = (
    "media_id long, width int, height int, "
    "px_sum long, px_wsum long, mean_millibyte long"
)


def png_pixel_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL PNG decode over a (media_id, payload) table:
    ``decode_png_pixels`` reconstructs each raster and the stage emits
    the same order-sensitive statistics as the BMP path (``px_wsum``
    only matches the oracle if IDAT concatenation, inflate of every
    deflate block type, AND filter reconstruction are all byte-exact).
    Undecodable payloads yield NULL stats."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = decode_png_pixels(bytes(payload or b""))
                if px is None:
                    rows.append((int(mid), None, None, None, None, None))
                    continue
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                s = int(flat.sum())
                rows.append(
                    (
                        int(mid), w, h, s,
                        int(((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()),
                        s * 1000 // flat.size,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height",
                    "px_sum", "px_wsum", "mean_millibyte",
                ],
            )

    return media.mapInPandas(_stats, PNG_STATS_SCHEMA)
