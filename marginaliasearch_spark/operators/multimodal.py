"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image and video payloads are carried as ``binary`` columns with typed
metadata; decode / feature-extraction / frame-sample run as Arrow-batched
``mapInPandas`` kernels. Real decoders (pure numpy + stdlib, no codec
libs): binary PPM, uncompressed 24-bit BMP, PNG (zlib inflate +
full scanline-filter reconstruction), GIF87a/89a (variable-width LZW,
interlace, local color tables), baseline + progressive JPEG, and the
y4m, AVI-MJPEG and animated-GIF video containers. Other formats (TIFF,
...) raise ``NotImplementedError`` — the package ships no codec
libs; ``fake=True`` selects a deterministic
fake decoder (content-hash-seeded splitmix64 pixels) that exercises the
full Spark plumbing — schema, batching, partitioning.

The fake decoder and the synthetic media table are built from md5 +
splitmix64 only, so the driver's DuckDB correctness oracle recomputes the
identical features/frames in pure SQL (functions/sql_oracles.py) — the
plumbing gets a hash-exact check, not a rows-only one.
"""

from __future__ import annotations

import functools
import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _splitmix64

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

IMG_H = IMG_W = 32
_N_PIX = IMG_H * IMG_W  # 1024 pixels, 3 channels
# container walkers (RIFF LIST) recurse per nesting
# level; real files nest a handful deep, so a generous cap converts a
# malformed deeply-nested blob from RecursionError (NOT in the per-item
# skip allowlist → kills the job after task retries) into the ValueError
# the skip policy is built around
_MAX_CONTAINER_DEPTH = 64


def _malformed_to_valueerror(kind: str):
    """Boundary guard for the public decode entry points.

    The decoders are spec-faithful on valid inputs, but payload bytes are
    UNTRUSTED: a flipped byte can surface as an out-of-range read
    (IndexError), an exhausted bit-stream (StopIteration), a corrupted
    Huffman/table lookup (KeyError), or absurd arithmetic
    (OverflowError). A per-item skip policy over a media column can
    only allowlist (ValueError, NotImplementedError) — anything else
    kills the whole job four task-retries at a time — so parsing
    ACCIDENTS are normalized to ValueError here, at the API boundary
    (mutation-fuzzed: tools/fuzz record in BASELINE.md). Genuine
    resource errors (MemoryError, RecursionError) still surface; the
    dimension/depth/count guards exist to keep those unreachable from
    payload bytes."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except (ValueError, NotImplementedError):
                raise
            except (IndexError, KeyError, StopIteration, OverflowError,
                    ZeroDivisionError) as e:
                raise ValueError(
                    f"malformed {kind} payload: {type(e).__name__}: {e}"
                ) from e

        return wrapper

    return deco
HIST_BINS = 8
# intensity bin = min((r+g+b) // 96, 7): integer arithmetic, identical in
# numpy and SQL (np.histogram's float bin edges are not replayable in SQL)
_BIN_DIV = 96


def _seed_from_payload(payload: bytes) -> np.uint64:
    """First 8 md5 bytes of the payload's lowercase hex — matches the SQL
    twin ``('0x' || substr(md5(payload_hex), 1, 16))::UBIGINT``."""
    digest = hashlib.md5(payload.hex().encode()).digest()
    return np.uint64(int.from_bytes(digest[:8], "big"))


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → HxWx3 uint8. Pure numpy — no image libs.

    Header grammar (netpbm spec): ``P6``, then three ASCII integers
    (width, height, maxval) separated by whitespace, ``#`` comments
    allowed between tokens, one whitespace byte, then ``h*w*3`` raw bytes.
    """
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = vals
    n = w * h * 3
    if maxval > 255:  # two-byte big-endian samples, floor-scaled to 0..255
        wide = np.frombuffer(payload, dtype=">u2", count=n, offset=pos)
        return (
            (wide.astype(np.int64) * 255 // maxval)
            .astype(np.uint8)
            .reshape(h, w, 3)
        )
    arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return arr.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BI_RGB) → HxWx3 uint8. Pure numpy.

    Rows are 4-byte padded, stored bottom-up (positive height) in BGR
    order; both quirks are undone here.
    """
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * h, offset=data_off
    ).reshape(h, row_bytes)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    if bottom_up:
        img = img[::-1]
    return img.copy()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(payload: bytes):
    """(type, data) pairs; CRCs are not verified (decode correctness is
    pinned by round-trip tests, and corrupt zlib data fails loudly)."""
    pos = len(_PNG_SIG)
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        yield typ, payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IEND":
            break


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reconstruct ``h`` scanlines of ``stride`` filtered bytes each
    (``bpp`` = filter-unit bytes per pixel, >= 1 even for sub-byte
    depths) → ``(h, stride)`` uint8. Sub is a per-unit cumulative sum
    and Up a vectorized row add; only Average/Paeth rows walk bytes
    (left-neighbor data dependence)."""
    rows = np.frombuffer(raw, dtype=np.uint8)[: h * (stride + 1)].reshape(
        h, stride + 1
    )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        line = rows[y, 1:]
        if f == 0:
            rec = line.copy()
        elif f == 1:  # Sub: prefix sum per filter unit (mod 256)
            npx = stride // bpp
            rec = (
                (line.reshape(npx, bpp).cumsum(axis=0) & 255)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif f == 2:  # Up: uint8 add wraps
            rec = line + prev
        elif f == 3:  # Average
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) & 255
        elif f == 4:  # Paeth
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                rec[x] = (int(line[x]) + pr) & 255
        else:
            raise NotImplementedError(f"PNG filter type {f}")
        out[y] = rec
        prev = rec
    return out


def _png_samples(rows: np.ndarray, w: int, nch: int, depth: int) -> np.ndarray:
    """(h, stride) unfiltered bytes → (h, w, nch) uint8 samples. 16-bit
    samples take the high byte (the spec's sample-depth rescale for
    8-bit output); 1/2/4-bit samples are unpacked MSB-first and scaled
    to full 8-bit range (for palette images the raw index is wanted —
    callers pass ``depth`` as 8 after unpacking themselves)."""
    h = rows.shape[0]
    if depth == 8:
        return rows.reshape(h, w, nch)
    if depth == 16:
        return rows.reshape(h, w, nch, 2)[..., 0]
    # sub-byte: ctype 0 or 3 only, nch == 1
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(h, -1, depth)
    idx = vals @ (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return idx[:, :w].reshape(h, w, 1).astype(np.uint8)


# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG → HxWx3 uint8, stdlib ``zlib`` + numpy unfiltering — no codec
    libs (VERDICT r3 item 7). Supports bit depths 1/2/4/8/16, all five
    color types (0 grayscale, 2 RGB, 3 palette via PLTE, 4 gray+alpha,
    6 RGBA — alpha dropped), interlace 0 and 1 (Adam7, each pass
    unfiltered independently and scattered into place), all five
    scanline filters (None/Sub/Up/Average/Paeth). 16-bit samples keep
    the high byte; sub-byte grayscale is scaled to full range."""
    import zlib

    ihdr = None
    plte = None
    idat: list[bytes] = []
    for typ, data in _png_chunks(bytes(payload)):
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
    if ihdr is None or not idat:
        raise NotImplementedError("malformed PNG (missing IHDR/IDAT)")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, comp, filt, inter = ihdr[8:13]
    if comp != 0 or filt != 0 or inter not in (0, 1):
        raise NotImplementedError("malformed PNG header")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise NotImplementedError(f"PNG color type {ctype} not supported")
    valid = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}[ctype]
    if depth not in valid:
        raise NotImplementedError(
            f"PNG depth={depth} invalid for color type {ctype}"
        )
    if ctype == 3 and plte is None:
        raise NotImplementedError("palette PNG missing PLTE")
    bpp = max(1, nch * depth // 8)

    def stride_for(width: int) -> int:
        return (width * nch * depth + 7) // 8

    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # normalize to the per-item skip allowlist: a corrupted deflate
        # stream is a malformed payload (ValueError), not a job-killer
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if inter == 0:
        samples = _png_samples(
            _png_unfilter(raw, h, stride_for(w), bpp), w, nch, depth
        )
    else:  # Adam7
        samples = np.zeros((h, w, nch), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            st = stride_for(pw)
            sub = _png_samples(
                _png_unfilter(raw[pos : pos + ph * (st + 1)], ph, st, bpp),
                pw, nch, depth,
            )
            samples[y0::dy, x0::dx] = sub
            pos += ph * (st + 1)

    if ctype == 3:
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        img = pal[samples[:, :, 0]]
    else:
        if depth < 8:  # scale sub-byte grayscale to full range
            samples = (
                samples.astype(np.int64) * 255 // ((1 << depth) - 1)
            ).astype(np.uint8)
        if nch == 1:
            img = np.repeat(samples, 3, axis=2)
        elif nch == 2:  # gray + alpha
            img = np.repeat(samples[:, :, :1], 3, axis=2)
        elif nch == 4:
            img = samples[:, :, :3]
        else:
            img = samples
    return np.ascontiguousarray(img)


def encode_png(img: np.ndarray, filters: int | str = "cycle") -> bytes:
    """HxWx3 (or HxWx1/HxWx4) uint8 → PNG bytes, stdlib zlib.

    ``filters="cycle"`` picks scanline filter ``row % 5`` so a single
    fixture exercises every unfilter path in ``_decode_png``; an int pins
    one type. Filters are computed over the ORIGINAL scanlines (spec
    behavior), so encode→decode is exact for any input."""
    import zlib

    h, w, nch = img.shape
    ctype = {1: 0, 3: 2, 4: 6}[nch]
    flat = img.reshape(h, w * nch).astype(np.int64)
    zero = np.zeros(nch, np.int64)
    lines = []
    prev = np.zeros(w * nch, np.int64)
    for y in range(h):
        f = y % 5 if filters == "cycle" else int(filters)
        cur = flat[y]
        left = np.concatenate([zero, cur[:-nch]])
        upleft = np.concatenate([zero, prev[:-nch]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = cur - pred
        lines.append(bytes([f]) + (enc & 255).astype(np.uint8).tobytes())
        prev = cur
    raw = zlib.compress(b"".join(lines))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, 0])
    )
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )


def _gif_interlace_rows(h: int) -> np.ndarray:
    """GIF89a appendix E interlace pass order: the k-th decoded row's
    display position."""
    return np.concatenate(
        [np.arange(0, h, 8), np.arange(4, h, 8),
         np.arange(2, h, 4), np.arange(1, h, 2)]
    )


def _lzw_decode(data: bytes, mcs: int, n_px: int) -> np.ndarray:
    """GIF variable-width LZW (LSB-first bit packing, clear/EOI codes,
    width grows to 12 bits) → ``n_px`` palette indices."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = np.empty(n_px, np.uint8)
    n_out = 0
    acc = nbits = pos = 0
    table: list[bytes] = []
    width = mcs + 1
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = mcs + 1
        prev = None

    reset()
    while n_out < n_px:
        while nbits < width:
            if pos >= len(data):
                raise NotImplementedError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the cScSc case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise NotImplementedError("corrupt GIF LZW code")
        out[n_out : n_out + len(entry)] = np.frombuffer(entry, np.uint8)
        n_out += len(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if n_out != n_px:
        raise NotImplementedError("GIF pixel data does not fill the image")
    return out


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF LZW encoder (the inverse convention of ``_lzw_decode``: width
    bumps after the table add that makes ``next_code == 2^width + 1``;
    a CLEAR resets the table when it fills at 4096)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 255)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = mcs + 1
    emit(clear, width)
    w = b""
    for i in indices:
        ch = bytes([i])
        wc = w + ch
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4097:  # table full: spec-compliant reset
            emit(clear, width)
            table = {bytes([j]): j for j in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        w = ch
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 255)
    return bytes(out)


def _decode_gif_frames(
    payload: bytes, max_frames: int | None = None
) -> tuple[np.ndarray, float]:
    """GIF87a/89a → ``((n_frames, sh, sw, 3) uint8 RGB frames, fps)``,
    pure Python/numpy (real variable-width LZW, global/local color
    tables, interlace) with GIF89a animation semantics: per-frame
    Graphic Control Extensions supply the delay, transparency index
    (transparent pixels leave the canvas untouched) and disposal method
    (1 keep / 2 restore-to-background / 3 restore-to-previous). The
    canvas starts as the logical-screen background color (global palette
    entry ``bg``, else black); each composed canvas snapshot is one
    frame. fps = 100 / mean(nonzero delays), 10 when no delay is set
    (the de-facto browser default cadence)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    # decompression-bomb guard: a corrupted logical-screen size would
    # otherwise allocate an sh×sw×3 canvas (up to ~12.9 GB at 16-bit
    # maxima) per composed frame — skippable ValueError instead
    if sw * sh > 1 << 26:  # zero dims are harmless (empty canvas)
        raise ValueError(f"GIF logical screen unreasonable: {sw}x{sh}")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    bg_rgb = (
        gct[min(bg_index, len(gct) - 1)]
        if gct is not None
        else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    delays: list[int] = []
    # pending GCE state (applies to the next image descriptor only)
    disposal, transparent, delay = 0, None, 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9 and payload[pos] >= 4:  # GCE
                flags = payload[pos + 1]
                disposal = (flags >> 2) & 7
                delay = int.from_bytes(payload[pos + 2 : pos + 4], "little")
                transparent = payload[pos + 4] if flags & 1 else None
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
            top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
            w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            # same bomb guard per frame: _lzw_decode materializes w*h
            # indices before the canvas shape check would catch it
            if w * h > 1 << 26:
                raise ValueError(f"GIF frame unreasonable: {w}x{h}")
            ip = payload[pos + 9]
            pos += 10
            pal = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                pal = np.frombuffer(
                    payload[pos : pos + 3 * n], np.uint8
                ).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise NotImplementedError("GIF without a color table")
            mcs = payload[pos]
            pos += 1
            chunks = []
            while payload[pos]:
                ln = payload[pos]
                chunks.append(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(b"".join(chunks), mcs, w * h).reshape(h, w)
            if ip & 0x40:  # interlaced: reorder decoded rows
                disp = np.empty_like(idx)
                disp[_gif_interlace_rows(h)] = idx
                idx = disp
            # AGGREGATE budget, not just per-frame: each composed frame
            # appends a full canvas copy, and LZW amplifies ~O(n²), so a
            # small payload with many frames could otherwise OOM (a
            # MemoryError evades the skip allowlist). 2^27 total pixels
            # ≈ 402 MB of stacked RGB frames.
            if (len(frames) + 1) * sh * sw > 1 << 27:
                raise ValueError(
                    "GIF animation exceeds the total composed-pixel budget"
                )
            region = pal[np.minimum(idx, len(pal) - 1)]
            saved = (
                canvas[top : top + h, left : left + w].copy()
                if disposal == 3
                else None
            )
            if transparent is not None:
                opaque = idx != transparent
                canvas[top : top + h, left : left + w][opaque] = region[
                    opaque
                ]
            else:
                canvas[top : top + h, left : left + w] = region
            frames.append(canvas.copy())
            delays.append(delay)
            if disposal == 2:  # restore rect to background color
                canvas[top : top + h, left : left + w] = bg_rgb
            elif disposal == 3 and saved is not None:
                canvas[top : top + h, left : left + w] = saved
            disposal, transparent, delay = 0, None, 0
            if max_frames is not None and len(frames) >= max_frames:
                break
        elif b == 0x3B:
            break
        else:
            raise NotImplementedError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise NotImplementedError("GIF contains no image block")
    nz = [d for d in delays if d]
    fps = 100.0 * len(nz) / sum(nz) if nz else 10.0
    return np.stack(frames), fps


def _decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a → HxWx3 uint8 (first composed frame of
    ``_decode_gif_frames`` — still images are one-frame animations)."""
    return np.ascontiguousarray(
        _decode_gif_frames(payload, max_frames=1)[0][0]
    )


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """HxW uint8 palette indices + Px3 palette → GIF89a bytes (real LZW;
    ``interlace=True`` writes appendix-E row order so the decoder's
    reorder path is exercised)."""
    h, w = indices.shape
    p = len(palette)
    bits = max(1, (p - 1).bit_length())
    n = 1 << bits
    pal = np.zeros((n, 3), np.uint8)
    pal[:p] = palette
    mcs = max(2, bits)
    rows = indices[_gif_interlace_rows(h)] if interlace else indices
    data = _lzw_encode(rows.astype(np.uint8).tobytes(), mcs)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0]) + pal.tobytes()
    out += b"\x2c" + b"\x00" * 4
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0, mcs])
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)


def encode_gif_animation(
    frames: list[tuple[int, int, np.ndarray]],
    palette: np.ndarray,
    screen: tuple[int, int],
    delays: list[int] | None = None,
    disposals: list[int] | None = None,
    transparent: int | None = None,
) -> bytes:
    """Animated GIF89a fixture writer. ``frames`` is a list of
    ``(left, top, HxW uint8 index array)`` placements onto a
    ``screen=(sw, sh)`` logical canvas sharing one global ``palette``;
    ``delays`` are per-frame centiseconds, ``disposals`` per-frame GCE
    disposal methods. Each frame gets a Graphic Control Extension (so
    the decoder's animation path — transparency, disposal,
    delay-derived fps — is exercised for real)."""
    sw, sh = screen
    p = len(palette)
    bits = max(1, (p - 1).bit_length())
    n = 1 << bits
    pal = np.zeros((n, 3), np.uint8)
    pal[:p] = palette
    mcs = max(2, bits)
    delays = delays or [0] * len(frames)
    disposals = disposals or [0] * len(frames)
    out = bytearray(b"GIF89a")
    out += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0]) + pal.tobytes()
    for (left, top, idx), delay, disp in zip(frames, delays, disposals):
        h, w = idx.shape
        flags = (disp & 7) << 2 | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 4, flags])
        out += delay.to_bytes(2, "little")
        out += bytes([transparent or 0, 0])
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0, mcs])
        data = _lzw_encode(idx.astype(np.uint8).tobytes(), mcs)
        for i in range(0, len(data), 255):
            blk = data[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# --- baseline JPEG (ITU-T T.81 / ISO 10918-1, sequential DCT) ---------------
#
# Pure numpy + stdlib: marker parse, table-driven canonical Huffman (any
# DHT, including Annex K tables), dequantize + inverse zigzag, matrix
# IDCT, deterministic floor(x + 0.5) rounding, nearest chroma upsample,
# restart markers. Progressive / arithmetic / 12-bit scans raise
# NotImplementedError. Rounding discipline: uint8 planes are produced
# with floor(idct + 128 + 0.5) and the YCbCr→RGB transform uses
# floor(x + 0.5) on IEEE doubles with fixed literal coefficients and
# left-associated sums — the exact op order the SQL twin replays.

_ZIGZAG = np.array(
    [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26,
     33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56,
     57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45, 38,
     31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64,
)


def _dct_basis() -> np.ndarray:
    """8x8 orthonormal DCT-II basis A with A[u, x] = c(u)/2 *
    cos((2x+1) u pi / 16); IDCT of coefficient block F is A.T @ F @ A."""
    u = np.arange(8).reshape(-1, 1)
    x = np.arange(8).reshape(1, -1)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] = 0.5 / np.sqrt(2.0)
    return a


_DCT_A = _dct_basis()


class _HuffTable:
    """Canonical Huffman table from a DHT segment (counts per length +
    values), decoded with the mincode/maxcode/valptr walk of T.81 F.16."""

    def __init__(self, counts: list[int], values: bytes):
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for ln in range(1, 17):
            if counts[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += counts[ln - 1]
                k += counts[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    byte unstuffing; stops (and records the marker) at any other 0xFFxx."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                b = 0  # pad past the marker (T.81: fill with 1s/0s is moot)
                self.pos += 0
                self.acc = (self.acc << 8) | b
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Consume a RSTn marker at a restart boundary."""
        self.acc = 0
        self.nbits = 0
        if self.marker is not None:
            self.marker = None
            self.pos += 2  # 0xFF 0xDn
        elif (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


def _huff_decode(br: _BitReader, table: _HuffTable) -> int:
    code = br.read_bit()
    for ln in range(1, 17):
        if table.maxcode[ln] >= code >= table.mincode[ln]:
            return table.values[table.valptr[ln] + code - table.mincode[ln]]
        code = (code << 1) | br.read_bit()
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.12 sign extension of a t-bit magnitude."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_ac_first(br, table, coef, ss, se, al, eobrun) -> int:
    """First AC scan of a band (T.81 G.1.2.2): (run, size) pairs with
    EOBn run codes; delivered values are shifted left by the scan's
    successive-approximation low bit Al. ``coef`` is the block's 64-long
    zigzag-order view; returns the updated EOB run counter."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(br, table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:  # EOBn: run of 2^r + appended-bits blocks
                eobrun = 1 << r
                if r:
                    eobrun += br.read_bits(r)
                return eobrun - 1  # current block is a member of the run
            k += 16  # ZRL
            continue
        k += r
        coef[k] = _extend(br.read_bits(s), s) << al
        k += 1
    return 0


def _jpeg_ac_refine(br, table, coef, ss, se, al, eobrun) -> int:
    """AC successive-approximation refinement (T.81 G.1.2.3). Zero-run
    counts cover only zero-history coefficients; every already-nonzero
    coefficient traversed — including the tail of an EOB run — consumes
    one correction bit. Mirrors the control flow of the spec's Figures
    G.7/G.10 (the same structure libjpeg's decode_mcu_AC_refine uses)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, table)
            r, s = rs >> 4, rs & 15
            newval = 0
            if s == 0:
                if r != 15:  # EOBn — rest of band is correction bits only
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients below
            else:
                # s is always 1 in a refinement scan (one new bit)
                newval = p1 if br.read_bit() else m1
            while k <= se:
                if coef[k] != 0:
                    if br.read_bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        if s:
                            coef[k] = newval
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0 and br.read_bit() and (coef[k] & p1) == 0:
                coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_scan(
    data, pos, comps, scomps, ss, se, ah, al, huff, coefs,
    restart_interval, mcux, mcuy, hmax, vmax, h_img, w_img, progressive,
) -> int:
    """Decode one entropy-coded scan into the per-component coefficient
    arrays and return the position of the next marker.

    ``scomps`` is ``[(comp_index, dc_table, ac_table), ...]``. A
    single-component scan is non-interleaved (data units in raster order
    over the component's own ceil-divided block grid, T.81 A.2.2); a
    multi-component scan walks MCUs. Restart markers reset DC predictors
    and the EOB run."""
    br = _BitReader(data, pos)
    preds = [0] * len(comps)
    eobrun = 0

    if len(scomps) == 1:
        ci, td, ta = scomps[0]
        comp = comps[ci]
        nbx = -(-(-(-w_img * comp["h"] // hmax)) // 8)
        nby = -(-(-(-h_img * comp["v"] // vmax)) // 8)
        n_mcu = nbx * nby

        def units(m):
            by, bx = divmod(m, nbx)
            return ((ci, td, ta, by, bx),)
    else:
        n_mcu = mcux * mcuy

        def units(m):
            my, mx = divmod(m, mcux)
            return tuple(
                (ci, td, ta, my * comps[ci]["v"] + by,
                 mx * comps[ci]["h"] + bx)
                for ci, td, ta in scomps
                for by in range(comps[ci]["v"])
                for bx in range(comps[ci]["h"])
            )

    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            br.align_restart()
            preds = [0] * len(comps)
            eobrun = 0
        for ci, td, ta, by, bx in units(m):
            coef = coefs[ci][by, bx]
            if not progressive:
                t = _huff_decode(br, huff[(0, td)])
                preds[ci] += _extend(br.read_bits(t), t)
                coef[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = _huff_decode(br, huff[(1, ta)])
                    r, s = rs >> 4, rs & 15
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += r
                    coef[k] = _extend(br.read_bits(s), s)
                    k += 1
            elif ss == 0:
                if ah == 0:  # first DC scan (T.81 G.1.2.1)
                    t = _huff_decode(br, huff[(0, td)])
                    preds[ci] += _extend(br.read_bits(t), t)
                    coef[0] = preds[ci] << al
                elif br.read_bit():  # DC refinement: one raw bit
                    coef[0] |= 1 << al
            elif ah == 0:
                eobrun = _jpeg_ac_first(
                    br, huff[(1, ta)], coef, ss, se, al, eobrun
                )
            else:
                eobrun = _jpeg_ac_refine(
                    br, huff[(1, ta)], coef, ss, se, al, eobrun
                )

    p = br.pos
    while p < len(data) - 1 and not (
        data[p] == 0xFF
        and data[p + 1] != 0x00
        and not (0xD0 <= data[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0) and progressive (SOF2) JPEG → HxWx3 uint8 RGB
    (grayscale replicated).

    General table-driven decode — any DQT/DHT (Annex K or custom),
    1 or 3 components, sampling factors up to 2x2 (nearest upsample),
    DRI/RSTn, and for progressive streams any scan script (spectral
    selection + successive approximation, interleaved DC scans,
    non-interleaved AC scans, EOB runs). Both modes accumulate quantized
    coefficients per component and share one vectorized dequantize +
    IDCT + upsample + YCbCr finish, so a progressive stream decodes to
    exactly the pixels of its baseline re-encoding. Deterministic
    rounding as described in the section header. Arithmetic-coded and
    hierarchical modes (SOF9/SOF10/SOF13/SOF14, SOF3/5/6/7/11/15) raise
    ``NotImplementedError``.
    """
    data = bytes(payload)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}
    comps: list[dict] = []
    coefs: list[np.ndarray] = []
    h_img = w_img = 0
    restart_interval = 0
    progressive = False
    hmax = vmax = mcux = mcuy = 0
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (Pq=0 → 8-bit entries, Pq=1 → 16-bit)
            p = 0
            while p < len(body):
                prec, tid = body[p] >> 4, body[p] & 15
                if prec:
                    qt[tid] = np.frombuffer(
                        body[p + 1 : p + 129], dtype=">u2"
                    ).astype(np.int64)
                    p += 129
                else:
                    qt[tid] = np.frombuffer(
                        body[p + 1 : p + 65], dtype=np.uint8
                    ).astype(np.int64)
                    p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 15
                counts = list(body[p + 1 : p + 17])
                nval = sum(counts)
                huff[(cls, tid)] = _HuffTable(
                    counts, body[p + 17 : p + 17 + nval]
                )
                p += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (identical
            # Huffman decoding at 8-bit precision) / SOF2 progressive
            progressive = marker == 0xC2
            if body[0] != 8:
                raise NotImplementedError("only 8-bit sample precision")
            h_img = int.from_bytes(body[1:3], "big")
            w_img = int.from_bytes(body[3:5], "big")
            # decompression-bomb guard: corrupted SOF dimensions must be
            # the skippable ValueError, not a multi-GB allocation (also
            # shields the MJPEG AVI per-frame path). The cap budgets
            # the REAL footprint — coefficients are int64 × up to 3
            # components plus float64 dequant/IDCT temporaries (~30
            # bytes/pixel peak), so 2^24 px (e.g. 4096×4096) keeps peak
            # memory ~500 MB where 2^28 would have allowed ~8 GB.
            if not (0 < w_img and 0 < h_img and w_img * h_img <= 1 << 24):
                raise ValueError(
                    f"JPEG dimensions unreasonable: {w_img}x{h_img}"
                )
            ncomp = body[5]
            for c in range(ncomp):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": samp >> 4, "v": samp & 15, "tq": tq}
                )
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if hmax > 2 or vmax > 2:
                raise NotImplementedError("sampling factors up to 2x2 only")
            mcux = -(-w_img // (8 * hmax))
            mcuy = -(-h_img // (8 * vmax))
            # quantized coefficients in ZIGZAG order, MCU-grid padded
            coefs = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
                for c in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0), extended sequential (SOF1) and "
                "progressive (SOF2) Huffman JPEG are supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scomps = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                ci = next(
                    i for i, comp in enumerate(comps) if comp["id"] == cid
                )
                scomps.append((ci, tabs >> 4, tabs & 15))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _jpeg_scan(
                data, pos + seglen, comps, scomps, ss, se, ah, al, huff,
                coefs, restart_interval, mcux, mcuy, hmax, vmax,
                h_img, w_img, progressive,
            )
            continue
        pos += seglen
    if not comps or not h_img:
        raise ValueError("JPEG missing SOF/SOS")

    out_planes = []
    for ci, comp in enumerate(comps):
        # dequantize (DQT bytes are zigzag-ordered, like the coefs) and
        # scatter to natural order, then one vectorized IDCT per plane
        nby, nbx = coefs[ci].shape[:2]
        nat = np.zeros((nby, nbx, 64), dtype=np.float64)
        nat[:, :, _ZIGZAG] = coefs[ci] * qt[comp["tq"]]
        f = nat.reshape(nby, nbx, 8, 8)
        pix = np.einsum("ab,ijbc,cd->ijad", _DCT_A.T, f, _DCT_A)
        plane = pix.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        p8 = np.clip(np.floor(plane + 128.0 + 0.5), 0, 255).astype(np.int64)
        # nearest upsample to full resolution
        ry = np.arange(h_img) * comp["v"] // vmax
        rx = np.arange(w_img) * comp["h"] // hmax
        out_planes.append(p8[ry][:, rx])
    if len(out_planes) == 1:
        y = out_planes[0]
        return np.stack([y, y, y], axis=2).astype(np.uint8)
    y, cb, cr = (p.astype(np.float64) for p in out_planes)
    r = np.floor(y + 1.402 * (cr - 128.0) + 0.5)
    g = np.floor(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5)
    b = np.floor(y + 1.772 * (cb - 128.0) + 0.5)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


def _huff_canonical_codes(counts: list[int], values: bytes) -> dict:
    """symbol → (code, length) for a canonical table (encoder side)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


# fixture-grade custom tables: 12 DC symbols at length 4 (Kraft 12/16),
# all 162 AC (run, size) symbols at length 8 (Kraft 162/256) — valid
# canonical prefix codes the table-driven decoder reads from DHT like
# any other; Annex K tables would work identically but are not needed.
_ENC_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALUES = bytes(range(12))
_ENC_AC_VALUES = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_COUNTS = [0] * 7 + [len(_ENC_AC_VALUES)] + [0] * 8


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per T.81
        return bytes(self.buf)


def encode_jpeg(
    coeff_blocks: np.ndarray, h: int, w: int, qtable: np.ndarray
) -> bytes:
    """Quantized coefficient blocks → baseline JPEG (3 components, 4:4:4,
    one shared quant table, custom canonical Huffman tables in DHT).

    ``coeff_blocks`` is ``(n_blocks_y, n_blocks_x, 3, 64)`` int64 in
    NATURAL (row-major) order, already quantized; DC prediction, zigzag,
    (run, size) coding and byte stuffing are applied here. This is the
    fixture writer — the decoder above is the general artifact.
    """
    nby, nbx = coeff_blocks.shape[:2]
    if (nby * 8, nbx * 8) != (h, w):
        raise ValueError("block grid does not cover image")
    dc_codes = _huff_canonical_codes(_ENC_DC_COUNTS, _ENC_DC_VALUES)
    ac_codes = _huff_canonical_codes(_ENC_AC_COUNTS, _ENC_AC_VALUES)

    def marker(m: int, body: bytes) -> bytes:
        return bytes([0xFF, m]) + (len(body) + 2).to_bytes(2, "big") + body

    qzig = qtable[_ZIGZAG]  # DQT stores the table in zigzag order
    head = b"\xff\xd8"
    head += marker(0xDB, bytes([0]) + qzig.astype(np.uint8).tobytes())
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
        [3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    head += marker(0xC0, sof)
    head += marker(
        0xC4, bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_VALUES
    )
    head += marker(
        0xC4, bytes([0x10]) + bytes(_ENC_AC_COUNTS) + _ENC_AC_VALUES
    )
    head += marker(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))

    bw = _BitWriter()
    pred = [0, 0, 0]
    for m in range(nby * nbx):
        my, mx = divmod(m, nbx)
        for c in range(3):
            zz = coeff_blocks[my, mx, c][_ZIGZAG]
            diff = int(zz[0]) - pred[c]
            pred[c] = int(zz[0])
            t = abs(diff).bit_length()
            code, ln = dc_codes[t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
            k, run = 1, 0
            while k < 64:
                v = int(zz[k])
                if v == 0:
                    run += 1
                else:
                    while run > 15:
                        code, ln = ac_codes[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    s = abs(v).bit_length()
                    code, ln = ac_codes[(run << 4) | s]
                    bw.write(code, ln)
                    bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                k += 1
            if run:
                code, ln = ac_codes[0x00]
                bw.write(code, ln)
    return head + bw.flush() + b"\xff\xd9"


# progressive fixture AC table: the baseline AC symbols plus the EOBn
# run codes 0x10..0xE0 (r = 1..14), all at length 8 — Kraft 176/256.
# Kept separate so the baseline fixture byte streams are unchanged.
_ENC_AC_VALUES_P = bytes(
    [0x00, 0xF0]
    + [r << 4 for r in range(1, 15)]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_COUNTS_P = [0] * 7 + [len(_ENC_AC_VALUES_P)] + [0] * 8


class _ProgACState:
    """Cross-block AC-scan state for the progressive encoder: a pending
    EOB run plus the correction bits buffered with it (T.81 G.1.2.3 —
    refinement bits for already-nonzero coefficients traversed while the
    run was open are emitted right after the EOBn code)."""

    def __init__(self, bw: _BitWriter, codes: dict) -> None:
        self.bw = bw
        self.codes = codes
        self.eobrun = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            code, ln = self.codes[r << 4]
            self.bw.write(code, ln)
            if r:
                self.bw.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.bits:
            self.bw.write(b, 1)
        self.bits = []

    def add_eob(self, bits: list[int]) -> None:
        self.eobrun += 1
        self.bits.extend(bits)
        if self.eobrun == 0x7FFF:  # EOB14 ceiling
            self.flush()


def _prog_ac_first_block(st: _ProgACState, zz, ss, se, al) -> None:
    """Encode one block of a first AC scan (values coded at precision
    ``abs(v) >> al`` with v's sign, T.81 G.1.2.2)."""
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        st.flush()
        while r > 15:
            code, ln = st.codes[0xF0]
            st.bw.write(code, ln)
            r -= 16
        s = t.bit_length()
        code, ln = st.codes[(r << 4) | s]
        st.bw.write(code, ln)
        sv = t if v >= 0 else -t
        st.bw.write(sv if sv >= 0 else sv + (1 << s) - 1, s)
        r = 0
    if r > 0:
        st.add_eob([])


def _prog_ac_refine_block(st: _ProgACState, zz, ss, se, al) -> None:
    """Encode one block of an AC refinement scan: newly-nonzero
    coefficients (``abs(v) >> al == 1``) as (zero-history-run, 1) + sign,
    already-nonzero ones as buffered correction bits (T.81 G.1.2.3)."""
    absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    eob_idx = -1  # band index of the last newly-nonzero coefficient
    for i, t in enumerate(absv):
        if t == 1:
            eob_idx = i
    r = 0
    br_bits: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob_idx:
            st.flush()
            code, ln = st.codes[0xF0]
            st.bw.write(code, ln)
            r -= 16
            for b in br_bits:
                st.bw.write(b, 1)
            br_bits = []
        if t > 1:  # already nonzero at coarser precision: correction bit
            br_bits.append(t & 1)
            continue
        st.flush()
        code, ln = st.codes[(r << 4) | 1]
        st.bw.write(code, ln)
        st.bw.write(1 if int(zz[ss + i]) > 0 else 0, 1)
        for b in br_bits:
            st.bw.write(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        st.add_eob(br_bits)


def encode_jpeg_progressive(
    coeff_blocks: np.ndarray,
    h: int,
    w: int,
    qtable: np.ndarray,
    dc_al: int = 1,
    ac_split: int = 5,
) -> bytes:
    """Quantized coefficient blocks → progressive JPEG (SOF2; 3
    components, 4:4:4, one shared quant table).

    Same input contract as ``encode_jpeg`` — the scan script is the
    classic spectral-selection + successive-approximation ladder:

    1. interleaved first DC scan (Ah=0, Al=``dc_al``),
    2. per component, first AC scans split at ``ac_split``
       (Ss=1..split and split+1..63, Ah=0, Al=1),
    3. interleaved DC refinement scans down to Al=0 (raw bits),
    4. per component, AC refinement scans for the same two bands
       (Ah=1, Al=0) with cross-block EOB runs and buffered correction
       bits.

    ``decode_jpeg`` of the result equals ``decode_jpeg`` of
    ``encode_jpeg`` over the same blocks exactly (both reconstruct the
    identical coefficient array). This is the fixture writer — the
    decoder above is the general artifact.
    """
    nby, nbx = coeff_blocks.shape[:2]
    if (nby * 8, nbx * 8) != (h, w):
        raise ValueError("block grid does not cover image")
    dc_codes = _huff_canonical_codes(_ENC_DC_COUNTS, _ENC_DC_VALUES)
    ac_codes = _huff_canonical_codes(_ENC_AC_COUNTS_P, _ENC_AC_VALUES_P)

    def marker(m: int, body: bytes) -> bytes:
        return bytes([0xFF, m]) + (len(body) + 2).to_bytes(2, "big") + body

    qzig = qtable[_ZIGZAG]
    head = b"\xff\xd8"
    head += marker(0xDB, bytes([0]) + qzig.astype(np.uint8).tobytes())
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes(
        [3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    head += marker(0xC2, sof)
    head += marker(
        0xC4, bytes([0x00]) + bytes(_ENC_DC_COUNTS) + _ENC_DC_VALUES
    )
    head += marker(
        0xC4, bytes([0x10]) + bytes(_ENC_AC_COUNTS_P) + _ENC_AC_VALUES_P
    )

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int,
            payload: bytes) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return marker(0xDA, body) + payload

    out = head
    zz_all = coeff_blocks[..., _ZIGZAG]  # (nby, nbx, 3, 64) zigzag order

    # 1. interleaved first DC scan at Al=dc_al (arithmetic shift, G.1.1.1)
    bw = _BitWriter()
    pred = [0, 0, 0]
    for m in range(nby * nbx):
        my, mx = divmod(m, nbx)
        for c in range(3):
            v = int(zz_all[my, mx, c, 0]) >> dc_al
            diff = v - pred[c]
            pred[c] = v
            t = abs(diff).bit_length()
            code, ln = dc_codes[t]
            bw.write(code, ln)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    out += sos([1, 2, 3], 0, 0, 0, dc_al, bw.flush())

    # 2. per-component first AC scans, two spectral bands at Al=1
    bands = [(1, ac_split), (ac_split + 1, 63)]
    for c in range(3):
        for ss_b, se_b in bands:
            bw = _BitWriter()
            st = _ProgACState(bw, ac_codes)
            for m in range(nby * nbx):
                my, mx = divmod(m, nbx)
                _prog_ac_first_block(st, zz_all[my, mx, c], ss_b, se_b, 1)
            st.flush()
            out += sos([c + 1], ss_b, se_b, 0, 1, bw.flush())

    # 3. interleaved DC refinement scans down to Al=0 (one raw bit each)
    for al in range(dc_al - 1, -1, -1):
        bw = _BitWriter()
        for m in range(nby * nbx):
            my, mx = divmod(m, nbx)
            for c in range(3):
                bw.write((int(zz_all[my, mx, c, 0]) >> al) & 1, 1)
        out += sos([1, 2, 3], 0, 0, al + 1, al, bw.flush())

    # 4. per-component AC refinement scans (Ah=1 → Al=0)
    for c in range(3):
        for ss_b, se_b in bands:
            bw = _BitWriter()
            st = _ProgACState(bw, ac_codes)
            for m in range(nby * nbx):
                my, mx = divmod(m, nbx)
                _prog_ac_refine_block(st, zz_all[my, mx, c], ss_b, se_b, 0)
            st.flush()
            out += sos([c + 1], ss_b, se_b, 1, 0, bw.flush())

    return out + b"\xff\xd9"


@_malformed_to_valueerror("image")
def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """payload → HxWx3 uint8 array.

    Real decoders (pure numpy, no external libs): binary PPM (``P6``),
    uncompressed 24-bit BMP (``BM``), PNG (stdlib zlib inflate +
    full filter reconstruction), GIF87a/89a, and baseline (SOF0) +
    progressive (SOF2) JPEG (table-driven Huffman + matrix IDCT;
    arithmetic-coded/hierarchical modes raise ``NotImplementedError``).
    Any other format, TIFF included, raises ``NotImplementedError``.
    ``fake=True`` keeps the deterministic
    content-hash decoder used by the SQL-twinned correctness oracles."""
    if fake:
        seed = _seed_from_payload(payload)
        idx = np.arange(_N_PIX * 3, dtype=np.uint64)
        vals = (_splitmix64(seed + idx) & np.uint64(255)).astype(np.uint8)
        return vals.reshape(IMG_H, IMG_W, 3)
    if payload[:2] == b"P6":
        return _decode_ppm(bytes(payload))
    if payload[:2] == b"BM":
        return _decode_bmp(bytes(payload))
    if bytes(payload[: len(_PNG_SIG)]) == _PNG_SIG:
        return _decode_png(bytes(payload))
    if bytes(payload[:4]) == b"GIF8":
        return _decode_gif(bytes(payload))
    if bytes(payload[:2]) == b"\xff\xd8":
        return decode_jpeg(bytes(payload))
    raise NotImplementedError(
        "unsupported image format: other formats require codec libraries "
        "this package does not ship; supported real formats: PPM (P6), "
        "24-bit BMP, PNG, GIF87a/89a, baseline + progressive JPEG"
    )


FEATURE_COLS = ["mean_r", "mean_g", "mean_b"] + [f"h{b}" for b in range(HIST_BINS)]
FEATURES_SCHEMA = "media_id long, " + ", ".join(f"{c} double" for c in FEATURE_COLS)


def image_features(
    media: DataFrame, fake: bool = True, payload_col: str = "payload"
) -> DataFrame:
    """media_id → pooled features as SCALAR columns (mean RGB + 8-bin
    intensity histogram).

    Scalar columns (not array<float>) so downstream tabular tooling — and
    the driver's canonicalizer — can sort/hash them. The Spark-side
    contract is real: binary in, fixed-width features out, one Arrow batch
    at a time; swap the fake decoder for a real one and nothing changes.
    """

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in FEATURE_COLS}
            for payload in pdf[payload_col]:
                img = decode_image(bytes(payload), fake=fake)
                flat = img.reshape(-1, 3).astype(np.int64)
                n_pix = flat.shape[0]  # == _N_PIX for the fake decoder
                for c, name in enumerate(FEATURE_COLS[:3]):
                    out[name].append(float(flat[:, c].sum()) / n_pix / 255.0)
                bins = np.minimum(flat.sum(axis=1) // _BIN_DIV, HIST_BINS - 1)
                counts = np.bincount(bins, minlength=HIST_BINS)
                for b in range(HIST_BINS):
                    out[f"h{b}"].append(float(counts[b]) / n_pix)
            yield pd.DataFrame({"media_id": pdf["media_id"], **out})

    return media.select("media_id", payload_col).mapInPandas(
        batch, schema=FEATURES_SCHEMA
    )


def resize_image(
    img: np.ndarray, out_h: int, out_w: int, method: str = "nearest"
) -> np.ndarray:
    """HxWx3 uint8 → out_h x out_w x 3 uint8.

    ``nearest`` uses pure integer index mapping (``src = (dst * size) //
    out_size``) and ``box`` an exact integer box mean (factors must
    divide) — both bit-reproducible in any engine, deliberately: float
    bilinear kernels differ between libraries, which would make the
    resized corpus depend on the worker image."""
    h, w = img.shape[:2]
    if method == "nearest":
        ri = (np.arange(out_h, dtype=np.int64) * h) // out_h
        ci = (np.arange(out_w, dtype=np.int64) * w) // out_w
        return img[ri][:, ci]
    if method == "box":
        if h % out_h or w % out_w:
            raise ValueError("box resize requires integer factors")
        fh, fw = h // out_h, w // out_w
        return (
            img.reshape(out_h, fh, out_w, fw, 3)
            .astype(np.int64)
            .sum(axis=(1, 3))
            // (fh * fw)
        ).astype(np.uint8)
    raise ValueError(method)


def resize_images(
    media: DataFrame,
    out_h: int = 8,
    out_w: int = 8,
    method: str = "nearest",
    fake: bool = True,
    payload_col: str = "payload",
) -> DataFrame:
    """media_id → resized raw-RGB bytes (row-major out_h × out_w × 3) —
    binary in, binary out, one Arrow batch at a time; the standard
    thumbnail/downsample stage of an image-training pipeline. Decode is
    per-partition Python (the image libs boundary), the plumbing is the
    real contract."""

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                resize_image(
                    decode_image(bytes(p), fake=fake), out_h, out_w, method
                ).tobytes()
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "height": out_h,
                    "width": out_w,
                    "pixels": out,
                }
            )

    return media.select("media_id", payload_col).mapInPandas(
        batch, schema="media_id long, height int, width int, pixels binary"
    )


def resize_summary(resized: DataFrame) -> DataFrame:
    """Scalar audit of a resized-image relation: per-channel means and the
    exact integer pixel-value checksum (what the oracle pins)."""

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            means = {c: [] for c in "rgb"}
            sums = []
            n = None
            for px in pdf["pixels"]:
                arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(-1, 3)
                n = arr.shape[0]
                flat = arr.astype(np.int64)
                for c, name in enumerate("rgb"):
                    # unrounded: callers align rounding with their oracle
                    # (F.round == DuckDB round on doubles; Python round is
                    # banker's and would disagree at half-way points)
                    means[name].append(float(flat[:, c].sum()) / n / 255.0)
                sums.append(int(flat.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mean_r": means["r"],
                    "mean_g": means["g"],
                    "mean_b": means["b"],
                    "px_sum": sums,
                }
            )

    return resized.select("media_id", "pixels").mapInPandas(
        batch,
        schema="media_id long, mean_r double, mean_g double, "
        "mean_b double, px_sum long",
    )


def _decode_y4m(payload: bytes) -> tuple[np.ndarray, float]:
    """YUV4MPEG2 (.y4m) → (Y planes as ``(n_frames, h, w)`` uint8, fps).

    Pure numpy — no video libs. The y4m container is an ASCII stream
    header (``YUV4MPEG2 W<w> H<h> F<num>:<den> [C<chroma>] ...``) followed
    by ``FRAME[ params]\\n`` + raw planar YUV per frame. Supported chroma:
    420 (default, and its jpeg/paldv variants), 444, and mono; only the
    luma plane is returned (chroma is skipped, not interpolated).
    """
    nl = payload.index(0x0A)
    tokens = payload[:nl].decode("ascii").split(" ")
    if tokens[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    num, den, chroma = 25, 1, "420"
    for tok in tokens[1:]:
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("F"):
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok.startswith("C"):
            chroma = tok[1:]
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    plane = w * h
    if chroma.startswith("420"):
        frame_bytes = plane * 3 // 2
    elif chroma == "444":
        frame_bytes = plane * 3
    elif chroma == "mono":
        frame_bytes = plane
    else:
        raise NotImplementedError(f"y4m chroma C{chroma} not supported")
    pos, frames = nl + 1, []
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = payload.index(0x0A, pos) + 1  # FRAME line may carry params
        luma = np.frombuffer(payload, np.uint8, count=plane, offset=pos)
        frames.append(luma.reshape(h, w).copy())
        pos += frame_bytes
    stacked = (
        np.stack(frames) if frames else np.zeros((0, h, w), dtype=np.uint8)
    )
    return stacked, num / den


def _decode_avi_mjpeg(payload: bytes) -> tuple[np.ndarray, float]:
    """Motion-JPEG AVI → (luma planes ``(n_frames, h, w)`` uint8, fps).

    Minimal RIFF/AVI walk: ``avih`` supplies dwMicroSecPerFrame (fps),
    every ``..dc``/``..db`` chunk in ``movi`` order is one complete
    baseline JPEG decoded with ``decode_jpeg`` (luma = channel 0).
    Pure container parsing — the only codec involved is the JPEG
    decoder above, so this stays stdlib+numpy."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    fps = 25.0
    frames: list[np.ndarray] = []

    # recurse into LIST bodies IN PLACE: a deferred-stack walk would pop
    # sibling 'rec ' LISTs (the grouping interleaved AVI muxers emit, one
    # per frame) in LIFO order and silently decode frames reversed.
    # Depth is capped: real AVIs nest 2-3 LIST levels, and an unbounded
    # walk would let a few-KB payload with ~1000 nested LISTs raise
    # RecursionError — which is NOT in the per-item (ValueError,
    # NotImplementedError) skip allowlist, so one malformed blob would
    # kill the whole job four task-retries at a time
    def walk(pos: int, end: int, depth: int = 0) -> None:
        nonlocal fps
        if depth > _MAX_CONTAINER_DEPTH:
            raise ValueError("AVI LIST nesting exceeds sanity cap")
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            body_start = pos + 8
            if cid == b"LIST":
                # clamp to the physical payload: a corrupted 32-bit size
                # would otherwise set `end` gigabytes past the data and
                # spin the scan loop over empty slices for minutes
                walk(
                    body_start + 4,
                    min(body_start + size, len(payload)),
                    depth + 1,
                )
            elif cid == b"avih":
                usec = int.from_bytes(
                    payload[body_start : body_start + 4], "little"
                )
                if usec:
                    fps = 1_000_000.0 / usec
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(
                    decode_jpeg(payload[body_start : body_start + size])[
                        :, :, 0
                    ]
                )
            pos = body_start + size + (size & 1)

    walk(12, len(payload))
    if not frames:
        raise ValueError("AVI contains no video chunks")
    return np.stack(frames), fps


def encode_avi_mjpeg(
    jpeg_frames: list[bytes], fps: int, w: int, h: int
) -> bytes:
    """Complete JPEG payloads → minimal MJPEG AVI container (RIFF header,
    ``hdrl`` with avih, ``movi`` with one ``00dc`` chunk per frame)."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    avih = (
        (1_000_000 // fps).to_bytes(4, "little")
        + b"\x00" * 12
        + len(jpeg_frames).to_bytes(4, "little")
        + b"\x00" * 8
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + b"\x00" * 16
    )
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    movi = chunk(
        b"LIST", b"movi" + b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    )
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


@_malformed_to_valueerror("video")
def decode_video(payload: bytes) -> tuple[np.ndarray, float]:
    """payload → (Y planes ``(n_frames, h, w)`` uint8, fps).

    Real decoders (pure numpy, no external libs): YUV4MPEG2 (.y4m), the
    standard uncompressed interchange format, Motion-JPEG AVI
    (per-frame baseline JPEG), and animated GIF89a (LZW frames composed
    with GCE disposal/transparency; luma = BT.601 integer
    ``(299r + 587g + 114b + 500) // 1000``). Other containers
    (Matroska/WebM/MP4) and inter-frame-predicted codecs (H.264/VP9/...)
    raise ``NotImplementedError`` — no codec libs here.
    """
    if payload[:9] == b"YUV4MPEG2":
        return _decode_y4m(bytes(payload))
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _decode_avi_mjpeg(bytes(payload))
    if payload[:4] == b"GIF8":
        frames, fps = _decode_gif_frames(bytes(payload))
        rgb = frames.astype(np.int64)
        luma = (
            299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2] + 500
        ) // 1000
        return luma.astype(np.uint8), fps
    raise NotImplementedError(
        "inter-frame-predicted video requires codec libraries not present "
        "in this container; supported real formats: YUV4MPEG2 (.y4m), "
        "Motion-JPEG AVI, animated GIF"
    )


def frame_sample(
    media: DataFrame,
    every_ms: int = 1000,
    fake: bool = True,
    payload_col: str = "payload",
) -> DataFrame:
    """Video → one row per sampled frame (media_id, frame_idx, frame_hex).

    ``fake=False`` decodes real YUV4MPEG2 payloads (``decode_video``) and
    samples one frame per ``every_ms`` from the stream's own frame rate;
    ``frame_hex`` is the md5 of the sampled frame's luma bytes, so
    downstream dedup/fingerprint joins work on real content. ``fake=True``
    keeps the md5-derived frame ids the SQL-twinned oracle replays. Either
    way the explode shape — a mapInPandas that yields MORE rows than it
    receives, partition-local, no shuffle — is the real pattern for 100 TB
    video tables.
    """

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf[payload_col], pdf["duration_ms"]
            ):
                if fake:
                    n_frames = max(1, int(dur or 0) // every_ms)
                    seed_hex = hashlib.md5(
                        bytes(payload).hex().encode()
                    ).hexdigest()
                    for i in range(n_frames):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(
                            hashlib.md5(f"{seed_hex}:{i}".encode()).hexdigest()
                        )
                else:
                    lumas, fps = decode_video(bytes(payload))
                    step = max(1, round(fps * every_ms / 1000.0))
                    for i, frame in enumerate(lumas[::step]):
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(hashlib.md5(frame.tobytes()).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_hex": frames}
            )

    return media.select("media_id", payload_col, "duration_ms").mapInPandas(
        batch, schema="media_id long, frame_idx int, frame_hex string"
    )


def video_frame_stats(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Video → one row per frame (media_id, frame_idx, y_sum, n_px,
    mean_y): exact integer luma sum + pixel count per decoded frame,
    with one rounded double for readability. Same explode shape as
    ``frame_sample`` (partition-local mapInPandas, no shuffle); the
    integer columns keep the DuckDB twin rounding-free."""

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sums, npxs, means = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                lumas, _fps = decode_video(bytes(payload))
                for i, frame in enumerate(lumas):
                    n_px = int(frame.size)
                    ys = int(frame.astype(np.int64).sum())
                    ids.append(mid)
                    idxs.append(i)
                    sums.append(ys)
                    npxs.append(n_px)
                    # explicit half-up rounding (Python round() is
                    # banker's; DuckDB/Spark round are half-away)
                    means.append(
                        math.floor(ys / n_px / 255.0 * 1e6 + 0.5) / 1e6
                    )
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "y_sum": sums,
                    "n_px": npxs,
                    "mean_y": means,
                }
            )

    return media.select("media_id", payload_col).mapInPandas(
        batch,
        schema="media_id long, frame_idx int, y_sum long, n_px long, "
        "mean_y double",
    )


def mjpeg_seed(media_id: int) -> np.uint64:
    """Closed-form DC seed for the MJPEG fixture — first 8 bytes of
    ``md5('avi:' || media_id)`` (the SQL twin's expression)."""
    return np.uint64(
        int(hashlib.md5(f"avi:{media_id}".encode()).hexdigest()[:16], 16)
    )


MJPEG_W = MJPEG_H = 16  # fixture frame size: 4 blocks of 8x8


def synth_mjpeg_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL Motion-JPEG AVI media table: media ``i`` has
    ``2 + i % 3`` frames of 16x16 grayscale DC-only JPEG (4 blocks;
    quantized DC of frame ``f`` block ``b`` = ``(splitmix64(
    mjpeg_seed(i) + (f*4 + b)) & 127) - 64``), so every decoded luma
    pixel is the exact integer ``2k + 128`` and the SQL twin replays
    per-frame stats without any decoder. The payloads are genuine AVI
    containers of genuine entropy-coded JPEG scans."""
    q = np.full(64, JPEG_QDC, dtype=np.int64)
    rows = []
    for i in range(n):
        nf = 2 + i % 3
        frames = []
        for f in range(nf):
            idx = np.arange(4, dtype=np.uint64) + np.uint64(f * 4)
            ks = (
                (_splitmix64(mjpeg_seed(i) + idx) & np.uint64(127)).astype(
                    np.int64
                )
                - 64
            )
            coeffs = np.zeros((2, 2, 3, 64), dtype=np.int64)
            # grayscale content: all three components share the DC, so
            # YCbCr->RGB is the identity on the luma channel
            for c in range(3):
                coeffs[..., c, 0] = (
                    ks.reshape(2, 2) if c == 0 else np.zeros((2, 2))
                )
            frames.append(encode_jpeg(coeffs, MJPEG_H, MJPEG_W, q))
        payload = encode_avi_mjpeg(frames, fps=5, w=MJPEG_W, h=MJPEG_H)
        rows.append(
            (
                i,
                "video",
                bytearray(payload),
                "video/x-msvideo",
                MJPEG_W,
                MJPEG_H,
                nf * 200,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def png_pixel_seed(media_id: int) -> np.uint64:
    """Closed-form pixel seed for the PNG fixture table — first 8 bytes
    of ``md5('png:' || media_id)``, the same expression the SQL twin uses
    (``('0x' || substr(md5('png:' || media_id), 1, 16))::UBIGINT``)."""
    return np.uint64(
        int(hashlib.md5(f"png:{media_id}".encode()).hexdigest()[:16], 16)
    )


def synth_png_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL-PNG media table: pixel ``p`` of image ``i`` is
    ``splitmix64(png_pixel_seed(i) + p) & 255`` (closed form a SQL oracle
    recomputes without decoding), and the payload is that image
    PNG-encoded with cycling scanline filters — so entries running
    ``fake=False`` exercise the genuine zlib-inflate + unfilter path
    while staying hash-exact against DuckDB."""
    rows = []
    idx = np.arange(_N_PIX * 3, dtype=np.uint64)
    for i in range(n):
        vals = (
            _splitmix64(png_pixel_seed(i) + idx) & np.uint64(255)
        ).astype(np.uint8)
        payload = encode_png(vals.reshape(IMG_H, IMG_W, 3), filters="cycle")
        rows.append(
            (i, "image", bytearray(payload), "image/png", IMG_W, IMG_H, 0)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def gif_pixel_seed(media_id: int) -> np.uint64:
    """Closed-form palette-index seed for the GIF fixture — first 8 bytes
    of ``md5('gif:' || media_id)`` (the SQL twin's expression)."""
    return np.uint64(
        int(hashlib.md5(f"gif:{media_id}".encode()).hexdigest()[:16], 16)
    )


# the GIF fixture's 256-entry palette: channel c of entry j is an affine
# map of j mod 256 — closed-form for the SQL twin, and every entry is
# distinct so encode→decode round-trips the exact indices
GIF_PAL_MULS = (7, 13, 29)
GIF_PAL_ADDS = (11, 5, 3)


def _gif_palette() -> np.ndarray:
    j = np.arange(256, dtype=np.int64)
    return np.stack(
        [(m * j + a) & 255 for m, a in zip(GIF_PAL_MULS, GIF_PAL_ADDS)],
        axis=1,
    ).astype(np.uint8)


def synth_gif_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL-GIF media table: palette index of pixel ``p`` in
    image ``i`` is ``splitmix64(gif_pixel_seed(i) + p) & 255`` and channel
    ``c`` of the pixel is ``(GIF_PAL_MULS[c] * idx + GIF_PAL_ADDS[c]) & 255``
    (closed form a SQL oracle recomputes without decoding); the payload is
    that index grid GIF-encoded with real variable-width LZW, every other
    image interlaced — so ``fake=False`` entries exercise the genuine LZW
    + interlace-reorder path while staying hash-exact against DuckDB."""
    pal = _gif_palette()
    idx = np.arange(_N_PIX, dtype=np.uint64)
    rows = []
    for i in range(n):
        pix = (
            _splitmix64(gif_pixel_seed(i) + idx) & np.uint64(255)
        ).astype(np.uint8)
        payload = encode_gif(
            pix.reshape(IMG_H, IMG_W), pal, interlace=bool(i % 2)
        )
        rows.append(
            (i, "image", bytearray(payload), "image/gif", IMG_W, IMG_H, 0)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def jpeg_dc_seed(media_id: int) -> np.uint64:
    """Closed-form DC-coefficient seed for the JPEG fixture — first 8
    bytes of ``md5('jpg:' || media_id)`` (the SQL twin's expression)."""
    return np.uint64(
        int(hashlib.md5(f"jpg:{media_id}".encode()).hexdigest()[:16], 16)
    )


JPEG_QDC = 16  # fixture DC quant step; divisible by 8 so IDCT(DC) is exact


def synth_jpeg_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL baseline-JPEG media table: each 32x32 image is
    16 DC-only 8x8 blocks per component (4:4:4), with quantized DC of
    block ``b`` / component ``c`` = ``(splitmix64(jpeg_dc_seed(i) +
    (b*3 + c)) & 127) - 64``. With the DC quant step 16 (divisible by 8)
    the IDCT of a DC-only block is the exact constant ``2k``, so the
    decoded plane value is ``2k + 128`` with no rounding ambiguity and
    the SQL twin replays pixels as pure integer + fixed-literal double
    math (``sql_oracles.jpeg_features_sql``). The payloads are genuine
    entropy-coded JPEG scans — Huffman decode, dequantize, IDCT and the
    YCbCr transform all run for real on the Spark side; AC coefficients
    are exercised by the round-trip pytest suite instead (their IDCT is
    irrational and so has no closed SQL form)."""
    q = np.full(64, JPEG_QDC, dtype=np.int64)
    nb = (IMG_H // 8) * (IMG_W // 8)
    rows = []
    for i in range(n):
        idx = np.arange(nb * 3, dtype=np.uint64)
        ks = (
            (_splitmix64(jpeg_dc_seed(i) + idx) & np.uint64(127)).astype(
                np.int64
            )
            - 64
        )
        coeffs = np.zeros((IMG_H // 8, IMG_W // 8, 3, 64), dtype=np.int64)
        coeffs[..., 0] = ks.reshape(IMG_H // 8, IMG_W // 8, 3)
        payload = encode_jpeg(coeffs, IMG_H, IMG_W, q)
        rows.append(
            (i, "image", bytearray(payload), "image/jpeg", IMG_W, IMG_H, 0)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synth_jpeg_progressive_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL progressive-JPEG media table: the same
    DC-only 32x32 4:4:4 construction as ``synth_jpeg_media`` (quantized
    DC of block ``b`` / component ``c`` = ``(splitmix64(seed + (b*3 +
    c)) & 127) - 64`` with quant step 16) but seeded from
    ``md5('jpgp:' || media_id)`` and written by
    ``encode_jpeg_progressive`` — a genuine SOF2 scan ladder (first DC
    scan at Al=1, split-band first AC scans, raw-bit DC refinement,
    EOB-run AC refinement). The decoder reassembles the identical
    coefficient array, so the SQL twin is ``jpeg_features_sql`` with the
    ``jpgp:`` seed prefix; the all-zero AC bands make every AC scan a
    pure cross-block EOB run, exercising the EOBn decode path under the
    oracle gate (nonzero-AC refinement is pinned by the round-trip
    pytest suite — its IDCT has no closed SQL form)."""
    q = np.full(64, JPEG_QDC, dtype=np.int64)
    nb = (IMG_H // 8) * (IMG_W // 8)
    rows = []
    for i in range(n):
        seed = np.uint64(
            int(hashlib.md5(f"jpgp:{i}".encode()).hexdigest()[:16], 16)
        )
        idx = np.arange(nb * 3, dtype=np.uint64)
        ks = (
            (_splitmix64(seed + idx) & np.uint64(127)).astype(np.int64)
            - 64
        )
        coeffs = np.zeros((IMG_H // 8, IMG_W // 8, 3, 64), dtype=np.int64)
        coeffs[..., 0] = ks.reshape(IMG_H // 8, IMG_W // 8, 3)
        payload = encode_jpeg_progressive(coeffs, IMG_H, IMG_W, q)
        rows.append(
            (i, "image", bytearray(payload), "image/jpeg", IMG_W, IMG_H, 0)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


GIFV_W, GIFV_H = 16, 12  # animated-GIF fixture logical screen
GIFV_RECT = (4, 3, 8, 6)  # (left, top, w, h) of the partial frames
GIFV_T = 7  # transparent palette index


def gif_video_seed(media_id: int) -> np.uint64:
    """Closed-form code seed for the animated-GIF fixture — first 8
    bytes of ``md5('gifv:' || media_id)`` (the SQL twin's expression)."""
    return np.uint64(
        int(hashlib.md5(f"gifv:{media_id}".encode()).hexdigest()[:16], 16)
    )


def synth_gif_video_media(spark, n: int = 64) -> DataFrame:
    """Deterministic REAL animated-GIF media table exercising the full
    GIF89a animation path: media ``i`` has ``2 + i % 3`` frames over a
    16x12 logical screen with a 256-entry GRAYSCALE palette
    (``pal[j] = (j,j,j)``, so decoded BT.601 luma == palette index
    exactly). Frame 0 covers the screen with codes ``splitmix64(
    gif_video_seed(i) + p) & 255``; every later frame ``f`` writes only
    the 8x6 rect at (4,3) with codes ``splitmix64(seed + f*65536 + lp)
    & 255`` under transparency index 7 — code-7 pixels leave the canvas
    untouched, so the composed frame is "the last opaque write wins"
    and the SQL twin replays composition with a max-by join (background
    = palette entry 0 = luma 0). Delays are 20 cs → fps 5."""
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    left, top, rw, rh = GIFV_RECT
    rows = []
    for i in range(n):
        nf = 2 + i % 3
        seed = gif_video_seed(i)
        frames = []
        p0 = np.arange(GIFV_W * GIFV_H, dtype=np.uint64)
        idx0 = (
            (_splitmix64(seed + p0) & np.uint64(255))
            .astype(np.uint8)
            .reshape(GIFV_H, GIFV_W)
        )
        frames.append((0, 0, idx0))
        for f in range(1, nf):
            lp = np.arange(rw * rh, dtype=np.uint64)
            idx = (
                (_splitmix64(seed + np.uint64(f * 65536) + lp)
                 & np.uint64(255))
                .astype(np.uint8)
                .reshape(rh, rw)
            )
            frames.append((left, top, idx))
        payload = encode_gif_animation(
            frames, pal, (GIFV_W, GIFV_H),
            delays=[20] * nf, transparent=GIFV_T,
        )
        rows.append(
            (i, "video", bytearray(payload), "image/gif",
             GIFV_W, GIFV_H, nf * 200)
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table, regenerable in pure SQL
    (sql_oracles.media_ctes): payload = 64 md5-chained bytes, metadata
    derived from media_id by closed-form arithmetic."""
    rows = []
    for i in range(n):
        payload_hex = "".join(
            hashlib.md5(f"media:{i}:{b}".encode()).hexdigest() for b in range(4)
        )
        kind = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                kind,
                bytearray(bytes.fromhex(payload_hex)),
                {"image": "image/jpeg", "audio": "audio/wav", "video": "video/mp4"}[
                    kind
                ],
                IMG_W,
                IMG_H,
                500 + (i * 3589) % 4500,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
