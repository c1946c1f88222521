"""Pure-Python baseline JPEG codec (grayscale), for REAL MJPEG video.

Everything a baseline JPEG actually is, is here and real: 8x8 blocking
with edge replication, the orthonormal type-II DCT (matrix form),
quality-scaled quantization, zigzag scan, DC prediction + category
coding, AC zero-run-length coding, canonical Huffman entropy coding with
the tables written into DHT, JFIF marker framing, and 0xFF byte
stuffing — per the public JPEG specification (ITU-T T.81). The decoder
parses DQT/SOF0/DHT/SOS from the stream (it decodes any single-component
baseline file, not just our encoder's output shape).

Scope fence, documented: ONE component (grayscale — the same sample
model the AVI/PNG paths use), baseline sequential only (no progressive,
no restart markers, no chroma subsampling because there is no chroma).
This is what turns the multimodal video path's "compressed codecs need
libav" stub into a working MJPEG pipeline: ``functions.codecs`` wraps
these frames into 'MJPG' AVI chunks, and frame extraction decodes real
entropy-coded data.

Huffman tables: JPEG permits ANY canonical table the encoder declares in
its DHT segment, so the encoder uses flat-length tables (12 DC symbols
at 4 bits, 162 AC symbols at 9 bits — the all-ones code is never
assigned, as the spec requires). Compression is a few percent worse than
the Annex K defaults; correctness and decodability are identical, and no
magic table constants need transcribing.
"""

from __future__ import annotations

import struct

import numpy as np

# -- shared constant machinery (generated, not transcribed) -------------------


def _zigzag_order() -> np.ndarray:
    """The 64-entry zigzag scan, generated by diagonal traversal."""
    order = []
    for s in range(15):
        diag = [(y, s - y) for y in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(diag)
    idx = np.array([y * 8 + x for y, x in order], dtype=np.int64)
    assert sorted(idx.tolist()) == list(range(64))
    return idx


_ZIGZAG = _zigzag_order()
_UNZIGZAG = np.argsort(_ZIGZAG)

#: standard luminance quantization base (written into DQT either way —
#: round-trip correctness does not depend on these exact values)
_QBASE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)


def _quant_table(quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 → per-coefficient divisors."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (_QBASE * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: D = C @ block @ C.T."""
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c[0, :] = 1.0
    c *= np.where(np.arange(8) == 0, np.sqrt(1 / 8), np.sqrt(2 / 8))[:, None]
    return c


_C = _dct_matrix()

#: flat-length canonical Huffman: DC = 12 symbols (categories 0..11) at 4
#: bits; AC = 162 symbols at 9 bits (EOB, ZRL, and (run,size) pairs).
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_DC_BITS, _AC_BITS = 4, 9


def _canonical_codes(symbols: list[int], length: int) -> dict[int, tuple[int, int]]:
    """symbol → (code, length); codes are consecutive from 0 (canonical,
    single length). The all-ones code is unassigned by construction."""
    assert len(symbols) < (1 << length)
    return {sym: (i, length) for i, sym in enumerate(symbols)}


_DC_ENC = _canonical_codes(_DC_SYMBOLS, _DC_BITS)
_AC_ENC = _canonical_codes(_AC_SYMBOLS, _AC_BITS)


def _dht_segment(table_class: int, table_id: int, symbols: list[int], length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    body = bytes([(table_class << 4) | table_id]) + bytes(counts) + bytes(symbols)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


# -- bit I/O ------------------------------------------------------------------


def _pack_bits(vals: list[int], nbits: list[int]) -> bytes:
    """MSB-first pack of (value, nbits) pairs → 0xFF-stuffed, 1-padded
    entropy bytes, in ONE vectorized pass (optimization r12, guide §4.2:
    the per-symbol BitWriter paid a Python call + shift/append per bit
    group; here the bit expansion, byte packing and marker stuffing are
    numpy array ops). Byte-identical to the retired _BitWriter: same
    MSB-first order, same 1-bit tail padding, same 0x00 stuffing after
    every 0xFF — including a stuffed padded final byte."""
    va = np.asarray(vals, dtype=np.int64)
    na = np.asarray(nbits, dtype=np.int64)
    keep = na > 0
    va, na = va[keep], na[keep]
    total = int(na.sum())
    pad = (-total) % 8
    if pad:
        va = np.append(va, (1 << pad) - 1)
        na = np.append(na, pad)
        total += pad
    starts = np.concatenate(([0], np.cumsum(na)[:-1]))
    idx = np.repeat(np.arange(len(va)), na)
    pos = np.arange(total) - np.repeat(starts, na)  # bit index from MSB
    bits = (va[idx] >> (na[idx] - 1 - pos)) & 1
    packed = np.packbits(bits.astype(np.uint8))
    ff = np.flatnonzero(packed == 0xFF)
    if len(ff):
        packed = np.insert(packed, ff + 1, 0)
    return packed.tobytes()


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# -- encoder ------------------------------------------------------------------


def _entropy_encode(coef: np.ndarray) -> bytes:
    """(nb, 64) zigzag-ordered quantized coefficients → entropy bytes.

    DC prediction, category coding, AC run-length + canonical Huffman —
    the per-block Python work touches only the NONZERO coefficients
    (numpy finds them); bit emission is the vectorized _pack_bits."""
    diffs = np.diff(coef[:, 0], prepend=0)
    vals: list[int] = []
    nbits: list[int] = []
    ap, an = vals.append, nbits.append
    zrl_code, zrl_n = _AC_ENC[0xF0]
    eob_code, eob_n = _AC_ENC[0x00]
    for bi in range(coef.shape[0]):
        diff = int(diffs[bi])
        s = _category(diff)
        code, n = _DC_ENC[s]
        ap(code)
        an(n)
        if s:
            ap(diff if diff > 0 else diff + (1 << s) - 1)
            an(s)
        row = coef[bi]
        nz = np.flatnonzero(row[1:]) + 1
        prev = 0
        for k in nz.tolist():
            v = int(row[k])
            run = k - prev - 1
            while run > 15:
                ap(zrl_code)
                an(zrl_n)
                run -= 16
            s = _category(v)
            code, n = _AC_ENC[(run << 4) | s]
            ap(code)
            an(n)
            ap(v if v > 0 else v + (1 << s) - 1)
            an(s)
            prev = k
        if (nz[-1] if len(nz) else 0) < 63:
            ap(eob_code)
            an(eob_n)
    return _pack_bits(vals, nbits)


def _jfif_head(h: int, w: int, qt: np.ndarray) -> bytes:
    qzz = qt.ravel()[_ZIGZAG]
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(int(x) for x in qzz)
    sof = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 11, 8, h, w, 1)
        + bytes([1, 0x11, 0])  # component 1, 1x1 sampling, qtable 0
    )
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    )
    return (
        b"\xff\xd8" + app0 + dqt
        + _dht_segment(0, 0, _DC_SYMBOLS, _DC_BITS)
        + _dht_segment(1, 0, _AC_SYMBOLS, _AC_BITS)
        + sof + sos
    )


def jpeg_encode_stack(frames: np.ndarray, quality: int = 85) -> list[bytes]:
    """Encode an (N, H, W) uint8 stack → N independent baseline JFIF byte
    strings, with the DCT/quantization batched over EVERY block of EVERY
    frame in one numpy pass (optimization r12, guide §4.2: per-frame
    per-block 8x8 matmuls paid numpy call overhead per block; thumbnail
    MJPEG frames are a handful of blocks each, so the per-call overhead
    dominated). (C @ block) @ C.T runs the same BLAS kernel per stacked
    8x8 slice as the scalar form did per block — streams are
    byte-identical (pinned by tests/test_codecs_property.py)."""
    if frames.ndim != 3 or frames.dtype != np.uint8:
        raise ValueError("jpeg_encode_stack expects an (N, H, W) uint8 array")
    n, h, w = frames.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qt = _quant_table(quality)
    ph, pw = -h % 8, -w % 8  # edge-replicate to 8x8 multiples
    img = (
        np.pad(frames, ((0, 0), (0, ph), (0, pw)), mode="edge").astype(np.float64)
        - 128.0
    )
    bh, bw = img.shape[1] // 8, img.shape[2] // 8
    nbpf = bh * bw
    blocks = img.reshape(n, bh, 8, bw, 8).transpose(0, 1, 3, 2, 4).reshape(-1, 8, 8)
    dct = np.matmul(np.matmul(_C, blocks), _C.T)
    coef = np.round(dct / qt).astype(np.int64).reshape(-1, 64)[:, _ZIGZAG]
    head = _jfif_head(h, w, qt)
    return [
        head + _entropy_encode(coef[fi * nbpf : (fi + 1) * nbpf]) + b"\xff\xd9"
        for fi in range(n)
    ]


def jpeg_encode(pixels: np.ndarray, quality: int = 85) -> bytes:
    """Encode an (H, W) uint8 grayscale image as baseline JFIF bytes."""
    if pixels.ndim != 2 or pixels.dtype != np.uint8:
        raise ValueError("jpeg_encode expects an (H, W) uint8 array")
    return jpeg_encode_stack(pixels[None, :, :], quality)[0]


# -- decoder ------------------------------------------------------------------


class _HuffTable:
    """Canonical table from a DHT segment's BITS/HUFFVAL as a 16-bit-peek
    lookup table (optimization r12, guide §4.2): T.81's bit-at-a-time
    DECODE walked up to 16 read(1) calls per symbol; here the decoder
    peeks 16 bits once and reads (symbol, length) from two flat tables.
    Entries are filled per code by prefix range — every 16-bit word
    starting with a code maps to that code's symbol; words starting with
    no valid code keep length 0, which the decode loop rejects exactly
    where the walking form raised. Tables are bytes objects (Python
    indexing returns int natively, no numpy scalar boxing)."""

    def __init__(self, counts: list[int], symbols: bytes):
        sym = np.zeros(1 << 16, dtype=np.uint8)
        ln = np.zeros(1 << 16, dtype=np.uint8)
        code, k = 0, 0
        for length in range(1, 17):
            n = counts[length - 1]
            for i in range(n):
                lo = (code + i) << (16 - length)
                hi = (code + i + 1) << (16 - length)
                sym[lo:hi] = symbols[k + i]
                ln[lo:hi] = length
            code = (code + n) << 1
            k += n
        self.sym = sym.tobytes()
        self.ln = ln.tobytes()


#: LUT construction is ~ms per table; every frame of an MJPEG stream (and
#: every frame our encoder emits) declares the same DHT bytes, so cache
#: by table content. Bounded: distinct (counts, symbols) pairs seen by a
#: worker are a handful in practice; entries are ~128 KB each.
_HUFF_LUT_CACHE: dict[tuple[bytes, bytes], _HuffTable] = {}


def _huff_lut(counts: list[int], symbols: bytes) -> _HuffTable:
    key = (bytes(counts), bytes(symbols))
    t = _HUFF_LUT_CACHE.get(key)
    if t is None:
        if len(_HUFF_LUT_CACHE) >= 64:  # safety bound, never hit in practice
            _HUFF_LUT_CACHE.clear()
        t = _HUFF_LUT_CACHE[key] = _HuffTable(counts, symbols)
    return t


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode single-component baseline JFIF bytes → (H, W) uint8."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hufftables: dict[tuple[int, int], _HuffTable] = {}
    h = w = None
    comp_q = 0
    while True:
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            raise ValueError("EOI before SOS")
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(body[off + 1 : off + 65], dtype=np.uint8)
                qtables[tq] = tbl.astype(np.int64)[_UNZIGZAG].reshape(8, 8)
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                counts = list(body[off + 1 : off + 17])
                n = sum(counts)
                hufftables[(tc, th)] = _huff_lut(
                    counts, body[off + 17 : off + 17 + n]
                )
                off += 17 + n
        elif marker == 0xC0:  # SOF0
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if ncomp != 1:
                raise ValueError("only single-component (grayscale) supported")
            # per-component bytes start at 6: id, sampling, quant-table id
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDA:  # SOS — entropy data follows
            td, ta = body[2] >> 4, body[2] & 0x0F
            scan_pos = pos + seglen
            break
        pos += seglen
    if h is None:
        raise ValueError("missing SOF0")
    qt = qtables[comp_q]
    dc_t, ac_t = hufftables[(0, td)], hufftables[(1, ta)]

    # Unstuff the entropy segment ONCE up to the first real marker, then
    # pad with 0xFF bytes (the spec's 1-padding the old per-byte reader
    # synthesized on hitting a marker) so bulk refills never run short.
    end = scan_pos
    n_data = len(data)
    while True:
        nxt = data.find(b"\xff", end)
        if nxt < 0 or nxt + 1 >= n_data:
            end = n_data
            break
        if data[nxt + 1] == 0x00:
            end = nxt + 2
            continue
        end = nxt
        break
    stream = data[scan_pos:end].replace(b"\xff\x00", b"\xff") + b"\xff" * 8

    # Entropy decode with a 32-bit-chunk bit accumulator + the 16-bit-peek
    # LUTs; coefficients land in ONE (nb, 64) array so dequantization,
    # un-zigzag and the IDCT run as single batched numpy ops over every
    # block (optimization r12, guide §4.2 — same per-8x8 BLAS kernel, so
    # pixels are bit-identical to the per-block form).
    bh, bwid = -(-h // 8), -(-w // 8)
    nb = bh * bwid
    coef = np.zeros((nb, 64), dtype=np.int64)
    flat = coef.ravel()
    dcsym, dcln = dc_t.sym, dc_t.ln
    acsym, acln = ac_t.sym, ac_t.ln
    acc = 0
    nbits = 0
    p = 0
    prev_dc = 0
    for bi in range(nb):
        base = bi << 6
        if nbits < 32:
            acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(
                stream[p : p + 4], "big"
            )
            nbits += 32
            p += 4
        peek = (acc >> (nbits - 16)) & 0xFFFF
        length = dcln[peek]
        if length == 0:
            raise ValueError("invalid Huffman code in entropy stream")
        s = dcsym[peek]
        nbits -= length
        if s:
            if nbits < s:
                acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(
                    stream[p : p + 4], "big"
                )
                nbits += 32
                p += 4
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            prev_dc += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        flat[base] = prev_dc
        k = 1
        while k < 64:
            if nbits < 32:
                acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(
                    stream[p : p + 4], "big"
                )
                nbits += 32
                p += 4
            peek = (acc >> (nbits - 16)) & 0xFFFF
            length = acln[peek]
            if length == 0:
                raise ValueError("invalid Huffman code in entropy stream")
            sym = acsym[peek]
            nbits -= length
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            k += sym >> 4
            s = sym & 0x0F
            if k > 63:
                raise ValueError("AC run past end of block")
            if nbits < s:
                acc = ((acc & ((1 << nbits) - 1)) << 32) | int.from_bytes(
                    stream[p : p + 4], "big"
                )
                nbits += 32
                p += 4
            v = (acc >> (nbits - s)) & ((1 << s) - 1)
            nbits -= s
            flat[base + k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1

    blocks = (coef[:, _UNZIGZAG].reshape(nb, 8, 8) * qt).astype(np.float64)
    idct = np.matmul(np.matmul(_C.T, blocks), _C)
    out = (
        idct.reshape(bh, bwid, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bwid * 8)
    )
    return np.clip(np.round(out + 128.0), 0, 255).astype(np.uint8)[:h, :w]
