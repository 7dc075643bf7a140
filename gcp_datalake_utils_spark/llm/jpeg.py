"""Baseline JPEG (ITU T.81) grayscale codec — stdlib + numpy only
(round 12). With WAV, PGM and PNG decoded for real in earlier rounds,
JPEG was the last "needs external libraries" claim for still images;
it doesn't: baseline JPEG is Huffman coding (pure bit twiddling) over
quantized 8x8 DCT blocks (a 64-point cosine transform numpy computes
directly). This module writes REAL JPEG bytes — SOI/DQT/SOF0/DHT/SOS
marker segments with the Annex K luminance quantization + Huffman
tables, entropy-coded MCUs with FF byte stuffing — and decodes them
with a full marker parser + Huffman bit reader + dequant/IDCT.

JPEG is LOSSY, so unlike the PNG row there is no cross-engine pixel
oracle (mirroring a float IDCT in SQL would race transcendental-
function ulps against the round-to-int boundary); the [Q] row is a
rows-only monitor (the bpe_token_stats convention) measuring the
round-trip error the codec actually introduces, bracketed by pytest:
flat blocks reconstruct within +-1, random images within the
quantization-table error bound, and the decoder is validated against
a HAND-ASSEMBLED golden bitstream (DC category/amplitude bits and the
EOB code computed on paper), so encoder and decoder cannot share a
compensating bug. decode_media's stub now covers only MP4/FLAC.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gcp_datalake_utils_spark.llm.multimodal import (
    PNG_WIDTH,
    binary_assets,
    fan_out,
)

# Annex K Table K.1 — luminance quantization, natural (row-major) order
QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# zigzag index: ZIGZAG[k] = natural index of the k-th zigzag coefficient
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K Tables K.3 / K.5 — standard luminance DC / AC Huffman specs:
# (BITS counts per code length 1..16, HUFFVAL symbol list)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_codes(bits, vals):
    """symbol -> (code, length) per T.81 C.2 (canonical assignment)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out

_DC_ENC = _huff_codes(DC_BITS, DC_VALS)
_AC_ENC = _huff_codes(AC_BITS, AC_VALS)


def _dct_matrix():
    import numpy as np
    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    m = c * 0.5
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m  # orthonormal: coef = M @ block @ M.T

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _amp_bits(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def _seg(marker: int, payload: bytes) -> bytes:
    import struct
    return struct.pack(">HH", marker, len(payload) + 2) + payload


_DCT_M = None   # cached orthonormal DCT basis (mathematical constant)
_QMAT = None


def _pack_codes(vals, lens) -> bytes:
    """MSB-first bitstream from (value, length) pairs, vectorized:
    per-code bit expansion via repeat/shift, np.packbits, 1-bit flush
    padding, FF byte stuffing — emits exactly the bytes the
    _BitWriter.put loop produced (pytest + the golden-bitstream test
    gate byte-identity)."""
    import numpy as np
    vals = np.asarray(vals, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    keep = lens > 0
    vals, lens = vals[keep], lens[keep]
    total = int(lens.sum())
    if total == 0:
        return b""
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    idx = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    rep_vals = np.repeat(vals, lens)
    rep_lens = np.repeat(lens, lens)
    bits = ((rep_vals >> (rep_lens - 1 - idx)) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, dtype=np.uint8)])
    by = np.packbits(bits)
    ff = np.flatnonzero(by == 0xFF)
    if len(ff):
        by = np.insert(by, ff + 1, 0)
    return by.tobytes()


def build_jpeg(pix) -> bytes:
    """Genuine baseline JPEG bytes for an (h, w) uint8 grayscale
    array: Annex K tables, 8x8 DCT blocks (edge-replicated padding),
    Huffman-coded DC diffs + AC run-lengths with ZRL/EOB, FF byte
    stuffing. The DCT/quantize pass runs over ALL blocks as one
    stacked matmul (same 8x8 per-block products, same rounding) and
    the entropy coder walks only nonzero coefficients — byte-
    identical to the per-block per-coefficient form (pytest-gated,
    incl. the hand-assembled golden bitstream)."""
    import struct

    import numpy as np
    global _DCT_M, _QMAT
    if _DCT_M is None:
        _DCT_M = _dct_matrix()
        _QMAT = np.array(QTABLE, dtype=np.float64).reshape(8, 8)
    a = np.asarray(pix, dtype=np.uint8)
    h, w = a.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    if ph != h or pw != w:
        padded = np.empty((ph, pw), dtype=np.uint8)
        padded[:h, :w] = a
        if pw != w:
            padded[:h, w:] = a[:, -1:]
        if ph != h:
            padded[h:, :] = padded[h - 1:h, :]
    else:
        padded = a
    nby, nbx = ph // 8, pw // 8
    blocks = (padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128)
    coef = _DCT_M @ blocks @ _DCT_M.T
    qc = np.round(coef / _QMAT).astype(np.int64)
    zz = qc.reshape(-1, 64)[:, ZIGZAG]

    vals: list[int] = []
    lens: list[int] = []
    av, al = vals.append, lens.append
    nzb, nzk = np.nonzero(zz[:, 1:])
    nzk = nzk + 1
    nzv = zz[nzb, nzk].tolist()
    bounds = np.searchsorted(nzb, np.arange(zz.shape[0] + 1)).tolist()
    nzk_l = nzk.tolist()
    dcs = zz[:, 0].tolist()
    prev_dc = 0
    for bi in range(zz.shape[0]):
        dc = dcs[bi]
        diff = dc - prev_dc
        prev_dc = dc
        cat = abs(diff).bit_length()
        c, ln = _DC_ENC[cat]
        av(c)
        al(ln)
        if cat:
            av(diff if diff >= 0 else diff + (1 << cat) - 1)
            al(cat)
        prev = 0
        for i in range(bounds[bi], bounds[bi + 1]):
            k = nzk_l[i]
            v = nzv[i]
            run = k - prev - 1
            while run > 15:
                c, ln = _AC_ENC[0xF0]  # ZRL
                av(c)
                al(ln)
                run -= 16
            cat = abs(v).bit_length()
            c, ln = _AC_ENC[(run << 4) | cat]
            av(c)
            al(ln)
            av(v if v >= 0 else v + (1 << cat) - 1)
            al(cat)
            prev = k
        if prev != 63:
            c, ln = _AC_ENC[0x00]  # EOB
            av(c)
            al(ln)

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT stores the table in ZIGZAG order: element k of the segment
    # is the k-th zigzag coefficient's step = QTABLE[ZIGZAG[k]]
    out += _seg(0xFFDB, b"\x00" + bytes(
        QTABLE[ZIGZAG[k]] for k in range(64)))
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
                + bytes([1, 0x11, 0]))
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += _pack_codes(vals, lens)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def take(self, length: int) -> int:
        while self.n < length:
            if self.pos >= len(self.d):
                raise ValueError("truncated entropy-coded data")
            byte = self.d[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.d):
                    raise ValueError("truncated after FF")
                nxt = self.d[self.pos]
                if nxt == 0x00:
                    self.pos += 1      # stuffed byte
                else:
                    raise ValueError(f"unexpected marker FF{nxt:02X} "
                                     f"inside scan")
            self.acc = (self.acc << 8) | byte
            self.n += 8
        v = (self.acc >> (self.n - length)) & ((1 << length) - 1)
        self.n -= length
        self.acc &= (1 << self.n) - 1
        return v


def _huff_decoder(bits, vals):
    """(code, length) -> symbol map for the bit reader."""
    enc = _huff_codes(bits, vals)
    return {(c, ln): sym for sym, (c, ln) in enc.items()}


def _read_symbol(br: _BitReader, table: dict) -> int:
    # codes are at most 16 bits (T.81 C.2); bound the loop so an
    # invalid stream is rejected without consuming a 17th bit
    # (ADVICE r12)
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.take(1)
        ln += 1
        sym = table.get((code, ln))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


# (bits, vals) -> 16-bit-window symbol tables. Bounded LRU (ADVICE
# r13): each entry holds two 65,536-slot Python lists (~5 MB), so an
# adversarial corpus with many distinct per-image tables must not grow
# executor memory without limit — 16 entries caps the cache at ~80 MB
# while still holding every table a normal corpus (Annex K: 4) uses.
_LUT_CACHE: dict = {}
_LUT_CACHE_MAX = 16


def _huff_lut(bits, vals):
    """(symbol, code_length) lists indexed by the NEXT 16 bits of the
    stream — the classic table-driven Huffman decoder. Each (code,
    ln) pair owns the 2^(16-ln) window values it prefixes; windows no
    code prefixes hold symbol -1, which the decode loop rejects
    exactly where _read_symbol raised after 16 bits (same bound, no
    17th bit consumed). Cached by table CONTENT, so a corpus whose
    images share tables (Annex K here) builds each table once per
    worker while foreign tables still decode correctly."""
    key = (bytes(bits), bytes(vals))
    hit = _LUT_CACHE.pop(key, None)
    if hit is not None:
        # re-insert so the dict's insertion order is recency order
        _LUT_CACHE[key] = hit
        return hit
    if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
        # evict the least recently used entry
        _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
    enc = _huff_codes(bits, vals)
    sym_t = [-1] * (1 << 16)
    len_t = [0] * (1 << 16)
    for sym, (code, ln) in enc.items():
        lo = code << (16 - ln)
        for i in range(lo, lo + (1 << (16 - ln))):
            sym_t[i] = sym
            len_t[i] = ln
    _LUT_CACHE[key] = (sym_t, len_t)
    return _LUT_CACHE[key]


def _entropy_decode(data: bytes, nblocks: int, dc_tab, ac_tab):
    """Huffman-decode ``nblocks`` MCUs from de-stuffed scan bytes into
    an (nblocks, 64) zigzag coefficient matrix. Same symbol stream,
    amplitude EXTEND and error envelope as the _read_symbol path; the
    bit cursor lives in local ints (the per-symbol method-call
    overhead was the decoder's dominant cost)."""
    import numpy as np
    arr = np.frombuffer(data, dtype=np.uint8)
    ff = np.flatnonzero(arr == 0xFF)
    if len(ff):
        if bool((ff + 1 >= len(arr)).any()):
            raise ValueError("truncated after FF")
        nxt = arr[ff + 1]
        if bool((nxt != 0).any()):
            mk = int(nxt[nxt != 0][0])
            raise ValueError(f"unexpected marker FF{mk:02X} "
                             f"inside scan")
        arr = np.delete(arr, ff + 1)
    d = arr.tobytes()
    dlen = len(d)
    dc_sym, dc_len = dc_tab
    ac_sym, ac_len = ac_tab
    pos = 0
    acc = 0
    n = 0
    zzs = np.zeros((nblocks, 64), dtype=np.float64)
    prev_dc = 0
    for bi in range(nblocks):
        row = zzs[bi]
        while n < 16 and pos < dlen:
            acc = (acc << 8) | d[pos]
            pos += 1
            n += 8
        p16 = (acc >> (n - 16)) & 0xFFFF if n >= 16 \
            else (acc << (16 - n)) & 0xFFFF
        sym = dc_sym[p16]
        ln = dc_len[p16]
        if sym < 0 or ln > n:
            raise ValueError("invalid Huffman code in scan")
        n -= ln
        acc &= (1 << n) - 1
        if sym:
            while n < sym:
                if pos >= dlen:
                    raise ValueError("truncated entropy-coded data")
                acc = (acc << 8) | d[pos]
                pos += 1
                n += 8
            n -= sym
            v = (acc >> n) & ((1 << sym) - 1)
            acc &= (1 << n) - 1
            diff = v if v >= (1 << (sym - 1)) else v - (1 << sym) + 1
        else:
            diff = 0
        prev_dc += diff
        row[0] = prev_dc
        k = 1
        while k < 64:
            while n < 16 and pos < dlen:
                acc = (acc << 8) | d[pos]
                pos += 1
                n += 8
            p16 = (acc >> (n - 16)) & 0xFFFF if n >= 16 \
                else (acc << (16 - n)) & 0xFFFF
            sym = ac_sym[p16]
            ln = ac_len[p16]
            if sym < 0 or ln > n:
                raise ValueError("invalid Huffman code in scan")
            n -= ln
            acc &= (1 << n) - 1
            if sym == 0x00:        # EOB
                break
            if sym == 0xF0:        # ZRL
                k += 16
                continue
            run, cat = sym >> 4, sym & 0x0F
            k += run
            if k > 63 or cat == 0:
                raise ValueError("corrupt AC run-length")
            while n < cat:
                if pos >= dlen:
                    raise ValueError("truncated entropy-coded data")
                acc = (acc << 8) | d[pos]
                pos += 1
                n += 8
            n -= cat
            v = (acc >> n) & ((1 << cat) - 1)
            acc &= (1 << n) - 1
            row[k] = v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1
            k += 1
    return zzs


def parse_jpeg(b: bytes):
    """Real baseline JPEG decoder for single-component (grayscale)
    images: marker walk (APPn/COM skipped), DQT (8-bit), SOF0
    (rejects progressive/multi-component), DHT, SOS, Huffman-decoded
    MCUs with stuffed-FF handling, dequant, de-zigzag, IDCT, clamp.
    Returns an (h, w) uint8 array. Raises on malformed streams."""
    import struct

    import numpy as np
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = (b[pos] << 8) | b[pos + 1]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4:pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated marker segment")
        if marker == 0xFFDB:
            # T.81 B.2.4.1: one DQT segment may pack multiple tables —
            # walk the body in 65-byte (Pq=0) strides like DHT does
            # (ADVICE r12: reading only the first table misparsed
            # legal foreign baseline JPEGs)
            p = 0
            while p < len(body):
                if body[p] & 0xF0:
                    raise ValueError("16-bit quant tables unsupported")
                if p + 65 > len(body):
                    raise ValueError("truncated DQT table")
                qt[body[p] & 0x0F] = [body[p + 1 + k]
                                      for k in range(64)]
                p += 65
        elif marker == 0xFFC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc != 1:
                raise ValueError("demo decoder handles 8-bit "
                                 "grayscale baseline JPEG")
            # body: prec(1) h(2) w(2) nc(1), then per-component
            # id(1) sampling(1) tq(1)
            sof = (h, w, body[6], body[7], body[8])  # id, sampling, tq
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("progressive/extended JPEG unsupported")
        elif marker == 0xFFC4:
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1:p + 17])
                n = sum(bits)
                vals = list(body[p + 17:p + 17 + n])
                huff[(tc, th)] = _huff_lut(bits, vals)
                p += 17 + n
        elif marker == 0xFFDA:
            ns = body[0]
            if ns != 1:
                raise ValueError("single-scan grayscale only")
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            scan = (dc_id, ac_id, pos + 2 + seglen)
            break
        elif marker == 0xFFDD or (0xFFD0 <= marker <= 0xFFD7):
            raise ValueError("restart intervals unsupported")
        # APPn / COM / others: skip
        pos += 2 + seglen
    if sof is None or scan is None or not qt:
        raise ValueError("missing SOF/SOS/DQT")
    h, w, _cid, _samp, tq = sof
    if tq not in qt:
        raise ValueError("SOF references an undefined quant table")
    dc_id, ac_id, data_pos = scan
    if (0, dc_id) not in huff or (1, ac_id) not in huff:
        raise ValueError("SOS references an undefined Huffman table")
    dc_tab, ac_tab = huff[(0, dc_id)], huff[(1, ac_id)]
    # zigzag-ordered quant steps -> natural order
    qnat = np.zeros(64, dtype=np.float64)
    for k in range(64):
        qnat[ZIGZAG[k]] = qt[tq][k]
    q = qnat.reshape(8, 8)
    m = _dct_matrix()

    end = b.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("missing EOI")
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    nby, nbx = ph // 8, pw // 8
    zzs = _entropy_decode(b[data_pos:end], nby * nbx, dc_tab, ac_tab)
    # de-zigzag + dequant + IDCT over all blocks as one stacked matmul
    # (same per-block 8x8 products as the per-MCU loop)
    coef = np.zeros((nby * nbx, 64), dtype=np.float64)
    coef[:, ZIGZAG] = zzs
    blk = m.T @ (coef.reshape(-1, 8, 8) * q) @ m
    out = (blk.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3)
           .reshape(ph, pw))
    return np.clip(np.round(out + 128), 0, 255).astype(np.uint8)[
        :h, :w]


_JPEG_RT_SCHEMA = ("asset_id long, width int, height int, "
                   "coded_bytes long, raw_bytes long, "
                   "max_abs_err int, mean_abs_err double")


def jpeg_roundtrip_quality(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """[Q, rows-only monitor — the bpe_token_stats convention] the
    codec's measured round-trip ledger per asset: encode the
    text-derived pixels to real JPEG bytes, DECODE them back, report
    coded size and reconstruction error. JPEG is lossy, so there is
    no cross-engine pixel oracle (a SQL IDCT would race cos() ulps
    against round-to-int); the pytest brackets assert the error
    bounds (flat blocks +-1; Annex-K-table bound on random images)
    and validate the decoder against a hand-assembled golden
    bitstream."""
    import numpy as np

    def _kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("asset_id", "width", "height",
                                   "coded_bytes", "raw_bytes",
                                   "max_abs_err", "mean_abs_err")}
            for aid, buf in zip(pdf["asset_id"], pdf["payload"]):
                buf = bytes(buf)
                h = len(buf) // PNG_WIDTH
                if h < 1:
                    continue
                pix = np.frombuffer(buf[:h * PNG_WIDTH],
                                    dtype=np.uint8) \
                    .reshape(h, PNG_WIDTH)
                coded = build_jpeg(pix)
                dec = parse_jpeg(coded)
                err = np.abs(dec.astype(np.int32)
                             - pix.astype(np.int32))
                out["asset_id"].append(aid)
                out["width"].append(PNG_WIDTH)
                out["height"].append(h)
                out["coded_bytes"].append(len(coded))
                out["raw_bytes"].append(pix.size)
                out["max_abs_err"].append(int(err.max()))
                out["mean_abs_err"].append(
                    round(float(err.mean()), 6))
            yield pd.DataFrame(out)

    return (fan_out(binary_assets(spark, sf_dir), "asset_id", "payload")
            .mapInPandas(_kernel, _JPEG_RT_SCHEMA))
