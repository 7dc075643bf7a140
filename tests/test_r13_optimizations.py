"""Round-13 optimization internals: the vectorized fast paths must be
bit-equivalent to the simple definitions they replaced, and the
fan-out helpers must be set-preserving and conditional."""

import numpy as np
import pytest


# --- PNG batch encoder ------------------------------------------------------

def test_build_png_batch_matches_single():
    from gcp_datalake_utils_spark.llm.multimodal import (
        build_png, build_png_batch)
    rng = np.random.default_rng(17)
    imgs = [rng.integers(0, 256, size=(int(rng.integers(1, 40)), 32),
                         dtype=np.uint8) for _ in range(80)]
    assert build_png_batch(imgs) == [build_png(im) for im in imgs]
    assert build_png_batch([]) == []


def test_png_roundtrip_all_filter_types():
    # >= 5 rows exercises every predictor class via the r % 5 schedule
    from gcp_datalake_utils_spark.llm.multimodal import (
        build_png, parse_png)
    rng = np.random.default_rng(3)
    for h in (1, 2, 5, 9, 33):
        pix = rng.integers(0, 256, size=(h, 32), dtype=np.uint8)
        img, n_idat = parse_png(build_png(pix))
        assert (img == pix).all()


# --- JPEG vectorized bit packer ---------------------------------------------

def test_jpeg_pack_codes_matches_bitwriter():
    from gcp_datalake_utils_spark.llm.jpeg import _BitWriter, _pack_codes
    rng = np.random.default_rng(5)
    for _ in range(50):
        n = int(rng.integers(1, 200))
        lens = rng.integers(1, 17, size=n)
        vals = [int(rng.integers(0, 1 << ln)) for ln in lens]
        bw = _BitWriter()
        for v, ln in zip(vals, lens):
            bw.put(v, int(ln))
        assert _pack_codes(vals, lens) == bw.flush()
    assert _pack_codes([], []) == b""


def test_jpeg_huff_lut_agrees_with_read_symbol():
    from gcp_datalake_utils_spark.llm import jpeg as J
    sym_t, len_t = J._huff_lut(J.AC_BITS, J.AC_VALS)
    enc = J._huff_codes(J.AC_BITS, J.AC_VALS)
    for sym, (code, ln) in enc.items():
        win = code << (16 - ln)
        assert sym_t[win] == sym and len_t[win] == ln
        # the whole window owned by this code decodes to it
        assert sym_t[win + (1 << (16 - ln)) - 1] == sym


def test_jpeg_huff_lut_cache_evicts_least_recently_used(monkeypatch):
    from gcp_datalake_utils_spark.llm import jpeg as J
    monkeypatch.setattr(J, "_LUT_CACHE", {})
    tables = [[(v + i) % 256 for v in J.DC_VALS]
              for i in range(J._LUT_CACHE_MAX + 1)]
    for vals in tables[:-1]:
        J._huff_lut(J.DC_BITS, vals)
    hit = J._huff_lut(J.DC_BITS, tables[0])  # oldest entry, now recent
    J._huff_lut(J.DC_BITS, tables[-1])
    keys = [vals for _, vals in J._LUT_CACHE]
    assert len(keys) == J._LUT_CACHE_MAX
    assert bytes(tables[0]) in keys and bytes(tables[1]) not in keys
    assert J._huff_lut(J.DC_BITS, tables[0]) is hit


# --- FLAC fast bit paths ----------------------------------------------------

def test_flac_write_bit_array_matches_bitwise():
    from gcp_datalake_utils_spark.llm.flac import _BitWriter
    rng = np.random.default_rng(7)
    for lead in (0, 3, 7):  # unaligned accumulator states
        bits = rng.integers(0, 2, size=int(rng.integers(1, 300))) \
            .astype(np.uint8)
        a = _BitWriter()
        b = _BitWriter()
        if lead:
            a.write(0b101, lead)
            b.write(0b101, lead)
        for v in bits:
            a.write(int(v), 1)
        b.write_bit_array(bits)
        a.align()
        b.align()
        assert a.bytes() == b.bytes()


def test_flac_read_unary_consumption():
    from gcp_datalake_utils_spark.llm.flac import _BitReader, _BitWriter
    w = _BitWriter()
    qs = [0, 1, 5, 31, 40, 0, 2]
    for q in qs:
        w.write_unary(q)
        w.write(0b1011, 4)
    w.align()
    r = _BitReader(w.bytes())
    for q in qs:
        assert r.read_unary() == q
        assert r.read(4) == 0b1011


def test_flac_roundtrip_fixed_orders():
    from gcp_datalake_utils_spark.llm.flac import build_flac, parse_flac
    rng = np.random.default_rng(11)
    cases = [
        np.zeros(10, dtype=np.int64),                      # constant
        rng.integers(-32768, 32768, size=300),             # verbatim-ish
        np.cumsum(rng.integers(-20, 21, size=5000)),       # low orders
        (np.arange(4200) % 97) * 30 - 1400,                # multi-frame
    ]
    for s in cases:
        s = np.clip(s, -32768, 32767).astype(np.int64)
        rate, ch, bits, out = parse_flac(build_flac(s))
        assert (out.astype(np.int64) == s).all()


# --- dHash reduceat form ----------------------------------------------------

def test_dhash_matches_percell_definition():
    from gcp_datalake_utils_spark.llm.imagededup import (
        GRID_H, GRID_W, _dhash_of)
    rng = np.random.default_rng(13)
    for _ in range(40):
        h = int(rng.integers(8, 50))
        pix = rng.integers(0, 256, size=(h, 32), dtype=np.uint8)
        # per-cell reference: the original slice-sum definition
        x = pix.astype(np.int64)
        rb = [(r * h) // GRID_H for r in range(GRID_H + 1)]
        cb = [(c * 32) // GRID_W for c in range(GRID_W + 1)]
        g = np.array(
            [[int(x[rb[r]:rb[r + 1], cb[c]:cb[c + 1]].sum())
              // ((rb[r + 1] - rb[r]) * (cb[c + 1] - cb[c]))
              for c in range(GRID_W)] for r in range(GRID_H)])
        bits = (g[:, 1:] > g[:, :-1]).flatten()
        lo = int((bits[:32] << np.arange(32)).sum())
        hi = int((bits[32:] << np.arange(32)).sum())
        assert _dhash_of(pix) == (hi, lo)


# --- fan-out helpers --------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from gcp_datalake_utils_spark.session import get_spark
    s = get_spark("test-r13-opt")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_scaled_repartition_conditional(spark):
    from gcp_datalake_utils_spark.sources import scaled_repartition
    target = spark.sparkContext.defaultParallelism
    few = spark.range(1000).coalesce(1)
    out = scaled_repartition(few, "id")
    assert out.rdd.getNumPartitions() == target
    assert sorted(r.id for r in out.collect()) == list(range(1000))
    many = spark.range(1000).repartition(target + 4, "id")
    assert scaled_repartition(many, "id").rdd.getNumPartitions() \
        == target + 4  # already parallel: untouched


def test_cc_min_label_chain_and_convergence(spark):
    # a diameter-4 chain forces multiple Observation-fused rounds
    from gcp_datalake_utils_spark.llm.cc import cc_min_label
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (20, 20)],
        "doc_a long, doc_b long")
    out = {(r.doc_id, r.group_id)
           for r in cc_min_label(pairs, "doc_a", "doc_b").collect()}
    assert out == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10), (20, 20)}
