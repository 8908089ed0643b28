"""Round-11 OPTIMIZATION tests: restructured internals must stay
bit-identical to their pre-optimization semantics.

Covers the fused exact-Jaccard confirm (dedup._confirm_jaccard), the
buffered _BitReader + LUT Huffman decode, the vectorized lossless
reconstruct, and the lsh_ann_report checkpoint (values unchanged)."""

from __future__ import annotations

import numpy as np
import pytest

from conftest import SF_DIR

from pyspark.sql import functions as F

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.functions import portable as P
from procurement_system_bigdata_spark.operators import codecs, dedup


def test_confirm_jaccard_fused_matches_legacy_shape(spark):
    """The fused single-intersect confirm (project n_common behind the
    shuffle barrier, filter on the projected int) must emit exactly the
    rows+values of the legacy select(jaccard).filter(jaccard) shape."""
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    sets = spark.createDataFrame(
        [
            (1, ["a", "b", "c"]),
            (2, ["a", "b", "c", "d"]),
            (3, ["a", "b"]),
            (4, ["x"]),
        ],
        "doc_id long, hs array<string>",
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    got = sorted(
        tuple(r)
        for r in dedup._confirm_jaccard(cand, sa, sb, "doc_a", "doc_b", 0.5).collect()
    )
    n_common = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    jac = n_common.cast("double") / (
        F.size(F.col("hs_a")) + F.size(F.col("hs_b")) - n_common
    )
    want = sorted(
        tuple(r)
        for r in (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5)
        ).collect()
    )
    assert got == want


def test_confirm_plan_single_intersect(spark):
    """The round-11 fusion is pinned: the confirmed-pairs plan evaluates
    array_intersect ONCE (the legacy shape carried the 2-intersect jaccard
    expression in both the pushed predicate and the survivor projection)."""
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    df = dedup.minhash_lsh_pairs(
        docs, k=P.MINHASH_K_ORACLE, n_bands=P.MINHASH_BANDS_ORACLE
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_intersect") == 1, plan[:3000]


class _RefBitReader:
    """The pre-round-11 byte-at-a-time reader, kept as the semantic
    reference for the buffered implementation."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise codecs.UnsupportedMediaError("JPEG scan data exhausted")
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def test_bitreader_matches_reference_reader():
    rng = np.random.RandomState(7)
    data = bytes(rng.randint(0, 256, 200, dtype=np.uint8))
    widths = rng.randint(0, 17, 400).tolist()
    new, ref = codecs._BitReader(data), _RefBitReader(data)
    for w in widths:
        try:
            want = ref.bits(w)
            want_exc = None
        except codecs.UnsupportedMediaError:
            want_exc = True
        try:
            got = new.bits(w)
            got_exc = None
        except codecs.UnsupportedMediaError:
            got_exc = True
        if want_exc:
            assert got_exc
            return  # both exhausted at the same request — done
        assert got == want


def test_bitreader_accumulator_holds_only_unread_bits():
    """Consumed bits are masked off after every bit()/bits() call, so the
    accumulator stays below 2**nbits.  Progressive refinement scans read
    long bit()-only runs; an unmasked accumulator grows with each one and
    every 48-bit refill shifts the whole integer (quadratic scans)."""
    rng = np.random.RandomState(3)
    data = bytes(rng.randint(0, 256, 4096, dtype=np.uint8))
    new, ref = codecs._BitReader(data), _RefBitReader(data)
    for i in range(8 * len(data) // 9):
        if i % 64 < 48:  # long bit()-only runs, as in refinement scans
            assert new.bit() == ref.bit()
        else:
            assert new.bits(17) == ref.bits(17)
        assert new.acc < 1 << new.nbits, (i, new.nbits, new.acc.bit_length())


def test_huff_lut_decodes_like_reference_walk():
    """Every symbol of the Annex K DC/AC tables decodes identically via
    the LUT and via the reference per-bit canonical walk, for the exact
    bitstream the encoder writes."""
    for spec in (codecs._DC_L_SPEC, codecs._AC_L_SPEC, codecs._AC_C_SPEC):
        enc = codecs._huff_encode_table(spec)
        lut = codecs._huff_decode_table(*spec)
        bw = codecs._BitWriter()
        syms = sorted(enc)
        for s in syms:
            code, ln = enc[s]
            bw.write(code, ln)
        # the writer byte-stuffs 0xFF; readers always consume un-stuffed
        # entropy bytes (decode_jpeg strips via _entropy_segment)
        data, _ = codecs._entropy_segment(bw.flush(), 0)
        br = codecs._BitReader(data)
        got = [codecs._huff_read(br, lut) for _ in syms]
        assert got == syms


def test_lossless_reconstruct_matches_scalar_predictor():
    """The vectorized reconstruction equals the per-sample
    (_lossless_predict + diff) & 0xFFFF loop for every predictor,
    including the modular wrap cases."""
    rng = np.random.RandomState(11)
    h, w = 9, 13
    for sel in range(1, 8):
        d = rng.randint(-300, 300, (h, w)).astype(np.int64)
        d[0, 0] = 40000  # force a wraparound through the & 0xFFFF
        got = codecs._lossless_reconstruct(d, sel, 128)
        ref = np.zeros((h, w), dtype=np.int64)
        for y in range(h):
            for x in range(w):
                pred = (
                    128
                    if (y == 0 and x == 0)
                    else codecs._lossless_predict(ref, y, x, sel)
                )
                ref[y, x] = (pred + int(d[y, x])) & 0xFFFF
        assert np.array_equal(got, ref), f"predictor {sel}"


def test_jpeg_roundtrips_unchanged_by_codec_rewrite():
    """End-to-end digests across the rewritten encode/decode paths: the
    progressive bitstream still reconstructs the baseline pixels, and
    lossless roundtrips bit-exactly, for several gradient classes."""
    for mid in (0, 1, 7, 255):
        arr = codecs.decode_ppm(codecs.synthesize_image(mid, 32, 24))
        base = codecs.decode_jpeg(codecs.encode_jpeg(arr, 90, subsampling="420"))
        prog = codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(arr, 90, subsampling="420")
        )
        assert np.array_equal(base, prog)
        ll = codecs.decode_jpeg(codecs.encode_jpeg_lossless(arr, 1 + mid % 7))
        assert np.array_equal(ll, arr)


def test_adpcm_roundtrip_unchanged_by_inline():
    """The inlined IMA step must reproduce _ima_step exactly over a
    whole block (encode and decode)."""
    rng = np.random.RandomState(3)
    pcm = rng.randint(-32768, 32767, 505).astype(np.int64)
    block = codecs.ima_adpcm_encode_block(pcm)
    dec = codecs.ima_adpcm_decode_block(block, 505)
    # reference decode through the kept _ima_step helper
    import struct

    pred, index, _ = struct.unpack_from("<hBB", block, 0)
    ref = [pred]
    for i in range(504):
        byte = block[4 + (i >> 1)]
        nib = (byte >> 4) if i & 1 else (byte & 0x0F)
        pred, index = codecs._ima_step(pred, index, nib)
        ref.append(pred)
    assert dec.tolist() == ref
