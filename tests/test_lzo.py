"""LZO1X decoder vectors hand-assembled from the PUBLIC stream format
(the instruction table documented in the Linux kernel's
Documentation/staging/lzo.rst) — each vector's bytes are derived from
the spec by hand, so the decoder is checked against the format, not
against our own encoder. The encoder (literal-only) is then round-trip
checked THROUGH the spec-pinned decoder, and the fsimage-level wiring
(BlockCompressorStream framing, footer class name) is covered in
test_fsimage_writer.py's codec parametrizations."""

from __future__ import annotations

import pytest

from hfsa_spark.extract.lzo import (
    lzo1x_compress_greedy,
    lzo1x_compress_literal,
    lzo1x_decompress,
)

EOS = b"\x11\x00\x00"  # t=17 (len 3) + le16 0 => distance 16384 = end


# ---------------------------------------------------------- literals --


def test_first_byte_short_literals():
    # first byte > 17: copy (byte-17) literals
    assert lzo1x_decompress(bytes([19]) + b"ab" + EOS) == b"ab"
    assert lzo1x_decompress(bytes([17 + 238]) + b"x" * 238 + EOS) == b"x" * 238


def test_long_literal_run_direct_length():
    # t=0..15 with state 0: literal run, length = t + 3
    assert lzo1x_decompress(bytes([7]) + b"0123456789" + EOS) == b"0123456789"
    assert lzo1x_decompress(bytes([15]) + b"a" * 18 + EOS) == b"a" * 18


def test_long_literal_run_extended_length():
    # L == 0: length = 3 + 15 + 255*zeros + nonzero
    data = bytes(range(19))
    assert lzo1x_decompress(b"\x00\x01" + data + EOS) == data
    data = b"q" * (18 + 255 + 7)  # one zero extension byte then 7
    assert lzo1x_decompress(b"\x00\x00\x07" + data + EOS) == data


def test_empty_stream_is_just_the_end_marker():
    assert lzo1x_decompress(EOS) == b""


# ------------------------------------------------------------ matches --


def test_m2_match_len3_and_len4():
    # t=64..127: 0 1 L D D D S S, length 3+L, dist = (H<<3)+D+1
    # "abcd", then copy 4 from distance 4: L=1, D=3, H=0, S=0 -> t=108
    v = bytes([21]) + b"abcd" + bytes([108, 0]) + EOS
    assert lzo1x_decompress(v) == b"abcdabcd"
    # copy 3 from distance 4: L=0 -> t=76
    v = bytes([21]) + b"abcd" + bytes([76, 0]) + EOS
    assert lzo1x_decompress(v) == b"abcdabc"


def test_m4_long_match_with_trailing_literals():
    # t=128..255: 1 L L D D D S S, length 5+L, dist = (H<<3)+D+1
    # copy 8 from distance 4 (overlapping), then S=2 literals "xy"
    t = 0x80 | (3 << 5) | (3 << 2) | 2  # = 238
    v = bytes([21]) + b"abcd" + bytes([t, 0]) + b"xy" + EOS
    assert lzo1x_decompress(v) == b"abcdabcdabcdxy"


def test_rle_overlap_distance_one():
    # distance 1, length 8: classic RLE expansion via overlapping copy
    t = 0x80 | (3 << 5) | (0 << 2) | 0  # = 224, D=0 H=0 -> dist 1
    v = bytes([18]) + b"a" + bytes([t, 0]) + EOS
    assert lzo1x_decompress(v) == b"a" * 9


def test_two_byte_match_after_short_literals():
    # state 1..3 + t<16: 0 0 0 0 D D S S, dist = (H<<2)+D+1, length 2
    # first byte 19 -> "ab" with state=2; then D=1, H=0 -> dist 2
    v = bytes([19]) + b"ab" + bytes([0x04, 0x00]) + EOS
    assert lzo1x_decompress(v) == b"abab"


def test_three_byte_match_after_literal_run_distance_2049():
    # state==4 + t<16: dist = (H<<2)+D+2049, length 3
    n = 2060
    data = (b"0123456789" * 206)[:n]
    rem = n - 18
    z, r = divmod(rem - 1, 255)
    head = b"\x00" + b"\x00" * z + bytes([r + 1])
    v = head + data + bytes([0x00, 0x00]) + EOS  # D=0 H=0 -> dist 2049
    assert lzo1x_decompress(v) == data + data[n - 2049 : n - 2049 + 3]


def test_m3_match_16kb_window():
    # t=32..63: 0 0 1 L L L L L, length 2+L, dist = (le16>>2)+1
    # "abcde" then copy 5 from distance 5: L=3 -> t=0x23, le16 = 4<<2
    v = bytes([22]) + b"abcde" + bytes([0x23, 0x10, 0x00]) + EOS
    assert lzo1x_decompress(v) == b"abcdeabcde"


def test_m3_extended_match_length():
    # L==0: length = 2 + 31 + 255*zeros + nonzero
    v = bytes([19]) + b"ab" + bytes([0x20, 0x05, 0x04, 0x00]) + EOS
    # length = 2 + 31 + 5 = 38 from distance 2
    assert lzo1x_decompress(v) == b"ab" * 20


def test_m4_far_match_beyond_16kb_is_not_eos():
    # t=16..31 with nonzero D: dist = 16384 + (H<<14) + D — only the
    # EXACT dist==16384 case ends the stream
    n = 16400
    data = (b"abcdefghij" * 1640)[:n]
    rem = n - 18
    z, r = divmod(rem - 1, 255)
    head = b"\x00" + b"\x00" * z + bytes([r + 1])
    # t=0x11 (H=0, L=1 -> len 3), le16 = 1<<2 -> D=1 -> dist 16385
    v = head + data + bytes([0x11, 0x04, 0x00]) + EOS
    assert lzo1x_decompress(v) == data + data[n - 16385 : n - 16385 + 3]


# ------------------------------------------------------------- errors --


def test_truncated_literal_run_raises():
    with pytest.raises(ValueError, match="truncated"):
        lzo1x_decompress(bytes([7]) + b"01234")  # promises 10 literals


def test_missing_end_marker_raises():
    with pytest.raises(ValueError, match="end-of-stream"):
        lzo1x_decompress(bytes([19]) + b"ab")


def test_match_before_output_start_raises():
    # 1 literal then a 2-byte match at distance 2
    with pytest.raises(ValueError, match="before"):
        lzo1x_decompress(bytes([18]) + b"a" + bytes([0x04, 0x00]) + EOS)


def test_expected_size_mismatch_raises():
    v = bytes([19]) + b"ab" + EOS
    assert lzo1x_decompress(v, expected_size=2) == b"ab"
    with pytest.raises(ValueError, match="block header says"):
        lzo1x_decompress(v, expected_size=3)


def test_trailing_garbage_after_eos_raises():
    # Hadoop chunk lengths are exact: leftover bytes mean mis-framing.
    v = bytes([19]) + b"ab" + EOS
    with pytest.raises(ValueError, match="trailing bytes"):
        lzo1x_decompress(v + b"\x00")
    assert lzo1x_decompress(v + b"junk", strict=False) == b"ab"


def test_max_size_cap_aborts_before_materializing():
    # one RLE-style match whose extended length expands 10000x: the cap
    # must fire DURING decode, not after the copy lands in memory
    data = b"x" * 10000 + b"END"
    enc = lzo1x_compress_greedy(data)
    assert lzo1x_decompress(enc, max_size=len(data)) == data
    with pytest.raises(ValueError, match="byte cap"):
        lzo1x_decompress(enc, max_size=100)
    # cap also guards plain literal runs
    lit = lzo1x_compress_literal(b"y" * 500)
    with pytest.raises(ValueError, match="byte cap"):
        lzo1x_decompress(lit, max_size=499)
    # and the first-byte short-run form
    with pytest.raises(ValueError, match="byte cap"):
        lzo1x_decompress(bytes([19]) + b"ab" + EOS, max_size=1)


def test_block_stream_oversize_lzo_chunk_aborts_early():
    # frame a chunk whose payload expands past the block header's size:
    # the LzoCodec section reader must reject via the in-decoder cap
    import struct

    from hfsa_spark.extract.fsimage import _decompress

    payload = lzo1x_compress_greedy(b"z" * 4096)
    frame = struct.pack(">i", 16) + struct.pack(">i", len(payload)) + payload
    with pytest.raises(ValueError, match="byte cap|past its block"):
        _decompress("com.hadoop.compression.lzo.LzoCodec", frame)


# ----------------------- differential vs a real LZO implementation --
# (ADVICE r9: the spec vectors and round-trips all descend from the same
# public doc; a REAL liblzo2 stream is the only independent witness.
# python-lzo is not in this container, so the test runs wherever it is.)


def test_differential_against_real_liblzo2_when_importable():
    lzo = pytest.importorskip("lzo")
    import hashlib

    for n in (0, 1, 17, 238, 4096, 65536):
        data = hashlib.shake_256(f"diff{n}".encode()).digest(n)
        for payload in (data, data[: n // 2] * 2, b"ab" * (n // 2)):
            real = lzo.compress(payload, 1, False)  # raw LZO1X, no header
            assert lzo1x_decompress(real, expected_size=len(payload)) == payload
            # and the reverse: liblzo2 must accept OUR encoders' output
            for enc in (
                lzo1x_compress_literal(payload),
                lzo1x_compress_greedy(payload),
            ):
                assert lzo.decompress(enc, False, len(payload)) == payload


# -------------------------------------------- encoder through decoder --


@pytest.mark.parametrize("n", [0, 1, 3, 4, 17, 18, 19, 238, 239, 300, 18 + 255, 70000])
def test_literal_compressor_roundtrips_through_spec_decoder(n):
    import hashlib

    data = hashlib.shake_256(str(n).encode()).digest(n) if n else b""
    enc = lzo1x_compress_literal(data)
    assert lzo1x_decompress(enc, expected_size=n) == data


# ------------------------------------- greedy encoder through decoder --


def test_greedy_compressor_emits_real_matches_and_roundtrips():
    data = b"abcdabcdabcdabcd" * 64  # dense 4-byte periodicity
    enc = lzo1x_compress_greedy(data)
    assert len(enc) < len(data) // 4  # actually compresses
    assert lzo1x_decompress(enc, expected_size=len(data)) == data


def test_greedy_far_matches_m3_and_m4_windows():
    # a motif recurring at ~5k and ~20k distances forces M3 then M4 forms
    motif = b"the-quick-brown-fox-0123456789"
    data = motif + bytes(range(256)) * 20 + motif + bytes(255 - b for b in range(256)) * 60 + motif
    enc = lzo1x_compress_greedy(data)
    assert lzo1x_decompress(enc, expected_size=len(data)) == data


def test_greedy_long_match_extended_length():
    data = b"x" * 10000 + b"END"  # RLE-like: one long overlapping match
    enc = lzo1x_compress_greedy(data)
    assert len(enc) < 100
    assert lzo1x_decompress(enc, expected_size=len(data)) == data


@pytest.mark.parametrize("n", [1, 2, 3, 4, 239, 300, 65536])
def test_greedy_roundtrips_incompressible_data(n):
    import hashlib

    data = hashlib.shake_256(f"greedy{n}".encode()).digest(n)
    enc = lzo1x_compress_greedy(data)
    assert lzo1x_decompress(enc, expected_size=n) == data


def test_greedy_roundtrips_hypothesis_streams():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.binary(max_size=4096)
        | st.lists(
            st.sampled_from([b"aaaa", b"ab", b"abcabc", b"\x00\x00\x00\x00", b"xyz123"]),
            max_size=200,
        ).map(b"".join)
    )
    def inner(data):
        assert lzo1x_decompress(
            lzo1x_compress_greedy(data), expected_size=len(data)
        ) == data

    inner()


# ------------------------------------------ parallel section decode --


def _block_stream(chunks):
    """[(orig, payload)] -> BlockCompressorStream bytes (1 chunk/block)."""
    import struct

    out = bytearray()
    for orig, payload in chunks:
        out += struct.pack(">ii", orig, len(payload))
        out += payload
    return bytes(out)


def test_parallel_lzo_section_matches_sequential(tmp_path, monkeypatch):
    import hashlib
    import io

    from hfsa_spark.extract import fsimage
    from hfsa_spark.extract.fsimage import (
        _decompress_lzo_to_file_parallel,
        _decompress_to_file,
    )

    # ~200 blocks mixing compressible and stored-ish payloads
    blocks = []
    for i in range(200):
        if i % 3:
            data = (f"block{i}-".encode() * 997)[: 8192 + i]
        else:
            data = hashlib.shake_256(f"noise{i}".encode()).digest(4096 + i)
        blocks.append((len(data), lzo1x_compress_greedy(data)))
    stream = _block_stream(blocks)
    src = tmp_path / "sec.bin"
    src.write_bytes(b"HDR!" + stream + b"TRAILER")  # section inside a file

    seq = tmp_path / "seq.out"
    with open(seq, "wb") as f:
        n_seq = _decompress_to_file(str(src), 4, len(stream), f, "LzoCodec")
    par = tmp_path / "par.out"
    with open(par, "wb") as f:
        n_par = _decompress_lzo_to_file_parallel(str(src), 4, len(stream), f)
    assert n_par == n_seq == sum(o for o, _ in blocks)
    assert par.read_bytes() == seq.read_bytes()

    # and the integrated path picks the parallel branch under a lowered
    # size threshold, producing identical bytes again
    monkeypatch.setattr(fsimage, "_LZO_PARALLEL_MIN", 1)
    via = tmp_path / "via.out"
    with open(via, "wb") as f:
        f.write(b"prefix--")  # parallel write must respect prior content
        n_via = _decompress_to_file(str(src), 4, len(stream), f, "LzoCodec")
    assert n_via == n_seq
    assert via.read_bytes() == b"prefix--" + seq.read_bytes()


def test_parallel_lzo_falls_back_on_multichunk_blocks(tmp_path, monkeypatch):
    """A block split across TWO chunks breaks the single-chunk walk: the
    optimistic scan must reject it and the sequential path must still
    decode it exactly (the r9 multi-chunk regression fixture shape)."""
    import struct

    from hfsa_spark.extract import fsimage
    from hfsa_spark.extract.fsimage import (
        _decompress_lzo_to_file_parallel,
        _decompress_to_file,
        _scan_lzo_block_stream,
    )

    a, b = b"x" * 5000, b"y" * 3000
    ca, cb = lzo1x_compress_greedy(a), lzo1x_compress_greedy(b)
    stream = struct.pack(">i", len(a) + len(b))
    stream += struct.pack(">i", len(ca)) + ca
    stream += struct.pack(">i", len(cb)) + cb
    src = tmp_path / "mc.bin"
    src.write_bytes(stream)

    assert _scan_lzo_block_stream(str(src), 0, len(stream)) is None or (
        # if the second chunk happens to parse as headers the walk may
        # "succeed" structurally — then the validated decode must refuse
        _decompress_lzo_to_file_parallel(
            str(src), 0, len(stream), open(tmp_path / "x", "wb")
        )
        is None
    )
    monkeypatch.setattr(fsimage, "_LZO_PARALLEL_MIN", 1)
    out = tmp_path / "mc.out"
    with open(out, "wb") as f:
        n = _decompress_to_file(str(src), 0, len(stream), f, "LzoCodec")
    assert n == 8000 and out.read_bytes() == a + b
