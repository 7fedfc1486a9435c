"""Pure-stdlib baseline JPEG codec (r7 VERDICT item 6): real JPEG
bytes must decode end-to-end in this imaging-library-free container,
through the same production dispatch every image kernel uses — the
png_stdlib precedent, second format.

JPEG is lossy, so the pins are exact DIMS + reconstruction inside a
measured error budget (deterministic: every DCT/quantize step is fixed
arithmetic), plus exactness where the math says exact (flat blocks),
plus loud rejection of the unsupported modes.
"""

from __future__ import annotations

import numpy as np
import pytest

from codegraph_spark.operators.jpeg_stdlib import (
    ZIGZAG,
    decode_jpeg_gray,
    encode_jpeg_gray,
)


def _max_err(px, w, h, **kw) -> int:
    data = encode_jpeg_gray(px, w, h, **kw)
    dw, dh, out = decode_jpeg_gray(data)
    assert (dw, dh) == (w, h)
    return int(np.abs(out.astype(int) - px.astype(int)).max())


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG) == list(range(64))
    assert ZIGZAG[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]  # T.81 figure 5


def test_flat_image_reconstructs_exactly():
    # a constant block is pure DC; DC quantization of a multiple-free
    # value still rounds back exactly at q>=90 (step <= 3 on value 0)
    px = np.full(64 * 48, 128, dtype=np.uint8)
    assert _max_err(px, 64, 48, quality=90) == 0


def test_roundtrip_error_budgets_by_quality():
    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, 64 * 48, dtype=np.uint8)  # worst case: noise
    # measured 74/34/14/7; margins keep the pin robust to tiny numeric
    # drift while still catching any real codec break (errors ~100+)
    assert _max_err(px, 64, 48, quality=50) <= 96
    assert _max_err(px, 64, 48, quality=75) <= 48
    assert _max_err(px, 64, 48, quality=90) <= 24
    assert _max_err(px, 64, 48, quality=95) <= 12


def test_non_multiple_of_8_dims_crop_exactly():
    rng = np.random.default_rng(7)
    for w, h in [(17, 9), (63, 41), (8, 8), (1, 1), (9, 64)]:
        px = rng.integers(0, 256, w * h, dtype=np.uint8)
        assert _max_err(px, w, h, quality=90) <= 24


def test_restart_interval_roundtrip():
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, 64 * 48, dtype=np.uint8)
    base = _max_err(px, 64, 48, quality=90)
    with_rst = _max_err(px, 64, 48, quality=90, restart_interval=3)
    # restarts change the bitstream framing, never the math
    assert with_rst == base


def test_text_frame_corpus_budget():
    """The mm gate's corpus shape: text bytes as pixels, per-doc dims."""
    worst = 0
    for i in range(60):
        w, h = 16 + i % 48, 16 + i % 32
        body = (f"doc {i} body words repeating " * 60).encode("ascii")
        body = (body * (w * h // len(body) + 2))[: w * h]
        px = np.frombuffer(body, dtype=np.uint8)
        worst = max(worst, _max_err(px, w, h, quality=90))
    assert worst <= 32  # the gate's spec literal (measured 18)


def test_progressive_rejected_loudly():
    px = np.full(64, 100, dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(px, 8, 8))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg_gray(bytes(data))


def test_bad_signature_rejected():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"\x89PNG\r\n\x1a\n")


def test_production_dispatch_decodes_real_jpeg_without_pillow():
    """The whole point: _decode_payload routes 'jpeg' to the stdlib
    decoder ahead of the Pillow probe, so the image kernels work on
    real JPEG bytes in this container (no skip, no raise)."""
    from codegraph_spark.operators.multimodal import _decode_payload

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, 48 * 32, dtype=np.uint8)
    data = encode_jpeg_gray(px, 48, 32, quality=90)
    for codec in ("jpeg", "jpg"):
        w, h, out = _decode_payload(data, codec)
        assert (w, h) == (48, 32)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 24


def test_image_stats_kernel_on_real_jpeg(spark):
    """decode_image_stats (mm_image_meta's kernel) over a real-JPEG
    payload column — the Spark-side plumbing is codec-agnostic."""
    from codegraph_spark.operators.multimodal import decode_image_stats

    rows = []
    rng = np.random.default_rng(5)
    for doc_id in range(6):
        w, h = 24 + doc_id, 16 + doc_id
        px = rng.integers(0, 256, w * h, dtype=np.uint8)
        rows.append(
            (doc_id, bytearray(encode_jpeg_gray(px, w, h, quality=90)),
             "image", "jpeg", w, h, None)
        )
    imgs = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, modality string, codec string, "
        "width int, height int, n_bytes int",
    )
    got = {r["doc_id"]: r for r in decode_image_stats(imgs).collect()}
    assert len(got) == 6
    for doc_id in range(6):
        assert got[doc_id]["width"] == 24 + doc_id
        assert got[doc_id]["height"] == 16 + doc_id


def test_ycbcr_420_multicomponent_decode():
    """The dominant real-world layout: 3 components, 4:2:0, chroma on
    table slot 1 — exercises the interleaved MCU walk (2x2 Y + Cb +
    Cr), per-component Huffman/quant routing, and the chroma
    entropy-skip. The returned gray channel is the luma plane."""
    from codegraph_spark.operators.jpeg_stdlib import encode_jpeg_ycbcr420
    from codegraph_spark.operators.multimodal import _decode_payload

    rng = np.random.default_rng(9)
    for w, h in [(32, 32), (48, 40), (17, 23)]:
        y = rng.integers(0, 256, (h, w), dtype=np.uint8)
        cw, ch = -(-w // 2), -(-h // 2)
        cb = np.full((ch, cw), 90, np.uint8)
        cr = rng.integers(0, 256, (ch, cw), dtype=np.uint8)
        data = encode_jpeg_ycbcr420(y, cb, cr, w, h, quality=90)
        dw, dh, out = _decode_payload(data, "jpeg")
        assert (dw, dh) == (w, h)
        err = np.abs(out.reshape(h, w).astype(int) - y.astype(int)).max()
        assert err <= 24  # same q90 budget as the gray path


def test_subsampled_first_component_rejected():
    """A file whose FIRST component is not max-factor (luma-subsampled
    — vanishingly rare) must raise, not silently mis-assemble."""
    from codegraph_spark.operators.jpeg_stdlib import encode_jpeg_ycbcr420

    y = np.full((16, 16), 100, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    data = bytearray(encode_jpeg_ycbcr420(y, c, c, 16, 16))
    i = data.find(b"\xff\xc0")
    # component parameter bytes start at i+10 (after marker, len, prec,
    # h, w, ncomp): [id1, hv1, tq1, ...] — swap Y's 0x22 with Cb's 0x11
    assert data[i + 11] == 0x22 and data[i + 14] == 0x11
    data[i + 11], data[i + 14] = 0x11, 0x22
    with pytest.raises(NotImplementedError, match="sampling factors"):
        decode_jpeg_gray(bytes(data))


def test_mjpeg_frame_bounds_walks_structure():
    """Concatenated JPEGs re-segment by marker structure; each slice
    decodes independently and boundaries are exact."""
    from codegraph_spark.operators.jpeg_stdlib import mjpeg_frame_bounds

    rng = np.random.default_rng(13)
    frames = []
    stream = b""
    for f in range(5):
        px = rng.integers(0, 256, 24 * 16, dtype=np.uint8)
        blob = encode_jpeg_gray(px, 24, 16, quality=90, restart_interval=2)
        frames.append((px, blob))
        stream += blob
    bounds = mjpeg_frame_bounds(stream)
    assert len(bounds) == 5
    assert bounds[0][0] == 0 and bounds[-1][1] == len(stream)
    for (px, blob), (lo, hi) in zip(frames, bounds):
        assert stream[lo:hi] == blob
        _, _, out = decode_jpeg_gray(stream[lo:hi])
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 24


def test_mjpeg_truncated_stream_raises():
    from codegraph_spark.operators.jpeg_stdlib import mjpeg_frame_bounds

    px = np.full(64, 50, np.uint8)
    blob = encode_jpeg_gray(px, 8, 8)
    with pytest.raises(ValueError, match="truncated|SOI"):
        mjpeg_frame_bounds(blob[:-2] + b"\x00\x00")  # EOI clobbered


# --- round-9 robustness fixes (ADVICE items) ---------------------------------
def test_fill_bytes_before_marker_tolerated():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker code — a padded but legal file must decode, not parse the
    fill byte as a marker with a bogus length."""
    px = np.full(64, 100, dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(px, 8, 8))
    i = data.find(b"\xff\xdb")  # pad before the first DQT marker
    padded = bytes(data[:i]) + b"\xff\xff\xff" + bytes(data[i:])
    w, h, out = decode_jpeg_gray(padded)
    assert (w, h) == (8, 8)
    assert np.abs(out.astype(int) - 100).max() <= 2


def test_non_interleaved_multi_scan_routes_to_fallback():
    """A multi-scan non-interleaved sequential JPEG (one scan per
    component) is legal but outside the stdlib envelope — it must raise
    the NotImplementedError that routes to the optional Pillow path,
    not walk a single-component scan with frame-interleaved geometry."""
    from codegraph_spark.operators.jpeg_stdlib import encode_jpeg_ycbcr420

    y = np.full(16 * 16, 90, dtype=np.uint8)
    c = np.full(8 * 8, 128, dtype=np.uint8)
    data = bytearray(encode_jpeg_ycbcr420(y, c, c, 16, 16))
    i = data.find(b"\xff\xda")  # SOS header: len, ns, (cs,td/ta)*ns ...
    # rewrite the 3-component scan header to a 1-component one (luma
    # only): length 12 -> 8, ns 3 -> 1, keep component 1's entry
    ns_off = i + 4
    assert data[ns_off] == 3
    new_header = bytes([0x00, 0x08, 0x01]) + bytes(data[ns_off + 1:ns_off + 3]) + bytes(data[i + 2 + 12 - 3: i + 2 + 12])
    data[i + 2: i + 2 + 12] = new_header
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg_gray(bytes(data))


def test_truncated_scan_raises_not_silent_zeros():
    """Chopping entropy-coded data must raise, not decode the missing
    tail from zero padding into silently wrong pixels."""
    px = np.arange(64 * 64, dtype=np.uint8).reshape(-1) % 251
    data = encode_jpeg_gray(px, 64, 64, quality=95)
    eoi = data.rfind(b"\xff\xd9")
    scan_start = data.find(b"\xff\xda")
    # cut half the entropy data (well past the SOS header)
    cut = scan_start + (eoi - scan_start) // 2
    with pytest.raises(ValueError):
        decode_jpeg_gray(data[:cut] + b"\xff\xd9")


def test_bitreader_partial_final_symbol_still_decodes():
    """The truncation guard must not reject VALID streams whose final
    symbol's peek window extends past the segment end (normal: peeks
    load padding, values never decode entirely from it)."""
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, 24 * 24, dtype=np.uint8)
    for q in (50, 75, 90):
        data = encode_jpeg_gray(px, 24, 24, quality=q)
        w, h, out = decode_jpeg_gray(data)
        assert (w, h) == (24, 24)


def test_huffman_lut_memory_is_bounded_for_distinct_input_tables():
    """The decoder memoizes one ~2.45 MiB lookup table per distinct DHT
    segment, and DHT bytes come from input files: 40 distinct AC tables
    must not keep 40 tables alive (an unbounded memo grows by ~98 MiB
    here; the bound keeps at most 16)."""
    import random
    import tracemalloc

    from codegraph_spark.operators import jpeg_stdlib as J

    rng = random.Random(7)
    specs = []
    for _ in range(40):
        vals = list(J._AC_LUM_VALS)
        rng.shuffle(vals)
        specs.append(bytes([0x10]) + bytes(J._AC_LUM_BITS) + bytes(vals))
    assert len(set(specs)) == 40
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        for raw in specs:
            lut = J._huff_lut_raw(raw)
            assert len(lut) == 1 << 16
        del lut
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert grown < 20 * 2.45 * 2**20, f"{grown / 2**20:.1f} MiB retained"
