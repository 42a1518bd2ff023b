"""Baseline JPEG decoder (kernels/jpeg.py).

Correctness proof: a minimal TEST-SIDE baseline encoder (forward DCT
+ canonical Huffman + byte stuffing + restart markers, written here
from the T.81 spec) produces streams the kernel decoder must
reconstruct within quantization error.  The encoder deliberately uses
its OWN uniform 8-bit Huffman tables (not the Annex K defaults), so
the decoder's canonical table builder is exercised on non-default
tables.  Real reference fixtures are pinned as self-goldens and
checked for structural invariants (cloud_combined is a grayscale
photo stored as YCbCr -> decoded r==g==b within rounding).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ref_loader import needs_file
from transformio_spark.kernels import jpeg

FIXDIR = "/root/reference/tests/data"
needs_china = needs_file(f"{FIXDIR}/china_pol96.jpg")

# orthonormal forward DCT (inverse of the decoder's reconstruction)
_C = jpeg._DCT_C


# ---------------------------------------------------------------------------
# minimal baseline encoder (test-side only)
# ---------------------------------------------------------------------------

def _canonical_codes(bits, huffval):
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


def _uniform_table(symbols):
    """All symbols at code length 8 — a valid canonical table that is
    NOT the Annex K default."""
    assert len(symbols) < 255
    bits = [0] * 16
    bits[7] = len(symbols)
    return bits, list(symbols)


_DC_BITS, _DC_VALS = _uniform_table(range(12))
_AC_BITS, _AC_VALS = _uniform_table(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad(self):
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-fill


def _magnitude(v):
    s = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _encode_block(w, block, pred, qtab):
    coef = _C @ (block.astype(np.float64) - 128.0) @ _C.T
    q = np.rint(coef / qtab).astype(np.int64)
    zz = q.reshape(64)[jpeg.ZIGZAG]  # zz[i] = q.flat[ZIGZAG[i]]
    diff = int(zz[0]) - pred
    s, bitsv = _magnitude(diff)
    c, ln = _DC_CODES[s]
    w.write(c, ln)
    if s:
        w.write(int(bitsv), s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = _AC_CODES[0xF0]
            w.write(c, ln)
            run -= 16
        s, bitsv = _magnitude(v)
        c, ln = _AC_CODES[(run << 4) | s]
        w.write(c, ln)
        w.write(int(bitsv), s)
        run = 0
    if run:
        c, ln = _AC_CODES[0x00]
        w.write(c, ln)
    return int(zz[0])


def _pad_to_block(plane, bh, bw):
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def encode_jpeg(im, subsample="4:4:4", qscale=1, restart=0):
    """Minimal baseline encoder: uniform-8-bit Huffman tables, flat
    quantization (qscale), optional 4:2:0 box-downsampled chroma and
    restart interval."""
    im = np.asarray(im)
    gray = im.ndim == 2
    h, w = im.shape[:2]
    if gray:
        planes = [im.astype(np.float64)]
        samp = [(1, 1)]
    else:
        r, g, b = [im[..., i].astype(np.float64) for i in range(3)]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 + (b - y) / 1.772
        cr = 128.0 + (r - y) / 1.402
        if subsample == "4:2:0":
            he, we = h + (h % 2), w + (w % 2)
            cbp = _pad_to_block(cb, he, we)
            crp = _pad_to_block(cr, he, we)
            cb = cbp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = [
        _pad_to_block(np.clip(np.rint(p), 0, 255), mcus_y * sv * 8, mcus_x * sh * 8)
        for p, (sh, sv) in zip(planes, samp)
    ]
    qtab = np.full((8, 8), float(qscale))

    out = bytearray(b"\xff\xd8")
    # DQT (table 0, 8-bit)
    zzq = np.rint(qtab.reshape(64)[jpeg.ZIGZAG]).astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zzq.tobytes()
    # SOF0
    nc = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([nc])
    for i, (sh, sv) in enumerate(samp):
        sof += bytes([i + 1, (sh << 4) | sv, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0, AC table 0
    for tc, (bits, vals) in ((0, (_DC_BITS, _DC_VALS)), (1, (_AC_BITS, _AC_VALS))):
        payload = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    # SOS
    sos = bytes([nc]) + b"".join(bytes([i + 1, 0]) for i in range(nc)) + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _BitWriter()
    preds = [0] * nc
    rst = 0
    n_in_chunk = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart and n_in_chunk == restart:
                wtr.pad()
                out += wtr.out + bytes([0xFF, 0xD0 + (rst & 7)])
                wtr = _BitWriter()
                preds = [0] * nc
                rst += 1
                n_in_chunk = 0
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        r0 = (my * sv + by) * 8
                        c0 = (mx * sh + bx) * 8
                        block = padded[ci][r0 : r0 + 8, c0 : c0 + 8]
                        preds[ci] = _encode_block(wtr, block, preds[ci], qtab)
            n_in_chunk += 1
    wtr.pad()
    out += wtr.out + b"\xff\xd9"
    return bytes(out)


def _smooth(h, w, seed, scale=8):
    rng = np.random.default_rng(seed)
    small = rng.uniform(30, 225, size=(h // scale + 2, w // scale + 2))
    big = np.kron(small, np.ones((scale, scale)))
    # cheap separable smoothing to keep block energy low
    k = np.ones(5) / 5
    big = np.apply_along_axis(lambda r: np.convolve(r, k, "same"), 1, big)
    big = np.apply_along_axis(lambda r: np.convolve(r, k, "same"), 0, big)
    return big[:h, :w]


# ---------------------------------------------------------------------------
# roundtrips through the kernel decoder
# ---------------------------------------------------------------------------

def test_grayscale_roundtrip_non_multiple_of_8():
    im = np.rint(_smooth(45, 61, seed=1)).astype(np.uint8)
    dec = jpeg.decode_jpeg(encode_jpeg(im))
    assert dec.shape == (45, 61)
    assert np.abs(dec.astype(int) - im.astype(int)).max() <= 3


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
    marker code — the parser must skip them (advisor round-3 fix)."""
    im = np.rint(_smooth(24, 32, seed=7)).astype(np.uint8)
    d = encode_jpeg(im)
    padded = d[:2] + b"\xff\xff\xff" + d[2:]
    np.testing.assert_array_equal(jpeg.decode_jpeg(padded), jpeg.decode_jpeg(d))


def test_color_444_roundtrip():
    im = np.stack(
        [np.rint(_smooth(40, 56, seed=s)) for s in (2, 3, 4)], axis=-1
    ).astype(np.uint8)
    dec = jpeg.decode_jpeg(encode_jpeg(im))
    assert dec.shape == (40, 56, 3)
    assert np.abs(dec.astype(int) - im.astype(int)).max() <= 4


def test_color_420_roundtrip_smooth_chroma():
    # chroma constant per 2x2 so box-downsample + replication is exact
    y = np.rint(_smooth(48, 64, seed=5))
    im = np.stack([y, y * 0.8 + 20, y * 0.6 + 50], axis=-1)
    im = np.rint(im).astype(np.uint8)
    im = im.repeat(1, axis=0)
    dec = jpeg.decode_jpeg(encode_jpeg(im, subsample="4:2:0"))
    assert dec.shape == im.shape
    assert np.abs(dec.astype(int) - im.astype(int)).mean() < 2.0
    assert np.abs(dec.astype(int) - im.astype(int)).max() <= 12  # chroma edges


def test_restart_interval_equals_unrestarted():
    im = np.rint(_smooth(32, 48, seed=6)).astype(np.uint8)
    plain = jpeg.decode_jpeg(encode_jpeg(im))
    rst = jpeg.decode_jpeg(encode_jpeg(im, restart=2))
    np.testing.assert_array_equal(plain, rst)


def test_quant_scale_coarsens_but_decodes():
    im = np.rint(_smooth(32, 32, seed=7)).astype(np.uint8)
    dec = jpeg.decode_jpeg(encode_jpeg(im, qscale=16))
    assert np.abs(dec.astype(int) - im.astype(int)).max() <= 40
    assert np.abs(dec.astype(int) - im.astype(int)).mean() < 8


def test_progressive_raises():
    data = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8)))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with pytest.raises(ValueError, match="SOF2"):
        jpeg.decode_jpeg(bytes(data))


def test_truncated_stream_raises():
    im = np.rint(_smooth(32, 32, seed=8)).astype(np.uint8)
    data = encode_jpeg(im, restart=1)
    # keep only the first restart segment, then EOI
    with pytest.raises(ValueError, match="restart segments"):
        jpeg.decode_jpeg(data[: data.find(b"\xff\xd0") + 2] + b"\xff\xd9")


# ---------------------------------------------------------------------------
# real reference fixtures
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def china_im():
    with open(f"{FIXDIR}/china_pol96.jpg", "rb") as f:
        return jpeg.decode_jpeg(f.read())


@needs_china
def test_china_fixture_decodes(china_im):
    assert china_im.shape == (1066, 1078, 3)
    # scanned parchment map: light warm background
    mean = china_im.mean(axis=(0, 1))
    assert mean[0] > 200 and mean[0] > mean[2]  # warm (R > B)
    assert zlib.adler32(china_im.tobytes()) == 2409414820


@needs_file(f"{FIXDIR}/cloud_combined_2048.jpg")
def test_cloud_fixture_grayscale_consistency():
    """cloud_combined is a grayscale photo stored as YCbCr — decoded
    channels must agree within chroma rounding, a structural check
    independent of any golden."""
    with open(f"{FIXDIR}/cloud_combined_2048.jpg", "rb") as f:
        im = jpeg.decode_jpeg(f.read())
    assert im.shape == (1024, 2048, 3)
    d = im.astype(int)
    assert np.abs(d[..., 0] - d[..., 1]).mean() < 1.0
    assert np.abs(d[..., 2] - d[..., 1]).mean() < 1.0


@needs_china
def test_load_image_dispatches_jpeg(china_im):
    from transformio_spark.kernels import warp as kwarp

    im = kwarp.load_image(f"{FIXDIR}/china_pol96.jpg")
    np.testing.assert_array_equal(im, china_im)


@needs_china
def test_china_readme_warp_end_to_end(china_im):
    """The README's flagship flow (reference README.md:122-141): fit
    on the china22 GCPs, warp the ACTUAL scanned map.  Previously
    impossible without PIL; output affine + checksum pinned."""
    from transformio_spark.fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from transformio_spark.kernels import transforms as kt
    from transformio_spark.kernels import warp as kwarp

    imx, imy = zip(*CHINA22_IMPOINTS)
    gx, gy = zip(*CHINA22_GEOPOINTS)
    trans = kt.Polynomial(order=2).fit(imx, imy, gx, gy)
    out, a6 = kwarp.warp(china_im, trans, size=(256, 256))
    assert out.shape == (256, 256, 4)
    assert out[..., 3].mean() / 255 > 0.5
    assert np.isfinite(a6).all()
    assert zlib.adler32(out.tobytes()) == 2246258511
