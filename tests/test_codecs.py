"""PNG/TIFF decoders (kernels/png.py, kernels/tiff.py) and the
reference's REAL raster fixtures end-to-end through warp — closes the
round-2 gap that the engine could never run the reference's own
image tests (reference tests/test_image_warp.py:6-23)."""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pytest
from numpy.testing import assert_array_equal

from ref_loader import needs_file
from transformio_spark.kernels import png, tiff
from transformio_spark.kernels import transforms as kt
from transformio_spark.kernels import warp as kwarp
from transformio_spark.sources.worldfile import read_worldfile

FIXDIR = "/root/reference/tests/data"
_LAND = f"{FIXDIR}/land_shallow_topo_2048"
needs_land = needs_file(f"{_LAND}.png", f"{_LAND}.wld")


@pytest.fixture(scope="module")
def land_png():
    with open(f"{FIXDIR}/land_shallow_topo_2048.png", "rb") as f:
        return png.decode_png(f.read())


def _chunk(t: bytes, b: bytes) -> bytes:
    return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))


def _encode_png(arr: np.ndarray, row_filters) -> bytes:
    """Test-side PNG encoder with EXPLICIT per-row filter types, so the
    decoder's five unfilter branches are all exercised against numpy
    ground truth (the real fixture only uses 1/2/4)."""
    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    ct = {1: 0, 3: 2, 4: 6}[ch]
    flat = arr.reshape(h, w * ch).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        ft = row_filters[r % len(row_filters)]
        cur = flat[r]
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # 4: Paeth
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = cur - pred
        raw += bytes([ft]) + (enc & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    return (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))


@pytest.mark.parametrize("shape", [(11, 13), (11, 13, 3), (11, 13, 4)])
@pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_all_filters_roundtrip(shape, filters):
    rng = np.random.default_rng(42)
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    assert_array_equal(png.decode_png(_encode_png(a, filters)), a)


def test_png_palette():
    rng = np.random.default_rng(7)
    idx = rng.integers(0, 5, (9, 9), dtype=np.uint8)
    pal = rng.integers(0, 256, (5, 3), dtype=np.uint8)
    data = (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 9, 8, 3, 0, 0, 0))
            + _chunk(b"PLTE", pal.tobytes())
            + _chunk(b"IDAT", zlib.compress(
                b"".join(b"\x00" + idx[r].tobytes() for r in range(9))))
            + _chunk(b"IEND", b""))
    assert_array_equal(png.decode_png(data), pal[idx])


@needs_file(f"{_LAND}.png", f"{_LAND}.tif")
def test_png_and_tiff_fixture_decode_byte_equal(land_png):
    """land_shallow_topo_2048 ships as BOTH PNG (DEFLATE + scanline
    filters) and TIFF (LZW + horizontal predictor).  Two independent
    codecs producing byte-equal pixels is the correctness proof for
    both decoders."""
    with open(f"{FIXDIR}/land_shallow_topo_2048.tif", "rb") as f:
        tif = tiff.decode_tiff(f.read())
    assert land_png.shape == tif.shape == (1024, 2048, 3)
    assert_array_equal(land_png, tif)


@needs_file(f"{_LAND}.wld")
def test_worldfile_fixture_matches_fitbounds():
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    fb = kwarp.fitbounds(2048, 1024, [-180, 90, 180, -90])
    # fitbounds solves by least squares -> ~1e-13 residual skew terms
    np.testing.assert_allclose(np.asarray(aff.A, dtype=np.float64), fb.A,
                               atol=1e-10)


@needs_land
def test_real_fixture_warp_affine_golden(land_png):
    """The reference's satellite fixture + .wld end-to-end through
    warp(): output affine and full-image checksum pinned."""
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    out, a6 = kwarp.warp(
        land_png, aff, bounds=[-180, -90, 180, 90], size=(256, 128)
    )
    assert a6 == [1.40625, 0, -180, 0, -1.40625, 90]
    assert out.shape == (128, 256, 4)
    assert zlib.adler32(out.tobytes()) == 4168847584


MERC_XM = 6378137.0 * math.pi
MERC_YM = 6378137.0 * math.log(math.tan(math.pi / 4 + math.radians(85.0) / 2))


@needs_land
def test_real_fixture_reprojection_golden(land_png):
    """The reference's TestWorldSatellite flow (test_image_warp.py:
    6-23): fitbounds affine + MapProjection chain through warp, on the
    engine's analytic 4326->3857 backend, +/-85 deg clip.  Output
    affine + quadrant checksums pinned."""
    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    merc = kt.MapProjection("EPSG:4326", "EPSG:3857")
    out, a6 = kwarp.warp(
        land_png, kt.Chain([aff, merc]),
        bounds=[-MERC_XM, -MERC_YM, MERC_XM, MERC_YM], size=(256, 256),
    )
    assert a6[0] == pytest.approx(156543.03392804097)
    assert a6[2] == pytest.approx(-20037508.342789244)
    assert out.shape == (256, 256, 4)
    assert zlib.adler32(out.tobytes()) == 3461711322
    assert zlib.adler32(out[:128, :128].tobytes()) == 3629065871
    assert zlib.adler32(out[128:, 128:].tobytes()) == 4019931038


@needs_land
def test_real_fixture_tiled_warp_matches_full(spark, land_png):
    """Distributed tiled warp over the REAL fixture == single-array
    kernel bit-for-bit (the round-2 'tiled==full' guarantee, now on
    reference data instead of synth)."""
    import json

    from transformio_spark.operators import raster

    aff = read_worldfile(f"{FIXDIR}/land_shallow_topo_2048.wld")
    merc = kt.MapProjection("EPSG:4326", "EPSG:3857")
    chain = kt.Chain([aff, merc])
    full, a6 = kwarp.warp(
        land_png, chain,
        bounds=[-MERC_XM, -MERC_YM, MERC_XM, MERC_YM], size=(256, 256),
    )
    # tiled path works on RGBA tiles; alpha=255 source == full kernel's
    # internal 3-band sampling with alpha set on valid pixels
    src = np.dstack([land_png, np.full(land_png.shape[:2], 255, np.uint8)])
    tiles_df = raster.image_to_tiles(spark, src, tile=512)
    out_tiles, a6_tiled = raster.warp_tiled(
        spark, tiles_df, (2048, 1024), json.dumps(chain.to_json()),
        a6, (256, 256), out_tile=128, src_tile=512, crop=True,
    )
    assembled = raster.tiles_to_image(out_tiles.collect(), 256, 256)
    assert a6_tiled == pytest.approx(a6)
    assert_array_equal(assembled, full)


# ---------------------------------------------------------------------------
# WAV (kernels/wav.py) — round 4, the audio-kind container
# ---------------------------------------------------------------------------

def _wav_bytes(samples16, channels=1, rate=16000, bits=16, extra_chunk=False):
    import numpy as _np

    pcm = _np.asarray(samples16).astype("<i2").tobytes() if bits == 16 else bytes(
        samples16
    )
    body = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    if extra_chunk:
        body += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd size padded
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_wav_pcm16_roundtrip():
    from transformio_spark.kernels import wav

    s = np.array([0, 1, -1, 32767, -32768, 12345, -12345], dtype=np.int16)
    out = wav.decode_wav(_wav_bytes(s))
    assert out.dtype == np.float32 and out.shape == (7,)
    np.testing.assert_array_equal(out, s.astype(np.float32) / np.float32(32768.0))


def test_wav_skips_unknown_chunks_and_handles_stereo_and_8bit():
    from transformio_spark.kernels import wav

    s = np.arange(-6, 6, dtype=np.int16)
    out = wav.decode_wav(_wav_bytes(s, channels=2, extra_chunk=True))
    assert out.shape == (6, 2)
    u8 = bytes([0, 128, 255, 64])
    out8 = wav.decode_wav(_wav_bytes(u8, bits=8))
    np.testing.assert_array_equal(
        out8, (np.array([0, 128, 255, 64], np.float32) - 128.0) / 128.0
    )


def test_wav_rejects_non_pcm_and_bad_magic():
    from transformio_spark.kernels import wav

    assert not wav.is_wav(b"RIFFxxxxAVI ")
    with pytest.raises(ValueError, match="RIFF"):
        wav.decode_wav(b"not a wav")
    bad = bytearray(_wav_bytes(np.zeros(4, np.int16)))
    bad[20] = 3  # audio_format = IEEE float
    with pytest.raises(ValueError, match="format"):
        wav.decode_wav(bytes(bad))
