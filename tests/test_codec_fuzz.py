"""Mutation fuzzing for the pure-Python media codecs: the stub-flag
contract says malformed payloads return None (or decode to SOMETHING)
but NEVER raise — every decode seam is driven with hundreds of
byte-level mutations of valid files (flips, truncations, extensions).
Seeded: failures reproduce.

RuntimeWarnings are promoted to errors module-wide (pytestmark below):
a fuzz run must be warning-clean — the NaN-cast class found in round 7
stays closed."""

from __future__ import annotations

import math
import random

import pytest

from bb_bigdata_log_tools_spark.operators.gifcodec import (
    gif_frame_count,
    gif_parse_pixels,
    make_gif,
)
from bb_bigdata_log_tools_spark.operators.jpegcodec import (
    jpeg_parse_pixels,
    make_jpeg,
)
from bb_bigdata_log_tools_spark.operators.multimodal import (
    _bmp_parse_pixels,
    image_dhash_value,
    make_bmp_palette,
    make_gif_header,
    make_mp3,
    make_mp4,
    make_png_palette,
    make_png_rows,
    make_wav,
    parse_image_dimensions,
    parse_mp3_meta,
    parse_mp4_meta,
    parse_wav_meta,
    png_parse_pixels,
    wav_pcm_stats,
    wav_resample,
)

pytestmark = [pytest.mark.filterwarnings("error::RuntimeWarning"),
              pytest.mark.slow]  # heavy tier, see pytest.ini

ROWS = [
    [((x % 5) * 40, (y % 4) * 50, ((x + y) % 6) * 30) for x in range(18)]
    for y in range(12)
]


def _mutations(payload: bytes, rng: random.Random, n: int):
    """n deterministic mutants: byte flips, truncations, injections."""
    out = []
    for _ in range(n):
        kind = rng.randrange(4)
        b = bytearray(payload)
        if kind == 0 and b:  # flip 1-4 bytes
            for _ in range(rng.randint(1, 4)):
                i = rng.randrange(len(b))
                b[i] ^= rng.randint(1, 255)
            out.append(bytes(b))
        elif kind == 1 and b:  # truncate
            out.append(bytes(b[: rng.randrange(len(b))]))
        elif kind == 2:  # insert garbage
            i = rng.randrange(len(b) + 1)
            out.append(bytes(b[:i]) + rng.randbytes(rng.randint(1, 9)) + bytes(b[i:]))
        else:  # overwrite a window
            if len(b) > 8:
                i = rng.randrange(len(b) - 8)
                b[i : i + 8] = rng.randbytes(8)
            out.append(bytes(b))
    return out


@pytest.mark.parametrize(
    "name, payload, decoders",
    [
        (
            "jpeg_baseline",
            make_jpeg(18, 12, ROWS, subsample=2, restart_interval=2),
            (jpeg_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "jpeg_progressive",
            make_jpeg(18, 12, ROWS, progressive=True),
            (jpeg_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "gif",
            make_gif(18, 12, ROWS, interlace=True),
            (gif_parse_pixels, gif_frame_count, parse_image_dimensions,
             image_dhash_value),
        ),
        (
            "png_adam7",
            make_png_rows(18, 12, ROWS, filter_type=4, interlace=True),
            (png_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "png_palette",  # PLTE chunk: the seed the truncated-PLTE
            # crash hid behind (review-found)
            make_png_palette(
                18, 12,
                [[((x % 4) * 37, (y % 4) * 53, 0) for x in range(18)]
                 for y in range(12)],
                bit_depth=4,
            ),
            (png_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "bmp_rle8",
            make_bmp_palette(18, 12, ROWS, bpp=8, rle=True),
            (_bmp_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "bmp_rle4",
            make_bmp_palette(
                18, 12,
                [[((x % 4) * 60, (y % 4) * 50, 0) for x in range(18)]
                 for y in range(12)],
                bpp=4, rle=True,
            ),
            (_bmp_parse_pixels, parse_image_dimensions, image_dhash_value),
        ),
        (
            "wav_float",
            make_wav(
                8000, 1,
                samples=[math.sin(i / 9.0) for i in range(300)],
                float_fmt=True, extensible=True,
            ),
            (wav_pcm_stats, parse_wav_meta, lambda p: wav_resample(p, 4000)),
        ),
        (
            "skeletons",
            make_gif_header(9, 9),
            (parse_image_dimensions, parse_mp3_meta, parse_mp4_meta),
        ),
        (
            "mp4",
            make_mp4(320, 180, 48),
            (parse_mp4_meta, parse_image_dimensions),
        ),
        (
            "mp3",
            make_mp3(44100, 2, 7),
            (parse_mp3_meta, parse_image_dimensions),
        ),
    ],
)
def test_codec_fuzz_never_raises(name, payload, decoders):
    # crc32, NOT hash(): string hash() is randomized per process, which
    # made the mutant set differ between runs (one run found a crash a
    # previous green run had missed) — failures must reproduce
    import zlib

    rng = random.Random(zlib.crc32(name.encode()))
    assert any(d(payload) is not None for d in decoders), name  # sane base
    for mutant in _mutations(payload, rng, 400):
        for dec in decoders:
            dec(mutant)  # any return value is fine; raising is the bug


def test_dimension_bombs_rejected_fast():
    """A small payload whose header claims a multi-gigapixel canvas
    must return None in microseconds, BEFORE any raster allocation or
    inflate — the decompression-bomb guard (fuzz-found OOM: mutated
    dimension fields drove multi-GB allocations)."""
    import struct
    import time

    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_png_rows as _mpr,
    )

    rows = ROWS
    t0 = time.time()
    p = bytearray(_mpr(18, 12, rows))
    i = p.index(b"IHDR") + 4
    p[i : i + 8] = struct.pack(">II", 60000, 60000)
    assert png_parse_pixels(bytes(p)) is None
    g = bytearray(make_gif(18, 12, rows))
    g[6:10] = struct.pack("<HH", 65000, 65000)
    assert gif_parse_pixels(bytes(g)) is None
    j = bytearray(make_jpeg(18, 12, rows))
    i = j.index(b"\xff\xc0") + 5
    j[i : i + 4] = struct.pack(">HH", 65000, 65000)
    assert jpeg_parse_pixels(bytes(j)) is None
    b = bytearray(make_bmp_palette(18, 12, rows, bpp=8, rle=True))
    b[18:26] = struct.pack("<ii", 500000, 500000)
    assert _bmp_parse_pixels(bytes(b)) is None
    assert time.time() - t0 < 2.0  # rejection is header-time, not alloc-time


def test_png_inflate_amplification_rejected_fast():
    """A tiny IDAT whose header justifies a raster thousands of times
    larger must return None fast, BEFORE the inflate + pure-Python
    unfilter/pixel build — the time-amplification guard (the BMP RLE
    guard's sibling): MAX_DECODE_PIXELS bounds memory, not the
    multi-second scanline walk a crafted sub-cap header can demand.
    deflate's ceiling is ~1032:1, so >4096x is never a real PNG."""
    import struct
    import time

    from bb_bigdata_log_tools_spark.operators.multimodal import _png_chunk

    # 5000x5000 grayscale (25M px — UNDER MAX_DECODE_PIXELS) with a
    # 100-byte IDAT: justified raster ≈ 50 MB >> 4096 * 100 bytes.
    ihdr = struct.pack(">IIBBBBB", 5000, 5000, 8, 0, 0, 0, 0)
    p = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"\x00" * 100)
        + _png_chunk(b"IEND", b"")
    )
    t0 = time.time()
    assert png_parse_pixels(p) is None
    assert time.time() - t0 < 1.0


def test_boom_salvage_and_strict_fuzz_never_raises_or_hangs():
    """The salvage reader exists FOR corrupt input: mutants must never
    raise and must terminate (fuzz-found: negative varint lengths let
    pos move backward — an unbounded decode loop — before _Decoder
    grew strict bounds). The strict reader may raise ValueError-family
    errors but must also terminate."""
    import os
    import tempfile

    from bb_bigdata_log_tools_spark.sources.boom import (
        flatten_log_blocks,
        read_container,
        write_boom_local,
    )

    tmp = tempfile.mkdtemp()
    p = os.path.join(tmp, "t.bm")
    lines = [
        (s * 1000 + i, f"line s{s} i{i}", i) for s in range(4) for i in range(3)
    ]
    write_boom_local(p, lines)
    with open(p, "rb") as f:
        payload = f.read()
    rng = random.Random(4242)
    assert len(list(flatten_log_blocks(read_container(payload, salvage=True)))) == 12
    for mutant in _mutations(payload, rng, 300):
        list(read_container(mutant, salvage=True))  # the READER never raises
        try:
            # flattening may legitimately fail when a mutated header
            # yields a different valid schema — read_boom's salvage
            # branch wraps this in a file-level fallback
            list(flatten_log_blocks(read_container(mutant, salvage=True)))
        except Exception:
            pass
        try:
            list(flatten_log_blocks(read_container(mutant)))
        except Exception:
            pass  # strict path: raising is the contract; hanging is the bug
