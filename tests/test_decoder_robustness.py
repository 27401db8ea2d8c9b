"""Decoder boundary policy: corrupted payloads raise ONLY the allowlisted
(ValueError, NotImplementedError) and decode in bounded time.

Deterministic slice of the full mutation fuzz (tools/fuzz_decoders.py —
27k mutations, 0 escapes/0 slow on the round-5 tree): a fixed seed and
~40 mutations per format keep this fast enough for the suite while
pinning the `_malformed_to_valueerror` boundary, the dimension/count
bomb guards (GIF screen/frame, JPEG SOF) and the AVI
size-past-payload clamp."""

import random
import signal

import numpy as np
import pytest

from marginaliasearch_spark.operators import multimodal as mm

IMG = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
IDX = (np.arange(256, dtype=np.uint8).reshape(16, 16) % 8)
PAL = (np.arange(24, dtype=np.uint8).reshape(8, 3) * 10)
COEF = np.zeros((2, 2, 3, 64), np.int64)
COEF[..., 0] = 5
QT = np.ones(64, np.int64) * 4


def _seeds():
    return [
        ("png", mm.encode_png(IMG)),
        ("gif", mm.encode_gif(IDX, PAL)),
        ("jpeg", mm.encode_jpeg(COEF, 16, 16, QT)),
        ("avi", mm.encode_avi_mjpeg(
            [mm.encode_jpeg(COEF, 16, 16, QT)] * 2, fps=10, w=16, h=16)),
    ]


class _Watchdog(Exception):
    pass


@pytest.mark.parametrize("name,payload", _seeds())
def test_mutated_payloads_stay_in_the_allowlist(name, payload):
    # crc32, not hash(): str hashing is randomized per process, and a
    # per-run mutation stream makes any failure unreproducible (the
    # repo's reproducible-test-seeds convention)
    import zlib

    rng = random.Random(zlib.crc32(name.encode()))
    payload = bytes(payload)
    decoders = ["decode_image", "decode_video"]
    signal.signal(signal.SIGALRM,
                  lambda s, f: (_ for _ in ()).throw(_Watchdog()))
    try:
        for _ in range(40):
            b = bytearray(payload)
            for _ in range(rng.randint(1, 6)):
                op = rng.random()
                if op < 0.5 and len(b) > 1:
                    b[rng.randrange(len(b))] = rng.randrange(256)
                elif op < 0.75 and len(b) > 8:
                    # delete IN PLACE: `del b[i:][:n]` would delete from
                    # a temporary slice copy and silently no-op the whole
                    # truncation mutation class
                    i = rng.randrange(len(b) - 4)
                    del b[i : i + rng.randint(1, 4)]
                else:
                    pos = rng.randrange(len(b) + 1)
                    b[pos:pos] = bytes(
                        rng.randrange(256) for _ in range(rng.randint(1, 4)))
            mut = bytes(b)
            for dec in decoders:
                signal.alarm(10)
                try:
                    getattr(mm, dec)(mut)
                except (ValueError, NotImplementedError):
                    pass
                # _Watchdog or any other exception type fails the test
                finally:
                    signal.alarm(0)
    finally:
        signal.alarm(0)


def test_gif_screen_bomb_raises_valueerror():
    p = bytearray(mm.encode_gif(IDX, PAL))
    p[6:10] = b"\xff\xff\xff\xff"  # logical screen 65535x65535
    with pytest.raises(ValueError, match="unreasonable"):
        mm.decode_image(bytes(p))


def test_jpeg_sof_bomb_raises_valueerror():
    p = bytearray(mm.encode_jpeg(COEF, 16, 16, QT))
    i = p.find(b"\xff\xc0")
    assert i > 0
    p[i + 5 : i + 9] = b"\xff\xff\xff\xff"  # SOF h=w=65535
    with pytest.raises(ValueError, match="unreasonable"):
        mm.decode_image(bytes(p))


def test_gif_animation_pixel_budget():
    """Many frames on a large canvas must hit the AGGREGATE budget — a
    per-frame guard alone still lets frame stacking OOM an executor."""
    idx = np.zeros((1, 1), np.uint8)
    frames = [(0, 0, idx)] * 300
    p = bytearray(
        mm.encode_gif_animation(frames, PAL, (4096, 4096)))
    with pytest.raises(ValueError, match="budget"):
        mm._decode_gif_frames(bytes(p))
