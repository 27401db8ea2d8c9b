"""Mutation-fuzz every pure-Python media decoder at the public API
boundary: ONLY (ValueError, NotImplementedError) may escape — anything
else is the job-killer class that evades the per-item skip allowlist
(see multimodal._malformed_to_valueerror) — and no single decode may
exceed the 5 s watchdog (poison-pill DoS: corrupted size/count/dim
fields driving unbounded loops or multi-GB allocations).

Round-5 findings, all fixed: PNG zlib.error escape; MKV EBML-vint
IndexError on truncation (that parser has since been removed); TIFF IFD
count DoS (+ dim bomb; the TIFF decoder has since been removed); GIF
logical-screen/frame dim bombs; JPEG SOF dim
bomb (shields MJPEG AVI); AVI LIST size-past-payload scan spin; AIFF ext80 exponent
OverflowError (the audio decoders have since been removed); plus boundary
normalization of parse accidents. A review
pass then found the DELETION mutation was a no-op (`del b[i:][:n]`
deletes from a slice copy) — with real truncation mutations enabled and
the GIF aggregate-pixel budget + tightened JPEG/TIFF caps in place, the
final record is 27,000 mutations across the format seeds, 0 escapes,
0 slow (that run also covered the since-removed MP3/Opus metadata
walkers, audio decoders and the TIFF decoder).

Run: python tools/fuzz_decoders.py   (~8 min)
"""
import random, signal, sys
sys.path.insert(0, __import__("os").path.join(__import__("os").path.dirname(__file__), ".."))
sys.setrecursionlimit(1100)
import numpy as np
from marginaliasearch_spark.operators import multimodal as mm

rng = random.Random(99)
img = np.arange(16*16*3, dtype=np.uint8).reshape(16,16,3)
idx = (np.arange(256, dtype=np.uint8).reshape(16,16) % 8)
pal = (np.arange(24, dtype=np.uint8).reshape(8,3) * 10)
coeffs = np.zeros((2,2,3,64), np.int64); coeffs[...,0] = 5
qt = np.ones(64, np.int64) * 4

def mk(name, fn):
    try: return [(name, bytes(fn()))]
    except Exception as e:
        print("seed skip", name, type(e).__name__, str(e)[:60]); return []

S = []
S += mk("gif", lambda: mm.encode_gif(idx, pal))
S += mk("gif_anim", lambda: mm.encode_gif_animation([(0,0,idx)]*3, pal, (16,16), delays=[10]*3))
S += mk("jpeg", lambda: mm.encode_jpeg(coeffs, 16, 16, qt))
S += mk("jpeg_prog", lambda: mm.encode_jpeg_progressive(coeffs, 16, 16, qt))
S += mk("avi", lambda: mm.encode_avi_mjpeg([mm.encode_jpeg(coeffs, 16, 16, qt)]*3, fps=10, w=16, h=16))
S += mk("ppm", lambda: mm.encode_ppm(img) if hasattr(mm, "encode_ppm") else (_ for _ in ()).throw(AttributeError()))
S += mk("bmp", lambda: mm.encode_bmp(img) if hasattr(mm, "encode_bmp") else (_ for _ in ()).throw(AttributeError()))
print("seeds:", [n for n, _ in S])

class Timeout(Exception): pass
signal.signal(signal.SIGALRM, lambda s, f: (_ for _ in ()).throw(Timeout()))
DEC = ["decode_image","decode_video"]
bad = slow = total = 0
esc = {}
for name, payload in S:
    for trial in range(300):
        b = bytearray(payload)
        for _ in range(rng.randint(1, 6)):
            op = rng.random()
            if op < 0.5 and len(b) > 1:
                b[rng.randrange(len(b))] = rng.randrange(256)
            elif op < 0.75 and len(b) > 8:
                i = rng.randrange(len(b) - 4)
                del b[i : i + rng.randint(1, 4)]
            else:
                pos = rng.randrange(len(b)+1)
                b[pos:pos] = bytes(rng.randrange(256) for _ in range(rng.randint(1,4)))
        mut = bytes(b)
        for dec in DEC:
            total += 1
            signal.alarm(5)
            try:
                getattr(mm, dec)(mut)
            except (ValueError, NotImplementedError):
                pass
            except Timeout:
                slow += 1
                fn = f"/tmp/fuzz_slow_{name}_{trial}_{dec}.bin"
                open(fn, "wb").write(mut)
                print("SLOW", name, trial, dec)
            except Exception as e:
                key = (name, dec, type(e).__name__)
                bad += 1
                if esc.setdefault(key, 0) == 0:
                    fn = f"/tmp/fuzz_esc_{name}_{trial}_{dec}.bin"
                    open(fn, "wb").write(mut)
                    print("ESCAPE", name, dec, type(e).__name__, str(e)[:70], fn)
                esc[key] += 1
            finally:
                signal.alarm(0)
print(f"{total} attempts, {bad} escapes, {slow} slow")
for k, v in sorted(esc.items(), key=lambda t: -t[1]): print(v, k)
