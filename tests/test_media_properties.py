"""Property tests (hypothesis) for the FLAC codec: any sample sequence
the encoder accepts must round-trip through the decoder exactly."""

from hypothesis import given, settings
from hypothesis import strategies as st

from marginaliasearch_spark.operators import multimodal as mm

# --- FLAC: any sample sequence the encoder accepts must survive the
# decoder bit-exactly (RFC 9639 losslessness), across subframe types ---

SAMPLES16 = st.lists(st.integers(-32768, 32767), min_size=5, max_size=120)


@settings(max_examples=40, deadline=None)
@given(samples=SAMPLES16, order=st.integers(0, 4))
def test_flac_fixed_escape_roundtrip_property(samples, order):
    import numpy as np

    s = np.array(samples, dtype=np.int16)
    out, rate = mm.decode_flac(mm.encode_flac(s, order, escape_raw=True))
    assert (out == s).all()


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(st.integers(-2000, 2000), min_size=5, max_size=120),
    order=st.integers(0, 1),
)
def test_flac_rice_roundtrip_property(samples, order):
    # rice-coded partitions (param capped at 14): bounded amplitude keeps
    # low-order residual quotients sane; escape handling covered above
    import numpy as np

    s = np.array(samples, dtype=np.int16)
    out, _ = mm.decode_flac(mm.encode_flac(s, order, escape_raw=False))
    assert (out == s).all()


@settings(max_examples=30, deadline=None)
@given(
    samples=SAMPLES16,
    coefs=st.lists(st.integers(-16, 16), min_size=1, max_size=4),
    shift=st.integers(0, 4),
)
def test_flac_lpc_roundtrip_property(samples, coefs, shift):
    import numpy as np

    s = np.array(samples, dtype=np.int16)
    payload = mm.encode_flac(s, 0, escape_raw=True, lpc=(coefs, shift))
    out, _ = mm.decode_flac(payload)
    assert (out == s).all()


@settings(max_examples=30, deadline=None)
@given(
    left=SAMPLES16,
    right=SAMPLES16,
    mode=st.sampled_from(["left_side", "right_side", "mid_side"]),
)
def test_flac_stereo_roundtrip_property(left, right, mode):
    import numpy as np

    n = min(len(left), len(right))
    l = np.array(left[:n], dtype=np.int16)
    r = np.array(right[:n], dtype=np.int16)
    out, _ = mm.decode_flac(mm.encode_flac_stereo(l, r, mode))
    assert (out == l).all()
