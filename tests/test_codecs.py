"""Codec roundtrip + fuzz tests.

Mirrors the reference's test strategy for its compressed structures:
encode→decode roundtrips and seeded randomized fuzzing against brute force
(cf. reference skiplist fuzz tests, SkipListFuzzTests.java:74-260, and
VarintCodedSequenceTest.java).
"""

import numpy as np
import pytest

from marginaliasearch_spark.functions.codecs import (
    decode_positions,
    decode_sorted,
    delta_decode,
    delta_encode,
    encode_positions,
    encode_sorted,
    varbyte_decode,
    varbyte_encode,
    varbyte_encode_with_offsets,
)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_varbyte_known_values():
    # 0 and 127 fit one byte; 128 needs two
    assert varbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varbyte_encode(np.array([1], dtype=np.uint64)) == b"\x01"
    assert varbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    out = varbyte_decode(b"\x80\x01\x7f\x00")
    assert out.tolist() == [128, 127, 0]


@pytest.mark.parametrize("seed", range(8))
def test_varbyte_fuzz_roundtrip(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    # mix of magnitudes incl. >2^56 (forces 9-10 byte varints)
    exp = (63 - rng.integers(0, 64, size=n)).astype(np.uint64)
    vals = rng.integers(0, 2**63 - 1, size=n).astype(np.uint64) >> exp
    buf = varbyte_encode(vals)
    out = varbyte_decode(buf)
    np.testing.assert_array_equal(out, vals)


def test_varbyte_max_u64():
    vals = np.array([2**64 - 1, 2**63, 2**57 - 1], dtype=np.uint64)
    np.testing.assert_array_equal(varbyte_decode(varbyte_encode(vals)), vals)


@pytest.mark.parametrize("seed", range(8))
def test_delta_sorted_roundtrip(seed):
    rng = np.random.default_rng(100 + seed)
    n = int(rng.integers(1, 3000))
    vals = np.sort(rng.choice(2**40, size=n, replace=False)).astype(np.uint64)
    np.testing.assert_array_equal(decode_sorted(encode_sorted(vals)), vals)
    np.testing.assert_array_equal(delta_decode(delta_encode(vals)), vals)


@pytest.mark.parametrize("seed", range(8))
def test_positions_block_roundtrip(seed):
    rng = np.random.default_rng(200 + seed)
    n_docs = int(rng.integers(1, 500))
    lists = []
    for _ in range(n_docs):
        k = int(rng.integers(0, 30))
        # strictly increasing, 1-based (reference uses 1-based positions,
        # DocumentPositionMapper.java:64-68)
        p = np.sort(rng.choice(np.arange(1, 10000), size=k, replace=False)).astype(
            np.uint64
        )
        lists.append(p)
    buf = encode_positions(lists)
    counts = np.array([len(p) for p in lists], dtype=np.uint64)
    flat = decode_positions(buf, counts)
    expect = (
        np.concatenate(lists) if any(len(p) for p in lists) else np.empty(0, np.uint64)
    )
    np.testing.assert_array_equal(flat, expect)


def test_positions_flat_input():
    counts = np.array([2, 0, 3], dtype=np.uint64)
    flat = np.array([1, 5, 2, 4, 9], dtype=np.uint64)
    buf = encode_positions(flat, counts=counts)
    f = decode_positions(buf, counts)
    np.testing.assert_array_equal(f, flat)


def test_positions_all_empty():
    buf = encode_positions([np.empty(0, np.uint64)] * 4)
    assert buf == b""
    f = decode_positions(buf, np.zeros(4, dtype=np.uint64))
    assert f.size == 0


def test_positions_concat_equals_block_encode():
    """Byte concatenation of per-doc runs == one-shot block encode (the
    invariant the journal→block pipeline relies on)."""
    lists = [
        np.array([1, 4, 9], dtype=np.uint64),
        np.array([2], dtype=np.uint64),
        np.array([3, 7], dtype=np.uint64),
    ]
    whole = encode_positions(lists)
    per_doc = b"".join(encode_positions([p]) for p in lists)
    assert whole == per_doc


def test_varbyte_offsets_slicing():
    vals = np.array([0, 127, 128, 2**40, 5], dtype=np.uint64)
    buf, offs = varbyte_encode_with_offsets(vals)
    assert offs[0] == 0 and offs[-1] == len(buf)
    for i, v in enumerate(vals):
        piece = buf[offs[i] : offs[i + 1]]
        assert varbyte_decode(piece).tolist() == [int(v)]


# --- split-stream Elias gamma (priority-tier doc-id codec) -----------------


def _gamma_bits_reference(v: int) -> str:
    """Interleaved textbook gamma code of one value, as a bit string."""
    b = bin(v)[2:]
    return "0" * (len(b) - 1) + b


def test_gamma_density_matches_textbook_gamma():
    """The split-stream layout spends EXACTLY the textbook gamma bit count
    (sum of 2*floor(log2 v)+1), plus byte padding + the 4-byte header."""
    from marginaliasearch_spark.functions.codecs import gamma_encode

    rng = np.random.default_rng(17)
    v = rng.integers(1, 1 << 20, size=500, dtype=np.uint64)
    code_bits = sum(len(_gamma_bits_reference(int(x))) for x in v)
    unary_bits = sum(int(x).bit_length() for x in v)
    payload_bits = code_bits - unary_bits
    expect = 4 + (unary_bits + 7) // 8 + (payload_bits + 7) // 8
    assert len(gamma_encode(v)) == expect


@pytest.mark.parametrize("seed", range(8))
def test_gamma_fuzz_roundtrip(seed):
    from marginaliasearch_spark.functions.codecs import (
        gamma_decode,
        gamma_encode,
    )

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 400))
    hi = 1 << int(rng.integers(1, 64))
    v = rng.integers(1, hi, size=n, dtype=np.uint64)
    np.testing.assert_array_equal(gamma_decode(gamma_encode(v), n), v)


def test_gamma_single_bits_and_extremes():
    from marginaliasearch_spark.functions.codecs import (
        gamma_decode,
        gamma_encode,
    )

    for vals in ([1], [1, 1, 1], [2**63], [1, 2**63 - 1, 1, 2**62]):
        a = np.array(vals, dtype=np.uint64)
        np.testing.assert_array_equal(gamma_decode(gamma_encode(a), a.size), a)
    with pytest.raises(ValueError):
        gamma_encode(np.array([0], dtype=np.uint64))


def test_gamma_concat_multiblock():
    """Batch decode over many blocks — including empty ones — equals
    per-block decode; corrupt counts are detected."""
    from marginaliasearch_spark.functions.codecs import (
        gamma_decode_concat,
        gamma_encode,
    )

    rng = np.random.default_rng(23)
    blocks = [
        rng.integers(1, 1 << 40, size=int(rng.integers(0, 200)), dtype=np.uint64)
        for _ in range(40)
    ]
    bufs = [gamma_encode(b) for b in blocks]
    counts = np.array([b.size for b in blocks])
    got = gamma_decode_concat(bufs, counts)
    np.testing.assert_array_equal(
        got, np.concatenate([b for b in blocks if b.size] or [np.empty(0, np.uint64)])
    )
    with pytest.raises(ValueError):
        gamma_decode_concat(bufs, counts + 1)


def test_encode_sorted_gamma_roundtrip_with_zero_lead():
    """Doc-id path: leading absolute value may be 0 (the +1 shift)."""
    from marginaliasearch_spark.functions.codecs import (
        encode_sorted_gamma,
        gamma_decode,
    )

    ids = np.array([0, 1, 5, 5 + (1 << 57), 2**63], dtype=np.uint64)
    deltas = gamma_decode(encode_sorted_gamma(ids), ids.size) - np.uint64(1)
    np.testing.assert_array_equal(np.cumsum(deltas, dtype=np.uint64), ids)


def test_decode_blocks_identical_across_docid_codecs(spark):
    """encode_blocks/decode_blocks give identical decoded rows whether the
    doc-id codec is forced varbyte, forced gamma, or adaptive — the tagged
    payload makes the decode side self-describing."""
    import pandas as pd

    from marginaliasearch_spark.functions.blocks import (
        decode_blocks,
        encode_blocks,
    )

    rng = np.random.default_rng(31)
    rows = []
    # term 7: sparse 40-bit ids (varbyte territory); term 11: dense
    # consecutive-ish ids (gamma territory) — 'auto' must mix codecs
    ids_sparse = np.unique(rng.integers(0, 1 << 40, size=600, dtype=np.uint64))
    ids_dense = np.cumsum(rng.integers(1, 4, size=600, dtype=np.uint64))
    for term, ids in ((7, ids_sparse), (11, ids_dense)):
        for d in ids:
            rows.append((term, int(d), 1 + int(d) % 5, 4, b"", 0, 0.25))
    pdf = pd.DataFrame(
        rows,
        columns=["term_id", "doc_id", "tf", "wtf_q4", "positions", "flags",
                 "tf_norm"],
    ).sort_values(["term_id", "doc_id"], ignore_index=True)

    def run(codec):
        blocks = pd.concat(
            list(encode_blocks(iter([pdf]), block_docs=128, docid_codec=codec))
        )
        dec = pd.concat(
            list(decode_blocks(iter([blocks])))
        ).reset_index(drop=True)
        return blocks, dec

    blocks_auto, dec_auto = run("auto")
    tags = {b[0] for b in blocks_auto["doc_ids"]}
    assert tags == {0, 1}, "auto should pick varbyte AND gamma across blocks"
    for codec in ("varbyte", "gamma"):
        _, dec = run(codec)
        pd.testing.assert_frame_equal(dec, dec_auto)


def test_encode_sorted_tagged_picks_smaller():
    """The adaptive choice is by exact encoded size."""
    from marginaliasearch_spark.functions.codecs import encode_sorted_tagged

    dense = np.cumsum(np.full(512, 2, dtype=np.uint64))
    sparse = np.cumsum(np.full(512, 1 << 50, dtype=np.uint64))
    for ids in (dense, sparse):
        auto = encode_sorted_tagged(ids, "auto")
        forced = [
            encode_sorted_tagged(ids, c) for c in ("varbyte", "gamma")
        ]
        assert len(auto) == min(len(b) for b in forced)
    assert encode_sorted_tagged(dense, "auto")[0] == 1  # gamma
    assert encode_sorted_tagged(sparse, "auto")[0] == 0  # varbyte


def test_decode_blocks_null_positions_rows_skip_position_decode():
    """Blocks whose positions are null (terms that need none, in a scan
    shared with terms that do) or empty (the prio tier stores b"") decode
    to null position lists, and every other row decodes exactly as in an
    all-positions decode — with and without a candidate or reject mask."""
    import pandas as pd

    from marginaliasearch_spark.functions.blocks import (
        decode_blocks,
        encode_blocks,
    )
    from marginaliasearch_spark.functions.codecs import varbyte_encode

    rng = np.random.default_rng(7)
    rows = []
    for term in (3, 5, 9):
        for d in np.unique(rng.integers(0, 1 << 20, size=30, dtype=np.uint64)):
            tf = 1 + int(d) % 4
            pos = np.sort(rng.choice(200, size=tf, replace=False)).astype(np.uint64)
            rows.append((term, int(d), tf, tf * 4,
                         varbyte_encode(np.diff(pos, prepend=np.uint64(0))), 1, 0.5))
    pdf = pd.DataFrame(
        rows,
        columns=["term_id", "doc_id", "tf", "wtf_q4", "positions", "flags",
                 "tf_norm"],
    ).sort_values(["term_id", "doc_id"], ignore_index=True)
    blocks = pd.concat(list(encode_blocks(iter([pdf]), block_docs=8)))
    variants = []
    for fill, terms in ((None, {5}), (b"", {3, 5, 9})):
        v = blocks.copy()
        v["positions"] = v["positions"].where(~v["term_id"].isin(terms), fill)
        variants.append((v, terms))
    # a prio-tier batch whose scan nulls one term's positions
    v = variants[-1][0].copy()
    v["positions"] = v["positions"].where(v["term_id"] != 5, None)
    variants.append((v, {3, 5, 9}))
    ids = np.sort(pdf["doc_id"].to_numpy().astype(np.uint64))
    masks = [(None, None), (ids[::3], None), (None, ids[1::5]),
             (ids[::3], ids[::6])]
    for c, r in masks:
        full = pd.concat(list(decode_blocks(
            iter([blocks]), True, candidates=c, reject=r)))
        if r is not None:
            assert not full["doc_id"].isin(r.astype(np.int64)).any()
        for v, terms in variants:
            got = pd.concat(list(decode_blocks(
                iter([v]), True, candidates=c, reject=r)))
            assert len(got) == len(full)
            for f, g in zip(full.itertuples(), got.itertuples()):
                assert (f.term_id, f.doc_id, f.tf) == (g.term_id, g.doc_id, g.tf)
                if f.term_id in terms:
                    assert g.positions is None
                else:
                    assert list(g.positions) == list(f.positions)
