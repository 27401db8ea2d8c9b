"""Pure-numpy kernels timed outside Spark on seeded arrays (traced run only).

Each figure is the median of a few repetitions, in items per second.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from marginaliasearch_spark.functions import blocks, codecs, tokenizer

REPS = 5


def _rate(n_items: int, fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_items / statistics.median(times)


def _postings(rng: np.random.Generator, n_terms: int = 64) -> pd.DataFrame:
    """Rows sorted by (term_id, doc_id), as the build feeds encode_blocks:
    a Zipf-like spread of list lengths, so head terms span many blocks."""
    lens = np.maximum(1, (20_000 / np.arange(1, n_terms + 1) ** 1.1).astype(np.int64))
    term_ids = np.repeat(np.arange(n_terms, dtype=np.int64), lens)
    # strictly increasing ids within each term: cumulative positive gaps
    doc_ids = np.concatenate(
        [np.cumsum(rng.geometric(1e-3, size=n)) for n in lens]
    ).astype(np.int64)
    tf = rng.geometric(0.5, size=term_ids.size).astype(np.int32)
    return pd.DataFrame(
        {
            "term_id": term_ids,
            "doc_id": doc_ids,
            "tf": tf,
            "wtf_q4": (4 * tf).astype(np.int32),
            "positions": [b""] * term_ids.size,
            "flags": np.zeros(term_ids.size, dtype=np.int32),
            "lang": "en",
            "tf_norm": tf / (tf + 1.2),
        }
    )


def kernel_rates(seed: int, texts: list[str]) -> dict[str, float]:
    rng = np.random.default_rng(seed)
    out = {}

    series = pd.Series(texts)
    n_tokens = int(tokenizer.tokenize_texts(series).map(len).sum())
    out["tokenizer.tokens_per_s"] = _rate(n_tokens, lambda: tokenizer.tokenize_texts(series))

    rows = _postings(rng)
    out["blocks.encode_postings_per_s"] = _rate(
        len(rows), lambda: list(blocks.encode_blocks(iter([rows])))
    )
    encoded = pd.concat(list(blocks.encode_blocks(iter([rows]))), ignore_index=True)
    decoded = sum(len(d) for d in blocks.decode_blocks(iter([encoded])))
    if decoded != len(rows):
        raise RuntimeError(f"decode_blocks returned {decoded} of {len(rows)} postings")
    out["blocks.decode_postings_per_s"] = _rate(
        decoded, lambda: list(blocks.decode_blocks(iter([encoded])))
    )

    values = rng.geometric(0.01, size=1_000_000).astype(np.uint64)
    vb = codecs.varbyte_encode(values)
    if not np.array_equal(codecs.varbyte_decode(vb), values):
        raise RuntimeError("varbyte round trip differs")
    out["codecs.varbyte_decode_values_per_s"] = _rate(
        values.size, lambda: codecs.varbyte_decode(vb)
    )
    gb = codecs.gamma_encode(values)
    if not np.array_equal(codecs.gamma_decode(gb, values.size), values):
        raise RuntimeError("gamma round trip differs")
    out["codecs.gamma_decode_values_per_s"] = _rate(
        values.size, lambda: codecs.gamma_decode(gb, values.size)
    )
    return out
