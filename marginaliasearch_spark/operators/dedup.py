"""Deduplication operators over a ``documents(doc_id, text, ...)`` table.

Large-scale training-data pipeline ops, each designed around one shuffle:

- ``exact_dedup``          — hash-groupBy on normalized text (exact dups);
- ``jaccard_candidates``   — token-inverted-index self-join → word-set
                             Jaccard ≥ τ pairs (exact, index-pruned);
- ``minhash_lsh_pairs``    — shingle → minhash → band-bucket join (approx,
                             the 100 TB path: candidates meet only in
                             band buckets, never all-pairs);
- ``simhash_pairs``        — 64-bit simhash + banded hamming join.

All hashing is deterministic (splitmix64 over xxhash-style mixes) and all
row-level work is numpy inside ``mapInPandas``/``pandas_udf`` — with one
deliberate exception: ``_md5_u64_tokens`` loops over the batch's *unique*
tokens (O(vocab) per batch, not O(rows)) because md5 keeps the token
hashes re-computable in the DuckDB oracle SQL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.tokenizer import MAX_RAW_TOKEN_LENGTH, SIMPLE_SPLIT_RE


def _spread(df: DataFrame, cols: list[str]) -> DataFrame:
    """Round-robin the selected columns across the cluster when the source
    has fewer partitions than cores — a small driver-tables parquet is one
    row group, which would pin the heavy hash kernels to a single task.
    At real scale the input already has >= cores partitions and this is a
    no-op (results are partitioning-invariant either way — tested)."""
    sel = df.select(*cols)
    defp = df.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < defp:
        sel = sel.repartition(defp)
    return sel


def simple_tokens_col(text_col: str = "text") -> F.Column:
    """The SQL-expressible 'simple' tokenizer as a JVM column expression
    (shared spec with the DuckDB oracle — see tokenizer.SIMPLE_SPLIT_RE)."""
    toks = F.split(F.lower(F.col(text_col)), SIMPLE_SPLIT_RE)
    return F.filter(
        toks, lambda t: (t != "") & (F.length(t) < MAX_RAW_TOKEN_LENGTH)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the smallest doc_id per exact normalized-text group.

    One hash aggregation; at 100 TB, group on a digest (md5) rather than the
    text itself so shuffle rows are ~32 bytes.
    """
    return (
        docs.select("doc_id", F.md5(F.lower(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select("doc_id", "n_dups")
    )


def jaccard_candidates(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    max_df: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact word-set Jaccard ≥ threshold pairs via inverted-index join.

    docs × docs is never materialized: pairs meet through shared tokens
    (posting-list self-join), the same access path the search index uses.
    ``max_df`` drops ubiquitous tokens from candidate generation — the skew
    guard (a stop-word token would otherwise create df² candidate pairs) —
    while Jaccard itself is still computed on full token sets.

    ``prefix_filter`` (default) applies the classic exact prefix filter from
    the set-similarity-join literature (cf. Adaptive Top-k Overlap Set
    Similarity Joins, ICDE 2020): with tokens globally ordered rarest-first,
    two sets with Jaccard ≥ τ MUST share a token among each one's first
    ``|s| - ceil(τ|s|) + 1`` tokens, so only those prefixes join — the
    self-join cost drops from Σ df² over all tokens to Σ df² over rare
    prefix tokens. A size filter (τ|a| ≤ |b| ≤ |a|/τ) prunes further. Both
    filters only discard pairs that provably cannot reach τ, so the result
    is identical to the unfiltered join.
    """
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(simple_tokens_col(text_col))).alias("tok")
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    tok_f = tok
    if max_df is not None:
        dfc = tok.groupBy("tok").agg(F.count("*").alias("df"))
        tok_f = tok.join(dfc.filter(F.col("df") <= max_df), "tok")

    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))

    if prefix_filter:
        dfc_all = tok.groupBy("tok").agg(F.count("*").alias("tok_df"))
        ranked = (
            tok_f.join(dfc_all, "tok")
            .join(sizes, "doc_id")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("tok_df", "tok")
                ),
            )
            .filter(
                F.col("rn")
                <= F.col("set_size")
                - F.ceil(F.lit(threshold) * F.col("set_size"))
                + 1
            )
            .select("doc_id", "tok", "set_size")
        )
        pa_ = ranked.select(
            F.col("doc_id").alias("doc_a"), "tok", F.col("set_size").alias("size_a")
        )
        pb_ = ranked.select(
            F.col("doc_id").alias("doc_b"), "tok", F.col("set_size").alias("size_b")
        )
        pairs = (
            pa_.join(pb_, "tok")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.col("size_b") >= threshold * F.col("size_a"))
                & (F.col("size_b") <= F.col("size_a") / threshold)
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        # verification: exact intersection counts for candidate pairs only
        inter = (
            pairs.join(tok.select(F.col("doc_id").alias("doc_a"), "tok"), "doc_a")
            .join(
                tok.select(F.col("doc_id").alias("doc_b"), "tok"),
                ["doc_b", "tok"],
                "inner",
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = tok_f.select(F.col("doc_id").alias("doc_a"), "tok")
        b = tok_f.select(F.col("doc_id").alias("doc_b"), "tok")
        cand_pairs = (
            a.join(b, "tok")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        # verification counts over the FULL token relation (not tok_f), so
        # max_df only prunes candidate *generation* — both branches return
        # the same jaccard values and pair sets for any pair they emit
        inter = (
            cand_pairs.join(
                tok.select(F.col("doc_id").alias("doc_a"), "tok"), "doc_a"
            )
            .join(
                tok.select(F.col("doc_id").alias("doc_b"), "tok"),
                ["doc_b", "tok"],
                "inner",
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- MinHash + LSH ---------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _md5_u64_tokens(tokens: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit hash (first 8 md5 bytes, big-endian) of an
    object array of strings — called on *unique* tokens only (post
    dictionary-encode), so the per-batch Python cost is O(vocab), not
    O(corpus). md5 is the one cryptographic hash DuckDB ships, which is
    what lets the LSH correctness oracles recompute the identical shingle
    hashes in pure SQL (sql64.md5_u64)."""
    out = np.empty(tokens.size, dtype=np.uint64)
    for i, tok in enumerate(tokens):
        out[i] = int.from_bytes(
            hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
        )
    return out


# distinct odd multipliers per shingle slot (order-sensitive window mix)
_SHINGLE_MIX = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x27D4EB2F165667C5,
     0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D, 0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53],
    dtype=np.uint64,
)


def _shingle_hashes_batch(
    texts: pd.Series, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Whitespace-tokenize a batch → (flat shingle hashes, per-doc counts).

    Tokenization runs in pyarrow compute (``utf8_lower`` +
    ``utf8_split_whitespace`` — C++, off the GIL), string hashing happens
    per *unique* token (dictionary-encode), and a shingle's hash is an
    order-sensitive mix of its window's token hashes (no per-shingle
    string building). Docs shorter than ``width`` contribute one
    truncated-window shingle; empty docs contribute none.
    """
    n_docs = len(texts)
    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    toks = pc.utf8_split_whitespace(pc.utf8_lower(arr))
    offsets = toks.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat_all = toks.flatten()
    # arrow's split keeps ''-tokens at leading/trailing whitespace;
    # Python's str.split() (and the SQL oracle's list_filter) drop them
    keep = pc.not_equal(flat_all, "")
    keep_np = keep.to_numpy(zero_copy_only=False)
    cs = np.zeros(len(flat_all) + 1, dtype=np.int64)
    np.cumsum(keep_np, out=cs[1:])
    lens = cs[offsets[1:]] - cs[offsets[:-1]]
    if int(lens.sum()) == 0:
        return np.empty(0, np.uint64), np.zeros(n_docs, np.int64)
    de = flat_all.filter(keep).dictionary_encode()
    codes = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = np.asarray(de.dictionary.to_pylist(), dtype=object)
    th = _md5_u64_tokens(uniques)[codes]
    doc_bounds = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=doc_bounds[1:])
    doc_idx = np.repeat(np.arange(n_docs), lens)
    # a window starting at flat index s is valid if it fits inside s's doc;
    # docs with 0 < len < width get one truncated window at their start
    n_sh = np.where(lens > 0, np.maximum(lens - width + 1, 1), 0)
    mixed = th * _SHINGLE_MIX[0]
    for k in range(1, width):
        contrib = np.zeros_like(th)
        contrib[: th.size - k] = th[k:] * _SHINGLE_MIX[k % len(_SHINGLE_MIX)]
        # zero the contribution where slot k crosses a doc boundary
        # (only matters for truncated windows of short docs)
        cross = doc_idx.copy()
        cross[: th.size - k] = doc_idx[k:]
        contrib[cross != doc_idx] = 0
        mixed += contrib
    sh_all = _splitmix64(mixed)
    # window start s (global) is valid iff s - doc_start < n_sh[doc]
    offset_in_doc = np.arange(th.size) - doc_bounds[:-1][doc_idx]
    start_ok = offset_in_doc < n_sh[doc_idx]
    return sh_all[start_ok], n_sh


def minhash_params(
    num_hashes: int = 64, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """The (odd multiplier, xor mask) permutation family, seeded — shared
    between ``minhash_signatures`` and the DuckDB oracle generator so both
    sides compute bit-identical signatures."""
    rng = np.random.default_rng(seed)
    mults = (
        rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)
    ) | np.uint64(1)
    seeds = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return mults, seeds


MINHASH_EMPTY_SENTINEL = np.iinfo(np.int64).max


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    shingle_width: int = 3,
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """doc_id → array<long> minhash signature (shingle → k permutations).

    Permutation k is ``splitmix64((h * a_k) ^ b_k)`` (odd multiplier + xor
    mask from a seeded RNG) — deterministic across runs/parallelism, and
    empirically unbiased on structured shingle hashes where a plain
    xor-seed family correlates across permutations. The min over a doc's
    shingles is one ``np.minimum.reduceat`` per permutation (no per-doc
    Python).
    """
    mults, seeds = minhash_params(num_hashes, seed)
    empty_sig = np.full(num_hashes, MINHASH_EMPTY_SENTINEL, dtype=np.int64)

    def sig_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sh, counts = _shingle_hashes_batch(pdf[text_col], shingle_width)
            n_docs = len(pdf)
            sig = np.tile(empty_sig, (n_docs, 1))
            nz = counts > 0
            if sh.size:
                starts = np.zeros(n_docs + 1, np.int64)
                np.cumsum(counts, out=starts[1:])
                nz_starts = starts[:-1][nz]
                for k in range(num_hashes):
                    vals = _splitmix64((sh * mults[k]) ^ seeds[k]) >> np.uint64(
                        1
                    )  # int64-safe
                    sig[nz, k] = np.minimum.reduceat(vals, nz_starts).astype(
                        np.int64
                    )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "signature": list(sig)}
            )

    return _spread(docs, ["doc_id", text_col]).mapInPandas(
        sig_batch, schema="doc_id long, signature array<long>"
    )


def _banded(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature relation into (doc_id, signature, band, bucket)
    rows — one xxhash64 bucket key per band slice."""
    return sig.select(
        "doc_id",
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        i * rows_per_band + 1,
                        rows_per_band,
                    ).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )


def _sig_agreement(pairs: DataFrame, num_hashes: int, threshold: float) -> DataFrame:
    """(doc_a, doc_b, sig_a, sig_b) → pairs whose component-agreement
    fraction clears the threshold."""
    agree = F.size(
        F.filter(
            F.zip_with(
                F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")
            ),
            lambda v: v == 1,
        )
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(num_hashes)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_lsh_pairs_between(
    docs_a: DataFrame,
    docs_b: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_width: int = 3,
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Cross-corpus near-dup pairs: documents of ``docs_a`` similar to
    documents of ``docs_b`` — the dedup shape of DELTA INGESTION (a new
    crawl is deduped against the existing training corpus before being
    merged in; self-pairs within either corpus are deliberately not
    emitted). Companion to ``index_build.merge_indexes``.

    Same banded-LSH mechanics (and the same pigeonhole losslessness bound,
    see :func:`minhash_lsh_pairs`) — but the band join is a_side × b_side,
    so a small delta side stays broadcastable and the base corpus is never
    self-joined. Identical documents appearing in both corpora ARE
    reported (est_jaccard 1.0): that's the duplicate delta ingestion wants
    to drop.
    """
    rows_per_band = num_hashes // bands
    a = _banded(
        minhash_signatures(docs_a, num_hashes, shingle_width, text_col, seed),
        bands,
        rows_per_band,
    ).select(
        F.col("doc_id").alias("doc_a"),
        F.col("signature").alias("sig_a"),
        "band",
        "bucket",
    )
    b = _banded(
        minhash_signatures(docs_b, num_hashes, shingle_width, text_col, seed),
        bands,
        rows_per_band,
    ).select(
        F.col("doc_id").alias("doc_b"),
        F.col("signature").alias("sig_b"),
        "band",
        "bucket",
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _sig_agreement(pairs, num_hashes, threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_width: int = 3,
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs: banded LSH buckets → exact signature-similarity check.

    The scale path: docs collide only within (band, bucket-hash) groups, so
    the self-join shuffles band keys, not the corpus cross-product. The
    estimated Jaccard is the fraction of agreeing minhash components.

    The banded join is LOSSLESS (returns exactly the pairs a full signature
    comparison would) only when ``ceil(threshold * num_hashes) >=
    num_hashes - bands + 1`` — pigeonhole: a pair agreeing on that many
    components must fill at least one whole band. At this function's
    default (0.7 · 64 = 45 < 49) it is the classic probabilistic LSH;
    the oracle-checked driver entry runs at threshold=0.8, which satisfies
    the bound (52 >= 49, see sql_oracles.minhash_lsh_sql).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, shingle_width, text_col, seed)
    banded = _banded(sig, bands, rows_per_band)
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("signature").alias("sig_a"),
        "band",
        "bucket",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("signature").alias("sig_b"),
        "band",
        "bucket",
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _sig_agreement(pairs, num_hashes, threshold)


def shingle_hash_sets(
    docs: DataFrame, shingle_width: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, sh) — one row per DISTINCT shingle hash per document (the
    n-gram set representation shared by minhash/simhash/ngram-jaccard)."""

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sh, counts = _shingle_hashes_batch(pdf[text_col], shingle_width)
            doc_ids = np.repeat(pdf["doc_id"].to_numpy(), counts)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "sh": sh.astype(np.int64)}
            ).drop_duplicates()

    return (
        _spread(docs, ["doc_id", text_col])
        .mapInPandas(batch, schema="doc_id long, sh long")
        .dropDuplicates(["doc_id", "sh"])
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_width: int = 3,
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram (shingle-set) Jaccard ≥ threshold pairs.

    The order-sensitive counterpart of ``jaccard_candidates`` (word sets):
    docs meet through shared shingle hashes (inverted-index self-join —
    never all-pairs), intersections are counted exactly, and the jaccard
    is over the full distinct-shingle sets. ``max_df`` drops ubiquitous
    shingles from candidate generation only (boilerplate guard) — the
    verification join still counts over all shingles, so emitted values
    are exact.
    """
    tok = shingle_hash_sets(docs, shingle_width, text_col)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    if max_df is None:
        inter = (
            tok.select(F.col("doc_id").alias("doc_a"), "sh")
            .join(tok.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        dfc = tok.groupBy("sh").agg(F.count("*").alias("df"))
        tok_f = tok.join(dfc.filter(F.col("df") <= max_df), "sh")
        cand_pairs = (
            tok_f.select(F.col("doc_id").alias("doc_a"), "sh")
            .join(tok_f.select(F.col("doc_id").alias("doc_b"), "sh"), "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        inter = (
            cand_pairs.join(
                tok.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
            )
            .join(tok.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- SimHash ---------------------------------------------------------------


def simhash_bits(
    docs: DataFrame, text_col: str = "text", shingle_width: int = 3
) -> DataFrame:
    """doc_id → 64-bit simhash over *shingle* hashes (numpy bit-vote kernel).

    Shingle features (not unigrams) are what make simhash discriminative on
    template-heavy corpora: documents sharing vocabulary but differing in
    phrasing land far apart, so the downstream banded hamming join stays
    selective instead of degenerating toward all-pairs.
    """

    def batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_idx = np.arange(64, dtype=np.uint64)
        powers = (np.uint64(1) << bit_idx).astype(np.uint64)
        for pdf in it:
            sh, counts = _shingle_hashes_batch(pdf[text_col], shingle_width)
            n_docs = len(pdf)
            out = np.zeros(n_docs, dtype=np.int64)
            nz = counts > 0
            if sh.size:
                starts = np.zeros(n_docs + 1, np.int64)
                np.cumsum(counts, out=starts[1:])
                bits = ((sh[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                votes = np.add.reduceat(bits, starts[:-1][nz], axis=0)
                set_bits = votes * 2 > counts[nz][:, None]  # majority vote
                words = (set_bits.astype(np.uint64) * powers[None, :]).sum(
                    axis=1, dtype=np.uint64
                )
                out[nz] = words.astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return _spread(docs, ["doc_id", text_col]).mapInPandas(
        batch, schema="doc_id long, simhash long"
    )


def hamming_band_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    out_prefix: str,
) -> DataFrame:
    """Generic banded-hamming self-join over any (id, 64-bit hash)
    relation: pairs with ``hamming(hash) ≤ max_hamming``, never all-pairs.

    Pigeonhole: split 64 bits into max_hamming+1 bands; any pair within
    the hamming budget must agree exactly on ≥1 band, so candidates meet
    in band-value buckets. Exact hamming verified with bit_count on the
    survivors. The join kernel of ``simhash_pairs``.

    The (id, hash) relation is eagerly materialized (localCheckpoint)
    before the self-join: Spark plans a self-join's lineage twice and
    exchange reuse does not fire across the a/b rename, so without the
    barrier the upstream hash computation (for ``simhash_pairs``, a
    tokenize-and-hash pass over the whole corpus) runs once per side.
    The materialized relation is 16 bytes per row, the cheapest thing
    in the pipeline by far."""
    nbands = max_hamming + 1
    width = 64 // nbands
    hashed = hashed.select(id_col, hash_col).localCheckpoint(eager=True)
    ka, kb = f"{out_prefix}_a", f"{out_prefix}_b"
    banded = hashed.select(
        id_col,
        hash_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col(id_col).alias(ka), F.col(hash_col).alias("sh_a"), "band", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias(kb), F.col(hash_col).alias("sh_b"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col(ka) < F.col(kb))
        .dropDuplicates([ka, kb])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(ka, kb, "hamming")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming via banded join.

    Pigeonhole: split 64 bits into max_hamming+1 bands; any pair within the
    hamming budget must agree
    exactly on ≥1 band, so candidates meet in band-value buckets (never
    all-pairs). Exact hamming verified with bit_count on the survivors.
    """
    sh = simhash_bits(docs, text_col)
    return hamming_band_pairs(sh, "doc_id", "simhash", max_hamming, "doc")


def duplicate_spans(
    docs: DataFrame, window: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact duplicated-substring spans: maximal token ranges covered by a
    ``window``-token run that occurs ≥ 2 times anywhere in the corpus.

    The span-level analogue of suffix-array training-data dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"): a
    suffix array finds repeated substrings of length ≥ L; the distributed
    re-expression hashes every L-token rolling window (md5, so the DuckDB
    oracle recomputes it), keeps windows whose hash repeats, and merges
    overlapping/adjacent surviving windows per document into maximal spans
    via an islands pass (running-max window function).

    One corpus-wide shuffle on the window hash (~n_tokens rows of ~40 B,
    repeated-hash filter as a count-over-window so the windows relation is
    built exactly once — no groupBy + join-back recompute) + one
    per-document sort for the islands pass — both standard at 100 TB; no
    all-pairs join, no suffix-array global sort. Returns
    (doc_id, span_start, span_len) in 1-based token positions over the
    simple-tokenizer token stream.

    The token array is materialized behind a repartition barrier BEFORE the
    window lambda: without it, projection collapse inlines the regex
    tokenization into the per-window ``slice`` calls (re-tokenizing the doc
    once per window — measured 16→~1 s at sf0.1), and a one-file parquet
    input would pin the hashing to a single task (same rationale as
    ``_spread``; a no-op at real scale).
    """
    tok = docs.select("doc_id", simple_tokens_col(text_col).alias("toks"))
    defp = docs.sparkSession.sparkContext.defaultParallelism
    if tok.rdd.getNumPartitions() < defp:
        tok = tok.repartition(defp)
    toks = F.col("toks")
    n = F.size(toks)
    # window hashes; guard keeps sequence() ascending when the doc is short
    wins_arr = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = tok.select(
        "doc_id", F.posexplode(wins_arr).alias("pos0", "whash")
    ).select("doc_id", (F.col("pos0") + 1).alias("start"), "whash")
    dwin = (
        wins.withColumn(
            "cnt", F.count("*").over(Window.partitionBy("whash"))
        )
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "start")
    )
    byd = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + window - 1).over(
        byd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dwin.withColumn(
        "new_island",
        F.when(
            F.col("start") <= F.coalesce(prev_end, F.lit(-1)) + 1, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("island", F.sum("new_island").over(byd))
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + window - 1 - F.min("start") + 1).alias("span_len"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_len").cast("long").alias("span_len"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame, window: int = 8, text_col: str = "text"
) -> DataFrame:
    """Excise every corpus-duplicated span from every document — the
    removal half of suffix-array dedup (Lee et al. 2022 delete the
    repeated substring itself, not the whole document).

    Builds on :func:`duplicate_spans` (one corpus-wide window-hash shuffle
    + per-doc islands pass). The spans relation is tiny relative to the
    corpus — only duplicated ranges survive — so the removal step is: pack
    each document's spans into one array row (groupBy on doc_id), join
    back to the tokenized corpus (AQE broadcasts the span side when it
    fits), and drop covered token positions with a JVM ``filter`` lambda —
    a narrow projection, no Python in the loop. Documents without spans
    pass through unchanged via the left join.

    Returns ``(doc_id, n_tokens, n_removed, clean_text)`` where
    ``clean_text`` is the surviving normalized token stream (the simple
    tokenizer is lossy about case/punctuation by design — it is the same
    normalization every dedup operator here keys on).
    """
    spans = duplicate_spans(docs, window, text_col)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_len")).alias("spans")
    )
    tok = docs.select("doc_id", simple_tokens_col(text_col).alias("toks"))
    j = tok.join(per_doc, "doc_id", "left")
    kept = F.when(F.col("spans").isNull(), F.col("toks")).otherwise(
        F.filter(
            F.col("toks"),
            # i is 0-based; span positions are 1-based token indices
            lambda t, i: ~F.exists(
                F.col("spans"),
                lambda s: (i + 1 >= s["span_start"])
                & (i + 1 < s["span_start"] + s["span_len"]),
            ),
        )
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def canonicalize(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The end product of the dedup pipeline: drop every document that is
    not its near-dup cluster's canonical representative (the smallest
    doc_id — the same keeper rule Marginalia applies per content hash at
    load time, LoaderIndexJournalWriter).

    ``pairs`` is any near-dup pair relation (minhash/simhash/jaccard/
    ngram). Clusters come from :func:`connected_components`; the removal
    is one left_anti join of the corpus against the (small) non-canonical
    member set — documents in no cluster survive untouched, so the join
    cost scales with duplicates found, not corpus size.
    """
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node's strictly-larger neighbors reconnect
    to the minimum of its closed neighborhood (Kiveris et al. 2014, alg 2)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge large→small; every node's smaller
    neighbors (and itself) reconnect to the smallest of them (alg 3)."""
    dire = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = dire.groupBy("u").agg(F.min("v").alias("mn"))
    reconnect = (
        dire.join(mins, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edge = mins.select("u", F.col("mn").alias("v"))
    return reconnect.union(self_edge).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 40,
) -> DataFrame:
    """Connected components over a near-duplicate pair relation →
    ``(doc_id, component)`` where ``component`` is the smallest doc_id in
    the cluster (the canonical "keeper" in dedup pipelines).

    Pair generators (minhash/simhash/jaccard) emit *edges*; collapsing a
    corpus to one representative per duplicate *cluster* needs the
    transitive closure. Reference analogue: Marginalia keeps one canonical
    document per content hash at load time
    (code/processes/loading-process/.../LoaderIndexJournalWriter.java);
    chained near-dup clusters have no single-node analogue — this is the
    distributed generalization.

    Algorithm: alternating large-star / small-star contraction (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond") — converges
    in O(log² n) rounds on ANY graph (naive min-label propagation needs
    O(diameter): a pathological duplication chain = thousands of rounds),
    and at the fixpoint the edge set IS the answer: every non-minimum node
    holds exactly the edge (node, component_min). Each half-round is one
    groupBy + one self-join co-partitioned on the node key — a fixed small
    number of hash shuffles per round at any scale, no all-pairs work, no
    driver state beyond the per-round convergence probe. ``localCheckpoint``
    truncates lineage each round (iterative-algorithm standard; on a real
    cluster use reliable ``checkpoint`` for executor-loss resilience).

    Deterministic (all reductions are ``min``); singleton documents (no
    edges) are not emitted, matching the recursive-CTE oracle.
    """
    def _fingerprint(e: DataFrame) -> tuple:
        # one action: a distinct edge set is pinned (up to astronomically
        # unlikely xxhash64-sum collision) by (count, hash-sum); the sum
        # runs in decimal(38,0) — int64 would overflow under ANSI mode
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = _fingerprint(edges)
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixpoint edges are (node, component_min) stars; add the centers
    centers = edges.select(F.col("v").alias("u"), F.col("v")).distinct()
    return edges.union(centers).distinct().select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )


# --- corpus-level boilerplate line removal -----------------------------------


def boilerplate_lines(docs: DataFrame, min_count: int = 3) -> DataFrame:
    """(line_key, n): normalized lines (trim + lowercase) that occur at
    least ``min_count`` times across the corpus — navigation chrome,
    cookie banners, license footers. The line-level analogue of C4's
    repeated-span discard (Raffel et al. 2020 §2.2) as practiced by
    RefinedWeb's line-wise corrections (Penedo et al. 2023 §3.2).

    One partial-first count aggregation over codegen string expressions;
    the result is corpus-boilerplate-sized (small), broadcastable into
    the removal join. Empty/whitespace-only lines are never counted —
    blank lines are document structure, not boilerplate.
    """
    lines = docs.select(
        F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).select(F.trim(F.lower(F.col("line"))).alias("line_key"))
    return (
        lines.filter(F.col("line_key") != "")
        .groupBy("line_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def strip_boilerplate(docs: DataFrame, min_count: int = 3) -> DataFrame:
    """documents with corpus-boilerplate lines removed: every line whose
    normalized form occurs ``>= min_count`` times corpus-wide is dropped
    from every document; surviving lines are rejoined in original order.
    Row count is preserved (a fully-boilerplate document keeps an empty
    text), so the op composes into filter chains.

    Plan shape: the boilerplate set is (small) → broadcast anti-join on
    the exploded line relation; rebuild is one per-doc aggregation with
    positions carried so the join back is order-exact.
    """
    bp = boilerplate_lines(docs, min_count)
    lines = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line")
    ).withColumn("line_key", F.trim(F.lower(F.col("line"))))
    kept = lines.join(F.broadcast(bp.select("line_key")), "line_key", "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "line"))).alias("ls"))
        .select(
            "doc_id",
            F.array_join(
                F.transform(F.col("ls"), lambda s: s["line"]), "\n"
            ).alias("clean_text"),
        )
    )
    return (
        docs.join(rebuilt, "doc_id", "left")
        .select(
            *[c for c in docs.columns if c != "text"],
            F.coalesce(F.col("clean_text"), F.lit("")).alias("text"),
        )
        .select(*docs.columns)
    )


def conv_prefix_dedup(turns: DataFrame, prefix_turns: int = 3) -> DataFrame:
    """Conversation-prefix dedup: the retried-agent-run signature.

    Agent logs are full of conversations that share an identical opening —
    the same system prompt + user request re-run after a tool failure or a
    sampling retry. Grouping conversations by a digest of their first
    ``prefix_turns`` turns in stable ``turn_idx`` order finds those retry
    families; the smallest ``conv_id`` is the canonical run. Returns one
    row per family: ``(conv_id, n_dups)`` — the conversation analogue of
    :func:`exact_dedup`.

    The digested encoding is length-prefixed
    (``len(role):role:len(text):text`` per turn), NOT a pretty-printed
    join: turn text routinely contains newlines and ``role:`` -looking
    lines (code blocks, tool output), and a plain rendered join would let
    such text forge a turn boundary and merge genuinely different
    conversations into one family.

    Relies on the ingest contract's dense 0-based ``turn_idx`` (the same
    stable-turn-ordering invariant the index builder concatenates under —
    sources/transcripts.py), so the ``turn_idx < prefix_turns`` pre-filter
    bounds shuffle rows at ``prefix_turns`` per conversation: at 10^12
    turns the first shuffle moves only the k-turn heads, never whole
    conversations. Two hash aggregations total (conv_id, then digest);
    everything is JVM expressions.
    """
    # NULL text encodes as the empty string ("0:") — concat(..., NULL)
    # would make the whole element NULL and array_join SKIPS nulls, so an
    # unguarded encoding would digest a NULL-text turn as ABSENT and merge
    # genuinely different conversations into one family
    txt = lambda s: F.coalesce(s.text, F.lit(""))  # noqa: E731
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("turn_idx", "role", "text"))),
            lambda s: F.concat(
                F.length(s.role).cast("string"), F.lit(":"), s.role,
                F.lit(":"),
                F.length(txt(s)).cast("string"), F.lit(":"), txt(s),
            ),
        ),
        "\n",
    )
    pfx = (
        turns.filter(F.col("turn_idx") < prefix_turns)
        .groupBy("conv_id")
        .agg(F.md5(rendered).alias("prefix_hash"))
    )
    return (
        pfx.groupBy("prefix_hash")
        .agg(F.min("conv_id").alias("conv_id"), F.count("*").alias("n_dups"))
        .select("conv_id", "n_dups")
    )
