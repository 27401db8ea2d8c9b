"""Posting-block encode/decode over Arrow batches (mapInPandas kernels).

A *block* is one row of the ``postings`` table: up to ``BLOCK_DOCS`` docs of
one term, docID-sorted, delta+varbyte compressed, carrying per-block
``min_doc``/``max_doc`` (the skip-list block-max analogue,
``SkipListReader.parseBlock`` / ``SkipListConstants.java:7``) and
``max_tf_norm`` (per-block max of the BM25 tf-normalization factor). A
block's score upper bound is ``idf(term) * max_tf_norm`` — idf is a per-term
constant, so storing the idf-free factor keeps the document-frequency join
OUT of the build's shuffle path (block-max WAND metadata at zero join cost).
Parquet/Iceberg min/max column stats on these columns give block skipping at
scan time; the decode kernels additionally prune blocks against a candidate
set, which is the reference's ``tryRetainData`` semantics
(``SkipListReader.java:87``) re-expressed batch-wise.

The journal already carries positions as per-(doc, term) varbyte runs, and
varbyte is byte-aligned per value, so a block's positions payload is the
plain byte concatenation of its rows' runs — encode does no position
re-coding at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from .codecs import (
    decode_doc_deltas,
    decode_positions,
    encode_sorted_tagged,
    varbyte_decode,
    varbyte_encode,
)

BLOCK_DOCS = 4096  # docs per block ≈ the reference's 8 KiB skip-list blocks

POSTINGS_SCHEMA = (
    "term_id long, n_docs int, doc_ids binary, tfs binary, wtfs binary, "
    "positions binary, flags binary, min_doc long, max_doc long, "
    "max_tf_norm double"
)
# blocks are homogeneous in language; the writer turns the column into a
# partition directory (lang=en/...) so lang-scoped queries prune at the scan
# (the reference keeps one whole reverse index per language,
# reverse/WordLexicon.java:34-41)
POSTINGS_SCHEMA_LANG = POSTINGS_SCHEMA + ", lang string"


def _encode_term_run(
    term_id: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    wtfs: np.ndarray,
    pos_bytes: list[bytes],
    flags: np.ndarray,
    tf_norms: np.ndarray,
    block_docs: int,
    docid_codec: str = "auto",
) -> Iterator[dict]:
    """One term's docID-sorted run within a partition → block rows."""
    n = doc_ids.size
    for start in range(0, n, block_docs):
        end = min(start + block_docs, n)
        ids = doc_ids[start:end].astype(np.uint64)
        yield {
            "term_id": term_id,
            "n_docs": end - start,
            "doc_ids": encode_sorted_tagged(ids, docid_codec),
            "tfs": varbyte_encode(tfs[start:end].astype(np.uint64)),
            # role-span-weighted counts, quarter-scaled to stay integral
            # (weights are multiples of 0.25 — UnorderedMatches weights)
            "wtfs": varbyte_encode(wtfs[start:end].astype(np.uint64)),
            "positions": b"".join(pos_bytes[start:end]),
            "flags": varbyte_encode(flags[start:end].astype(np.uint64)),
            "min_doc": int(ids[0]),
            "max_doc": int(ids[-1]),
            "max_tf_norm": float(np.max(tf_norms[start:end])),
        }


def encode_blocks(
    batches: Iterator[pd.DataFrame],
    block_docs: int = BLOCK_DOCS,
    docid_codec: str = "auto",
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over a partition sorted by (term_id, doc_id).

    Streams Arrow batches, carrying the current term's tail across batch
    boundaries so a term spanning many batches still forms full blocks.
    Input columns: term_id, doc_id, tf, positions (varbyte binary), tf_norm.
    Doc-id deltas are stored per block as varbyte OR split-stream Elias
    gamma (the reference's prio-index code, EliasGammaCodec), whichever is
    exactly smaller — dense head-term blocks go gamma, sparse tail blocks
    varbyte; each payload is tagged with its codec byte so the decode side
    is self-describing (codecs.py adaptive section).
    """
    carry: pd.DataFrame | None = None
    with_lang = None  # resolved from the first batch's columns

    def flush(pdf: pd.DataFrame, keep_last_term: bool):
        nonlocal carry
        term_ids = pdf["term_id"].to_numpy()
        doc_arr = pdf["doc_id"].to_numpy()
        tf_arr = pdf["tf"].to_numpy()
        wtf_arr = pdf["wtf_q4"].to_numpy()
        flag_arr = pdf["flags"].to_numpy()
        score_arr = pdf["tf_norm"].to_numpy()
        pos_list = pdf["positions"].tolist()
        # row ranges per run (input sorted by term_id[, lang]); a run — and
        # hence every block — is homogeneous in (term_id, lang)
        change_mask = term_ids[1:] != term_ids[:-1]
        if with_lang:
            langs = pdf["lang"].to_numpy()
            change_mask = change_mask | (langs[1:] != langs[:-1])
        change = np.flatnonzero(change_mask) + 1
        bounds = np.concatenate([[0], change, [len(pdf)]])
        last = len(bounds) - 2  # index of the final run's range
        rows = []
        for i in range(len(bounds) - 1):
            if keep_last_term and i == last:
                carry = pdf.iloc[bounds[i] :]
                break
            s, e = bounds[i], bounds[i + 1]
            run = _encode_term_run(
                int(term_ids[s]),
                doc_arr[s:e],
                tf_arr[s:e],
                wtf_arr[s:e],
                pos_list[s:e],
                flag_arr[s:e],
                score_arr[s:e],
                block_docs,
                docid_codec,
            )
            if with_lang:
                lang = langs[s]
                rows.extend({**blk, "lang": lang} for blk in run)
            else:
                rows.extend(run)
        return rows

    for pdf in batches:
        if with_lang is None:
            with_lang = "lang" in pdf.columns
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        rows = flush(pdf, keep_last_term=True)
        if rows:
            yield pd.DataFrame(rows)
    if carry is not None and len(carry):
        rows = flush(carry, keep_last_term=False)
        carry = None
        if rows:
            yield pd.DataFrame(rows)


def _member_mask(sorted_unique: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Vectorized membership of ``values`` in a sorted unique array."""
    idx = np.searchsorted(sorted_unique, values)
    idx_c = np.minimum(idx, sorted_unique.size - 1)
    return (idx < sorted_unique.size) & (sorted_unique[idx_c] == values)


def decode_blocks(
    batches: Iterator[pd.DataFrame],
    with_positions: bool = False,
    with_wtf: bool = False,
    candidates: np.ndarray | None = None,
    reject: np.ndarray | None = None,
) -> Iterator[pd.DataFrame]:
    """Block rows → exploded (term_id, doc_id, tf[, positions]) rows.

    Fully columnar: all surviving blocks of an Arrow batch are decoded in
    ONE pass — tfs/flags/positions varbyte payloads concatenate into one
    valid stream (byte-aligned per value), doc-id payloads decode through
    ``decode_doc_deltas`` (self-describing per-block varbyte/gamma, at most
    two grouped vectorized passes), and the per-block delta resets are
    exactly ``segmented_undelta``'s segment starts. No per-block Python
    loop; the only Python-level iteration left is the ``np.split`` view
    construction for ragged position lists.

    ``candidates``: optional sorted uint64 doc-id array — or a Spark
    ``Broadcast`` wrapping one (unwrapped lazily HERE, on the executor, so
    a large candidate set is torrent-shipped once per executor instead of
    serialized into every task closure); blocks whose [min_doc, max_doc]
    window contains no candidate are dropped before any payload is touched
    (skip-list forward-pointer semantics), and decoded ids are intersected
    (ReverseIndexRetainFilter / tryRetainData).

    ``reject``: optional sorted uint64 doc-id array (or ``Broadcast``) of
    documents that must never come out — the index's deletion tombstones.
    Decoded ids found in it are dropped beside the candidate mask; no
    block is skipped for it, since a block rarely holds deleted docs only.
    """
    from .codecs import segmented_undelta

    if candidates is not None and hasattr(candidates, "value"):
        candidates = candidates.value
    if reject is not None and hasattr(reject, "value"):
        reject = reject.value
    if reject is not None and not reject.size:
        reject = None
    for pdf in batches:
        if not len(pdf):
            continue
        if candidates is not None:
            # block skip on [min_doc, max_doc] windows, whole batch at once
            lo = np.searchsorted(
                candidates, pdf["min_doc"].to_numpy().astype(np.uint64)
            )
            hi = np.searchsorted(
                candidates,
                pdf["max_doc"].to_numpy().astype(np.uint64),
                side="right",
            )
            keep = hi > lo
            if not keep.all():
                pdf = pdf[keep]
            if not len(pdf):
                continue
        n_docs = pdf["n_docs"].to_numpy().astype(np.int64)
        bounds = np.zeros(n_docs.size + 1, dtype=np.int64)
        np.cumsum(n_docs, out=bounds[1:])
        seg_starts = bounds[:-1][n_docs > 0]
        deltas = decode_doc_deltas(pdf["doc_ids"].tolist(), n_docs)
        doc_ids = segmented_undelta(deltas, seg_starts)
        tfs = varbyte_decode(b"".join(pdf["tfs"].tolist()))
        flags = varbyte_decode(b"".join(pdf["flags"].tolist()))
        if with_wtf:
            wtfs = varbyte_decode(b"".join(pdf["wtfs"].tolist()))
        term_ids = np.repeat(pdf["term_id"].to_numpy(), n_docs)
        mask = (
            _member_mask(candidates, doc_ids)
            if candidates is not None
            else None
        )
        if reject is not None:
            live = ~_member_mask(reject, doc_ids)
            mask = live if mask is None else mask & live
        if with_positions:
            # a block with null positions (a term that needs none) decodes
            # no position list; its docs get null positions
            has = pdf["positions"].notna().to_numpy()
            payload = b"".join(pdf["positions"][has].tolist())
            if not payload:
                # the prio tier stores b"" in every block: decode that
                # like null positions
                has[:] = False
            doc_has = np.repeat(has, n_docs)
            ptfs = tfs[doc_has].astype(np.int64)
            flat = decode_positions(payload, ptfs)
            if mask is not None:
                flat = flat[np.repeat(mask[doc_has], ptfs)]
        if mask is not None:
            doc_ids, tfs, flags = doc_ids[mask], tfs[mask], flags[mask]
            term_ids = term_ids[mask]
            if with_wtf:
                wtfs = wtfs[mask]
            if with_positions:
                doc_has = doc_has[mask]
        if doc_ids.size == 0:
            continue
        data = {
            "term_id": term_ids.astype(np.int64),
            "doc_id": doc_ids.astype(np.int64),
            "tf": tfs.astype(np.int32),
            "flags": flags.astype(np.int32),
        }
        if with_wtf:
            data["wtf_q4"] = wtfs.astype(np.int32)
        if with_positions:
            splits = np.cumsum(tfs[doc_has].astype(np.int64))[:-1]
            lists = np.split(flat.astype(np.int64), splits)
            if not doc_has.all():
                it = iter(lists)
                lists = [next(it) if h else None for h in doc_has]
            data["positions"] = lists
        yield pd.DataFrame(data)


DECODED_SCHEMA = "term_id long, doc_id long, tf int, flags int"


def decoded_schema(with_positions: bool = False, with_wtf: bool = False) -> str:
    s = DECODED_SCHEMA
    if with_wtf:
        s += ", wtf_q4 int"
    if with_positions:
        s += ", positions array<int>"
    return s


DECODED_SCHEMA_POS = decoded_schema(with_positions=True)
