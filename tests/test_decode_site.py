"""Both postings decode sites give the same answer.

``IndexReader.decode_terms`` decodes a small scan on the driver (an Arrow
fetch of the block rows, then ``decode_blocks`` in-process) and a big one
in a ``mapInPandas`` stage. The rows, and every query result built on
them, must not depend on the site. The executor site is forced by setting
``DRIVER_DECODE_MAX_DF`` below any df. The index is merged and tombstoned,
so both sites apply a non-empty reject mask.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.operators.index_build import (
    IndexPaths,
    build_index,
    delete_convs,
    merge_indexes,
)
from marginaliasearch_spark.operators.query_exec import (
    BlockCut,
    IndexReader,
    RankingParams,
    run_query,
    run_query_wand,
)
from marginaliasearch_spark.sources.transcripts import bm25_corpus

DELETED = ["bm0004", "bm0011", "bm0050"]


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    corpus = bm25_corpus(spark, 120)
    odd = F.substring("conv_id", 3, 4).cast("int") % 2
    base, delta, out = (
        str(tmp_path_factory.mktemp(n)) for n in ("siteb", "sited", "sitem")
    )
    # small blocks, so candidates and block cuts skip some of them
    build_index(spark, corpus.filter(odd == 0), base, n_buckets=1, block_docs=16)
    build_index(spark, corpus.filter(odd == 1), delta, n_buckets=1, block_docs=16)
    merge_indexes(spark, base, delta, out)
    assert delete_convs(spark, out, DELETED) == len(DELETED)
    r = IndexReader(spark, IndexPaths(out))
    assert r.prio is not None
    assert r.deleted_ids.size == len(DELETED)
    return r


def _tids(reader, *words):
    stats = reader.term_stats(list(words))
    return [stats[w][0] for w in words]


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _both_sites(reader, monkeypatch, term_ids, **kw):
    driver = reader.decode_terms(term_ids, **kw)
    assert "MapInPandas" not in _plan(driver)
    with monkeypatch.context() as m:
        m.setattr(query_exec, "DRIVER_DECODE_MAX_DF", -1)
        executor = reader.decode_terms(term_ids, **kw)
    assert "MapInPandas" in _plan(executor)
    assert driver.schema == executor.schema
    return _rows(driver), _rows(executor)


def _case(reader, name):
    t1, t2, t5 = _tids(reader, "word01", "word02", "word05")
    ids = np.sort(
        np.array(
            [r["doc_id"] for r in reader.doc_stats.select("doc_id").collect()],
            dtype=np.int64,
        ).astype(np.uint64)
    )
    lang = reader._view("lexicon_lang").head(1, columns=["lang"])["lang"][0].as_py()
    return [t1, t2, t5], {
        "plain": {},
        "candidates": {"candidates": ids[::3]},
        "positions_subset": {"positions": [t2]},
        "positions_all": {"positions": [t1, t2, t5]},
        "wtf": {"with_wtf": True},
        "block_filter": {"block_filter": {t1: BlockCut(min_tf_norm=0.5)}},
        "prio": {"tier": "prio", "candidates": ids[::2]},
        "lang": {"lang": lang, "candidates": ids[1::2], "with_wtf": True},
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "plain",
        "candidates",
        "positions_subset",
        "positions_all",
        "wtf",
        "block_filter",
        "prio",
        "lang",
    ],
)
def test_decode_terms_same_rows_on_both_sites(spark, reader, monkeypatch, name):
    term_ids, kw = _case(reader, name)
    driver, executor = _both_sites(reader, monkeypatch, term_ids, **kw)
    assert driver, name
    assert driver == executor


def test_reject_mask_drops_exactly_the_deleted_docs(spark, reader, monkeypatch):
    term_ids = _tids(reader, "word01", "word02")
    dead = set(reader.deleted_ids.astype(np.int64).tolist())
    masked, masked_exec = _both_sites(reader, monkeypatch, term_ids)
    monkeypatch.setitem(reader.__dict__, "deleted_ids", np.empty(0, np.uint64))
    unmasked, unmasked_exec = _both_sites(reader, monkeypatch, term_ids)
    assert masked == masked_exec and unmasked == unmasked_exec
    # rows are (term_id, doc_id, tf, flags)
    assert masked == [r for r in unmasked if r[1] not in dead]
    assert len(masked) < len(unmasked)


QUERIES = [
    ("word01", {}),
    ("word01 word02", {}),
    ("word01 -word03", {}),
    ("( word02 | word04 ) word01", {}),
    ('"word01 word02" word03', {}),
    ("?word02 word01", {}),
    ("word01 word02 in:system", {}),
    ("word01 word03", {"ranking": RankingParams(positional=True)}),
    ("word02 word05", {"ranking": RankingParams(weighted_counts=True)}),
]


def _results(reader, q, wand=False, **kw):
    fn = run_query_wand if wand else run_query
    return [
        (r["conv_id"], r["score"])
        for r in fn(reader, q, k=30, round_score_to=9, **kw).collect()
    ]


@pytest.mark.parametrize("q, kw", QUERIES)
def test_run_query_same_results_on_both_sites(spark, reader, monkeypatch, q, kw):
    driver = _results(reader, q, **kw)
    wand = _results(reader, q, wand=True, **kw)
    monkeypatch.setattr(query_exec, "DRIVER_DECODE_MAX_DF", -1)
    executor = _results(reader, q, **kw)
    wand_executor = _results(reader, q, wand=True, **kw)
    assert driver
    assert driver == executor == wand == wand_executor
    assert not {c for c, _ in driver} & set(DELETED)


@pytest.mark.parametrize("q, kw", QUERIES[:5])
def test_tombstone_anti_join_fallback_same_results(
    spark, reader, monkeypatch, request, q, kw
):
    """More deleted ids than ``MAX_DRIVER_CANDIDATES``: the reader keeps no
    reject mask and ``run_query`` anti-joins the tombstones instead, with
    the same results as the mask. The WAND leg runs both of its phases on
    the executor site (a driver-sized WAND query skips phase 1)."""
    masked = _results(reader, q, **kw)
    monkeypatch.setattr(
        query_exec, "MAX_DRIVER_CANDIDATES", reader.deleted_ids.size - 1
    )
    fresh = IndexReader(spark, reader.paths)
    assert fresh.deleted_ids is None
    assert "LeftAnti" in _plan(run_query(fresh, q, k=30, **kw))
    plain = _results(fresh, q, **kw)
    phase1 = request.getfixturevalue("wand_phase1")
    assert masked
    assert plain == _results(fresh, q, wand=True, **kw) == masked
    assert not {c for c, _ in masked} & set(DELETED)
    assert len(phase1) == (0 if '"' in q else 1)  # phase 1 ran if eligible


def test_driver_sized_wand_skips_phase_one(spark, reader, monkeypatch):
    """A ``qs=wand`` query whose live terms sum to at most
    ``DRIVER_DECODE_MAX_DF`` df is decoded whole on the driver:
    ``run_query_wand`` hands it to the plain pipeline, with no phase 1,
    no block budget and no term-bounds probe."""
    q = "word01 word02"
    stats = reader.term_stats(q.split())
    assert sum(df for _, df in stats.values()) <= query_exec.DRIVER_DECODE_MAX_DF
    calls = []
    plain = query_exec.run_query

    def spy(*args, **kw):
        calls.append(kw)
        return plain(*args, **kw)

    def unused(*args, **kw):
        raise AssertionError("the WAND threshold pass ran")

    monkeypatch.setattr(query_exec, "run_query", spy)
    monkeypatch.setattr(IndexReader, "block_budget", unused)
    monkeypatch.setattr(IndexReader, "term_bounds", unused)
    got = query_exec.run_search(reader, f"{q} qs=wand", k=10).collect()
    assert len(calls) == 1
    assert "_driver_top_blocks" not in calls[0]
    assert "_driver_min_tf_norm" not in calls[0]
    assert got == run_query(reader, q, k=10).collect()
