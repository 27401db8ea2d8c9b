"""Candidate-pruned decodes for exclusion / priority terms.

The reference drives its reject filter and priority lookups from the
candidate buffer (``SkipListReader.tryRejectData``,
``SkipListReader.java:248``) — it never walks an exclusion term's full
posting list. Our batch analogue must do the same: when a candidate
broadcast is built from the rarest include term, the fused decode that
reads the exclusion / ``?priority`` term receives it and skips blocks
outside the candidate id range.
"""

import numpy as np
import pytest

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import factor_corpus


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pruneidx"))
    build_index(spark, factor_corpus(spark, 256), root, n_buckets=1)
    return IndexReader(spark, IndexPaths(root))


class _Recorder:
    """Wraps IndexReader.decode_terms (the fused decode) and records
    (term_ids decoded, pruned?)."""

    def __init__(self, reader):
        self.reader = reader
        self.calls: list[tuple[tuple[int, ...], bool]] = []
        self._orig = IndexReader.decode_terms

    def __enter__(self):
        rec = self

        def spy(r, term_ids, candidates=None, **kw):
            rec.calls.append((tuple(term_ids), candidates is not None))
            return rec._orig(r, term_ids, candidates=candidates, **kw)

        IndexReader.decode_terms = spy
        return self

    def __exit__(self, *a):
        IndexReader.decode_terms = self._orig


def _tid(reader, word):
    return reader.term_stats([word])[word][0]


def test_exclude_decode_receives_candidates(spark, reader, monkeypatch):
    # force the "big term" path so pruning engages on this tiny corpus
    monkeypatch.setattr(query_exec, "PRUNE_DF_THRESHOLD", 0)
    with _Recorder(reader) as rec:
        rows = run_query(reader, "factor5 -factor2", k=100).collect()
    exc_id = _tid(reader, "factor2")
    assert any(exc_id in tids and pruned for tids, pruned in rec.calls), rec.calls
    # factor oracle: multiples of 5, not of 2
    got = sorted(int(r["conv_id"][4:]) for r in rows)
    assert got == [i for i in range(1, 257) if i % 5 == 0 and i % 2 != 0]


def test_priority_decode_receives_candidates(spark, reader, monkeypatch):
    monkeypatch.setattr(query_exec, "PRUNE_DF_THRESHOLD", 0)
    with _Recorder(reader) as rec:
        rows = run_query(reader, "?factor2 factor7", k=100).collect()
    pri_id = _tid(reader, "factor2")
    assert any(pri_id in tids and pruned for tids, pruned in rec.calls), rec.calls
    got = sorted(int(r["conv_id"][4:]) for r in rows)
    assert got == [i for i in range(1, 257) if i % 7 == 0]


def test_pruned_results_equal_unpruned(spark, reader, monkeypatch):
    """Same query with pruning forced on vs off — identical results."""
    q = "?factor3 factor5 -factor4"
    monkeypatch.setattr(query_exec, "PRUNE_DF_THRESHOLD", 0)
    on = run_query(reader, q, k=50, round_score_to=9).collect()
    monkeypatch.setattr(query_exec, "PRUNE_DF_THRESHOLD", 10**9)
    off = run_query(reader, q, k=50, round_score_to=9).collect()
    assert [(r["conv_id"], r["score"]) for r in on] == [
        (r["conv_id"], r["score"]) for r in off
    ]


def test_collect_ids_u64_matches_row_collect(spark, reader):
    df = reader.doc_stats.select("doc_id")
    arr = np.sort(query_exec._collect_ids_u64(df))
    rows = np.sort(
        np.array([r["doc_id"] for r in df.collect()], dtype=np.int64).astype(
            np.uint64
        )
    )
    assert np.array_equal(arr, rows)
