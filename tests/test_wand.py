"""Block-max WAND two-phase top-k: must return exactly run_query's results
while scanning strictly fewer posting blocks (the north-star's block-max
pruning, re-expressed as a parquet scan predicate on max_tf_norm).

Every scan of this small index is driver-sized, and ``run_query_wand``
hands such a query to the plain pipeline without a threshold pass; the
``wand_phase1`` fixture forces the executor site so both phases run, and
each test checks that phase 1 did."""

import math

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    run_query,
    run_query_wand,
)
from marginaliasearch_spark.sources.transcripts import bm25_corpus


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wandidx"))
    # tiny blocks (16 docs) so head terms span many blocks and pruning has
    # something to skip
    build_index(spark, bm25_corpus(spark, 300), root, n_buckets=1, block_docs=16)
    return IndexReader(spark, IndexPaths(root))


def _pairs(rows):
    return [(r["conv_id"], round(r["score"], 9)) for r in rows]


@pytest.mark.parametrize(
    "query",
    [
        "word00",  # head term, many blocks
        "word30",  # rarer term
        "word00 -word45",  # exclusion applies in both phases
        "word01 len>40",  # spec limit applies in both phases
    ],
)
def test_wand_equals_plain(spark, reader, query, wand_phase1):
    plain = _pairs(run_query(reader, query, k=10).collect())
    wand = _pairs(run_query_wand(reader, query, k=10).collect())
    assert wand == plain
    assert len(wand_phase1) == 1  # phase 1 ran every time


@pytest.mark.parametrize(
    "query",
    [
        "( word00 | word30 )",  # head + rare term, per-term cuts
        "( word01 | word02 | word40 ) -word45",
    ],
)
def test_wand_or_of_single_terms_equals_plain(spark, reader, query, wand_phase1):
    plain = _pairs(run_query(reader, query, k=10).collect())
    wand = _pairs(run_query_wand(reader, query, k=10).collect())
    assert wand == plain
    assert len(wand_phase1) == 1  # phase 1 ran every time


@pytest.mark.parametrize(
    "query",
    [
        "word00 word01",  # two head terms, residual cuts on both scans
        "word00 word01 word02",
        "word00 word30",  # head + rare: rare term's UB dominates
        "word00 word01 -word45",  # exclusion applies in both phases
    ],
)
def test_wand_and_equals_plain(spark, reader, query, wand_phase1):
    """Pure-AND intersections use the residual per-term cut
    (θ - Σ other-terms' global UB) and must stay EXACT."""
    for k in (3, 10):
        plain = _pairs(run_query(reader, query, k=k).collect())
        wand = _pairs(run_query_wand(reader, query, k=k).collect())
        assert wand == plain
    assert len(wand_phase1) == 2  # phase 1 ran every time


@pytest.mark.parametrize(
    "query",
    [
        "( word00 | word30 ) word01",  # OR-group ANDed with a head term
        "( word01 | word02 ) word00 -word45",  # + exclusion
        "( word00 | word01 ) ( word02 | word30 )",  # two OR groups
        "( word00 | word47 ) word01",  # one very rare alternative
    ],
)
def test_wand_mixed_and_of_or_equals_plain(spark, reader, query, wand_phase1):
    """Mixed AND-of-OR shapes (the expansion engine's default output) use
    per-path residual cuts — every term's scan gets the block-max cut of
    its most forgiving containing path — and must stay EXACT."""
    for k in (3, 10):
        plain = _pairs(run_query(reader, query, k=k).collect())
        wand = _pairs(run_query_wand(reader, query, k=k).collect())
        assert wand == plain
    assert len(wand_phase1) == 2  # phase 1 ran every time


def test_wand_mixed_rounded_equals_plain(spark, reader, wand_phase1):
    q = "( word00 | word30 ) word01"
    for r in (2, 4, 6):
        plain = _pairs(run_query(reader, q, k=10, round_score_to=r).collect())
        wand = _pairs(run_query_wand(reader, q, k=10, round_score_to=r).collect())
        assert wand == plain
    assert len(wand_phase1) == 3  # phase 1 ran every time


def test_wand_mixed_dead_alternative_falls_back_to_live_paths(spark, reader, wand_phase1):
    """An OR alternative absent from the lexicon drops its paths; the cut
    must derive from the LIVE paths only and results must stay exact."""
    q = "( word00 | nosuchword ) word01"
    plain = _pairs(run_query(reader, q, k=10).collect())
    wand = _pairs(run_query_wand(reader, q, k=10).collect())
    assert wand == plain
    assert len(wand_phase1) == 1  # phase 1 ran every time


def test_wand_and_equals_plain_rounded(spark, reader, wand_phase1):
    """With round_score_to set, θ must widen by the rounding quantum so a
    doc that round-ties with the kth result is never pruned."""
    q = "word00 word01"
    for r in (2, 4, 6):
        plain = _pairs(run_query(reader, q, k=10, round_score_to=r).collect())
        wand = _pairs(run_query_wand(reader, q, k=10, round_score_to=r).collect())
        assert wand == plain
    assert len(wand_phase1) == 3  # phase 1 ran every time


def test_wand_k_larger_than_result(spark, reader, wand_phase1):
    q = "word45"
    assert _pairs(run_query_wand(reader, q, k=500).collect()) == _pairs(
        run_query(reader, q, k=500).collect()
    )
    assert len(wand_phase1) == 1  # phase 1 ran every time


def test_wand_cut_actually_prunes_blocks(spark, reader):
    """The θ-derived scan predicate must skip a nontrivial share of the head
    term's blocks for a small k."""
    word = "word00"
    tid, df = reader.term_stats([word])[word]
    total_blocks = reader.postings.filter(F.col("term_id") == tid).count()
    assert total_blocks >= 10  # head term spans many 16-doc blocks
    plain = run_query(reader, word, k=5).collect()
    kth = plain[-1]["score"]
    theta_raw = 501.0 / (kth * kth) - 1.0
    idf = math.log(1.0 + (reader.n_docs - df + 0.5) / (df + 0.5))
    kept = reader.postings.filter(
        (F.col("term_id") == tid)
        & (F.col("max_tf_norm") >= theta_raw / idf)
    ).count()
    assert kept < total_blocks  # pruning is real
    assert kept >= 1
