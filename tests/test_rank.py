"""Rank-in-high-bits doc-id layout (SURVEY §1.3, UrlIdCodec sort=rank trick):
quality-derived rank buckets must land in the doc id's top bits so that
docID-sorted posting lists are best-document-first."""

import datetime

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.functions.ids import HASH_BITS
from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.ingest import conv_ranks_by_quality
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query

_TS = datetime.datetime(2025, 1, 1)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    rows = []
    # 30 good conversations: long, punctuation-light, stopword-bearing text
    for i in range(30):
        text = "the common topic is " + " ".join(f"w{i}x{j}" for j in range(40))
        rows.append((f"good{i:02d}", 0, "user", text, "", _TS))
    # 10 junk conversations: too short → fails the n_words gate → worse rank
    for i in range(10):
        rows.append((f"junk{i:02d}", 0, "user", "common topic", "", _TS))
    corpus = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ranks = conv_ranks_by_quality(corpus)
    root = str(tmp_path_factory.mktemp("rankidx"))
    build_index(spark, corpus, root, n_buckets=1, ranks=ranks)
    return corpus, ranks, IndexReader(spark, IndexPaths(root))


def test_rank_stamped_in_high_bits(spark, built):
    _, ranks, reader = built
    rank_of = {r["conv_id"]: r["rank"] for r in ranks.collect()}
    for r in reader.doc_stats.collect():
        assert (r["doc_id"] >> HASH_BITS) == rank_of[r["conv_id"]], r["conv_id"]


def test_good_docs_outrank_junk(spark, built):
    _, ranks, _ = built
    rank_of = {r["conv_id"]: r["rank"] for r in ranks.collect()}
    good = {v for k, v in rank_of.items() if k.startswith("good")}
    junk = {v for k, v in rank_of.items() if k.startswith("junk")}
    assert max(good) < min(junk)


def test_posting_list_is_rank_ordered(spark, built):
    """docID-sorted postings of a term in every doc put best-rank docs first
    — what makes 'first k of a posting list' meaningful (budgeted scans)."""
    _, ranks, reader = built
    rank_of = {r["conv_id"]: r["rank"] for r in ranks.collect()}
    conv_of = {
        r["doc_id"]: r["conv_id"] for r in reader.doc_stats.collect()
    }
    tid, df = reader.term_stats(["common"])["common"]
    assert df == 40
    decoded = reader.decode_term(tid).orderBy("doc_id").collect()
    seq = [rank_of[conv_of[r["doc_id"]]] for r in decoded]
    assert seq == sorted(seq)  # non-decreasing rank along the posting list


def test_rank_spec_limit(spark, built):
    """`rank<=N` filters on the quality bucket in the doc-id high bits
    (RankTerm specification-limit analogue, QueryFactory.java:151)."""
    corpus, ranks, reader = built
    rank_of = {r["conv_id"]: r["rank"] for r in ranks.collect()}
    best = max(v for k, v in rank_of.items() if k.startswith("good"))
    got = {
        r["conv_id"]
        for r in run_query(reader, f"common rank<={best}", k=100).collect()
    }
    assert got == {c for c, r in rank_of.items() if r <= best}
    assert got and all(c.startswith("good") for c in got)
    none = run_query(reader, "common rank>63", k=10).count()
    assert none == 0


def test_queries_unaffected_by_rank(spark, built):
    corpus, _, reader = built
    got = {r["conv_id"] for r in run_query(reader, "common topic", k=100).collect()}
    assert got == {r["conv_id"] for r in corpus.select("conv_id").distinct().collect()}


def test_budgeted_scan_returns_best_rank_prefix(spark, tmp_path_factory, built):
    """O4 budgeted scan: with rank-stamped ids and small blocks, scanning
    only the first blocks of a posting list yields best-rank docs only."""
    corpus, ranks, _ = built
    root = str(tmp_path_factory.mktemp("budgetidx"))
    build_index(spark, corpus, root, n_buckets=1, ranks=ranks, block_docs=8)
    reader = IndexReader(spark, IndexPaths(root))
    full = {r["conv_id"] for r in run_query(reader, "common", k=100).collect()}
    assert len(full) == 40
    got = {
        r["conv_id"]
        for r in run_query(reader, "common", k=100, budget_blocks=2).collect()
    }
    assert 0 < len(got) < len(full)
    assert all(c.startswith("good") for c in got)  # best-rank prefix only
    # an OR query has no single driver to truncate: the budget is ignored
    def ranked(**kw):
        res = run_query(reader, "( common | topic )", k=100, **kw).collect()
        return [(r["conv_id"], r["score"]) for r in res]

    assert ranked(budget_blocks=2) == ranked()
