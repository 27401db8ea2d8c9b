"""Incremental index merge: merge(build(A), build(B)) must serve queries
identically to build(A ∪ B) — ids AND scores bit-exact — because the merge
re-aggregates the exact statistics (df, ctf, N) a from-scratch build
computes, and posting blocks are doc-disjoint so their union IS the merged
posting list. Reference analogue: FullPreindex merge (SURVEY §2 J2/J3)."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.index_build import (
    IndexPaths,
    build_index,
    merge_indexes,
    read_manifest,
    read_postings,
)
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    RankingParams,
    run_query,
)
from marginaliasearch_spark.sources.transcripts import factor_corpus


@pytest.fixture(scope="module")
def roots(spark):
    corpus = factor_corpus(spark, 384)
    par = F.pmod(F.regexp_extract("conv_id", r"(\d+)", 1).cast("long"), F.lit(2))
    base_root = tempfile.mkdtemp(prefix="mrg_base_")
    delta_root = tempfile.mkdtemp(prefix="mrg_delta_")
    full_root = tempfile.mkdtemp(prefix="mrg_full_")
    out_root = tempfile.mkdtemp(prefix="mrg_out_")
    build_index(spark, corpus.filter(par == 0), base_root, n_buckets=2)
    build_index(spark, corpus.filter(par == 1), delta_root, n_buckets=1)
    build_index(spark, corpus, full_root, n_buckets=2)
    merge_indexes(spark, base_root, delta_root, out_root)
    return full_root, out_root


def _res(reader, q, **kw):
    return sorted(
        (r["conv_id"], r["score"]) for r in run_query(reader, q, k=400, **kw).collect()
    )


@pytest.mark.parametrize(
    "q,kw",
    [
        ("factor2 factor3", {}),
        ("( factor5 | factor7 ) factor2", {}),
        ("factor3 -factor4", {}),
        ("factor2 factor3", {"round_score_to": 6}),
        ("factor11 factor2", {"ranking": RankingParams(positional=True)}),
        ("?factor5 factor3", {}),
    ],
)
def test_merge_equals_full_build(spark, roots, q, kw):
    full_root, out_root = roots
    full = IndexReader(spark, IndexPaths(full_root))
    merged = IndexReader(spark, IndexPaths(out_root))
    a, b = _res(full, q, **kw), _res(merged, q, **kw)
    assert a, f"query {q!r} must hit on the factor corpus"
    assert a == b


def test_merge_statistics_additive(spark, roots):
    full_root, out_root = roots
    full = IndexReader(spark, IndexPaths(full_root))
    merged = IndexReader(spark, IndexPaths(out_root))
    assert merged.n_docs == full.n_docs
    assert merged.lang_doc_counts == full.lang_doc_counts
    lf = {
        r["term"]: (r["df"], r["ctf"])
        for r in full.lexicon.select("term", "df", "ctf").collect()
    }
    lm = {
        r["term"]: (r["df"], r["ctf"])
        for r in merged.lexicon.select("term", "df", "ctf").collect()
    }
    assert lf == lm


def test_merge_moves_no_posting_bytes(spark, roots):
    _, out_root = roots
    out = IndexPaths(out_root)
    # every merged bucket is a symlink into a source index, and the
    # composed manifests record provenance
    ms = read_manifest(out)
    assert len(ms) == 3  # 2 base buckets + 1 delta bucket
    for m in ms:
        assert os.path.islink(out.bucket_dir(m["partition_id"]))
        assert "merged_from" in m


def test_merge_rerun_is_clean(spark, roots):
    """Re-running the merge over the same sources must converge to the
    same index (links recreated, stats rewritten — no duplicate manifest
    entries, no stale links)."""
    full_root, out_root = roots
    out = IndexPaths(out_root)
    srcs = {m["merged_from"] for m in read_manifest(out)}
    assert len(srcs) == 2
    a, b = sorted(srcs)
    merge_indexes(spark, a, b, out_root)
    assert len(read_manifest(out)) == 3
    merged = IndexReader(spark, IndexPaths(out_root))
    full = IndexReader(spark, IndexPaths(full_root))
    q = "factor2 factor3"
    assert _res(full, q) == _res(merged, q)


def test_compaction_equals_merged(spark, roots):
    """compact_index(merged) must serve identically (ids AND scores), fuse
    the merge chain's block fragments, and leave no symlinks behind."""
    from marginaliasearch_spark.operators.index_build import compact_index

    full_root, out_root = roots
    croot = tempfile.mkdtemp(prefix="mrg_compact_")
    compact_index(spark, out_root, croot)
    out = IndexPaths(croot)
    for m in read_manifest(out):
        assert not os.path.islink(out.bucket_dir(m["partition_id"]))
    full = IndexReader(spark, IndexPaths(full_root))
    compacted = IndexReader(spark, IndexPaths(croot))
    for q, kw in [
        ("factor2 factor3", {}),
        ("( factor5 | factor7 ) factor2", {}),
        ("factor11 factor2", {"ranking": RankingParams(positional=True)}),
    ]:
        a, b = _res(full, q, **kw), _res(compacted, q, **kw)
        assert a and a == b, q
    # block geometry is regenerated; per-term counts depend on the range
    # shuffle's sampled boundaries (a head term legitimately splits), so
    # the geometry-independent invariants are what must hold: the same
    # term set, and every term's block count within the overhead bound of
    # one partial block per range partition
    n_blocks = {
        r["term_id"]: r["count"]
        for r in read_postings(spark, out).groupBy("term_id").count().collect()
    }
    merged = read_postings(spark, IndexPaths(out_root)).select("term_id").distinct()
    merged_terms = {r["term_id"] for r in merged.collect()}
    assert set(n_blocks) == merged_terms
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df_by_tid = {
        r["term_id"]: r["df"]
        for r in IndexReader(spark, out).lexicon.select("term_id", "df").collect()
    }
    with open(out.corpus_stats) as f:
        bd = json.load(f)["block_docs"]
    for t, nb in n_blocks.items():
        assert nb <= -(-df_by_tid[t] // bd) + parts, t


class TestDeletion:
    """Tombstoned deletion lifecycle (index_build.delete_convs):
    results mask instantly with pre-deletion statistics (the reference's
    stale-ranking-until-reconstruction semantics), and compact_index
    absorbs the tombstones into an index that answers queries identically
    to a from-scratch build over the surviving corpus."""

    DROP = [f"conv{i}" for i in range(1, 129) if i % 5 == 0]

    @pytest.fixture(scope="class")
    def del_roots(self, spark):
        from marginaliasearch_spark.operators.index_build import (
            compact_index,
            delete_convs,
        )

        corpus = factor_corpus(spark, 128)
        full_root = tempfile.mkdtemp(prefix="del_full_")
        build_index(spark, corpus, full_root, n_buckets=2)
        before = {
            r["doc_id"]: r["score"]
            for r in run_query(
                IndexReader(spark, IndexPaths(full_root)), "factor2", k=200
            ).collect()
        }
        n = delete_convs(spark, full_root, self.DROP)
        assert n == len(self.DROP)
        survivors_root = tempfile.mkdtemp(prefix="del_ref_")
        build_index(
            spark,
            corpus.filter(~F.col("conv_id").isin(self.DROP)),
            survivors_root,
            n_buckets=2,
        )
        compacted_root = tempfile.mkdtemp(prefix="del_cmp_")
        compact_index(spark, full_root, compacted_root)
        return full_root, survivors_root, compacted_root, before

    def _res(self, spark, root, q, **kw):
        return [
            (r["doc_id"], r["score"])
            for r in run_query(
                IndexReader(spark, IndexPaths(root)), q, k=200, **kw
            ).collect()
        ]

    def test_mask_is_instant_and_scores_stale(self, spark, del_roots):
        full_root, _, _, before = del_roots
        reader = IndexReader(spark, IndexPaths(full_root))
        got = {
            r["doc_id"]: (r["conv_id"], r["score"])
            for r in run_query(reader, "factor2", k=200).collect()
        }
        assert not {c for c, _ in got.values()} & set(self.DROP)
        # survivors keep their PRE-deletion scores (df/N intentionally
        # stale until compaction)
        for d, (_, s) in got.items():
            assert s == before[d]

    @pytest.mark.parametrize(
        "q", ["factor2", "factor2 factor3 -factor4", "( factor3 | factor5 ) factor2"]
    )
    def test_compacted_equals_fresh_build(self, spark, del_roots, q):
        _, survivors_root, compacted_root, _ = del_roots
        assert self._res(spark, compacted_root, q) == self._res(
            spark, survivors_root, q
        )

    def test_compacted_carries_no_tombstones(self, spark, del_roots):
        _, survivors_root, compacted_root, _ = del_roots
        assert not os.path.exists(
            os.path.join(compacted_root, "tombstones", "_SUCCESS")
        )
        with open(IndexPaths(compacted_root).corpus_stats) as f:
            cstats = json.load(f)
        with open(IndexPaths(survivors_root).corpus_stats) as f:
            sstats = json.load(f)
        assert cstats["doc_count"] == sstats["doc_count"]
        assert cstats["avg_len"] == sstats["avg_len"]

    def test_wand_consistent_under_tombstones(self, spark, del_roots):
        # the masked top-k is the head of the masked full ranking
        full_root, _, _, _ = del_roots
        reader = IndexReader(spark, IndexPaths(full_root))
        top = run_query(reader, "factor2 factor3", k=10).collect()
        assert len(top) == 10
        assert not {r["conv_id"] for r in top} & set(self.DROP)
        assert [(r["doc_id"], r["score"]) for r in top] == self._res(
            spark, full_root, "factor2 factor3"
        )[:10]

    def test_double_delete_idempotent(self, spark, del_roots):
        from marginaliasearch_spark.operators.index_build import delete_convs

        full_root, _, _, _ = del_roots
        delete_convs(spark, full_root, self.DROP[:3])  # re-append subset
        reader = IndexReader(spark, IndexPaths(full_root))
        got = {
            r["conv_id"] for r in run_query(reader, "factor2", k=200).collect()
        }
        assert not got & set(self.DROP)


def test_unreadable_tombstones_fail_closed(spark):
    """A tombstone set that cannot be read must raise — in the reader AND
    in compaction. Treating it as empty would return deleted
    conversations again, and compact_index would make that permanent."""
    import glob

    from py4j.protocol import Py4JJavaError

    from marginaliasearch_spark.operators.index_build import (
        compact_index,
        delete_convs,
    )

    root = tempfile.mkdtemp(prefix="tomb_bad_")
    build_index(spark, factor_corpus(spark, 32), root, n_buckets=1)
    assert delete_convs(spark, root, ["conv10"]) == 1
    got = run_query(IndexReader(spark, IndexPaths(root)), "factor2", k=50)
    assert "conv10" not in {r["conv_id"] for r in got.collect()}

    tomb_dir = IndexPaths(root).tombstones
    parts = glob.glob(os.path.join(tomb_dir, "part-*"))
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    # drop the checksum sidecars so the parquet read itself is what fails
    for crc in glob.glob(os.path.join(tomb_dir, ".part-*.crc")):
        os.remove(crc)
    with pytest.raises(Py4JJavaError):
        IndexReader(spark, IndexPaths(root))
    with pytest.raises(Py4JJavaError):
        compact_index(spark, root, tempfile.mkdtemp(prefix="tomb_bad_cmp_"))
