"""End-to-end: build index → query → verify against arithmetic + numpy oracles.

Ports the reference's integration test strategy:
- factor-oracle set correctness (IndexQueryServiceIntegrationSmokeTest.java:
  105-166 — docs are ints, words are factors, results checkable by division);
- BM25 rank/score exactness vs the independent numpy oracle (FIXTURES T1b);
- kill/resume build equivalence (north-rule resumability);
- parallelism-invariance of the built index (determinism at N vs 4N).
"""

import numpy as np
import pytest

from marginaliasearch_spark.operators.index_build import (
    build_index,
    read_manifest,
    read_postings,
)
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import (
    adversarial_corpus,
    bm25_corpus,
    factor_corpus,
)

from . import oracle_ref


@pytest.fixture(scope="module")
def factor_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("factor_idx"))
    build_index(spark, factor_corpus(spark, 512), root, n_buckets=2)
    return IndexReader(spark, root_paths(root))


def root_paths(root):
    from marginaliasearch_spark.operators.index_build import IndexPaths

    return IndexPaths(root)


def _convs(df):
    return {int(r["conv_id"].removeprefix("conv")) for r in df.collect()}


class TestFactorOracle:
    def test_and_with_exclusion(self, factor_index):
        # "2 3 5 -4" → multiples of 30 not divisible by 4 (reference smoke)
        res = run_query(
            factor_index, "factor2 factor3 factor5 -factor4", k=1000
        )
        expect = {i for i in range(1, 513) if i % 30 == 0 and i % 4 != 0}
        assert _convs(res) == expect

    def test_single_term(self, factor_index):
        res = run_query(factor_index, "factor127", k=1000)
        assert _convs(res) == {127, 254, 381, 508}

    def test_and_pair(self, factor_index):
        res = run_query(factor_index, "factor7 factor11", k=1000)
        assert _convs(res) == {i for i in range(1, 513) if i % 77 == 0}

    def test_missing_term_empty(self, factor_index):
        assert run_query(factor_index, "factor9999", k=10).count() == 0

    def test_or_paths(self, factor_index):
        # ( factor509 | factor510 ) factor2 → even docs divisible by 509 or 510
        res = run_query(factor_index, "( factor509 | factor510 ) factor2", k=1000)
        expect = {
            i
            for i in range(1, 513)
            if i % 2 == 0 and (i % 509 == 0 or i % 510 == 0)
        }
        assert _convs(res) == expect

    def test_spec_limit_turns(self, factor_index):
        # conversations have 1 + (i % 4) turns
        res = run_query(factor_index, "factor128 turns>2", k=1000)
        expect = {i for i in {128, 256, 384, 512} if 1 + (i % 4) > 2}
        assert _convs(res) == expect

    def test_topk_limit_and_order(self, factor_index):
        res = run_query(factor_index, "factor2", k=5)
        rows = res.collect()
        assert len(rows) == 5
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores)  # ascending = best first

    def test_group_cap(self, factor_index):
        """A7 per-group result cap: ≤cap best-scoring rows per group
        (IndexQueryExecution.java:162-177 resultsByDomain)."""
        full = run_query(factor_index, "factor2", k=1000).collect()
        capped = run_query(
            factor_index, "factor2", k=1000, group_cap=2, group_col="n_turns"
        ).collect()
        # expected: best 2 per n_turns group by (score, doc_id)
        best: dict[int, list] = {}
        for r in sorted(full, key=lambda r: (r["score"], r["doc_id"])):
            best.setdefault(r["n_turns"], []).append(r["conv_id"])
        expect = {c for lst in best.values() for c in lst[:2]}
        assert {r["conv_id"] for r in capped} == expect


class TestBm25Oracle:
    @pytest.fixture(scope="class")
    def corpus_and_reader(self, spark, tmp_path_factory):
        df = bm25_corpus(spark, n_convs=200, seed=42)
        rows = df.collect()
        turns: dict[str, list[tuple[int, str]]] = {}
        for r in rows:
            turns.setdefault(r["conv_id"], []).append((r["turn_idx"], r["text"]))
        docs = {cid: oracle_ref.assemble(t) for cid, t in turns.items()}
        root = str(tmp_path_factory.mktemp("bm25_idx"))
        build_index(spark, df, root, n_buckets=2)
        return docs, IndexReader(spark, root_paths(root))

    QUERIES = [
        (["word00"], []),
        (["word05"], []),
        (["word30"], []),
        (["word49"], []),
        (["word00", "word01"], []),
        (["word02", "word10"], []),
        (["word01", "word20", "word03"], []),
        (["word00"], ["word01"]),
        (["word04", "word07"], ["word00"]),
        (["word45", "word48"], []),
    ]

    @pytest.mark.parametrize("include,exclude", QUERIES)
    def test_rank_and_score_exact(self, corpus_and_reader, include, exclude):
        docs, reader = corpus_and_reader
        expect = oracle_ref.bm25_rank(docs, include, exclude, k=10)
        q = " ".join(include + [f"-{w}" for w in exclude])
        got = [
            (r["conv_id"], r["score"]) for r in run_query(reader, q, k=10).collect()
        ]
        assert len(got) == len(expect)
        for (g_id, g_s), (e_id, e_s) in zip(got, expect):
            assert abs(g_s - e_s) < 1e-9, (g_id, e_id)
        # rank identity where scores are separated
        for i, ((g_id, g_s), (e_id, e_s)) in enumerate(zip(got, expect)):
            near_tie = any(
                abs(e_s - other_s) < 1e-9
                for j, (_, other_s) in enumerate(expect)
                if j != i
            )
            if not near_tie:
                assert g_id == e_id

    def test_randomized_differential_sweep(self, corpus_and_reader):
        """Seeded random query shapes (1-3 includes, 0-2 excludes over the
        corpus vocabulary) differentially checked against the independent
        numpy oracle — widens the fixed QUERIES net to arbitrary term
        combinations, deterministic across runs."""
        import random

        docs, reader = corpus_and_reader
        rng = random.Random(20260818)
        vocab = [f"word{i:02d}" for i in range(50)]
        for _ in range(30):
            words = rng.sample(vocab, rng.randint(1, 5))
            n_inc = rng.randint(1, min(3, len(words)))
            include, exclude = words[:n_inc], words[n_inc:][: rng.randint(0, 2)]
            expect = oracle_ref.bm25_rank(docs, include, exclude, k=10)
            q = " ".join(include + [f"-{w}" for w in exclude])
            got = [
                (r["conv_id"], r["score"])
                for r in run_query(reader, q, k=10).collect()
            ]
            assert len(got) == len(expect), q
            for (g_id, g_s), (e_id, e_s) in zip(got, expect):
                assert abs(g_s - e_s) < 1e-9, (q, g_id, e_id)

    def test_randomized_wand_equivalence_sweep(self, corpus_and_reader):
        """Random single/AND/OR/AND-of-OR shapes (those block-max WAND once
        served) against the oracle: a doc scores its best fully matched
        path, so the OR-tree's top-k scores are the best of every path's
        own ranking, lowest normalized score first."""
        import random

        docs, reader = corpus_and_reader
        rng = random.Random(20260819)
        vocab = [f"word{i:02d}" for i in range(50)]
        for _ in range(12):
            shape = rng.randrange(3)
            if shape == 0:  # single / plain AND
                paths = [rng.sample(vocab, rng.randint(1, 3))]
                q = " ".join(paths[0])
            elif shape == 1:  # pure OR
                a, b = rng.sample(vocab, 2)
                paths, q = [[a], [b]], f"( {a} | {b} )"
            else:  # mixed AND-of-OR
                a, b, c = rng.sample(vocab, 3)
                paths, q = [[a, c], [b, c]], f"( {a} | {b} ) {c}"
            best: dict[str, float] = {}
            for p in paths:
                for conv, s in oracle_ref.bm25_rank(docs, p, k=len(docs)):
                    best[conv] = min(s, best.get(conv, s))
            expect = sorted(best.values())[:10]
            got = [r["score"] for r in run_query(reader, q, k=10).collect()]
            assert len(got) == len(expect), q
            for g, e in zip(got, expect):
                assert abs(g - e) < 1e-9, q


class TestPhrase:
    @pytest.fixture(scope="class")
    def adv_reader(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("adv_idx"))
        build_index(spark, adversarial_corpus(spark), root, n_buckets=1)
        return IndexReader(spark, root_paths(root))

    def test_phrase_match(self, adv_reader):
        res = run_query(adv_reader, '"single turn conversation"', k=10)
        assert [r["conv_id"] for r in res.collect()] == ["adv5"]

    def test_phrase_order_matters(self, adv_reader):
        res = run_query(adv_reader, '"conversation single"', k=10)
        assert res.count() == 0

    def test_separator_token_searchable(self, adv_reader):
        res = run_query(adv_reader, "foo.bar-baz_qux", k=10)
        assert [r["conv_id"] for r in res.collect()] == ["adv2"]

    def test_overlong_token_not_indexed(self, adv_reader):
        assert run_query(adv_reader, "x" * 80, k=10).count() == 0


class TestResumability:
    def test_kill_resume_identical(self, spark, tmp_path_factory):
        df = factor_corpus(spark, 128)
        root_a = str(tmp_path_factory.mktemp("resume_a"))
        root_b = str(tmp_path_factory.mktemp("resume_b"))
        build_index(spark, df, root_a, n_buckets=4)  # uninterrupted
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index(spark, df, root_b, n_buckets=4, fail_after_bucket=2)
        m = read_manifest(root_paths(root_b))
        assert len(m) == 2  # partial commit survived
        build_index(spark, df, root_b, n_buckets=4)  # resume
        m2 = read_manifest(root_paths(root_b))
        assert len(m2) == 4 and all(x["status"] == "committed" for x in m2)
        # identical decoded content (orderless)
        def decoded(root):
            from marginaliasearch_spark.functions.blocks import (
                DECODED_SCHEMA,
                decode_blocks,
            )

            return {
                (r["term_id"], r["doc_id"], r["tf"])
                for r in read_postings(spark, root_paths(root))
                .mapInPandas(decode_blocks, schema=DECODED_SCHEMA)
                .collect()
            }

        assert decoded(root_a) == decoded(root_b)

    def test_resume_skips_committed(self, spark, tmp_path_factory):
        df = factor_corpus(spark, 64)
        root = str(tmp_path_factory.mktemp("resume_skip"))
        build_index(spark, df, root, n_buckets=3)
        stamps = {
            m["partition_id"]: m["elapsed_s"] for m in read_manifest(root_paths(root))
        }
        build_index(spark, df, root, n_buckets=3)  # no-op rerun
        stamps2 = {
            m["partition_id"]: m["elapsed_s"] for m in read_manifest(root_paths(root))
        }
        assert stamps == stamps2  # manifests untouched → buckets skipped


class TestParallelismInvariance:
    def test_same_index_at_4x_partitions(self, spark, tmp_path_factory):
        """The built index's logical content must not depend on parallelism
        (SURVEY §8 risk 5) — the precondition for N vs 4N scaling runs."""
        from marginaliasearch_spark.functions.blocks import (
            DECODED_SCHEMA,
            decode_blocks,
        )

        df = bm25_corpus(spark, n_convs=60, seed=7)
        roots = []
        for parts in (2, 8):
            root = str(tmp_path_factory.mktemp(f"par{parts}"))
            build_index(spark, df, root, n_buckets=1, partitions=parts)
            roots.append(root)

        def decoded(root):
            return {
                (r["term_id"], r["doc_id"], r["tf"])
                for r in read_postings(spark, root_paths(root))
                .mapInPandas(decode_blocks, schema=DECODED_SCHEMA)
                .collect()
            }

        assert decoded(roots[0]) == decoded(roots[1])


class TestYearSpecLimit:
    """`year[=><]N` — the reference's YearTerm specification limit
    (QueryParser.java:229-231) over the year stamped into doc stats from
    the conversation's first turn timestamp."""

    @pytest.fixture(scope="class")
    def year_index(self, spark, tmp_path_factory):
        import datetime

        from marginaliasearch_spark.sources.transcripts import (
            TRANSCRIPT_SCHEMA,
        )

        rows = [
            (
                f"y{i}",
                t,
                "user",
                "common marker",
                "",
                # first turn pins the year; a later turn in a DIFFERENT
                # year must not move it (min-ts semantics)
                datetime.datetime(2020 + i % 4 + t, 3, 1 + i % 20),
            )
            for i in range(16)
            for t in range(2)
        ]
        df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
        root = str(tmp_path_factory.mktemp("year_idx"))
        build_index(spark, df, root, n_buckets=1)
        return IndexReader(spark, root_paths(root))

    def _ids(self, df):
        return {int(r["conv_id"][1:]) for r in df.collect()}

    def test_year_gt(self, year_index):
        got = self._ids(run_query(year_index, "common year>2021", k=100))
        assert got == {i for i in range(16) if 2020 + i % 4 > 2021}

    def test_year_eq(self, year_index):
        got = self._ids(run_query(year_index, "common year=2020", k=100))
        assert got == {i for i in range(16) if i % 4 == 0}

    def test_year_le_all(self, year_index):
        got = self._ids(run_query(year_index, "common year<=2023", k=100))
        assert got == set(range(16))

    def test_tsless_source_stamps_zero(self, spark):
        from marginaliasearch_spark.operators.ingest import (
            build_journal,
            doc_stats,
        )

        df = spark.createDataFrame(
            [("c0", 0, "user", "hello world", "")],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        ds = doc_stats(build_journal(df)).collect()
        assert len(ds) == 1 and ds[0]["year"] == 0


class TestAdvisoryTerms:
    """``( word ... )`` without ``|`` = the reference's advisory group
    (QueryParser.java:25 handleAdvisoryTerms): terms must match but are
    excluded from ranking."""

    def test_advice_filters_without_scoring(self, factor_index):
        # factor2 ( factor3 ) → multiples of 6, scored by factor2 ONLY:
        # every result must score identically to the same doc in the plain
        # factor2 query (advice contributes nothing to the score)
        plain = {
            r["doc_id"]: r["score"]
            for r in run_query(factor_index, "factor2", k=1000).collect()
        }
        adv = run_query(factor_index, "factor2 ( factor3 )", k=1000).collect()
        assert {int(r["conv_id"].removeprefix("conv")) for r in adv} == {
            i for i in range(1, 513) if i % 6 == 0
        }
        for r in adv:
            assert r["score"] == plain[r["doc_id"]]

    def test_advice_differs_from_ranked_and(self, factor_index):
        # same candidate set as the ranked AND, different scores
        ranked = run_query(factor_index, "factor2 factor3", k=1000).collect()
        adv = run_query(factor_index, "factor2 ( factor3 )", k=1000).collect()
        assert {r["doc_id"] for r in ranked} == {r["doc_id"] for r in adv}
        s_ranked = {r["doc_id"]: r["score"] for r in ranked}
        assert any(s_ranked[r["doc_id"]] != r["score"] for r in adv)

    def test_unknown_advice_term_empties(self, factor_index):
        assert run_query(factor_index, "factor2 ( factor9999 )", k=10).count() == 0

    def test_multiword_advice_group(self, factor_index):
        got = {
            int(r["conv_id"].removeprefix("conv"))
            for r in run_query(
                factor_index, "factor5 ( factor3 factor4 )", k=1000
            ).collect()
        }
        assert got == {i for i in range(1, 513) if i % 60 == 0}

    def test_or_parens_still_compiled(self, factor_index):
        # a paren group WITH | keeps compiled-OR semantics (ranked)
        res = run_query(factor_index, "( factor509 | factor510 ) factor2", k=100)
        got = {int(r["conv_id"].removeprefix("conv")) for r in res.collect()}
        assert got == {
            i for i in range(1, 513) if i % 2 == 0 and (i % 509 == 0 or i % 510 == 0)
        }

    def test_wand_matches_plain_with_advice(self, factor_index):
        # the top-k cut of an advice query is the head of its full ranking
        a = run_query(factor_index, "factor2 ( factor3 )", k=20).collect()
        full = run_query(factor_index, "factor2 ( factor3 )", k=1000).collect()
        assert len(a) == 20
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in full
        ][:20]


class TestTemporalBias:
    """RECENT/OLD temporal-bias ranking (IndexResultRankingService:322-330):
    -|year - anchor| * weight joins the document bonus; anchors are the
    index's own min/max year (deterministic divergence, scoring.py)."""

    @pytest.fixture(scope="class")
    def year_index(self, spark, tmp_path_factory):
        import datetime

        from marginaliasearch_spark.sources.transcripts import (
            TRANSCRIPT_SCHEMA,
        )

        rows = [
            (f"y{i}", 0, "user", "common marker", "",
             datetime.datetime(2020 + i % 4, 3, 1))
            for i in range(16)
        ]
        df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
        root = str(tmp_path_factory.mktemp("tb_idx"))
        build_index(spark, df, root, n_buckets=1)
        return IndexReader(spark, root_paths(root))

    def _years(self, reader, bias, k=16):
        from marginaliasearch_spark.operators.query_exec import RankingParams

        rows = run_query(
            reader, "common", k=k,
            ranking=RankingParams(temporal_bias=bias),
        ).collect()
        return [2020 + int(r["conv_id"][1:]) % 4 for r in rows]

    def test_anchor_probe(self, year_index):
        assert year_index.year_range == (2020, 2023)

    def test_recent_orders_new_first(self, year_index):
        ys = self._years(year_index, "recent")
        assert ys == sorted(ys, reverse=True)  # identical text → year decides
        assert ys[0] == 2023

    def test_old_orders_old_first(self, year_index):
        ys = self._years(year_index, "old")
        assert ys == sorted(ys)
        assert ys[0] == 2020

    def test_none_is_plain_bm25(self, year_index):
        from marginaliasearch_spark.operators.query_exec import RankingParams

        a = run_query(year_index, "common", k=16).collect()
        b = run_query(
            year_index, "common", k=16, ranking=RankingParams()
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ]

    def test_combines_with_penalties(self, year_index):
        from marginaliasearch_spark.operators.query_exec import RankingParams

        rows = run_query(
            year_index, "common", k=16,
            ranking=RankingParams(penalties=True, temporal_bias="recent"),
        ).collect()
        assert len(rows) == 16

    def test_bad_bias_rejected(self, year_index):
        from marginaliasearch_spark.operators.query_exec import RankingParams

        with pytest.raises(ValueError, match="temporal_bias"):
            run_query(
                year_index, "common", k=4,
                ranking=RankingParams(temporal_bias="sideways"),
            ).collect()


class TestExplainScores:
    """debugRankingFactors parity: each result's per-term BM25 partials
    must reconstruct its final score exactly (single-path queries:
    score = normalize(Σ partials))."""

    def test_partials_reconstruct_score(self, factor_index):
        import math

        from marginaliasearch_spark.operators.query_exec import (
            explain_scores,
        )

        rows = explain_scores(
            factor_index, "factor2 factor3", k=20, round_to=9
        ).collect()
        assert rows
        for r in rows:
            raw = r["bm25_factor2"] + r["bm25_factor3"]
            assert r["bm25_factor2"] > 0 and r["bm25_factor3"] > 0
            assert abs(math.sqrt(501.0 / (1.0 + raw)) - r["score"]) < 1e-6

    def test_missing_term_explains_zero(self, factor_index):
        from marginaliasearch_spark.operators.query_exec import (
            explain_scores,
        )

        rows = explain_scores(
            factor_index, "( factor2 | factor9999 )", k=5
        ).collect()
        assert rows and all(r["bm25_factor9999"] == 0.0 for r in rows)
