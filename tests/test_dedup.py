"""Dedup-operator tests: planted near-duplicates must be found, and the
banded LSH / pigeonhole joins must agree with brute force on small corpora
(mirrors the reference's fuzz-vs-brute-force strategy,
SkipListFuzzTests.java:74-260, applied to our training-data ops)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators import dedup

WORDS = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
    "kilo lima mike november oscar papa quebec romeo sierra tango",
    "uniform victor whiskey xray yankee zulu one two three four",
]


def _corpus(spark):
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(40):
        toks = rng.choice(vocab, size=60).tolist()
        rows.append((i, " ".join(toks)))
    # planted near-dup pair: 60 tokens, 2 substituted (≈93% shingle overlap)
    base = rng.choice(vocab, size=60).tolist()
    mod = list(base)
    mod[10], mod[40] = "changed1", "changed2"
    rows.append((100, " ".join(base)))
    rows.append((101, " ".join(mod)))
    # planted exact dup of doc 0
    rows.append((102, rows[0][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    return _corpus(spark).cache()


class TestExactDedup:
    def test_exact_group(self, spark, corpus):
        out = dedup.exact_dedup(corpus).collect()
        groups = {r["doc_id"]: r["n_dups"] for r in out}
        assert groups[0] == 2  # doc 0 + its copy 102, keeper = min id
        assert 102 not in groups


class TestMinHash:
    def test_planted_pair_found(self, spark, corpus):
        pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.5).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert (100, 101) in found
        assert (0, 102) in found  # exact dup: est_jaccard 1.0
        exact = [r for r in pairs if (r["doc_a"], r["doc_b"]) == (0, 102)]
        assert exact[0]["est_jaccard"] == 1.0

    def test_no_random_pairs_at_high_threshold(self, spark, corpus):
        pairs = dedup.minhash_lsh_pairs(corpus, threshold=0.9).collect()
        found = {(r["doc_a"], r["doc_b"]) for r in pairs}
        assert found <= {(100, 101), (0, 102)}

    def test_signature_deterministic_across_partitioning(self, spark, corpus):
        s1 = dedup.minhash_signatures(corpus.repartition(1)).collect()
        s8 = dedup.minhash_signatures(corpus.repartition(8)).collect()
        d1 = {r["doc_id"]: r["signature"] for r in s1}
        d8 = {r["doc_id"]: r["signature"] for r in s8}
        assert d1 == d8


class TestSimHash:
    def test_planted_pair_within_hamming(self, spark, corpus):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(corpus).collect()}
        assert sh[0] == sh[102]  # identical text → identical simhash
        ham = bin((sh[100] ^ sh[101]) & (2**64 - 1)).count("1")
        assert ham <= 10  # 93% feature overlap keeps hashes close

    def test_banded_join_equals_brute_force(self, spark, corpus):
        """Pigeonhole banding must recover exactly the ≤max_hamming pairs."""
        max_h = 6
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(corpus).collect()}
        ids = sorted(sh)
        brute = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= max_h
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.simhash_pairs(corpus, max_hamming=max_h).collect()
        }
        assert got == brute

    def test_empty_and_short_docs(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "one two"), (4, None)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["simhash"] for r in dedup.simhash_bits(docs).collect()}
        assert out[1] == 0 and out[4] == 0
        assert out[2] != 0 and out[3] != 0


class TestNgramJaccard:
    def test_exact_vs_brute_force(self, spark, corpus):
        """Inverted-index shingle join must equal brute-force shingle-set
        jaccard on the planted corpus."""
        rows = {r["doc_id"]: r["text"] for r in corpus.collect()}

        def shingles(text):
            toks = text.lower().split()
            if not toks:
                return set()
            if len(toks) < 3:
                return {tuple(toks)}
            return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

        sets = {d: shingles(t) for d, t in rows.items()}
        ids = sorted(sets)
        brute = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                u = len(sets[a] | sets[b])
                if u:
                    j = len(sets[a] & sets[b]) / u
                    if j >= 0.5:
                        brute[(a, b)] = round(j, 9)
        got = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
        }
        assert got == brute
        assert (100, 101) in got  # planted near-dup pair survives

    def test_max_df_values_exact(self, spark, corpus):
        """max_df prunes candidate generation only — any pair emitted must
        carry the same jaccard as the unfiltered run."""
        full = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.3).collect()
        }
        pruned = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in dedup.ngram_jaccard_pairs(
                corpus, threshold=0.3, max_df=10
            ).collect()
        }
        assert set(pruned) <= set(full)
        for pair, j in pruned.items():
            assert full[pair] == j


class TestJaccard:
    def test_exact_jaccard_values(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
            "doc_id long, text string",
        )
        out = dedup.jaccard_candidates(docs, threshold=0.5).collect()
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
        assert pairs == {(1, 2): pytest.approx(3 / 5)}

    @pytest.mark.parametrize(
        "threshold,max_df", [(0.3, None), (0.5, None), (0.8, None), (0.5, 25)]
    )
    def test_prefix_filter_is_exact(self, spark, corpus, threshold, max_df):
        """Prefix + size filtering must not change the result set (the
        filters only drop pairs that provably cannot reach τ), and with
        ``max_df`` set both branches must still compute jaccard over the
        FULL token sets (only candidate *generation* is pruned)."""
        fast = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in dedup.jaccard_candidates(
                corpus, threshold=threshold, max_df=max_df, prefix_filter=True
            ).collect()
        }
        slow = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in dedup.jaccard_candidates(
                corpus, threshold=threshold, max_df=max_df, prefix_filter=False
            ).collect()
        }
        assert fast == slow
        if max_df is not None:
            # jaccard values must equal the unfiltered run's for shared pairs
            full = {
                (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
                for r in dedup.jaccard_candidates(
                    corpus, threshold=threshold, prefix_filter=False
                ).collect()
            }
            for pair, j in fast.items():
                assert full[pair] == j


class TestDuplicateSpans:
    """duplicate_spans (suffix-array-style span dedup) vs a Python
    brute-force mirror: rolling-window hash counts + island merge."""

    @staticmethod
    def _brute(texts: dict[int, str], window: int) -> set[tuple[int, int, int]]:
        import re
        from collections import Counter

        tok = {
            d: [
                t
                for t in re.split("[^a-z0-9]+", s.lower())
                if t and len(t) < 64
            ]
            for d, s in texts.items()
        }
        cnt: Counter = Counter()
        wins: dict[int, list[str]] = {}
        for d, toks in tok.items():
            ws = [
                " ".join(toks[i : i + window])
                for i in range(len(toks) - window + 1)
            ]
            wins[d] = ws
            cnt.update(ws)
        spans = set()
        for d, ws in wins.items():
            starts = [i + 1 for i, w in enumerate(ws) if cnt[w] >= 2]
            cur_start = cur_end = None
            for s in starts:
                e = s + window - 1
                if cur_end is not None and s <= cur_end + 1:
                    cur_end = max(cur_end, e)
                else:
                    if cur_start is not None:
                        spans.add((d, cur_start, cur_end - cur_start + 1))
                    cur_start, cur_end = s, e
            if cur_start is not None:
                spans.add((d, cur_start, cur_end - cur_start + 1))
        return spans

    def test_matches_brute_force(self, spark):
        shared = "zero one two three four five six seven eight nine ten eleven"
        texts = {
            # cross-doc duplicated 12-token run at different offsets
            0: "aa bb cc " + shared + " dd ee",
            1: shared + " ff gg hh ii",
            # within-doc repeat of an 8-token run (twice, disjoint)
            2: "p1 p2 p3 p4 p5 p6 p7 p8 mid1 mid2 mid3 p1 p2 p3 p4 p5 p6 p7 p8 tail",
            # shorter than the window → no windows at all
            3: "tiny doc here",
            # no duplicated content
            4: "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13",
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {
            (r["doc_id"], r["span_start"], r["span_len"])
            for r in dedup.duplicate_spans(df, window=8).collect()
        }
        assert got == self._brute(texts, 8)
        # sanity: the planted cross-doc and within-doc dups are present
        assert any(d == 0 for d, _, _ in got)
        assert any(d == 2 for d, _, _ in got)
        assert not any(d in (3, 4) for d, _, _ in got)

    def test_overlapping_windows_merge_to_one_span(self, spark):
        """A 12-token duplicated run yields 5 overlapping 8-windows that
        must merge into ONE maximal span of length 12."""
        run = " ".join(f"w{i}" for i in range(12))
        df = spark.createDataFrame(
            [(0, "x1 x2 " + run), (1, run + " y1 y2")],
            "doc_id long, text string",
        )
        rows = dedup.duplicate_spans(df, window=8).collect()
        by_doc = {r["doc_id"]: (r["span_start"], r["span_len"]) for r in rows}
        assert by_doc[0] == (3, 12)
        assert by_doc[1] == (1, 12)

    def test_fuzz_matches_brute_force(self, spark):
        rng = np.random.default_rng(11)
        vocab = [f"t{i}" for i in range(30)]  # small vocab → chance repeats
        texts = {
            d: " ".join(rng.choice(vocab, size=int(rng.integers(3, 40))))
            for d in range(25)
        }
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        for window in (4, 6):
            got = {
                (r["doc_id"], r["span_start"], r["span_len"])
                for r in dedup.duplicate_spans(df, window=window).collect()
            }
            assert got == self._brute(texts, window)


def test_minhash_between_consistent_with_self_join(spark):
    """pairs_between(A, B) must equal the cross-(A,B) subset of the
    self-join pairs over A ∪ B (ids disjoint), at a pigeonhole-lossless
    threshold — and identical docs across the two corpora must surface."""
    rows_a, rows_b = [], []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        rows_a.append((i, f"{base} filler{i}"))
    for i in range(30, 60):
        # 5 delta docs are near-copies of base docs, one is identical
        if i < 35:
            rows_b.append((i, f"{base} filler{i - 30} extra"))
        elif i == 35:
            rows_b.append((i, f"{base} filler0"))
        else:
            rows_b.append((i, f"unique{i} " * 12))
    a = spark.createDataFrame(rows_a, "doc_id long, text string")
    b = spark.createDataFrame(rows_b, "doc_id long, text string")
    between = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs_between(a, b, threshold=0.8).collect()
    }
    self_pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(a.union(b), threshold=0.8).collect()
    }
    cross = {
        (pa, pb): v
        for (pa, pb), v in self_pairs.items()
        if (pa < 30) != (pb < 30)
    }
    # self-join orients doc_a < doc_b; between orients (A, B) — same here
    assert between == cross
    assert between[(0, 35)] == 1.0  # the identical doc is reported


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def test_banded_equals_allpairs(spark):
    """hamming_band_pairs (the pigeonhole-banded join under simhash_pairs)
    must return exactly the brute-force all-pairs set within the budget."""
    rng = np.random.RandomState(3)
    base = rng.randint(-(2**62), 2**62, size=40).tolist()
    # plant close pairs at controlled hamming distances
    rows = [(i, int(h)) for i, h in enumerate(base)]
    for k, d in enumerate([0, 1, 7, 8, 12]):
        h = base[k]
        flipped = h ^ sum(1 << (5 * j + 2) for j in range(d))
        flipped = flipped - (1 << 64) if flipped >= 1 << 63 else flipped
        rows.append((100 + k, int(flipped)))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.hamming_band_pairs(
            df, "doc_id", "simhash", 7, "doc"
        ).collect()
    }
    want = {
        (a, ha, b, hb)
        for a, ha in rows
        for b, hb in rows
        if a < b and _ham(ha, hb) <= 7
    }
    want = {(a, b, _ham(ha, hb)) for a, ha, b, hb in want}
    assert got == want
    # the d=8 and d=12 plants must NOT appear (hamming > budget)
    assert all(p[2] <= 7 for p in got)
    assert (2, 102, 7) in got and not any(b == 103 for _, b, _ in got)


class TestBoilerplateLineRemoval:
    """C4/RefinedWeb corpus-boilerplate line removal: lines repeated
    >= min_count corpus-wide are stripped everywhere; originals, order,
    blanks, and row count are preserved."""

    DOCS = [
        (1, "COOKIE banner\nreal content one\nfooter text"),
        (2, "cookie banner\nreal content two\n\nfooter text"),
        (3, "Cookie Banner  \nunique line\nfooter text"),
        (4, "cookie banner\nfooter text"),         # fully boilerplate
        (5, "solo document with one line"),
        (6, ""),                                   # empty text
    ]

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            self.DOCS, "doc_id long, text string"
        ).cache()

    def test_boilerplate_set(self, spark, docs):
        got = {
            (r["line_key"], r["n"])
            for r in dedup.boilerplate_lines(docs, min_count=3).collect()
        }
        # case/trim-normalized: 'cookie banner' x4, 'footer text' x4;
        # blanks never counted
        assert got == {("cookie banner", 4), ("footer text", 4)}

    def test_strip_preserves_rows_order_and_blanks(self, spark, docs):
        out = {
            r["doc_id"]: r["text"]
            for r in dedup.strip_boilerplate(docs, min_count=3).collect()
        }
        assert len(out) == len(self.DOCS)
        assert out[1] == "real content one"
        assert out[2] == "real content two\n"       # blank line survives
        assert out[3] == "unique line"
        assert out[4] == ""                          # fully boilerplate
        assert out[5] == "solo document with one line"
        assert out[6] == ""

    def test_min_count_boundary(self, spark, docs):
        # at min_count=5 nothing repeats often enough — identity transform
        out = {
            r["doc_id"]: r["text"]
            for r in dedup.strip_boilerplate(docs, min_count=5).collect()
        }
        assert out == {d: t for d, t in self.DOCS}

    def test_extra_columns_pass_through(self, spark, docs):
        df = docs.withColumn("source", F.concat(F.lit("s"), F.col("doc_id")))
        out = dedup.strip_boilerplate(df, min_count=3)
        assert out.columns == df.columns
        assert {r["source"] for r in out.collect()} == {f"s{d}" for d, _ in self.DOCS}
