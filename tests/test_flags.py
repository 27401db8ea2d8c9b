"""Term-flag (role/tool span) and priority-tier tests.

Flags are the transcript analogue of the reference's WordFlags byte
(WordFlags.java:6-39); the prio tier mirrors the doc-ids-only priority
reverse index (PrioPreindex, code/index/readme.md). Oracle = brute-force
recomputation from the collected corpus rows."""

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.ingest import (
    FLAG_ASSISTANT,
    FLAG_SYSTEM,
    FLAG_TOOL,
    FLAG_USER,
    ROLE_FLAG,
)
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = bm25_corpus(spark, 150)
    rows = corpus.collect()
    root = str(tmp_path_factory.mktemp("flagidx"))
    build_index(spark, corpus, root, n_buckets=1)
    return rows, IndexReader(spark, IndexPaths(root))


def _brute_flags(rows):
    """(conv_id, term) → expected flag bits from the raw turns."""
    out: dict[tuple[str, str], int] = {}
    for r in rows:
        bits = ROLE_FLAG.get(r["role"], 0)
        if (r["tool"] or "") != "":
            bits |= FLAG_TOOL
        for tok in r["text"].lower().split():
            key = (r["conv_id"], tok)
            out[key] = out.get(key, 0) | bits
    return out


def test_journal_flags_match_brute_force(spark, built):
    rows, reader = built
    expect = _brute_flags(rows)
    # decode a few terms' postings and compare flags per doc
    conv_of = {
        r["doc_id"]: r["conv_id"]
        for r in reader.doc_stats.select("doc_id", "conv_id").collect()
    }
    for word in ["word00", "word05", "word21"]:
        tid, _ = reader.term_stats([word])[word]
        for r in reader.decode_term(tid).collect():
            cid = conv_of[r["doc_id"]]
            assert r["flags"] == expect[(cid, word)], (cid, word)


def test_role_gate_matches_brute_force(spark, built):
    rows, reader = built
    expect_flags = _brute_flags(rows)
    convs = {r["conv_id"] for r in rows}
    for gate, bit in [("system", FLAG_SYSTEM), ("user", FLAG_USER),
                      ("assistant", FLAG_ASSISTANT), ("tool", FLAG_TOOL)]:
        got = {
            r["conv_id"]
            for r in run_query(reader, f"word01 word04 in:{gate}", k=1000).collect()
        }
        want = {
            c
            for c in convs
            if all(
                expect_flags.get((c, w), 0) & bit
                for w in ("word01", "word04")
            )
        }
        assert got == want, gate


def test_gate_scores_equal_ungated_scores(spark, built):
    """The gate filters candidates; scores of surviving docs are unchanged."""
    rows, reader = built
    plain = {
        r["conv_id"]: r["score"]
        for r in run_query(reader, "word02 word03", k=1000).collect()
    }
    gated = run_query(reader, "word02 word03 in:system", k=1000).collect()
    assert len(gated) > 0
    for r in gated:
        assert r["score"] == pytest.approx(plain[r["conv_id"]], abs=1e-12)


def test_prio_tier_exists_and_is_smaller(spark, built):
    _, reader = built
    assert reader.prio is not None
    full_docs = reader.postings.agg(F.sum("n_docs")).collect()[0][0]
    prio_docs = reader.prio.agg(F.sum("n_docs")).collect()[0][0]
    assert 0 < prio_docs < full_docs


def test_unreadable_prio_tier_fails_closed(spark, tmp_path):
    """A priority tier that cannot be read must raise — in the reader AND
    in compaction, before compaction writes anything. Treating it as
    absent would drop every flag-gated hit, and compact_index would write
    an index with no tier at all."""
    import glob
    import os

    from py4j.protocol import Py4JJavaError

    from marginaliasearch_spark.operators.index_build import compact_index

    root = str(tmp_path / "idx")
    build_index(spark, bm25_corpus(spark, 40), root, n_buckets=1)
    prio_dir = IndexPaths(root).prio
    parts = glob.glob(os.path.join(prio_dir, "**", "part-*"), recursive=True)
    assert parts
    for p in parts:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    # drop the checksum sidecars so the parquet read itself is what fails
    for crc in glob.glob(
        os.path.join(prio_dir, "**", ".part-*.crc"), recursive=True
    ):
        os.remove(crc)
    with pytest.raises(Py4JJavaError):
        IndexReader(spark, IndexPaths(root))
    out_root = str(tmp_path / "cmp")
    with pytest.raises(Py4JJavaError):
        compact_index(spark, root, out_root)
    # the failed compaction wrote nothing: no postings, no manifest
    out = IndexPaths(out_root)
    assert not os.path.exists(out.postings)
    assert not os.path.exists(out.manifest_dir)


def test_no_flagged_turns_means_no_prio_tier(spark, tmp_path):
    """A corpus without system/tool turns commits an empty tier: the
    reader treats it as absent and a system gate matches nothing."""
    import os

    corpus = bm25_corpus(spark, 40).filter(
        F.col("role").isin("user", "assistant")
    )
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, n_buckets=1)
    assert os.path.exists(os.path.join(IndexPaths(root).prio, "_SUCCESS"))
    reader = IndexReader(spark, IndexPaths(root))
    assert reader.prio is None
    assert run_query(reader, "word01 in:system", k=10).collect() == []
    assert run_query(reader, "word01 in:user", k=10).collect()


def test_unknown_gate_raises(spark, built):
    _, reader = built
    with pytest.raises(ValueError, match="unknown role gate"):
        run_query(reader, "word01 in:nosuchrole", k=5)


def test_null_text_and_sentinel_keep_flags_aligned(spark):
    """A NULL turn and a literal \\x00turn\\x00 sentinel in the input must
    not shift the token→turn flag mapping (journal assembly coalesces NULL
    text and strips NUL bytes, so break-marker count == n_turns - 1)."""
    from marginaliasearch_spark.operators.ingest import build_journal

    rows = [
        # conv a: system turn, NULL user turn, tool turn — the tool-turn
        # token must still carry FLAG_TOOL even with the NULL turn between
        ("a", 0, "system", "sysword", None, None),
        ("a", 1, "user", None, None, None),
        ("a", 2, "tool", "toolword", "calc", None),
        # conv b: user text smuggles the break sentinel — must not create
        # an extra turn segment (assistant token keeps FLAG_ASSISTANT)
        ("b", 0, "user", "plain \x00turn\x00 user2", None, None),
        ("b", 1, "assistant", "answord", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    j = {
        (r["conv_id"], r["term"]): r["flags"]
        for r in build_journal(df).filter(F.col("term").isNotNull()).collect()
    }
    assert j[("a", "sysword")] == FLAG_SYSTEM
    assert j[("a", "toolword")] == FLAG_TOOL
    assert j[("b", "plain")] == FLAG_USER
    assert j[("b", "user2")] == FLAG_USER
    assert j[("b", "answord")] == FLAG_ASSISTANT
    # NULs stripped → the sentinel degrades to the harmless word "turn"
    # (indexed as user text), NOT a turn-break marker
    assert j[("b", "turn")] == FLAG_USER


def test_query_parser_rejects_garbage_with_valueerror():
    """Queries are user input: any garbage string must parse or raise
    ValueError — never IndexError (truncated '(a') or AssertionError
    (stray ')', which an `assert` would also skip under python -O)."""
    import random

    from marginaliasearch_spark.plans import parser as qp

    for q in ["(a", "a)", "((", "(a | ", "|", "( | )", ")(", "(()"]:
        try:
            qp.parse_query(q)
        except ValueError:
            pass
    rng = random.Random(3)
    chars = "abz01 ()|?\"'-:<>=*^\\/{}"
    for _ in range(500):
        s = "".join(rng.choice(chars) for _ in range(rng.randint(0, 30)))
        try:
            qp.parse_query(s)
        except ValueError:
            pass
