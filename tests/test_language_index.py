"""Per-language index surface: the journal stamps each document's language
(reference: languageIsoCode, IndexJournalPage.java:22), the lexicon is
additionally aggregated per language (per-language WordLexicon analogue,
WordLexicon.java:34-41), and lang-scoped queries take df/IDF from that
language's statistics only — a bilingual corpus must not mix them."""

import datetime
import glob
import math
import os
import shutil

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query

_TS = datetime.datetime(2025, 1, 1)

# 'shared' appears in EVERY doc; 'rare' in one en doc and most es docs, so
# its per-language IDF differs sharply from the global one
_EN = [
    f"the cat and the dog is in a house shared extra{i} "
    + ("rare " if i == 0 else "")
    + " ".join(f"alpha{i}beta{j}" for j in range(10))
    for i in range(8)
]
_ES = [
    f"el gato y la casa de que los shared rare fill{i} "
    + " ".join(f"gato{i}casa{j}" for j in range(6))
    for i in range(4)
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    rows = [(f"en{i}", 0, "user", t, "", _TS) for i, t in enumerate(_EN)]
    rows += [(f"es{i}", 0, "user", t, "", _TS) for i, t in enumerate(_ES)]
    corpus = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    root = str(tmp_path_factory.mktemp("langidx"))
    build_index(spark, corpus, root, n_buckets=1)
    return IndexReader(spark, IndexPaths(root))


def test_doc_stats_carry_language(spark, built):
    langs = {r["conv_id"]: r["lang"] for r in built.doc_stats.collect()}
    assert all(langs[f"en{i}"] == "en" for i in range(8))
    assert all(langs[f"es{i}"] == "es" for i in range(4))


def test_per_language_df_differs(spark, built):
    glob = built.term_stats(["shared", "rare"])
    en = built.term_stats(["shared", "rare"], lang="en")
    es = built.term_stats(["shared", "rare"], lang="es")
    assert glob["shared"][1] == 12 and glob["rare"][1] == 5
    assert en["shared"][1] == 8 and en["rare"][1] == 1
    assert es["shared"][1] == 4 and es["rare"][1] == 4
    assert built.lang_doc_counts == {"en": 8.0, "es": 4.0}


def _score(tf, doc_len, df, n):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    t = tf * 2.2 / (tf + 1.2 * (1.0 - 0.5 + 0.5 * doc_len / 5000.0))
    return math.sqrt(501.0 / (1.0 + idf * t))


def test_lang_scoped_query_uses_language_stats(spark, built):
    """lang='es' must (a) return only es docs, (b) score with df_es/N_es —
    pinned against a closed-form recomputation."""
    res = run_query(built, "rare", k=10, lang="es").collect()
    assert {r["conv_id"] for r in res} == {f"es{i}" for i in range(4)}
    lens = {r["conv_id"]: r["doc_len"] for r in built.doc_stats.collect()}
    for r in res:
        want = _score(1, lens[r["conv_id"]], df=4, n=4)
        assert r["score"] == pytest.approx(want, abs=1e-12)


def test_global_query_unchanged(spark, built):
    res = run_query(built, "rare", k=20).collect()
    assert len(res) == 5  # en0 + all es docs
    lens = {r["conv_id"]: r["doc_len"] for r in built.doc_stats.collect()}
    for r in res:
        want = _score(1, lens[r["conv_id"]], df=5, n=12)
        assert r["score"] == pytest.approx(want, abs=1e-12)


def test_lang_with_unknown_language_is_empty(spark, built):
    assert run_query(built, "rare", k=5, lang="fr").count() == 0


def test_lang_prunes_postings_scan(spark, built, monkeypatch):
    """Postings are lang-partitioned at rest; a lang-scoped decode must
    push the language to the scan as a PARTITION filter (directory
    pruning), not filter after the join (reference: one reverse index per
    language, WordLexicon.java:34-41). The executor-site decode keeps the
    scan in its plan; the driver-site twin is below."""
    monkeypatch.setattr(query_exec, "DRIVER_DECODE_MAX_DF", -1)
    tid = built.term_stats(["shared"])["shared"][0]
    plan = built.decode_term(
        tid, lang="es"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters")[1][:200]
    # the full set of decoded docs must be the es docs only
    df = built.decode_term(tid, lang="es").select("doc_id")
    assert df.count() == 4


def test_lang_prunes_driver_fetch_scan(spark, built, tmp_path):
    """A driver-site decode reads its block rows through pyarrow, and the
    language prunes whole lang=... directories there too. On a copy of
    the index whose lang=en postings files turn to garbage after the
    reader listed them, an es-scoped decode still reads its 4 docs — it
    opens no file outside lang=es — while an unscoped decode raises."""
    root = str(tmp_path / "idx")
    shutil.copytree(built.paths.root, root)
    reader = IndexReader(spark, IndexPaths(root))
    tid = reader.term_stats(["shared"])["shared"][0]
    es_frags = reader._view("postings").get_fragments(filter=ds.field("lang") == "es")
    assert {os.path.basename(os.path.dirname(f.path)) for f in es_frags} == {"lang=es"}
    en_files = glob.glob(os.path.join(root, "postings", "*", "lang=en", "*.parquet"))
    assert en_files
    for f in en_files:
        with open(f, "wb") as out:
            out.write(b"not a parquet file")
    df = reader.decode_term(tid, lang="es").select("doc_id")
    assert "MapInPandas" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == 4
    with pytest.raises(pa.ArrowInvalid):
        reader.decode_term(tid)


def test_wand_lang_scoped_equals_plain(spark, built, wand_phase1):
    """run_query_wand with lang= must stay exact: θ/idf come from the
    language's statistics, block cuts from the (conservative) global
    bounds. ``wand_phase1`` forces both phases on this tiny index."""
    from marginaliasearch_spark.operators.query_exec import run_query_wand

    for q, lang, k in [("shared", "es", 3), ("shared rare", "es", 2), ("rare", "en", 1)]:
        plain = run_query(built, q, k=k, lang=lang).collect()
        wand = run_query_wand(built, q, k=k, lang=lang).collect()
        assert [(r["conv_id"], r["score"]) for r in plain] == [
            (r["conv_id"], r["score"]) for r in wand
        ]
    assert len(wand_phase1) == 3  # phase 1 ran for every query


def test_lang_token_query_syntax(spark, built):
    """`lang:es rare` must equal run_query(..., lang='es') exactly — the
    reference's lang: query token (QueryParser.java:225-227)."""
    via_param = run_query(built, "rare", k=10, lang="es").collect()
    via_token = run_query(built, "rare lang:es", k=10).collect()
    assert via_token == via_param and via_token
    # explicit parameter wins over the token
    mixed = run_query(built, "rare lang:en", k=10, lang="es").collect()
    assert mixed == via_param


def test_lang_token_wand_equals_plain(spark, built):
    from marginaliasearch_spark.operators.query_exec import run_query_wand

    plain = run_query(built, "shared lang:es", k=5).collect()
    wand = run_query_wand(built, "shared lang:es", k=5).collect()
    assert wand == plain and plain
