"""``qs=`` execution-strategy override (QueryParser.java:238 QsTerm →
QueryFactory.java:246-258 parseQueryStrategy): rf_* folds into the role
gate, sentence/topic pick the physical runner, unknown values are AUTO.
``run_search`` dispatches on the parsed strategy and must be result-exact
with the runner it routes to."""

import pytest

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.ingest import ROLE_FLAG
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    run_query,
    run_query_wand,
    run_search,
)
from marginaliasearch_spark.plans.parser import _QS_ROLES, parse_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus


# ---- pure parser semantics (no cluster) ----


def test_qs_topic_and_wand_force_wand():
    assert parse_query("a b qs=topic").strategy == "wand"
    assert parse_query("a b qs=wand").strategy == "wand"
    assert parse_query("a b QS=TOPIC").strategy == "wand"  # toUpperCase parity


def test_qs_sentence_and_plain_force_plain():
    assert parse_query("a qs=sentence").strategy == "plain"
    assert parse_query("a qs=plain").strategy == "plain"


def test_qs_rf_role_becomes_gate_not_strategy():
    pq = parse_query("spark join qs=rf_user")
    assert pq.gates == ["user"]
    assert pq.strategy == "auto"
    # identical effect to the explicit in: gate
    assert pq.gates == parse_query("spark join in:user").gates


def test_qs_unknown_is_auto():
    # reference: parseQueryStrategy's ``default -> QueryStrategy.AUTO``
    for tok in ("qs=", "qs=bogus", "qs=rf_title", "qs=rf_"):
        pq = parse_query(f"a {tok}")
        assert pq.strategy == "auto", tok
        assert pq.gates == [], tok


def test_qs_token_is_not_a_search_term():
    pq = parse_query("alpha qs=topic")
    assert pq.all_include_terms() == ["alpha"]
    assert pq.limits == []  # qs=... must not parse as a spec limit


def test_qs_role_table_mirrors_ingest():
    # _QS_ROLES is a literal copy (avoids a plans→operators import cycle);
    # this pin keeps it in lockstep with the flag table
    assert _QS_ROLES == frozenset(ROLE_FLAG)


# ---- dispatcher is result-exact ----


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("qsidx"))
    build_index(spark, bm25_corpus(spark, 200), root, n_buckets=1, block_docs=16)
    return IndexReader(spark, IndexPaths(root))


def _pairs(rows):
    return [(r["conv_id"], round(r["score"], 9)) for r in rows]


def test_run_search_auto_equals_plain(reader):
    q = "word00 -word45"
    assert _pairs(run_search(reader, q, k=10).collect()) == _pairs(
        run_query(reader, q, k=10).collect()
    )


def test_run_search_qs_topic_routes_to_wand_same_results(reader, wand_phase1):
    plain = _pairs(run_query(reader, "word00 -word45", k=10).collect())
    wand = _pairs(run_query_wand(reader, "word00 -word45", k=10).collect())
    via_qs = _pairs(run_search(reader, "word00 -word45 qs=topic", k=10).collect())
    assert via_qs == wand == plain
    assert len(wand_phase1) == 2  # phase 1 ran for both WAND calls


def test_run_search_qs_sentence_forces_plain(reader):
    q = "word00 qs=sentence"
    assert parse_query(q).strategy == "plain"
    assert _pairs(run_search(reader, q, k=10).collect()) == _pairs(
        run_query(reader, "word00", k=10).collect()
    )


def test_near_token_parsed_and_dropped():
    # QueryParser.java:223-224 creates a NearTerm, but nothing in the
    # reference consumes it (QueryParams.nearDomain is dead) — parity is
    # recognize-and-ignore: identical parse to the query without it.
    with_near = parse_query("word00 near:conv12 -word45")
    without = parse_query("word00 -word45")
    assert with_near.include == without.include
    assert with_near.exclude == without.exclude
    assert with_near.gates == without.gates
    assert with_near.limits == without.limits


def test_run_search_near_token_is_inert(reader):
    q = "word00 -word45"
    assert _pairs(run_search(reader, f"{q} near:conv3", k=10).collect()) == _pairs(
        run_search(reader, q, k=10).collect()
    )
