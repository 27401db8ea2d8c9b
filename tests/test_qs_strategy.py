"""``qs=`` execution-strategy token (QueryParser.java:238 QsTerm →
QueryFactory.java:246-258 parseQueryStrategy): rf_* folds into the role
gate; every other value picks a physical scan in the reference, and there
is one pipeline here, so it is parsed and dropped. ``run_search`` must be
result-exact with ``run_query`` whatever the token says."""

import pytest

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.ingest import ROLE_FLAG
from marginaliasearch_spark.operators.query_exec import (
    IndexReader,
    run_query,
    run_search,
)
from marginaliasearch_spark.plans.parser import _QS_ROLES, parse_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus


# ---- pure parser semantics (no cluster) ----

# every value but rf_<role>: the reference's SENTENCE/TOPIC scans, our
# historical plain/wand names, an unknown value (AUTO) and an empty one
DROPPED = ("qs=sentence", "qs=plain", "qs=topic", "qs=wand", "qs=bogus", "qs=")


def _same_parse(a, b):
    assert a.include == b.include
    assert a.exclude == b.exclude
    assert a.gates == b.gates
    assert a.limits == b.limits


def test_qs_rf_role_becomes_gate_not_strategy():
    pq = parse_query("spark join qs=rf_user")
    assert pq.gates == ["user"]
    # identical effect to the explicit in: gate, and nothing else
    _same_parse(pq, parse_query("spark join in:user"))


def test_qs_unknown_is_auto():
    # reference: parseQueryStrategy's ``default -> QueryStrategy.AUTO``; an
    # rf_ value naming no role gates nothing
    for tok in ("qs=rf_title", "qs=rf_"):
        pq = parse_query(f"a {tok}")
        assert pq.gates == [], tok
        _same_parse(pq, parse_query("a"))


def test_qs_token_is_not_a_search_term():
    pq = parse_query("alpha qs=topic")
    assert pq.all_include_terms() == ["alpha"]
    assert pq.limits == []  # qs=... must not parse as a spec limit
    without = parse_query("alpha -beta len>3")
    for tok in DROPPED + ("QS=TOPIC",):  # toUpperCase parity
        _same_parse(parse_query(f"alpha {tok} -beta len>3"), without)


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
    plain = _pairs(run_query(reader, q, k=10).collect())
    assert plain
    for tok in ("",) + DROPPED:
        assert _pairs(run_search(reader, f"{q} {tok}", k=10).collect()) == plain, tok


def test_near_token_parsed_and_dropped():
    # QueryParser.java:223-224 creates a NearTerm, but nothing in the
    # reference consumes it (QueryParams.nearDomain is dead) — parity is
    # recognize-and-ignore: identical parse to the query without it.
    _same_parse(parse_query("word00 near:conv12 -word45"), parse_query("word00 -word45"))


def test_run_search_near_token_is_inert(reader):
    q = "word00 -word45"
    assert _pairs(run_search(reader, f"{q} near:conv3", k=10).collect()) == _pairs(
        run_search(reader, q, k=10).collect()
    )
