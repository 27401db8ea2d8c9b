"""Plan shape of ``run_query``: one postings decode per tier scanned.

Every term a query reads (include, phrase, exclusion, ``?priority``) comes
out of its posting tier in one filtered scan and one ``mapInPandas``
decode, and a ``groupBy(doc_id)`` pivot replaces the per-term join chain.
Each Python stage costs a fixed few hundred ms per query at entry scale,
so these tests pin the decode count and forbid a join on a term decode.
The plans are built and inspected, never run (a block budget's metadata
probe is the only job these tests start).
"""

import pytest

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus

# nodes a term decode may sit under and still be "the side" of a join
_PASS_THROUGH = {"Project", "Filter", "Union"}


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, bm25_corpus(spark, 40), root, n_buckets=1)
    r = IndexReader(spark, IndexPaths(root))
    assert r.prio is not None  # the gate queries below read the prio tier
    return r


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _decode_sides(node):
    """Term decodes reachable from ``node`` through pass-through nodes."""
    if node.nodeName() == "MapInPandas":
        return [node]
    if node.nodeName() in _PASS_THROUGH:
        return [d for c in _children(node) for d in _decode_sides(c)]
    return []


def _plan(reader, q):
    return run_query(reader, q, k=10)._jdf.queryExecution().optimizedPlan()


@pytest.mark.parametrize(
    "query, tiers",
    [
        ("word01 word02", 1),
        ("word01 -word02", 1),
        ("( word01 | word02 ) word03", 1),
        ('"word01 word02"', 1),
        ("?word01 word02", 1),
        ("word01 word02 in:system", 1),
        # gated include terms read the prio tier, the exclusion the full one
        ("word01 word02 in:system -word03", 2),
    ],
)
def test_one_decode_per_tier_no_term_join(spark, reader, query, tiers):
    plan = _plan(reader, query)
    text = plan.toString()
    assert text.count("MapInPandas") == tiers, text
    for node in _nodes(plan):
        if node.nodeName() == "Join":
            for side in _children(node):
                assert not _decode_sides(side), text


def test_single_term_selects_rows_without_pivot(spark, reader):
    plan = _plan(reader, "word01")
    text = plan.toString()
    assert text.count("MapInPandas") == 1, text
    assert not [n for n in _nodes(plan) if n.nodeName() == "Aggregate"], text


@pytest.mark.parametrize(
    "kw", [{"budget_blocks": 1}, {"_driver_top_blocks": 1}]
)
def test_block_budget_is_a_scan_predicate(spark, reader, kw):
    """A block budget reaches the decode as a block predicate of its one
    scan: no window, sort or shuffle of the payload below the decode."""
    plan = run_query(reader, "word01 word02", k=10, **kw)
    plan = plan._jdf.queryExecution().optimizedPlan()
    decodes = [n for n in _nodes(plan) if n.nodeName() == "MapInPandas"]
    assert len(decodes) == 1, plan.toString()
    below = {n.nodeName() for n in _nodes(decodes[0])} - {"MapInPandas"}
    assert below <= {"Project", "Filter", "LogicalRelation"}, plan.toString()
    assert "min_doc" in plan.toString()


def test_positions_ship_only_for_phrase_terms(spark, reader):
    """The extra term shares the phrase's scan but not its positions: the
    decode's input nulls them for every other term."""
    plan = _plan(reader, '"word01 word02" word03')
    decodes = [n for n in _nodes(plan) if n.nodeName() == "MapInPandas"]
    assert len(decodes) == 1, plan.toString()
    text = decodes[0].toString()
    assert "CASE WHEN term_id" in text and "THEN positions" in text, text
