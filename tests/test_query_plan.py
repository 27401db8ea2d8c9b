"""Plan shape of ``run_query``: one postings decode per tier scanned.

Every term a query reads (include, phrase, exclusion, ``?priority``) comes
out of its posting tier in one filtered scan and one decode, and a
``groupBy(doc_id)`` pivot replaces the per-term join chain. A big scan
decodes in a ``mapInPandas`` stage, and each Python stage costs a fixed
few hundred ms per query at entry scale, so these tests pin the decode
count and forbid a join on a term decode; the ``executor_site`` fixture
forces that site on this small index. A small scan decodes on the driver
into a local relation: its twins below pin that no Python stage is left.
The index carries a tombstone, which the decode drops — no plan reads,
aggregates or joins the tombstone set. The plans are built and inspected,
never run (a driver-side decode's block fetch and a block budget's
metadata probe are the only jobs these tests start).
"""

import pytest

from marginaliasearch_spark.operators import query_exec
from marginaliasearch_spark.operators.index_build import (
    IndexPaths,
    build_index,
    delete_convs,
)
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus

# nodes a term decode may sit under and still be "the side" of a join
_PASS_THROUGH = {"Project", "Filter", "Union"}


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, bm25_corpus(spark, 40), root, n_buckets=1)
    assert delete_convs(spark, root, ["bm0007"]) == 1
    r = IndexReader(spark, IndexPaths(root))
    assert r.prio is not None  # the gate queries below read the prio tier
    assert r.deleted_ids.size == 1
    # the detector below sees the tombstone relation where it is scanned
    assert _reads_tombstones(r.tombstones._jdf.queryExecution().optimizedPlan())
    return r


@pytest.fixture
def executor_site(monkeypatch):
    monkeypatch.setattr(query_exec, "DRIVER_DECODE_MAX_DF", -1)


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _decode_sides(node, decode="MapInPandas"):
    """Term decodes reachable from ``node`` through pass-through nodes."""
    if node.nodeName() == decode:
        return [node]
    if node.nodeName() in _PASS_THROUGH:
        return [d for c in _children(node) for d in _decode_sides(c, decode)]
    return []


def _plan(reader, q):
    return run_query(reader, q, k=10)._jdf.queryExecution().optimizedPlan()


def _reads_tombstones(node):
    """Whether a file scan under ``node`` reads the tombstone set."""
    return any(
        n.nodeName() == "LogicalRelation"
        and "tombstones" in n.relation().location().rootPaths().mkString(",")
        for n in _nodes(node)
    )


_SHAPES = pytest.mark.parametrize(
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


@_SHAPES
def test_one_decode_per_tier_no_term_join(spark, reader, executor_site, query, tiers):
    plan = _plan(reader, query)
    text = plan.toString()
    assert text.count("MapInPandas") == tiers, text
    for node in _nodes(plan):
        if node.nodeName() == "Join":
            for side in _children(node):
                assert not _decode_sides(side), text


def test_single_term_selects_rows_without_pivot(spark, reader, executor_site):
    plan = _plan(reader, "word01")
    text = plan.toString()
    assert text.count("MapInPandas") == 1, text
    assert not [n for n in _nodes(plan) if n.nodeName() == "Aggregate"], text


@pytest.mark.parametrize("kw", [{"budget_blocks": 1}])
def test_block_budget_is_a_scan_predicate(spark, reader, executor_site, kw):
    """A block budget reaches the decode as a block predicate of its one
    scan: no window, sort or shuffle of the payload below the decode."""
    plan = run_query(reader, "word01 word02", k=10, **kw)
    plan = plan._jdf.queryExecution().optimizedPlan()
    decodes = [n for n in _nodes(plan) if n.nodeName() == "MapInPandas"]
    assert len(decodes) == 1, plan.toString()
    below = {n.nodeName() for n in _nodes(decodes[0])} - {"MapInPandas"}
    assert below <= {"Project", "Filter", "LogicalRelation"}, plan.toString()
    assert "min_doc" in plan.toString()


def test_positions_ship_only_for_phrase_terms(spark, reader, executor_site):
    """The extra term shares the phrase's scan but not its positions: the
    decode's input nulls them for every other term."""
    plan = _plan(reader, '"word01 word02" word03')
    decodes = [n for n in _nodes(plan) if n.nodeName() == "MapInPandas"]
    assert len(decodes) == 1, plan.toString()
    text = decodes[0].toString()
    assert "CASE WHEN term_id" in text and "THEN positions" in text, text


@_SHAPES
def test_no_tombstone_aggregate_or_join(spark, reader, executor_site, query, tiers):
    """The executor-side decode masks the tombstones through one broadcast
    per reader: the plan never reads the set, let alone aggregates it."""
    plan = _plan(reader, query)
    assert not _reads_tombstones(plan), plan.toString()


@_SHAPES
def test_driver_site_leaves_no_python_stage(spark, reader, query, tiers):
    """A small scan decodes on the driver: the plan holds one local
    relation per tier, no ``MapInPandas``, no join with a decode side and
    no tombstone scan, aggregate or join."""
    plan = _plan(reader, query)
    text = plan.toString()
    assert "MapInPandas" not in text, text
    assert len([n for n in _nodes(plan) if n.nodeName() == "LocalRelation"]) == tiers
    for node in _nodes(plan):
        if node.nodeName() == "Join":
            for side in _children(node):
                assert not _decode_sides(side, "LocalRelation"), text
        if node.nodeName() == "Aggregate":
            assert not _reads_tombstones(node), text
    assert not _reads_tombstones(plan), text


def test_driver_site_single_term_without_pivot(spark, reader):
    plan = _plan(reader, "word01")
    text = plan.toString()
    assert "MapInPandas" not in text, text
    assert not [n for n in _nodes(plan) if n.nodeName() == "Aggregate"], text
