"""Spark jobs per query: tombstones cost none.

At entry scale a warm query's latency is mostly fixed per-job cost, so the
job count of a query shape is pinned here. The deletion tombstones are
collected once per reader and dropped inside the postings decode, so a
tombstoned index runs exactly the jobs a clean one does — no per-query
re-aggregation or broadcast of the tombstone set. The corpus has 500
conversations, the document count of the sf0.001 test data.

``JOBS`` pins the absolute count per shape on the clean index, so a change
that adds a job to every query fails here too. The lexicon probe and the
block fetch of these driver-sized scans read the files through pyarrow and
start no job. The parser drops a ``qs=wand`` token, so that query runs
exactly the jobs of its plain AND twin.
"""

import time

import pytest

from marginaliasearch_spark.operators.index_build import (
    IndexPaths,
    build_index,
    delete_convs,
)
from marginaliasearch_spark.operators.query_exec import IndexReader, run_search
from marginaliasearch_spark.sources.transcripts import bm25_corpus

SHAPES = {
    "single": "word03",
    "and": "word03 word05",
    "and_not": "word03 -word07",
    "or_and": "( word03 | word05 ) word02",
    "wand": "word03 word05 qs=wand",
}
JOBS = {"single": 2, "and": 3, "and_not": 3, "or_and": 3, "wand": 3}


def _jobs_per_query(spark, reader, tag):
    """Jobs of one warm run of each shape, counted through a job group."""
    sc = spark.sparkContext
    for q in SHAPES.values():  # warm: lexicon probes, tombstone collect
        run_search(reader, q, k=10).collect()
    for name, q in SHAPES.items():
        sc.setJobGroup(f"jobs-{tag}-{name}", name)
        run_search(reader, q, k=10).collect()
    sc.setJobGroup("jobs-idle", "idle")
    time.sleep(2.0)  # the status store is filled by the listener bus
    st = sc.statusTracker()
    return {name: len(st.getJobIdsForGroup(f"jobs-{tag}-{name}")) for name in SHAPES}


@pytest.fixture(scope="module")
def counts(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("jobsidx"))
    build_index(spark, bm25_corpus(spark, 500), root, n_buckets=2)
    clean = _jobs_per_query(spark, IndexReader(spark, IndexPaths(root)), "clean")
    assert delete_convs(spark, root, ["bm0010"]) == 1
    tombstoned = _jobs_per_query(spark, IndexReader(spark, IndexPaths(root)), "tomb")
    return clean, tombstoned


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_tombstones_add_no_jobs(counts, shape):
    clean, tombstoned = counts
    assert clean[shape] == JOBS[shape], clean
    assert tombstoned[shape] == clean[shape], (clean, tombstoned)


def test_wand_runs_the_jobs_of_plain_and(counts):
    clean, tombstoned = counts
    assert clean["wand"] == clean["and"], clean
    assert tombstoned["wand"] == tombstoned["and"], tombstoned
