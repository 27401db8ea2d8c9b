import pytest

from marginaliasearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def wand_phase1(monkeypatch):
    """Make ``run_query_wand`` run both of its phases and record each
    phase-1 run. The executor site is forced, since a query the driver
    decodes skips phase 1; the returned list gets the block budget of every
    ``run_query`` call that ``run_query_wand`` makes for phase 1."""
    from marginaliasearch_spark.operators import query_exec

    monkeypatch.setattr(query_exec, "DRIVER_DECODE_MAX_DF", -1)
    runs = []
    plain = query_exec.run_query

    def spy(*args, **kw):
        if kw.get("_driver_top_blocks") is not None:
            runs.append(kw["_driver_top_blocks"])
        return plain(*args, **kw)

    monkeypatch.setattr(query_exec, "run_query", spy)
    return runs
