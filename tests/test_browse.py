"""Browse/domain-info surface (features-search/random-websites, domain-info)
and the tiered query-time safety blocklist (nsfw-filter's NsfwDomainFilter)."""

import hashlib
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from marginaliasearch_spark.operators.browse import (
    domain_info,
    random_browse,
    similar_browse,
)
from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import factor_corpus


def _py_hash60(val: int, salt: str = "browse-v1") -> int:
    return int(hashlib.md5(f"{salt}:{val}".encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# random_browse
# ---------------------------------------------------------------------------


def test_random_browse_order_matches_md5_replay(spark):
    doms = spark.range(100).select(F.col("id"))
    got = [r["id"] for r in random_browse(doms, count=10).collect()]
    want = sorted(range(100), key=lambda i: (_py_hash60(i), i))[:10]
    # engine returns the limited set (order not part of the contract)
    assert sorted(got) == sorted(want)


def test_random_browse_blacklist_after_limit(spark):
    """Reference parity (DbBrowseDomainsRandom.java:36-40): the blacklist
    filters the already-LIMITed rows — a blacklisted row in the sample
    reduces the count instead of being replaced by the next candidate."""
    doms = spark.range(100)
    top10 = sorted(range(100), key=lambda i: (_py_hash60(i), i))[:10]
    bl = spark.createDataFrame([(top10[0],), (top10[3],)], "id long")
    got = sorted(
        r["id"] for r in random_browse(doms, count=10, blacklist=bl).collect()
    )
    assert got == sorted(set(top10) - {top10[0], top10[3]})
    assert len(got) == 8  # NOT refilled to 10


def test_random_browse_blacklist_outside_sample_is_noop(spark):
    doms = spark.range(100)
    top10 = sorted(range(100), key=lambda i: (_py_hash60(i), i))[:10]
    outside = next(i for i in range(100) if i not in top10)
    bl = spark.createDataFrame([(outside,)], "id long")
    got = sorted(
        r["id"] for r in random_browse(doms, count=10, blacklist=bl).collect()
    )
    assert got == sorted(top10)


# ---------------------------------------------------------------------------
# similar_browse
# ---------------------------------------------------------------------------


@pytest.fixture()
def neighbors(spark):
    rows = [
        # (domain_id, neighbor_id, relatedness, value)
        (1, 10, 90, 0.90),
        (1, 11, 80, 0.80),
        (1, 12, 80, 0.79),  # relatedness tie with 11 → id pin
        (1, 13, 70, 0.70),
        (2, 10, 50, 0.50),
    ]
    return spark.createDataFrame(
        rows, "domain_id long, neighbor_id long, relatedness int, value double"
    )


def test_similar_browse_order_and_scope(spark, neighbors):
    got = [
        (r["neighbor_id"], r["relatedness"])
        for r in similar_browse(neighbors, 1, count=3).collect()
    ]
    assert got == [(10, 90), (11, 80), (12, 80)]


def test_similar_browse_blacklist_before_cut(spark, neighbors):
    """Reference parity (DbBrowseDomainsSimilarCosine.java:41-48): the
    loop SKIPS blacklisted rows and keeps reading — the next neighbor
    fills the slot, unlike random_browse's post-limit filter."""
    bl = spark.createDataFrame([(10,)], "neighbor_id long")
    got = [
        r["neighbor_id"]
        for r in similar_browse(neighbors, 1, count=3, blacklist=bl).collect()
    ]
    assert got == [11, 12, 13]


def test_similar_browse_require_gate(spark, neighbors):
    req = spark.createDataFrame([(10,), (12,)], "neighbor_id long")
    got = [
        r["neighbor_id"]
        for r in similar_browse(neighbors, 1, count=10, require=req).collect()
    ]
    assert got == [10, 12]


# ---------------------------------------------------------------------------
# domain_info
# ---------------------------------------------------------------------------


def test_domain_info_panel(spark):
    meta = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5)], "id long, name string"
    )
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 2)], "src long, dst long"
    )
    scores = spark.createDataFrame(
        [(0, 400), (1, 300), (2, 200), (3, 200), (4, 100)], "id long, score long"
    )
    rows = {r["id"]: r for r in domain_info(meta, edges, scores).collect()}
    assert rows[0]["outbound_links"] == 2 and rows[0]["incoming_links"] == 0
    assert rows[2]["incoming_links"] == 3 and rows[2]["outbound_links"] == 0
    assert rows[4]["outbound_links"] == 0 and rows[4]["incoming_links"] == 0
    # ranking = Math.round(100·(1 − rn/(N−1))) over (score desc, id) order;
    # the integer-div form must equal exact round-half-up of the rational
    n = 5
    order = [0, 1, 2, 3, 4]  # score desc, id asc (2 before 3 on tie)
    for rn, i in enumerate(order):
        x = Fraction(100) * (1 - Fraction(rn, n - 1))
        expect = int(x + Fraction(1, 2))  # floor(x + 1/2) = Math.round
        assert rows[i]["ranking"] == expect, (i, rn)
    assert [rows[i]["ranking"] for i in order] == [100, 75, 50, 25, 0]


def test_domain_info_missing_score_ranks_zero(spark):
    meta = spark.createDataFrame([(0,), (1,), (9,)], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    scores = spark.createDataFrame([(0, 10), (1, 5)], "id long, score long")
    rows = {r["id"]: r for r in domain_info(meta, edges, scores).collect()}
    # id 9 has no rank row → IFNULL(RANK,1)-style worst default
    assert rows[9]["ranking"] == 0
    assert rows[0]["ranking"] == 100 and rows[1]["ranking"] == 0


def test_domain_info_single_domain(spark):
    meta = spark.createDataFrame([(7,)], "id long")
    edges = spark.createDataFrame([], "src long, dst long")
    scores = spark.createDataFrame([(7, 10)], "id long, score long")
    [row] = domain_info(meta, edges, scores).collect()
    assert row["ranking"] == 100


# ---------------------------------------------------------------------------
# tiered safety blocklist (NsfwDomainFilter.isBlocked)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = factor_corpus(spark, 128).cache()
    root = str(tmp_path_factory.mktemp("safeidx"))
    build_index(spark, corpus, root, n_buckets=1)
    return IndexReader(spark, IndexPaths(root))


def _blocklist(spark, reader, tier1_convs, tier2_convs):
    ds = reader.doc_stats
    t1 = ds.where(F.col("conv_id").isin(tier1_convs)).select(
        "doc_id", F.lit(1).alias("tier")
    )
    t2 = ds.where(F.col("conv_id").isin(tier2_convs)).select(
        "doc_id", F.lit(2).alias("tier")
    )
    return t1.unionByName(t2)


def test_blocklist_tier_semantics(spark, built):
    reader = built
    base = {r["conv_id"] for r in run_query(reader, "factor2", k=100).collect()}
    assert {"conv2", "conv4", "conv6"} <= base
    bl = _blocklist(spark, reader, ["conv2"], ["conv4"])
    got0 = {
        r["conv_id"]
        for r in run_query(
            reader, "factor2", k=100, blocklist=bl, safe_tier=0
        ).collect()
    }
    assert got0 == base  # NSFW_DISABLE
    got1 = {
        r["conv_id"]
        for r in run_query(
            reader, "factor2", k=100, blocklist=bl, safe_tier=1
        ).collect()
    }
    assert got1 == base - {"conv2"}  # NSFW_BLOCK_DANGER: tier 1 only
    got2 = {
        r["conv_id"]
        for r in run_query(
            reader, "factor2", k=100, blocklist=bl, safe_tier=2
        ).collect()
    }
    assert got2 == base - {"conv2", "conv4"}  # NSFW_BLOCK_SMUT: both tiers


def test_blocklist_wand_matches_plain(spark, built):
    reader = built
    bl = _blocklist(spark, reader, ["conv2", "conv6"], ["conv12"])
    plain = [
        (r["conv_id"], r["score"])
        for r in run_query(
            reader, "factor2", k=10, round_score_to=6, blocklist=bl, safe_tier=2
        ).collect()
    ]
    assert len(plain) == 10
    blocked = {"conv2", "conv6", "conv12"}
    assert not blocked & {c for c, _ in plain}


# ---------------------------------------------------------------------------
# pagination (IndexClient.executeQueries subList slice)
# ---------------------------------------------------------------------------


def test_pagination_slices_cover_topk(spark, built):
    from marginaliasearch_spark.operators.query_exec import run_query_page

    reader = built
    top = [
        (r["conv_id"], r["score"])
        for r in run_query(
            reader, "factor2", k=12, round_score_to=6
        ).collect()
    ]
    pages = []
    for p in (1, 2, 3):
        pages += [
            (r["conv_id"], r["score"])
            for r in run_query_page(
                reader,
                "factor2",
                page=p,
                page_size=4,
                total_limit=12,
                round_score_to=6,
            ).collect()
        ]
    assert pages == top  # concatenated pages == the single gather


def test_pagination_edges(spark, built):
    from marginaliasearch_spark.operators.query_exec import run_query_page

    reader = built
    # page past the end of the gather → empty, reference subList semantics
    assert (
        run_query_page(
            reader, "factor2", page=9, page_size=10, total_limit=12
        ).count()
        == 0
    )
    # page <= 1 starts at row 0 (Math.max(0, ...))
    p0 = run_query_page(
        reader, "factor2", page=0, page_size=3, total_limit=12,
        round_score_to=6,
    ).collect()
    p1 = run_query_page(
        reader, "factor2", page=1, page_size=3, total_limit=12,
        round_score_to=6,
    ).collect()
    assert [r["conv_id"] for r in p0] == [r["conv_id"] for r in p1]


def test_pagination_wand_gather(spark, built):
    """A ``qs=`` token in the paged query is dropped by the parser: the page
    is the same slice of the plain gather."""
    from marginaliasearch_spark.operators.query_exec import run_query_page

    reader = built
    top = [
        (r["conv_id"], r["score"])
        for r in run_query(reader, "factor2", k=12, round_score_to=6).collect()
    ]
    page = run_query_page(
        reader, "qs=wand factor2", page=2, page_size=4, total_limit=12,
        round_score_to=6,
    ).collect()
    assert [(r["conv_id"], r["score"]) for r in page] == top[4:8]
