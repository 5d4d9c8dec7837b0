"""Physical-plan shape gates for the query catalog — the 100-TB story
is only real if the plans Catalyst actually emits have the advertised
structure. Each assertion pins a scale property a refactor could
silently lose: broadcast joins on dimensions, no sort-merge shuffle of
fact×dim, column-pruned scans, no cartesian products outside the one
documented O(N²) exact baseline.
"""

import os

import pytest

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def catalog():
    from scalpel_spark.queries import QUERIES

    return QUERIES


@pytest.fixture(autouse=True)
def _release_persisted_frames():
    """Plan builders (LSH join, neardup pipelines) persist candidate
    frames via the registry; release them per-test so cached storage
    doesn't accumulate for the rest of the pytest session (same autouse
    fixture as test_queries_oracle)."""
    yield
    from scalpel_spark.spark.util import release_candidate_cache

    release_candidate_cache()


def test_dim_joins_broadcast_not_sortmerge(spark, catalog):
    """region/nation (25-row dims) must broadcast into the orders fact
    scan — a sort-merge here would shuffle the fact table twice."""
    plan = _plan(catalog["q_region_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_brand_volume_broadcasts_part(spark, catalog):
    plan = _plan(catalog["q_brand_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scrape_prefilter_reaches_python_stage(spark, catalog):
    """The selector-derived JVM prefilter must sit below the Python
    extraction stage (cheap RLIKE prunes rows before Arrow transfer)."""
    plan = _plan(catalog["scrape_img_attrs"](spark, SF))
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "RLIKE" in plan or "rlike" in plan.lower()


def test_pricing_summary_scan_is_column_pruned(spark, catalog):
    """q1 touches 4 lineitem columns; the parquet ReadSchema must not
    drag the rest of the table through the scan."""
    plan = _plan(catalog["q1_pricing_summary"](spark, SF))
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_comment" not in read and "l_shipdate" not in read
    assert "l_quantity" in read and "l_returnflag" in read


def test_exact_similarity_join_is_the_only_documented_quadratic(spark, catalog):
    """embedding_similarity_join is the documented O(N²) exact baseline
    (broadcast nested loop by design); the LSH/banded paths must NOT
    plan a cartesian/BNLJ anywhere."""
    quad = _plan(catalog["embedding_similarity_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in quad or "CartesianProduct" in quad
    for name in ("minhash_neardup_docs", "ngram_jaccard_neardup_docs"):
        plan = _plan(catalog[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_topk_window_partitions_by_customer(spark, catalog):
    """The per-customer top-3 must be a partitioned window (parallel),
    never a global sort-limit over the whole table."""
    plan = _plan(catalog["q_top3_orders_per_customer"](spark, SF))
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "partitionBy" not in plan or "o_custkey" in plan


def test_lsh_similarity_join_is_not_quadratic(spark, catalog):
    """The named sub-quadratic similarity join must plan bucketed
    equi-joins only — no BroadcastNestedLoopJoin / CartesianProduct
    anywhere (that's the exact baseline's documented shape, not this
    one's)."""
    plan = _plan(catalog["embedding_similarity_join_lsh"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["minhash_neardup_docs", "simhash_neardup_docs", "ngram_jaccard_neardup_docs"],
)
def test_neardup_candidate_prune_broadcasts_ids(spark, catalog, name):
    """exact_jaccard_verify reads only candidate docs through a semi
    join against the candidate-id set. That set must be broadcast: a
    SortMergeJoin LeftSemi here shuffles the document text."""
    semis = [line for line in _plan(catalog[name](spark, SF)).splitlines() if "LeftSemi" in line]
    assert semis, name
    for line in semis:
        assert "BroadcastHashJoin" in line and "SortMergeJoin" not in line, line
