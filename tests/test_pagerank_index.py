"""The PageRank persisted-edge-index scale path, demonstrated for real
(mirrors tests/test_ivf_index.py): build the degree-folded edge list
once as a parquet table BUCKETED BY src, show (a) a second ensure call
skips the build, (b) iterating from the index never rescans
orders/lineitem, (c) the bucketed scan is actually exploited (no
edge-side Exchange when ranks can't broadcast), and (d) the result is
row-identical to the from-scratch pagerank_bipartite."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_etl_studio_spark import layout_cache
from ai_etl_studio_spark.operators.analytics import (
    PR_BUCKETS,
    ensure_pagerank_edge_index,
    pagerank_bipartite,
    pagerank_from_index,
)
from ai_etl_studio_spark.operators.dedup import (
    ensure_boilerplate_index,
    ensure_substring_index,
)
from ai_etl_studio_spark.operators.extended import (
    _LAYOUT_BUCKETS,
    ensure_bucketed_orderkey_tables,
)
from ai_etl_studio_spark.operators.similarity import ensure_pq_code_index
from tests.conftest import SF_DIR


def test_index_builds_once_and_matches(spark, tmp_path):
    base = str(tmp_path / "pr_idx")
    tbl = ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base)
    success = os.path.join(base, tbl, "_SUCCESS")
    assert os.path.exists(success)
    built_at = os.path.getmtime(success)

    # second call: no rebuild (files untouched), same table name
    assert ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at

    # iterating from the index reads ONLY the index: the edge scan plan
    # names the index table and no orders/lineitem scan (build skipped);
    # groupBy on the bucket column needs NO Exchange
    from ai_etl_studio_spark.operators.analytics import _pagerank_iterate

    edges = spark.table(tbl)
    scan_plan = (
        edges.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "lineitem" not in scan_plan and "orders" not in scan_plan
    assert tbl in scan_plan
    assert "Exchange" not in scan_plan

    df = _pagerank_iterate(edges)
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in pagerank_bipartite(spark, SF_DIR).collect()]
    assert got == want


def test_reregister_in_fresh_catalog_and_bucket_pruned_join(spark, tmp_path):
    base = str(tmp_path / "pr_idx")
    tbl = ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base)
    # simulate a NEW session discovering the already-built files: drop
    # the catalog entry, ensure() must re-register (not rebuild)
    spark.sql(f"DROP TABLE {tbl}")
    success = os.path.join(base, tbl, "_SUCCESS")
    built_at = os.path.getmtime(success)
    assert ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at
    assert spark.catalog.tableExists(tbl)

    # the re-registered table still carries the bucket spec: joining on
    # src with broadcast disabled must NOT exchange the edge side
    edges = spark.table(tbl)
    ranks = edges.select("src").distinct().withColumn("tick", F.lit(1).cast("bigint"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = edges.join(ranks.withColumnRenamed("src", "node"), edges.src == F.col("node"))
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert f"SelectedBucketsCount: {PR_BUCKETS} out of {PR_BUCKETS}" in plan
    # ZERO exchanges: the edge side reads pre-bucketed, and ranks —
    # derived from the same bucketed table — inherits the partitioning,
    # so the sort-merge join is fully shuffle-free
    assert plan.count("Exchange hashpartitioning") == 0


@pytest.mark.parametrize(
    "ensure, buckets",
    [
        (ensure_pagerank_edge_index, PR_BUCKETS),
        (ensure_bucketed_orderkey_tables, _LAYOUT_BUCKETS),
        (ensure_boilerplate_index, None),
        (ensure_substring_index, None),
        (ensure_pq_code_index, None),
    ],
    ids=lambda v: getattr(v, "__name__", str(v)),
)
def test_reregister_without_rebuild_or_jobs(spark, tmp_path, ensure, buckets):
    """Every catalog layout, dropped from the catalog with its files
    kept, comes back from the layout_cache re-registration DDL: no
    rebuild, no Spark job (explicit column list, no schema inference),
    same schema and location, and the bucket spec restored."""
    base = str(tmp_path / "idx")
    out = ensure(spark, SF_DIR, base_dir=base)
    tables = out if isinstance(out, tuple) else (out,)

    def described(tbl):
        return {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }

    before = {t: described(t) for t in tables}
    schemas = {t: spark.table(t).schema for t in tables}
    successes = {
        t: os.path.join(before[t]["Location"].removeprefix("file:"), "_SUCCESS")
        for t in tables
    }
    built_at = {t: os.path.getmtime(p) for t, p in successes.items()}
    for t in tables:
        spark.sql(f"DROP TABLE {t}")

    sc = spark.sparkContext
    group = f"reregister-{ensure.__name__}"
    sc.setJobGroup(group, group)
    try:
        assert ensure(spark, SF_DIR, base_dir=base) == out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    for t in tables:
        assert os.path.getmtime(successes[t]) == built_at[t], t
        after = described(t)
        assert spark.table(t).schema == schemas[t], t
        for key in ("Location", "Provider", "Bucket Columns", "Sort Columns"):
            assert after.get(key) == before[t].get(key), (t, key)
        num_buckets = str(buckets) if buckets else None
        assert before[t].get("Num Buckets") == num_buckets, t
        assert after.get("Num Buckets") == num_buckets, t


def test_registered_query_uses_index(spark, tmp_path, monkeypatch):
    # point the default cache at tmp so the registry entry is hermetic
    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "cache"))
    got = [tuple(r) for r in pagerank_from_index(spark, SF_DIR).collect()]
    want = [tuple(r) for r in pagerank_bipartite(spark, SF_DIR).collect()]
    assert got == want
