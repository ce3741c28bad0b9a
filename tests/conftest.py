"""Shared fixtures: one session-scoped SparkSession + the DuckDB oracle
comparator that replays the driver's t2 gate (row-count + schema-width +
order-insensitive value compare) at sf0.001."""

from __future__ import annotations

import math

import duckdb
import pytest

from ai_etl_studio_spark.catalog import TABLES
from ai_etl_studio_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


class _Located(Exception):
    """Stops ``layout_cache.ensure_layout`` right after its manifest
    write, carrying the layout directory it resolved."""


def locate_layout(monkeypatch, ensure, sf_dir, base_dir=None) -> str:
    """The layout directory an ``ensure_*`` builder resolves for
    ``sf_dir`` — manifest written and siblings swept, as in a real call
    — without building anything or touching Spark."""
    from ai_etl_studio_spark import layout_cache

    real = layout_cache.manifest_and_gc

    def stop(root, sources):
        real(root, sources)
        raise _Located(root)

    with monkeypatch.context() as m:
        m.setattr(layout_cache, "manifest_and_gc", stop)
        with pytest.raises(_Located) as located:
            ensure(None, sf_dir, base_dir)
    return located.value.args[0]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ai-etl-studio-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (int, str, bool, bytes)):
        return v
    return str(v)  # dates/timestamps/decimals -> canonical string


def rows_normalized(cols, rows):
    """Column-name-sorted, row-sorted canonical form (order-insensitive),
    mirroring the driver's compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


#: Queries allowed a CartesianProduct: every one joins two broadcast-
#: bounded sides (region×nation, 1-row bounds frames are
#: BroadcastNestedLoop and don't trip this).
#: Queries allowed a CartesianProduct: join_cross IS the cross-join
#: surface; kendall_tau_brand_ranks theta-joins (brand < brand) two
#: copies of the <=|brands|-row aggregate — bounded by construction
#: (the fact table reduces BEFORE the pair join; see its plan contract
#: in test_plans.py).
CARTESIAN_OK = {"join_cross", "kendall_tau_brand_ranks"}


def assert_plan_contract(name: str, sdf) -> None:
    """Engine-wide plan invariants, enforced on every registered query:
    no row-at-a-time Python UDF in any plan (Python touches data only
    via Arrow seams: ArrowEvalPython / MapInPandas / FlatMapGroupsIn-
    Pandas / UDTF), and no unbounded CartesianProduct."""
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan or "UDTF" in plan, (
        f"{name}: row-at-a-time Python UDF (BatchEvalPython) in plan"
    )
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, (
            f"{name}: unbounded CartesianProduct in plan"
        )


def assert_matches_oracle(spark, ddb, name, query_fn, oracle):
    sdf = query_fn(spark, SF_DIR)
    assert_plan_contract(name, sdf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    res = ddb.execute(oracle)
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = [tuple(r) for r in res.fetchall()]

    assert len(spark_rows) == len(ddb_rows), (
        f"{name}: row count {len(spark_rows)} != oracle {len(ddb_rows)}"
    )
    assert sorted(spark_cols) == sorted(ddb_cols), (
        f"{name}: columns {sorted(spark_cols)} != oracle {sorted(ddb_cols)}"
    )
    s_cols, s_rows = rows_normalized(spark_cols, spark_rows)
    d_cols, d_rows = rows_normalized(ddb_cols, ddb_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"
    )
