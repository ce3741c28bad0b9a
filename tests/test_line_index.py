"""The boilerplate-line persisted index (mirrors test_pagerank_index):
build once, skip on re-ensure, serve path broadcast-joins the index with
no frequency shuffle, and output is row-identical to the from-scratch
line_dedup_corpus."""

from __future__ import annotations

import os

import pytest

from ai_etl_studio_spark import layout_cache
from ai_etl_studio_spark.operators.analytics import ensure_pagerank_edge_index
from ai_etl_studio_spark.operators.dedup import (
    ensure_boilerplate_index,
    ensure_substring_index,
    line_dedup_corpus,
    line_dedup_from_index,
)
from ai_etl_studio_spark.operators.extended import (
    ensure_bucketed_orderkey_tables,
    ensure_month_dim,
    ensure_month_partitioned_orders,
    ensure_zorder_orders,
)
from ai_etl_studio_spark.operators.similarity import ensure_pq_code_index
from ai_etl_studio_spark.plans.guard import explain_str
from tests.conftest import SF_DIR, locate_layout


def test_index_builds_once_and_serve_matches_scratch(spark, tmp_path):
    base = str(tmp_path / "bp_idx")
    tbl = ensure_boilerplate_index(spark, SF_DIR, base_dir=base)
    success = os.path.join(base, tbl, "_SUCCESS")
    assert os.path.exists(success)
    built_at = os.path.getmtime(success)

    # second ensure: no rebuild, same identity
    assert ensure_boilerplate_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at

    # the index holds only boilerplate digests (df >= LINE_DROP_DF)
    n_bp = spark.table(tbl).count()
    assert n_bp > 0

    # serve path == from-scratch path, row for row
    scratch = {tuple(r) for r in line_dedup_corpus(spark, SF_DIR).collect()}
    served = {tuple(r) for r in line_dedup_from_index(spark, SF_DIR).collect()}
    assert served == scratch


def test_serve_plan_has_no_frequency_shuffle(spark, tmp_path):
    # default-cache ensure (what the registered query uses)
    df = line_dedup_from_index(spark, SF_DIR)
    tree = explain_str(df, "formatted").split("\n\n")[0]
    # boilerplate membership rides a broadcast join; the only exchanges
    # are the doc_id reassembly agg + presentation sort — the corpus-wide
    # countDistinct aggregation is gone
    assert "BroadcastHashJoin" in tree
    assert tree.count("Exchange hashpartitioning") <= 1


@pytest.mark.parametrize(
    "ensure",
    [
        ensure_pagerank_edge_index,
        ensure_boilerplate_index,
        ensure_substring_index,
        ensure_pq_code_index,
        ensure_bucketed_orderkey_tables,
        ensure_month_partitioned_orders,
        ensure_zorder_orders,
        ensure_month_dim,
    ],
    ids=lambda f: f.__name__,
)
def test_index_identity_includes_base_dir(ensure, tmp_path, monkeypatch):
    """ADVICE r3: the layout name must differ per base_dir, or a second
    ensure_* call with a custom location silently re-points the shared
    catalog name to different contents."""
    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "default"))
    custom = str(tmp_path / "idx")
    default_root = locate_layout(monkeypatch, ensure, SF_DIR)
    custom_root = locate_layout(monkeypatch, ensure, SF_DIR, custom)
    assert default_root.startswith(str(tmp_path / "default") + os.sep)
    assert os.path.dirname(custom_root) == custom
    assert os.path.basename(default_root) != os.path.basename(custom_root)
    assert os.path.exists(custom_root + ".manifest.json")
    # deterministic per (corpus, location)
    assert locate_layout(monkeypatch, ensure, SF_DIR, custom) == custom_root
