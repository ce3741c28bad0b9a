"""Layout-cache hygiene (r8 verdict item 6): fingerprinted build-once
layouts get a source manifest when they are resolved, and stranded
sibling fingerprints — sources changed or vanished — are swept. No
Spark needed: resolving a layout only stats the source files."""

from __future__ import annotations

import json
import os
import time

from ai_etl_studio_spark.layout_cache import (
    gc_stale_siblings,
    manifest_and_gc,
    write_manifest,
)
from tests.conftest import locate_layout


def _mk_source(tmp_path, name, content=b"v1"):
    f = tmp_path / name
    f.write_bytes(content)
    return str(f)


def test_manifest_written_and_live_sibling_kept(tmp_path):
    src_a = _mk_source(tmp_path, "a.parquet")
    src_b = _mk_source(tmp_path, "b.parquet")
    base = tmp_path / "kind"
    removed = manifest_and_gc(str(base / "fp_a"), [src_a])
    assert removed == []
    # manifest lives BESIDE the dir (r9 ADVICE: an in-dir manifest was
    # deleted by the layout's own overwrite build)
    assert json.load(open(base / "fp_a.manifest.json"))["sources"]
    # a sibling whose source still matches is another live corpus: kept
    manifest_and_gc(str(base / "fp_b"), [src_b])
    removed = manifest_and_gc(str(base / "fp_a"), [src_a])
    assert removed == []
    assert (base / "fp_b").exists()


def test_stale_sibling_removed_on_source_change(tmp_path):
    src = _mk_source(tmp_path, "a.parquet", b"v1")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_old"), [src])
    # regenerate the corpus: size changes -> fp_old is stranded
    time.sleep(0.01)
    open(src, "wb").write(b"v2-longer")
    removed = manifest_and_gc(str(base / "fp_new"), [src])
    assert removed == ["fp_old"]
    assert not (base / "fp_old").exists()
    assert (base / "fp_new").exists()


def test_vanished_source_and_manifestless_removed(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    gone = _mk_source(tmp_path, "gone.parquet")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_gone"), [gone])
    os.remove(gone)
    (base / "fp_orphan").mkdir(parents=True)  # pre-manifest strand
    removed = manifest_and_gc(str(base / "fp_live"), [src])
    assert sorted(removed) == ["fp_gone", "fp_orphan"]


def test_unreadable_manifest_treated_as_stranded(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    base = tmp_path / "kind"
    (base / "fp_bad").mkdir(parents=True)
    (base / "fp_bad.manifest.json").write_text("{not json")
    removed = manifest_and_gc(str(base / "fp_live"), [src])
    assert removed == ["fp_bad"]


def _mk_sf(tmp_path, tables=("lineitem", "orders")):
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in tables:
        (sf / f"{t}.parquet").write_bytes(b"v1")
    return sf


def test_layout_ident_sweeps_regenerated_corpus(tmp_path, monkeypatch):
    """End-to-end through layout_cache.ensure_layout: regenerating
    lineitem.parquet (the r8 ADVICE scenario) strands the old bucketed
    fingerprint and the next ensure call removes it."""
    from ai_etl_studio_spark.operators.extended import (
        ensure_bucketed_orderkey_tables,
    )

    sf = _mk_sf(tmp_path)
    base = str(tmp_path / "bucketed_ok")
    root1 = locate_layout(
        monkeypatch, ensure_bucketed_orderkey_tables, str(sf), base
    )
    time.sleep(0.01)
    (sf / "lineitem.parquet").write_bytes(b"v2-regenerated")
    root2 = locate_layout(
        monkeypatch, ensure_bucketed_orderkey_tables, str(sf), base
    )
    assert root1 != root2
    assert not os.path.exists(root1)
    assert os.path.exists(root2)


def test_fingerprint_covers_build_constants(tmp_path, monkeypatch):
    """Changing _LAYOUT_BUCKETS (or _Z_FILES) must give a new name and
    path: otherwise files written under the old value are re-registered
    with the new bucket spec, or served as the new layout."""
    import ai_etl_studio_spark.operators.extended as X

    sf = str(_mk_sf(tmp_path))
    for ensure, const in (
        (X.ensure_bucketed_orderkey_tables, "_LAYOUT_BUCKETS"),
        (X.ensure_zorder_orders, "_Z_FILES"),
    ):
        base = str(tmp_path / const)
        before = locate_layout(monkeypatch, ensure, sf, base)
        with monkeypatch.context() as m:
            m.setattr(X, const, getattr(X, const) * 2)
            after = locate_layout(monkeypatch, ensure, sf, base)
        assert os.path.basename(after) != os.path.basename(before), const
        assert after != before, const


def test_relative_and_absolute_sf_dir_share_a_layout(tmp_path, monkeypatch):
    from ai_etl_studio_spark.operators.extended import (
        ensure_bucketed_orderkey_tables,
    )

    sf = _mk_sf(tmp_path)
    base = str(tmp_path / "bucketed_ok")
    monkeypatch.chdir(tmp_path)
    rel = locate_layout(
        monkeypatch, ensure_bucketed_orderkey_tables, "sf", base
    )
    absolute = locate_layout(
        monkeypatch, ensure_bucketed_orderkey_tables, str(sf), base
    )
    assert rel == absolute
    name = os.path.basename(rel)
    assert sorted(os.listdir(base)) == [name, name + ".manifest.json"]


def test_gc_missing_base_dir_is_noop(tmp_path):
    assert gc_stale_siblings(str(tmp_path / "absent"), "x") == []


def test_write_manifest_is_idempotent(tmp_path):
    src = _mk_source(tmp_path, "a.parquet")
    d = str(tmp_path / "kind" / "fp")
    mpath = str(tmp_path / "kind" / "fp.manifest.json")
    write_manifest(d, [src])
    m1 = json.load(open(mpath))
    write_manifest(d, [src])
    m2 = json.load(open(mpath))
    assert m1 == m2


def test_overwrite_build_cannot_strand_live_layout(tmp_path):
    """The r9 ADVICE medium: ensure_* builds write the layout with
    mode('overwrite').saveAsTable rooted at the fingerprint dir, which
    deletes everything INSIDE it. With the manifest beside the dir, a
    sibling ident must still see the freshly built layout as live."""
    import shutil

    src_a = _mk_source(tmp_path, "a.parquet")
    src_b = _mk_source(tmp_path, "b.parquet")
    base = tmp_path / "kind"
    manifest_and_gc(str(base / "fp_a"), [src_a])
    # simulate the overwrite build: dir contents (including any in-dir
    # file) are wiped and replaced by parquet output + _SUCCESS
    shutil.rmtree(base / "fp_a")
    (base / "fp_a").mkdir()
    (base / "fp_a" / "_SUCCESS").write_bytes(b"")
    (base / "fp_a" / "part-0.parquet").write_bytes(b"data")
    # sibling corpus ident (the bench warms sf0.001 then times sf0.1)
    removed = manifest_and_gc(str(base / "fp_b"), [src_b])
    assert removed == []
    assert (base / "fp_a" / "part-0.parquet").exists()


def test_manifestless_success_dir_is_kept(tmp_path):
    """A completed build with no manifest (concurrent session mid-ident
    or pre-manifest era) is live, never swept; only manifest-less
    partials without _SUCCESS are removed."""
    src = _mk_source(tmp_path, "a.parquet")
    base = tmp_path / "kind"
    done = base / "fp_done"
    done.mkdir(parents=True)
    (done / "_SUCCESS").write_bytes(b"")
    partial = base / "fp_partial"
    partial.mkdir()
    removed = manifest_and_gc(str(base / "fp_live"), [src])
    assert removed == ["fp_partial"]
    assert done.exists()
