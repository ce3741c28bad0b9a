"""Build-once storage layouts: one fingerprint rule, one directory, one
manifest, one write-once gate and one catalog re-registration.

Every build-once artifact — bucketed tables, hive month partitions,
Z-ORDER files, PageRank edge buckets, boilerplate/substring line
indexes, PQ codes — goes through :func:`ensure_layout`; the CBO
statistics tables share its fingerprint through :func:`layout_name`.

Fingerprint: the layout's name is ``<kind>_<fp>``, where ``fp`` hashes
the absolute ``sf_dir``, the (size, mtime) of every source table, every
build constant the caller passes and the absolute ``base_dir``. A
regenerated corpus, a changed constant and a second location each get a
fresh name; a relative and an absolute path to one corpus share one.

Directory: ``<base_dir>/<name>``, where ``base_dir`` defaults to
``CACHE_ROOT/<kind>``. A layout with several parts keeps each in
``<name>/<part>``, so every file of a layout lives inside its directory.

Manifest: ``<base_dir>/<name>.manifest.json`` records the absolute
source paths and their (size, mtime). It lives BESIDE the directory,
not inside it, because a ``mode('overwrite')`` build rooted at the
directory deletes everything inside.

Sweep: each call removes SIBLING layouts of the same kind whose recorded
sources are gone or changed — a regenerated corpus strands its old
fingerprint, and nothing else would ever map it back to a source.
Siblings whose sources still match are other LIVE corpora (e.g. sf0.001
beside sf0.1) and are kept. A manifest-less directory is kept when it
carries ``_SUCCESS`` (a completed build from a concurrent session) and
removed when it does not (an aborted partial build).

Write once: the build runs only when ``<path>/_SUCCESS`` is missing.

Re-registration: when the files exist but the session catalog lacks the
table, it is created with ``CREATE TABLE <name> (<columns>) USING
parquet [CLUSTERED BY (k) SORTED BY (k) INTO n BUCKETS] LOCATION …``.
The explicit column list launches no Spark job, where schema inference
reads a parquet footer in one; Spark also rejects CLUSTERED BY without
a column list. The bucket spec is the same ``bucket`` value the write
used, so the two cannot drift apart.

Concurrency note: the sweep may delete a layout another Spark session
has registered in its catalog — that session's next read fails and its
ensure_* rebuilds. Single-machine scratch semantics; a shared cluster
cache would need a lease, which is out of scope for a local .cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: Default parent of every layout kind: ``CACHE_ROOT/<kind>/<name>``.
CACHE_ROOT = str(Path(__file__).resolve().parents[1] / ".cache")

_SUFFIX = ".manifest.json"


def _stat_entry(path: str) -> list:
    st = os.stat(path)
    return [st.st_size, int(st.st_mtime)]


def _external_manifest_path(layout_dir: str) -> str:
    layout_dir = layout_dir.rstrip(os.sep)
    return os.path.join(
        os.path.dirname(layout_dir),
        os.path.basename(layout_dir) + _SUFFIX,
    )


def write_manifest(layout_dir: str, source_files: list[str]) -> None:
    """Record the layout's source files and their stats (idempotent —
    re-written on every call). Written OUTSIDE the layout dir so a
    ``mode('overwrite')`` build rooted there cannot delete it."""
    os.makedirs(layout_dir, exist_ok=True)
    manifest = {
        "sources": {
            os.path.abspath(f): _stat_entry(f) for f in source_files
        }
    }
    target = _external_manifest_path(layout_dir)
    tmp = target + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, target)


def gc_stale_siblings(base_dir: str, keep_name: str) -> list[str]:
    """Remove sibling fingerprint directories of ``base_dir`` whose
    manifest sources are missing/changed, plus manifest-less partial
    builds (no ``_SUCCESS``). Manifest-less dirs WITH ``_SUCCESS`` are
    completed live layouts and are kept. Returns the removed directory
    names (for tests/logging)."""
    removed: list[str] = []
    try:
        names = os.listdir(base_dir)
    except FileNotFoundError:
        return removed
    for name in names:
        if name == keep_name:
            continue
        d = os.path.join(base_dir, name)
        if not os.path.isdir(d):
            continue
        mpath = os.path.join(base_dir, name + _SUFFIX)
        if not os.path.exists(mpath):
            stale = not os.path.exists(os.path.join(d, "_SUCCESS"))
        else:
            try:
                with open(mpath) as fh:
                    sources = json.load(fh)["sources"]
            except (OSError, ValueError, KeyError):
                stale = True  # unreadable manifest: treat as stranded
            else:
                stale = any(
                    not os.path.exists(f) or _stat_entry(f) != st
                    for f, st in sources.items()
                )
        if stale:
            shutil.rmtree(d, ignore_errors=True)
            try:
                os.remove(mpath)
            except OSError:
                pass
            removed.append(name)
    return removed


def manifest_and_gc(
    layout_dir: str, source_files: list[str]
) -> list[str]:
    """Write/refresh this layout's manifest, then sweep stale siblings
    of the same kind."""
    write_manifest(layout_dir, source_files)
    return gc_stale_siblings(
        os.path.dirname(layout_dir.rstrip(os.sep)),
        os.path.basename(layout_dir.rstrip(os.sep)),
    )


def layout_name(
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    consts: tuple = (),
    base_dir: str | None = None,
) -> tuple[str, str]:
    """The one fingerprint rule: ``(name, base_dir)`` for the ``kind``
    layout of ``tables`` in ``sf_dir`` built under ``consts``, with
    ``base_dir`` made absolute (default ``CACHE_ROOT/<kind>``)."""
    base_dir = os.path.abspath(base_dir or os.path.join(CACHE_ROOT, kind))
    stats = "|".join(
        f"{t}:{(st := os.stat(os.path.join(sf_dir, f'{t}.parquet'))).st_size}"
        f":{int(st.st_mtime)}"
        for t in tables
    )
    key = f"{os.path.abspath(sf_dir)}|{stats}|{consts!r}|{base_dir}"
    return f"{kind}_{hashlib.sha1(key.encode()).hexdigest()[:12]}", base_dir


def ensure_layout(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    consts: tuple,
    build: Callable[[], DataFrame],
    *,
    part: str | None = None,
    columns: str | None = None,
    bucket: tuple[int, str] | None = None,
    partition_by: str | None = None,
    base_dir: str | None = None,
) -> tuple[str, str]:
    """Build once the parquet layout ``build()`` describes and return
    its ``(table_name, path)``.

    ``tables`` are the source tables read by ``build`` and ``consts``
    every constant that shapes the written files; both go into the
    fingerprint. ``part`` names one of several tables sharing a layout
    directory. ``columns`` (DDL column list) makes the layout a catalog
    table: written with ``saveAsTable`` and re-registered from it when
    the files already exist; without it the files are written by path
    only. ``bucket=(n, key)`` hash-partitions the write into ``n``
    buckets sorted by ``key``; ``partition_by`` writes one directory
    per value of that column."""
    name, base_dir = layout_name(kind, sf_dir, tables, consts, base_dir)
    root = os.path.join(base_dir, name)
    manifest_and_gc(root, [os.path.join(sf_dir, f"{t}.parquet") for t in tables])
    table, path = (f"{name}_{part}", os.path.join(root, part)) if part else (name, root)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = build()
        if bucket:
            df = df.repartition(*bucket)
        if partition_by:
            df = df.repartition(partition_by)
        writer = df.write.mode("overwrite").format("parquet")
        if bucket:
            writer = writer.bucketBy(*bucket).sortBy(bucket[1])
        if partition_by:
            writer = writer.partitionBy(partition_by)
        if columns is None:
            writer.save(path)
        else:
            writer.option("path", path).saveAsTable(table)
    elif columns is not None and not spark.catalog.tableExists(table):
        clustered = (
            f" CLUSTERED BY ({bucket[1]}) SORTED BY ({bucket[1]})"
            f" INTO {bucket[0]} BUCKETS"
            if bucket
            else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({columns}) USING parquet{clustered}"
            f" LOCATION '{path}'"
        )
    return table, path
