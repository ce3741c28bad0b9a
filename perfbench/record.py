"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py oracles [--smoke]
    python3 perfbench/record.py spark [--smoke]
    python3 perfbench/record.py costs

``oracles`` runs the DuckDB twin (``operators.ORACLES``) of every query
the ops-sample workload can draw and stores its row count and named hash in
``expected/<sf>/ops.json``, with a digest of the twin's SQL so that a
run notices when a twin changed. It needs no Spark.

``spark`` runs every question and canned response the ask workload can
issue through the same code path the benchmark times, and stores the
row count and positional hash of each answer in
``expected/<sf>/ask.json``. Each answer's SQL is also run in DuckDB:
``duckdb`` records ``match``, ``differs`` (DuckDB reads the same SQL
with other semantics, e.g. regex ``split``) or the error DuckDB raised.
It also stores the row count of the queries that have no DuckDB twin.
A recorded answer that DuckDB contradicts is refused.

``costs`` times every query of the ops-sample pool once (build plus
noop execution, one warm session, sf0.1) and rewrites
``ops_by_cost.json``, the cost order ops-sample stratifies by. The
committed file was measured on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import duckdb

import run
import workloads
from checks import (
    duckdb_connection,
    duckdb_named_hash,
    load_json,
    named_hash,
    positional_hash,
    save_json,
    sql_digest,
)


def record_oracles(sf_dir, out) -> None:
    sys.path.insert(0, str(run.ROOT))
    from ai_etl_studio_spark.operators import load_all

    queries, oracles = load_all()
    path = out / "ops.json"
    table = load_json(path)
    con = duckdb_connection(sf_dir)
    for name in workloads.ops_pool(queries):
        if name not in oracles:
            continue
        digest = sql_digest(oracles[name])
        if table.get(name, {}).get("sql") == digest:
            continue
        t0 = time.perf_counter()
        try:
            n, h = duckdb_named_hash(con, oracles[name])
            table[name] = {"sql": digest, "rows": n, "hash": h}
        except duckdb.Error as exc:  # too big for this host: rows-only
            table[name] = {"sql": digest, "twin": f"{type(exc).__name__}: {exc}"[:200]}
        print(f"{name}: {table[name]} [{time.perf_counter() - t0:.1f}s]", flush=True)
        save_json(path, table)


def record_spark(sf_dir, out) -> None:
    from tracer import Tracer

    sess = run.Session("ask", sf_dir, Tracer(False))
    try:
        sess.setup()
        fixtures = workloads.load_fixtures()["responses"]
        reqs = [workloads.Request(k, "template", q) for k, q in workloads.ask_keys()]
        reqs += [
            workloads.Request(f"llm:{f['id']}", "llm", f["id"])
            for f in fixtures if f["verdict"] == "answer"
        ]
        con = duckdb_connection(sf_dir)
        from ai_etl_studio_spark.sqlgen.sanitize import sanitize

        answers = {}
        for req in reqs:
            outcome = sess.ask(req)
            if not outcome["ok"]:
                print(f"{req.key}: not answered", flush=True)
                continue
            n, h = positional_hash(outcome["rows"])
            sql = sanitize(outcome["raw"]).sql
            try:
                dn, dh = positional_hash(con.execute(sql).fetchall())
                duck = "match" if (dn, dh) == (n, h) else "differs"
            except Exception as exc:  # DuckDB does not read this dialect
                duck = f"{type(exc).__name__}: {str(exc).splitlines()[0][:120]}"
            if duck == "differs" and req.key in CROSS_CHECKED:
                raise SystemExit(f"{req.key}: Spark and DuckDB disagree")
            answers[req.key] = {"rows": n, "hash": h, "duckdb": duck}
            print(f"{req.key}: {n} rows, duckdb {duck}", flush=True)
        save_json(out / "ask.json", answers)

        table = load_json(out / "ops.json")
        for name in workloads.ops_pool(sess.queries):
            if "hash" in table.get(name, {}):
                continue
            df = sess.queries[name](sess.spark, sess.sf_dir)
            table.setdefault(name, {})["rows"] = named_hash(df.columns, df.collect())[0]
            table[name]["source"] = "spark"
            print(f"{name}: {table[name]['rows']} rows (rows-only)", flush=True)
        save_json(out / "ops.json", table)
    finally:
        run._stop_spark(sess.spark)


def record_costs(sf_dir) -> None:
    from tracer import Tracer

    sess = run.Session("ops-sample", sf_dir, Tracer(False))
    try:
        sess.setup()
        path = run.HERE / "ops_by_cost.json"
        names = [n for n, _ in json.loads(path.read_text()) if n in sess.queries]
        costs = {}
        for name in names:
            t0 = time.perf_counter()
            sess.op(workloads.Request(f"op:{name}", "op", name))
            costs[name] = round(time.perf_counter() - t0, 3)
            print(f"{name}: {costs[name]}", flush=True)
        ranked = sorted(costs, key=lambda n: (costs[n], n))
        rows = ",\n".join(json.dumps([n, costs[n]]) for n in ranked)
        path.write_text(f"[\n{rows}\n]\n")
    finally:
        run._stop_spark(sess.spark)


#: Answers DuckDB must reproduce exactly: the reference's canonical
#: questions, written in SQL both engines read alike.
CROSS_CHECKED = {
    "tpl:nation", "tpl:priority", "llm:prose_leading", "llm:fenced_sql",
    "llm:fenced_plain", "llm:ctas_sliced",
} | {k for k, _ in workloads.ask_keys()
     if k.startswith(("tpl:products:", "tpl:customers:", "tpl:segment:"))}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", choices=("oracles", "spark", "costs"))
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables")
    args = ap.parse_args()
    sf = "sf0.001" if args.smoke else "sf0.1"
    sf_dir, out = run.HERE / "data" / sf, run.HERE / "expected" / sf
    if args.what == "oracles":
        record_oracles(sf_dir, out)
        return
    run._environment()
    sys.path.insert(0, str(run.ROOT))
    if args.what == "spark":
        record_spark(sf_dir, out)
    else:
        record_costs(sf_dir)


if __name__ == "__main__":
    main()
