"""Benchmark of the NL->SQL engine and the operator registry, end to end.

Run from the repository root:

    python3 perfbench/run.py --workload ask --seed 1 --seconds 15 --trace 0

Workloads (one process, one client, closed loop, ``local[nproc]``, over
the sf0.1 tables kept in ``perfbench/data``):

- ``ask``: NL questions through ``TemplateGenerator`` and canned raw LLM
  responses through ``LLMGenerator`` + ``HttpChatClient`` (in-process
  transport), each run through ``engine.run_query``, presented by
  collecting the bounded frame and exported with ``to_csv_bytes``.
- ``ops-sample``: one registered query from each cost stratum of the
  registry, each built and executed through the noop sink.

A request is one question or one query. Requests come in rounds (see
workloads.py); the loop stops at the first round boundary after
``--seconds`` have passed. Set-up (session, registry import, table
registration or layout builds) is timed from process start. Outputs are
checked after the timed window: ``ops-sample`` results against the recorded
hashes of their DuckDB twins, ``ask`` answers against recorded
hashes, verdicts against the fixtures. ``--trace 1`` times every call
into the program as a span with its Spark job/stage/task counts and
reports the per-layer metrics instead of the end-to-end ones.
``--smoke`` runs on the sf0.001 tables, for the benchmark's own tests.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; metric names and units come
from BENCHMARK.json. The exit code is non-zero when an output check
fails or the program cannot be found.
"""

from __future__ import annotations

import argparse
import csv
import io
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DEADLINE_S = 170  # the caller kills a run at 180 s


def _process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up counts toward set-up time)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


T_START = time.perf_counter() - _process_age()

#: Which end-to-end metric (and workload) each per-layer metric should
#: move; a metric measured on none of a workload's requests reads 0.
LAYER_TARGETS = {
    "session.get_spark_s": "setup_s (all)",
    # VmHWM of the driver JVM: G1 grows the committed heap on its own
    # timing under the 16 GB default, so identical runs read 2.5-4.2 GB
    # (IQR 28% of the median over ten identical runs); too wide for an
    # end-to-end bound, it rides here, where heap sizing will move it
    "driver_peak_rss_mb": "heap default (all); no end-to-end bound",
    "operators.load_all_s": "setup_s (all)",
    "catalog.register_tables_s": "setup_s (ask)",
    "catalog.register_tables_jobs": "setup_s (ask)",
    "catalog.schema_snapshot_s": "setup_s (ask)",
    "layout.ensure_s": "setup_s (ops-sample)",
    "layout.ensure_jobs": "setup_s (ops-sample)",
    "sqlgen.generate_ms": "latency_p50_s (ask)",
    "engine.run_query_ms": "latency_p50_s (ask)",
    "engine.run_query_jobs": "latency_p50_s (ask); must stay 0",
    "engine.rejected_share": "check: equals the fixtures' expected share (ask)",
    "present.s": "latency_p50_s, latency_p90_s (ask)",
    "present.jobs": "latency_p50_s, latency_p90_s (ask)",
    "export.csv_s": "latency_p50_s (ask)",
    "export.csv_jobs": "latency_p50_s (ask)",
    "build.s": "throughput_qps (ops-sample)",
    "build.jobs": "throughput_qps (ops-sample)",
    "build.share": "throughput_qps (ops-sample)",
    "plan.s": "latency_p50_s (ops-sample)",
    "execute.s": "throughput_qps (ops-sample), latency_p90_s (ask)",
    "execute.jobs": "throughput_qps (ops-sample), latency_p90_s (ask)",
    "execute.stages": "throughput_qps (ops-sample), latency_p90_s (ask)",
    "execute.tasks": "throughput_qps (ops-sample), latency_p90_s (ask)",
    "execute.shuffle_bytes": "throughput_qps (ops-sample)",
    "execute.spill_bytes": "throughput_qps (ops-sample)",
    "jobs_per_query": "throughput_qps (all)",
    "trace.overhead_share": "none: cost of tracing itself",
    "trace.unattributed_share": "none: request time outside every span",
}

#: build / plan / execute, per workload: which spans make up each layer.
LAYERS = {
    "ask": {"build": ("engine.run_query",), "plan": (), "execute": ("present", "export.csv")},
    "ops": {"build": ("build",), "plan": ("plan",), "execute": ("execute",)},
}


def _environment() -> None:
    """Keep every file Spark and the JVM write inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python UDF workers start in the working directory below and must
    # import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.chdir(WORK)  # spark-warehouse, metastore_db


def _clear_layouts(sf_dir: Path) -> None:
    """Remove every persisted layout built from ``sf_dir``, so that each
    run builds its layouts in set-up. The program keeps each layout in
    ``.cache/<kind>/<fingerprint>`` beside a ``<fingerprint>.manifest.json``
    that names its source files."""
    for manifest in (ROOT / ".cache").glob("*/*.manifest.json"):
        sources = json.loads(manifest.read_text()).get("sources", {})
        if any(Path(src).parent.resolve() == sf_dir.resolve() for src in sources):
            layout = manifest.with_name(manifest.name.removesuffix(".manifest.json"))
            shutil.rmtree(layout, ignore_errors=True)
            manifest.unlink()


def _jvm_proc():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway else None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = _jvm_proc()
    if spark is not None:
        spark.stop()
    if proc is not None:
        from pyspark import SparkContext

        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _watchdog() -> threading.Timer:
    def abort():
        sys.stderr.write(f"perfbench: no result after {DEADLINE_S} s, aborting\n")
        proc = _jvm_proc()
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), abort)
    timer.daemon = True
    timer.start()
    return timer


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


# -- set-up ---------------------------------------------------------------


class Session:
    """Everything a workload's requests need, built by ``setup``."""

    def __init__(self, workload: str, sf_dir: Path, tracer):
        self.workload = workload
        self.sf_dir = str(sf_dir)
        self.tr = tracer
        self.spark = None

    def setup(self) -> None:
        from ai_etl_studio_spark.operators import load_all
        from ai_etl_studio_spark.session import get_spark

        with self.tr.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.tr.bind(self.spark)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with self.tr.span("operators.load_all"):
            self.queries, self.oracles = load_all()
        if self.workload == "ask":
            self._setup_ask()
        else:
            self._setup_layouts()

    def _setup_ask(self) -> None:
        from ai_etl_studio_spark.catalog import (
            TABLES,
            register_tables,
            render_schema_for_prompt,
            schema_snapshot,
        )
        from ai_etl_studio_spark.sqlgen.client import HttpChatClient
        from ai_etl_studio_spark.sqlgen.generator import LLMGenerator, TemplateGenerator
        from workloads import load_fixtures

        with self.tr.span("catalog.register_tables"):
            register_tables(self.spark, self.sf_dir)
        with self.tr.span("catalog.schema_snapshot"):
            snapshot = schema_snapshot(self.spark, TABLES)
        self.template = TemplateGenerator()
        client = HttpChatClient(
            url="http://localhost/v1/chat/completions",
            model="canned",
            transport=_canned_transport,
            max_retries=0,
        )
        self.llm = LLMGenerator(
            complete=client.complete, schema_desc=render_schema_for_prompt(snapshot)
        )
        _CANNED.update((r["id"], r["response"]) for r in load_fixtures()["responses"])

    def _setup_layouts(self) -> None:
        from ai_etl_studio_spark.operators.analytics import ensure_pagerank_edge_index
        from ai_etl_studio_spark.operators.dedup import (
            ensure_boilerplate_index,
            ensure_substring_index,
        )
        from ai_etl_studio_spark.operators.extended import (
            ensure_bucketed_orderkey_tables,
            ensure_column_stats,
            ensure_month_dim,
            ensure_month_partitioned_orders,
            ensure_zorder_orders,
        )
        from ai_etl_studio_spark.operators.similarity import ensure_pq_code_index

        _clear_layouts(Path(self.sf_dir))
        with self.tr.span("layout.ensure"):
            for ensure in (
                ensure_pagerank_edge_index,
                ensure_boilerplate_index,
                ensure_substring_index,
                ensure_pq_code_index,
                ensure_bucketed_orderkey_tables,
                ensure_month_partitioned_orders,
                ensure_zorder_orders,
                ensure_month_dim,
                ensure_column_stats,
            ):
                ensure(self.spark, self.sf_dir)

    # -- requests ---------------------------------------------------------

    def ask(self, req) -> dict:
        from ai_etl_studio_spark.engine import QueryResult, run_query
        from ai_etl_studio_spark.sources.writers import to_csv_bytes
        from ai_etl_studio_spark.sqlgen.client import LLMClientError, LLMUnavailableError
        from ai_etl_studio_spark.sqlgen.generator import GenerationError

        gen = self.template if req.kind == "template" else self.llm
        with self.tr.span("sqlgen.generate"):
            try:
                raw, failure = gen.generate(req.text), None
            except (GenerationError, LLMClientError, LLMUnavailableError) as exc:
                raw, failure = None, exc
        with self.tr.span("engine.run_query"):
            if failure is None:
                result = run_query(self.spark, raw)
            else:
                result = QueryResult(None, "", False, f"generation failed: {failure}")
        with self.tr.span("present"):
            frame = result.presentation(self.spark)
            rows = frame.collect()
        with self.tr.span("export.csv"):
            csv_bytes = to_csv_bytes(frame)
        return {"raw": raw, "ok": result.ok, "columns": frame.columns,
                "rows": rows, "csv": csv_bytes}

    def op(self, req) -> dict:
        fn = self.queries[req.text]
        with self.tr.span("build"):
            df = fn(self.spark, self.sf_dir)
        if self.tr.enabled:
            # force physical planning on its own, so plan time is seen
            # apart from the jobs of the execute span
            with self.tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tr.span("execute"):
            df.write.format("noop").mode("overwrite").save()
        return {}


_CANNED: dict[str, str] = {}


def _canned_transport(url: str, body: bytes, headers: dict, timeout_s: float):
    """Serve the fixture response keyed by the user message, in the
    OpenAI chat-completions wire format; nothing leaves the process."""
    question = json.loads(body)["messages"][-1]["content"]
    content = _CANNED[question]
    payload = {"choices": [{"message": {"role": "assistant", "content": content}}]}
    return 200, json.dumps(payload).encode(), {"Content-Type": "application/json"}


# -- checks ---------------------------------------------------------------


def _verdict(outcome: dict) -> str:
    from ai_etl_studio_spark.sqlgen.sanitize import sanitize

    if outcome["ok"]:
        return "answer"
    if outcome["raw"] is not None and not sanitize(outcome["raw"]).ok:
        return "rejected"
    return "error"


def check_ask(sess: Session, done: list, expected_dir: Path, log) -> int:
    """Check every answer; returns the number of failed requests."""
    from checks import load_json, positional_hash
    from workloads import load_fixtures

    expected = load_json(expected_dir / "ask.json")
    fixtures = load_fixtures()
    verdicts = {f"llm:{f['id']}": f["verdict"] for f in fixtures["responses"]}
    failed = 0
    for req, outcome in done:
        problems = []
        if outcome.get("exception"):
            problems.append(outcome["exception"])
        else:
            # every template question is answered but the one no template matches
            want = verdicts.get(req.key, "error" if req.key == "tpl:nomatch" else "answer")
            got = outcome["verdict"] = _verdict(outcome)
            outcome["expected"] = want
            if got != want:
                problems.append(f"verdict {got}, expected {want}")
            elif got == "answer":
                rec = expected.get(req.key)
                n, h = positional_hash(outcome["rows"])
                if rec is None:
                    problems.append("no recorded answer")
                elif (n, h) != (rec["rows"], rec["hash"]):
                    problems.append(f"answer {n} rows {h[:12]}, recorded {rec['rows']} rows {rec['hash'][:12]}")
            elif outcome["columns"] != ["error_message"] or len(outcome["rows"]) != 1:
                problems.append("error verdict without the 1x1 error relation")
            exported = list(csv.reader(io.StringIO(outcome["csv"].decode())))
            if not problems and len(exported) != len(outcome["rows"]) + 1:
                problems.append(f"csv has {len(exported) - 1} rows, presented {len(outcome['rows'])}")
        if problems:
            failed += 1
            log(f"FAIL {req.key}: {'; '.join(problems)}")

    # nothing the requests did may have changed the catalog
    from ai_etl_studio_spark.catalog import TABLES

    names = sorted(t.name for t in sess.spark.catalog.listTables())
    if names != sorted(TABLES):
        failed += 1
        log(f"FAIL catalog changed: {names}")

    from ai_etl_studio_spark.plans.guard import is_read_only_plan

    # A known defect is reported on every run but not counted, so that
    # ask measures at all; once the guard rejects it, the run fails
    # until its known_defect note is removed and it is counted again.
    for fx in fixtures["guard_only"]:
        accepted = is_read_only_plan(sess.spark, fx["response"])
        if accepted and fx.get("known_defect"):
            log(f"KNOWN DEFECT {fx['id']}: plan guard accepts {fx['response']!r}")
        elif accepted:
            failed += 1
            log(f"FAIL {fx['id']}: plan guard accepts {fx['response']!r}")
        elif fx.get("known_defect"):
            failed += 1
            log(f"FAIL {fx['id']}: the plan guard now rejects it; remove its known_defect note")
    return failed


def check_ops(sess: Session, done: list, expected_dir: Path, log) -> int:
    """Re-run each distinct query once, untimed, and compare it with the
    recorded hash of its DuckDB twin (row count only for the queries
    that have no twin)."""
    from checks import load_json, named_hash, sql_digest

    expected = load_json(expected_dir / "ops.json")
    bad: dict[str, str] = {}
    for name in sorted({req.text for req, _ in done}):
        rec = expected.get(name, {})
        try:
            df = sess.queries[name](sess.spark, sess.sf_dir)
            n, h = named_hash(df.columns, df.collect())
        except Exception as exc:  # a broken query is a failed check
            bad[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            continue
        oracle = sess.oracles.get(name)
        if oracle is not None and rec.get("sql") != sql_digest(oracle):
            bad[name] = "recorded twin stale: rerun record.py oracles"
        elif "rows" not in rec:
            bad[name] = "nothing recorded"
        elif n != rec["rows"] or ("hash" in rec and h != rec["hash"]):
            bad[name] = f"{n} rows {h[:12]}, oracle {rec['rows']} rows {rec.get('hash', '')[:12]}"
    failed = 0
    for req, outcome in done:
        problem = outcome.get("exception") or bad.get(req.text)
        if problem:
            failed += 1
            log(f"FAIL {req.key}: {problem}")
    return failed


# -- metrics --------------------------------------------------------------


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(setup_s: float, latencies: list[float], window_s: float, rss_mb: float) -> dict:
    p90 = (
        statistics.quantiles(latencies, n=10, method="inclusive")[8]
        if len(latencies) > 1 else latencies[0]
    )
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(latencies),
        "latency_p90_s": p90,
        "throughput_qps": len(latencies) / window_s,
        "driver_peak_rss_mb": rss_mb,
    }


def per_layer(tr, workload: str, done: list, latencies: list[float], window_s: float) -> dict:
    n = len(latencies)
    setup = {s.name: s for s in tr.spans if s.request is None}
    req_spans = [s for s in tr.spans if s.request is not None]

    def spans(*names):
        return [s for s in req_spans if s.name in names]

    def per_request(names, attr="seconds"):
        return sum(getattr(s, attr) for s in spans(*names)) / n

    def setup_value(name, attr="seconds"):
        return getattr(setup[name], attr) if name in setup else 0.0

    layers = LAYERS["ask" if workload == "ask" else "ops"]
    wall = sum(latencies)
    plan_s = sum(s.seconds for s in spans("plan"))
    m = {
        "session.get_spark_s": setup_value("session.get_spark"),
        "operators.load_all_s": setup_value("operators.load_all"),
        "catalog.register_tables_s": setup_value("catalog.register_tables"),
        "catalog.register_tables_jobs": setup_value("catalog.register_tables", "jobs"),
        "catalog.schema_snapshot_s": setup_value("catalog.schema_snapshot"),
        "layout.ensure_s": setup_value("layout.ensure"),
        "layout.ensure_jobs": setup_value("layout.ensure", "jobs"),
        "sqlgen.generate_ms": 1000 * per_request(("sqlgen.generate",)),
        "engine.run_query_ms": 1000 * per_request(("engine.run_query",)),
        "engine.run_query_jobs": per_request(("engine.run_query",), "jobs"),
        "engine.rejected_share": sum(o.get("verdict") == "rejected" for _, o in done) / n,
        "present.s": per_request(("present",)),
        "present.jobs": per_request(("present",), "jobs"),
        "export.csv_s": per_request(("export.csv",)),
        "export.csv_jobs": per_request(("export.csv",), "jobs"),
        "build.s": per_request(layers["build"]),
        "build.jobs": per_request(layers["build"], "jobs"),
        "build.share": sum(s.seconds for s in spans(*layers["build"])) / wall,
        "plan.s": per_request(layers["plan"]),
        "execute.s": per_request(layers["execute"]),
        "execute.jobs": per_request(layers["execute"], "jobs"),
        "execute.stages": per_request(layers["execute"], "stages"),
        "execute.tasks": per_request(layers["execute"], "tasks"),
        "execute.shuffle_bytes": per_request(layers["execute"], "shuffle_bytes"),
        "execute.spill_bytes": per_request(layers["execute"], "spill_bytes"),
        "jobs_per_query": sum(s.jobs for s in req_spans) / n,
    }
    # tracing's own cost: bookkeeping plus the extra planning pass
    own = tr.overhead_s + plan_s
    m["trace.overhead_share"] = own / (window_s - own)
    m["trace.unattributed_share"] = (
        wall - sum(s.seconds for s in req_spans) - tr.overhead_s
    ) / wall
    return m


def _trace_checks(values: dict, workload: str, done: list) -> list[str]:
    """What the per-layer figures must satisfy on every traced run."""
    problems = []
    if values["trace.unattributed_share"] > 0.05:
        problems.append(
            f"spans cover only {1 - values['trace.unattributed_share']:.1%} of request time"
        )
    if workload == "ask":
        want = sum(o.get("expected") == "rejected" for _, o in done) / len(done)
        if values["engine.rejected_share"] != want:
            problems.append(
                f"engine.rejected_share {values['engine.rejected_share']:.3f}, "
                f"the fixtures expect {want:.3f}"
            )
        if values["engine.run_query_jobs"] != 0:
            problems.append("engine.run_query ran Spark jobs; it must stay lazy")
    elif values["layout.ensure_jobs"] == 0:
        problems.append("no layout was built in set-up: a cached one was reused")
    return problems


def _count_repeats(tr, workload: str, seed: int, done: list, log) -> None:
    """Compare each request's span counts with the previous traced run
    of the same workload and seed, and say which repeat exactly."""
    from checks import load_json, save_json

    counts: dict[str, dict] = {}
    for s in tr.spans:
        if s.request is None:
            key = f"setup:{s.name}"
        else:
            key = f"{done[s.request][0].key}#{s.request}:{s.name}"
        counts[key] = {"jobs": s.jobs, "stages": s.stages, "tasks": s.tasks}
    path = WORK / "counts" / f"{workload}-{seed}.json"
    previous = load_json(path)
    save_json(path, counts)
    if not previous:
        log("count repeats: no earlier traced run of this workload and seed")
        return
    common = sorted(set(counts) & set(previous))
    for field in ("jobs", "stages", "tasks"):
        same = sum(1 for k in common if counts[k][field] == previous[k][field])
        log(f"count repeats ({field}): {same}/{len(common)} spans identical to the previous run")


# -- main -----------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ask", "ops-sample"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables")
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", flush=True)

    if not (ROOT / "ai_etl_studio_spark" / "__init__.py").is_file():
        sys.stderr.write(f"perfbench: the program (ai_etl_studio_spark) is not in {ROOT}\n")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sf = "sf0.001" if args.smoke else "sf0.1"
    sf_dir, expected_dir = HERE / "data" / sf, HERE / "expected" / sf

    _environment()
    sys.path[:0] = [str(ROOT), str(HERE)]
    timer = _watchdog()
    from tracer import Tracer
    import workloads

    tr = Tracer(bool(args.trace))
    sess = Session(args.workload, sf_dir, tr)
    try:
        sess.setup()
        if args.workload == "ask":
            stream, handle = workloads.ask_stream(args.seed), sess.ask
        else:
            stream, handle = workloads.ops_sample_stream(args.seed, sess.queries), sess.op
        setup_s = time.perf_counter() - T_START

        done: list[tuple] = []
        latencies: list[float] = []
        t0 = time.perf_counter()
        for req in stream:
            # whole rounds only (see workloads)
            if done and done[-1][0].ends_round and time.perf_counter() - t0 >= args.seconds:
                break
            tr.request = len(done)
            t_req = time.perf_counter()
            try:
                outcome = handle(req)
            except Exception as exc:  # counted as failed, the loop goes on
                outcome = {"exception": f"{type(exc).__name__}: {str(exc)[:300]}"}
            latencies.append(time.perf_counter() - t_req)
            done.append((req, outcome))
        window_s = time.perf_counter() - t0
        tr.request = None
        rss_mb = _peak_rss_mb(sess.jvm_pid)

        check = check_ask if args.workload == "ask" else check_ops
        failed = check(sess, done, expected_dir, log)
        if args.trace:
            _count_repeats(tr, args.workload, args.seed, done, log)
    finally:
        _stop_spark(sess.spark)
        timer.cancel()

    e2e = end_to_end(setup_s, latencies, window_s, rss_mb)
    log("requests: " + " ".join(f"{r.key}={t:.2f}" for (r, _), t in zip(done, latencies)))
    log(
        f"{args.workload} seed={args.seed}: {len(done)} requests in {window_s:.1f} s, "
        f"fail_share={failed / len(done):.3f} ({failed}/{len(done)}), "
        + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items())
    )
    if args.trace:
        values = per_layer(tr, args.workload, done, latencies, window_s)
        values["driver_peak_rss_mb"] = rss_mb
        wanted = spec["per_layer"]
    else:
        values, wanted = e2e, spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: no value for {missing}")
    correct = failed == 0
    if args.trace:
        for problem in _trace_checks(values, args.workload, done):
            log(f"FAIL {problem}")
            correct = False
    print(json.dumps({
        "correct": correct,
        "attempted": len(done),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
