#!/usr/bin/env python3
"""Repository benchmark: the cold CLI and first-run registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The load is one closed-loop client:
one CLI process or one query at a time. Every run generates its inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, checks every
output, removes its work directory and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See ``perfbench/README.md`` for the metrics and why each
workload exists.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

import spans

T_START = spans.Stopwatch()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cgtcalc_data_transformer_spark"

# One cold pass: a CSV export into an empty data.txt, then the .eml
# export merged into it with --dedup. Covers both source kinds, the
# read-existing path and dedup in two ~20 s processes.
CLI_PASS = [("ii", False), ("bullionvault", True)]
CLI_ROWS = 5  # fixture size: four trades and one non-trade row
CODEGEN_FALLBACK = "grows beyond 64 KB"

# The ROADMAP-named rows plus one headline query for each of the
# relational, event, text, search and graph families. Fixed; never
# chosen by speed. bench.EXCLUDED queries are left out.
REGISTRY_QUERIES = [
    "jonckheere_terpstra",
    "dedup_embedding_cosine",
    "simjoin_prefix",
    "frequent_triples",
    "frequent_pairs",
    "ivfpq_recall_audit",
    "profile_orders",
    "canonical_orders",
    "dedup_incremental",
    "q1_pricing_summary",
    "events_tumbling",
    "text_tfidf",
    "bm25_rank",
    "pagerank_suppliers",
]
# Run once in set-up so that the first listed query does not also pay
# the session's first-job costs.
WARMUP_QUERIES = ["welch_t_test", "acf_daily_counts"]
SETUP_REPEATS = 3

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "pass_s": "s"}
PER_LAYER = {
    "jvm_peak_rss_mb": "MB",
    "session.import_s": "s",
    "session.start_s": "s",
    "operators.parse_build_s": "s",
    "pipeline.merge_build_s": "s",
    "pipeline.report_s": "s",
    "sources.write_s": "s",
    "sources.read_existing_s": "s",
    "registry.build_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "trace.op_self_s": "s",
    "trace.pass_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.task_max_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "cache.resident": "count",
    "cache.bytes": "bytes",
    "spark.codegen_fallbacks": "count",
    "host.steal_share": "ratio",
}


class Run:
    """One benchmark run: arguments, work directory, child environment
    and the ops measured so far."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.event_log = os.path.join(work, "eventlog") if self.trace else None
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.layers = {k: 0.0 for k in PER_LAYER}
        self.notes: list[str] = []

    def environment(self) -> None:
        """Keep Python, Spark and the JVM inside the work directory."""
        os.makedirs(self.tmp, exist_ok=True)
        conf = spans.spark_conf_dir(os.path.join(self.work, "conf"), self.event_log)
        os.environ.update(
            TMPDIR=self.tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            SPARK_CONF_DIR=conf,
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            PYTHONPATH=os.pathsep.join(
                [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        )
        tempfile.tempdir = None

    def op(self, name: str, wall: float, stolen: float, rows: int, error: str | None,
           jvm_mb: float) -> float:
        """Record one finished op; returns its time less stolen CPU."""
        secs = wall * (1.0 - stolen)
        self.ops.append({"name": name, "wall": wall, "secs": secs, "error": error})
        print(
            f"op {name}: {secs:.3f}s (wall {wall:.3f}s, steal {stolen:.1%}) rows={rows} "
            f"jvm_peak={jvm_mb:.0f}MB",
            file=sys.stderr, flush=True,
        )
        if error:
            self.notes.append(f"FAILED {name}: {error}")
        return secs

    def result(self, setup_s: float, jvm_peak_mb: float) -> dict:
        walls = [o["wall"] for o in self.ops]
        secs = [o["secs"] for o in self.ops]
        failed = sum(1 for o in self.ops if o["error"])
        if self.trace:
            values = {
                **self.layers,
                "jvm_peak_rss_mb": jvm_peak_mb,
                "host.steal_share": 1.0 - sum(secs) / sum(walls),
            }
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(secs),
                "pass_s": statistics.median(self.passes),
            }
        units = PER_LAYER if self.trace else END_TO_END
        return {
            "correct": failed == 0 and not self.notes,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }


# ------------------------------------------------------------------ cli_cold
def cli_cold(run: Run) -> dict:
    """Fresh CLI processes on fixture-size exports, as a user runs them."""
    import inputs

    export_dir = os.path.join(run.work, "exports")
    setups = []
    for _ in range(SETUP_REPEATS):
        clock = spans.Stopwatch()
        shutil.rmtree(export_dir, ignore_errors=True)
        exports = {
            b: inputs.write_export(b, CLI_ROWS, run.seed, export_dir) for b, _ in CLI_PASS
        }
        # page in the interpreter and package files the first op reads
        subprocess.run([sys.executable, "-c", f"import {PACKAGE}.cli"], check=True, cwd=run.work)
        setups.append(clock.seconds())

    out_dir = os.path.join(run.work, "cli")
    os.makedirs(out_dir, exist_ok=True)
    output = os.path.join(out_dir, "data.txt")
    jvm_peak = 0.0
    i = 0
    while not run.passes or sum(run.passes) < run.seconds:
        if os.path.exists(output):
            os.remove(output)
        expected: list[str] = []
        pass_s = 0.0
        for broker, dedup in CLI_PASS:
            i += 1
            path, lines = exports[broker]
            expected = inputs.merge(expected, lines, dedup)
            argv = [broker, path, "--output", output] + (["--dedup"] if dedup else [])
            record = os.path.join(run.work, f"op{i}.json")
            cmd = (
                [sys.executable, os.path.join(HERE, "cli_child.py"), record, *argv]
                if run.trace
                else [sys.executable, "-m", PACKAGE, *argv]
            )
            err_path = os.path.join(run.work, f"op{i}.err")
            with open(err_path, "w") as err, open(os.devnull, "w") as devnull:
                clock = spans.Stopwatch()
                proc = subprocess.Popen(cmd, cwd=out_dir, stdout=devnull, stderr=err)
                sampler = spans.JvmPeakSampler(proc.pid)
                rc = proc.wait()
                wall, stolen = clock.read()
            op_peak = sampler.stop()
            # the CLI's JVM exits just after it; wait, untimed, so that
            # the next op does not share the machine with it
            spans.reap_descendants(grace=60)
            jvm_peak = max(jvm_peak, op_peak)

            with open(err_path, encoding="utf-8", errors="replace") as f:
                stderr = f.read()
            error = None
            if rc != 0:
                error = f"exit {rc}: {(stderr.strip().splitlines() or [''])[-1]}"
            elif not os.path.exists(output) or open(output, "rb").read() != inputs.as_bytes(expected):
                error = "data.txt differs from the expected lines"
            pass_s += run.op(
                f"cli {' '.join(argv[:1] + argv[4:])}", wall, stolen, len(expected), error, op_peak
            )
            run.layers["spark.codegen_fallbacks"] += stderr.count(CODEGEN_FALLBACK)
            if run.trace:
                _fold_cli_record(run, record, wall)
        run.passes.append(pass_s)
    if run.trace:
        run.layers["trace.pass_s"] = statistics.median(run.passes)
    return run.result(statistics.median(setups), jvm_peak)


def _fold_cli_record(run: Run, record_path: str, wall: float) -> None:
    from cli_child import GROUP

    with open(record_path) as f:
        rec = json.load(f)
    child = 0.0
    for layer, secs in rec["layers"].items():
        run.layers[f"{layer}_s"] += secs
        child += secs
    _check_self_time(run, wall, child)
    run.layers["spark.jobs"] += rec["jobs"]
    run.layers["cache.resident"] += rec["cache_resident"]
    run.layers["cache.bytes"] += rec["cache_bytes"]
    folded = spans.fold_event_log(os.path.join(run.event_log, rec["app_id"])).get(GROUP, {})
    _add_event_log(run, folded)
    if folded.get("jobs", 0) != rec["jobs"]:
        run.notes.append(f"event log has {folded.get('jobs', 0)} jobs, statusTracker {rec['jobs']}")


# ------------------------------------------------------------------ registry
def registry(run: Run) -> dict:
    """First execution of each listed registry query in a warm session."""
    import pandas  # noqa: F401  (toPandas imports it on first use)
    import pyspark.sql  # noqa: F401

    import __spark_entry__ as entrymod
    import tables
    from cgtcalc_data_transformer_spark.session import get_spark

    import_s = T_START.seconds()
    data = os.path.join(run.work, "tables")
    gens = []
    for _ in range(SETUP_REPEATS):
        clock = spans.Stopwatch()
        shutil.rmtree(data, ignore_errors=True)
        tables.write(run.seed, data)
        gens.append(clock.seconds())

    # The JVM inherits fd 2 at launch: point it at a file so that its
    # generated-code compile failures can be counted, then restore ours.
    jvm_err = os.path.join(run.work, "jvm.err")
    saved = os.dup(2)
    with open(jvm_err, "w") as f:
        os.dup2(f.fileno(), 2)
    try:
        clock = spans.Stopwatch()
        spark = get_spark(app_name="perfbench-registry")
        start_s = clock.seconds()
    finally:
        os.dup2(saved, 2)
        os.close(saved)
    sc = spark.sparkContext
    app_id = sc.applicationId
    jvm = spans.java_descendants(os.getpid())[0]
    try:
        queries = entrymod.queries()
        clock = spans.Stopwatch()
        for name in WARMUP_QUERIES:
            sc.setJobGroup(f"warmup-{name}", name)
            queries[name](spark, data).toPandas()
        setup_s = import_s + statistics.median(gens) + start_s + clock.seconds()

        fallbacks = _count_in(jvm_err, CODEGEN_FALLBACK)
        oracle = _Oracle(data, entrymod.oracle_sql())
        groups = _registry_passes(run, spark, jvm, queries, oracle, data)
        run.layers["spark.codegen_fallbacks"] = _count_in(jvm_err, CODEGEN_FALLBACK) - fallbacks
        jvm_peak = spans.vm_hwm_mb(jvm)
    finally:
        spark.stop()  # also flushes and closes the event log
        _close_gateway()
    if run.trace:
        run.layers["session.import_s"] = import_s
        run.layers["session.start_s"] = start_s
        folded = spans.fold_event_log(os.path.join(run.event_log, app_id))
        for group in groups:
            _add_event_log(run, folded.get(group, {}))
        jobs = sum(folded.get(g, {}).get("jobs", 0) for g in groups)
        if jobs != run.layers["spark.jobs"]:
            run.notes.append(f"event log has {jobs} jobs, statusTracker {run.layers['spark.jobs']}")
    return run.result(setup_s, jvm_peak)


def _registry_passes(run: Run, spark, jvm: int, queries, oracle: "_Oracle", data: str) -> list[str]:
    """Whole passes over REGISTRY_QUERIES until ``run.seconds`` are
    measured; returns the job group of every op."""
    sc = spark.sparkContext
    tracer = spans.Tracer()
    groups = []
    while not run.passes or sum(run.passes) < run.seconds:
        pass_s = 0.0
        for name in REGISTRY_QUERIES:
            group = f"p{len(run.passes)}-{name}"
            groups.append(group)
            spark.catalog.clearCache()
            sc.setJobGroup(group, name)
            tracer.op = group
            fn = queries[name]
            pdf, error = None, None
            clock = spans.Stopwatch()
            try:
                if run.trace:
                    df = tracer.span("registry.build", fn)(spark, data)
                    tracer.span("spark.plan", df._jdf.queryExecution().executedPlan)()
                    pdf = tracer.span("spark.exec", df.toPandas)()
                else:
                    pdf = fn(spark, data).toPandas()
            except Exception as e:  # a failing query is a failed op, not a crashed run
                error = f"spark error: {str(e).splitlines()[0][:200]}"
            wall, stolen = clock.read()
            if error is None:
                error = oracle.mismatch(name, pdf)
            rows = 0 if pdf is None else len(pdf)
            pass_s += run.op(name, wall, stolen, rows, error, spans.vm_hwm_mb(jvm))
            if run.trace:
                run.layers["spark.jobs"] += spans.group_jobs(sc, group)
                resident, size = spans.cache_state(sc)
                run.layers["cache.resident"] += resident
                run.layers["cache.bytes"] += size
                _check_self_time(run, wall, tracer.op_child_seconds().get(group, 0.0))
        run.passes.append(pass_s)
    if run.trace:
        for layer, secs in tracer.layer_seconds().items():
            run.layers[f"{layer}_s"] += secs
        run.layers["trace.pass_s"] = statistics.median(run.passes)
    return groups


class _Oracle:
    """Each query's ``oracle_sql()`` on DuckDB over the same tables,
    compared with the comparator of ``tools/check_oracle.py``."""

    def __init__(self, data: str, sql: dict[str, str]):
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        self.check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.check)
        self.con = duckdb.connect()
        for t in self.check.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
            )
        self.sql = sql
        self.expected: dict[str, tuple] = {}

    def mismatch(self, name: str, spd) -> str | None:
        if name not in self.sql:
            return "no oracle_sql for this query"
        if name not in self.expected:
            dpd = self.con.execute(self.sql[name]).fetchdf()
            self.expected[name] = (len(dpd), sorted(dpd.columns), self.check._frame_key(dpd))
        rows, cols, key = self.expected[name]
        if len(spd) != rows:
            return f"rowcount spark={len(spd)} duckdb={rows}"
        if sorted(spd.columns) != cols:
            return f"columns spark={sorted(spd.columns)} duckdb={cols}"
        try:
            if self.check._frame_key(spd) != key:
                return "values differ from the DuckDB oracle"
        except self.check.ComplexCellError as e:
            return f"complex cell: {e}"
        return None


# ------------------------------------------------------------------- helpers
def _check_self_time(run: Run, wall: float, child: float) -> None:
    """Child spans run inside the op, so they cannot add up to more
    than its wall time; what remains is the op's own (self) time."""
    if child > wall + 1e-3:
        run.notes.append(f"child spans {child:.3f}s exceed op wall {wall:.3f}s")
    run.layers["trace.op_self_s"] += wall - child


def _add_event_log(run: Run, folded: dict) -> None:
    for key in ("stages", "tasks", *spans.TASK_FIELDS):
        run.layers[f"spark.{key}"] += folded.get(key, 0)


def _close_gateway() -> None:
    """A stopped session keeps its JVM until the gateway's stdin closes."""
    context = sys.modules.get("pyspark.core.context")
    gateway = context.SparkContext._gateway if context else None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin and not proc.stdin.closed:
        proc.stdin.close()


def _terminate(signum, _frame) -> None:
    global TERMINATED
    TERMINATED = True
    raise SystemExit(128 + signum)


TERMINATED = False


def _count_in(path: str, needle: str) -> int:
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read().count(needle)


WORKLOADS = {"cli_cold": cli_cold, "registry_sf0.001": registry}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "cli.py")):
        print(f"error: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Every process the run starts ends before it does, on every way out.
    spans.become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        run.environment()
        result = WORKLOADS[args.workload](run)
    finally:
        _close_gateway()
        # when terminated, end the children now instead of letting them finish
        spans.reap_descendants(grace=0 if TERMINATED else 60)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    for note in run.notes:
        print(note)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
