"""Benchmark of the qaapi_spark engine: one closed-loop client (each
operation starts when the previous one ends) against ``get_spark()`` on
``local[<cores>]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md for why each exists and what it sizes):
  elt_trailing_window  trailing-window batches through CalabrioPipeline,
                       then the two curated-table analyses
  catalog_batch        non-streaming catalog queries, repeated passes
  stream_epochs        streaming-twin catalog queries, repeated passes

A run generates its inputs from ``--seed``, sets up (session start,
input generation, workload start, one untimed warm-up pass), then
measures whole passes of the workload's operations for about
``--seconds`` seconds (at least ``MIN_PASSES``; a further pass starts
only if the previous pass's time still fits).  Every operation's output is checked outside the timed region
against a computation made apart from the program: the query's DuckDB
oracle, or the plain-Python reconcile model in ``elt.py``.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Per-operation records go to
``.perfbench_out/<workload>-seed<n>-trace<t>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import catalog_tables
import elt
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CATALOG_QUERIES = {
    # name -> family (the family.* per-layer metrics)
    "q3_top_revenue_orders": "relational",
    "dedup_connected_components": "graph",
    "bm25_search_topk": "retrieval",
}
STREAM_QUERIES = dict.fromkeys([
    "stream_running_distinct_users",
    "stream_hll_running_users",
], "stream")
FAMILIES = tuple(dict.fromkeys(CATALOG_QUERIES.values()))
TABLE_SF = 0.01  # catalog/stream input size, in TPC-H scale-factor units
DATA_REPEATS = 3  # input generation is repeated and its median taken
MIN_PASSES = 2  # measured passes per run; per-operation medians over them
DRIVER_MEM = "2g"  # well below physical memory
MB = 1e6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# -- workloads --------------------------------------------------------------


class CatalogWorkload:
    """Catalog queries at a fixed order, one operation per query; each
    result is checked against the query's DuckDB oracle."""

    def __init__(self, groups: dict[str, str]):
        self.groups = groups  # query name -> group of its records

    def generate(self, work, seed):
        self.sf_dir = os.path.join(work, "tables")
        catalog_tables.generate(self.sf_dir, seed, TABLE_SF)
        self._oracle = {}

    def start(self, spark):
        self.spark = spark

    def start_pass(self, p):
        pass

    def ops(self, warm=False):
        from qaapi_spark.plans import CATALOG
        from qaapi_spark.session import release_kernel_caches

        for name, group in self.groups.items():
            spec = CATALOG[name]

            def build(spec=spec):
                return spec.fn(self.spark, self.sf_dir)

            def collect(df):
                rows = [tuple(r) for r in df.collect()]
                release_kernel_caches()
                return df.columns, rows

            yield name, group, build, collect

    def end_pass(self, p):
        from qaapi_spark.session import release_kernel_caches

        release_kernel_caches(include_shared=True)

    def check(self, name, result):
        from qaapi_spark.plans import CATALOG
        from qaapi_spark.testing import compare, duck_connection, run_oracle

        if name not in self._oracle:
            self._oracle[name] = run_oracle(duck_connection(self.sf_dir), CATALOG[name].oracle)
        return compare(*result, *self._oracle[name])


class EltWorkload:
    """A fixed replay of trailing-window batches through
    ``CalabrioPipeline.run_batch`` (default full-rewrite maintenance),
    then the reference's two analyses over the curated tables.  The
    initial load is set-up; each pass replays the incremental batches
    into a fresh copy of the loaded warehouse, so passes do identical
    work."""

    def generate(self, work, seed):
        self.work = work
        self.landing = elt.generate_batches(os.path.join(work, "landing"), seed)
        self.landed = [elt.landed_bytes(d) for d in self.landing]

    def start(self, spark):
        """Expected states from the model, then the initial load
        (batch 0) into a base warehouse that every pass starts from."""
        from qaapi_spark.pipeline import CalabrioPipeline

        self.spark = spark
        model = elt.Model()
        self.expected = []  # curated tables after each batch
        for d in self.landing:
            model.apply(d)
            self.expected.append({t: list(rows) for t, rows in model.tables().items()})
        self.base = os.path.join(self.work, "warehouse_base")
        CalabrioPipeline(spark, self.base).run_batch(self.landing[0], collect_counts=False)

    def start_pass(self, p):
        from qaapi_spark.pipeline import CalabrioPipeline

        self.wh = os.path.join(self.work, f"warehouse{p}")
        shutil.copytree(self.base, self.wh)
        self.pipe = CalabrioPipeline(self.spark, self.wh)

    def ops(self, warm=False):
        """The incremental batches, then the analyses.  ``warm``: the
        warm-up pass needs one batch; later batches run the same plan
        shapes."""
        from qaapi_spark.operators.windows import rolling_sum

        for b in range(1, 2 if warm else len(self.landing)):
            d = self.landing[b]
            yield f"batch{b}", "batch", lambda d=d: self.pipe.run_batch(d, collect_counts=False), None

        def rolling():
            ev = self.pipe.read("t_qa_evaluations")
            daily = ev.groupBy(F.to_date("evaluated_date").alias("day")).agg(
                F.count("*").alias("n_evals"))
            return rolling_sum(daily, "day", "n_evals", 6, "evals_7d")

        def contact_evals():
            c = self.pipe.read("t_contacts")
            e = self.pipe.read("t_qa_evaluations")
            return c.join(e, "contact_id", "left").select(
                "contact_id", "cjp_session_id", "evaluation_id", "eval_type", "final_score")

        def collect(df):
            return df.columns, [tuple(r) for r in df.collect()]

        yield "rolling_7d", "analyze", rolling, collect
        yield "contact_evals", "analyze", contact_evals, collect

    def end_pass(self, p):
        shutil.rmtree(self.wh, ignore_errors=True)

    def _scan(self, table):
        return f"read_parquet('{self.wh}/{table}/*.parquet')"

    def check(self, name, result):
        from qaapi_spark.testing import compare

        con = duckdb.connect()
        if name.startswith("batch"):
            problems = []
            for table, rows in self.expected[int(name[5:])].items():
                res = con.execute(f"SELECT * FROM {self._scan(table)}")
                cols = [c[0] for c in res.description]
                got = res.fetchall()
                want = [tuple(r.get(c) for c in cols) for r in rows]
                problems += [f"{table}: {m}" for m in compare(cols, got, cols, want)]
                for key in elt.UNIQUE_KEYS.get(table, ()):
                    n, k = con.execute(
                        f"SELECT COUNT(*), COUNT(DISTINCT {key}) FROM {self._scan(table)}").fetchone()
                    if n != k:
                        problems.append(f"{table}: {n - k} duplicate {key} values")
            return problems
        if name == "rolling_7d":
            sql = f"""SELECT day, n_evals, SUM(n_evals) OVER (ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS evals_7d
                      FROM (SELECT CAST(evaluated_date AS DATE) AS day, COUNT(*) AS n_evals
                            FROM {self._scan('t_qa_evaluations')} GROUP BY 1)"""
        else:
            sql = f"""SELECT c.contact_id, c.cjp_session_id, e.evaluation_id, e.eval_type,
                             e.final_score
                      FROM {self._scan('t_contacts')} c
                      LEFT JOIN {self._scan('t_qa_evaluations')} e USING (contact_id)"""
        res = con.execute(sql)
        return compare(*result, [c[0] for c in res.description], res.fetchall())


WORKLOADS = {
    "elt_trailing_window": lambda: EltWorkload(),
    "catalog_batch": lambda: CatalogWorkload(CATALOG_QUERIES),
    "stream_epochs": lambda: CatalogWorkload(STREAM_QUERIES),
}


# -- harness ----------------------------------------------------------------


class Runner:
    def __init__(self, spark, workload, trace: bool):
        self.spark = spark
        self.w = workload
        self.counters = probes.SparkCounters(spark)
        self.procs = probes.Processes(spark.sparkContext._gateway.proc.pid)
        self.rss = probes.PeakRss(self.procs)
        self.tracer = self.listener = None
        if trace:
            self._install_tracing()

    def _install_tracing(self):
        import qaapi_spark.operators.maintain as maintain
        import qaapi_spark.sources.landing as landing
        import qaapi_spark.sources.tables as tables_mod
        import qaapi_spark.transforms as transforms

        t = self.tracer = probes.Tracer(self.counters)
        t.patch_function("sources.read_entity", landing, "read_entity")
        t.patch_function("sources.read_table", tables_mod, "read_table")
        for name in ("forms_flatten", "contacts_curated", "evaluations_curated",
                     "scores_flatten", "comments_curated"):
            t.patch_function("transforms", transforms, name)
        for name in ("merge_insert_only", "merge_upsert", "delete_semi_anti"):
            t.patch_function("maintain", maintain, name)

        def written(rec, args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            rec["bytes"] = probes.dir_bytes(path) if path else 0

        t.patch_method("writer", DataFrameWriter, "parquet", after=written)
        self.listener = probes.add_epoch_listener(self.spark)

    def run_pass(self, p: int, measured: bool) -> list[dict]:
        """One pass of every operation; returns its records.  Checks run
        after each operation, outside its timed region."""
        w = self.w
        w.start_pass(p)
        recs = []
        for name, group, build, collect in w.ops(warm=not measured):
            if self.tracer:
                self.tracer.op, self.tracer.pass_no = name, p
            n_epochs = len(self.listener.durations_ms) if self.listener else 0
            rec = {"pass": p, "op": name, "group": group, "measured": measured}
            c0, u0 = self.counters.snapshot(), self.procs.cpu()
            t0 = time.perf_counter()
            result = error = c1 = t1 = None
            try:
                df = build()
                t1 = time.perf_counter()
                c1 = self.counters.snapshot() if self.tracer else None
                result = collect(df) if collect else df
            except Exception as e:  # an operation that raises counts as failed
                error = f"{type(e).__name__}: {e}"
                t1 = t1 or time.perf_counter()
            t2 = time.perf_counter()
            c2, u2 = self.counters.snapshot(), self.procs.cpu()
            rec.update(s=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1,
                       cpu={k: u2[k] - u0[k] for k in u2})
            rec.update(probes.delta(c2, c0), stage_ids=[c0["stages"], c2["stages"]])
            if c1 is not None:
                rec["build_jobs"] = c1["jobs"] - c0["jobs"]
            if collect and result is not None:
                rec["rows"] = len(result[1])
            if self.listener:
                rec["epoch_ms"] = self.listener.durations_ms[n_epochs:]
            if error is None:
                with self.rss.paused():  # the checks' own memory is not the program's
                    problems = w.check(name, result)
                error = "; ".join(problems)[:2000] if problems else None
                rec["mismatch"] = bool(problems)
            rec["error"] = error
            if error:
                print(f"FAILED {name} (pass {p}): {error}", file=sys.stderr)
            recs.append(rec)
        if isinstance(w, EltWorkload) and self.tracer:
            recs[-1]["curated_b"] = probes.dir_bytes(w.wh)
        w.end_pass(p)
        return recs

    def measure(self, seconds: float) -> list[list[dict]]:
        """Measured passes: at least ``MIN_PASSES``, and another only
        while the previous pass's time still fits in ``seconds``."""
        passes = []
        t_measure = time.perf_counter()
        with self.rss:
            while True:
                t = time.perf_counter()
                passes.append(self.run_pass(len(passes) + 1, measured=True))
                last = time.perf_counter() - t
                if (len(passes) >= MIN_PASSES
                        and time.perf_counter() - t_measure + last > seconds):
                    return passes


def _setenv(work: str) -> None:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the Python workers import kernels from qaapi_spark whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the launcher too) keeps its temp files in the checkout
    # and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the heap is committed and touched at its fixed size up front, so
    # peak RSS does not depend on when the JVM chose to grow its heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _op_median_sum(passes, f):
    """Sum over operations of each operation's median across passes: a
    slow stretch of the host hits one repetition, not the median."""
    by_op: dict[str, list] = {}
    for recs in passes:
        for r in recs:
            by_op.setdefault(r["op"], []).append(f(r))
    return sum(_median(v) for v in by_op.values())


def _end_to_end(setup_s, passes, peak_rss):
    ops = [r for recs in passes for r in recs]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (_op_median_sum(passes, lambda r: r["s"]), "s"),
        "op_p50_s": (_median([r["s"] for r in ops]), "s"),
        "cpu_s": (_op_median_sum(passes, lambda r: sum(r["cpu"].values())), "s"),
        "peak_rss_mb": (peak_rss / MB, "MB"),
        "spark_jobs": (_op_median_sum(passes, lambda r: r["jobs"]), "count"),
        "spark_tasks": (_op_median_sum(passes, lambda r: r["tasks"]), "count"),
        "shuffle_mb": (_op_median_sum(passes, lambda r: r["shuffle_write_b"]) / MB, "MB"),
    }


def _per_layer(runner, start_s, passes, wall_s, cores):
    spans = [s for s in runner.tracer.spans if s["pass"] > 0]
    n = len(passes)

    def total(f, recs=None):
        return sum(f(r) for rs in passes for r in rs if recs is None or recs(r)) / n

    def span_sum(layer):
        return sum(s["s"] for s in spans if s["layer"] == layer) / n

    def span_count(layer):
        return sum(1 for s in spans if s["layer"] == layer) / n

    def written(group):
        ops = {r["op"] for rs in passes for r in rs if r["group"] == group}
        return sum(s["bytes"] for s in spans if s["layer"] == "writer" and s["op"] in ops) / n

    batch = lambda r: r["group"] == "batch"  # noqa: E731
    plan = lambda r: r["group"] not in ("batch", "analyze")  # noqa: E731
    stream = lambda r: r["group"] == "stream"  # noqa: E731
    landed = sum(runner.w.landed[1:]) if isinstance(runner.w, EltWorkload) else 0
    out_b = written("batch")
    durations = [ms / 1000 for rs in passes for r in rs for ms in r["epoch_ms"]]
    epochs = len(durations) / n
    stream_jobs = total(lambda r: r["jobs"], stream)
    task_s = total(lambda r: r["task_ms"]) / 1000
    m = {
        "session.start_s": (start_s, "s"),
        "sources.read_entity_s": (span_sum("sources.read_entity"), "s"),
        "sources.read_entity_calls": (span_count("sources.read_entity"), "count"),
        "sources.read_table_calls": (span_count("sources.read_table"), "count"),
        "transforms.build_s": (span_sum("transforms"), "s"),
        "maintain.build_s": (span_sum("maintain"), "s"),
        "maintain.calls": (span_count("maintain"), "count"),
        "pipeline.batch_s": (total(lambda r: r["s"], batch), "s"),
        "pipeline.batch_jobs": (total(lambda r: r["jobs"], batch), "count"),
        "pipeline.batch_tasks": (total(lambda r: r["tasks"], batch), "count"),
        "pipeline.output_mb": (out_b / MB, "MB"),
        "pipeline.curated_mb": (total(lambda r: r.get("curated_b", 0)) / MB, "MB"),
        "pipeline.write_amp": (out_b / landed if landed else 0.0, "ratio"),
        "analyze.s": (total(lambda r: r["s"], lambda r: r["group"] == "analyze"), "s"),
        "analyze.jobs": (total(lambda r: r["jobs"], lambda r: r["group"] == "analyze"), "count"),
        "plans.build_s": (total(lambda r: r["build_s"], plan), "s"),
        "plans.build_jobs": (total(lambda r: r.get("build_jobs", 0), plan), "count"),
        "plans.collect_s": (total(lambda r: r["collect_s"], plan), "s"),
        "plans.collect_jobs": (total(lambda r: r["jobs"] - r.get("build_jobs", 0), plan), "count"),
        "plans.collect_rows": (total(lambda r: r.get("rows", 0), plan), "count"),
    }
    for fam in FAMILIES:
        m[f"family.{fam}_s"] = (total(lambda r: r["s"], lambda r, f=fam: r["group"] == f), "s")
    m.update({
        "streaming.epochs": (epochs, "count"),
        "streaming.jobs_per_epoch": (stream_jobs / epochs if epochs else 0.0, "ratio"),
        "streaming.epoch_p50_s": (_median(durations), "s"),
        "streaming.output_mb": (written("stream") / MB, "MB"),
        "spark.stages": (total(lambda r: r["stages"]), "count"),
        "spark.task_busy_s": (task_s, "s"),
        "spark.core_util": (task_s / (wall_s * cores) if wall_s else 0.0, "ratio"),
        "spark.gc_s": (total(lambda r: r["gc_ms"]) / 1000, "s"),
        "spark.input_mb": (total(lambda r: r["input_b"]) / MB, "MB"),
        "spark.shuffle_read_mb": (total(lambda r: r["shuffle_read_b"]) / MB, "MB"),
        "proc.session_cpu_s": (total(lambda r: r["cpu"]["session"]), "s"),
        "proc.jvm_cpu_s": (total(lambda r: r["cpu"]["jvm"]), "s"),
        "proc.worker_cpu_s": (total(lambda r: r["cpu"]["workers"]), "s"),
        "trace.wall_s": (wall_s, "s"),
    })
    return m


def _shutdown(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes)
    and wait until it and the Python workers it started have ended."""
    gateway = spark.sparkContext._gateway
    workers = list(probes.Processes(gateway.proc.pid).tree())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(probes.alive(pid) for pid in workers) and time.monotonic() < deadline:
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "qaapi_spark", "__init__.py")):
        print(f"qaapi_spark not found next to {HERE}: run from a checkout of the repo",
              file=sys.stderr)
        return 2

    t_begin = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, t_begin)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, t_begin) -> int:
    _setenv(work)
    os.chdir(work)  # spark-warehouse/ and other cwd-relative output stay here
    sys.path.insert(0, ROOT)
    from qaapi_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t_begin
    try:
        spark.sparkContext.setLogLevel("ERROR")
        w = WORKLOADS[args.workload]()
        gen = []
        for _ in range(DATA_REPEATS):
            t = time.perf_counter()
            w.generate(work, args.seed)
            gen.append(time.perf_counter() - t)
        t = time.perf_counter()
        w.start(spark)
        runner = Runner(spark, w, bool(args.trace))
        warm = runner.run_pass(0, measured=False)
        setup_s = start_s + _median(gen) + (time.perf_counter() - t)

        passes = runner.measure(args.seconds)
        ops = [r for recs in passes for r in recs]
        if runner.tracer:
            runner.tracer.unpatch()
            run_ms = probes.stage_run_ms(spark)
            for r in ops:
                r["task_ms"] = sum(run_ms.get(i, 0) for i in range(*r["stage_ids"]))
            wall_s = _op_median_sum(passes, lambda r: r["s"])
            metrics = _per_layer(runner, start_s, passes, wall_s, len(os.sched_getaffinity(0)))
        else:
            metrics = _end_to_end(setup_s, passes, runner.rss.peak)
    finally:
        _shutdown(spark)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"), "w") as f:
        for r in warm + ops:
            f.write(json.dumps(r) + "\n")
        if runner.tracer:
            for s in runner.tracer.spans:
                f.write(json.dumps({"span": s}) + "\n")
    failed = sum(1 for r in ops if r["error"])
    print(json.dumps({
        "correct": not any(r.get("mismatch") for r in ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
