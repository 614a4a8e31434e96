#!/usr/bin/env python3
"""Seeded end-to-end benchmark for the FIC drop pipeline and the query registry.

    python3 seedbench/run.py --workload fic-monthly --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates its inputs from
``--seed`` under ``.seedbench_work/``, starts one Spark session on
``local[N]`` (N = usable cores), sets it up and warms it, then runs whole
workload passes back to back (one client, closed loop) until ``--seconds``
have passed, at least one pass. Every operation's output is checked before
it counts. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (see
BENCHMARK.json). A traced run also writes its full trace to
``.seedbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import proc  # noqa: E402
import tracing  # noqa: E402

#: Floor-bound registry queries: fixed per-query cost dominates.
LIGHT = [
    "q01_pricing_summary", "q07_latest_order_per_customer", "q16_sessionize",
    "q23_exact_dedup", "q92_cdc_apply", "q115_weighted_sample",
    "q163_revenue_concentration",
]
#: Heavy registry queries: seals and driver replay (q183), driver-replayed
#: fit (q297), Python-worker decode (q359).
HEAVY = ["q183_hits_scores", "q297_gbm_price_stumps", "q359_jpeg_entropy_decode"]

#: Public library functions a traced FIC run records spans around.
FIC_SPANS = [
    "owl_etl_spark.sources.readers.read_fic_json",
    "owl_etl_spark.plans.fic_pipeline.transform_fic_documents",
    "owl_etl_spark.operators.latest.latest_per_key",
    "owl_etl_spark.operators.relational.to_star_schema",
    "owl_etl_spark.sources.writers.write_gold_snapshot",
]
#: Spans whose self time is Python-side plan building.
BUILD_SPANS = {
    "sources.readers.read_fic_json", "plans.fic_pipeline.transform_fic_documents",
    "operators.latest.latest_per_key", "operators.relational.to_star_schema",
    "registry.query",
}
SETUP_CYCLES = 3
#: Driver heap. The library's 8g default measured slower and less steady on a
#: 4-core host (more pages to fault in, ~7.5 GB resident) for these inputs.
DRIVER_MEM = "2g"

E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"seedbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fic_sizes(seed: int) -> dict:
    """Drop shape for a seed: 24-40 funds, 3-6 months of silver history."""
    return {"n_funds": 24 + seed % 17, "n_months": 4 + seed % 4}


# -- session ---------------------------------------------------------------
def start_session(work: str, n: int):
    from owl_etl_spark.session import get_spark

    spark = get_spark(
        app_name="seedbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_probe(spark, work: str, n: int) -> None:
    """A small aggregate and a parquet round trip on the new session."""
    from pyspark.sql import functions as F

    spark.range(0, 50_000, 1, n).selectExpr("id % 97 AS k", "id * 3 AS v") \
        .groupBy("k").agg(F.sum("v").alias("s")).collect()
    path = os.path.join(work, "probe")
    spark.range(0, 1000, 1, 2).selectExpr("id", "cast(id AS string) AS s") \
        .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).agg(F.sum("id")).collect()


def setup(work: str, n: int):
    """Start and warm the session SETUP_CYCLES times, stopping it in between;
    the last session is kept. The first cycle also launches the JVM."""
    starts, warms, spark = [], [], None
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, n)
        t1 = time.perf_counter()
        warm_probe(spark, work, n)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    totals = [s + w for s, w in zip(starts, warms)]
    return spark, {
        "setup_s": statistics.median(totals),
        "session.start_s": statistics.median(starts),
        "session.warm_s": statistics.median(warms),
        "session.first_start_s": starts[0],
    }


def stop_all(spark) -> None:
    """Stop Spark, end the JVM and wait until every process the run started
    (the JVM and the Python workers it forked) has exited."""
    import signal

    from pyspark import SparkContext

    pids = proc.descendants()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if proc.alive(pid):
                    os.kill(pid, sig)
        deadline = time.time() + 20
        while any(proc.alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.1)
        if not any(proc.alive(p) for p in pids):
            return


# -- workloads ----------------------------------------------------------------
class Runner:
    """Runs operations, untraced or through a ``tracing.Tracer``."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    def op(self, label: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(label, fn, *args)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


class FicMonthly:
    """One pass = the newest monthly drop through ``cli transform
    --reference-layout`` and then ``cli load`` over all silver so far."""

    name = "fic-monthly"
    spans = FIC_SPANS

    def __init__(self, work: str, seed: int, n: int):
        import gen_fic

        self.n = n
        self.truth = gen_fic.generate(seed, os.path.join(work, "fic"), **fic_sizes(seed))
        self.latest = gen_fic.gold_truth(self.truth)
        self.drop = self.truth["drop"]
        self.silver_out = os.path.join(self.truth["silver"], os.path.basename(self.drop["folder"]))
        self.gold = os.path.join(work, "fic", "gold")

    def prepare(self, spark, runner):
        pass

    def one_pass(self, spark, runner: Runner) -> list[tuple]:
        from owl_etl_spark import cli

        ns = argparse.Namespace(
            cmd="transform", cpus=self.n, input=self.drop["folder"], output=self.silver_out,
            lookup=self.truth["lookup"], skip_list_out=None, reference_layout=True)
        out = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(out):
            runner.op("cli.cmd_transform", cli.cmd_transform, ns)
        t1 = time.perf_counter()
        ns = argparse.Namespace(cmd="load", cpus=self.n,
                                input=os.path.join(self.truth["silver"], "*"),
                                output=self.gold, skip_list=None)
        with contextlib.redirect_stdout(io.StringIO()):
            runner.op("cli.cmd_load", cli.cmd_load, ns)
        t2 = time.perf_counter()
        return [("cli.cmd_transform", t1 - t0, out.getvalue()),
                ("cli.cmd_load", t2 - t1, self.gold)]

    def check(self, label: str, output, plant: str | None) -> list[str]:
        if label == "cli.cmd_transform":
            report = json.loads(output.strip().splitlines()[-1])
            return checks.check_transform(report, self.silver_out, self.drop)
        if plant:
            plant_gold(output, plant)
        return checks.check_gold(output, self.latest)


class RegistryMix:
    """One pass = every query of the mix, each built and collected."""

    name = "registry-mix"
    spans: list[str] = []

    def __init__(self, work: str, seed: int, n: int):
        import gen_tables

        self.dir = os.path.join(work, "tables")
        self.warm_dir = os.path.join(work, "warm-tables")
        gen_tables.generate(seed, self.dir)
        gen_tables.generate(seed + 1, self.warm_dir, scale=0.01)
        self.names = LIGHT + HEAVY
        self.twins = self._twins()

    def _twins(self) -> dict:
        """Each query's DuckDB twin over the same generated files."""
        import duckdb

        import __spark_entry__ as entry
        import gen_tables

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for table in gen_tables.ROWS:
            path = os.path.join(self.dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        twins = {}
        for name in self.names:
            res = con.execute(oracle[name])
            cols = [d[0] for d in res.description]
            twins[name] = (cols, checks.norm_rows(cols, res.fetchall()))
        con.close()
        return twins

    def _query(self, spark, runner: Runner, name: str, tables: str):
        import __spark_entry__ as entry

        with runner.span("registry.query"):
            df = entry.queries()[name](spark, tables)
        with runner.span("collect"):
            return df.columns, df.collect()

    def prepare(self, spark, runner):
        """Warm-up: the whole mix once over 1/100-size tables, not measured."""
        for name in self.names:
            self._query(spark, runner, name, self.warm_dir)

    def one_pass(self, spark, runner: Runner) -> list[tuple]:
        results = []
        for name in self.names:
            t0 = time.perf_counter()
            output = runner.op(name, self._query, spark, runner, name, self.dir)
            results.append((name, time.perf_counter() - t0, output))
        return results

    def check(self, label: str, output, plant: str | None) -> list[str]:
        cols, rows = output
        if plant and label == self.names[0]:
            rows = plant_rows(rows, plant)
        return checks.check_query(cols, rows, self.twins[label])


WORKLOADS = {w.name: w for w in (FicMonthly, RegistryMix)}


# -- planted faults, for the benchmark's own tests ------------------------------
def plant_rows(rows, how: str):
    rows = [list(r) for r in rows]
    if how == "row":
        return rows[1:]
    rows[0][0] = "planted" if isinstance(rows[0][0], str) else (rows[0][0] or 0) + 1
    return rows


def plant_gold(gold: str, how: str) -> None:
    """Rewrite one gold table with one cell changed or one row dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_name = "fic" if how == "row" else "plazo_duracion"
    path = os.path.join(gold, table_name)
    table = pq.read_table(path)
    if how == "row":
        table = table.slice(1)
    else:
        vals = table.column("participacion").to_pylist()
        vals[0] = str(float(vals[0]) + 0.01)
        idx = table.schema.get_field_index("participacion")
        table = table.set_column(idx, "participacion", pa.array(vals, pa.string()))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


# -- metrics ---------------------------------------------------------------------
def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(setup_m: dict, passes: list, op_walls: dict, cpu: dict, rss_mb: float) -> dict:
    return {
        "setup_s": setup_m["setup_s"],
        "pass_s": statistics.median(passes),
        "op_geomean_s": geomean(statistics.median(v) for v in op_walls.values()),
        "cpu_s": sum(cpu.values()) / len(passes),
        "peak_rss_mb": rss_mb,
    }


def per_layer(setup_m: dict, tracer, n_passes: int, cpu: dict, wall_s: float) -> dict:
    """Per-pass layer numbers from the traced operations."""
    ops = tracer.ops
    tot: dict[str, float] = {k: 0.0 for k in PER_LAYER_UNITS}
    plan_chars = 0
    for op in ops:
        for span in op["spans"]:
            if span["name"] in BUILD_SPANS:
                tot["build.s"] += span["end"] - span["start"]
                inside = [j for j in op["jobs"] if span["start"] <= j["start"] < span["end"]]
                tot["build.jobs"] += len(inside)
                tot["build.driver_s"] += tracing.attribute(
                    (span["start"], span["end"]),
                    [(j["start"], j["end"], "jobs", 1) for j in inside]).get("unattributed", 0.0)
        for a in op["actions"]:
            tot["catalyst.actions"] += 1
            for phase in ("analysis", "optimization", "planning"):
                if phase in a["phases"]:
                    s, e = a["phases"][phase]
                    tot[f"catalyst.{phase}_s"] += e - s
            plan_chars = max(plan_chars, a.get("plan_chars", 0))
            tot["pyworker.nodes"] += a.get("py_nodes", 0)
        tot["jobs.count"] += len(op["jobs"])
        for st in op["stages"]:
            tot["jobs.stages"] += 1
            tot["jobs.tasks"] += st["tasks"]
            tot["exec.run_s"] += st["run_s"]
            tot["exec.cpu_s"] += st["cpu_s"]
            tot["exec.gc_s"] += st["gc_s"]
            tot["exec.shuffle_write_mb"] += st["shuffle_write_b"] / 2**20
            tot["exec.shuffle_read_mb"] += st["shuffle_read_b"] / 2**20
            tot["exec.spill_mb"] += st["spill_b"] / 2**20
            tot["exec.input_mb"] += st["input_b"] / 2**20
            tot["exec.output_mb"] += st["output_b"] / 2**20
        for label, secs in op["self"].items():
            if label == "jobs":
                tot["self.jobs_s"] += secs
            elif label == "catalyst":
                tot["self.catalyst_s"] += secs
            elif label in BUILD_SPANS:
                tot["self.build_s"] += secs
            else:
                tot["self.driver_s"] += secs
    tot["self.unattributed_s"] = wall_s - sum(op["wall"][1] - op["wall"][0] for op in ops)
    tot["jobs.driver_gap_s"] = tot["self.catalyst_s"] + tot["self.driver_s"]
    tot["cpu.driver_s"], tot["cpu.jvm_s"] = cpu["driver"], cpu["jvm"]
    tot["cpu.pyworkers_s"] = cpu["pyworkers"]
    tot["trace.overhead_s"] = tracer.overhead_s
    out = {k: v / n_passes for k, v in tot.items()}
    out["catalyst.plan_chars"] = plan_chars
    for k in ("session.start_s", "session.warm_s", "session.first_start_s"):
        out[k] = setup_m[k]
    return out


PER_LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "build.driver_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.plan_chars": "count", "catalyst.actions": "count",
    "jobs.count": "count", "jobs.stages": "count", "jobs.tasks": "count",
    "jobs.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.output_mb": "MB",
    "pyworker.nodes": "count", "cpu.driver_s": "s", "cpu.jvm_s": "s", "cpu.pyworkers_s": "s",
    "self.build_s": "s", "self.catalyst_s": "s", "self.jobs_s": "s", "self.driver_s": "s",
    "self.unattributed_s": "s", "trace.overhead_s": "s",
    "session.start_s": "s", "session.warm_s": "s", "session.first_start_s": "s",
}


def trace_summary(tracer) -> dict:
    """Self time per span and jobs per call-site module, summed over ops."""
    spans: dict[str, float] = {}
    modules: dict[str, dict] = {}
    for op in tracer.ops:
        for label, secs in op["self"].items():
            spans[label] = spans.get(label, 0.0) + secs
        for j in op["jobs"]:
            m = modules.setdefault(j["module"], {"jobs": 0, "run_s": 0.0})
            m["jobs"] += 1
            m["run_s"] += j["run_s"]
    return {"self_s": spans, "jobs_by_module": modules}


# -- main ------------------------------------------------------------------------
def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant", choices=("cell", "row"), default=None,
                   help="corrupt one output of the first pass (tests the checks)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import owl_etl_spark  # noqa: F401
        if args.workload == "registry-mix":
            import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"seedbench: library not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    n = cores()
    work = os.path.join(ROOT, ".seedbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # every JVM (launcher and driver) skips its hsperfdata file under /tmp,
        # so the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    spark = None
    try:
        t0 = time.perf_counter()
        workload = WORKLOADS[args.workload](work, args.seed, n)
        log(f"inputs {time.perf_counter() - t0:.1f}s")
        spark, setup_m = setup(work, n)
        t0 = time.perf_counter()
        workload.prepare(spark, Runner())
        log(f"setup {setup_m}; warm-up {time.perf_counter() - t0:.1f}s")
        tracer = tracing.Tracer(spark, ROOT, workload.spans) if args.trace else None
        runner = Runner(tracer)
        passes, op_walls, attempted, failed, problems = [], {}, 0, 0, []
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
        loop_start = time.perf_counter()
        while not passes or time.perf_counter() - loop_start < args.seconds:
            before = proc.snapshot()
            t0 = time.perf_counter()
            try:
                results = workload.one_pass(spark, runner)
            except Exception as e:  # a failed operation fails the pass
                results = [("pass", time.perf_counter() - t0, e)]
            passes.append(time.perf_counter() - t0)
            for role, secs in proc.delta(before, proc.snapshot()).items():
                cpu[role] += secs
            for label, secs, output in results:  # checked outside the timed region
                attempted += 1
                try:
                    if isinstance(output, Exception):
                        raise output
                    bad = workload.check(label, output, args.plant if len(passes) == 1 else None)
                except Exception as e:
                    bad = [f"{type(e).__name__}: {e}"]
                if bad:
                    failed += 1
                    problems += [f"{label}: {b}" for b in bad]
                else:
                    op_walls.setdefault(label, []).append(secs)
        wall = sum(passes)
        log(f"{len(passes)} passes in {wall:.1f}s")
        peak_rss_mb = proc.snapshot()["peak_rss_mb"]
        correct = failed == 0 and bool(op_walls)
        if tracer:
            tracer.close()
            metrics = per_layer(setup_m, tracer, len(passes), cpu, wall)
            units = PER_LAYER_UNITS
            tdir = os.path.join(ROOT, ".seedbench_work", "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"metrics": metrics, **trace_summary(tracer), "ops": tracer.ops},
                          fh, indent=1, default=str)
        else:
            metrics = end_to_end(setup_m, passes, op_walls, cpu, peak_rss_mb) \
                if op_walls else {k: 0.0 for k in E2E_UNITS}
            units = E2E_UNITS
        for msg in problems[:20]:
            print(f"INCORRECT {msg}", file=sys.stderr)
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
