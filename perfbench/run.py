"""Closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One client (this process) runs the workload's ops back to back on
``local[<cores>]`` Spark, in whole passes, until the passes have taken
``--seconds``. Inputs are generated from ``--seed`` into a scratch
directory of the checkout before anything is timed: the measured set, and
a smaller set of the same shape for the set-up's warm-up pass. Every op's
output is checked outside the timed region. The last stdout line is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the measured passes are traced and the metrics are per
layer, read from Spark's status store and ``/proc`` around the calls the
benchmark makes into the program. The line before
the result is a run record: the derived session conf, input sizes, every
set-up, pass and op time, and which check each op got. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import checks, gen, probe  # noqa: E402

PACKAGE = "movie_data_etl_pipeline_spark"
SETUPS = 3  # set-ups per run; setup_s is their median

VIEW_OPS = (
    "v1_top_actors", "v2_top_genres", "v3_genre_ratings", "v4_top_actors_by_rating",
    "o7_top_n_per_group",
)
LLM_OPS = ("gr_hits", "ev_rfm", "dd_minhash_lsh", "sim_knn_lsh", "sim_knn_ivf")
WORKLOADS = {
    # the reference's ETL (pages of 20 movies: an initial load, incremental
    # batches, a rerun of the last batch), then its analytical views on
    # fixture tables at scale sf multiplied by key-shifted replicas
    "reference": {"pages": 20, "batches": 1, "batch_pages": 10,
                  "ops": VIEW_OPS, "sf": 0.02, "factor": 2},
    "llm_ops": {"ops": LLM_OPS, "sf": 0.02, "factor": 1},
}

# Expected columns of the registry ops that have no DuckDB twin.
NO_TWIN_COLUMNS = {
    "dd_minhash_lsh": ("a_id", "b_id", "jaccard"),
    "sim_knn_lsh": ("query_id", "neighbor_id", "score", "rank"),
    "sim_knn_ivf": ("query_id", "neighbor_id", "score", "rank"),
}

# The set-up's warm-up pass runs on a second, smaller input set of the
# same shape (another seed, a quarter of the volume), so that nothing it
# computes can be reused by the measured passes.
WARM_SEED_SHIFT = 1_000_001
WARM_SCALE = 0.25

PIPELINE_TABLES = checks.STATE_TABLES
END_TO_END = {"wall_s": "s", "op_p50_s": "s", "cpu_s": "s", "setup_s": "s"}
SPARK_TOTALS = probe.STAGE_KEYS
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.shuffle_partitions": "count",
    "session.driver_mem_gb": "GB",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_task_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    **{f"spark.{k}": "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
       for k in SPARK_TOTALS},
    "spark.core_busy_frac": "ratio",
    "sources.input_bytes": "bytes",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "pipeline.initial_s": "s",
    "pipeline.incremental_s": "s",
    "pipeline.rerun_s": "s",
    **{f"pipeline.write_{t}_s": "s" for t in PIPELINE_TABLES},
    "functions.py_worker_cpu_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def now() -> float:
    return time.perf_counter()


def prepare_environment(work: Path) -> None:
    """Environment for the Spark JVM and its Python workers; must be set
    before the JVM starts."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    # Python workers import the package from the checkout, whatever the cwd
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    # keep the JVMs' temp files, and their perf-data files, out of /tmp
    jvm_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    env["SPARK_SUBMIT_OPTS"] = f"{env.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}"
    env["SPARK_LAUNCHER_OPTS"] = f"{env.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}"
    env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # measure the conf the session derives from the inputs, not an override
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM",
                 "SPARK_GRAFT_MASTER", "SPARK_GRAFT_SF_DIR"):
        env.pop(knob, None)


class Bench:
    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        self.wl = WORKLOADS[args.workload]
        self.etl = "pages" in self.wl
        self.spark = None
        self.errors: list[str] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        t = now()
        self.inputs = self.make_inputs(work / "data", args.seed, 1)
        self.data_dir = self.inputs["data_dir"]
        self.warm_inputs = self.make_inputs(work / "warm", args.seed + WARM_SEED_SHIFT, WARM_SCALE)
        if self.etl:
            steps = self.inputs["landing"]["steps"]
            self.etl_names = ["initial"] + [f"batch{i}" for i in range(1, len(steps))]
        self.record["inputs"] = self.inputs["summary"]
        self.record["input_generation_s"] = now() - t

    def make_inputs(self, path: Path, seed: int, scale: float) -> dict:
        """One input set, ``scale`` times the workload's volume: the
        fixture tables and, for the ETL, the landed JSON under
        ``<path>/landing``, so get_spark sizes the session on all of it."""
        wl, data_dir = self.wl, str(path)
        sf = wl["sf"] * scale
        parquet_bytes = gen.fixtures(data_dir, seed, sf, wl["factor"])
        inp = {"data_dir": data_dir, "parquet_bytes": parquet_bytes, "landed_bytes": 0,
               "summary": {"sf": sf, "factor": wl["factor"], "parquet_bytes": parquet_bytes}}
        if self.etl:
            landing = gen.tmdb(f"{data_dir}/landing", seed, max(1, round(wl["pages"] * scale)),
                               wl["batches"], max(1, round(wl["batch_pages"] * scale)))
            steps = landing["steps"]
            inp["landing"] = landing
            # the rerun reads the last batch again
            inp["landed_bytes"] = sum(s["landed_bytes"] for s in steps + steps[-1:])
            inp["summary"]["landed_json_bytes"] = sum(s["landed_bytes"] for s in steps)
            inp["summary"]["rows_after_each_step"] = [
                {k: v for k, v in s["expect"].items() if k != "titles"} for s in steps
            ]
        return inp

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        """get_spark on the workload's inputs SETUPS times (the SparkContext
        is stopped in between; the JVM stays), then one warm-up pass.
        setup_s is the median get_spark plus the warm-up pass."""
        from movie_data_etl_pipeline_spark.session import get_spark

        get_s = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = now()
            self.spark = get_spark("perfbench", data_dir=self.data_dir)
            get_s.append(now() - t0)
        sc = self.spark.sparkContext
        self.cores = sc.defaultParallelism
        self.record["conf"] = {
            "master": sc.master,
            "cores": self.cores,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }
        self.get_spark_s = statistics.median(get_s)
        self.warmup_s = self.warmup()
        self.record.update(get_spark_s=get_s, warmup_s=self.warmup_s)
        self.setup_s = self.get_spark_s + self.warmup_s

    def warmup(self) -> float:
        """One pass of the workload's ops on the warm-up input set: the
        JVM's JIT and Spark's codegen cache warm up on the ops' own code
        shapes, and the Python worker pool starts for the ops that use it.
        Returns its seconds; an op that raises here is an error of the
        run."""
        out = self.work / "out" / "warm"
        t0 = now()
        results, _ = self.run_pass(self.spark.newSession(), self.warm_inputs, out, None, "w")
        seconds = now() - t0
        self.record["warmup_ops"] = {op: s for op, s, _ in results}
        self.errors += [f"warm-up {op}: {res}" for op, _, res in results if isinstance(res, str)]
        shutil.rmtree(out, ignore_errors=True)
        return seconds

    # -- ops -------------------------------------------------------------
    def run_op(self, sess, op: str, data_dir: str, trace: list | None, tag: str):
        """Build the op's DataFrame and collect it; traced, also split
        build, planning and execution and read their jobs' metrics."""
        from movie_data_etl_pipeline_spark.plans.fixture_queries import QUERIES

        if trace is None:
            return QUERIES[op](sess, data_dir).toArrow()
        sc = sess.sparkContext
        gid = f"pb{tag}.{len(trace)}"
        sc.setJobGroup(f"{gid}b", op)
        t0 = now()
        df = QUERIES[op](sess, data_dir)
        t1 = now()
        sc.setJobGroup(f"{gid}x", op)
        df._jdf.queryExecution().executedPlan()
        t2 = now()
        out = df.toArrow()
        t3 = now()
        sc.setLocalProperty("spark.jobGroup.id", None)
        build, action = probe.group_totals(sess, f"{gid}b"), probe.group_totals(sess, f"{gid}x")
        trace.append({
            "op": op, "build_s": t1 - t0, "build_jobs": build["jobs"],
            "build_task_s": build["task_run_s"], "plan_s": t2 - t1, "exec_s": t3 - t2,
            "probe_s": now() - t3, **action,
        })
        return out

    def etl_step(self, sess, step: dict, state_in: str | None, out: str, trace, tag, write_s):
        """One pipeline run: read the landed batch (and the state it
        merges into), then write the five tables to a fresh directory.
        Planning happens inside each write, so it is not split out."""
        from movie_data_etl_pipeline_spark import pipeline
        from movie_data_etl_pipeline_spark.sources import parquet, rest

        p = step["paths"]
        existing = None
        if state_in is not None:
            existing = {t: sess.read.parquet(f"{state_in}/{t}") for t in PIPELINE_TABLES}
        tables = pipeline.run_pipeline(
            rest.read_page_envelopes(sess, p["pages"]),
            rest.read_genre_list(sess, p["genres"]),
            rest.read_credits(sess, p["credits"]),
            existing=existing,
        )
        for t in PIPELINE_TABLES:
            gid = f"pb{tag}.{len(trace)}w" if trace is not None else None
            if gid:
                sess.sparkContext.setJobGroup(gid, t)
            t0 = now()
            parquet.write_table(tables[t], f"{out}/{t}")
            write_s[t] += now() - t0
            if gid:
                t1 = now()
                sess.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                totals = probe.group_totals(sess, gid)
                trace.append({"op": f"write_{t}", "exec_s": t1 - t0, "probe_s": now() - t1,
                              **totals})

    def run_pass(self, sess, inp: dict, out: Path, trace, tag: str) -> tuple[list, dict]:
        """Run every op once on the input set ``inp``. Returns ([(op,
        seconds, output or error)], per-table write seconds). The ETL ops
        are the initial load, each incremental batch and a rerun of the
        last batch; their states stay under ``out`` for the checks.
        ``tag`` keeps the traced job groups of different passes apart."""
        results, write_s = [], dict.fromkeys(PIPELINE_TABLES, 0.0)

        def timed(name, fn):
            t0 = now()
            try:
                res = fn()
            except Exception as e:  # noqa: BLE001
                res = f"raised {type(e).__name__}: {str(e)[:300]}"
            results.append((name, now() - t0, res))

        if self.etl:
            steps, names = inp["landing"]["steps"], self.etl_names
            plan = list(zip(names, steps, [None] + names)) + [("rerun", steps[-1], names[-1])]
            for name, step, prev in plan:
                timed(name, lambda: self.etl_step(
                    sess, step, prev and str(out / prev), str(out / name), trace, tag, write_s))
        for op in self.wl["ops"]:
            timed(op, lambda: self.run_op(sess, op, inp["data_dir"], trace, tag))
        return results, write_s

    # -- checks ----------------------------------------------------------
    def oracle_results(self) -> None:
        """DuckDB twins' results on the measured inputs, computed once."""
        from movie_data_etl_pipeline_spark.plans.fixture_queries import ORACLES

        self.expected, kinds = {}, {}
        con = checks.duckdb_views(self.data_dir, gen.TABLES)
        for op in self.wl["ops"]:
            if op in ORACLES:
                self.expected[op] = con.execute(ORACLES[op]).fetchdf()
                kinds[op] = "duckdb_twin"
            else:
                kinds[op] = "columns_nonempty"
        con.close()
        if self.etl:
            kinds["etl"] = "model row counts, last-wins titles, cast cap, rerun fixed point"
        self.record["checks"] = kinds

    def check(self, results: list, out: Path) -> list[str | None]:
        reasons = []
        states = {}
        if self.etl:
            steps = self.inputs["landing"]["steps"]
            for (name, _, res), step in zip(results, steps + steps[-1:]):
                if res is not None:
                    reasons.append(res)
                    continue
                try:
                    states[name] = checks.read_state(str(out / name))
                    reasons.append(checks.check_state(states[name], step["expect"]))
                except Exception as e:  # noqa: BLE001
                    reasons.append(f"check raised {type(e).__name__}: {e}")
            last = self.etl_names[-1]
            if reasons[-1] is None and last in states:
                reasons[-1] = checks.check_fixed_point(states[last], states["rerun"])
        for op, _, res in results[len(reasons):]:
            try:
                if isinstance(res, str):
                    reasons.append(res)
                elif op in self.expected:
                    reasons.append(checks.compare(res.to_pandas(), self.expected[op]))
                else:
                    reasons.append(checks.check_schema(res.to_pandas(), NO_TWIN_COLUMNS[op]))
            except Exception as e:  # noqa: BLE001
                reasons.append(f"check raised {type(e).__name__}: {e}")
        return reasons

    # -- passes ----------------------------------------------------------
    def one_pass(self, k: int, traced: bool) -> dict:
        # let the previous pass's sessions be collected and their
        # checkpoint blocks freed before timing starts, not during the pass
        gc.collect()
        self.spark._jvm.System.gc()
        sess = self.spark.newSession()  # a fresh user session pays the shared builds
        trace = [] if traced else None
        out = self.work / "out" / f"pass{k}"
        cpu0, wcpu0 = probe.tree_cpu()
        t0 = now()
        results, write_s = self.run_pass(sess, self.inputs, out, trace, str(k))
        wall = now() - t0
        cpu1, wcpu1 = probe.tree_cpu()
        # untimed from here
        ops = []
        for (op, seconds, _), reason in zip(results, self.check(results, out)):
            ops.append({"op": op, "s": seconds, "ok": reason is None})
            if reason:
                self.errors.append(f"pass {k} {op}: {reason}")
        p = {"wall_s": wall, "cpu_s": cpu1 - cpu0, "py_worker_cpu_s": wcpu1 - wcpu0,
             "traced": traced, "ops": ops, "write_s": write_s}
        p["bytes_written"], p["files_written"] = _parquet_bytes_files(out)
        if traced:
            p["trace"] = trace
        shutil.rmtree(out, ignore_errors=True)
        return p

    def measure(self) -> list[dict]:
        """Whole passes until they have taken --seconds, each on the
        measured inputs after the set-up's warm-up pass. Traced runs trace
        every pass."""
        passes, spent = [], 0.0
        while spent < self.args.seconds:
            passes.append(self.one_pass(len(passes) + 1, traced=bool(self.args.trace)))
            spent += passes[-1]["wall_s"]
        return passes

    # -- reporting -------------------------------------------------------
    def end_to_end(self, passes: list[dict]) -> dict:
        return {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "op_p50_s": statistics.median(
                statistics.median(o["s"] for o in p["ops"]) for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "setup_s": self.setup_s,
        }

    def per_layer(self, passes: list[dict]) -> dict:
        traced = passes[0]
        ops = traced["trace"]
        total = lambda key: sum(o.get(key, 0) for o in ops)  # noqa: E731
        lat = {o["op"]: o["s"] for o in traced["ops"]}
        write_s, written = traced["write_s"], traced["bytes_written"]
        landed = self.inputs["landed_bytes"]
        mem = self.record["conf"]["driver_memory"]
        self.self_check(traced)
        return {
            "session.get_spark_s": self.get_spark_s,
            "session.warmup_s": self.warmup_s,
            "session.shuffle_partitions": self.record["conf"]["shuffle_partitions"],
            "session.driver_mem_gb": float(mem[:-1]) / (1024 if mem[-1] in "mM" else 1),
            "session.peak_rss_mb": probe.tree_peak_rss_mb(),
            "plans.build_s": total("build_s"),
            "plans.build_jobs": total("build_jobs"),
            "plans.build_task_s": total("build_task_s"),
            "spark.plan_s": total("plan_s"),
            "spark.exec_s": total("exec_s"),
            **{f"spark.{k}": total(k) for k in SPARK_TOTALS},
            "spark.core_busy_frac": total("task_run_s") / (total("exec_s") * self.cores),
            "sources.input_bytes": self.inputs["parquet_bytes"] + landed,
            "sources.write_s": sum(write_s.values()),
            "sources.bytes_written": written,
            "sources.files_written": traced["files_written"],
            "sources.write_amp": written / landed if self.etl else 0.0,
            "pipeline.initial_s": lat.get("initial", 0.0),
            "pipeline.incremental_s": sum(v for k, v in lat.items() if k.startswith("batch")),
            "pipeline.rerun_s": lat.get("rerun", 0.0),
            **{f"pipeline.write_{t}_s": write_s[t] for t in PIPELINE_TABLES},
            "functions.py_worker_cpu_s": traced["py_worker_cpu_s"],
            "trace.wall_s": traced["wall_s"],
            "trace.overhead_s": total("probe_s"),
        }

    def self_check(self, traced: dict) -> None:
        """The trace must see what the workloads are built to show."""
        for o in traced["trace"]:
            if o["op"].startswith("gr_") and o["build_jobs"] == 0:
                self.errors.append(f"trace: {o['op']} shows no in-build jobs")
            if o["op"] in VIEW_OPS and o["build_jobs"] != 0:
                self.errors.append(f"trace: {o['op']} shows {o['build_jobs']} in-build jobs")
        if not self.etl and (traced["bytes_written"] or any(traced["write_s"].values())):
            self.errors.append("trace: writes seen outside the ETL")

    def run(self) -> dict:
        self.setup()
        t = now()
        self.oracle_results()
        self.record["oracle_s"] = now() - t
        passes = self.measure()
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(not o["ok"] for p in passes for o in p["ops"])
        if self.args.trace:
            metrics, units = self.per_layer(passes), PER_LAYER
        else:
            metrics, units = self.end_to_end(passes), END_TO_END
        # trace self-check failures count too
        failed = max(failed, min(attempted, len(self.errors)))
        self.record.update({
            "error_rate": {"value": failed / attempted, "unit": "ratio"},
            "errors": self.errors[:20],
            "passes": passes,
        })
        print(json.dumps({"record": self.record}, default=float))
        return {
            "correct": not self.errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit,
        also when a signal cut a call into the JVM short and left the
        gateway connection unusable."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception as e:  # noqa: BLE001
            print(f"perfbench: stopping Spark failed: {e}", file=sys.stderr)
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()  # does not raise
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _parquet_bytes_files(path: Path) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run it from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / str(os.getpid())
    prepare_environment(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    bench = None
    try:
        bench = Bench(args, work)
        result = bench.run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the cleanup finish
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
