"""Benchmark of the ferrobus_spark engine through its public entry points.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload spatial_pages --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py            # every workload in turn, one process each

A harness calls it with ``--workload <name> --seed <n> --seconds <s>
--trace <0|1>`` and reads the last line of standard output, one JSON
object. Without ``--workload`` every workload runs in its own child
process (each needs a fresh JVM for its cold pass) and the last line
merges their results, with metric names prefixed by the workload.

Workloads (BENCHMARK.json says why each exists):

* ``spatial_pages``: the flagship tile + PIP + per-cell rollup and the
  five spatial registry queries over a generated doc_id window.
* ``curation_corpus_transit``: the 8-stage checkpointed ``run_curation``
  over generated crawl pages, read-only dedup, similarity and text queries
  over a generated documents/embeddings corpus, and the RAPTOR
  travel-time matrix on the synthetic city.

A run starts the session once and sets the program up three times,
reporting session start plus the median set-up as ``setup_s``. It runs
one cold pass over every op, then warm passes until ``--seconds`` have
passed. Every op's output in every pass is checked against its DuckDB
twin (or, for the curation pipeline, against the closed-form funnel of
the planted rows). ``--trace 1`` also labels jobs by layer, turns on the
Spark event log, alternates untraced and traced warm passes, builds the
transit model cold, and reports per-layer metrics.

Everything the run writes lives under ``.perfbench_work/`` at the repo
root: ``cache/`` keeps generated inputs, oracle answers and the transit
model built by the first untraced run that needs it; ``run-<pid>/`` holds Spark
scratch, checkpoints, event logs and the cold-built model of a traced run
and is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")

#: Sizes keep one run of both workloads near two minutes on a 4-CPU, 15 GB
#: host, where most of a run is the JVM start and the JIT-cold first pass;
#: CHANGES.md records the runs behind each size
SPATIAL_ROWS = 1_000_000
#: the k-ring kNN costs ~20x per row what the codegen ops cost, so it reads
#: the first sixteenth of the window instead of all of it
KRING_ROWS = SPATIAL_ROWS // 16
CURATION_PAGES = 3_000
CORPUS_DOCS = 2_000
CORPUS_VECS = 2_000
SETUPS = 3
DRIVER_MEM = "2g"

SPATIAL_OPS = ["flagship", "tile_assign", "tile_histogram", "pip_convex",
               "knn_nearest_stop", "knn_nearest_stop_kring"]
#: output columns reduced by the shared rollup (outputs are per document)
SPATIAL_COLS = {
    "flagship": ["cell", "n_pages", "n_domains"],
    "tile_assign": ["doc_id", "cell"],
    "tile_histogram": ["cell", "n_docs"],
    "pip_convex": ["doc_id", "cell"],
    "knn_nearest_stop": ["doc_id", "stop_id", "dist_um"],
    "knn_nearest_stop_kring": ["doc_id", "stop_id", "dist_um"],
}
#: host_pagerank is left out for its cost (about 20 s a run: eight rounds of
#: small jobs, cold and warm), token_stats because quality_stats already
#: runs the same text functions, and knn_embeddings_ivf because its output
#: differs from its DuckDB twin on these embeddings
CORPUS_OPS = ["minhash_dup_pairs", "simhash_near_pairs", "knn_embeddings_bruteforce",
              "quality_stats"]
#: the RAPTOR travel-time matrix; each of the other six transit queries
#: adds 3-18 s a run, cold and warm
TRANSIT_OPS = ["transit_travel_time_matrix"]


def _median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------

def _prepare_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Process env that keeps every write inside run_dir or the cache.

    A traced run builds the transit model cold into its own directory;
    an untraced run reads the one the checkout's first transit run built."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("tmp", "spark-local", "ckpt", "warehouse", "events", "curation", "model")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "FERROBUS_MODEL_CACHE": dirs["model"] if trace else os.path.join(CACHE, "transit-model"),
    })
    return dirs


def _spark_conf(dirs: dict[str, str], trace: bool) -> dict[str, str]:
    conf = {
        "spark.ferrobus.ckpt.dir": dirs["ckpt"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
        })
    return conf


# ---------------------------------------------------------------------------
# processes: the driver JVM and the Python workers it starts end with the run
# ---------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose JVM has already
    exited) children of this process, so _stop_engine can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_engine(grace_s: float = 30.0) -> None:
    """Stop Spark, end its JVM and wait until every child process has ended.

    The JVM exits when its stdin closes; left to the interpreter's exit it
    would outlive this process by a second or more. Children still running
    after ``grace_s`` are killed."""
    from pyspark import SparkContext

    from perfbench import trace as tr

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + grace_s
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid:
                continue
            if time.monotonic() > deadline:
                for kid in tr.children().get(os.getpid(), []):
                    try:
                        os.kill(kid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# workload parts: inputs → set-up → a list of (op name, run-and-check)
# ---------------------------------------------------------------------------

class Part:
    """inputs → set-up → a list of (op name, run-and-check callable).

    A workload runs one or more parts in one process."""

    input_rows = 0
    data = ""

    def prepare(self, spark) -> None:
        """Untimed work that needs the session (caches the first run builds)."""

    def setup(self, spark) -> None:
        """Program set-up after the session: open every input table."""
        for f in sorted(os.listdir(self.data)):
            if f.endswith(".parquet"):
                spark.read.parquet(os.path.join(self.data, f)).schema

    def ops(self, spark, oracle):
        raise NotImplementedError


def _checked(fn, expected, cols=None):
    """A run callable: the op's output (or its rollup) against the oracle."""
    from perfbench.checks import mismatch, rollup_exprs

    def run():
        df = fn()
        got = (df.selectExpr(*rollup_exprs(cols)) if cols else df).toPandas()
        return mismatch(got, expected), {"rows": len(got)}

    return run


class SpatialPages(Part):
    def __init__(self, seed, dirs):
        from perfbench import inputs

        self.data = inputs.spatial_docs(CACHE, seed, SPATIAL_ROWS)
        self.kring_data = inputs.spatial_docs(CACHE, seed, KRING_ROWS)
        self.input_rows = SPATIAL_ROWS

    @staticmethod
    def _flagship(spark, sf_dir):
        """The ``__spark_entry__.entry`` pipeline over the generated docs."""
        from pyspark.sql import functions as F

        from ferrobus_spark.registry import CELL_REF_SQL, PIP_POLY, convex_pip_sql
        from ferrobus_spark.sources.pages import pages_table

        return (
            pages_table(spark, sf_dir).withColumn("cell", F.expr(CELL_REF_SQL))
            .filter(F.expr(convex_pip_sql("lon", "lat", PIP_POLY)))
            .groupBy("cell")
            .agg(F.count("*").alias("n_pages"), F.countDistinct("domain").alias("n_domains"))
            .orderBy(F.desc("n_pages"), "cell")
        )

    @staticmethod
    def _flagship_oracle() -> str:
        from ferrobus_spark.registry import CELL_REF_SQL, LAT_SQL, LON_SQL, PIP_POLY, convex_pip_sql
        from ferrobus_spark.sources.pages import domain_sql

        return f"""
        SELECT cell, COUNT(*) AS n_pages, COUNT(DISTINCT domain) AS n_domains
        FROM (SELECT {CELL_REF_SQL} AS cell, domain
              FROM (SELECT {LON_SQL} AS lon, {LAT_SQL} AS lat,
                           {domain_sql("doc_id")} AS domain FROM documents)
              WHERE {convex_pip_sql("lon", "lat", PIP_POLY)})
        GROUP BY cell"""

    def ops(self, spark, oracle):
        from perfbench.checks import oracle_sql, query

        out = []
        for name in SPATIAL_OPS:
            cols = SPATIAL_COLS[name]
            if name == "flagship":
                fn, sql = self._flagship, self._flagship_oracle()
            else:
                fn, sql = query(name), oracle_sql(name)
            data = self.kring_data if name == "knn_nearest_stop_kring" else self.data
            expected = oracle.rollup(name, sql, cols, data)
            out.append((name, _checked(lambda fn=fn, data=data: fn(spark, data), expected, cols)))
        return out


class Curation(Part):
    def __init__(self, seed, dirs):
        from perfbench import inputs

        self.data = inputs.crawl_pages(CACHE, seed, CURATION_PAGES)
        meta = inputs.meta(self.data)
        self.input_rows = meta["rows"]
        self.input_bytes = meta["bytes"]
        self.funnel = inputs.expected_funnel(CURATION_PAGES)
        self.ckpt_root = dirs["curation"]

    def _run(self, spark):
        from ferrobus_spark.plans.checkpoint import pipeline_metrics
        from ferrobus_spark.plans.curation import run_curation

        root = os.path.join(self.ckpt_root, f"pass-{time.monotonic_ns()}")
        pages = os.path.join(self.data, "pages.parquet")
        run_curation(spark, root, lambda s, _env: s.read.parquet(pages))
        rows = {m["stage"]: m["rows"] for m in pipeline_metrics(root)}
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(root) for f in fs)
        shutil.rmtree(root, ignore_errors=True)
        bad = None if rows == self.funnel else f"funnel {rows} vs {self.funnel}"
        return bad, {"stage_rows": rows, "ckpt_bytes": nbytes}

    def ops(self, spark, oracle):
        return [("curation", lambda: self._run(spark))]


class CorpusQueries(Part):
    def __init__(self, seed, dirs):
        from perfbench import inputs

        self.data = inputs.corpus_docs(CACHE, seed, CORPUS_DOCS, CORPUS_VECS)
        self.input_rows = inputs.meta(self.data)["rows"]

    def ops(self, spark, oracle):
        from perfbench.checks import oracle_sql, query

        out = []
        for name in CORPUS_OPS:
            fn, expected = query(name), oracle.answer(name, oracle_sql(name), self.data)
            out.append((name, _checked(lambda fn=fn: fn(spark, self.data), expected)))
        return out


class Transit(Part):
    def __init__(self, seed, dirs):
        from ferrobus_spark.sources.transit import query_points, transit_fixture

        self.data = os.path.join(CACHE, "transit")
        os.makedirs(self.data, exist_ok=True)
        self.input_rows = sum(len(t) for t in transit_fixture().values()) + len(query_points())
        self.run_model = dirs["model"]
        self.build_times: dict[str, float] = {}

    def prepare(self, spark):
        """Build the model and its query points into the model cache.

        The transit queries load both from the cache on their first call,
        so that load is part of the cold pass. An untraced run builds the
        checkout's shared cache once, untimed; a traced run builds into
        its own empty directory and times the cold build."""
        from ferrobus_spark.model.cache import (
            default_cache_root,
            load_or_build_model,
            load_or_build_points,
        )

        root = default_cache_root()
        if root == self.run_model or not os.path.isdir(root):
            t0 = time.perf_counter()
            model = load_or_build_model(spark)
            t1 = time.perf_counter()
            load_or_build_points(spark, model)
            self.build_times = {"model.build_s": t1 - t0,
                                "model.points_s": time.perf_counter() - t1}

    def ops(self, spark, oracle):
        from perfbench.checks import oracle_sql, query

        out = []
        for name in TRANSIT_OPS:
            fn, expected = query(name), oracle.answer(name, oracle_sql(name), self.data)
            out.append((name, _checked(lambda fn=fn: fn(spark, ""), expected)))
        return out


WORKLOADS = {
    "spatial_pages": (SpatialPages,),
    "curation_corpus_transit": (Curation, CorpusQueries, Transit),
}


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def _run_pass(ops, tracer=None):
    """One pass over every op → (wall s, per-op s, failures, per-op info)."""
    per_op, info, failures = {}, {}, []
    t0 = time.perf_counter()
    for name, run in ops:
        s0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span(f"op.{name}"):
                    bad, extra = run()
            else:
                bad, extra = run()
        except Exception as exc:  # an op that raises counts as failed
            bad, extra = f"{type(exc).__name__}: {str(exc)[:300]}", {}
        per_op[name] = time.perf_counter() - s0
        info[name] = extra
        if bad:
            failures.append(f"{name}: {bad}")
    return time.perf_counter() - t0, per_op, failures, info


def measure(args) -> dict:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    dirs = _prepare_env(run_dir, bool(args.trace))
    _become_subreaper()
    try:
        return _measure(args, dirs)
    finally:
        try:
            _stop_engine()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, dirs) -> dict:
    from ferrobus_spark.session import get_spark
    from perfbench import trace as tr
    from perfbench.checks import Oracle

    trace = bool(args.trace)
    phases = {"start": time.perf_counter()}
    parts = [cls(args.seed, dirs) for cls in WORKLOADS[args.workload]]
    phases["inputs"] = time.perf_counter()

    # set-up: the session start (JVM launch included) plus the median of
    # SETUPS program set-ups; a stopped session cannot be restarted
    # cleanly in one PySpark process, so only the program part repeats
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=_spark_conf(dirs, trace))
    session_start = time.perf_counter() - t0
    t0 = time.perf_counter()
    for p in parts:
        p.prepare(spark)
    prepare_s = time.perf_counter() - t0
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        for p in parts:
            p.setup(spark)
        setups.append(time.perf_counter() - t0)
    phases["setup"] = time.perf_counter()

    oracle = Oracle(dirs["tmp"])
    ops = [op for p in parts for op in p.ops(spark, oracle)]
    oracle.close()
    phases["oracle"] = time.perf_counter()

    tracer = tr.Tracer(spark.sparkContext)
    failures: list[str] = []
    attempted = 0

    def one_pass(traced: bool):
        nonlocal attempted
        if traced:
            tracer.install()
        t_epoch = time.time()
        try:
            res = _run_pass(ops, tracer if traced else None)
        finally:
            if traced:
                tracer.uninstall()
        attempted += len(ops)
        failures.extend(res[2])
        return (t_epoch, t_epoch + res[0]), res

    _, cold = one_pass(traced=trace)
    cold_spans = tracer.take()[0]
    warm, traced_runs = [], []
    t_start = time.perf_counter()
    while True:
        traced = trace and len(warm) > len(traced_runs)
        window, res = one_pass(traced)
        if traced:
            traced_runs.append((window, res, tracer.take()))
        else:
            warm.append(res)
        enough = time.perf_counter() - t_start >= args.seconds
        if enough and warm and (not trace or traced_runs):
            break

    pids = tr.engine_processes()
    peak = tr.peak_rss_mb(pids)
    rss_by_proc = {f"{p}:{tr.proc_name(p)}": round(tr.peak_rss_mb([p]), 1) for p in pids}
    leaked = len(os.listdir(dirs["ckpt"]))
    phases["passes"] = time.perf_counter()
    spark.stop()
    phases["stop"] = time.perf_counter()

    pass_times = [r[0] for r in warm]
    pass_s = _median(pass_times)
    result = {
        "workload": args.workload, "seed": args.seed,
        "metrics": {
            "setup_s": (session_start + _median(setups), "s"),
            "cold_pass_s": (cold[0], "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (sum(p.input_rows for p in parts) / pass_s, "rows/s"),
            "peak_rss_mb": (peak, "MB"),
        },
        "pass_times": pass_times,
        "ops_s": {k: _median([r[1][k] for r in warm]) for k in cold[1]},
        "ops_cold_s": cold[1],
        "attempted": attempted, "failed": len(failures), "failures": failures[:10],
        "iterative.leaked_dirs": leaked,
        "rss_by_proc": rss_by_proc,
        "prepare_s": prepare_s,
        "phases_s": {k: round(phases[k] - phases[p], 2)
                     for p, k in zip(list(phases), list(phases)[1:])},
    }
    for p in parts:
        if isinstance(p, Curation):
            ckpt = _median([r[3]["curation"].get("ckpt_bytes", 0) for r in warm])
            result["ckpt_bytes_per_input_byte"] = ckpt / p.input_bytes
    if trace:
        layer = {"session.start_s": session_start, "setup.program_s": _median(setups)}
        for p in parts:
            if isinstance(p, Transit):
                layer.update(p.build_times)
        layer.update(_layer_metrics(traced_runs, dirs["events"], pass_s, leaked))
        result["layer"] = layer
        result["cold_spans"] = cold_spans
    return result


def _layer_metrics(traced_runs, events_dir, untraced_pass_s, leaked) -> dict:
    from perfbench import trace as tr

    windows = [w for w, _, _ in traced_runs]
    spark_tot = tr.parse_event_log(events_dir, windows)
    passes = []
    for (w, res, (spans, counts, eager)), sp in zip(traced_runs, spark_tot):
        m = {k: v for k, v in sp.items() if k != "job_s_by_group"}
        for label, s in sp["job_s_by_group"].items():
            m[f"jobs_s.{label}"] = s
        for label, s in spans.items():
            m[f"{label}.s"] = s
        m["layers.eager_s"] = eager
        m["iterative.rounds"] = counts.get("iterative.materialize", 0)
        for name, extra in res[3].items():
            if name == "curation" and extra:
                for stage, rows in extra["stage_rows"].items():
                    m[f"curation.{stage}.rows"] = rows
                m["checkpoint.bytes"] = extra["ckpt_bytes"]
            elif name == "minhash_dup_pairs" and extra:
                m["dedup.pairs"] = extra["rows"]
        passes.append(m)
    keys = sorted({k for m in passes for k in m})
    out = {k: _median([m.get(k, 0.0) for m in passes]) for k in keys}
    # curation stage split: the stage fn's eager work, the parquet write,
    # and write_stage's lineage re-scan (write_stage wall minus the write)
    stages = {k.split(".")[1] for k in keys if k.startswith("curation.") and k.endswith(".write_stage.s")}
    for st in stages:
        ws = out.pop(f"curation.{st}.write_stage.s")
        write = out.get(f"curation.{st}.write.s", 0.0)
        out[f"curation.{st}.lineage.s"] = ws - write
        out[f"curation.{st}.s"] = out.get(f"curation.{st}.fn.s", 0.0) + ws
    if stages:
        out["checkpoint.write_s"] = sum(out[f"curation.{st}.write.s"] for st in stages)
        out["checkpoint.lineage_s"] = sum(out[f"curation.{st}.lineage.s"] for st in stages)
    out["iterative.leaked_dirs"] = leaked
    traced_pass = _median([r[0] for _, r, _ in traced_runs])
    out["trace.pass_s"] = traced_pass
    out["trace.overhead_s"] = traced_pass - untraced_pass_s
    return out


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------

def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def report(res: dict, trace: bool) -> dict:
    m = res["metrics"]
    print(f"# workload {res['workload']} seed {res['seed']}: "
          f"{res['attempted']} op runs, {res['failed']} failed")
    print(f"#   error_rate {res['failed'] / res['attempted']:.4f}")
    if "ckpt_bytes_per_input_byte" in res:
        print(f"#   ckpt_bytes_per_input_byte {res['ckpt_bytes_per_input_byte']:.4f}")
    for name, (v, unit) in m.items():
        print(f"#   {name:28s} {v:14.4f} {unit}")
    times = res["pass_times"]
    q = statistics.quantiles(times, n=4) if len(times) > 1 else times * 3
    print(f"#   pass_s samples {len(times)}, quartiles "
          f"{q[0]:.4f} / {q[1]:.4f} / {q[2]:.4f} s")
    print(f"#   iterative.leaked_dirs {res['iterative.leaked_dirs']}")
    print(f"# prepare_s {res['prepare_s']:.2f} (untimed: builds caches a later run reuses)")
    print("# peak_rss_mb by process " + json.dumps(res["rss_by_proc"]))
    print("# phases_s " + json.dumps(res["phases_s"]))
    for f in res["failures"]:
        print(f"#   FAILED {f}")
    print("# ops_s " + json.dumps({k: round(v, 4) for k, v in res["ops_s"].items()}))
    print("# ops_cold_s " + json.dumps({k: round(v, 4) for k, v in res["ops_cold_s"].items()}))
    if trace:
        layer = res["layer"]
        print("# layer " + json.dumps(layer, sort_keys=True))
        print("# cold_spans " + json.dumps(res["cold_spans"], sort_keys=True))
        absent = [d["name"] for d in _declared("per_layer") if d["name"] not in layer]
        if absent:
            print("# not in this window's event log, reported as 0: " + ", ".join(absent))
        metrics = {d["name"]: {"value": layer.get(d["name"], 0.0), "unit": d["unit"]}
                   for d in _declared("per_layer")}
    else:
        metrics = {d["name"]: {"value": m[d["name"]][0], "unit": d["unit"]}
                   for d in _declared("end_to_end")}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def run_all(args) -> dict:
    """Each workload in a child process; their results merged."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"perfbench: workload {name} exited {proc.returncode}")
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return merged


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="one workload; every workload when left out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its engine on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "ferrobus_spark")):
        print(f"perfbench: no ferrobus_spark package under {ROOT}", file=sys.stderr)
        return 2
    out = report(measure(args), bool(args.trace)) if args.workload else run_all(args)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
