"""Per-layer tracing from outside the program.

Two sources, both stock:

* **Spans.** Public functions of the engine's modules are wrapped in
  place (every module attribute bound to the original function is
  swapped, so ``from x import f`` call sites are covered too). A wrapper
  records the call's wall time and sets a Spark job-group label for its
  duration, so jobs the call triggers eagerly are attributed to it. Jobs
  a lazy DataFrame triggers later carry the enclosing op's label.
* **The Spark event log** (``spark.eventLog.compress=false``): jobs,
  stages and task metrics, grouped by job-group label and by pass.

Also: peak resident memory of the driver JVM and its Python workers, from /proc.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict

#: (module, function, layer) — the public entry points timed per layer
TARGETS = [
    ("ferrobus_spark.operators.html_text", "parse_html", "html_text"),
    ("ferrobus_spark.operators.dedup", "minhash_signatures", "dedup"),
    ("ferrobus_spark.operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("ferrobus_spark.operators.dedup", "simhash_col", "dedup"),
    ("ferrobus_spark.operators.dedup", "simhash_near_pairs", "dedup"),
    ("ferrobus_spark.operators.similarity", "brute_force_topk", "similarity"),
    ("ferrobus_spark.operators.spatial", "knn_join", "spatial"),
    ("ferrobus_spark.plans.iterative", "connected_components", "iterative"),
    ("ferrobus_spark.plans.iterative", "materialize", "iterative"),
    ("ferrobus_spark.routing.products", "travel_time_matrix", "routing"),
]


class Tracer:
    def __init__(self, sc):
        self.spans: list[tuple[str, float, int]] = []  # (label, seconds, depth)
        self.counts: dict[str, int] = defaultdict(int)
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = sc

    # -- labels -----------------------------------------------------------
    def _set_group(self) -> None:
        label = "/".join(self._stack) if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", label)
        self.sc.setLocalProperty("spark.job.description", label)

    def span(self, label: str):
        tracer = self

        class _Span:
            def __enter__(self):
                tracer._stack.append(label)
                tracer._set_group()
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                tracer.spans.append(
                    (label, time.perf_counter() - self.t0, len(tracer._stack))
                )
                tracer._stack.pop()
                tracer._set_group()

        return _Span()

    def timed(self, label: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.counts[label] += 1
            with self.span(label):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching ---------------------------------------------------------
    def _swap(self, mod, name: str, new) -> None:
        self._patched.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    def wrap(self, module: str, name: str, label: str) -> None:
        """Wrap ``module.name`` at every ferrobus_spark binding of it."""
        orig = getattr(importlib.import_module(module), name)
        wrapper = self.timed(label, orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("ferrobus_spark") and \
                    getattr(mod, name, None) is orig:
                self._swap(mod, name, wrapper)

    def _wrap_curation(self) -> None:
        """Split each curation stage into the stage function's eager work,
        the parquet write, and write_stage's lineage re-scan (the rest of
        write_stage)."""
        from pyspark.sql.readwriter import DataFrameWriter

        import ferrobus_spark.plans.checkpoint as ck
        import ferrobus_spark.plans.curation as cur

        stages, write_stage, parquet = cur.curation_stages, ck.write_stage, DataFrameWriter.parquet

        def traced_stages(*args, **kwargs):
            return [(n, self.timed(f"curation.{n}.fn", fn), deps)
                    for n, fn, deps in stages(*args, **kwargs)]

        def traced_write_stage(spark, root, name, df, upstreams):
            def traced_parquet(writer, *a, **k):
                with self.span(f"curation.{name}.write"):
                    return parquet(writer, *a, **k)

            DataFrameWriter.parquet = traced_parquet
            try:
                with self.span(f"curation.{name}.write_stage"):
                    return write_stage(spark, root, name, df, upstreams)
            finally:
                DataFrameWriter.parquet = parquet

        self._swap(cur, "curation_stages", traced_stages)
        self._swap(ck, "write_stage", traced_write_stage)

    def install(self) -> None:
        for module, name, layer in TARGETS:
            self.wrap(module, name, f"{layer}.{name}")
        self._wrap_curation()

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def take(self) -> tuple[dict[str, float], dict[str, int], float]:
        """Span seconds and call counts per label since the last take, and
        the time inside layer calls made directly by an op (no nesting)."""
        secs: dict[str, float] = defaultdict(float)
        eager = 0.0
        for label, s, depth in self.spans:
            secs[label] += s
            if depth == 2:
                eager += s
        counts = dict(self.counts)
        self.spans.clear()
        self.counts.clear()
        return dict(secs), counts, eager


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: SQL metrics of the Arrow/Python exec nodes → (metric, scale to s/bytes)
PYTHON_METRICS = {
    "time to run Python workers": ("arrow.python_eval_s", 1e-3),
    "time to initialize Python workers": ("arrow.python_init_s", 1e-3),
    "time to start Python workers": ("arrow.python_start_s", 1e-3),
    "data sent to Python workers": ("arrow.bytes_to_python", 1.0),
    "data returned from Python workers": ("arrow.bytes_from_python", 1.0),
}


def parse_event_log(log_dir: str, windows: list[tuple[float, float]]) -> list[dict]:
    """Spark totals per pass window ``(t0, t1)`` in epoch seconds."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        app_jobs: dict[int, dict] = {}  # job and stage ids restart per application
        stage_job: dict[int, dict] = {}
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = {"start": ev["Submission Time"] / 1e3, "end": None,
                         "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                         "stages": 0, "python": defaultdict(float), "tasks": []}
                    app_jobs[ev["Job ID"]] = j
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = j
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in app_jobs:
                    app_jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    j = stage_job[ev["Stage ID"]]
                    j["tasks"].append(ev.get("Task Metrics") or {})
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") in PYTHON_METRICS:
                            metric, scale = PYTHON_METRICS[a["Name"]]
                            j["python"][metric] += float(a.get("Update") or 0) * scale
                elif kind == "SparkListenerStageCompleted":
                    j = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if j is not None:
                        j["stages"] += 1
        jobs.extend(app_jobs.values())

    out = []
    for t0, t1 in windows:
        inside = [j for j in jobs if t0 <= j["start"] <= t1]
        tot = defaultdict(float)
        by_group: dict[str, float] = defaultdict(float)
        for j in inside:
            tot["spark.jobs"] += 1
            tot["spark.stages"] += j["stages"]
            for metric, v in j["python"].items():
                tot[metric] += v
            # attribute the job to the innermost label that was open
            label = (j["group"] or "unlabelled").rsplit("/", 1)[-1]
            by_group[label] += (j["end"] or t1) - j["start"]
        for m in (m for j in inside for m in j["tasks"]):
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tot["spark.tasks"] += 1
            tot["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        # wall time of the pass not covered by any job: driver-side work
        spans = sorted((j["start"], j["end"] or t1) for j in inside)
        covered, cur = 0.0, None
        for s, e in spans:
            if cur is None or s > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [s, e]
            else:
                cur[1] = max(cur[1], e)
        if cur:
            covered += cur[1] - cur[0]
        tot["spark.driver_only_s"] = max((t1 - t0) - covered, 0.0)
        tot["job_s_by_group"] = dict(by_group)
        out.append(dict(tot))
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def children() -> dict[int, list[int]]:
    """Child pids of every process, by parent pid."""
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            kids[int(fields[1])].append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def engine_processes() -> list[int]:
    """The driver JVM and everything it started (the Python workers).

    The benchmark's own Python process, which also hosts the DuckDB
    oracle, is left out."""
    kids = children()

    def tree(root: int) -> list[int]:
        todo, seen = [root], []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(kids.get(pid, []))
        return seen

    return [p for child in kids.get(os.getpid(), []) if proc_name(child) == "java"
            for p in tree(child)]


def proc_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of per-process peak RSS (VmHWM) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
