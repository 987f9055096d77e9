"""Run one workload: a fresh session, a cold iteration, warm iterations for
the time budget, output checks, metrics and the artifact.

Load model: a closed loop with one client in one process; the next
iteration starts when the previous one has committed its result.
"""

from __future__ import annotations

import gc
import importlib
import json
import os
import shutil
import statistics
import tempfile
import time
import traceback

from customer_360_etl_pipeline_on_azure_cloud_spark.session import get_spark

from . import inputs
from .trace import Tracer, event_log_conf, read_hwm_mb, reset_hwm

#: Warm iterations run even when they outlast the time budget. One: a run
#: also pays a fresh JVM and a cold iteration of about twice the warm
#: time, and the benchmark's runs must fit a fixed total budget.
MIN_WARM = 1
DRIVER_MEMORY = "1g"

END_TO_END = (
    ("setup_s", "s"),
    ("cold_run_s", "s"),
    ("run_s", "s"),
    ("driver_peak_rss_mb", "MB"),
)

#: Spans that run Spark jobs, with the full counter set.
FULL_SPANS = (
    "sinks.write_jdbc",
    "operators.dedup.dedup_exact",
    "operators.dedup.minhash_lsh_pairs",
    "operators.graph.dedup_survivors",
    "operators.similarity.semantic_dedup",
    "operators.similarity.cosine_topk_ivf",
    "operators.dedup.write_minhash_index",
    "operators.similarity.write_ivf_index",
    "streaming.incremental.run_foreach_batch",
    "operators.dedup.minhash_lsh_join",
    "operators.similarity.cosine_topk_ivf_indexed",
    "operators.similarity.append_ivf_index",
    "operators.dedup.compact_minhash_index",
    "operators.similarity.compact_ivf_index",
)
FULL_COUNTERS = (
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("core_busy_frac", "fraction", "higher"),
)
#: Spans that mostly build plans; few or no jobs.
PLAN_SPANS = (
    "sources.files.read_json_daily",
    "sources.files.read_parquet_daily",
    "sources.files.read_csv_dim",
    "plans.interaction.interaction_features",
    "plans.search.search_trends",
    "plans.merge.merge_feature_tables",
    "operators.dedup.read_minhash_index",
    "operators.similarity.read_ivf_index",
)
PLAN_COUNTERS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("shuffle_bytes", "B", "lower"),
)
EXTRA_LAYER = (
    ("session.get_spark.wall_s", "s", "lower"),
    # the JVM's peak RSS swings with GC timing by ~20% between runs, too
    # much for an end-to-end bound
    ("jvm_peak_rss_mb", "MB", "lower"),
    ("sources.files.scan_amplification", "ratio", "lower"),
    ("operators.dedup.write_amplification", "ratio", "lower"),
    ("operators.dedup.index_files", "count", "lower"),
    ("streaming.incremental.batch_overhead_s", "s", "lower"),
    ("streaming.incremental.day_s", "s", "lower"),
    ("operators.similarity.semantic_dedup.leaked_persists", "count", "lower"),
    ("operators.similarity.cosine_topk_ivf.leaked_persists", "count", "lower"),
    ("iteration.jobs", "count", "lower"),
    ("iteration.stages", "count", "lower"),
    ("iteration.tasks", "count", "lower"),
    ("iteration.input_bytes", "B", "lower"),
    ("iteration.shuffle_bytes", "B", "lower"),
    ("leaked_persists", "count", "lower"),
    ("warnings", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)
TOTALS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes")


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as ``(name, unit, better)``."""
    out = [
        (f"{span}.{c}", unit, better)
        for span in FULL_SPANS
        for c, unit, better in FULL_COUNTERS
    ]
    out += [
        (f"{span}.{c}", unit, better)
        for span in PLAN_SPANS
        for c, unit, better in PLAN_COUNTERS
    ]
    return out + list(EXTRA_LAYER)


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    """Settings of the run's session (recorded in the artifact). Scratch
    space, the warehouse and Derby's log stay inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"
        ),
    }
    if traced:
        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    return conf


def build_session(conf: dict, cores: int):
    """Build a session in a fresh JVM and run a first trivial job.
    Returns ``(spark, get_spark seconds, total seconds)``."""
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so no
    process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def alive_persists(spark) -> list[int]:
    """Ids of persisted RDDs still alive once both sides have collected
    garbage, plus one entry per cached catalog table (id -1)."""
    gc.collect()
    jsc = spark.sparkContext._jsc
    spark._jvm.java.lang.System.gc()
    ids, stable = None, 0
    for _ in range(20):  # the context cleaner unpersists asynchronously
        time.sleep(0.1)
        now = sorted(int(k) for k in jsc.getPersistentRDDs().keySet().toArray())
        stable = stable + 1 if now == ids else 0
        ids = now
        if stable >= 3:
            break
    cached = sum(
        1 for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)
    )
    return ids + [-1] * cached


class Loop:
    """The closed loop: timed iterations, each followed by its check."""

    def __init__(self, wl, tracer: Tracer, jvm_pid: int, tamper=None):
        self.wl, self.tracer, self.jvm_pid = wl, tracer, jvm_pid
        self.tamper = tamper
        self.iters: list[dict] = []
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def run(self, seconds: float, traced: bool) -> None:
        """A cold iteration, then warm ones until ``seconds`` have passed.
        A traced run alternates untraced and traced warm iterations and
        runs at least one of each."""
        self.one(False)
        t0 = time.perf_counter()
        while True:
            self.one(traced and len(self.iters) % 2 == 0)
            warm = self.iters[1:]
            n_traced = sum(r["traced"] for r in warm)
            enough = len(warm) >= MIN_WARM and (
                not traced or 0 < n_traced < len(warm)
            )
            if enough and time.perf_counter() - t0 >= seconds:
                return

    def one(self, traced: bool) -> None:
        idx = len(self.iters)
        self.tracer.enabled, self.tracer.iteration = traced, idx
        reset_hwm(self.jvm_pid)
        reset_hwm(os.getpid())
        t0 = time.perf_counter()
        try:
            out = self.wl.iteration()
        except Exception:
            out = None
            self.failures.append(traceback.format_exc())
        rec = {
            "traced": traced,
            "wall_s": time.perf_counter() - t0,
            "jvm_peak_rss_mb": read_hwm_mb(self.jvm_pid),
            "driver_peak_rss_mb": read_hwm_mb(os.getpid()),
        }
        self.tracer.enabled = False
        if out is None:
            units = [("iteration", False, "raised")]
        else:
            rec["wall_s"] -= out.pop("excluded_s", 0.0)
            rec["out"] = out
            try:
                rows = self.wl.read_output(out)
                if self.tamper is not None:
                    rows = self.tamper(rows)
                units = self.wl.check(out, rows)
            except Exception:
                units = [("check", False, traceback.format_exc())]
        bad = [f"iteration {idx} {u}: {msg}" for u, ok, msg in units if not ok]
        self.attempted += len(units)
        self.failed += len(bad)
        self.failures.extend(bad)
        if traced:
            self.tracer.collect()
        self.iters.append(rec)


def run(
    workload: str, seed: int, seconds: float, traced: bool, work_dir: str,
    small: bool = False, tamper=None,
) -> dict:
    """Run ``workload`` and return the result dict (see ``run.py``) plus
    a ``report`` list of printable lines. ``tamper(rows) -> rows``, for
    tests, alters each output before its check."""
    mod = importlib.import_module(f"perfbench.{workload}")
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    size = mod.SMALL_SIZE if small else mod.SIZE
    path, stats = inputs.cached_inputs(work_dir, workload, seed, size, mod.GENERATE)
    run_dir = os.path.join(work_dir, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    conf = session_conf(run_dir, traced)
    # pyspark's own temporary files (the gateway's connection file) too
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    # and no hsperfdata file from the launcher JVM that spark-submit starts
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    spark, build_s, setup_s = build_session(conf, cores)
    try:
        tracer = Tracer(spark, enabled=False)
        wl = mod.Workload(spark, tracer, path, stats, run_dir)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        loop = Loop(wl, tracer, jvm_pid, tamper)
        loop.run(seconds, traced)
        leaked = alive_persists(spark)
    finally:
        shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    iters = loop.iters
    warm = iters[1:]
    e2e = {
        "setup_s": setup_s,
        "cold_run_s": iters[0]["wall_s"],
        "run_s": statistics.median(r["wall_s"] for r in warm if not r["traced"]),
        "driver_peak_rss_mb": max(r["driver_peak_rss_mb"] for r in iters),
    }
    jvm_peak = max(r["jvm_peak_rss_mb"] for r in iters)
    extra = {
        "failure_rate": (loop.failed / loop.attempted, "fraction"),
        "leaked_persists": (len(leaked), "count"),
        "jvm_peak_rss_mb": (jvm_peak, "MB"),
    }
    day = wl.day_seconds([r["out"] for r in warm if "out" in r and not r["traced"]])
    if day is not None:
        extra["day_s"] = (day, "s")

    layer = {}
    if traced:
        layer = layer_metrics(tracer, iters, wl, leaked, cores)
        layer["session.get_spark.wall_s"] = build_s
        layer["jvm_peak_rss_mb"] = jvm_peak
        layer["trace.overhead_s"] = (
            statistics.median(r["wall_s"] for r in warm if r["traced"])
            - e2e["run_s"]
        )
        metrics = {
            n: {"value": layer.get(n, 0), "unit": u}
            for n, u, _b in per_layer_metrics()
        }
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    report = [
        f"# perfbench {wl.name} seed={seed} trace={int(traced)} "
        f"cores={cores} iterations={len(iters)}"
    ]
    report += [f"{n} {e2e[n]:.4f} {u}" for n, u in END_TO_END]
    report += [
        f"{n} {v:.4f} {u}" for n, (v, u) in extra.items() if n not in metrics
    ]
    if traced:
        report += [f"{n} {m['value']:.6g} {m['unit']}" for n, m in metrics.items()]
    report += [
        "FAILURE " + f.strip().replace("\n", "\n# ") for f in loop.failures
    ]

    artifact = {
        "workload": wl.name,
        "seed": seed,
        "traced": traced,
        "small": small,
        "cores": cores,
        "load_model": "closed loop, one client, one process",
        "session": {"master": f"local[{cores}]", **conf},
        "size": size,
        "inputs": stats,
        "iterations": [{k: v for k, v in r.items() if k != "out"} for r in iters],
        "end_to_end": e2e,
        "extra": {k: v for k, (v, _u) in extra.items()},
        "leaked_rdd_ids": leaked,
        "failures": loop.failures,
        "metrics": metrics,
        # every per-layer value, including per-span leaks beyond the list
        "layer": layer,
        "spans": [
            {
                "iteration": s.iteration, "id": s.sid, "parent": s.parent,
                "name": s.name, "start": s.start, "end": s.end,
                "self_s": tracer.self_time(s), "warnings": s.warnings,
                "counters": s.counters, "probes": s.probes,
            }
            for s in tracer.spans
        ],
    }
    res_dir = os.path.join(work_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    out_file = os.path.join(res_dir, f"{wl.name}-seed{seed}-trace{int(traced)}.json")
    with open(out_file, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    report.append(f"# artifact: {os.path.relpath(out_file)}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
        "report": report,
    }


def layer_metrics(tracer, iters, wl, leaked: list[int], cores: int) -> dict:
    """Median, over traced warm iterations, of each span name's summed
    wall, self time and inclusive counters, plus the derived ratios."""
    per_iter = []
    for idx, rec in enumerate(iters):
        if idx == 0 or not rec["traced"]:
            continue
        vals: dict[str, float] = {}
        tot = dict.fromkeys(TOTALS, 0)
        for s in (s for s in tracer.spans if s.iteration == idx):
            inc = tracer.inclusive(s)
            for k, v in (
                ("wall_s", s.wall), ("self_s", tracer.self_time(s)),
                ("jobs", inc["jobs"]), ("tasks", inc["tasks"]),
                ("shuffle_bytes", inc["shuffle_bytes"]),
                ("run_ms", inc["run_ms"]), ("output_bytes", inc["output_bytes"]),
            ):
                vals[f"{s.name}.{k}"] = vals.get(f"{s.name}.{k}", 0) + v
            if s.parent is None:
                for k in tot:
                    tot[k] += inc[k]
            vals["warnings"] = vals.get("warnings", 0) + len(s.warnings)
        for key in [k for k in vals if k.endswith(".run_ms")]:
            name = key[: -len(".run_ms")]
            wall = vals[f"{name}.wall_s"]
            vals[f"{name}.core_busy_frac"] = (
                vals[key] / 1000.0 / (wall * cores) if wall else 0.0
            )
        vals.update({f"iteration.{k}": v for k, v in tot.items()})
        if "out" in rec:
            vals.update(wl.derived(rec["out"], vals, tot))
        per_iter.append(vals)
    keys = {k for v in per_iter for k in v}
    out = {k: statistics.median(v.get(k, 0) for v in per_iter) for k in keys}
    # leaks: each surviving persisted RDD goes to the span that made it
    out["leaked_persists"] = len(leaked)
    for rdd_id in leaked:
        s = tracer.innermost(rdd_id)
        if s is not None:
            key = f"{s.name}.leaked_persists"
            out[key] = out.get(key, 0) + 1
    return out
