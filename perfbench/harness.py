"""One benchmark run: set up, warm up, measure, check, report.

An untraced run (``trace=False``) reports the end-to-end metrics. A traced
run first measures the same schedule untraced, then again with every layer's
public functions wrapped (``trace.Tracer``), and reports the per-layer
metrics, normalised per unit (pass or export), plus the tracing overhead:
traced wall minus untraced wall.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

from parquet_export_spark.session import get_spark
from perfbench import procstat, workloads
from perfbench.trace import JOB_COUNTERS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

#: name -> unit of every end-to-end metric
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "user_mb_per_s": "MB/s",
    "stored_bytes_per_user_byte": "ratio",
}

#: name -> unit of every per-layer metric
PER_LAYER = {
    "session.start_s": "s",
    "sources.calls": "count",
    "sources.s": "s",
    "sources.jobs": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.artifact_fit_s": "s",
    "action.s": "s",
    "catalyst.plan_s": "s",
    **{f"spark.{phase}.{c}": unit for phase in ("build", "action") for c, unit in JOB_COUNTERS.items()},
    "spark.core_busy_frac": "ratio",
    "spark.input_rows_per_result_row": "ratio",
    "python_workers.cpu_s": "s",
    "export.table_s": "s",
    "export.fanout": "ratio",
    "export.normalize.s": "s",
    "export.writer.s": "s",
    "export.writer.self_s": "s",
    "export.fs.footer_reads": "count",
    "export.fs.footer_read_s": "s",
    "export.fs.renames": "count",
    "export.fs.rename_s": "s",
    "export.fs.lists": "count",
    "export.fs.deletes": "count",
    "export.manifest.s": "s",
    "export.files": "count",
    "export.files_kept_frac": "ratio",
    "export.bytes_written": "B",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}
#: spans whose Spark jobs count as the operation's action, not its build
ACTION_SPANS = {"action", "export.writer.write_table"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """The program's session at ``local[nproc]`` with ``nproc`` shuffle
    partitions; every scratch path inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    n = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).collect()  # first job: executor and codegen start-up
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def tail(ops: list[dict], units: int) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it,
    interpolated. Below twenty samples there is none; then the tail is the
    median over units of each unit's slowest operation, which one stall
    cannot move."""
    lat = [op["latency_s"] for op in ops]
    n = len(lat)
    if n < 20:
        slowest = [max(op["latency_s"] for op in ops if op["unit"] == u) for u in range(units)]
        return "median over units of the slowest operation", statistics.median(slowest)
    q = 5 * math.floor(20 * (1 - 10 / n))
    return f"p{q}", statistics.quantiles(lat, n=100, method="inclusive")[q - 1]


def timed_window(spark, workload, schedule, tracer=None, jvm=None, prefix="op") -> tuple[list[dict], float]:
    ops: list[dict] = []
    t0 = time.perf_counter()
    for unit, keys in enumerate(schedule):
        for key in keys:
            op = {"id": f"{prefix}{len(ops)}", "unit": unit, "key": key, "ok": True}
            cpu0 = procstat.worker_cpu_s(jvm) if tracer is not None else 0.0
            start = time.perf_counter()
            try:
                if tracer is None:
                    op["result"] = workload.run_op(spark, key)
                else:
                    with tracer.operation(op["id"], "op"):
                        op["result"] = workload.run_op(spark, key, tracer)
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                op["ok"] = False
                op["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            op["latency_s"] = time.perf_counter() - start
            if tracer is not None:
                op["worker_cpu_s"] = procstat.worker_cpu_s(jvm) - cpu0
            ops.append(op)
    return ops, time.perf_counter() - t0


def end_to_end(workload, ops, units, setup_s, jvm) -> tuple[dict, dict]:
    """Timings are medians: a unit's wall (one pass or one export) and an
    operation's latency; rates divide a unit's work by the median unit wall."""
    lat = [op["latency_s"] for op in ops]
    unit_walls = [sum(op["latency_s"] for op in ops if op["unit"] == u) for u in range(units)]
    wall = statistics.median(unit_walls)
    pct, tail_s = tail(ops, units)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail_s,
        "ops_per_s": len(ops) / units / wall,
        "user_mb_per_s": workload.user_bytes_per_unit() / wall / 1e6,
        "stored_bytes_per_user_byte": workload.stored_bytes_per_user_byte(),
    }
    # peak memory moves 15 % between runs of the same code: reported, not a metric
    notes = {
        "latency_tail_s": f"{pct} of n={len(lat)}",
        "restated": workload.RESTATED,
        "unit_walls_s": unit_walls,
        "peak_rss_mb": procstat.peak_rss_mb(jvm),
    }
    return metrics, notes


def layer_metrics(tracer, workload, ops, units, wall_traced, wall_plain, start_s) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window, per unit, and self time per
    span name."""
    ids = {op["id"] for op in ops}
    spans = [s for s in tracer.spans if s["op"] in ids]
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)

    def total(name):
        return sum(s["end"] - s["start"] for s in named[name])

    def per(x):
        return x / units

    outer_sources = [
        s
        for s in spans
        if s["name"].startswith("sources.")
        and not any(a["name"].startswith("sources.") for a in tracer.ancestors(s["parent"]))
    ]
    sums = {(phase, c): 0.0 for phase in ("build", "action") for c in JOB_COUNTERS}
    source_jobs = build_jobs = build_stages = 0
    for job in tracer.jobs:
        if job["span"] is None or tracer.spans[job["span"]]["op"] not in ids:
            continue
        chain = {a["name"] for a in tracer.ancestors(job["span"])}
        phase = "action" if chain & ACTION_SPANS else "build"
        for c in JOB_COUNTERS:
            sums[phase, c] += job[c]
        source_jobs += any(n.startswith("sources.") for n in chain)
        if "queries.fn" in chain:
            build_jobs += 1
            build_stages += job["stages"]
    run_s = sums["build", "executor_run_s"] + sums["action", "executor_run_s"]
    input_rows = sums["build", "input_rows"] + sums["action", "input_rows"]
    self_s = tracer.self_times(spans)
    footer_reads = len(named["export.fs.parquet_row_count"])
    files = statistics.median(getattr(workload, "files", None) or [0])
    lakes = total("export.pipeline.export_lake")
    m = {
        "session.start_s": start_s,
        "sources.calls": per(len(outer_sources)),
        "sources.s": per(sum(s["end"] - s["start"] for s in outer_sources)),
        "sources.jobs": per(source_jobs),
        "queries.build_s": per(total("queries.fn")),
        "queries.build_jobs": per(build_jobs),
        "queries.build_stages": per(build_stages),
        "queries.artifact_fit_s": sum(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "queries.artifact" and s.get("fit")
        ),
        "action.s": per(total("action")),
        "catalyst.plan_s": per(sum(s.get("plan_ms", 0) for s in named["catalyst.plan"]) / 1000),
        **{f"spark.{phase}.{c}": per(v) for (phase, c), v in sums.items()},
        "spark.core_busy_frac": run_s / (wall_traced * nproc()),
        "spark.input_rows_per_result_row": input_rows / max(1, units * workload.rows_per_unit()),
        "python_workers.cpu_s": per(sum(op.get("worker_cpu_s", 0.0) for op in ops)),
        "export.table_s": per(total("export.pipeline.export_table")),
        "export.fanout": total("export.pipeline.export_table") / lakes if lakes else 0.0,
        "export.normalize.s": per(
            total("export.normalize.enforce_schema") + total("export.normalize.normalize_json_columns")
        ),
        "export.writer.s": per(total("export.writer.write_table")),
        "export.writer.self_s": per(self_s.get("export.writer.write_table", 0.0)),
        "export.fs.footer_reads": per(footer_reads),
        "export.fs.footer_read_s": per(total("export.fs.parquet_row_count")),
        "export.fs.renames": per(len(named["export.fs.rename"])),
        "export.fs.rename_s": per(total("export.fs.rename")),
        "export.fs.lists": per(len(named["export.fs.list_names"])),
        "export.fs.deletes": per(len(named["export.fs.delete"])),
        "export.manifest.s": per(total("export.manifest.write_manifest")),
        "export.files": files,
        "export.files_kept_frac": files / per(footer_reads) if footer_reads else 0.0,
        "export.bytes_written": statistics.median(getattr(workload, "committed", None) or [0]),
        "trace.overhead_s": per(wall_traced - wall_plain),
        "trace.overhead_frac": (wall_traced - wall_plain) / wall_plain,
    }
    return m, {name: per(v) for name, v in sorted(self_s.items())}


def measure(spark, start_s: float, workload, seed: int, seconds: float, traced: bool, work: str) -> dict:
    """Everything after session start; returns the result object."""
    name = workload.name
    jvm = procstat.jvm_pid(spark)
    t0 = time.perf_counter()
    workload.prepare(spark, work, seed)
    prepare_s = time.perf_counter() - t0
    tracer = Tracer(spark) if traced else None
    t0 = time.perf_counter()
    if tracer is None:
        workload.warm_up(spark, seed)
    else:
        with tracer.patched(workload.trace_targets()):
            workload.warm_up(spark, seed, tracer)
    warm_s = time.perf_counter() - t0
    log(f"{name}: session {start_s:.2f}s, inputs {prepare_s:.2f}s, warm-up {warm_s:.2f}s")

    units = max(1, round(seconds / workload.UNIT_S))
    schedule = workload.schedule(units, seed + 1)
    steal0, ticks0 = procstat.cpu_ticks()
    if tracer is None:
        ops, _ = timed_window(spark, workload, schedule)
        ops_checked = ops
    else:
        # each unit runs untraced and traced, in ABBA order so drift
        # (late JIT, caches) cancels out of the overhead
        ops, traced_ops, wall, traced_wall = [], [], 0.0, 0.0
        for i, unit in enumerate(schedule):
            for traced_turn in (i % 2 == 1, i % 2 == 0):
                if traced_turn:
                    with tracer.patched(workload.trace_targets()):
                        got, w = timed_window(spark, workload, [unit], tracer, jvm, prefix=f"traced{i}-")
                    traced_ops += got
                    traced_wall += w
                else:
                    got, w = timed_window(spark, workload, [unit], prefix=f"plain{i}-")
                    ops += got
                    wall += w
        ops_checked = ops + traced_ops
    steal1, ticks1 = procstat.cpu_ticks()
    t0 = time.perf_counter()
    problems = workload.finish(spark, ops_checked)
    log(f"{name}: {len(ops_checked)} operations, checks {time.perf_counter() - t0:.2f}s")
    failed = sum(not op["ok"] for op in ops_checked)
    problems += [f"{op['key']}: {op['error']}" for op in ops_checked if "error" in op]

    notes: dict = {"workload": name, "seed": seed, "units": units, "problems": problems[:20]}
    if tracer is None:
        metrics, more = end_to_end(workload, ops, units, start_s + warm_s, jvm)
        units_of = END_TO_END
    else:
        metrics, self_s = layer_metrics(tracer, workload, traced_ops, units, traced_wall, wall, start_s)
        more = {"self_s_per_unit": self_s}
        units_of = PER_LAYER
        trace_path = os.path.join(OUT_DIR, "traces", f"{name}-s{seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump({"spans": tracer.spans, "jobs": tracer.jobs, "self_s_per_unit": self_s}, fh)
        more["trace_file"] = os.path.relpath(trace_path, ROOT)
    notes.update(more)
    notes["failed_frac"] = failed / len(ops_checked)
    notes["context"] = procstat.run_context(spark, ROOT, nproc())
    # CPU time other guests took during the timed window: like the probe,
    # it tells a contended machine from a regression
    notes["context"]["steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    return {
        "correct": failed == 0,
        "attempted": len(ops_checked),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units_of.items()},
        "notes": notes,
    }


def stop_processes(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = procstat.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(name: str, seed: int, seconds: float, traced: bool) -> dict:
    """A run in its own session, whose processes are all stopped afterwards."""
    work = os.path.join(OUT_DIR, f"{name}-s{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark, start_s = start_spark(work)
        return measure(spark, start_s, workloads.make(name), seed, seconds, traced, work)
    finally:
        if spark is not None:
            stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)
