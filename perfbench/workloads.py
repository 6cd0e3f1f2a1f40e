"""The two workloads: what each generates, runs, traces and checks.

A workload's timed window is made of *units*: one shuffled pass over the
registry entries for the lake loop, one ``export_lake`` call for the
export. A run of ``--seconds S`` measures ``max(1, round(S / UNIT_S))``
units (the workload's ``UNIT_S``), so every run of a workload does the
same work and its counters repeat exactly.

Every run prints every end-to-end metric, but not each is a figure of its
own on each workload. ``RESTATED`` names those that only rescale another
metric or are constants of the benchmark's inputs; the notes line repeats
it.

See README.md for why each workload exists and which layer it stresses.
"""

from __future__ import annotations

import os
import random
from concurrent.futures import ThreadPoolExecutor

from parquet_export_spark import queries as Q
from parquet_export_spark.export import fs, pipeline
from parquet_export_spark.sources import lake
from parquet_export_spark.tables import TABLES
from perfbench import checks, lakegen, veragen

LAKE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q21_exclusive_return_suppliers",
    "window_topk_per_group",
    "sql_segment_top_spenders",
    "events_hourly_rollup",
    "bloom_prune_orders",
    "sessionize_batch",
]

#: module, attribute, span name: the program's public functions, patched
#: where they are looked up (``pipeline`` and ``queries`` import by name)
SOURCE_TARGETS = [
    (lake, "load_table", "sources.load_table"),
    (lake, "load_tables", "sources.load_tables"),
    (lake, "load_manifest_table", "sources.load_manifest_table"),
    (lake, "register_temp_views", "sources.register_temp_views"),
    (Q, "load_tables", "sources.load_tables"),
]
EXPORT_TARGETS = [
    (pipeline, "export_lake", "export.pipeline.export_lake"),
    (pipeline, "export_table_with_metrics", "export.pipeline.export_table"),
    (pipeline, "enforce_schema", "export.normalize.enforce_schema"),
    (pipeline, "normalize_json_columns", "export.normalize.normalize_json_columns"),
    (pipeline, "write_table", "export.writer.write_table"),
    (pipeline, "write_manifest", "export.manifest.write_manifest"),
    (fs, "list_names", "export.fs.list_names"),
    (fs, "parquet_row_count", "export.fs.parquet_row_count"),
    (fs, "rename", "export.fs.rename"),
    (fs, "delete", "export.fs.delete"),
    (fs, "write_text", "export.fs.write_text"),
]
#: the registry's per-lake artifact memos: a call that grows its memo fits
ARTIFACT_MEMOS = {
    "_supplier_projection": Q._PROJECTION_ARTIFACTS,
    "_supplier_pair_weights_cached": Q._PAIR_WEIGHT_ARTIFACTS,
    "_trade_edges_cached": Q._TRADE_EDGE_ARTIFACTS,
    "_sessions_cached": Q._SESSION_ARTIFACTS,
}


def _artifact_targets():
    return [(Q, attr, "queries.artifact", memo.__len__) for attr, memo in ARTIFACT_MEMOS.items()]


class LakeLoop:
    """Closed loop, one client: seeded shuffled passes over registry
    entries, each executed into the ``noop`` sink."""

    #: seconds of ``--seconds`` one pass stands for: 24 gives five passes
    UNIT_S = 4.8
    #: untimed passes after the checking one: pass times fall for about
    #: five passes (code generation, JIT)
    WARM_PASSES = 3
    RESTATED = {
        "ops_per_s": "entries per pass / wall_s",
        "user_mb_per_s": "the generated lake's Arrow bytes / wall_s",
        "stored_bytes_per_user_byte": "the generated lake's own ratio; the program writes nothing",
    }

    def __init__(self, name: str, entries: list[str], sf: float):
        self.name, self.entries, self.sf = name, entries, sf
        self.wrong: dict[str, str] = {}
        self.result_rows: dict[str, int] = {}

    def prepare(self, spark, work_dir: str, seed: int) -> None:
        """Generate the lake and the oracle fingerprints (benchmark work)."""
        self.lake_dir = os.path.join(work_dir, "lake")
        sizes = lakegen.write_lake(self.lake_dir, seed, self.sf)
        self.lake_user_bytes = sum(sizes.values())
        self.lake_stored_bytes = sum(
            os.path.getsize(os.path.join(self.lake_dir, f)) for f in os.listdir(self.lake_dir)
        )
        self.expected = checks.oracle_fingerprints(
            self.lake_dir, {e: Q.REGISTRY[e].oracle for e in self.entries}
        )

    def warm_up(self, spark, seed: int, tracer=None) -> None:
        """One untimed pass that checks every entry against its oracle,
        then ``WARM_PASSES`` untimed passes like the timed ones."""
        schedule = self.schedule(1 + self.WARM_PASSES, seed)
        for entry in schedule[0]:
            try:
                df = self._build(spark, entry, tracer)
                got = checks.spark_fingerprint(df)
            except Exception as exc:  # a failing entry is a wrong result
                self.wrong[entry] = f"{type(exc).__name__}: {exc}"
                continue
            self.result_rows[entry] = got[0]
            if got != self.expected[entry]:
                self.wrong[entry] = f"differs from oracle ({got[0]} vs {self.expected[entry][0]} rows)"
        for keys in schedule[1:]:
            for entry in keys:
                if entry not in self.wrong:
                    self.run_op(spark, entry, tracer)

    def schedule(self, units: int, seed: int) -> list[list[str]]:
        rng = random.Random(f"{self.name}:{seed}")
        return [rng.sample(self.entries, len(self.entries)) for _ in range(units)]

    def _build(self, spark, entry: str, tracer):
        fn = Q.REGISTRY[entry].fn
        if tracer is None:
            return fn(spark, self.lake_dir)
        with tracer.span("queries.fn", entry=entry):
            return fn(spark, self.lake_dir)

    def run_op(self, spark, entry: str, tracer=None) -> None:
        df = self._build(spark, entry, tracer)
        if tracer is None:
            df.write.format("noop").mode("overwrite").save()
        else:
            with tracer.span("catalyst.plan") as rec:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                rec["plan_ms"] = sum(
                    phases.apply(p).durationMs()
                    for p in ("analysis", "optimization", "planning")
                    if phases.contains(p)
                )
            with tracer.span("action"):
                df.write.format("noop").mode("overwrite").save()

    def finish(self, spark, ops: list[dict]) -> list[str]:
        """Executions of an entry that failed its oracle check are failed."""
        for op in ops:
            if op["key"] in self.wrong:
                op["ok"] = False
        return [f"{e}: {why}" for e, why in self.wrong.items()]

    def user_bytes_per_unit(self) -> int:
        return self.lake_user_bytes

    def stored_bytes_per_user_byte(self) -> float:
        return self.lake_stored_bytes / self.lake_user_bytes

    def rows_per_unit(self) -> int:
        return sum(self.result_rows.values())

    def trace_targets(self):
        return SOURCE_TARGETS + _artifact_targets()


def _per_table(fn) -> dict:
    """``fn(table)`` for the seven tables, from a small thread pool."""
    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(zip(TABLES, pool.map(fn, TABLES)))


class VeraExport:
    """Closed loop, one client: ``export_lake`` over a seeded seven-table
    VerA source, each export into a fresh directory."""

    name = "vera_export"
    #: seconds of ``--seconds`` one export stands for: 24 gives four exports
    UNIT_S = 6.0
    WARM_EXPORTS = 2
    RESTATED = {
        "latency_p50_s": "wall_s: a unit is one export",
        "latency_tail_s": "wall_s: a unit is one export",
        "ops_per_s": "1 / wall_s",
        "user_mb_per_s": "the source's user bytes / wall_s",
    }

    def __init__(self, n_contracts: int):
        self.n_contracts = n_contracts
        self.n_exports = 0

    def prepare(self, spark, work_dir: str, seed: int) -> None:
        """Generate the source (benchmark work)."""
        self.work_dir = work_dir
        self.src_dir = os.path.join(work_dir, "vera_src")
        veragen.write_vera_source(spark, self.src_dir, seed, self.n_contracts)

    def _read(self, spark, spec):
        return lake.load_table(spark, self.src_dir, spec.name)

    def warm_up(self, spark, seed: int, tracer=None) -> None:
        """Untimed exports: export latency keeps falling for about ten
        calls as the JVM compiles the driver-side path."""
        for _ in range(self.WARM_EXPORTS):
            self.run_op(spark, "warm-up", tracer)

    def schedule(self, units: int, seed: int) -> list[list[str]]:
        return [[f"export-{i}"] for i in range(units)]

    def run_op(self, spark, key: str, tracer=None) -> str:
        self.n_exports += 1
        out_dir = os.path.join(self.work_dir, "out", f"{key}-{self.n_exports}")
        pipeline.export_lake(spark, self._read, out_dir, canonical_json=True)
        return out_dir

    def finish(self, spark, ops: list[dict]) -> list[str]:
        """Check every export's structure and the last one's content against
        the source's stats, taken after the timed window, when the JVM is
        warm; mark the failing operations."""
        self.source = _per_table(lambda t: checks.table_stats(spark.read.parquet(f"{self.src_dir}/{t}"), t))
        rows = {t: s["rows"] for t, s in self.source.items()}
        problems = []
        for op in ops:
            found = checks.check_export(op["result"], rows) if op["ok"] else []
            if found:
                op["ok"] = False
                problems += [f"{op['key']}: {p}" for p in found]
        last = next((op for op in reversed(ops) if op["ok"]), None)
        if last is not None:
            read_back = _per_table(
                lambda t: checks.table_stats(lake.load_manifest_table(spark, last["result"], t), t)
            )
            for table, want in self.source.items():
                got = read_back[table]
                # user bytes shrink where JSON is canonicalized; rows and content may not change
                if (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
                    last["ok"] = False
                    problems.append(f"{last['key']}: {table} read back {got}, source {want}")
        ok = [op for op in ops if op["ok"]]
        self.committed = [checks.committed_bytes(op["result"]) for op in ok]
        self.files = [sum(map(len, checks.committed_files(op["result"]).values())) for op in ok]
        return problems

    def user_bytes_per_unit(self) -> int:
        return sum(s["user_bytes"] for s in self.source.values())

    def stored_bytes_per_user_byte(self) -> float:
        return max(self.committed, default=0) / self.user_bytes_per_unit()

    def rows_per_unit(self) -> int:
        return sum(s["rows"] for s in self.source.values())

    def trace_targets(self):
        return SOURCE_TARGETS + EXPORT_TARGETS


def make(name: str):
    if name == "lake_queries":
        return LakeLoop(name, LAKE_QUERIES, sf=0.01)
    if name == "vera_export":
        return VeraExport(n_contracts=10000)
    raise ValueError(f"unknown workload {name!r}")
