"""Physical-plan introspection helpers.

The 100 TB design rule (SURVEY.md §7.4) is enforced as *tests over the
plan*, not hopes: filters reach the scan (PushedFilters), projections
prune columns (ReadSchema), dimension joins broadcast, shuffle counts
stay at the expected minimum. tests/test_plans.py uses these to pin
the plan shape of every headline query.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """Formatted physical plan (post-analysis, pre-execution)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's scans."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        if m.group(1).strip():
            out.append(m.group(1).strip())
    return out


def read_schemas(df: DataFrame) -> list[set[str]]:
    """Column sets read by each parquet scan (pruning evidence)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        cols = {
            part.split(":")[0].strip()
            for part in m.group(1).split(",")
            if part.strip()
        }
        out.append(cols)
    return out


def count_broadcast_joins(df: DataFrame) -> int:
    """BroadcastHashJoin nodes, counted once each via the numbered
    operator details ("(N) BroadcastHashJoin")."""
    return len(re.findall(r"\(\d+\) BroadcastHashJoin", plan_string(df)))


_TPCH_PREFIX = {
    "c_": "customer",
    "s_": "supplier",
    "n_": "nation",
    "r_": "region",
    "p_": "part",
    "o_": "orders",
    "l_": "lineitem",
}

#: Tables whose row count is CONSTANT in SF (TPC-H: nation=25, region=5).
#: Everything else — customer, supplier, part, orders, lineitem — grows
#: linearly with the data, so a forced broadcast hint on a frame derived
#: from them is an OOM at the 100 TB design point, not an optimization.
FIXED_CARDINALITY_TABLES = {"nation", "region"}


def broadcast_hint_subtrees(df: DataFrame) -> list[tuple[set[str], bool]]:
    """For every ``ResolvedHint`` in the ANALYZED logical plan, return
    ``(leaf_tables, has_global_aggregate)``:

    - ``leaf_tables``: the TPC-H table names scanned under the hint
      (mapped from each leaf relation's first output column prefix);
    - ``has_global_aggregate``: True when the hinted subtree contains an
      ungrouped ``Aggregate`` — such a frame is provably ≤1 row per
      grouping-set regardless of SF, hence always broadcast-safe.

    Used by tests/test_plans.py to enforce the 100 TB broadcast rule:
    a FORCED hint is legitimate only on fixed-cardinality dims
    (``FIXED_CARDINALITY_TABLES``) or globally-aggregated frames; for
    anything that scales with the data the decision belongs to
    Catalyst/AQE size estimates (graceful SMJ fallback, never a forced
    OOM build).
    """
    import json as _json

    nodes = _json.loads(df._jdf.queryExecution().analyzed().toJSON())

    def subtree_end(i: int) -> int:
        j = i + 1
        for _ in range(int(nodes[i]["num-children"])):
            j = subtree_end(j)
        return j

    out: list[tuple[set[str], bool]] = []
    for i, n in enumerate(nodes):
        if not n["class"].endswith(".ResolvedHint"):
            continue
        tables: set[str] = set()
        global_agg = False
        for k in range(i + 1, subtree_end(i)):
            m = nodes[k]
            cls = m["class"]
            if cls.endswith(".LogicalRelation") or cls.endswith(
                ".DataSourceV2Relation"
            ):
                first = m["output"][0][0]["name"] if m.get("output") else ""
                tables.add(_TPCH_PREFIX.get(first[:2], first or "<unknown>"))
            elif cls.endswith("logical.Aggregate") and not m.get(
                "groupingExpressions"
            ):
                global_agg = True
        out.append((tables, global_agg))
    return out


def executed_plan_string(df: DataFrame) -> str:
    """Final (post-AQE) physical plan: executes THIS DataFrame's own
    QueryExecution (collect) so its AdaptiveSparkPlan resolves to the
    final plan. Codegen'd operators carry the ``*(n)`` stage prefix.
    Intended for tests at small scale (collect is driver-side)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def partition_filters(df: DataFrame) -> str:
    """The executed plan's ``PartitionFilters: [...]`` segment, or ''
    when the scan carries none — the authoritative partition-pruning
    signal (``inputFiles()`` lists the relation's files BEFORE pruning
    and cannot carry this check).

    Robust by design (round 14, r13 advice): ``str.find`` end-to-end —
    a truncated plan string or a scan format without the v1 segment
    (DSv2 BatchScan) reports as '' for the caller's own "absent" error
    path instead of raising a bare ValueError mid-assertion."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    best = ""
    for m in re.finditer(r"PartitionFilters: \[", plan):
        end = plan.find("]", m.start())
        if end < 0:
            continue  # truncated segment: keep looking / fall through
        seg = plan[m.start() : end + 1]
        # several scans can appear (union plans); prefer a non-empty
        # segment so a pruned scan is not masked by an unpruned sibling
        if len(seg) > len(best):
            best = seg
    return best


#: node classes whose duplicate instantiation means a whole upstream
#: pipeline re-executes per consumer branch (the round-14 twin-sweep
#: defect class): Python kernels and source scans.
_HOT_NODE_MARKERS = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "BatchEvalPython",
    "Scan parquet",
)
_TREE_ART = re.compile(r"^[\s:+\-*()\d]*")
_CODEGEN_ID = re.compile(r"\*\(\d+\)")


def duplicate_hot_nodes(df: DataFrame) -> dict[str, int]:
    """Exact-duplicate kernel/scan node lines in the executed plan —
    the branch-recompute signature (round 14).

    A DataFrame consumed by several plan branches without an exchange
    reuse or checkpoint re-executes its whole upstream pipeline per
    branch; because Spark keeps the frame's expression IDs, the
    duplicated subtree prints IDENTICAL node lines (modulo tree art
    and codegen stage ids), while the same kernel legitimately applied
    to different inputs gets fresh IDs and does not collide. Only the
    AQE FINAL plan section is scanned — the "Initial Plan" echo would
    double-count every node. Executes the frame (collect); small-SF
    audit use only. Empty dict = clean."""
    return _duplicate_nodes(df, _HOT_NODE_MARKERS)


#: second-tier markers (optimization round 14): exact-duplicate JOIN /
#: AGGREGATE / WINDOW / GENERATE node lines mean a non-materialized
#: subtree above the leaves is instantiated per consumer branch. Unlike
#: the hot tier this is a REVIEW signal, not an always-wrong: a
#: duplicated final-aggregate directly over a ReusedExchange re-runs
#: only the node-sized post-shuffle reduction, which can be cheaper
#: than materializing it. Used by the plan-audit CLI's ``--tier exec``
#: sweep to FIND candidates; each finding is judged (and, when real,
#: fixed + micro-benched) by hand.
_EXEC_NODE_MARKERS = (
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Generate",
    "Expand",
)


def duplicate_exec_nodes(df: DataFrame) -> dict[str, int]:
    """duplicate_hot_nodes with the wider exec-node marker set — the
    same exact-duplicate-line detection applied to joins, aggregates,
    windows and generators, so branch recompute of subtrees built over
    CHECKPOINTED leaves (invisible to the scan/kernel tier) also
    surfaces. Executes the frame (collect); small-SF audit use only.

    Two line classes are EXCLUDED as measured false positives (the
    r14 fleet sweep's only hits, every one benign):

    - ``functions=[]`` aggregates: a single distinct prints an
      IDENTICAL partial/final line pair (no ``partial_`` prefix exists
      when the function list is empty), so x2 is one operator, not two;
    - ``BroadcastNestedLoopJoin`` lines carry no expression IDs at all,
      so two DIFFERENT tiny-frame broadcast joins collide on text.
    """
    dups = _duplicate_nodes(df, _EXEC_NODE_MARKERS)
    out: dict[str, int] = {}
    for line, n in dups.items():
        if "BroadcastNestedLoopJoin" in line:
            continue
        if "functions=[]" in line and n <= 2:
            continue
        out[line] = n
    return out


def _duplicate_nodes(df: DataFrame, markers: tuple[str, ...]) -> dict[str, int]:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    counts: dict[str, int] = {}
    for raw in plan.splitlines():
        line = _CODEGEN_ID.sub("", _TREE_ART.sub("", raw)).strip()
        if any(m in line for m in markers):
            counts[line] = counts.get(line, 0) + 1
    return {line: n for line, n in counts.items() if n > 1}


def count_shuffles(df: DataFrame) -> int:
    """Shuffle Exchange operators (broadcast exchanges excluded)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan_string(df)))


#: scale-lint findings: plan-text patterns that are NEVER acceptable in
#: a registered query at 100 TB. Deliberately short — each rule must be
#: a true always-wrong, not a heuristic (heuristics live in the
#: per-query pins of tests/test_plans.py):
#: - CartesianProduct: the non-broadcast cross join. Every legitimate
#:   cross join in the repo broadcasts a provably tiny side, which
#:   compiles to BroadcastNestedLoopJoin instead.
#: - BatchEvalPython: a row-at-a-time Python UDF (the repo's contract
#:   is Arrow-vectorized only: ArrowEvalPython / mapInPandas /
#:   FlatMapGroupsInPandas are the allowed Python surfaces).
_LINT_RULES = (
    ("CartesianProduct", r"\(\d+\) CartesianProduct"),
    ("BatchEvalPython", r"\(\d+\) BatchEvalPython"),
)


def lint_plan(df: DataFrame) -> list[str]:
    """Names of violated scale-lint rules for this plan (empty = clean).

    tests/test_queries_oracle.py runs it on EVERY registry entry's
    plan before that entry executes — the systemic backstop behind the
    per-query plan pins: a new operator cannot land a non-broadcast
    cartesian or a row-at-a-time Python UDF without turning the suite
    red."""
    s = plan_string(df)
    return [name for name, pat in _LINT_RULES if re.search(pat, s)]
