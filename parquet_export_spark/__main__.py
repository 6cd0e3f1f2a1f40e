"""CLI: the reference's ``python main.py`` surface, Spark-first.

    python -m parquet_export_spark export \
        --source parquet:/path/to/source-lake \
        --out /path/to/output-lake [--table code] [--limit 1000]

Environment parity with the reference (main.py:27-28, 270-276,
.env-template):

- ``DEBUG_TABLE``   export exactly one table  (same name/semantics)
- ``DEBUG_OFFSET``  skip rows (ordered on the partition column where
  one exists — the reference's unordered OFFSET was nondeterministic)
- ``DEBUG``         limit each table to one small file's worth of rows
- Postgres sources: ``--source jdbc:postgresql://host:port/db`` with
  ``DB_USER`` / ``DB_PASSWORD`` env vars (needs the JDBC driver jar on
  the Spark classpath).

Output: ``{out}/{table}/{table}_{start}_{end}_zstd.parquet`` files and
``{out}/manifest.json`` — the reference's object layout
(main.py:237, README.md:79-99). Writing to ``s3a://`` URIs works
unchanged when the hadoop-aws jars + credentials are configured.
"""

from __future__ import annotations

import argparse
import os
import sys

from parquet_export_spark.export.pipeline import export_lake
from parquet_export_spark.session import get_spark
from parquet_export_spark.tables import TABLES

_CANONICAL_JSON_HELP = (
    "re-serialize JSON columns compactly in the JVM; the text is"
    " semantically equal to the source JSON, not byte-for-byte equal to"
    " Python's json.dumps (non-ASCII raw, 1e-07 written 1.0E-7)"
)


def _make_source(source: str, offset: int | None):
    if source.startswith("jdbc:"):
        from parquet_export_spark.sources.jdbc import JdbcSource

        js = JdbcSource(
            url=source,
            user=os.environ.get("DB_USER", ""),
            password=os.environ.get("DB_PASSWORD", ""),
            schema=os.environ.get("DB_SCHEMA", "public"),
        )
        return lambda spark, spec: js.read(spark, spec, offset=offset)
    path = source.removeprefix("parquet:")

    def read_parquet(spark, spec):
        from parquet_export_spark.sources.lake import load_table

        df = load_table(spark, path, spec.name)
        if offset:
            df = df.offset(offset)
        return df

    return read_parquet


def _gen_queries_md(out_path: str) -> int:
    """Regenerate QUERIES.md from the live registry (name, module,
    oracle status, purpose). The purpose of a SQL entry is the leading
    ``-- `` line of its SQL; of any other entry, the first line of its
    operator's docstring. No Spark session needed."""
    from parquet_export_spark.queries import REGISTRY

    lines = [
        "# QUERIES — the registered query surface",
        "",
        "Every `__spark_entry__.queries()` entry: module, oracle status, and"
        " purpose.",
        "Regenerate with `python -m parquet_export_spark docs`.",
        "",
        "| Query | Module | Oracle | Purpose |",
        "|---|---|---|---|",
    ]
    # Registry entries are named after their operator function, so the
    # documented callable resolves by NAME against the operators
    # package (`<name>_checked` first — twins keep the registry name
    # but run the certificate variant).  The closure walk below is the
    # fallback for entries whose name is registry-local (composed
    # suites).
    import importlib
    import pkgutil

    import parquet_export_spark.operators as _ops_pkg

    by_name: dict[str, object] = {}
    for m in pkgutil.iter_modules(_ops_pkg.__path__):
        mod_obj = importlib.import_module(f"{_ops_pkg.__name__}.{m.name}")
        for attr, v in vars(mod_obj).items():
            if callable(v) and getattr(v, "__doc__", None) and getattr(
                v, "__module__", ""
            ) == mod_obj.__name__:
                by_name.setdefault(attr, v)

    for name, spec in REGISTRY.items():
        oracle = "DuckDB hash-match" if spec.oracle else "rows-only (approx/iterative)"
        sql = getattr(spec.fn, "sql", None)
        if sql is not None:
            purpose = sql.strip().splitlines()[0].removeprefix("-- ")
            lines.append(f"| `{name}` | queries | {oracle} | {purpose} |")
            continue
        op = by_name.get(f"{name}_checked") or by_name.get(name)
        if op is None:
            op = spec.fn
            queue = [spec.fn]
            while queue:
                cand = queue.pop(0)
                if getattr(cand, "__doc__", None):
                    op = cand
                    break
                for cell in cand.__closure__ or ():
                    if callable(cell.cell_contents):
                        queue.append(cell.cell_contents)
        mod = op.__module__.rsplit(".", 1)[-1]
        doc = (op.__doc__ or "").strip().splitlines()
        purpose = doc[0].rstrip(".") if doc else ""
        lines.append(f"| `{name}` | {mod} | {oracle} | {purpose} |")
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_path} ({len(REGISTRY)} queries)", file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="parquet_export_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    exp = sub.add_parser("export", help="export tables to a parquet lake + manifest")
    exp.add_argument("--source", required=True, help="parquet:<dir> or jdbc:<url>")
    exp.add_argument("--out", required=True)
    exp.add_argument("--table", default=os.environ.get("DEBUG_TABLE") or None)
    exp.add_argument("--limit", type=int, default=None)
    exp.add_argument("--canonical-json", action="store_true", help=_CANONICAL_JSON_HELP)
    docs = sub.add_parser("docs", help="regenerate QUERIES.md from the registry")
    docs.add_argument("--out", default="QUERIES.md")
    snap = sub.add_parser(
        "snapshot",
        help="export the next immutable versioned snapshot (time travel)",
    )
    snap.add_argument("--source", required=True, help="parquet:<dir> or jdbc:<url>")
    snap.add_argument("--out", required=True)
    snap.add_argument(
        "--changed",
        default=None,
        help="comma-separated tables that changed; others republish "
        "metadata-only against the previous snapshot",
    )
    snap.add_argument("--canonical-json", action="store_true", help=_CANONICAL_JSON_HELP)
    vac = sub.add_parser(
        "vacuum", help="drop snapshots past retention (reference-aware)"
    )
    vac.add_argument("--out", required=True)
    vac.add_argument("--keep-last", type=int, default=2)
    val = sub.add_parser(
        "validate",
        help="pre-publish constraint gate over a star-schema lake "
        "(PK uniqueness / FK integrity / NOT NULL); exit 1 on any "
        "violation",
    )
    val.add_argument("--lake", required=True, help="lake directory")
    aud = sub.add_parser(
        "plan-audit",
        help="branch-recompute audit: run registry entries and flag "
        "duplicate kernel/scan nodes in the executed plan "
        "(plans.inspect.duplicate_hot_nodes)",
    )
    aud.add_argument("names", nargs="*", help="registry entries (default: all)")
    aud.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
    )
    aud.add_argument(
        "--tier",
        choices=["hot", "exec"],
        default="hot",
        help="hot = kernel/scan duplicates (always-wrong); exec = "
        "join/aggregate/window duplicates (review signal — see "
        "plans.inspect.duplicate_exec_nodes)",
    )
    args = parser.parse_args(argv)

    if args.cmd == "plan-audit":
        import json as _json

        from parquet_export_spark.plans.inspect import (
            duplicate_exec_nodes,
            duplicate_hot_nodes,
        )
        from parquet_export_spark.queries import REGISTRY

        detector = (
            duplicate_exec_nodes if args.tier == "exec" else duplicate_hot_nodes
        )
        spark = get_spark(app_name="parquet-export-plan-audit")
        names = args.names or list(REGISTRY)
        unknown = [n for n in names if n not in REGISTRY]
        if unknown:
            parser.error(f"unknown registry entries: {unknown}")
        flagged = {}
        for nm in names:
            try:
                dups = detector(REGISTRY[nm].fn(spark, args.sf_dir))
            except Exception as e:  # noqa: BLE001 — audit must finish the sweep
                dups = {f"ERROR {type(e).__name__}": 1, str(e)[:200]: 1}
            if dups:
                flagged[nm] = dups
            print(f"{nm}\t{'FLAGGED' if dups else 'clean'}", file=sys.stderr)
        print(_json.dumps(flagged, indent=1, sort_keys=True))
        return 1 if flagged else 0

    if args.cmd == "validate":
        from parquet_export_spark.operators.stats import (
            validate_lake_constraints,
        )
        from parquet_export_spark.sources.lake import load_tables

        spark = get_spark(app_name="parquet-export-validate")
        rows = validate_lake_constraints(
            load_tables(spark, args.lake), corrupt=False
        ).collect()
        total = 0
        for r in rows:
            print(f"{r.constraint_name}\t{r.n_violations}")
            total += r.n_violations
        print(f"total violations: {total}", file=sys.stderr)
        return 1 if total else 0

    if args.cmd == "docs":
        return _gen_queries_md(args.out)

    if args.cmd == "vacuum":
        from parquet_export_spark.export.versioned import vacuum

        spark = get_spark(app_name="parquet-export-vacuum")
        removed = vacuum(spark, args.out, keep_last=args.keep_last)
        print(f"removed versions: {removed}", file=sys.stderr)
        return 0

    if args.cmd == "snapshot":
        from parquet_export_spark.export.versioned import export_snapshot

        changed = None
        if args.changed is not None:
            changed = {t.strip() for t in args.changed.split(",") if t.strip()}
            if not changed:
                # ',' or '  ' must not silently become "nothing
                # changed" (a full metadata-only republish)
                parser.error(
                    "--changed was given but names no tables; omit the "
                    "flag to republish everything"
                )
        spark = get_spark(app_name="parquet-export-snapshot")
        version = export_snapshot(
            spark,
            _make_source(args.source, None),
            args.out,
            tables=TABLES,
            canonical_json=args.canonical_json,
            changed_tables=changed,  # unknown names rejected inside
        )
        print(version)
        return 0

    debug = os.environ.get("DEBUG", "").lower() in ("1", "true", "yes")
    offset = int(os.environ["DEBUG_OFFSET"]) if os.environ.get("DEBUG_OFFSET") else None
    limit = args.limit
    if debug and limit is None:
        limit = 1000  # one small file per table, like reference DEBUG mode

    spark = get_spark(app_name="parquet-export")
    files = export_lake(
        spark,
        _make_source(args.source, offset),
        args.out,
        tables=TABLES,
        only_table=args.table,
        limit=limit,
        canonical_json=args.canonical_json,
    )
    for table, names in files.items():
        print(f"{table}: {len(names)} files", file=sys.stderr)
    print(os.path.join(args.out, "manifest.json"))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
