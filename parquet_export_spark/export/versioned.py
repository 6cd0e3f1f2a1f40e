"""Snapshot-versioned lake: immutable exports, pinned reads, vacuum.

The reference republishes into a fixed prefix and consumers poll the
latest manifest (reference README.md:5, main.py:266-282); a reader
racing a republish can see a half-landed snapshot, and yesterday's
snapshot is simply gone. Versioning makes each export an IMMUTABLE
snapshot — the manifest half of an Iceberg/Delta-style table format,
built from the export engine's existing committed-files manifest:

- files land under ``{out}/v{N}/{table}/`` — a version directory is
  itself a complete lake prefix, never modified after commit;
- ``manifest-v{N}.json`` lists exactly that version's files (plus the
  footer-counted quality metrics);
- the manifest write IS the commit; a single tiny ``latest`` pointer,
  refreshed last, is only a resolution cache (current_version falls
  back to the manifest listing whenever the pointer is absent).

Reader contract: resolve a version once, read consistently forever —
concurrent exports never touch a committed version's files, and vacuum
only drops versions older than the retention window. Time travel is
``load_versioned_table(..., version=K)``; a crash mid-export leaves at
worst an orphaned, unreferenced ``v{N}`` directory that the next
export of the same number overwrites and vacuum reclaims, because
versions exist only once their manifest lands.

At 100 TB the version directory costs nothing extra (the data was
being rewritten anyway — this is the reference's own full-republish
model, just retained); incremental use pairs it with
``overwrite_partitions`` inside a version or delta manifests.

Concurrency contract: ONE writer at a time (the reference's own model
— a single Cloud Run job). Two concurrent exporters would both claim
version prev+1; serializing them needs an external lock or an
Iceberg-style atomic compare-and-swap on the pointer, which plain
object stores don't give a rename primitive for. Readers need no
coordination at any concurrency.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parquet_export_spark.export import fs
from parquet_export_spark.export.manifest import build_manifest
from parquet_export_spark.export.pipeline import export_table_with_metrics
from parquet_export_spark.tables import TABLES, TableSpec

LATEST = "latest"


def _vdir(version: int) -> str:
    return f"v{version:06d}"


def _manifest_name(version: int) -> str:
    return f"manifest-{_vdir(version)}.json"


def _manifest_versions(spark: SparkSession, out_dir: str) -> list[int]:
    """Committed snapshot versions, sorted (a manifest file IS the
    commit record — its write is atomic temp+rename)."""
    if not fs.exists(spark, out_dir):
        return []
    return sorted(
        int(n[len("manifest-v") : -len(".json")])
        for n in fs.list_names(spark, out_dir)
        if n.startswith("manifest-v") and n.endswith(".json")
    )


def current_version(spark: SparkSession, out_dir: str) -> int | None:
    """Latest committed version, or None before any export.

    The ``latest`` pointer is a convenience CACHE, not the commit
    record: fs.write_text replaces it by delete+rename, so a reader
    can race the one instant where the pointer is absent. The manifest
    listing is the source of truth (each manifest lands by atomic
    temp+rename), so a missing/stale pointer degrades to one extra
    directory listing, never to a spurious "no snapshot" error.
    """
    pointer = fs.join(out_dir, LATEST)
    pointed = None
    if fs.exists(spark, pointer):
        try:
            pointed = int(fs.read_text(spark, pointer).strip())
        except Exception:
            # exists()/read race with the writer's delete+rename
            # replacement window — fall through to the listing
            pointed = None
    versions = _manifest_versions(spark, out_dir)
    listed = versions[-1] if versions else None
    # max of both: a pointer one behind (crash between manifest write
    # and pointer refresh) must not cause the next export to REUSE a
    # committed version number and overwrite its manifest
    candidates = [v for v in (pointed, listed) if v is not None]
    return max(candidates) if candidates else None


def export_snapshot(
    spark: SparkSession,
    source: Callable[[SparkSession, TableSpec], DataFrame],
    out_dir: str,
    tables: dict[str, TableSpec] | None = None,
    canonical_json: bool = False,
    changed_tables: set[str] | None = None,
    max_concurrency: int = 4,
) -> int:
    """Export the next immutable snapshot; returns its version number.
    Commit order is the correctness story: data files first, then the
    version manifest (atomic temp+rename) — the manifest IS the commit
    record; the ``latest`` pointer written last is a resolution cache
    (see current_version). A reader can only ever observe fully
    committed snapshots.

    ``changed_tables`` is the 100 TB lever: tables NOT named (default:
    all are) are republished METADATA-ONLY — the new manifest reuses
    the previous version's file entries verbatim (paths are
    version-qualified, so a manifest may reference files across
    several version directories). The reference rewrites every byte of
    every table every run (reference main.py:266-282); here an
    unchanged 90 TB table costs one JSON entry. Vacuum is
    reference-aware, so reused files survive retention as long as any
    retained manifest names them.
    """
    tables = tables if tables is not None else TABLES
    prev = current_version(spark, out_dir)
    version = 1 if prev is None else prev + 1
    if changed_tables is not None:
        unknown = set(changed_tables) - set(tables)
        if unknown:
            raise ValueError(
                f"changed_tables names unknown tables {sorted(unknown)}; "
                f"known: {sorted(tables)} — refusing to silently "
                "republish a mistyped table metadata-only"
            )
    if changed_tables is None or prev is None:
        changed = set(tables)
    else:
        changed = set(changed_tables)
    prev_manifest = None
    if changed != set(tables):
        prev_manifest = json.loads(
            fs.read_text(spark, fs.join(out_dir, _manifest_name(prev)))
        )
        # a table absent from the previous snapshot is by definition
        # changed — there is nothing to reuse
        changed |= set(tables) - set(prev_manifest["files"])
    vdir = fs.join(out_dir, _vdir(version))
    # this version number is uncommitted (no manifest), so any existing
    # v{N} content is a crashed attempt's debris — clear it wholesale
    # rather than rely on per-table overwrite: a retry with a SMALLER
    # changed set would otherwise leave the crashed attempt's files for
    # the now-metadata-only tables inside a committed directory forever
    fs.delete(spark, vdir, recursive=True)

    def one(item: tuple[str, TableSpec]) -> tuple[list[str], dict]:
        name, spec = item
        if name in changed:
            names, m = export_table_with_metrics(
                source(spark, spec), vdir, spec, canonical_json=canonical_json
            )
            return [f"{_vdir(version)}/{name}/{n}" for n in names], m
        return prev_manifest["files"][name], prev_manifest["metrics"][name]

    # same driver thread pool as export_lake (shared helper): one
    # table's driver-side metadata phase overlaps another's write
    from parquet_export_spark.export.pipeline import map_tables_concurrently

    items = list(tables.items())
    out = map_tables_concurrently(one, items, max_concurrency)
    qualified = {name: f for (name, _), (f, _) in zip(items, out)}
    metrics = {name: m for (name, _), (_, m) in zip(items, out)}
    manifest = build_manifest({}, metrics=metrics)
    # paths are version-qualified so every manifest is self-contained
    # relative to out_dir (a pinned reader never consults the pointer)
    manifest["version"] = version
    manifest["files"] = qualified
    fs.write_text(
        spark, fs.join(out_dir, _manifest_name(version)), json.dumps(manifest, indent=2)
    )
    fs.write_text(spark, fs.join(out_dir, LATEST), str(version))
    return version


def load_versioned_table(
    spark: SparkSession,
    out_dir: str,
    name: str,
    version: int | None = None,
    schema=None,
) -> DataFrame:
    """Read one table at a pinned snapshot (None = resolve latest ONCE;
    the returned DataFrame stays on that version regardless of later
    exports). Paths are passed explicitly, so Catalyst scans exactly
    the snapshot's committed files with normal pushdown/pruning."""
    if version is None:
        version = current_version(spark, out_dir)
        if version is None:
            raise FileNotFoundError(f"no snapshot exported under {out_dir}")
    manifest = json.loads(
        fs.read_text(spark, fs.join(out_dir, _manifest_name(version)))
    )
    paths = [fs.join(out_dir, p) for p in manifest["files"][name]]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def vacuum(spark: SparkSession, out_dir: str, keep_last: int = 2) -> list[int]:
    """Drop snapshot manifests older than the ``keep_last`` most recent
    and any version DIRECTORY no retained manifest references; returns
    the removed manifest versions. Reference-aware by construction:
    a metadata-only republish makes newer manifests point into older
    version directories, so retention must follow the reference graph,
    not directory age. Never touches the pointed-to latest
    (``keep_last`` is floored at 1), so pinned readers inside the
    retention window are safe — the reference's model (one mutable
    prefix) is the degenerate ``keep_last=1`` case."""
    keep_last = max(1, keep_last)
    latest = current_version(spark, out_dir)
    if latest is None:
        return []
    versions = _manifest_versions(spark, out_dir)
    doomed = [v for v in versions if v <= latest - keep_last]
    retained = [v for v in versions if v not in doomed]
    referenced: set[str] = set()
    for v in retained:
        m = json.loads(fs.read_text(spark, fs.join(out_dir, _manifest_name(v))))
        for paths in m["files"].values():
            referenced.update(p.split("/", 1)[0] for p in paths)
    for v in doomed:
        fs.delete(spark, fs.join(out_dir, _manifest_name(v)))
    # Directory sweep AFTER manifest retirement, over ALL version dirs
    # on disk (not just those whose manifest still existed this run):
    # a dir kept alive by a cross-version reference earlier becomes
    # unreferenced once the referencing manifest itself retires, and
    # must still be reclaimed then — otherwise it leaks forever.
    # Dirs numbered above `latest` are an in-flight export: untouched.
    for name in fs.list_dir_names(spark, out_dir):
        m = re.fullmatch(r"v(\d{6,})", name)  # 6,: _vdir pads, never truncates
        if not m:
            continue
        v = int(m.group(1))
        if v <= latest and name not in referenced:
            fs.delete(spark, fs.join(out_dir, name), recursive=True)
    return doomed
