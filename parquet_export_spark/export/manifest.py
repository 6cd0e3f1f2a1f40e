"""Manifest generation (reference main.py:103-113; shape README.md:79-99).

``manifest.json``::

    {
      "timestamp": <epoch millis>,
      "dateStr": "<ISO-8601 UTC>",
      "files": {"<table>": ["<table>/<file>", ...], ...}
    }

Deliberate divergence from the reference (SURVEY.md §4.3): the manifest
lists only files that were actually committed — the reference appended
names even when the upload failed (main.py:171-176, 240-243).
"""

from __future__ import annotations

import json
import time
from datetime import datetime, timezone


def build_manifest(
    files_per_table: dict[str, list[str]],
    now_ms: int | None = None,
    metrics: dict[str, dict] | None = None,
) -> dict:
    ts = int(time.time() * 1000) if now_ms is None else now_ms
    manifest = {
        "timestamp": ts,
        "dateStr": datetime.fromtimestamp(ts / 1000, tz=timezone.utc).isoformat(),
        "files": {
            table: [f"{table}/{name}" for name in names]
            for table, names in files_per_table.items()
        },
    }
    if metrics is not None:
        # per-table quality metrics counted from the committed files'
        # footers (zero extra scans); additive to the reference's shape
        # so existing manifest consumers are unaffected
        manifest["metrics"] = metrics
    return manifest


def write_manifest(
    out_dir: str,
    files_per_table: dict[str, list[str]],
    spark,
    metrics: dict[str, dict] | None = None,
) -> str:
    """Write ``manifest.json`` under ``out_dir``.

    The write goes through the Hadoop FileSystem API (export/fs.py), so
    it works on any scheme the export itself wrote to (file:/hdfs:/s3a:
    — the reference uploads the manifest to the same bucket last,
    main.py:282), and ``fs.write_text`` replaces the file atomically: a
    concurrent reader never sees it truncated or half-written.
    """
    from parquet_export_spark.export import fs

    text = json.dumps(build_manifest(files_per_table, metrics=metrics), indent=2)
    return fs.write_text(spark, fs.join(out_dir, "manifest.json"), text)
