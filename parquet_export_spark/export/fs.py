"""Hadoop FileSystem shim: path-scheme-agnostic file operations.

The export pipeline's post-commit steps (row-range rename, manifest
write, staging swap) are driver-side metadata operations. Routing them
through the Hadoop FileSystem API — instead of ``os.*`` — makes them
work unchanged on any scheme Spark itself can write: ``file:``,
``hdfs:``, ``s3a:`` (reference main.py:155-176 uploads to GCS/S3; here
the committed files ARE the upload, and these helpers do the bookkeeping
on the same store). Every helper is O(#files) metadata work, no data
movement — on object stores "rename" is the store's server-side
copy+delete, still bounded by file count, not bytes scanned.

Row and null counts come from parquet footers (pyarrow for local
files, parquet-hadoop's ``ParquetFileReader`` elsewhere), so no table
data is re-read to name files by row range or to count the manifest's
metrics.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Iterable
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def local_path(path: str) -> str | None:
    """The OS path of a local (no scheme or ``file:``) path, else None."""
    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        return parsed.path if parsed.scheme else path
    return None


def _fs(spark: SparkSession, path: str):
    """The FileSystem owning ``path`` (scheme + authority resolved
    against the session's Hadoop conf; plain paths -> default FS)."""
    return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    return _fs(spark, path).exists(_jpath(spark, path))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path), _jpath(spark, path)
    return fs.exists(p) and fs.getFileStatus(p).isDirectory()


def list_names(spark: SparkSession, dir_path: str, recursive: bool = False) -> list[str]:
    """Names (recursive: slash-joined relative paths) of non-hidden
    files under ``dir_path``, sorted. Hidden = basename starting with
    ``_`` or ``.`` (Spark markers, checksum sidecars)."""
    fs = _fs(spark, dir_path)
    base = _jpath(spark, dir_path)
    base_uri = fs.getFileStatus(base).getPath().toUri().getPath()
    out: list[str] = []

    def walk(p) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                if recursive:
                    walk(st.getPath())
            else:
                rel = st.getPath().toUri().getPath()[len(base_uri) :].lstrip("/")
                out.append(rel)

    walk(base)
    return sorted(out)


def list_dir_names(spark: SparkSession, dir_path: str) -> list[str]:
    """Names of non-hidden immediate SUBDIRECTORIES of ``dir_path``,
    sorted (list_names deliberately returns files only)."""
    fs = _fs(spark, dir_path)
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(_jpath(spark, dir_path))
        if st.isDirectory()
        and not st.getPath().getName().startswith(("_", "."))
    )


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``; IOError if ``dst`` exists.

    A local file takes ``os.rename`` with its ``.{name}.crc`` checksum
    sidecar, as Hadoop's LocalFileSystem would move it, without a py4j
    round-trip per file. Directories and remote schemes go through
    Hadoop.
    """
    local_src, local_dst = local_path(src), local_path(dst)
    if local_src is not None and local_dst is not None and os.path.isfile(local_src):
        _rename_local_file(local_src, local_dst)
        return
    fs = _fs(spark, src)
    if not fs.rename(_jpath(spark, src), _jpath(spark, dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def _rename_local_file(src: str, dst: str) -> None:
    if os.path.lexists(dst):
        raise IOError(f"rename failed: {src} -> {dst} (target exists)")
    os.rename(src, dst)
    src_crc, dst_crc = (
        os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in (src, dst)
    )
    if os.path.exists(src_crc):
        os.replace(src_crc, dst_crc)
    elif os.path.exists(dst_crc):
        os.remove(dst_crc)  # a stale sidecar would fail the next checksummed read


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    return _fs(spark, path).delete(_jpath(spark, path), recursive)


def _require_missing_binding(exc: Exception, target: str) -> None:
    """Gate on the FileContext-lookup failure class: ONLY a missing
    AbstractFileSystem binding (Hadoop's UnsupportedFileSystemException)
    licenses write_text's non-atomic delete+rename fallback. Any other
    failure — transient Py4J/JVM/conf errors on schemes where the
    atomic path actually works — must surface, not silently reopen the
    no-manifest window the atomic rename exists to close (r7 ADVICE).
    Py4J wraps the Java exception; match its class, not the broad
    except. Returns (with a RuntimeWarning) when the fallback is
    licensed, raises IOError otherwise."""
    java_exc = getattr(exc, "java_exception", None)
    name = (
        java_exc.getClass().getName()
        if java_exc is not None
        else type(exc).__name__
    )
    if "UnsupportedFileSystemException" not in name:
        raise IOError(
            f"FileContext lookup failed for {target} ({name}) — not a"
            " missing-binding condition; refusing the non-atomic"
            f" fallback: {exc}"
        ) from exc
    warnings.warn(
        f"no AbstractFileSystem binding for {target}; falling back to"
        " non-atomic delete+rename for manifest write",
        RuntimeWarning,
        stacklevel=3,
    )


def write_text(spark: SparkSession, path: str, text: str) -> str:
    """Write a small text file via temp-name + rename; used for
    manifest.json on any scheme.

    Writing in place would truncate-then-fill, so a concurrent reader
    (``load_manifest_table``) could observe an empty or partial file.
    Rename is atomic on HDFS and local FS; on object stores it is
    copy+delete, which still never exposes a half-written target —
    the readable window only ever contains the OLD or the NEW manifest.
    """
    fs = _fs(spark, path)
    target = _jpath(spark, path)
    tmp = _jpath(spark, path + ".tmp-write")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    # FileContext rename with OVERWRITE: one atomic replace — the
    # previous delete-then-rename pair left a window with NO manifest
    # at all, which a concurrent load_manifest_table hit as
    # FileNotFoundError (exactly what this function's contract
    # forbids). FileContext is the Hadoop API that exposes the
    # overwrite flag; plain FileSystem.rename has no portable one.
    # FileContext needs an AbstractFileSystem binding per scheme,
    # which some object-store configs (older hadoop-aws s3a) lack —
    # for those, fall back to the delete+rename pair (non-atomic but
    # functional; the atomicity loss is confined to schemes without a
    # binding). Either path surfaces failures as IOError, not raw Py4J.
    jvm = spark._jvm
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            target.toUri(), spark._jsc.hadoopConfiguration()
        )
    except Exception as exc:
        _require_missing_binding(exc, str(target))
        fc = None  # no AbstractFileSystem binding for this scheme
    if fc is not None:
        rename_opts = spark._sc._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        rename_opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        try:
            fc.rename(tmp, target, rename_opts)
        except Exception as exc:
            raise IOError(
                f"atomic rename failed: {tmp} -> {target}: {exc}"
            ) from exc
    else:
        if fs.exists(target):
            fs.delete(target, False)
        if not fs.rename(tmp, target):
            raise IOError(f"rename failed: {tmp} -> {target}")
    return path


def read_text(spark: SparkSession, path: str) -> str:
    stream = _fs(spark, path).open(_jpath(spark, path))
    try:
        # commons-io ships with Spark; py4j returns the String by value
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def parquet_row_count(spark: SparkSession, path: str) -> int:
    """Row count from the parquet footer — metadata-only, no data read."""
    return parquet_footer_counts(spark, path, ())[0]


def parquet_footer_counts(
    spark: SparkSession, path: str, columns: Iterable[str]
) -> tuple[int, dict[str, int]]:
    """Row count and per-column null counts from the parquet footer —
    metadata-only, no data read.

    ``columns`` name flat (top-level, non-nested) columns; each one's
    null count is the sum of its column chunks' ``null_count`` over the
    row groups. A chunk without one raises ``ValueError``: the count is
    never guessed.

    Local paths read the footer with pyarrow directly (one JVM
    roundtrip per file saved — measurable when renaming many committed
    files); remote schemes go through parquet-hadoop (on Spark's
    classpath), so object-store footers are readable without a
    Python-side S3 client.
    """
    nulls = dict.fromkeys(columns, 0)
    local = local_path(path)
    if local is not None:
        import pyarrow.parquet as pq

        meta = pq.read_metadata(local)
        index = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for col in nulls:
                stats = group.column(index[col]).statistics
                if stats is None or not stats.has_null_count:
                    raise ValueError(f"{path}: no null_count for column {col!r}")
                nulls[col] += stats.null_count
        return meta.num_rows, nulls
    jvm = spark._jvm
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        _jpath(spark, path), spark._jsc.hadoopConfiguration()
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        if nulls:
            for block in reader.getFooter().getBlocks():
                chunks = {c.getPath().toDotString(): c for c in block.getColumns()}
                for col in nulls:
                    stats = chunks[col].getStatistics()
                    if stats is None or not stats.isNumNullsSet():
                        raise ValueError(f"{path}: no null_count for column {col!r}")
                    nulls[col] += int(stats.getNumNulls())
        return int(reader.getRecordCount()), nulls
    finally:
        reader.close()


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join mangles nothing here, but keep
    one spot that documents the contract: forward slashes, no scheme
    handling needed because the base carries it)."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out
