"""Filesystem-agnostic small-file IO via the Hadoop FileSystem API.

Checkpoint markers (`_SUCCESS`, the `_CHECKPOINT` stage record),
model-selection unit markers, run-summary JSON and the parquet footers a
stage record is built from live NEXT TO the parquet state they
describe — which on a real cluster is HDFS/S3/Iceberg-warehouse storage,
not the driver's local disk. `os.path.exists`/`open()` silently return
False / fail there, which turns completed-set resume into a full recompute
(reference resume semantics: pelinker/model_selection_checkpoint.py:236-252
skip finished work units by fingerprint). Every existence check and marker
write in the engine routes through these helpers, which resolve the
filesystem FROM the path's scheme (file://, hdfs://, s3a://, bare local)
exactly like Spark's own writers do.

Costs: one JVM round-trip per call (per file for footers) — negligible
against the stage writes they guard. No data-plane bytes move through the
driver except the small marker/summary payloads and parquet footers.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence check (works for file://, hdfs://, s3a://
    and scheme-less local paths alike)."""
    fs, jpath = _fs_and_path(spark, path)
    return fs.exists(jpath)


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.mkdirs(jpath)


def fs_delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree; False if it did not exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return fs.delete(jpath, recursive)


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Directory/file move via FileSystem.rename (atomic on HDFS and
    local FS; object stores emulate). Refuses to clobber — callers delete
    the destination first when replacement is intended."""
    fs, jsrc = _fs_and_path(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename {src} -> {dst} failed")


def fs_list_subdirs(spark: SparkSession, path: str) -> list[str]:
    """Names (not paths) of immediate child directories; [] if the path
    is missing. Used to enumerate `batch_id=N` partition dirs."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory()
    )


def fs_parquet_part_rows(spark: SparkSession, path: str) -> list[list[int]]:
    """[[partition_id, n_rows], ...] of a parquet directory written by
    Spark, sorted by partition id: each `part-NNNNN-*` file's row count
    read from its footer on the driver (no Spark job). NNNNN is the number
    of the write task that produced the file; a task that split its output
    over several files contributes their sum."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, jpath = _fs_and_path(spark, path)
    rows: dict[int, int] = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not name.startswith("part-"):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            pid = int(name.split("-")[1])
            rows[pid] = rows.get(pid, 0) + reader.getRecordCount()
        finally:
            reader.close()
    return [[pid, n] for pid, n in sorted(rows.items())]


def fs_read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file (marker / summary JSON) from any Hadoop
    filesystem. Driver-side, intended for KB-of-metadata payloads only."""
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def fs_write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Atomic publish of a small text file: write to `<path>.tmp`, then
    rename over the destination — the S8 tmp+rename discipline (reference
    model_selection_checkpoint.py:169-183) expressed through the
    FileSystem API so it works off the driver's local disk. HDFS rename
    refuses to clobber, so an existing destination is deleted first; the
    unprotected window is the delete→rename gap, the same window Spark's
    own _SUCCESS protocol has."""
    fs, jpath = _fs_and_path(spark, path)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise OSError(f"rename {path}.tmp -> {path} failed")
