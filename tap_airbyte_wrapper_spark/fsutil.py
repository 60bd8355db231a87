"""Filesystem helpers shared by the persisted-index utilities.

Two layers:

* **Hadoop-FS helpers** (``read_text`` / ``write_text`` / ``copy``
  / ``exists`` / ``mkdirs`` / ``remove``) — driver-side metadata IO routed through
  the JVM's ``org.apache.hadoop.fs.FileSystem``, so an index whose
  ``path`` lives on an object store (``s3a://`` / ``gs://`` / ``abfs://``)
  or HDFS works exactly like a local one.  These move only
  metadata-sized payloads (a JSON doc, a marker file, a centroid
  table) — never data.
* **local-walk helpers** (``list_parquet_files`` / ``count_parquet_files``)
  — small-files diagnostics.  ``count_parquet_files`` uses the Hadoop FS
  when a ``spark`` handle is passed (works on any scheme) and falls back
  to an ``os.walk`` over the driver-visible filesystem otherwise.
"""

from __future__ import annotations

import os

__all__ = [
    "list_parquet_files", "count_parquet_files",
    "read_text", "write_text", "copy", "exists", "mkdirs", "remove",
]


def _fs_path(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def read_text(spark, path: str) -> str:
    """Read a (metadata-sized) text file from any Hadoop-FS scheme."""
    fs, jpath, jvm = _fs_path(spark, path)
    stream = fs.open(jpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8"))
        out = []
        line = reader.readLine()
        while line is not None:
            out.append(line)
            line = reader.readLine()
        return "\n".join(out)
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    """Overwrite ``path`` with ``text`` on any Hadoop-FS scheme (parent
    dirs are created implicitly, matching ``FileSystem.create``)."""
    fs, jpath, _ = _fs_path(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def copy(spark, src: str, dst: str) -> None:
    """Replace ``dst`` with a copy of the metadata-sized file or
    directory ``src``, between (possibly different) Hadoop-FS
    locations, via the driver."""
    sfs, spath, jvm = _fs_path(spark, src)
    dfs, dpath, _ = _fs_path(spark, dst)
    dfs.delete(dpath, True)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        sfs, spath, dfs, dpath, False, spark._jsc.hadoopConfiguration())


def exists(spark, path: str) -> bool:
    fs, jpath, _ = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def mkdirs(spark, path: str) -> None:
    fs, jpath, _ = _fs_path(spark, path)
    fs.mkdirs(jpath)


def remove(spark, path: str) -> None:
    """Delete ``path`` recursively; a missing path is not an error."""
    fs, jpath, _ = _fs_path(spark, path)
    fs.delete(jpath, True)


def list_parquet_files(path: str) -> list[str]:
    """All ``*.parquet`` data files under ``path``, recursively
    (driver-visible filesystems only)."""
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs if f.endswith(".parquet")
    ]


def count_parquet_files(path: str, spark=None) -> int:
    """Parquet data-file count under ``path``.  With a ``spark`` handle
    the walk runs through the Hadoop FS (any scheme); without one it
    falls back to the local ``os.walk``."""
    if spark is None:
        return len(list_parquet_files(path))
    fs, jpath, _ = _fs_path(spark, path)
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n
