"""URI-agnostic filesystem operations via the Hadoop FileSystem API.

Commit markers, manifests, compaction and keyed-table bucket swaps all
need small filesystem side-operations (exists / rename / list / tiny
text files) next to the data. Driver-local ``os.*`` calls only work
when the warehouse is on the driver's local disk; on the stated 100 TB
targets (``hdfs://``, ``s3a://``) they silently never match — markers
stop deduplicating, compaction crashes. Routing through
``org.apache.hadoop.fs.FileSystem`` (reached over the JVM gateway, the
exact same abstraction Spark's own writers use) makes every helper
here work on any URI scheme the data itself uses.

All helpers take the ``SparkSession`` because the FileSystem instance
is resolved from the session's Hadoop configuration per path scheme —
``file:///tmp/x`` and ``s3a://bucket/x`` get different filesystems
from the same code path.

Object-store note: ``rename`` is atomic on HDFS and local file
systems but is copy+delete on S3; the swap-based protocols built on
it (``lakehouse.compact``, ``KeyedTable.upsert``) remain *correct*
there, just not instantaneous — the documented production fix is a
table format (Delta/Iceberg) whose manifest pointer flip replaces
directory renames entirely.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, p, _ = _fs(spark, path)
    return bool(fs.exists(p))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p, _ = _fs(spark, path)
    fs.mkdirs(p)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p, _ = _fs(spark, path)
    return bool(fs.delete(p, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move ``src`` to ``dst`` (same filesystem). Returns False if the
    filesystem refused (e.g. destination exists on HDFS)."""
    fs, psrc, jvm = _fs(spark, src)
    return bool(fs.rename(psrc, jvm.org.apache.hadoop.fs.Path(dst)))


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """The paths (files or directories) matching a Hadoop glob."""
    fs, p, _ = _fs(spark, pattern)
    return [st.getPath().toString() for st in fs.globStatus(p) or []]


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (marker, manifest)."""
    fs, p, _ = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    # commons-io (bundled with Hadoop) drains the stream JVM-side: a
    # Python-side read(buf) loop can't work because py4j passes byte
    # buffers by value, never copying JVM mutations back.
    fs, p, jvm = _fs(spark, path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def list_files(
    spark: SparkSession,
    path: str,
    suffix: str | None = None,
    limit: int | None = None,
) -> list[tuple[str, int]]:
    """Recursive (path, size) listing of the files under ``path`` —
    :func:`list_statuses` without the mtimes."""
    return [
        (name, size)
        for name, size, _ in list_statuses(spark, path, suffix, limit)
    ]


def total_size(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    return sum(size for _, size in list_files(spark, path, suffix))


def list_statuses(
    spark: SparkSession,
    path: str,
    suffix: str | None = None,
    limit: int | None = None,
) -> list[tuple[str, int, int]]:
    """Recursive (path, size, mtime-epoch-millis) listing of the
    files under ``path``; mtime is the retention signal marker-GC
    needs. One round-trip per batch of remote listings (the Hadoop
    ``listFiles`` iterator pages internally) — never a per-file RPC
    loop in Python beyond iterating the statuses. ``limit`` stops the
    iterator after that many matches — a caller that only needs ONE
    leaf file (the erasure schema probe) must not drain a full-table
    listing on a 100 TB directory tree.
    """
    fs, p, _ = _fs(spark, path)
    if not fs.exists(p):
        return []
    it = fs.listFiles(p, True)
    out = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if suffix is None or name.endswith(suffix):
            out.append(
                (name, int(st.getLen()), int(st.getModificationTime()))
            )
            if limit is not None and len(out) >= limit:
                break
    return out
