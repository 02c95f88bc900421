"""Hadoop FileSystem helpers — the cluster-safe storage primitive layer.

Every durable artifact this engine writes (workspace tables, checkpoint
snapshots, manifests, config files) goes through the Hadoop FS API of the
session's Hadoop configuration, so the same code runs against file://,
hdfs://, or an object store mounted through a Hadoop connector — never
``os.path`` / ``os.rename`` on table paths (those silently only work on
the driver's local disk).

Atomicity note: the write-then-``rename`` commit used by the callers is
atomic on HDFS and local filesystems. On S3-style object stores a Hadoop
"rename" is a copy+delete — not atomic; production deployments there
should put tables behind a catalog with real MERGE/commit semantics
(e.g. Iceberg). The call shape is identical, so swapping the storage
layer does not change any operator.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def fs_and_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for any path/URI via the session's Hadoop conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = fs_and_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = fs_and_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = fs_and_path(spark, path)
    fs.mkdirs(p)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """FS-level rename (atomic on HDFS/local; see module docstring for the
    object-store caveat). Returns False when the FS refuses the rename."""
    fs, s = fs_and_path(spark, src)
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(s, d))


def listdir(spark: SparkSession, path: str) -> list[tuple[str, int, bool]]:
    """[(name, size_bytes, is_dir)] for the direct children of ``path``
    (empty if the path does not exist)."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        out.append((st.getPath().getName(), int(st.getLen()), bool(st.isDirectory())))
    return out


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (config, fingerprint, manifest).
    Callers needing atomic visibility write a tmp path then rename()."""
    fs, p = fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def create_exclusive(spark: SparkSession, path: str, text: str) -> bool:
    """Atomically create ``path`` with ``text`` iff it does not exist
    (Hadoop ``create(overwrite=false)`` — the namenode arbitrates, so two
    racing creators resolve to exactly one winner on HDFS/local). Returns
    False if the path already existed. The lock-claim primitive."""
    fs, p = fs_and_path(spark, path)
    try:
        out = fs.create(p, False)
    except Exception as ex:
        # Only the already-exists outcome means "lost the race" — anything
        # else (permissions, connectivity) is an infrastructure fault and
        # must propagate, not masquerade as a concurrent writer.
        # Local/HDFS raise o.a.h.fs.FileAlreadyExistsException; HDFS can
        # also surface AlreadyBeingCreatedException for an open lease.
        je = getattr(ex, "java_exception", None)
        cls = je.getClass().getName() if je is not None else ""
        if "FileAlreadyExists" in cls or "AlreadyBeingCreated" in cls:
            return False
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def read_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a small text file, or None if it does not exist.

    The local filesystem verifies each read against a ``.<name>.crc``
    sidecar; a file rewritten outside the Hadoop API (a hand edit, plain
    ``open()``) no longer matches it. That mismatch raises an ``IOError``
    naming the file and its stale sidecar, not a bare py4j error."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    except Py4JJavaError as ex:
        cls = ex.java_exception.getClass().getName()
        if cls != "org.apache.hadoop.fs.ChecksumException":
            raise
        crc = f"{p.getParent()}/.{p.getName()}.crc"
        raise IOError(
            f"{path} does not match its checksum sidecar {crc}: the file was "
            f"rewritten outside the Hadoop API; restore it, or delete {crc} "
            "to accept its current content"
        ) from ex
    finally:
        stream.close()


def listing(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Sorted [(relative_path, size_bytes)] of every non-hidden file under
    ``path``, recursively — the input-fingerprint unit (works on any
    Hadoop filesystem; empty if the path does not exist). A glob path
    (``dir/*.warc.gz``) fingerprints every match, so resume still
    invalidates when files are added to a glob-scanned input."""
    fs, root = fs_and_path(spark, path)
    out: list[tuple[str, int]] = []

    def walk(p, prefix: str) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            is_dir = bool(st.isDirectory())
            # skip hidden/metadata entries (_SUCCESS, .tmp, …) — but a
            # hive PARTITION directory like ``__bucket=3`` is table data
            # and must be fingerprinted, underscore prefix notwithstanding
            if name.startswith(".") or (
                name.startswith("_") and not (is_dir and "=" in name)
            ):
                continue
            rel = f"{prefix}{name}"
            if is_dir:
                walk(st.getPath(), rel + "/")
            else:
                out.append((rel, int(st.getLen())))

    if fs.exists(root):
        walk(root, "")
    else:
        for st in fs.globStatus(root) or []:
            # full path, not basename: two matches of dir/*/f.warc must
            # not collapse to one fingerprint entry
            rel = st.getPath().toUri().getPath()
            if bool(st.isDirectory()):
                walk(st.getPath(), rel + "/")
            else:
                out.append((rel, int(st.getLen())))
    return sorted(out)


def parquet_lineage(spark: SparkSession, path: str) -> list[dict]:
    """Per-file (file, rows, bytes) lineage for a parquet directory, read
    from parquet footers via the JVM-side ParquetFileReader — works on any
    Hadoop filesystem (pyarrow footer reads only work on local paths) and
    costs no Spark job. Recurses into partition subdirectories."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, root = fs_and_path(spark, path)
    if not fs.exists(root):
        return []
    lineage = []

    def walk(p, prefix: str) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            is_dir = bool(st.isDirectory())
            # same hive-partition-dir exception as listing() above
            if name.startswith(".") or (
                name.startswith("_") and not (is_dir and "=" in name)
            ):
                continue
            rel = f"{prefix}{name}"
            if is_dir:
                walk(st.getPath(), rel + "/")
            elif name.endswith(".parquet"):
                inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    st.getPath(), conf
                )
                reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
                try:
                    rows = int(reader.getRecordCount())
                finally:
                    reader.close()
                lineage.append({"file": rel, "rows": rows, "bytes": int(st.getLen())})

    walk(root, "")
    return sorted(lineage, key=lambda r: r["file"])
