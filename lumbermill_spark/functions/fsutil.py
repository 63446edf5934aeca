"""Filesystem-agnostic small-file helpers over the Hadoop FS API —
one shared implementation of the Path/getFileSystem dance (works for
file://, hdfs://, s3a:// — wherever sinks and checkpoints live), used
by the checkpoint-table commits and probes, the router snapshot probes
and the streaming checkpoint-namespace marker."""

from __future__ import annotations


def _fs(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def fs_exists(spark, path: str) -> bool:
    _jvm, fs, p = _fs(spark, path)
    return fs.exists(p)


def read_marker(spark, path: str) -> str | None:
    """Contents of a small text marker file, or None if absent."""
    jvm, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8").strip()
    finally:
        stream.close()


def write_atomic(spark, path: str, data: bytes) -> None:
    """Crash-safe small-file write: ``data`` goes to the hidden sibling
    ``.<name>.tmp`` (Spark's file listing skips names starting with '.'
    or '_'), which is renamed to ``path`` only after it is closed. A
    reader sees the whole file or none of it; a crash leaves at most the
    hidden temp file. Replaces an existing ``path``; raises OSError when
    the rename fails."""
    jvm, fs, p = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(p.getParent(), f".{p.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    # HDFS-style rename refuses an existing target
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise OSError(f"could not rename {tmp.toString()} to {path}")


def write_marker(spark, path: str, text: str) -> None:
    write_atomic(spark, path, text.encode("utf-8"))
