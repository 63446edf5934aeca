"""Filesystem-agnostic small-file helpers over the Hadoop FS API —
one shared implementation of the Path/getFileSystem dance (works for
file://, hdfs://, s3a:// — wherever sinks and checkpoints live), used
by the checkpoint-table and router snapshot probes and the streaming
checkpoint-namespace marker."""

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


def write_marker(spark, path: str, text: str) -> None:
    _jvm, fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
