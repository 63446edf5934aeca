"""Filesystem-agnostic small-file helpers over the Hadoop FS API —
one shared implementation of the Path/getFileSystem dance (works for
file://, hdfs://, s3a:// — wherever sinks and checkpoints live), used
by the checkpoint-table commits and listing, the router snapshot probes
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


def list_visible(spark, path: str, suffix: str) -> list[str]:
    """Paths of the files directly in directory ``path`` whose names end
    with ``suffix``, skipping hidden names (leading '.' or '_', the
    names Spark's file listing skips), sorted. An absent ``path`` lists
    as empty; a ``path`` that is not a directory raises
    NotADirectoryError."""
    _jvm, fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    if not fs.getFileStatus(p).isDirectory():
        raise NotADirectoryError(f"{path} is not a directory")
    return sorted(
        st.getPath().toString() for st in fs.listStatus(p)
        if st.isFile() and st.getPath().getName().endswith(suffix)
        and not st.getPath().getName().startswith((".", "_")))


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
