"""Filesystem access for the streaming state stores (band store,
as-of snapshot store) and the dimension MERGE sink's table swap.

Driver-side store maintenance — list batch partitions, drop a replayed
batch's partition before re-probing — previously used os/shutil, which
on any non-local URI (hdfs://, s3a://) silently sees an EMPTY store:
``os.path.isdir("s3a://...")`` is always False, so cross-batch state
would quietly stop accumulating. Round 3 guarded that with a loud
local-only check; this module removes the restriction by routing the
maintenance calls through the JVM's Hadoop FileSystem API — the same
resolver Spark's own parquet reads/writes use — so the stores work on
every filesystem the cluster can resolve. Plain local paths keep a
pure-Python fast path (no JVM round-trips in the common sandbox case).

An unresolvable URI still fails LOUDLY at stream start (check_store_path)
rather than mis-executing: that contract is unchanged.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark.sql import SparkSession


def _is_plain_local(path: str) -> bool:
    # scheme-less paths only: explicit file:// URIs go through the JVM
    # branch so the Hadoop code path is exercised by ordinary local tests
    return urlsplit(path).scheme == ""


def _hadoop(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for any URI via the JVM. Raises with the
    offending path if no filesystem implementation is configured for the
    scheme — the loud-at-start failure mode the stores promise."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    except Exception as e:  # py4j wraps the Java IOException
        raise ValueError(
            f"cannot resolve a Hadoop FileSystem for state path {path!r}: {e}"
        ) from e
    return fs, jpath


def check_store_path(spark: SparkSession, path: str, what: str) -> None:
    """Validate a store URI at stream START: local paths pass; any other
    scheme must resolve to a Hadoop FileSystem or this raises."""
    if _is_plain_local(path):
        return
    _hadoop(spark, path)


def dir_exists(spark: SparkSession, path: str) -> bool:
    """Whether the directory ``path`` exists."""
    if _is_plain_local(path):
        return os.path.isdir(path)
    fs, jpath = _hadoop(spark, path)
    return bool(fs.exists(jpath))


def list_batch_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """Batch ids with a ``batch_id=N`` partition directory in the store
    ([] if the store does not exist yet)."""
    if _is_plain_local(state_dir):
        d = state_dir
        if not os.path.isdir(d):
            return []
        names = os.listdir(d)
    else:
        fs, jpath = _hadoop(spark, state_dir)
        if not fs.exists(jpath):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(jpath)]
    return [int(n.split("=", 1)[1]) for n in names if n.startswith("batch_id=")]


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete a directory if it exists (no-op otherwise)."""
    if _is_plain_local(path):
        d = path
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(d)
    else:
        fs, jpath = _hadoop(spark, path)
        if fs.exists(jpath):
            fs.delete(jpath, True)


def rename_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Move the directory ``src`` to ``dst``, which must not exist."""
    if _is_plain_local(src):
        os.rename(src, dst)
        return
    fs, jsrc = _hadoop(spark, src)
    if not fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"cannot rename {src!r} to {dst!r}")
