"""Small-file I/O through the Hadoop FileSystem API.

Spark's own readers/writers already speak every configured filesystem
(local, HDFS, s3a, abfs, ...); what breaks object-store deployments is
the SIDECAR state next to the data — a centroids.json, a config stub —
written with plain ``open()``/``os.makedirs``, which only understand
local paths.  These helpers route those few bytes through the same
``FileSystem`` the data goes through (resolved per-path from the
session's Hadoop configuration), so a component whose bulk I/O is
already Spark-native becomes genuinely root-scheme-agnostic.

Deliberately tiny: text blobs of config/state size (KBs) and file
lengths, not a general file layer.  The versioned-parquet merge sink
stays POSIX-local by design (it relies on hardlinks); these helpers are
for components like the ANN index whose layout has no such dependency.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_and_path(spark, path)
    fs.mkdirs(jpath)


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create-or-overwrite ``path`` with ``text`` (UTF-8); parent dirs
    are created as needed (FileSystem.create semantics)."""
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Read ``path`` fully as UTF-8 text (config/state-sized blobs).

    Goes through commons-io's ``IOUtils.toString`` (bundled with
    Spark/Hadoop): py4j passes byte arrays by VALUE, so the usual
    ``stream.read(buf)`` idiom silently reads into a Java-side copy —
    the fill-a-buffer loop cannot work across the gateway."""
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def file_lengths(spark: SparkSession, uris: list[str]) -> list[int]:
    """Byte length of each file (0 if it cannot be stat'ed), to size scan
    tasks from a frame's ``inputFiles()``."""
    out = []
    for uri in uris:
        try:
            fs, jpath = _fs_and_path(spark, uri)
            out.append(int(fs.getFileStatus(jpath).getLen()))
        except Py4JJavaError:
            out.append(0)
    return out
