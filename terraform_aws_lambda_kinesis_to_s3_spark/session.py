"""SparkSession factory tuned for this engine.

Local-mode defaults match the test/bench harness; on a real cluster the
same settings (AQE on, UTC session tz, Arrow on) are the ones you want
at 100 TB — AQE handles skew-join splitting and partition coalescing at
runtime, Arrow keeps the few Python passes batch-transferred.

In local mode the ``file:`` FileSystem is ``jvm/NioLocalFileSystem.java``
(see :func:`_local_fs_conf`), compiled once with the JDK's ``javac``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile

import pyspark
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_FS_SOURCE = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
_FS_CLASS = "kinesis_to_s3.fs.NioLocalFileSystem"


def _compiled_fs() -> str | None:
    """Directory holding the compiled ``NioLocalFileSystem`` classes, or
    None when no ``javac`` can build them.

    The classes are cached under ``jvm/.build/`` in a directory named by
    the hash of the source and the PySpark version, so the compile runs
    once. Each compile goes to a temp directory that is then renamed
    into place, so concurrent sessions never see a half-written one.
    """
    with open(_FS_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + pyspark.__version__.encode()).hexdigest()[:16]
    root = os.path.join(_JVM_DIR, ".build")
    out = os.path.join(root, key)
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")
    javac = shutil.which(os.path.join(java_home, "bin", "javac")) if java_home else None
    javac = javac or shutil.which("javac")
    if javac is None:
        return None
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = os.path.join(spark_home, "jars")
    # the Hadoop API jar is all the source needs; half the compile time
    # of the whole jars directory
    classpath = os.pathsep.join(
        glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    ) or os.path.join(jars, "*")
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=root, prefix=".tmp-")
    except OSError:
        return None
    try:
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-d", tmp, "-cp", classpath, _FS_SOURCE],
            capture_output=True,
        )
        if done.returncode != 0:
            return None
        try:
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another session won the rename
                return None
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _local_fs_conf(master: str) -> dict[str, str]:
    """Settings that make ``file:`` the fork-free ``NioLocalFileSystem``,
    for the ``FileSystem`` and the ``FileContext`` APIs both.

    Without libhadoop, Hadoop's local FileSystem forks ``chmod`` for
    every file and directory it creates (sink output, committer,
    checkpoint) and ``readlink`` for every path a ``FileContext`` rename
    checks. The replacement does both with system calls and keeps the
    stock checksum layer, so the files on disk are the same. Only for ``local`` masters, where the driver is the one
    executor JVM and ``spark.driver.extraClassPath`` reaches every task.
    Empty (the stock FileSystem) for any other master, when no
    ``javac`` is found, or when this process already runs a JVM that
    cannot load the class.
    """
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {}
    classes = _compiled_fs()
    if classes is None:
        return {}
    if SparkContext._jvm is not None:  # the JVM is up: its classpath is fixed
        try:
            SparkContext._jvm.java.lang.Class.forName(_FS_CLASS)
        except Py4JJavaError:  # ClassNotFoundException
            return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": _FS_CLASS + "$Fs",
    }


def local_cores() -> int:
    """Cores a local session runs on: ``SPARK_GRAFT_CPUS`` when set,
    else the cores this process may run on (its affinity mask)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "kinesis_to_s3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cores()
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~= cores; on a cluster AQE coalesces
    shuffle = str(shuffle_partitions or cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11 optimization round: let AQE size CACHED plan output
        # partitions by bytes instead of freezing the pre-AQE
        # partition count at materialization.  Every persisted stage
        # (@shared_stage helpers + in-query persists) otherwise pins
        # its cache at spark.sql.shuffle.partitions and every consumer
        # stage pays that task count regardless of data size — the
        # triangle family read 568 tasks/query with the flag off vs
        # 224 with it on, shuffle 248 -> 223 MB, at identical results
        # (the partition-invariance audit pins layout-blindness).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    conf = _local_fs_conf(master)
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = os.pathsep.join((conf[k], v))
        conf[k] = v
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
