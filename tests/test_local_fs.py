"""``session.get_spark``'s local-mode settings: the fork-free ``file:``
FileSystem (``jvm/NioLocalFileSystem.java``), the Python workers'
``PYTHONPATH`` and daemon; and the Python passes that keep no row queue.

Without libhadoop, Hadoop's stock local FileSystem forks ``chmod`` for
every file and directory it creates. ``session.get_spark`` swaps in a
subclass that sets the same modes through ``java.nio`` in local mode.
These tests pin that the files on disk are unchanged (modes, ``.crc``
sidecars), that the swap is local-only, and that a job forks no
``chmod`` at all.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import re
import shutil
import stat
import subprocess
import sys
import textwrap

import pytest

from terraform_aws_lambda_kinesis_to_s3_spark import session as S
from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import kpl_aggregate_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_nio_fs = pytest.mark.skipif(
    S._compiled_fs() is None, reason="no javac: the stock FileSystem stays"
)


def _fs(spark, stock: bool):
    """The session's ``file:`` FileSystem, or a stock ``LocalFileSystem``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    if not stock:
        return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(uri, conf)
    return fs


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _perm(spark, octal: str):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


@needs_nio_fs
def test_session_file_fs_is_nio(spark):
    fs = _fs(spark, stock=False)
    assert fs.getClass().getName() == S._FS_CLASS
    raw = fs.getRawFileSystem().getClass().getName()
    assert raw == S._FS_CLASS + "$Raw"


@needs_nio_fs
def test_modes_match_stock_local_fs(spark, tmp_path):
    """Files and directories created through the session's FileSystem
    get the same modes as under the stock ``LocalFileSystem``, and the
    ``.crc`` sidecar is written next to each file."""
    got = {}
    for name, stock in (("nio", False), ("stock", True)):
        fs = _fs(spark, stock)
        root = tmp_path / name
        d = spark._jvm.org.apache.hadoop.fs.Path(f"file://{root}/a/b")
        assert fs.mkdirs(d)
        f = spark._jvm.org.apache.hadoop.fs.Path(f"file://{root}/a/b/part-0.txt")
        out = fs.create(f)
        out.write(bytearray(b"payload\n"))
        out.close()
        assert (root / "a" / "b" / ".part-0.txt.crc").is_file()
        got[name] = {
            p: _mode(root / p) for p in ("a", "a/b", "a/b/part-0.txt", "a/b/.part-0.txt.crc")
        }
    assert got["nio"] == got["stock"]


@needs_nio_fs
@pytest.mark.parametrize("octal", ["600", "750", "644", "000"])
def test_explicit_permission_lands(spark, tmp_path, octal):
    fs = _fs(spark, stock=False)
    p = tmp_path / "f"
    p.write_text("x")
    fs.setPermission(spark._jvm.org.apache.hadoop.fs.Path(f"file://{p}"), _perm(spark, octal))
    assert _mode(p) == int(octal, 8)


@needs_nio_fs
def test_sticky_bit_takes_stock_path(spark, tmp_path):
    """NIO's POSIX view has no sticky bit: a mode above 0777 goes
    through the stock ``chmod`` and lands whole."""
    fs = _fs(spark, stock=False)
    d = tmp_path / "shared"
    d.mkdir()
    fs.setPermission(spark._jvm.org.apache.hadoop.fs.Path(f"file://{d}"), _perm(spark, "1777"))
    assert _mode(d) == 0o1777


def test_non_local_master_keeps_stock_fs():
    """No FS, worker path or daemon setting: the stock FS and daemon."""
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]", "k8s://h:443"):
        assert S._local_conf(master) == {}, master


@needs_nio_fs
@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_master_sets_nio_fs(master):
    conf = S._local_conf(master)
    assert conf["spark.hadoop.fs.file.impl"] == S._FS_CLASS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == S._FS_CLASS + "$Fs"
    assert os.path.isdir(conf["spark.driver.extraClassPath"])
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    if sys.version_info < (3, 13):
        assert conf["spark.python.daemon.module"] == "terraform_aws_lambda_kinesis_to_s3_spark.worker_daemon"


def test_python_313_keeps_stock_daemon(monkeypatch):
    """3.13 re-reads zip directories lazily: no daemon module there, the
    rest of the local settings unchanged."""
    before = S._local_conf("local[4]")
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    conf = S._local_conf("local[4]")
    assert "spark.python.daemon.module" not in conf
    before.pop("spark.python.daemon.module", None)
    assert conf == before


def test_caller_path_lists_are_appended():
    """A caller's ``extra_conf`` value for a path-list key is appended to
    the local one, not put in its place; other keys are replaced."""
    local = S._local_conf("local[2]")
    extra = {
        "spark.executorEnv.PYTHONPATH": "/x",
        "spark.driver.extraClassPath": "/y.jar",
        "spark.driver.memory": "1g",
    }
    conf = S._merged_conf("local[2]", extra)
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join((REPO, "/x"))
    cp = local.get("spark.driver.extraClassPath")
    assert conf["spark.driver.extraClassPath"] == (os.pathsep.join((cp, "/y.jar")) if cp else "/y.jar")
    assert conf["spark.driver.memory"] == "1g"
    assert S._merged_conf("yarn", extra) == extra


_CENSUS = textwrap.dedent(
    """
    import base64, glob, gzip, json, os, sys
    sys.path.insert(0, sys.argv[2])
    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
    from terraform_aws_lambda_kinesis_to_s3_spark.functions.decoders import kpl_aggregate_bytes
    from terraform_aws_lambda_kinesis_to_s3_spark.job import run_batch
    from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.job import run_stream, stream_source

    work, log = sys.argv[1], os.environ["CHMOD_LOG"]

    def forks():  # the JVM's, not the shell start-up's (pyenv runs readlink)
        if not os.path.exists(log):
            return 0
        return sum(work in line for line in open(log))

    def records(out):
        return sum(len(gzip.open(p).read().splitlines())
                   for p in glob.glob(os.path.join(out, "**", "*.gz"), recursive=True))

    spark = get_spark(app_name="census", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    cfg = PipelineConfig(unknown_date="2024-06-01")

    def rec(i, t="2024-01-01"):
        return json.dumps({"log_type": "t%d" % (i % 3), "log_id": str(i), "time": t}).encode()

    cw = {"messageType": "DATA_MESSAGE", "owner": "1", "logGroup": "g", "logStream": "s",
          "subscriptionFilters": ["f"],
          "logEvents": [{"id": str(i), "timestamp": i, "message": rec(i).decode()} for i in (4, 5)]}
    blobs = [rec(0), gzip.compress(rec(1)), gzip.compress(json.dumps(cw).encode()),
             kpl_aggregate_bytes([rec(2), rec(3, "Tue, 02 Jan 2024 10:00:00 +0900")])]
    src = os.path.join(work, "events")
    os.makedirs(src)
    with open(os.path.join(src, "e.json"), "w") as f:
        event = {"Records": [{"kinesis": {"data": base64.b64encode(b).decode()}} for b in blobs]}
        f.write(json.dumps(event) + "\\n")
    run_batch(spark, src, os.path.join(work, "batch"), cfg, input_format="kinesis-event")
    batch = forks()

    sdir = os.path.join(work, "stream-in")
    os.makedirs(sdir)
    for n in range(2):
        with open(os.path.join(sdir, "f%d.json" % n), "w") as f:
            f.write("\\n".join(rec(10 * n + i).decode() for i in range(5)) + "\\n")
    q = run_stream(stream_source(spark, cfg, "file", sdir), os.path.join(work, "stream"),
                   os.path.join(work, "ck"), cfg)
    q.awaitTermination(120)
    stream = forks() - batch

    jvm = spark._jvm
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    raw.create(jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(work, "control"))).close()
    control = forks() - batch - stream
    written = {"batch": records(os.path.join(work, "batch")),
               "stream": records(os.path.join(work, "stream"))}
    print(json.dumps({"batch": batch, "stream": stream, "control": control, "records": written}))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def census(tmp_path_factory):
    """A small ``run_batch`` (all four encodings) and an ``availableNow``
    ``run_stream`` in a subprocess with logging ``chmod`` and
    ``readlink`` shims first on ``PATH``. Its driver finds the package
    only through ``sys.path``: its working directory is outside the
    repository and its environment has no ``PYTHONPATH``. Returns the
    finished process and the shims' log."""
    tmp = tmp_path_factory.mktemp("census")
    shim = tmp / "bin"
    shim.mkdir()
    for cmd in ("chmod", "readlink"):
        (shim / cmd).write_text(
            f'#!/bin/sh\necho {cmd} "$@" >> "$CHMOD_LOG"\nexec {shutil.which(cmd)} "$@"\n'
        )
        (shim / cmd).chmod(0o755)
    work = tmp / "work"
    work.mkdir()
    log = tmp / "forks.log"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PATH=f"{shim}{os.pathsep}{os.environ['PATH']}", CHMOD_LOG=str(log))
    done = subprocess.run(
        [sys.executable, "-c", _CENSUS, str(work), REPO],
        cwd=tmp,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return done, log


def _census_counts(census) -> dict:
    done, _ = census
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


@needs_nio_fs
def test_job_forks_no_chmod_or_readlink(census):
    """The census sees no shim invocation over the batch and the stream;
    a stock ``RawLocalFileSystem`` in the same JVM shows the shim is
    live."""
    counts = _census_counts(census)
    log = census[1]
    forks = log.read_text() if log.exists() else ""
    assert counts["batch"] == 0 and counts["stream"] == 0, forks
    assert counts["control"] >= 1, counts


def test_workers_import_package_outside_repo(census):
    """The passes the Python workers run are pickled by reference to the
    package's modules: a driver outside the repository still gets every
    record written, because ``get_spark`` puts the package on the
    workers' ``PYTHONPATH``."""
    assert _census_counts(census)["records"] == {"batch": 6, "stream": 10}


def _plans(spark) -> dict[int, str]:
    """Physical plan of each SQL execution so far, by execution id."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return {e.executionId(): e.physicalPlanDescription() for e in conv.asJava(store.executionsList())}


_CFG = PipelineConfig(unknown_date="2024-06-01")


def _rec(i: int, t: str = "2024-01-02T03:04:05Z") -> bytes:
    return json.dumps({"log_type": "a", "log_id": str(i), "time": t}).encode()


def _assert_no_eval_python(spark, before: dict[int, str]):
    """Plans ran since ``before``, none holds an ``EvalPython`` node
    (whose JVM row queue outlives its task), and the Python work is
    ``MapInArrow``."""
    plans = [p for i, p in _plans(spark).items() if i not in before]
    assert plans
    text = "\n".join(plans)
    assert not re.search(r"\b(Arrow|Batch)EvalPython\b", text), text
    assert re.search(r"\bMapInArrow\b", text), text


def test_run_batch_plans_hold_no_eval_python(spark, tmp_path):
    from terraform_aws_lambda_kinesis_to_s3_spark.job import run_batch

    blobs = [_rec(0), gzip.compress(_rec(1)), kpl_aggregate_bytes([_rec(2), _rec(3, "Jan 5 2024 3:04pm")])]
    src = tmp_path / "in"
    src.mkdir()
    event = {"Records": [{"kinesis": {"data": base64.b64encode(b).decode()}} for b in blobs]}
    (src / "e.json").write_text(json.dumps(event) + "\n")
    before = _plans(spark)
    run_batch(spark, str(src), str(tmp_path / "out"), _CFG, input_format="kinesis-event")
    _assert_no_eval_python(spark, before)


def test_run_stream_plans_hold_no_eval_python(spark, tmp_path):
    from terraform_aws_lambda_kinesis_to_s3_spark.streaming.job import run_stream, stream_source

    src = tmp_path / "in"
    src.mkdir()
    (src / "f.json").write_text(
        "\n".join(_rec(i, "Tue, 02 Jan 2024 10:00:00 +0900").decode() for i in range(4)) + "\n"
    )
    before = _plans(spark)
    q = run_stream(
        stream_source(spark, _CFG, "file", str(src)),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        _CFG,
    )
    q.awaitTermination(120)
    _assert_no_eval_python(spark, before)


@needs_nio_fs
def test_jvm_started_without_class_keeps_stock_fs(tmp_path):
    """A process whose JVM a plain builder started cannot load the class
    later: ``get_spark`` then keeps the stock ``file:`` FileSystem, and
    writes still work."""
    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from terraform_aws_lambda_kinesis_to_s3_spark import session as S

        SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
        assert S._nio_fs_conf() == {}
        spark = S.get_spark(app_name="late", master="local[1]", extra_conf={"spark.driver.memory": "1g"})
        spark.range(3).selectExpr("string(id)").write.text(sys.argv[1])
        print(spark.read.text(sys.argv[1]).count())
        spark.stop()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    done = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "out")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "3"
