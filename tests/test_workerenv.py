"""workerenv.configure(): Python stages run over Unix domain sockets in a
short owner-only directory, whatever the JVM's java.io.tmpdir is."""
import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from sparksketch import workerenv

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a session under a long java.io.tmpdir (and TMPDIR): one mapInArrow, one
# toArrow() collect and one sketchview read, then the socket directory
# and its mode as a JSON line
_LONG_TMPDIR_CHILD = r"""
import json, os, stat, sys
import pyarrow as pa
from sparksketch import workerenv
workerenv.configure()
from pyspark.sql import SparkSession, functions as F
from sparksketch.agg import HLLSpec
from sparksketch.datasource import SketchViewDataSource
from sparksketch.view import view_materialize
tmp, view = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
env = spark.range(2, numPartitions=2).mapInArrow(
    lambda it: (pa.RecordBatch.from_pydict(
        {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})
        for _ in it), "uds string").collect()
df = spark.range(1000).select((F.col("id") % 3).alias("g"),
                              F.col("id").alias("u"))
rows = df.toArrow().num_rows
view_materialize(df, ["g"], HLLSpec(p=10), ["u"], view)
spark.dataSource.register(SketchViewDataSource)
read = {r["g"]: r["rows"] for r in
        spark.read.format("sketchview").option("path", view).load().collect()}
d = workerenv._sock_dir
print(json.dumps({"uds": sorted({r["uds"] for r in env}), "rows": rows,
                  "read": read, "sock_dir": d,
                  "mode": stat.S_IMODE(os.stat(d).st_mode),
                  "jvm_tmpdir": spark.sparkContext._jvm.java.lang.System
                  .getProperty("java.io.tmpdir")}))
spark.stop()
"""


def test_session_workers_use_unix_sockets(spark):
    got = spark.range(4, numPartitions=4).mapInArrow(
        lambda it: (pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})
            for _ in it), "uds string").collect()
    # the JVM writes "True"; pyspark's daemon compares lower-cased
    assert {r["uds"].lower() for r in got} == {"true"}


@pytest.fixture(scope="module")
def long_tmpdir_run(tmp_path_factory):
    base = tmp_path_factory.mktemp("uds")
    tmp = base / ("t" * max(1, 100 - len(str(base)) - 1))
    tmp.mkdir()
    assert len(str(tmp)) >= 100
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_UDS_MODE", "PYSPARK_SUBMIT_ARGS")}
    env["TMPDIR"] = str(tmp)
    env["PYTHONPATH"] = ROOT
    out = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR_CHILD, str(tmp),
         str(base / "view")],
        capture_output=True, text=True, env=env, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return str(tmp), json.loads(out.stdout.strip().splitlines()[-1])


def test_long_tmpdir_session_runs_over_unix_sockets(long_tmpdir_run):
    tmp, got = long_tmpdir_run
    assert got["jvm_tmpdir"] == tmp
    assert [v.lower() for v in got["uds"]] == ["true"]
    assert got["rows"] == 1000
    assert got["read"] == {"0": 334, "1": 333, "2": 333}  # JSON keys


def test_socket_dir_owner_only_and_removed_at_exit(long_tmpdir_run):
    tmp, got = long_tmpdir_run
    d = got["sock_dir"]
    assert not d.startswith(tmp)
    assert len(os.fsencode(d)) + len("/.") + 36 + len(".sock") <= 107
    assert got["mode"] == 0o700
    assert not os.path.exists(d)


def test_explicit_false_keeps_tcp_and_conf_added_once():
    off = workerenv.configure({"PYSPARK_UDS_MODE": "false"})
    assert off["PYSPARK_UDS_MODE"] == "false"
    assert "PYSPARK_SUBMIT_ARGS" not in off

    env = {"PYSPARK_SUBMIT_ARGS": "--driver-memory 2g pyspark-shell"}
    workerenv.configure(env)
    first = env["PYSPARK_SUBMIT_ARGS"]
    workerenv.configure(env)
    assert env["PYSPARK_SUBMIT_ARGS"] == first
    assert env["PYSPARK_UDS_MODE"] == "true"
    assert first.count("spark.python.unix.domain.socket.dir=") == 1
    assert first.endswith(" --driver-memory 2g pyspark-shell")


def test_no_short_socket_dir_keeps_tcp_and_warns(monkeypatch, caplog):
    monkeypatch.setattr(workerenv, "_sock_dir", None)

    def no_dir(**kw):
        raise PermissionError(kw.get("dir"))
    monkeypatch.setattr(workerenv.tempfile, "mkdtemp", no_dir)
    env = workerenv.configure({})
    assert "PYSPARK_UDS_MODE" not in env
    assert "PYSPARK_SUBMIT_ARGS" not in env
    assert [r.name for r in caplog.records] == ["sparksketch"]
