"""The driver-worker transport: on a ``local[...]`` master the JVM and
the Python workers talk over Unix domain sockets in a private, short
directory (``session._transport_confs``); on any other master they keep
loopback TCP."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile

import pytest

from s3_manifest_spark import session
from s3_manifest_spark.session import _SOCKET_DIR_MAX, _socket_dir, _transport_confs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENABLED = "spark.python.unix.domain.socket.enabled"
SOCKET_DIR = "spark.python.unix.domain.socket.dir"


def _assert_private_and_short(path: str) -> None:
    assert len(os.fsencode(path)) <= 64
    st = os.stat(path)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700


def test_local_session_uses_a_private_short_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get(ENABLED) == "true"
    _assert_private_and_short(conf.get(SOCKET_DIR))


def test_python_task_runs_over_a_unix_socket(spark):
    """A Python worker of a local session was started in Unix-socket
    mode: it reads the flag from its own environment (compared the
    way pyspark's daemon and worker compare it)."""
    import pyarrow as pa

    def flag(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]}
        )

    rows = spark.range(1, numPartitions=1).mapInArrow(flag, "uds string").collect()
    assert [r.uds.lower() for r in rows] == ["true"]


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_non_local_master_keeps_tcp(master):
    """A master whose executors may run on other hosts gets no socket
    conf (no cluster is started here)."""
    assert _transport_confs(master) == {}


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_master_gets_both_socket_confs(master):
    confs = _transport_confs(master)
    assert confs[ENABLED] == "true"
    _assert_private_and_short(confs[SOCKET_DIR])


def test_socket_dir_falls_back_to_tmp_when_tempdir_is_too_long(monkeypatch, tmp_path):
    long_dir = tmp_path / ("x" * (_SOCKET_DIR_MAX + 1))
    long_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(long_dir))
    path = _socket_dir.__wrapped__()
    try:
        assert os.path.dirname(path) == "/tmp"
        _assert_private_and_short(path)
        assert not os.listdir(long_dir)  # the too-long attempt is removed
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_socket_dir_is_none_when_no_path_fits(monkeypatch):
    monkeypatch.setattr(session, "_SOCKET_DIR_MAX", 4)
    assert _socket_dir.__wrapped__() is None


_LONG_TMP_SESSION = """
import json, os, sys
import pyarrow as pa
from s3_manifest_spark.session import get_spark

tmp = os.environ["TMPDIR"]
spark = get_spark(
    app_name="long-tmpdir", master="local[1]",
    extra_confs={
        "spark.ui.enabled": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    },
)

def flag(batches):
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})

conf = spark.sparkContext.getConf()
rows = spark.range(1, numPartitions=1).mapInArrow(flag, "uds string").collect()
print(json.dumps({
    "java_tmpdir": spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "socket_dir": conf.get("spark.python.unix.domain.socket.dir"),
    "uds": [r.uds for r in rows],
}))
spark.stop()
"""


def test_session_with_long_tmpdir_starts_and_runs_a_python_task(tmp_path):
    """With ``TMPDIR`` and ``java.io.tmpdir`` longer than 64 characters
    (a socket under either would overflow ``sun_path``), a session
    still starts, its sockets live under ``/tmp`` and a Python task
    runs over them; the directory is removed when the driver exits."""
    long_tmp = tmp_path / ("t" * (_SOCKET_DIR_MAX + 1))
    long_tmp.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(long_tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    }
    proc = subprocess.run(
        [sys.executable, "-c", _LONG_TMP_SESSION],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["java_tmpdir"] == str(long_tmp)
    assert os.path.dirname(out["socket_dir"]) == "/tmp"
    assert len(os.fsencode(out["socket_dir"])) <= _SOCKET_DIR_MAX
    assert [flag.lower() for flag in out["uds"]] == ["true"]
    assert not os.path.exists(out["socket_dir"])
