"""The session factory's JVM and file-system settings."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from kafkasparkstream_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_mib_parses_spark_memory_strings():
    assert session._mib("512m") == 512
    assert session._mib("8g") == 8192
    assert session._mib("2G") == 2048
    assert session._mib("1gb") == 1024
    assert session._mib("4096") == 4096


def test_driver_starts_with_initial_heap(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    want = min(session._mib(session.DRIVER_INITIAL_HEAP), session._mib(driver_mem))
    assert f"-Xms{want}m" in args


def test_local_checkpoints_leave_no_crc_companions(spark, tmp_path):
    src, out, ckpt = tmp_path / "src", str(tmp_path / "out"), str(tmp_path / "ckpt")
    src.mkdir()
    (src / "f.json").write_text('{"a": 1}\n{"a": 2}\n')
    q = (
        spark.readStream.schema("a INT").json(str(src))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    files = [os.path.join(d, n) for d, _, names in os.walk(ckpt) for n in names]
    assert os.path.join(ckpt, "offsets", "0") in files
    assert os.path.join(ckpt, "commits", "0") in files
    assert not [f for f in files if f.endswith(".crc")]
    assert spark.read.parquet(out).count() == 2


# One available-now round of the paper's pipeline in a child process whose
# PATH starts with logging shims for the tools Hadoop's local file system
# forks when its native library is missing. The child's umask (027) differs
# from Hadoop's (fs.permissions.umask-mode, 022), so the modes it reports
# show that Hadoop still set every permission itself.
_SHIMMED_ROUND = r"""
import json, os, stat, sys
os.umask(0o027)
from kafkasparkstream_spark.session import get_spark
from kafkasparkstream_spark.sources.streams import file_json_stream
from kafkasparkstream_spark.streaming.pipeline import start_pipeline

work = sys.argv[1]
src, sink, ckpt = (os.path.join(work, d) for d in ("src", "sink", "ckpt"))
os.makedirs(src)
for i in range(2):
    with open(os.path.join(src, f"f{i}.json"), "w") as f:
        f.write(json.dumps({"device_id": f"sensor_{i}", "device_type": "temperature",
                            "location": "room1", "value": 20.0 + i, "battery_level": 90.0,
                            "timestamp": f"2024-01-01T10:0{i}:05"}) + "\n")
spark = get_spark(master="local[2]")
for q in start_pipeline(file_json_stream(spark, src), sink, ckpt, available_now=True):
    q.awaitTermination()
umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
    spark._jsc.hadoopConfiguration()).toShort()
rows = spark.read.parquet(os.path.join(sink, "sensor_data")).count()
spark.stop()
modes = {os.path.relpath(os.path.join(d, n), work): stat.S_IMODE(os.lstat(os.path.join(d, n)).st_mode)
         for d, dirs, files in os.walk(work) for n in dirs + files}
print(json.dumps({"umask": umask, "rows": rows, "modes": modes}))
"""


@pytest.fixture(scope="module")
def shimmed_round(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("shimmed")
    shims, log = tmp / "shims", tmp / "forks.log"
    shims.mkdir()
    for tool in ("chmod", "readlink", "stat", "ls"):
        real = shutil.which(tool)
        (shims / tool).write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec {real} "$@"\n')
        (shims / tool).chmod(0o755)
    log.write_text("")
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    proc = subprocess.run([sys.executable, "-c", _SHIMMED_ROUND, str(tmp / "work")],
                          cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return log.read_text().splitlines(), json.loads(proc.stdout.strip().splitlines()[-1])


def test_local_writes_fork_no_process(shimmed_round):
    forks, _ = shimmed_round
    assert forks == [], f"{len(forks)} forks, first: {forks[:5]}"


def test_local_writes_keep_file_modes(shimmed_round):
    _, out = shimmed_round
    assert out["rows"] == 2
    umask, modes = out["umask"], out["modes"]
    assert umask == 0o022  # Hadoop's default, not the child's 027
    files = [p for p in modes if re.search(
        r"^sink/.*/_batch_id=\d+/(part-[^/]*\.parquet|_SUCCESS)$"
        r"|^ckpt/[^/]+/(offsets|commits)/\d+$"
        r"|^ckpt/sensor_aggregates/state/0/\d+/\d+\.delta$", p)]
    dirs = [p for p in modes if re.search(r"/_batch_id=\d+$", p)]
    kinds = {re.sub(r"\d+", "N", p.split("/")[-1].split("-")[0]) for p in files}
    assert kinds == {"part", "_SUCCESS", "N", "N.delta"}, kinds
    assert len(dirs) >= 2
    assert {p: oct(modes[p]) for p in files if modes[p] != 0o666 & ~umask} == {}
    assert {p: oct(modes[p]) for p in dirs if modes[p] != 0o777 & ~umask} == {}


def test_file_link_status_still_sees_symlinks(spark, tmp_path):
    target, link = tmp_path / "target", tmp_path / "link"
    target.write_text("x")
    link.symlink_to(target)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark._jsc.hadoopConfiguration())
    assert fs.getRawFileSystem().getClass().getName() == (
        "kafkasparkstream_spark.jvm.NioRawLocalFileSystem")
    st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(link)))
    assert st.isSymlink() and st.getSymlink().toUri().getPath() == str(target)
    assert not fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(target))).isSymlink()


def test_localfs_jar_rebuilds_byte_equal(tmp_path):
    missing = [t for t in ("javac", "jar") if shutil.which(t) is None]
    if missing:
        pytest.skip(f"no {' or '.join(missing)} on PATH: cannot rebuild the committed jar")
    out = tmp_path / "nio-localfs.jar"
    proc = subprocess.run(["bash", os.path.join(ROOT, "scripts", "build_localfs_jar.sh"), str(out)],
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(session.LOCALFS_JAR, "rb") as committed:
        assert out.read_bytes() == committed.read()


def test_caller_class_path_is_appended_to_the_jar():
    conf = session.session_conf("local[2]", 8, "1g",
                                {"spark.driver.extraClassPath": "/drivers/postgresql.jar"})
    assert conf["spark.driver.extraClassPath"] == (
        f"{session.LOCALFS_JAR}{os.pathsep}/drivers/postgresql.jar")
    for k, v in session.LOCALFS_CONF.items():
        assert conf[k] == v


def test_non_local_master_keeps_stock_file_system():
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        conf = session.session_conf(master, 8, "1g",
                                    {"spark.driver.extraClassPath": "/drivers/postgresql.jar"})
        assert not set(session.LOCALFS_CONF) & set(conf), master
        assert conf["spark.driver.extraClassPath"] == "/drivers/postgresql.jar"
    assert "spark.driver.extraClassPath" not in session.session_conf("yarn", 8, "1g")
