"""The session factory's JVM and file-system settings."""

from __future__ import annotations

import os

from kafkasparkstream_spark import session


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
