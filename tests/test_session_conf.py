"""Session conf: the CPU default, which keys ``ensure_runtime_conf``
re-asserts, which conf errors it lets through, and the checkpoint file
manager every streaming query writes through."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import IllegalArgumentException

from oem_gateway_spark import session as S

CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
FS_MANAGER = _PKG + "FileSystemBasedCheckpointFileManager"
FC_MANAGER = _PKG + "FileContextBasedCheckpointFileManager"


def test_cpus_default_to_the_usable_cpus():
    """Unset, ``SPARK_GRAFT_CPUS`` means the CPUs this process may run on,
    for both the shuffle partitions and the ``local[N]`` master."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from oem_gateway_spark import session as S;"
         "print(S.DEFAULT_CONF['spark.sql.shuffle.partitions'], S._cpus())"],
        env=env, capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    usable = str(len(os.sched_getaffinity(0)))
    assert out.stdout.split() == [usable, usable]


def test_ensure_runtime_conf_keeps_checkpoint_checksums_on(spark):
    """A session that turns checkpoint checksums on keeps them on."""
    try:
        spark.conf.set(CHECKSUM_KEY, "true")
        S.ensure_runtime_conf(spark)
        assert spark.conf.get(CHECKSUM_KEY) == "true"
    finally:
        spark.conf.set(CHECKSUM_KEY, S.DEFAULT_CONF[CHECKSUM_KEY])


def test_misspelled_runtime_key_is_not_dropped(spark, monkeypatch):
    """A runtime key with no default fails loudly instead of vanishing."""
    monkeypatch.setattr(
        S, "RUNTIME_CONF_KEYS", S.RUNTIME_CONF_KEYS + ("spark.sql.shufle.partitions",)
    )
    with pytest.raises(KeyError, match="spark.sql.shufle.partitions"):
        S.ensure_runtime_conf(spark)


def test_bad_conf_value_is_raised_static_conf_is_skipped(spark):
    """Only the static-conf refusal is skipped; a bad value is raised."""
    S._set_conf(spark, "spark.driver.memory", "1g")
    with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
        S._set_conf(spark, "spark.sql.shuffle.partitions", "eight")
    assert spark.conf.get("spark.sql.shuffle.partitions") != "eight"


def test_checkpoint_file_manager_defaults_to_the_file_system_one(spark):
    """The engine default, on a ``get_spark`` session, and left out of
    the keys a registry build resets."""
    assert S.DEFAULT_CONF[MANAGER_KEY] == FS_MANAGER
    assert MANAGER_KEY not in S.RUNTIME_CONF_KEYS
    assert spark.conf.get(MANAGER_KEY) == FS_MANAGER


def test_registry_build_keeps_a_session_checkpoint_file_manager(spark):
    """A session that picks another manager keeps it across a registry
    build, which runs ``ensure_runtime_conf``."""
    from oem_gateway_spark.suite.registry import run

    before = spark.conf.get(MANAGER_KEY, None)
    try:
        spark.conf.set(MANAGER_KEY, FC_MANAGER)
        run("q6_forecast_revenue", spark, "/root/testdata/sf0.001")
        assert spark.conf.get(MANAGER_KEY) == FC_MANAGER
    finally:
        if before is None:
            spark.conf.unset(MANAGER_KEY)
        else:
            spark.conf.set(MANAGER_KEY, before)


def test_checkpoint_writes_go_through_the_file_system_manager(spark, tmp_path):
    """Spark resolves the session's manager for a local checkpoint dir,
    and its atomic create keeps the first content of a file: a second
    create of the same path without overwrite raises."""
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = checkpointing.CheckpointFileManager.create(
        Path(str(tmp_path)), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert mgr.getClass().getName() == FS_MANAGER

    target = tmp_path / "0"
    jpath = Path(str(target))

    def write(content: bytes) -> None:
        out = mgr.createAtomic(jpath, False)
        out.write(bytearray(content))
        out.close()

    write(b"first")
    with pytest.raises(Exception, match="FAILED_RENAME_PATH"):
        write(b"second")
    assert target.read_bytes() == b"first"
