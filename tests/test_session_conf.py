"""Session conf: the CPU default, which keys ``ensure_runtime_conf``
re-asserts, and which conf errors it lets through."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import IllegalArgumentException

from oem_gateway_spark import session as S

CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


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
