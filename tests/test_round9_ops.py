"""Round-9 additions: ADVICE regression tests + new operator pins.

Non-Spark tests first (atomic_export protocol) so the file stays cheap
to run in isolation; Spark-backed pins use the shared session fixture.
"""

import os

import pytest

from oem_gateway_spark.suite.streaming_batch import atomic_export


def _touch(path: str, content: str = "x") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_atomic_export_skips_build_when_done(tmp_path):
    final = str(tmp_path / "export")
    _touch(os.path.join(final, "done.marker"))
    calls = []
    atomic_export(lambda tmp: calls.append(tmp), final, "done.marker")
    assert calls == []  # complete dir short-circuits the build


def test_atomic_export_evicts_stale_partial_dir(tmp_path):
    """r8 ADVICE (medium): a pre-existing partial dir at final_dir (no
    done marker — e.g. left by a crashed in-place writer) made the
    rename fail with ENOTEMPTY and was then silently trusted forever.
    Now the stale dir is evicted and the rename retried."""
    final = str(tmp_path / "export")
    _touch(os.path.join(final, "partial.artifact"))  # stale, no marker

    def build(tmp):
        _touch(os.path.join(tmp, "real.artifact"))
        _touch(os.path.join(tmp, "done.marker"))

    out = atomic_export(build, final, "done.marker")
    assert out == final
    assert os.path.exists(os.path.join(final, "done.marker"))
    assert os.path.exists(os.path.join(final, "real.artifact"))
    assert not os.path.exists(os.path.join(final, "partial.artifact"))


def test_recursive_cte_matches_pointer_doubling(spark):
    """q_recursive_cte and q_hierarchy_resolve flatten the SAME 4-ary
    forest by different execution schemes (engine-managed UnionLoop vs
    driver-looped pointer doubling) — their row sets must be identical,
    and the declarative plan must actually contain the loop operator
    (engine recursion, not an unrolled union)."""
    from oem_gateway_spark.suite import REGISTRY

    SF = "/root/testdata/sf0.001"
    rec = REGISTRY["q_recursive_cte"].fn(spark, SF)
    plan = rec._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan, plan[:400]
    a = rec.toPandas().sort_values("node").reset_index(drop=True)
    b = (
        REGISTRY["q_hierarchy_resolve"]
        .fn(spark, SF)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    assert a[["node", "root", "depth"]].astype("int64").equals(
        b[["node", "root", "depth"]].astype("int64")
    )


def test_run_to_table_restores_partitions_on_failure(spark, tmp_path):
    """The shuffle_partitions scope must restore the session conf even
    when the streaming query dies mid-run (the finally path) — a leak
    here would silently shrink every later batch plan's parallelism."""
    import pyspark.sql.functions as F

    from oem_gateway_spark.suite.streaming_batch import _run_to_table

    src = str(tmp_path / "rows")
    spark.range(10).write.parquet(src)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = (
        spark.readStream.schema("id long").parquet(src)
        # integral DIV 0 raises DIVIDE_BY_ZERO under ANSI at runtime
        # (float / 0 would just be Infinity): the first micro-batch fails
        .select(F.expr("id DIV 0").alias("boom"))
        .groupBy("boom").count()
    )
    with pytest.raises(Exception):
        _run_to_table(stream, mode="complete", shuffle_partitions=5)
    assert spark.conf.get(key) == before


def test_atomic_export_trusts_concurrent_winner(tmp_path, monkeypatch):
    """Rename failure WITH the done marker present is the legitimate
    lost-race case: the winner's dir must be left untouched and the
    loser's tmp discarded."""
    final = str(tmp_path / "export")

    def build(tmp):
        # Simulate the race: the "winner" lands a complete dir at
        # final_dir after this process started building.
        _touch(os.path.join(final, "done.marker"), "winner")
        _touch(os.path.join(tmp, "done.marker"), "loser")

    out = atomic_export(build, final, "done.marker")
    assert out == final
    with open(os.path.join(final, "done.marker")) as f:
        assert f.read() == "winner"
    leftovers = [p for p in os.listdir(tmp_path) if p.startswith("export.tmp")]
    assert leftovers == []
