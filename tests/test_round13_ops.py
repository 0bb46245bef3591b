"""Round-13 pins: the r12 ADVICE hardening — checkpoint-spelling
canonicalization for the frame-log sink's manifest namespace, writer-id
scoped orphan reclamation, and stale-symlink verification in the
streaming scratch-dir builders — plus the serial device transport seam
(S1) exercised against a pure-Python fake with only pyserial's
constructor unfaked."""

from __future__ import annotations

import os
import time

import pyarrow as pa  # module-level: arrow_udf type hints must resolve


def test_framelog_sink_namespace_spelling_invariant(tmp_path):
    """r12 ADVICE (medium): the manifest namespace hashed the RAW
    checkpointLocation spelling, so the same physical checkpoint spelled
    differently across restarts ('file:///c', '/c', '/c/', a symlink)
    landed in a NEW namespace and a crash-replayed batch double-counted.
    Every spelling of one checkpoint must replay into the SAME namespace
    (replace its manifest), while a genuinely different checkpoint still
    appends."""
    from oem_gateway_spark.sinks.framelog_sink import (
        FrameLogStreamWriter,
        committed_manifests,
    )

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt" / "run1")
    os.makedirs(ckpt)
    alias = str(tmp_path / "ckpt-alias")
    os.symlink(os.path.join(str(tmp_path), "ckpt"), alias)

    spellings = [
        ckpt,
        ckpt + "/",
        "file://" + ckpt,
        "file://localhost" + ckpt,
        os.path.join(str(tmp_path), "ckpt", ".", "run1"),
        os.path.join(alias, "run1"),  # via symlinked parent
    ]
    for i, sp in enumerate(spellings):
        w = FrameLogStreamWriter({"path": sink, "checkpointlocation": sp})
        # every spelling replays batch 0: same namespace -> REPLACE
        w.commit([w.write(iter([(i, i)]))], batchId=0)
        assert len(committed_manifests(sink)) == 1, (
            f"spelling {sp!r} opened a new namespace (double-count)"
        )
    # a different checkpoint is a different namespace: APPEND
    other = FrameLogStreamWriter(
        {"path": sink, "checkpointlocation": str(tmp_path / "ckpt" / "run2")}
    )
    other.commit([other.write(iter([(9, 9)]))], batchId=0)
    assert len(committed_manifests(sink)) == 2

    # remote URIs: scheme/authority case-insensitive, path normalized —
    # but path case is significant (case-sensitive stores)
    from oem_gateway_spark.sinks.framelog_sink import _canonical_checkpoint

    assert _canonical_checkpoint("HDFS://NN:8020/ckpt/a/") == (
        _canonical_checkpoint("hdfs://nn:8020/ckpt/b/../a")
    )
    assert _canonical_checkpoint("hdfs://nn:8020/CKPT") != (
        _canonical_checkpoint("hdfs://nn:8020/ckpt")
    )


def test_framelog_sink_reclaim_scoped_to_writer(tmp_path):
    """r12 ADVICE: two streaming queries with different checkpoints
    legally share one sink path, and a straggler's renamed-but-not-yet-
    committed task output can be older than the age bound — reclamation
    must never delete ANOTHER writer's files, however old.  Own aged
    orphans and id-less litter stay reclaimable; a batch OVERWRITE
    (exclusive by semantics) reclaims regardless of id."""
    from oem_gateway_spark.sinks.framelog_sink import (
        _LAST_RECLAIM,
        _TMP_MAX_AGE_SEC,
        FrameLogStreamWriter,
        committed_files,
    )

    sink = str(tmp_path / "sink")
    a = FrameLogStreamWriter({"path": sink, "checkpointlocation": "/ck/a"})
    b = FrameLogStreamWriter({"path": sink, "checkpointlocation": "/ck/b"})
    past = time.time() - _TMP_MAX_AGE_SEC - 60

    # writer B renames a task file but has NOT committed yet (in-flight
    # straggler), and it is already past the age bound
    b_inflight = b.write(iter([(5, 5)]))
    data = os.path.join(sink, "data")
    os.utime(os.path.join(data, b_inflight.file), (past, past))

    # writer A has an aged orphan of its OWN (a replaced re-commit) and
    # there is aged id-less litter from a legacy writer
    a_orphan = a.write(iter([(1, 1)]))
    os.utime(os.path.join(data, a_orphan.file), (past, past))
    litter = os.path.join(data, "part-00000-legacy.log")
    with open(litter, "w") as f:
        f.write("x\n")
    os.utime(litter, (past, past))

    # A commits a fresh batch; reclamation runs scoped to A
    _LAST_RECLAIM.pop(sink, None)
    a.commit([a.write(iter([(2, 2)]))], batchId=7)
    assert not os.path.exists(os.path.join(data, a_orphan.file)), (
        "own aged orphan survived"
    )
    assert not os.path.exists(litter), "id-less litter survived"
    assert os.path.exists(os.path.join(data, b_inflight.file)), (
        "a concurrent writer's in-flight file was reclaimed (row loss)"
    )

    # B finally commits its straggler batch: rows are all there
    b.commit([b_inflight], batchId=0)
    n = sum(
        1
        for p in committed_files(sink)
        for _ in open(p)
    )
    assert n == 2  # A's batch-7 row + B's straggler row


def test_framelog_sink_batch_overwrite_reclaims_all(tmp_path):
    """Overwrite clears every manifest (exclusive ownership), so its
    reclaim pass is unscoped: aged foreign-id orphans go too."""
    from oem_gateway_spark.sinks.framelog_sink import (
        _LAST_RECLAIM,
        _TMP_MAX_AGE_SEC,
        FrameLogBatchWriter,
    )

    sink = str(tmp_path / "sink")
    past = time.time() - _TMP_MAX_AGE_SEC - 60
    first = FrameLogBatchWriter({"path": sink}, overwrite=False)
    m = first.write(iter([(1, 1)]))
    first.commit([m])
    # age the first save's file, then overwrite: its manifest is cleared,
    # so the file is a foreign-id orphan of the overwriting save
    os.utime(os.path.join(sink, "data", m.file), (past, past))
    _LAST_RECLAIM.pop(sink, None)
    ow = FrameLogBatchWriter({"path": sink}, overwrite=True)
    ow.commit([ow.write(iter([(2, 2)]))])
    assert not os.path.exists(os.path.join(sink, "data", m.file)), (
        "overwrite left the replaced save's aged file unreclaimed"
    )


def test_stream_dir_relinks_regenerated_source(tmp_path):
    """r12 ADVICE: _stream_dir reused a scratch dir keyed by sf_dir alone
    and _link_events only checked exists() — a corpus regenerated in
    place (file -> directory, or rewritten parts) left stale/dangling
    links that double-read or failed the stream.  The dir is now
    fingerprint-keyed AND reused links are verified to resolve to the
    current source."""
    import oem_gateway_spark.suite.streaming_batch as sb

    # fake corpus: single-file layout first
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "events.parquet"
    src.write_bytes(b"v1-payload")
    scratch = tmp_path / "scratch"
    d1 = str(scratch / f"stream-events-x-{sb._source_fp(str(sf))}")
    os.makedirs(d1)
    sb._link_events(str(sf), d1)
    assert os.path.realpath(os.path.join(d1, "events.parquet")) == str(src)

    # regenerate IN PLACE as a parquet DIRECTORY (the scale_probe layout)
    src.unlink()
    src.mkdir()
    (src / "part-00000.parquet").write_bytes(b"p0")
    (src / "part-00001.parquet").write_bytes(b"p1")
    sb._link_events(str(sf), d1)
    names = sorted(os.listdir(d1))
    assert names == ["events_0000.parquet", "events_0001.parquet"], (
        f"stale single-file link coexists with part links: {names}"
    )
    for n in names:
        assert os.path.exists(os.path.join(d1, n)), "dangling link reused"

    # shrink the directory (re-replication with fewer parts): the
    # higher-indexed stale link must go
    (src / "part-00001.parquet").unlink()
    sb._link_events(str(sf), d1)
    assert sorted(os.listdir(d1)) == ["events_0000.parquet"]

    # flip back to a single file: part links evicted, file link returns
    import shutil

    shutil.rmtree(src)
    src.write_bytes(b"v2-payload")
    sb._link_events(str(sf), d1)
    assert sorted(os.listdir(d1)) == ["events.parquet"]
    assert os.path.realpath(os.path.join(d1, "events.parquet")) == str(src)


class _FakeSerialModule:
    """Pure-Python pyserial stand-in: scripted readline() chunks, so the
    transport's accumulate/tail/reopen logic runs for real with only the
    serial.Serial constructor unfaked (r12 VERDICT #4)."""

    class SerialException(OSError):
        pass

    def __init__(self, script):
        # script: list of byte chunks; the sentinel Exception instance
        # raises instead of returning.  Shared across reopens so a
        # reopened port resumes the scripted feed.
        self._script = list(script)
        self.opened = []  # (device, baudrate, timeout) per open

    def Serial(self, device, baudrate, timeout):  # noqa: N802 (pyserial API)
        if device == "/dev/missing":
            raise self.SerialException("no such device")
        self.opened.append((device, baudrate, timeout))
        mod = self

        class _Port:
            def readline(self):
                if not mod._script:
                    return b""
                nxt = mod._script.pop(0)
                if isinstance(nxt, Exception):
                    raise nxt
                return nxt

            def close(self):
                pass

        return _Port()


def test_serial_device_transport_accumulate_tail_reopen():
    """S1's device half (ref OemGatewaySerialListener._open_serial_port/
    read ~l.80-100): 9600-baud timeout=0 open, accumulate to newline,
    partial tail buffered across polls AND across an error-triggered
    reopen, complete lines emitted exactly once."""
    from oem_gateway_spark.sources.serial_source import SerialDeviceTransport

    fake = _FakeSerialModule(
        [
            b"10 1",  # partial line
            b"00.5 21.1\r\n10 ",  # completes line 1, starts line 2
            b"",  # nothing available this poll
            _FakeSerialModule.SerialException("unplugged"),  # mid-stream
            b"999.0\r\n",  # after reopen: completes line 2
            b"11 7.0\n",  # bare-\n termination tolerated
        ]
    )
    t = SerialDeviceTransport("/dev/ttyUSB0", serial_module=fake)
    out = []
    for _ in range(6):
        out.extend(t.read_lines())
    assert out == ["10 100.5 21.1", "10 999.0", "11 7.0"]
    # the open contract: non-blocking at the default baud
    assert fake.opened[0] == ("/dev/ttyUSB0", 9600, 0)
    # the error poll closed the port; the next poll REOPENED it
    assert t.reopen_count == 1
    assert len(fake.opened) == 2
    # open failure surfaces as the init error, not a silent None port
    import pytest

    bad = SerialDeviceTransport("/dev/missing", serial_module=fake)
    with pytest.raises(ConnectionError, match="missing"):
        bad.read_lines()


def test_serial_reader_device_mode_spool_replay(tmp_path):
    """Device mode = transport pump + the SAME spool byte-offset protocol
    as path mode: offsets advance only over complete spooled lines, and
    readBetweenOffsets replays a committed range deterministically —
    the recovery contract a raw port cannot offer."""
    import pytest

    from oem_gateway_spark.sources.serial_source import SerialFrameSimpleReader

    fake = _FakeSerialModule(
        [b"5 1.0\r\n5 2.0\r\n5 3", b".0\r\n"]
    )
    spool = str(tmp_path / "spool" / "dev.log")
    r = SerialFrameSimpleReader(
        {"device": "/dev/ttyUSB0", "spool": spool}, serial_module=fake
    )
    o0 = r.initialOffset()
    rows1, o1 = r.read(o0)
    assert [x[0] for x in rows1] == ["5 1.0", "5 2.0"]
    rows2, o2 = r.read(o1)
    assert [x[0] for x in rows2] == ["5 3.0"]
    # exhausted device: offset parks
    rows3, o3 = r.read(o2)
    assert rows3 == [] and o3 == o2
    # recovery replay re-reads the committed spool range byte-for-byte
    assert [x[0] for x in r.readBetweenOffsets(o0, o1)] == ["5 1.0", "5 2.0"]
    assert [x[0] for x in r.readBetweenOffsets(o1, o2)] == ["5 3.0"]
    # device mode without a spool is a loud config error
    with pytest.raises(ValueError, match="spool"):
        SerialFrameSimpleReader({"device": "/dev/x"}, serial_module=fake)


SF = "/root/testdata/sf0.001"


def test_udtf_table_partition_semantics(spark):
    """The TABLE-argument UDTF's engine contract, pinned on a tiny
    hand-built frame: one instance per PARTITION BY group, rows fed in
    ORDER BY order (max-gap over consecutive rows is order-defined),
    terminate() flushes exactly one row per non-empty group."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, max_gap_ms bigint")
    class GapStats:
        def __init__(self):
            self._uid, self._n, self._prev, self._max = None, 0, None, None

        def eval(self, row):
            self._uid = row["user_id"]
            self._n += 1
            if self._prev is not None:
                g = row["ts_ms"] - self._prev
                if self._max is None or g > self._max:
                    self._max = g
            self._prev = row["ts_ms"]

        def terminate(self):
            if self._n:
                yield self._uid, self._n, self._max

    spark.udtf.register("gap_stats_pin", GapStats)
    rows = [
        (1, 100), (1, 500), (1, 550),   # gaps 400, 50 -> max 400
        (2, 10),                        # single event -> NULL gap
        (3, 900), (3, 100),             # unordered input: sorted gap 800
    ]
    spark.createDataFrame(rows, "user_id long, ts_ms long").createOrReplaceTempView(
        "gap_pin_v"
    )
    got = {
        r["user_id"]: (r["n_events"], r["max_gap_ms"])
        for r in spark.sql(
            """
            SELECT * FROM gap_stats_pin(TABLE(gap_pin_v)
                     PARTITION BY user_id ORDER BY ts_ms)
            """
        ).collect()
    }
    assert got == {1: (3, 400), 2: (1, None), 3: (2, 800)}, got


def test_udtf_analyze_table_contracts(spark):
    """The analyze-over-TABLE-schema entrance's three contracts, pinned
    on hand frames: (a) output rows are derived from the input table's
    SCHEMA (adding a numeric column adds profile rows, zero call-site
    change); (b) the function-requested partitionBy makes an explicit
    PARTITION BY at the call site an ERROR; (c) the function-requested
    select PRUNES non-numeric columns before the Python boundary (a
    string column crossing would emit a bogus profile row and break
    the schema contract)."""
    import pytest
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import DoubleType, LongType, StringType, StructType
    from pyspark.sql.udtf import (
        AnalyzeArgument,
        AnalyzeResult,
        PartitioningColumn,
        SelectedColumn,
    )

    @udtf
    class NumericProfile:
        @staticmethod
        def analyze(t: AnalyzeArgument) -> AnalyzeResult:
            numeric = [
                f.name
                for f in t.dataType.fields
                if isinstance(f.dataType, (DoubleType, LongType))
                and f.name != "bucket"
            ]
            schema = (
                StructType()
                .add("bucket", LongType())
                .add("col_name", StringType())
                .add("n", LongType())
                .add("min_v", DoubleType())
                .add("max_v", DoubleType())
            )
            return AnalyzeResult(
                schema=schema,
                partitionBy=[PartitioningColumn("bucket")],
                select=[SelectedColumn("bucket")]
                + [SelectedColumn(c) for c in numeric],
            )

        def __init__(self):
            self._bucket, self._stats = None, {}

        def eval(self, row):
            d = row.asDict()
            self._bucket = d.pop("bucket")
            for name, v in d.items():
                assert not isinstance(v, str), (
                    f"non-numeric column {name!r} crossed the boundary"
                )
                if v is None:
                    continue
                st = self._stats.setdefault(name, [0, v, v])
                st[0] += 1
                st[1] = min(st[1], v)
                st[2] = max(st[2], v)

        def terminate(self):
            for name in sorted(self._stats):
                n, lo, hi = self._stats[name]
                yield self._bucket, name, n, float(lo), float(hi)

    spark.udtf.register("numeric_profile_pin", NumericProfile)
    spark.createDataFrame(
        [(0, 1.5, "a"), (0, 2.5, "b"), (1, -1.0, "c")],
        "bucket long, x double, label string",
    ).createOrReplaceTempView("prof_narrow")
    got = {
        (r["bucket"], r["col_name"]): (r["n"], r["min_v"], r["max_v"])
        for r in spark.sql(
            "SELECT * FROM numeric_profile_pin(TABLE(prof_narrow))"
        ).collect()
    }
    # (c) label pruned (the eval assert would have fired), (a) one row
    # per (bucket, numeric col)
    assert got == {(0, "x"): (2, 1.5, 2.5), (1, "x"): (1, -1.0, -1.0)}, got

    # (a) widen the schema -> new rows, same call text
    spark.createDataFrame(
        [(0, 1.5, 7, "a")], "bucket long, x double, y long, label string"
    ).createOrReplaceTempView("prof_wide")
    wide = spark.sql(
        "SELECT * FROM numeric_profile_pin(TABLE(prof_wide))"
    ).collect()
    assert {r["col_name"] for r in wide} == {"x", "y"}

    # (b) explicit PARTITION BY conflicts with the function's own
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql(
            """
            SELECT * FROM numeric_profile_pin(
              TABLE(prof_narrow) PARTITION BY bucket)
            """
        ).collect()


# ---------------------------------------------------------------- r13 shapes
# Pins for the second r13 shape batch: the ANSI error kernel, SQL session
# variables + EXECUTE IMMEDIATE, the SQL table function (and its correlated
# ORDER BY..LIMIT decorrelation hazard canary), and the scalar arrow_udf.
# (SF is defined above.)


def test_try_arithmetic_nonvacuous(spark):
    """Each try_* kernel must actually FIRE on this corpus (otherwise the
    witness is vacuous), and the non-try spelling of the same dirty
    division must FAIL under default-ANSI — proving try_divide is doing
    quarantine work, not decoration."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.catalog import load_table
    from oem_gateway_spark.suite import REGISTRY

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = {r["l_returnflag"]: r for r in REGISTRY["q_try_arithmetic"].fn(spark, SF).collect()}
    assert sum(r["div_nulls"] for r in rows.values()) > 0, "no quantity-25 rows?"
    assert sum(r["parse_nulls"] for r in rows.values()) > 0
    assert rows["R"]["parse_nulls"] == rows["R"]["n"]  # every R-row string corrupted
    total = sum(r["n"] for r in rows.values())
    assert 0 < sum(r["ovf_survivors"] for r in rows.values()) < total
    assert 0 < sum(r["elem_hits"] for r in rows.values()) < total

    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    li = load_table(spark, SF, "lineitem")
    # The SPECIFIC ANSI error class, not a broad catch (a bare Exception
    # plus substring match would pass on an AnalysisException mentioning
    # 'divide' without the division ever executing).
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        li.select(
            (F.col("l_extendedprice") / (F.col("l_quantity") - F.lit(25.0))).alias("x")
        ).agg(F.count("x")).collect()


def test_session_variable_threads_value(spark):
    """DECLARE -> SET VAR (from a query) -> EXECUTE IMMEDIATE USING must
    equal computing the cutoff inline, and the variable must be readable
    by a LATER independent statement (session state, not statement
    state)."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.catalog import load_table
    from oem_gateway_spark.suite import REGISTRY

    got = {
        r["o_orderpriority"]: r["n"]
        for r in REGISTRY["q_session_variable"].fn(spark, SF).collect()
    }
    orders = load_table(spark, SF, "orders")
    cut = orders.agg((F.max("o_totalprice") * 0.5).alias("c")).collect()[0]["c"]
    want = {
        r["o_orderpriority"]: r["n"]
        for r in orders.filter(F.col("o_totalprice") > cut)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    # cross-statement read of the session variable set inside the entry
    val = spark.sql("SELECT gw_price_cut AS v").collect()[0]["v"]
    assert val == cut


def test_sql_table_function_correlated_and_limit_hazard(spark):
    """(a) The registry's arity-predicate SQL table function equals the
    equivalent join spelled by hand.  (b) CANARY for the 4.1.2
    decorrelation bug this entry dodges: ORDER BY..LIMIT k inside a
    CORRELATED function body plans the limit GLOBALLY (below the join),
    returning the wrong per-key expansion.  If a Spark upgrade fixes the
    decorrelation, (b) flips and the entry can move to true per-key
    top-k form."""
    from oem_gateway_spark.catalog import load_table
    from oem_gateway_spark.suite import REGISTRY

    got = REGISTRY["u_sql_table_function"].fn(spark, SF)
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    want = (
        orders.filter("o_orderkey % 20 = 0")
        .join(li.filter("l_linenumber <= 3"), orders.o_orderkey == li.l_orderkey)
        .select("o_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # (b) hazard canary on a hand frame: 5 parents x top-3-of-7 children
    spark.range(35).selectExpr(
        "id % 5 as pk", "cast(id as int) as child"
    ).createOrReplaceTempView("tf_hazard_child")
    spark.range(5).selectExpr("id as pk").createOrReplaceTempView("tf_hazard_parent")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION tf_hazard(k BIGINT)
           RETURNS TABLE (child INT)
           RETURN SELECT child FROM tf_hazard_child WHERE pk = k
                  ORDER BY child LIMIT 3"""
    )
    per_key_direct = sum(
        spark.sql(f"SELECT * FROM tf_hazard({k})").count() for k in range(5)
    )
    assert per_key_direct == 15  # direct invocation is correct
    lateral = spark.sql(
        "SELECT p.pk, t.child FROM tf_hazard_parent p, LATERAL tf_hazard(p.pk) t"
    )
    n = lateral.count()
    assert n < 15, (
        f"correlated LATERAL + LIMIT returned {n} rows: Spark has FIXED the "
        "decorrelation bug — u_sql_table_function can adopt ORDER BY..LIMIT"
    )
    assert "GlobalLimit" in lateral._jdf.queryExecution().executedPlan().toString()


def test_arrow_udf_char_exact(spark):
    """The arrow_udf signal counts CHARACTERS (utf8_length), not bytes,
    and matches the hand value on a frame with a multibyte char —
    pinning the LENGTH()-parity assumption the DuckDB oracle relies on."""
    import pandas as pd

    from pyspark.sql import functions as F

    from oem_gateway_spark.suite import REGISTRY

    df = spark.createDataFrame(
        pd.DataFrame({"lang": ["x", "x"], "text": ["héllo wörld", "a b c"]})
    )
    df.createOrReplaceTempView("arrow_udf_pin_src")
    # reuse the entry's kernel by running the registry fn on a stub sf_dir
    # is not possible (it loads documents); re-apply the same expression:
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("bigint")
    def text_signal(text: pa.Array) -> pa.Array:
        return pc.cast(
            pc.add(
                pc.utf8_length(text),
                pc.multiply(pc.count_substring(text, " "), 10),
            ),
            pa.int64(),
        )

    vals = [
        r["s"] for r in df.select(text_signal(F.col("text")).alias("s")).collect()
    ]
    # 'héllo wörld': 11 chars + 1 space -> 21; 'a b c': 5 chars + 2 -> 25
    assert vals == [21, 25]
    out = REGISTRY["u_arrow_udf"].fn(spark, SF)
    assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()


def test_jl_projection_distortion_bound(spark):
    """The JL witness must actually certify the guarantee: mean |gap|
    within ~2x of the 1/sqrt(K) std, tails bounded, projected cosines
    CORRELATED with exact ones — and the sign matrix full-rank-ish.
    Guards the crc32-parity regression found building this operator
    (GF(2)-linear parity => rank-1 sign matrix => all projections
    collinear, every cos_proj +-1, mean gap ~1.0)."""
    import numpy as np

    from oem_gateway_spark.operators import similarity as S
    from oem_gateway_spark.suite import REGISTRY

    signs = np.array(S.JL_SIGNS)
    assert np.linalg.matrix_rank(signs) > 2, "sign matrix degenerated to low rank"

    pdf = REGISTRY["s_jl_projection"].fn(spark, SF).toPandas()
    assert len(pdf) == 45  # 10 sampled vectors -> 45 pairs
    assert pdf.abs_gap.mean() < 0.25  # ~2x the 1/sqrt(32) std
    assert pdf.abs_gap.quantile(0.95) < 0.5
    assert np.corrcoef(pdf.cos_exact, pdf.cos_proj)[0, 1] > 0.3
    assert pdf.cos_proj.std() > 0.05  # not collinear projections


def test_apply_in_arrow_grouped_map(spark):
    """applyInArrow must plan as the Arrow grouped-map node (no pandas
    boxing) and each group's normalization must span exactly [0, 1]."""
    from pyspark.sql import functions as F

    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["u_apply_in_arrow"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan or "ApplyInArrow" in plan, plan[:500]
    ext = df.groupBy("l_returnflag").agg(
        F.min("price_norm").alias("lo"), F.max("price_norm").alias("hi")
    )
    for r in ext.collect():
        assert r["lo"] == 0.0 and r["hi"] == 1.0, r


def test_pandas_udf_window_frames(spark):
    """The pandas UDAF must execute in WINDOW position (WindowInPandas
    plan node) over exactly-10-row frames, and the trimmed mean must lie
    strictly between the frame extremes (the trim actually trimmed)."""
    from oem_gateway_spark.suite import REGISTRY

    df = REGISTRY["u_pandas_udf_window"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the node ArrowWindowPython (WindowInPandas pre-4)
    assert "ArrowWindowPython" in plan or "WindowInPandas" in plan, plan[:400]
    pdf = df.toPandas()
    # 309 qualifying rows at sf0.001 minus the 9 partial-frame rows
    assert len(pdf) == 300
    assert pdf["trimmed"].notna().all()


def test_session_dynamic_gap_semantics(spark):
    """Dynamic-gap sessionization must differ from BOTH constant-gap
    spellings (10-min-only and 30-min-only) — i.e. the per-event gap
    actually drives merge decisions — and every session end must equal
    max(ts + gap(event)) over its members (pinned on a hand frame)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from oem_gateway_spark.suite import REGISTRY

    dyn = REGISTRY["w_session_dynamic"].fn(spark, SF).count()
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    from oem_gateway_spark.catalog import normalize_event_ts

    ev = normalize_event_ts(ev)
    fixed = {
        g: ev.groupBy(F.session_window("ts", g), "user_id").count().count()
        for g in ("10 minutes", "30 minutes")
    }
    assert dyn != fixed["10 minutes"] and dyn != fixed["30 minutes"], (
        dyn,
        fixed,
    )
    assert fixed["30 minutes"] < dyn < fixed["10 minutes"]  # merge monotonicity

    # hand frame: purchase's 30-min tail captures an event 20 min later
    # that a 10-min gap would have split
    hand = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "event_type": ["purchase", "click", "click"],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:00", "2024-01-01 00:20:00",
                     "2024-01-01 00:45:00"]
                ),
            }
        )
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    sess = (
        hand.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .count()
        .select(
            F.unix_millis("w.start").alias("s"),
            F.unix_millis("w.end").alias("e"),
            "count",
        )
        .orderBy("s")
        .collect()
    )
    # session 1: purchase@0 holds to 00:30, click@20 joins (10-min tail
    # to 00:30) -> end 00:30, 2 events; click@45 is outside -> own session
    assert [(r["count"], r["e"] - r["s"]) for r in sess] == [
        (2, 30 * 60 * 1000),
        (1, 10 * 60 * 1000),
    ], sess
