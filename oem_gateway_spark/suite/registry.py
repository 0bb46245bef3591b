"""Registry mapping query name -> (spark callable, optional DuckDB oracle).

Contract (driver): callable(spark, sf_dir) -> DataFrame; oracle is ANSI SQL
DuckDB runs on the same parquet registered as views.  Column names/types must
match between the two — alias every computed column identically on both
sides; cast count/sum-of-int outputs to BIGINT in the oracle (DuckDB sums to
HUGEINT otherwise).

``run(name, spark, sf_dir)`` executes one query (build, collect, release
owned caches) and returns its ``RunRecord``: timings, the built frame, the
collected rows, a progress digest per streaming query the build ran, and
builder-specific facts.  Builders add to the record in progress through
``record``; under a bare ``fn`` call (no ``run`` active) that is a no-op.
"""

from __future__ import annotations

import functools
import logging
import time
from collections.abc import Callable
from contextvars import ContextVar
from dataclasses import dataclass, field

import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from oem_gateway_spark.operators.dedup import release_caches
from oem_gateway_spark.session import ensure_runtime_conf

QueryFn = Callable[[SparkSession, str], DataFrame]

_log = logging.getLogger(__name__)

# --------------------------------------------------- conf-witness discipline
#
# q_bloom_prune / q_cbo_join_reorder deliberately leave session confs mutated
# until the NEXT registry build (physical planning + AQE read conf at ACTION
# time; an eager restore silently un-witnesses the plan — r7 code-review
# finding).  The contract is therefore build -> ACT -> next build.  This
# module makes an out-of-order call site FAIL LOUDLY (r7 ADVICE) instead of
# silently degrading: the witness builder tags its Spark job group, and the
# next registry build checks the status tracker — zero jobs in the group
# means the witness frame was never executed while its confs held.
# Violations are logged at ERROR and recorded here; the full-registry oracle
# replay asserts the list stays empty.
#
# KNOWN FALSE-NEGATIVE WINDOW (r8 ADVICE): setJobGroup is thread-ambient and
# stays set until the next build clears it, so ANY Spark action the same
# thread runs between the witness build and the next registry build (another
# operator's eager count, a test's unrelated collect) lands in the witness's
# group and satisfies the check even if the witness frame itself never ran.
# The guard therefore catches the common failure (build -> immediately build
# the next query with zero actions in between) but not an interleaved
# unrelated action.  A per-frame check would need to key on the witness
# DataFrame's own queryExecution metrics / a listener, which costs a
# listener registration per witness; accepted as a documented gap since the
# guard is a belt on top of the plan-shape asserts that actually verify the
# witnessed behavior.

CONF_WITNESS_VIOLATIONS: list[str] = []
_pending_witness: dict | None = None
_witness_seq = 0


def register_conf_witness(spark: SparkSession, name: str) -> None:
    """Called by a conf-leaking witness builder as its LAST step: tag the
    current thread's job group so the next registry build can verify an
    action ran in between."""
    global _pending_witness, _witness_seq
    _witness_seq += 1
    group = f"conf-witness-{name}-{_witness_seq}"
    spark.sparkContext.setJobGroup(group, f"{name} conf-witness window")
    _pending_witness = {"name": name, "group": group, "spark": spark}


def clear_conf_witness(reason: str) -> None:
    """Acknowledge a pending conf witness WITHOUT executing it — for call
    sites that build plans but never act by design (tools/dump_plans.py).
    Anything else should execute the frame; this exists so the loud guard
    stays meaningful instead of being noise for plan-dump tooling."""
    global _pending_witness
    if _pending_witness is None:
        return
    pending, _pending_witness = _pending_witness, None
    try:
        pending["spark"].sparkContext.setLocalProperty("spark.jobGroup.id", None)
    except Exception:
        pass
    _log.info(
        "conf witness %s cleared without execution: %s", pending["name"], reason
    )


def _check_pending_witness() -> None:
    global _pending_witness
    if _pending_witness is None:
        return
    pending, _pending_witness = _pending_witness, None
    spark = pending["spark"]
    try:
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
            pending["group"]
        )
    except Exception:  # status tracker gone (session stopped): nothing to say
        return
    finally:
        try:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        except Exception:
            pass
    if not jobs:
        msg = (
            f"conf-witness violation: {pending['name']} was built but never "
            "executed before the next registry build — its mutated session "
            "confs are now reset, so the witnessed plan (shuffle join with "
            "runtime pruning / stats-driven reorder) did NOT run.  Execute "
            "the frame before building another query."
        )
        CONF_WITNESS_VIOLATIONS.append(pending["name"])
        _log.error(msg)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver records weaker rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a suite query (and its DuckDB oracle twin)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # A conf-leaking witness built earlier must have been ACTED on
            # before this build resets its confs — fail loudly if not.
            _check_pending_witness()
            # The driver may pass a bare session (200 shuffle partitions, no
            # AQE, unpinned timezone, no nanos conf): pin the runtime-settable
            # conf so results and plans match get_spark sessions exactly.
            ensure_runtime_conf(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name, wrapped, oracle, doc=(fn.__doc__ or "").strip())
        return wrapped

    return deco


# ------------------------------------------------------------- run records


@dataclass
class RunRecord:
    """What one ``run`` of a registry query did.

    ``streams`` holds one ``stream_digest`` per streaming query the build
    ran, in start order.  ``facts`` holds builder-specific numbers
    (changelog files, phase rows, state-store dirs, ...); an accumulator
    recorded as a fact is replaced by its value once the action ran."""

    build_ms: float = 0.0
    act_ms: float = 0.0
    df: DataFrame | None = None
    result: pd.DataFrame | None = None
    streams: list[dict] = field(default_factory=list)
    facts: dict = field(default_factory=dict)


_ACTIVE: ContextVar[RunRecord | None] = ContextVar("run_record", default=None)


def stream_digest(q: StreamingQuery) -> dict:
    """A terminated query's progress, whole and digested: which stateful
    operators ran, how many micro-batches, the final watermark, and the
    last batch's first state-operator custom metrics (rocksdb* keys iff
    the RocksDB provider was live; the HDFS provider reports
    loadedMapCache* keys instead)."""
    progs = list(q.recentProgress or [])
    last = progs[-1] if progs else {}
    ops = last.get("stateOperators") or []
    return {
        "progress": progs,
        "n_batches": len(progs),
        "stateful_operators": sorted(
            {
                so.get("operatorName")
                for p in progs
                for so in (p.get("stateOperators") or [])
                if so.get("operatorName")
            }
        ),
        # distinct count per batch: two chained windowed aggs both report
        # as 'stateStoreSave', so the NAME set cannot distinguish one agg
        # from two — the per-batch operator count can.
        "n_stateful_operators": max(
            (len(p.get("stateOperators") or []) for p in progs), default=0
        ),
        "final_watermark": (last.get("eventTime") or {}).get("watermark"),
        "custom": dict(ops[0].get("customMetrics") or {}) if ops else {},
    }


def record(stream: StreamingQuery | None = None, **facts) -> None:
    """Add to the record of the ``run`` in progress: the digest of a
    terminated streaming query and/or builder facts.  No-op when no
    ``run`` is active."""
    rec = _ACTIVE.get()
    if rec is None:
        return
    if stream is not None:
        rec.streams.append(stream_digest(stream))
    rec.facts.update(facts)


def run(name: str, spark: SparkSession, sf_dir: str) -> RunRecord:
    """Build ``name``, collect it with ``toPandas`` and release the
    caches its operators own; return the run's record."""
    rec = RunRecord()
    token = _ACTIVE.set(rec)
    try:
        t0 = time.perf_counter()
        rec.df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        rec.result = rec.df.toPandas()
        rec.build_ms = (t1 - t0) * 1e3
        rec.act_ms = (time.perf_counter() - t1) * 1e3
    finally:
        _ACTIVE.reset(token)
        if rec.df is not None:
            release_caches(rec.df)
    for k, v in rec.facts.items():
        if isinstance(v, Accumulator):
            rec.facts[k] = v.value
    return rec
