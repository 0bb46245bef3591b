"""Arrow-vectorized frame parsing: same semantics as functions/frames.py,
executed as mapInArrow over Arrow record batches (numpy/pyarrow kernels).

Why both exist: the HOF chain in frames.py is the SPEC — pure Catalyst
expressions, oracle-matched, zero Python.  But Spark evaluates array-lambda
expressions interpreted (no whole-stage codegen), costing ~0.5-1 ms/row for
the full classify+decode chain.  This module does the identical work in
vectorized pandas/numpy at ~10-50x the throughput; tests assert row-exact
equivalence on the corpus fixtures (test_frames_equivalence).

Vectorization shape (r2, re-vectorized r13): tokens of a whole Arrow batch
flatten into ONE array; per-row reductions run as ``np.bincount`` over a
row-index vector.  Since the r13 mapInArrow port there is NO per-row
Python left: the output ``values`` column is built as an Arrow ListArray
from an offsets vector over one gathered numeric buffer (guide §4.2's
re-slicing note), and batches never convert to pandas at the boundary.

r13 optimization (guide §4.2 — hand whole batches to vectorized native
kernels): tokenize/flatten/parse moved from pandas object-dtype ops
(``.str.split`` + Python-level ``itertools.chain`` flatten +
``pd.to_numeric`` + two ``.str`` regex passes, all interpreted per token)
to pyarrow compute kernels (``split_pattern_regex`` + ``list_flatten`` +
regex-gated ``cast``), measured ~5x on the classify stage at 100k
rows/batch.  Numeric semantics are unchanged: a token contributes a
finite double iff it matches the strict float grammar below AND casts
finite — tokens the old path accepted but rejected downstream anyway
(``inf``/``nan`` spellings, underscore forms, overflow) classify
identically because every non-finite or unmatched token already rejected
its whole frame.  Arrow's cast and pandas' parser are both
correctly-rounded strtods, so accepted values are bit-identical
(pinned by tests/test_frames_equivalence.py against the Catalyst spec).

At 100 TB the parse chain is the per-byte hot path, so this is the
production variant; the HOF chain remains the readable reference and the
fallback where Python workers are unavailable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from oem_gateway_spark.functions.frames import (
    REASON_BYTE_RANGE,
    REASON_EMPTY,
    REASON_INFO,
    REASON_NO_VALUES,
    REASON_NON_NUMERIC,
    REASON_ODD_PARITY,
    VALID,
)


class _TokenBatch:
    """Flattened token view of one Arrow batch of frame lines.

    ``nums[i]`` is the float value of flat token i (NaN if not a finite
    number by the spec's rules); ``starts[r]:starts[r]+lens[r]`` is row r's
    token span; ``reason[r]`` is the classification outcome.
    """

    __slots__ = ("reason", "lens", "starts", "nums", "is_int")

    # Strict finite-float grammar: a token outside it NEVER yields a
    # finite double (it is non-numeric, an inf/nan spelling, or an
    # underscore form — all of which reject their frame), so gating the
    # Arrow cast on this regex preserves the old pd.to_numeric-then-
    # reject-non-finite classification exactly.  Overflow ('9e999')
    # matches, casts to inf, and is caught by the isfinite test below.
    _FLOAT_RE = r"^[+-]?(([0-9]+\.?[0-9]*)|(\.[0-9]+))([eE][+-]?[0-9]+)?$"

    def __init__(self, lines: pa.Array | pd.Series, rfm2pi: bool):
        if isinstance(lines, pd.Series):
            lines = pa.Array.from_pandas(lines.astype("object"))
        n = len(lines)
        arr = lines
        if arr.null_count:
            arr = arr.fill_null("")
        # Spec-exact whitespace grammar (r13 ADVICE): the Catalyst spec
        # chain is F.split(F.trim(line), r"\s+") — Spark trim removes
        # SPACES only, and Java \s is [ \t\n\x0B\f\r].  The previous
        # Arrow port (utf8_trim_whitespace + RE2 \s, which lacks \x0B
        # and trims the wider Unicode set) classified lines containing
        # \x0B or exotic Unicode spaces differently from the spec it
        # claims row-exactness against.  Both deviations are latent on
        # the ASCII-space testdata; the equivalence corpus now carries
        # the divergent characters so this stays pinned.
        stripped_pa = pc.utf8_trim(arr, " ")
        # Trimmed input means no leading/trailing SPACE separators; ""
        # still splits to [""], whose phantom token is harmless: empty
        # rows classify REASON_EMPTY before any token logic and never
        # reach the undecided masks or the value slicer.  Leading or
        # trailing NON-space whitespace produces empty edge tokens —
        # exactly what the spec's Java split(-1) produces, and they
        # reject the frame as non-numeric on both paths.
        toks_pa = pc.split_pattern_regex(stripped_pa, r"[ \t\n\x0B\f\r]+")
        offsets = toks_pa.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(offsets)
        starts = offsets[:-1] - offsets[0]
        row_of = np.repeat(np.arange(n), lens)
        flat_pa = pc.list_flatten(toks_pa)

        # Regex-gated cast (see _FLOAT_RE note); nulls surface as NaN.
        matched = pc.match_substring_regex(flat_pa, self._FLOAT_RE)
        nums = pc.cast(
            pc.if_else(matched, flat_pa, pa.scalar(None, pa.string())),
            pa.float64(),
        ).to_numpy(zero_copy_only=False)
        tok_bad = ~np.isfinite(nums)
        # Integer-token test (rfm2pi node/byte grammar = int(), not float()).
        is_int = (
            pc.match_substring_regex(flat_pa, r"^[+-]?[0-9]+$")
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )

        def rows_with(tok_mask: np.ndarray) -> np.ndarray:
            return np.bincount(row_of[tok_mask], minlength=n) > 0

        reason = np.full(n, VALID, dtype=object)
        empty = pc.equal(stripped_pa, "").to_numpy(zero_copy_only=False).astype(bool)
        reason[empty] = REASON_EMPTY
        first_char = pc.utf8_slice_codeunits(stripped_pa, 0, 1)
        info = (
            (~empty)
            & pc.is_in(first_char, value_set=pa.array([">", "?"]))
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )
        reason[info] = REASON_INFO
        undecided = ~(empty | info)

        nonnum = undecided & rows_with(tok_bad)
        reason[nonnum] = REASON_NON_NUMERIC
        undecided &= ~nonnum

        short = undecided & (lens < 2)
        reason[short] = REASON_NO_VALUES
        undecided &= ~short

        # Node id: serial int(float(tok0)), RFM2Pi an integer literal; both
        # must fit an int (the spec's try_cast range), else non-numeric.
        cand = np.flatnonzero(undecided)
        node = nums[starts[cand]]
        node_bad = (np.floor(node) > 2**31 - 1) | (np.ceil(node) < -(2**31))
        if rfm2pi:
            node_bad |= ~is_int[starts[cand]]
        reason[cand[node_bad]] = REASON_NON_NUMERIC
        undecided[cand[node_bad]] = False

        if rfm2pi:
            is_first = np.zeros(len(nums), dtype=bool)
            is_first[starts[lens > 0]] = True
            bad_byte_tok = ~is_first & (~is_int | (nums < 0) | (nums > 255))
            bad = undecided & rows_with(bad_byte_tok)
            reason[bad] = REASON_BYTE_RANGE
            undecided &= ~bad

            odd = undecided & ((lens - 1) % 2 != 0)
            reason[odd] = REASON_ODD_PARITY

        self.reason = reason
        self.lens = lens
        self.starts = starts
        self.nums = nums
        self.is_int = is_int

def _classify_batch(
    lines: pd.Series, rfm2pi: bool
) -> tuple[pd.Series, _TokenBatch]:
    """Vectorized classification over a pandas batch: (reason series,
    token batch).  The query paths are mapInArrow and build _TokenBatch
    directly from the Arrow column; this wrapper serves the pandas-side
    property tests (tests/test_sources_extra.py fuzz model)."""
    tb = _TokenBatch(lines, rfm2pi)
    return pd.Series(tb.reason, index=lines.index, dtype=object), tb


def _segment_gather(nvals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row segment machinery for one flat gather: returns
    ``(j, offsets)`` where ``j`` is the 0..nvals[r] intra-row ramp
    (callers add it, scaled by their element stride, to per-row start
    positions) and ``offsets`` is the int32 Arrow ListArray offsets
    vector encoding the same segmentation."""
    n = len(nvals)
    total = int(nvals.sum())
    cum0 = np.zeros(n, dtype=np.int64)
    if n:
        np.cumsum(nvals[:-1], out=cum0[1:])
    j = np.arange(total, dtype=np.int64) - np.repeat(cum0, nvals)
    offsets = np.zeros(n + 1, dtype=np.int32)
    if n:
        np.cumsum(nvals, out=offsets[1:], dtype=np.int32)
    return j, offsets


def _take_batch(rb: pa.RecordBatch, names: list[str], rows: np.ndarray) -> list:
    """Gather the passthrough columns of an Arrow batch at ``rows``."""
    idx = pa.array(rows, type=pa.int64())
    return [rb.column(rb.schema.get_field_index(c)).take(idx) for c in names]


def parse_serial_frames_fast(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Vectorized twin of frames.parse_serial_frames (r13: mapInArrow —
    the ``values`` ListArray is an offsets vector over one gathered
    numeric buffer; no pandas conversion, no per-row list building)."""
    passthrough = [f for f in df.schema.fields if f.name != line_col]
    out_schema = StructType(
        passthrough
        + [
            StructField("node", IntegerType()),
            StructField("values", ArrayType(DoubleType())),
        ]
    )
    names = [f.name for f in passthrough]
    out_names = names + ["node", "values"]

    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            tb = _TokenBatch(
                rb.column(rb.schema.get_field_index(line_col)), rfm2pi=False
            )
            rows = np.flatnonzero(tb.reason == VALID)
            # node = int(float(tok0)): C-cast truncation toward zero matches.
            node = pa.array(tb.nums[tb.starts[rows]].astype(np.int32))
            nvals = tb.lens[rows] - 1
            j, offsets = _segment_gather(nvals)
            flat = tb.nums[np.repeat(tb.starts[rows] + 1, nvals) + j]
            values = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(flat, type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                _take_batch(rb, names, rows) + [node, values], names=out_names
            )

    return df.mapInArrow(_batches, out_schema)


def parse_rfm2pi_frames_fast(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Vectorized twin of frames.parse_rfm2pi_frames (int16 pair decode:
    lo + 256*hi, two's complement at >= 32768) — one global numpy pass for
    the whole batch, and (r13) the decoded flat vector IS the ListArray
    value buffer: mapInArrow, no per-row splits or lists."""
    passthrough = [f for f in df.schema.fields if f.name != line_col]
    out_schema = StructType(
        passthrough
        + [
            StructField("node", IntegerType()),
            StructField("values", ArrayType(IntegerType())),
        ]
    )
    names = [f.name for f in passthrough]
    out_names = names + ["node", "values"]

    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            tb = _TokenBatch(
                rb.column(rb.schema.get_field_index(line_col)), rfm2pi=True
            )
            rows = np.flatnonzero(tb.reason == VALID)
            node = pa.array(tb.nums[tb.starts[rows]].astype(np.int32))
            # Global pair decode: flat positions of lo bytes across all
            # valid rows, one add/compare pass; offsets re-slice it.
            nvals = (tb.lens[rows] - 1) // 2
            j, offsets = _segment_gather(nvals)
            lo = np.repeat(tb.starts[rows] + 1, nvals) + 2 * j
            raw = (tb.nums[lo] + 256 * tb.nums[lo + 1]).astype(np.int64)
            dec = np.where(raw >= 32768, raw - 65536, raw).astype(np.int32)
            values = pa.ListArray.from_arrays(pa.array(offsets), pa.array(dec))
            yield pa.RecordBatch.from_arrays(
                _take_batch(rb, names, rows) + [node, values], names=out_names
            )

    return df.mapInArrow(_batches, out_schema)


def dead_letter_fast(
    df: DataFrame, line_col: str = "line", rfm2pi: bool = False
) -> DataFrame:
    """Vectorized twin of frames.dead_letter (r13: mapInArrow)."""
    from pyspark.sql.types import StringType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("reject_reason", StringType())]
    )
    in_names = [f.name for f in df.schema.fields]
    out_names = in_names + ["reject_reason"]

    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            tb = _TokenBatch(
                rb.column(rb.schema.get_field_index(line_col)), rfm2pi=rfm2pi
            )
            rows = np.flatnonzero(tb.reason != VALID)
            reason = pa.array(tb.reason[rows], type=pa.string())
            yield pa.RecordBatch.from_arrays(
                _take_batch(rb, in_names, rows) + [reason], names=out_names
            )

    return df.mapInArrow(_batches, out_schema)


def classify_reasons_fast(
    df: DataFrame, line_col: str = "line", rfm2pi: bool = False
) -> DataFrame:
    """Vectorized twin of frames.classify_frames / classify_rfm2pi_frames
    restricted to the classification outcome: EVERY row with its
    ``reject_reason`` ('valid' included), no token array materialized.
    The reject-stats queries only aggregate reasons, so shipping toks
    back across the Arrow boundary would be pure waste (r13: mapInArrow)."""
    from pyspark.sql.types import StringType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("reject_reason", StringType())]
    )
    out_names = [f.name for f in df.schema.fields] + ["reject_reason"]

    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            tb = _TokenBatch(
                rb.column(rb.schema.get_field_index(line_col)), rfm2pi=rfm2pi
            )
            reason = pa.array(tb.reason, type=pa.string())
            yield rb.append_column("reject_reason", reason)

    return df.mapInArrow(_batches, out_schema)
