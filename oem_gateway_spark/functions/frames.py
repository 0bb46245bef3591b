"""Gateway frame grammar as pure DataFrame transforms (reference parity).

Reference semantics (SURVEY.md §1-2, reconstructed citations):
  - P1 tokenize: ``f.strip().split(' ')``
    [oemgatewaylistener.py :: OemGatewaySerialListener._process_frame ~l.105]
  - P2 info-frame filter: drop lines starting with '>' (RFM2Pi echo) and '?'
    (CRC noise) [~l.110]
  - P3 numeric validate-or-reject: any non-numeric token drops the WHOLE
    frame ("Misformed RX frame") — row-level reject, never null-padding
    [~l.112 serial float-cast; ~l.150 RFM2Pi int-cast]
  - P4 arity/parity: RFM2Pi byte frames need an even byte count after the
    node id [~l.155]
  - P5 byte-pair -> signed int16 decode, little-endian two's-complement:
    ``v = b[i] + 256*b[i+1]; if v >= 32768: v -= 65536``  [~l.160-170]
  - P6 project node id: first token is the node, rest are values [~l.158]

All transforms are built-in-function compositions (no Python UDFs), so the
parse chain runs in the JVM per partition — the 100 TB-safe shape (no
shuffle anywhere in P1-P6, perfectly parallel over input splits).  Most of
it is whole-stage code-generated, but not all: P3's ``exists`` lambda
(``_all_numeric``) is a higher-order function, which falls back from
whole-stage codegen, so the filter that carries it generates its
predicate again for every partition (~1.4 ms each on a 4-core host).

Instead of silently log-dropping rejects like the reference, rejects carry a
``reject_reason`` so callers can route them to a dead-letter sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Reject-reason codes (stable strings; used by dead-letter sinks and tests).
REASON_EMPTY = "empty"
REASON_INFO = "info_frame"
REASON_NON_NUMERIC = "non_numeric"
REASON_ODD_PARITY = "odd_parity"
REASON_BYTE_RANGE = "byte_range"
REASON_NO_VALUES = "no_values"
VALID = "valid"


def tokenize(line: Column) -> Column:
    """P1: strip + split on runs of whitespace -> array<string>.

    The reference splits on a single space; real frames occasionally carry
    double spaces, so we split on ``\\s+`` after trimming (a strict superset
    that never rejects a frame the reference would accept).
    """
    return F.split(F.trim(line), r"\s+")


def _is_blank(line: Column) -> Column:
    return F.trim(line) == ""


def _is_info(toks: Column) -> Column:
    """P2: info/echo lines start with '>' ; CRC-noise lines start with '?'."""
    first = F.element_at(toks, 1)
    return first.startswith(">") | first.startswith("?")


def _all_numeric(toks: Column) -> Column:
    """P3: every token castable to a FINITE double (cast -> null marks
    failure; NaN/Inf also reject — measurement frames are finite)."""

    def bad(t: Column) -> Column:
        v = t.try_cast("double")
        return v.isNull() | F.isnan(v) | (F.abs(v) == F.lit(float("inf")))

    return ~F.exists(toks, bad)


def classify_frames(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Annotate raw text lines with tokens + a reject_reason classification.

    Output columns: input columns + ``toks array<string>``,
    ``reject_reason string`` (= 'valid' for accepted frames).
    Serial-path semantics (float values allowed); RFM2Pi adds parity/range
    checks via :func:`classify_rfm2pi_frames`.
    """
    line = F.col(line_col)
    toks = tokenize(line)
    reason = (
        F.when(_is_blank(line), F.lit(REASON_EMPTY))
        .when(_is_info(toks), F.lit(REASON_INFO))
        .when(~_all_numeric(toks), F.lit(REASON_NON_NUMERIC))
        .when(F.size(toks) < 2, F.lit(REASON_NO_VALUES))
        # A node id outside int range cannot be projected (P6); like the
        # RFM2Pi bad-node check it rejects the whole frame.
        .when(_serial_node(toks).isNull(), F.lit(REASON_NON_NUMERIC))
        .otherwise(F.lit(VALID))
    )
    return df.withColumn("toks", toks).withColumn("reject_reason", reason)


def _serial_node(toks: Column) -> Column:
    """P6 serial node id: int(float(tok0)), null when outside int range."""
    return F.element_at(toks, 1).try_cast("double").try_cast("int")


def parse_serial_frames(df: DataFrame, line_col: str = "line") -> DataFrame:
    """P1+P2+P3+P6: raw lines -> valid serial frames.

    Returns accepted rows only, with ``node int`` and
    ``values array<double>`` (variable arity, reference §1.1).
    """
    cls = classify_frames(df, line_col)
    good = cls.filter(F.col("reject_reason") == VALID)
    toks = F.col("toks")
    return (
        good.withColumn("node", _serial_node(toks))
        .withColumn(
            "values",
            F.transform(F.slice(toks, 2, F.size(toks) - 1), lambda t: t.try_cast("double")),
        )
        .drop("toks", "reject_reason")
    )


def decode_int16_pairs(byte_vals: Column) -> Column:
    """P5: array<double> of bytes (lo, hi, lo, hi, ...) -> array<int> of
    little-endian signed 16-bit values.

    Two's-complement boundary is ``>= 32768`` (the mathematically correct
    decode; covers -32768..32767 — the reference's ``> 32768`` would map
    -32768 to +32768, a latent bug we do not reproduce).

    Implementation note: built from index-filter + zip_with rather than
    ``transform(sequence, i -> element_at(arr, i))`` — array higher-order
    functions evaluate interpreted (no codegen, no common-subexpression
    elimination), so an element_at over a computed array re-evaluates that
    array expression PER ELEMENT.  filter/zip_with evaluate their array
    children once per row: O(n) instead of O(n^2) expression work.
    """
    lo = F.filter(byte_vals, lambda x, i: i % 2 == 0)
    hi = F.filter(byte_vals, lambda x, i: i % 2 == 1)

    def pair(lo_b: Column, hi_b: Column) -> Column:
        raw = lo_b.cast("int") + F.lit(256) * hi_b.cast("int")
        return F.when(raw >= 32768, raw - 65536).otherwise(raw)

    return F.zip_with(lo, hi, pair)


def classify_rfm2pi_frames(df: DataFrame, line_col: str = "line") -> DataFrame:
    """RFM2Pi classification = serial classification + P4 parity + byte range.

    Byte tokens must be integers in [0, 255]; the count after the node id
    must be even (pairs).  Any violation rejects the whole frame.
    """
    cls = classify_frames(df, line_col)
    toks = F.col("toks")
    # Parse each byte token ONCE (try_cast int: null <=> not an integer
    # literal, matching the reference's int() cast-or-reject); the checks
    # below are then cheap integer ops instead of repeated string parses.
    cls = cls.withColumn(
        "_bytes",
        F.transform(
            F.slice(toks, 2, F.size(toks) - 1), lambda t: t.try_cast("int")
        ),
    )
    bad_byte = F.exists(
        F.col("_bytes"), lambda b: b.isNull() | (b < 0) | (b > 255)
    )
    # The reference int()-casts the node id too — a non-integer node drops
    # the whole frame ("Misformed RX frame"), same as any other token.
    bad_node = F.element_at(toks, 1).try_cast("int").isNull()
    reason = (
        F.when(F.col("reject_reason") != VALID, F.col("reject_reason"))
        .when(F.size(toks) < 2, F.lit(REASON_NO_VALUES))
        .when(bad_node, F.lit(REASON_NON_NUMERIC))
        .when(bad_byte, F.lit(REASON_BYTE_RANGE))
        .when(F.size(F.col("_bytes")) % 2 != 0, F.lit(REASON_ODD_PARITY))
        .otherwise(F.lit(VALID))
    )
    return cls.withColumn("reject_reason", reason)


def parse_rfm2pi_frames(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Full RFM2Pi chain: classify + P6 project + P5 int16 decode.

    Returns accepted rows with ``node int``, ``values array<int>``.
    """
    cls = classify_rfm2pi_frames(df, line_col)
    good = cls.filter(F.col("reject_reason") == VALID)
    toks = F.col("toks")
    return (
        good.withColumn("node", F.element_at(toks, 1).try_cast("int"))
        .withColumn("values", decode_int16_pairs(F.col("_bytes")))
        .drop("toks", "reject_reason", "_bytes")
    )


def dead_letter(df: DataFrame, line_col: str = "line", rfm2pi: bool = False) -> DataFrame:
    """Rejected frames with their reason — the dead-letter channel the
    reference lacks (it only logged 'Misformed RX frame' and dropped)."""
    cls = classify_rfm2pi_frames(df, line_col) if rfm2pi else classify_frames(df, line_col)
    drop = ["toks", "_bytes"] if rfm2pi else ["toks"]
    return cls.filter(F.col("reject_reason") != VALID).drop(*drop)


def explode_readings(df: DataFrame) -> DataFrame:
    """Frames (node, values[]) -> long-format readings (node, idx, value).

    The schematized layer (SURVEY §1.3): long format restores columnar
    pruning/pushdown over the variable-arity value arrays.  ``idx`` is
    0-based position within the frame.
    """
    return df.select(
        *[c for c in df.columns if c != "values"],
        F.posexplode("values").alias("idx", "value"),
    )
