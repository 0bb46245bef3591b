"""Row-exact equivalence of the vectorized (mapInArrow) parse path vs the
HOF spec in functions/frames.py, over a corpus covering every reject class
and numeric edge case."""

from __future__ import annotations

from oem_gateway_spark.functions import frames as FR
from oem_gateway_spark.functions import frames_pandas as FP

CORPUS = [
    "10 822 1021 1",
    "11  7.5   -3.25",
    "12 0 128 255 255",
    "0 0 0",
    "31 255 127",
    "> info",
    "? crc",
    "",
    "   ",
    "10",
    "10 8a2",
    "10 1_0",
    "10 nan",
    "10 inf",
    "10 1e2 5",
    "10 +5 -0",
    "-3 1 2",
    "10.5 1 2",
    "10 1.5 2",
    "10 300 1",
    "10 1 2 3",
    "10 5.",
    "10 .5",
    # r13 ADVICE whitespace grammar pins: the spec is Spark's
    # F.split(F.trim(line), r"\s+") — trim strips SPACES only and Java
    # \s is [ \t\n\x0B\f\r].  These rows diverge under the previous
    # Arrow port's utf8_trim_whitespace + RE2 \s (no \x0B, Unicode trim)
    # and keep the two paths row-exact on the full grammar.
    "1.5\x0b2.5",          # \x0B IS a Java separator: two valid tokens
    "10 1.5\x0b2.5",
    "\x1c",                # \x1c is NOT a separator and NOT trimmed: non-numeric
    "10 1.5\x1c2.5",
    "\t10 1 2",            # leading tab survives space-trim -> empty edge token
    "10 1 2\t",
    "\x0b",
    " ",              # NBSP: not trimmed, not a separator
    "10 5 1",
    "   \t ",
    "\t> info",            # leading tab defeats the info-frame check on BOTH paths
    # node id at and beyond the int range: out of range rejects the frame
    "2147483647 1 2",
    "2147483647.5 1 2",
    "-2147483648.9 1 2",
    "2147483648 1 2",
    "-2147483649 1 2",
    "99999999999 1 2",
    "1e10 1 2",
]


def _lines_df(spark):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(CORPUS)], "line_id long, line string"
    )


def _rows(df, *cols):
    return sorted(
        tuple(r[c] if not isinstance(r[c], list) else tuple(r[c]) for c in cols)
        for r in df.collect()
    )


def test_serial_parse_equivalence(spark):
    df = _lines_df(spark)
    spec = FR.parse_serial_frames(df)
    fast = FP.parse_serial_frames_fast(df)
    assert _rows(spec, "line_id", "node", "values") == _rows(
        fast, "line_id", "node", "values"
    )


def test_rfm2pi_parse_equivalence(spark):
    df = _lines_df(spark)
    spec = FR.parse_rfm2pi_frames(df)
    fast = FP.parse_rfm2pi_frames_fast(df)
    assert _rows(spec, "line_id", "node", "values") == _rows(
        fast, "line_id", "node", "values"
    )


def test_dead_letter_equivalence(spark):
    df = _lines_df(spark)
    for rfm2pi in (False, True):
        spec = FR.dead_letter(df, rfm2pi=rfm2pi)
        fast = FP.dead_letter_fast(df, rfm2pi=rfm2pi)
        assert _rows(spec, "line_id", "reject_reason") == _rows(
            fast, "line_id", "reject_reason"
        ), f"rfm2pi={rfm2pi}"
