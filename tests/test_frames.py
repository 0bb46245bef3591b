"""Unit tests for the gateway frame grammar (SURVEY §5.2 'unit' tier):
hand-computed goldens for parse, reject classes, and int16 decode
boundaries (-32768, -1, 0, 32767)."""

from __future__ import annotations

from oem_gateway_spark.functions import frames as FR


def _lines_df(spark, lines):
    return spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "line_id long, line string")


def test_serial_parse_and_reject_classes(spark):
    lines = [
        "10 822 1021 1",        # valid
        "11  7.5   -3.25",      # valid, multi-space, floats, negative
        "> info line",          # info frame (P2)
        "? sync error",         # CRC noise
        "10 8a2 3",             # non-numeric -> whole-row reject (P3)
        "   ",                  # empty
        "12",                   # node only, no values
    ]
    df = _lines_df(spark, lines)
    parsed = {r["line_id"]: r for r in FR.parse_serial_frames(df).collect()}
    assert set(parsed) == {0, 1}
    assert parsed[0]["node"] == 10 and parsed[0]["values"] == [822.0, 1021.0, 1.0]
    assert parsed[1]["node"] == 11 and parsed[1]["values"] == [7.5, -3.25]

    dead = {r["line_id"]: r["reject_reason"] for r in FR.dead_letter(df).collect()}
    assert dead == {
        2: FR.REASON_INFO,
        3: FR.REASON_INFO,
        4: FR.REASON_NON_NUMERIC,
        5: FR.REASON_EMPTY,
        6: FR.REASON_NO_VALUES,
    }


def test_serial_node_out_of_int_range_is_dead_lettered(spark):
    """A node id beyond int range cannot be projected: the frame is
    rejected as non-numeric instead of failing the parse, and the other
    rows still parse."""
    lines = [
        "99999999999 1 2",      # node > int max
        "-2147483649 1",        # node < int min
        "2147483647.5 3",       # truncates to int max: valid
        "10 1 2",
    ]
    df = _lines_df(spark, lines)
    parsed = {r["line_id"]: r["node"] for r in FR.parse_serial_frames(df).collect()}
    assert parsed == {2: 2147483647, 3: 10}
    dead = {r["line_id"]: r["reject_reason"] for r in FR.dead_letter(df).collect()}
    assert dead == {0: FR.REASON_NON_NUMERIC, 1: FR.REASON_NON_NUMERIC}


def test_rfm2pi_int16_decode_boundaries(spark):
    # byte pairs (lo hi): 0 128 -> -32768; 255 255 -> -1; 0 0 -> 0;
    # 255 127 -> 32767  (ref decode ~l.160-170; >= 32768 two's complement)
    df = _lines_df(spark, ["10 0 128 255 255 0 0 255 127"])
    rows = FR.parse_rfm2pi_frames(df).collect()
    assert len(rows) == 1
    assert rows[0]["node"] == 10
    assert rows[0]["values"] == [-32768, -1, 0, 32767]


def test_rfm2pi_rejects(spark):
    lines = [
        "10 1 2 3",       # odd byte count -> parity reject (P4)
        "10 300 1",       # byte out of range
        "10 1.5 2",       # non-integer byte
        "10 1 2",         # valid pair
    ]
    df = _lines_df(spark, lines)
    dead = {r["line_id"]: r["reject_reason"] for r in FR.dead_letter(df, rfm2pi=True).collect()}
    assert dead == {0: FR.REASON_ODD_PARITY, 1: FR.REASON_BYTE_RANGE, 2: FR.REASON_BYTE_RANGE}
    ok = FR.parse_rfm2pi_frames(df).collect()
    assert len(ok) == 1 and ok[0]["values"] == [513]  # 1 + 256*2


def test_explode_readings(spark):
    df = _lines_df(spark, ["5 1 2 3"])
    out = FR.explode_readings(FR.parse_serial_frames(df)).collect()
    assert [(r["idx"], r["value"]) for r in out] == [(0, 1.0), (1, 2.0), (2, 3.0)]
