"""The emoncms sink's B3 encoder and its foreachBatch entry point: the
payload each micro-batch posts, and when nothing is posted."""

from __future__ import annotations

import json
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from oem_gateway_spark.sinks.emoncms import EmoncmsSink, encode_bulk, sink_rows

SEND_TIME = 1_700_000_100.0


def _data(url: str) -> list:
    return json.loads(parse_qs(urlparse(url).query)["data"][0])


def _batch(spark, rows):
    """(epoch seconds, node, values) rows as a micro-batch of the sink
    query's projected frame, spread over several partitions."""
    return spark.createDataFrame(
        rows, "ingest_ts double, node int, values array<double>"
    ).repartition(3)


def _sink(posted: list[str], **kwargs) -> EmoncmsSink:
    return EmoncmsSink(
        apikey="k",
        poster=lambda u: (posted.append(u), "ok")[1],
        clock=lambda: SEND_TIME,
        **kwargs,
    )


def test_encode_bulk_values():
    """Whole values print as ints; fractional values are kept."""
    rows = [(SEND_TIME, 10, [822.0, 7.5, -3.0, -3.25, 0.0])]
    assert encode_bulk(rows, SEND_TIME) == "[[0,10,822,7.5,-3,-3.25,0]]"


def test_encode_bulk_dt_half_even_non_positive():
    """Δt = round(t - send_time), half to even, never positive for
    buffered rows."""
    rows = [(SEND_TIME - d, n, [1.0]) for n, d in enumerate([0.5, 1.5, 2.5, 3.6])]
    dts = [r[0] for r in json.loads(encode_bulk(rows, SEND_TIME))]
    assert dts == [-4, -2, -2, 0]


def test_encode_bulk_orders_by_time_then_node():
    rows = [
        (SEND_TIME - 1, 12, [1.0]),
        (SEND_TIME - 2, 11, [2.0]),
        (SEND_TIME - 1, 10, [3.0]),
    ]
    out = json.loads(encode_bulk(rows, SEND_TIME))
    assert [(r[0], r[1]) for r in out] == [(-2, 11), (-1, 10), (-1, 12)]


def test_process_batch_posts_encode_bulk_of_its_rows(spark):
    rows = [
        (SEND_TIME - 3.25, 11, [7.5, -3.25]),
        (SEND_TIME - 1.5, 10, [822.0, 1021.0, 1.0]),
        (SEND_TIME - 0.5, 12, [1.0, 2.0, 3.0]),
        (SEND_TIME - 3.25, 10, [5.0]),
    ]
    posted: list[str] = []
    sink = _sink(posted)
    sink.process_batch(_batch(spark, rows), 7)
    assert posted == [sink.build_url(encode_bulk(rows, SEND_TIME), SEND_TIME)]
    assert sink.delivered_batches == [7]


def test_empty_or_inactive_batch_posts_nothing(spark):
    posted: list[str] = []
    sink = _sink(posted)
    sink.process_batch(_batch(spark, []), 0)
    inactive = _sink(posted, active=False)
    inactive.process_batch(_batch(spark, [(SEND_TIME, 10, [1.0])]), 1)
    assert posted == []
    assert sink.delivered_batches == [] and inactive.delivered_batches == []


def test_reading_beyond_long_range_is_delivered(spark):
    """``10 1e19`` is a valid frame; its reading exceeds a long and is
    posted as the exact integer."""
    posted: list[str] = []
    _sink(posted).process_batch(_batch(spark, [(SEND_TIME - 1, 10, [1e19, 0.5])]), 0)
    assert len(posted) == 1
    assert _data(posted[0]) == [[-1, 10, 10**19, 0.5]]


def test_sink_rows_cast_ingest_ts_to_epoch_seconds(spark):
    """The projection the sink query plans: a parsed frame's timestamp
    becomes epoch seconds as a double."""
    t = SEND_TIME - 1.25
    parsed = spark.createDataFrame(
        [(t, 10, [1.0])], "t double, node int, values array<double>"
    ).select(F.col("t").cast("timestamp").alias("ingest_ts"), "node", "values")
    out = sink_rows(parsed)
    assert out.dtypes == [
        ("ingest_ts", "double"), ("node", "int"), ("values", "array<double>")
    ]
    assert [tuple(r) for r in out.collect()] == [(t, 10, [1.0])]
