"""Delivery sinks: the reference's buffers (SURVEY §2.4) as foreachBatch
writers with engine-managed at-least-once semantics."""

from oem_gateway_spark.sinks.emoncms import EmoncmsSink, encode_bulk  # noqa: F401
