"""emoncms-style HTTP bulk sink (reference buffer semantics B1-B6).

Ref: oemgatewaybuffer.py :: OemGatewayEmoncmsBuffer._send_data (~l.80-115):
  - B3 encode the buffered rows as ``[[dt,node,v...],...]`` with dt relative
    to send time (non-positive seconds)
  - B4 GET ``/input/bulk.json?apikey=...&data=...``; success iff body 'ok';
    apikey redacted from logs
  - B5 on failure keep the buffer -> retry next tick (at-least-once)
  - B6 send every ~0.2 s tick

Engine mapping: one ``foreachBatch`` function per sink.  The sink query's
own plan projects the parsed frames to ``sink_rows``, with ``ingest_ts``
cast to epoch seconds in Spark, so Δt does not depend on the Python
process's time zone and no batch builds a projection of its own.  The
payload is built on the driver from the batch's rows, one collect per
batch: B4 is one GET carrying the whole batch, so every row reaches the
driver anyway.  Structured Streaming's
checkpoint replays a failed micro-batch, giving the same
at-least-once contract with no hand-rolled buffer and no loss cap (the
reference drops oldest rows beyond its buffer bound; we never drop — the
B2 upgrade).  We send absolute epoch via ``&time=`` (same server semantics,
no clock-skew precision loss).

The HTTP transport is injectable (``poster``) so tests run without a
server and failure injection is trivial; the default uses urllib.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from urllib.parse import urlencode

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("oem_gateway_spark.sinks.emoncms")

Poster = Callable[[str], str]  # url -> response body


def _default_poster(url: str, timeout_s: float = 60.0) -> str:
    """GET the bulk URL (ref uses urllib2.urlopen with timeout=60)."""
    from urllib.request import urlopen

    with urlopen(url, timeout=timeout_s) as resp:  # noqa: S310
        return resp.read().decode("utf-8", errors="replace")


def _redact(url: str) -> str:
    """Ref B4: never log the apikey."""
    import re

    return re.sub(r"(apikey=)[^&]+", r"\1***", url)


def encode_bulk(rows: list[tuple[float, int, list[float]]], send_time: float) -> str:
    """B3: [(t, node, values), ...] -> emoncms bulk JSON with Δt offsets.

    Rows are ordered by (t, node), so the payload does not depend on how
    the batch was partitioned.  Δt = round(t - send_time) — half-even,
    non-positive for buffered rows, matching the reference's relative-time
    encoding (~l.85).  Values that are whole numbers serialize as ints
    (emoncms is tolerant; keeps payloads small), however large.
    """
    out = [
        [round(t - send_time), int(node)]
        + [int(v) if isinstance(v, float) and v.is_integer() else v for v in values]
        for t, node, values in sorted(rows, key=lambda r: (r[0], r[1]))
    ]
    return json.dumps(out, separators=(",", ":"))


def sink_rows(parsed: DataFrame) -> DataFrame:
    """Parsed frames as the rows ``process_batch`` posts: ingest_ts as
    epoch seconds (a double), node and values."""
    return parsed.select(F.col("ingest_ts").cast("double"), "node", "values")


class EmoncmsSink:
    """foreachBatch writer delivering parsed frames to an emoncms server.

    Expects the rows of ``sink_rows``: (ingest_ts double, node int,
    values array<double>).  ``active`` mirrors the reference's per-sink
    gate (P8) — an inactive sink acknowledges batches without sending.
    """

    def __init__(
        self,
        domain: str = "localhost",
        path: str = "/emoncms",
        apikey: str = "",
        protocol: str = "http://",
        active: bool = True,
        poster: Poster | None = None,
        max_attempts: int = 3,
        clock: Callable[[], float] = time.time,
    ):
        self.domain = domain
        self.path = path
        self.apikey = apikey
        self.protocol = protocol
        self.active = active
        self.poster = poster or _default_poster
        self.max_attempts = max_attempts
        self.clock = clock
        self.delivered_batches: list[int] = []  # observability/tests

    def build_url(self, data_json: str, send_time: float) -> str:
        q = urlencode(
            {
                "apikey": self.apikey,
                "data": data_json,
                "time": int(round(send_time)),
            }
        )
        return f"{self.protocol}{self.domain}{self.path}/input/bulk.json?{q}"

    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        """The foreachBatch entry point (B4-B6).

        Raises on delivery failure after bounded in-batch retries -> the
        engine re-runs this micro-batch from the checkpoint (B5,
        at-least-once; duplicates possible server-side, like the reference).
        """
        if not self.active:  # P8 gate
            return
        rows = df.collect()
        if not rows:
            return
        send_time = self.clock()
        payload = encode_bulk(rows, send_time)
        url = self.build_url(payload, send_time)
        last_err: Exception | None = None
        for attempt in range(self.max_attempts):
            try:
                body = self.poster(url)
                if body.strip() == "ok":  # B4 ack contract
                    self.delivered_batches.append(batch_id)
                    log.debug("batch %s delivered: %s", batch_id, _redact(url))
                    return
                last_err = RuntimeError(f"server said {body!r}")
            except Exception as e:  # noqa: BLE001
                last_err = e
            log.warning(
                "batch %s attempt %d failed (%s): %s",
                batch_id,
                attempt + 1,
                last_err,
                _redact(url),
            )
        raise RuntimeError(
            f"emoncms delivery failed for batch {batch_id}: {last_err}"
        )

