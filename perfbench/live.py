"""``gateway_live``: an open loop over a loopback socket.

``loadgen.py``, a separate process, offers frames at ``RATE`` frames/s to
``GatewayPipeline`` with one ``socket`` listener, one emoncms buffer whose
``poster`` is the benchmark's, and the dead letter, on a ``TRIGGER_MS``
tick that the micro-batches keep (with the default 200 ms tick they run
back to back, and the latency becomes a multiple of the batch time that
swings with the host's speed).  Set-up ends when ``pipe.start()``
returns.  Frames due in the first ``WARM_S`` seconds are warm-up; the
frames due in the next ``--seconds`` are measured.  Each frame's ack
latency runs from its scheduled send time (stamped in the frame) to the
return of the poster call that carried it.  After the last frame the
benchmark waits until every query has read every frame, stops the
pipeline and checks the acked rows and the dead letter against the
generator's formula.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

from checks import check_live, posted_rows
from frames import VALID, FrameSpec
from harness import WORK, files_and_mb, median, pct, stage_totals, wait_listener_bus
from loadgen import LIVE_REJECTS

# One RFM2Pi serial link at its ceiling: 9600 baud carries about 40
# frames of 24 bytes a second (BASELINE.md, SURVEY.md).
RATE = 40.0
TRIGGER_MS = 1000
WARM_S = 5.0
DRAIN_S = 30.0
HERE = os.path.dirname(os.path.abspath(__file__))


def run(ctx) -> dict:
    offer_s = WARM_S + ctx.seconds
    n_total = int(offer_s * RATE)
    spec = FrameSpec(ctx.seed, LIVE_REJECTS)
    with ctx.generating():
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--seed", str(ctx.seed),
             "--rate", str(RATE), "--seconds", str(offer_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        port = json.loads(gen.stdout.readline())["port"]
    ctx.sampler.exclude.add(gen.pid)
    try:
        return _run(ctx, gen, port, spec, n_total, offer_s)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()


def _run(ctx, gen, port, spec, n_total, offer_s) -> dict:
    from oem_gateway_spark.config import BufferConfig, GatewayConfig, ListenerConfig
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    spark = ctx.start_spark()
    tr = ctx.tracer
    listener = None
    if tr.enabled:
        from harness import progress_listener

        listener = progress_listener(spark)

    posts: list[tuple[float, float, str]] = []  # (call, return, url)

    def poster(url: str) -> str:
        t_in = time.monotonic()
        posts.append((t_in, time.monotonic(), url))
        return "ok"

    config = GatewayConfig(
        listeners={"live": ListenerConfig(name="live", type="socket", host="127.0.0.1", port=port)},
        buffers={"emoncms": BufferConfig(name="emoncms", apikey="perfbench")},
        trigger_ms=TRIGGER_MS,
    )
    pipe = GatewayPipeline(spark, config, str(WORK / "ckpt"), poster=poster)
    start = time.monotonic()
    with tr.span("pipeline.start", op="pipeline"):
        queries = pipe.start()
    ctx.setup_done(start)
    t0 = time.monotonic() + 0.2
    gen.stdin.write(f"{t0!r}\n")
    gen.stdin.flush()
    t_lo, t_hi = t0 + WARM_S, t0 + offer_s

    backlog: list[float] = []
    stop_sampling = threading.Event()
    if tr.enabled:
        threading.Thread(target=_sample_backlog, daemon=True,
                         args=(spec, posts, t0, t_lo, t_hi, backlog, stop_sampling)).start()

    time.sleep(max(0.0, t_hi - time.monotonic()))

    errors: list[str] = []
    drained = _wait_drained(queries, n_total, DRAIN_S)
    if not drained:
        errors.append(f"live: queries had not read all {n_total} frames {DRAIN_S} s "
                      f"after the last was due")
    broken = [f"{q.name}: {q.exception()}" for q in queries if q.exception() is not None]
    errors += broken
    progress = {str(q.runId): [json.loads(p.json) for p in q.recentProgress] for q in queries}
    with tr.span("pipeline.stop", op="pipeline"):
        pipe.stop()
    stop_sampling.set()
    gen.stdin.close()
    summary = json.loads(gen.stdout.readline())

    rows = [r for _, _, url in posts for r in posted_rows(url)]
    dl = spark.read.parquet(str(WORK / "ckpt" / "dead-letter")).select("line", "reject_reason")
    dead = [tuple(r) for r in dl.collect()]
    errors += check_live(spec, n_total, RATE, rows, dead)
    # a frame fails when it is neither acked nor dead-lettered
    delivered = {int(r[2]) for r in rows} | {int(line.split()[1]) for line, _ in dead}
    failed = n_total - len(delivered & set(range(n_total)))

    lat, last_ack = [], t_lo
    for _, t_out, url in posts:
        for r in posted_rows(url):
            due = t0 + r[3] / 1e6
            if t_lo <= due < t_hi and spec.cls[int(r[2]) % len(spec.cls)] == VALID:
                lat.append(1e3 * (t_out - due))
                last_ack = max(last_ack, t_out)
    window = [e for evs in progress.values() for e in evs
              if e["numInputRows"] > 0 and t_lo <= _mono(tr, e["timestamp"]) < t_hi]
    busy_s = sum(e["durationMs"]["triggerExecution"] for e in window) / 1e3
    metrics = {
        "ack_latency_p50_ms": pct(lat, 50),
        "ack_latency_p90_ms": pct(lat, 90),
        "frames_per_s": len(lat) / max(1e-9, last_ack - t_lo),
        "queries_per_s": len(window) / busy_s,
    }
    if tr.enabled:
        L = ctx.layers
        wait_listener_bus(spark)
        for t_in, t_out, url in posts:
            tr.add("sinks.emoncms.post", t_in, t_out, op="pipeline", parent=None)
        from harness import batch_spans, streaming_layer

        batch_spans(tr, listener.events, op="batches")
        sinks = {"gateway-sink-emoncms": "emoncms", "gateway-dead-letter": "dead_letter"}
        L.update(streaming_layer(window, sinks))
        L["streaming.batches"] = float(len(listener.events))
        L["sources.rows_read_total"] = float(sum(e["numInputRows"] for e in listener.events))
        L["sources.connections"] = float(summary["connections"])
        L["sources.gen_late_p99_ms"] = float(summary["late_p99_ms"])
        L["sources.backlog_frames_max"] = max(backlog, default=0.0)
        L["sinks.emoncms.posts"] = float(len(posts))
        L["sinks.emoncms.rows_per_post_p50"] = median([len(posted_rows(u)) for _, _, u in posts])
        L["sinks.emoncms.payload_kb_p50"] = median([len(u) / 1024 for _, _, u in posts])
        L["sinks.dead_letter.files"] = float(files_and_mb(WORK / "ckpt" / "dead-letter")[0])
        tot: dict[str, float] = {}
        for g in progress:
            for key, v in stage_totals(spark, g).items():
                tot[key] = tot.get(key, 0.0) + v
        L.update({f"exec.{k}": v for k, v in tot.items()})
    return {"metrics": metrics, "errors": errors, "failed": failed, "attempted": n_total}


def _mono(tr, iso: str) -> float:
    """A progress event's wall-clock timestamp on CLOCK_MONOTONIC."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() - tr.wall_offset


def _wait_drained(queries, n_total: int, timeout_s: float) -> bool:
    """True once every query has committed a batch covering all frames."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if all(sum(p.numInputRows for p in q.recentProgress) >= n_total for q in queries):
            return True
        time.sleep(0.25)
    return False


def _sample_backlog(spec, posts, t0, t_lo, t_hi, out, stop) -> None:
    """Each second of the measured window: valid frames sent minus valid
    frames acked."""
    parsed, acked = 0, 0
    while not stop.wait(1.0):
        now = time.monotonic()
        if now >= t_hi:
            return
        while parsed < len(posts):
            acked += len(posted_rows(posts[parsed][2]))
            parsed += 1
        if now >= t_lo:
            sent = spec.count(VALID, int((now - t0) * RATE) + 1)
            out.append(float(sent - acked))
