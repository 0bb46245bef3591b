"""Open-loop frame generator for the ``gateway_live`` workload.

Run as its own process::

    python3 perfbench/loadgen.py --seed 1 --rate 40 --seconds 30

It listens on a loopback port and prints ``{"port": N}``.  It then reads
one line from stdin, the CLOCK_MONOTONIC start time ``t0`` chosen by the
benchmark (both processes read the same clock), and offers frame ``i``
at ``t0 + i / rate`` until ``t0 + seconds``.  Every connection receives
the whole stream: one that connects late is first sent every frame
already due.  Sending is batched per 2 ms tick; how late each tick ran
is recorded.  After the last frame it keeps the connections open until
stdin closes, then prints one JSON summary line and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from frames import FrameSpec  # noqa: E402

# 4 of 64 frames are info lines.  No document gives their share in a
# deployment (the RFM2Pi prints them on start-up and on commands); this
# share gives the dead letter's per-batch job rows on most 1 s ticks.
LIVE_REJECTS = {"info_frame": 4}
TICK_S = 0.002


class Fanout:
    """The connections accepted so far and the bytes each has been sent."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.conns: list[socket.socket] = []
        self.sent: list[bytes] = []

    def accept_loop(self, server: socket.socket) -> None:
        while True:
            try:
                conn, _ = server.accept()
            except OSError:
                return  # server closed
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self.lock:
                backlog = b"".join(self.sent)
                if backlog:
                    conn.sendall(backlog)
                self.conns.append(conn)

    def send(self, chunk: bytes) -> None:
        with self.lock:
            self.sent.append(chunk)
            for c in self.conns:
                c.sendall(chunk)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    spec = FrameSpec(args.seed, LIVE_REJECTS)
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.bind(("127.0.0.1", 0))
    server.listen(16)
    fan = Fanout()
    threading.Thread(target=fan.accept_loop, args=(server,), daemon=True).start()
    print(json.dumps({"port": server.getsockname()[1]}), flush=True)

    t0 = float(sys.stdin.readline())
    n_total = int(args.seconds * args.rate)
    late_ms: list[float] = []
    i = 0
    while i < n_total:
        now = time.monotonic()
        due_n = min(n_total, int((now - t0) * args.rate) + 1) if now >= t0 else 0
        if due_n > i:
            late_ms.append((now - (t0 + i / args.rate)) * 1000.0)
            lines = [
                spec.line(k, round(k * 1e6 / args.rate)) for k in range(i, due_n)
            ]
            fan.send(("\n".join(lines) + "\n").encode())
            i = due_n
        time.sleep(TICK_S)

    sys.stdin.read()  # until the benchmark closes our stdin
    server.close()
    with fan.lock:
        n_conns = len(fan.conns)
        for c in fan.conns:
            c.close()
    late_ms.sort()
    p99 = late_ms[min(len(late_ms) - 1, int(0.99 * len(late_ms)))] if late_ms else 0.0
    print(json.dumps({"frames": n_total, "connections": n_conns, "late_p99_ms": p99}), flush=True)


if __name__ == "__main__":
    main()
