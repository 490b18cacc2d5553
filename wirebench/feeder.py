"""Out-of-process SBS-1 feeder: an open-loop dump1090 :30003 stand-in.

Usage (the benchmark starts it; it can also be run by hand):

    python3 wirebench/feeder.py --seed 1 --steady 8

It listens on an ephemeral localhost port and prints ``port <n>`` at
once, then generates its traffic (``trafficgen.live_traffic``: the
warm-up, then ``--steady`` seconds) while the consumer starts.  Once the
consumer has connected and a ``go`` line arrives on stdin it fixes the
feed start ``t0`` one second ahead, renders every line with its due
time (``t0`` + the line's offset) as the SBS-1 generated/logged time,
and sends each line when it is due.  The schedule never waits for the
consumer: a slow consumer only makes the kernel buffer grow.  After the
last line it prints one JSON line (``t0_ms``, lines sent in all and in
the steady window, how late it sent (p99), the phase marks and
the truth events) and holds the connection open until its stdin
closes.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import percentile  # noqa: E402
from trafficgen import live_traffic, render  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--steady", type=float, required=True)
    a = ap.parse_args(argv)
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    print(f"port {srv.getsockname()[1]}", flush=True)
    traffic = live_traffic(a.seed, a.steady)
    offsets = [m.t_ms for m in traffic.msgs]
    steady_start, steady_end = traffic.marks["steady_start_ms"], traffic.marks["steady_end_ms"]
    conn, _ = srv.accept()
    srv.close()
    if sys.stdin.readline().strip() != "go":
        return 1
    t0_ms = int(time.time() * 1000) + 1000
    data = [(render(m, t0_ms) + "\n").encode() for m in traffic.msgs]
    lag_ms: list[float] = []
    i, n = 0, len(data)
    while i < n:
        now_ms = time.time() * 1000 - t0_ms
        if offsets[i] > now_ms:
            time.sleep(min(0.002, (offsets[i] - now_ms) / 1000))
            continue
        j = i
        while j < n and offsets[j] <= now_ms:
            j += 1
        conn.sendall(b"".join(data[i:j]))
        sent_ms = time.time() * 1000 - t0_ms
        lag_ms.extend(sent_ms - offsets[k] for k in range(i, j))
        i = j
    done_ms = time.time() * 1000
    print(json.dumps({
        "t0_ms": t0_ms, "sent": n, "done_ms": done_ms, "lag_ms_p99": percentile(lag_ms, 99),
        "steady": sum(1 for t in offsets if steady_start <= t < steady_end),
        "marks": traffic.marks, "events": traffic.events,
    }), flush=True)
    sys.stdin.read()  # hold the connection until the benchmark is done
    conn.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
