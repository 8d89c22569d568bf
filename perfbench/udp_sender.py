"""Open-loop UDP sender, run as its own process.

Replays a length-prefixed datagram file to 127.0.0.1:port on a fixed
schedule: datagram i is due at start + i / rate (seconds on the
system-wide monotonic clock, so the benchmark can compute each
datagram's due time from its header sequence number). The schedule
never waits for the listener; a short lag is caught up at once. The
sender reports the largest lag behind the schedule and the share of
datagrams sent over 10 ms late; it fell behind, and the run is marked
invalid, when any datagram went out more than MAX_LATE_S late.

    python3 perfbench/udp_sender.py --file D --port P --rate R --start T

Prints one JSON object: sent, late_max_s, late_share, valid.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import read_datagrams  # noqa: E402

MAX_LATE_S = 0.25


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--file", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True,
                    help="datagrams per second")
    ap.add_argument("--start", type=float, required=True,
                    help="time.monotonic() at which datagram 0 is due")
    args = ap.parse_args()

    payloads = read_datagrams(args.file)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    late_max = 0.0
    late = 0
    try:
        for i, p in enumerate(payloads):
            due = args.start + i / args.rate
            wait = due - time.monotonic()
            if wait > 0.002:
                time.sleep(wait - 0.001)
            while time.monotonic() < due:
                pass
            lag = time.monotonic() - due
            late_max = max(late_max, lag)
            late += lag > 0.01
            try:
                sock.sendto(p, ("127.0.0.1", args.port))
            except (ConnectionRefusedError, BlockingIOError):
                # the listener's loss, not the sender's: keep the schedule
                pass
    finally:
        sock.close()
    share = late / max(1, len(payloads))
    print(json.dumps({"sent": len(payloads), "late_max_s": late_max,
                      "late_share": share,
                      "valid": late_max <= MAX_LATE_S}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
