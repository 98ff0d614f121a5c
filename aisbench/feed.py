"""Open-loop TCP NMEA feed, run as its own process: the reference's ingress
server, played from a file of pre-rendered lines at a constant rate.

Protocol with the parent (stdout lines, then stdin):

    PORT <port>             listening on 127.0.0.1:<port>
    (parent writes GO)      once a client has connected: start the warm-up
    (parent writes MEASURE) end the warm-up and start the timed lines
    T0 <monotonic> <k>      timed line i is line k + i of the file, due at
                            T0 + i / rate
    DONE <json>             every timed line sent; how late they went out
    (parent closes stdin)   the feed closes the connection and exits

Both phases send lines evenly spaced at ``--rate``; the timed phase sends
``timed_lines(rate, seconds)`` lines, and the warm-up never uses them (when
it runs out of lines, it waits for MEASURE). The process has one sending
thread, one thread reading the parent's commands and one connection. It
never slows when the receiver does: it sends whatever is due, and records
how late each send ran.

Usage: python3 aisbench/feed.py --lines FILE --rate 300 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import queue
import socket
import sys
import threading
import time


def timed_lines(rate: float, seconds: float) -> int:
    return int(round(rate * seconds))


def play(conn: socket.socket, lines: list[bytes], rate: float, t0: float,
         stop=lambda: False) -> list[float]:
    """Send ``lines[i]`` at ``t0 + i / rate``, catching up in one write when
    behind, until every line is sent or ``stop()`` is true. Returns how
    late each sent line went out."""
    late: list[float] = []
    i = 0
    while i < len(lines) and not stop():
        now = time.monotonic() - t0
        if i / rate > now:
            time.sleep(min(i / rate - now, 0.005))
            continue
        j = min(len(lines), int(now * rate) + 1)
        conn.sendall(b"".join(lines[i:j]))
        sent = time.monotonic() - t0
        late.extend(sent - k / rate for k in range(i, j))
        i = j
    return late


def summary(late: list[float]) -> dict:
    late = sorted(late)
    return {
        "lines": len(late),
        "late_p50_s": late[len(late) // 2] if late else 0.0,
        "late_p99_s": late[min(len(late) - 1, int(0.99 * len(late)))] if late else 0.0,
        "late_max_s": late[-1] if late else 0.0,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lines", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    n = timed_lines(args.rate, args.seconds)
    with open(args.lines, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    spare = len(lines) - n
    if spare < 0:
        raise SystemExit(f"the timed phase needs {n} lines, the file has {len(lines)}")

    commands: queue.Queue[str] = queue.Queue()

    def read_commands() -> None:
        for line in sys.stdin:
            commands.put(line.strip())
        commands.put("EOF")

    srv = socket.create_server(("127.0.0.1", 0))
    print(f"PORT {srv.getsockname()[1]}", flush=True)
    conn, _ = srv.accept()
    srv.close()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    threading.Thread(target=read_commands, daemon=True).start()
    if commands.get() != "GO":
        raise SystemExit("the parent did not start the warm-up")

    warm = play(conn, lines[:spare], args.rate, time.monotonic(),
                stop=lambda: not commands.empty())
    if commands.get() != "MEASURE":
        raise SystemExit("the parent did not start the timed phase")
    k = len(warm)
    t0 = time.monotonic()
    print(f"T0 {t0!r} {k}", flush=True)
    late = play(conn, lines[k:k + n], args.rate, t0)
    print("DONE " + json.dumps(summary(late)), flush=True)
    commands.get()  # hold the connection open until the parent is done
    conn.close()


if __name__ == "__main__":
    main()
