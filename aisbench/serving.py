"""The benchmark's side of the serving tier in ``live_feed``: its child
processes (feed generator, WebSocket clients),
the check of a delivered position row, and a sampler of the fan-out
server's per-client queue depth."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from aisbench import truth as T

HERE = os.path.dirname(os.path.abspath(__file__))
CLIENTS = 3
# Per-client queue of the fan-out server. A micro-batch broadcasts its
# positions in one call, so the queue must hold a whole batch: the default
# (1000) would drop the oldest lines of every large batch.
FANOUT_QUEUE = 100_000


class Proc:
    """A child process speaking the line protocol of feed.py/wsclient.py:
    it prints ``KEY value`` lines, may read command lines from its stdin,
    and exits when its stdin closes."""

    def __init__(self, script: str, *args: str):
        self.p = subprocess.Popen([sys.executable, os.path.join(HERE, script), *args],
                                  stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  text=True, bufsize=1)
        self.lines: list[str] = []
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.p.stdout:
            with self._cv:
                self.lines.append(line.rstrip("\n"))
                self._cv.notify_all()
        with self._cv:
            self._cv.notify_all()

    def expect(self, key: str, timeout: float) -> str:
        """The value of the first ``key`` line, waiting up to ``timeout``."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                for line in self.lines:
                    if line.split(" ", 1)[0] == key:
                        return line[len(key):].strip()
                left = deadline - time.monotonic()
                if left <= 0 or (self.p.poll() is not None and not self._reader.is_alive()):
                    raise TimeoutError(f"no {key} from {self.p.args[1]} (exit {self.p.poll()})")
                self._cv.wait(min(left, 0.5))

    def send(self, line: str) -> None:
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def finish(self) -> None:
        """Close stdin and wait up to 30 s for the process to exit."""
        if self.p.stdin and not self.p.stdin.closed:
            self.p.stdin.close()
        try:
            self.p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self._reader.join(timeout=5)


def start_clients(port: int, out: str, rss=None) -> Proc:
    clients = Proc("wsclient.py", "--port", str(port), "--clients", str(CLIENTS), "--out", out)
    if rss is not None:
        rss.exclude.add(clients.p.pid)
    clients.expect("READY", 30)
    return clients


def read_frames(path: str) -> list[tuple[int, float, dict]]:
    out = []
    with open(path) as f:
        for line in f:
            cid, t, payload = json.loads(line)
            out.append((cid, t, json.loads(payload)))
    return out


def line_no(row: dict) -> int:
    """The ``n:`` field of a delivered row's tag block."""
    return int(row["tagblock"].split("n:")[1].split("*")[0])


def same_position(row: dict, m) -> bool:
    """Does a delivered JSON row carry message ``m``'s position?"""
    lon, lat, sog, cog, heading = m.pos
    return (row["mmsi"] == m.mmsi and row["messageType"] == m.mtype
            and row["trueHeading"] == heading
            and all(abs(row[k] - v) <= T.FLOAT_TOL for k, v in
                    (("longitude", lon), ("latitude", lat), ("sog", sog), ("cog", cog))))


class QueueDepth:
    """Highest per-client queue depth of a fan-out server, sampled every
    10 ms while running. Reads the server's client table under its lock;
    changes nothing."""

    PERIOD_S = 0.01

    def __init__(self, server):
        self.server = server
        self.max = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            with self.server._lock:
                queues = list(self.server._clients.values())
            self.max = max(self.max, max((q.qsize() for q in queues), default=0))

    def __enter__(self) -> "QueueDepth":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
