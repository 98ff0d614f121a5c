"""Benchmark WebSocket clients, run as their own process: they stand in for
the browsers of a VTS operator.

Each client performs the RFC 6455 upgrade, then reads text frames and
stamps each with ``time.monotonic()`` at the moment the bytes that complete
it arrive. One thread serves every client through a selector.

Protocol with the parent: prints ``READY`` once every client is upgraded;
runs until stdin is closed; then writes ``--out`` (one JSON line per
frame: ``[client, t_recv, payload]``) and prints ``DONE <frames>``.

Usage: python3 aisbench/wsclient.py --port P --clients 3 --out FILE
"""

from __future__ import annotations

import argparse
import base64
import gc
import json
import os
import selectors
import socket
import struct
import sys
import threading
import time


def handshake(port: int) -> tuple[socket.socket, bytes]:
    sock = socket.create_connection(("127.0.0.1", port), timeout=10)
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    sock.sendall(
        (
            "GET / HTTP/1.1\r\nHost: 127.0.0.1\r\nUpgrade: websocket\r\n"
            "Connection: Upgrade\r\nSec-WebSocket-Version: 13\r\n"
            f"Sec-WebSocket-Key: {key}\r\n\r\n"
        ).encode("ascii")
    )
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = sock.recv(4096)
        if not chunk:
            raise ConnectionError("server closed during the upgrade")
        data += chunk
    head, rest = data.split(b"\r\n\r\n", 1)
    if not head.startswith(b"HTTP/1.1 101"):
        raise ConnectionError(head.decode("latin-1"))
    sock.settimeout(None)
    sock.setblocking(False)
    return sock, rest


def parse_frames(buf: bytearray) -> list[tuple[int, bytes]]:
    """Pop complete unmasked server frames off ``buf``."""
    out = []
    while len(buf) >= 2:
        opcode = buf[0] & 0x0F
        n = buf[1] & 0x7F
        i = 2
        if n == 126:
            if len(buf) < 4:
                break
            n = struct.unpack_from(">H", buf, 2)[0]
            i = 4
        elif n == 127:
            if len(buf) < 10:
                break
            n = struct.unpack_from(">Q", buf, 2)[0]
            i = 10
        if len(buf) < i + n:
            break
        out.append((opcode, bytes(buf[i : i + n])))
        del buf[: i + n]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--clients", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    # receipts are acyclic tuples: no collector pauses between stamps
    gc.disable()

    sel = selectors.DefaultSelector()
    bufs = []
    for cid in range(args.clients):
        sock, rest = handshake(args.port)
        bufs.append(bytearray(rest))
        sel.register(sock, selectors.EVENT_READ, cid)
    received: list[tuple[int, float, bytes]] = []
    stop = threading.Event()

    def wait_stdin() -> None:
        sys.stdin.read()
        stop.set()

    threading.Thread(target=wait_stdin, daemon=True).start()
    print("READY", flush=True)
    while not stop.is_set():
        for key, _ in sel.select(timeout=0.1):
            try:
                chunk = key.fileobj.recv(1 << 16)
            except BlockingIOError:
                continue
            t = time.monotonic()
            if not chunk:
                sel.unregister(key.fileobj)
                continue
            buf = bufs[key.data]
            buf += chunk
            for opcode, payload in parse_frames(buf):
                if opcode == 0x1:
                    received.append((key.data, t, payload))
    for key in list(sel.get_map().values()):
        key.fileobj.close()
    with open(args.out, "w") as f:
        for cid, t, payload in received:
            f.write(json.dumps([cid, t, payload.decode("utf-8")]))
            f.write("\n")
    print(f"DONE {len(received)}", flush=True)


if __name__ == "__main__":
    main()
