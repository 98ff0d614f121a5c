"""``live_feed``: the serving path, open loop at a constant rate.

A generator process (``aisbench/feed.py``) plays the seeded fleet as a TCP
NMEA feed at a constant rate. One streaming query reads it with
``sources.nmea_source.read_socket_stream`` (tokenize, checksum, keyed
reassembly, decode) into a ``foreachBatch`` sink composed from public
engine functions: stage the micro-batch, append
``egress.warehouse_tables(batch)`` to parquet, then broadcast the batch's
position rows through a ``WebSocketFanoutServer`` to the benchmark's
WebSocket clients (``aisbench/wsclient.py``), which stamp each receipt.

Set-up ends when the stream is warm: the feed plays at the nominal rate
until the query has run ``WARM_BATCHES`` micro-batches with lines (the
first is slow while the Python workers start and the decode, reassembly
and egress paths run for the first time; the next drains its backlog).
Then the feed plays the timed lines for the run's ``--seconds``. A
message's latency runs from the time its last line was due at the
generator to its receipt by a client; a message that never arrives counts
as missing every limit. Messages of the warm-up are checked but not timed.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from aisbench import fleet as fleet_mod
from aisbench import harness as H
from aisbench import serving as S
from aisbench import truth as T
from aisbench.feed import timed_lines

# Lines per second, in the warm-up and the timed phase. An assumption, not a
# measured station rate: about three times the fleet's own rate (some 100
# lines/s over its 300 s), as a busy station with overlapping coverage
# would see, and far under what the query keeps up with.
NOMINAL_RATE = 300
WARM_BATCHES = 2
WARMUP_LIMIT_S = 90.0
# Spark's socket source deals the lines of a micro-batch round-robin over
# ``spark.default.parallelism`` partitions, so fragments of two multi-part
# groups that share a (seq_id, channel) key reach the keyed reassembly out
# of order and both are dropped. One partition keeps arrival order.
LAUNCH_CONF = {"spark.default.parallelism": "1"}


class LiveFeed:
    def __init__(self, seed: int, seconds: float, work: str, tracer: H.Tracer):
        self.seed, self.seconds, self.work, self.tracer = seed, seconds, work, tracer
        self.spark = None
        self.rss: H.RssSampler | None = None
        self.report: dict = {}
        self.query = self.feed = self.server = self.clients = self.depth = None
        self.last_warm_batch = -1

    def make_inputs(self) -> None:
        self.fleet = fleet_mod.generate(self.seed)
        self.fleet.render()
        self.lines_path = os.path.join(self.work, "feed.nmea")
        self.fleet.write(self.lines_path)
        self.n_timed = timed_lines(NOMINAL_RATE, self.seconds)
        if 2 * self.n_timed > len(self.fleet.lines):
            raise RuntimeError(f"the feed needs more than {2 * self.n_timed} lines, "
                               f"the fleet has {len(self.fleet.lines)}")

    def _expect(self, k: int) -> None:
        """The messages complete within the played lines (``k`` warm-up
        lines, then the timed ones), each with its last line and whether it
        is timed (its last line is in the timed phase)."""
        n_lines = k + self.n_timed
        self.expected = []
        for m in self.fleet.messages:
            last = m.first_line + len(m.sentences) - 1
            if m.valid and last < n_lines:
                self.expected.append((m, last, last >= k))
        played = fleet_mod.Fleet(self.seed, messages=[m for m, _, _ in self.expected])
        self.expected_tables = T.expected_tables(played)

    def setup(self) -> float:
        """Set-up as a user pays it: start the engine's session, the fan-out
        server with its clients and the streaming query, then warm the
        stream up with the feed's first lines."""
        from pincspark.sources.nmea_source import read_socket_stream
        from pincspark.streaming.websocket import WebSocketFanoutServer

        t0 = time.perf_counter()
        self.spark = H.start_spark("aisbench-live-feed")
        self.server = WebSocketFanoutServer(max_queue=S.FANOUT_QUEUE)
        self.frames_path = os.path.join(self.work, "frames.jsonl")
        self.base = os.path.join(self.work, "warehouse")
        self.clients = S.start_clients(self.server.start(), self.frames_path, self.rss)
        self.feed = S.Proc("feed.py", "--lines", self.lines_path, "--rate", str(NOMINAL_RATE),
                           "--seconds", str(self.seconds))
        if self.rss is not None:
            self.rss.exclude.add(self.feed.p.pid)
        feed_port = int(self.feed.expect("PORT", 30))
        # the sink reads these columns only
        stream = read_socket_stream(self.spark, "127.0.0.1", feed_port).select(
            "tagblock", "ts", "ais")
        self.depth = S.QueueDepth(self.server).__enter__()
        self.query = (
            stream.writeStream.foreachBatch(self._sink(self.server, self.base))
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .start()
        )
        # the query's first micro-batch plans the stream and starts its
        # workers before any line is due
        deadline = time.monotonic() + 120
        while not self.query.recentProgress:
            if self.query.exception() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"the query ran no micro-batch: {self.query.exception()}")
            time.sleep(0.05)
        self.feed.send("GO")
        self._warm_up()
        return time.perf_counter() - t0

    # -- the sink --------------------------------------------------------
    def _sink(self, server, base: str):
        from pyspark.sql import functions as F

        from pincspark.egress import warehouse_tables
        from pincspark.staging import stage
        from pincspark.streaming.fanout import fanout_sink

        broadcast = fanout_sink(server, "line")
        tracer = self.tracer

        def sink(batch, batch_id: int) -> None:
            # five consumers below: materialize the micro-batch once
            batch = stage(batch, "aisbench:micro-batch", eager=True)
            with tracer.span("egress.write"):
                for name, df in warehouse_tables(batch).items():
                    df.write.mode("append").parquet(os.path.join(base, name))
            positions = batch.filter(F.col("ais.messageType").isin(1, 2, 3)).select(
                F.to_json(F.struct(
                    "tagblock",
                    F.col("ais.messageType").alias("messageType"),
                    F.col("ais.mmsi").alias("mmsi"),
                    "ais.position.longitude", "ais.position.latitude",
                    "ais.position.sog", "ais.position.cog", "ais.position.trueHeading",
                )).alias("line")
            )
            with tracer.span("fanout.broadcast"):
                broadcast(positions, batch_id)

        return sink

    # -- one run ---------------------------------------------------------
    def measure(self) -> dict:
        try:
            self.feed.send("MEASURE")
            t0, k = self.feed.expect("T0", 10).split()
            self.t0, self.k = float(t0), int(k)
            self._expect(self.k)
            progress = self._drain(self.query, self.k + self.n_timed,
                                   time.monotonic() + self.n_timed / NOMINAL_RATE + 90)
            lateness = json.loads(self.feed.expect("DONE", 10))
            self.run_id = str(self.query.runId)
        finally:
            self._stop_stream()
        self.progress = [p for p in progress if p["batchId"] > self.last_warm_batch]
        return self._evaluate(S.read_frames(self.frames_path), lateness)

    def _warm_up(self) -> None:
        """Wait for ``WARM_BATCHES`` micro-batches with lines."""
        t0 = time.monotonic()
        while True:
            warm = [p["batchId"] for p in self.query.recentProgress if p["numInputRows"] > 0]
            if len(warm) >= WARM_BATCHES:
                break
            if self.query.exception() is not None or time.monotonic() - t0 > WARMUP_LIMIT_S:
                raise RuntimeError(f"the stream did not warm up: {self.query.exception()}")
            time.sleep(0.02)
        self.last_warm_batch = max(warm)
        self.report["warmup_s"] = time.monotonic() - t0

    def _stop_stream(self) -> None:
        """Stop the query, the feed, the server and the clients (which write
        their receipts when they exit)."""
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self.depth is not None:
            self.depth.__exit__(None, None, None)
            self.queue_depth_max = self.depth.max
            self.depth = None
        if self.feed is not None:
            self.feed.finish()
            self.feed = None
        if self.server is not None:
            self.server.stop()
        if self.clients is not None:
            self.clients.finish()
            self.clients = None

    @staticmethod
    def _drain(query, n_lines: int, deadline: float) -> list[dict]:
        """Poll the query's progress until every line the feed sends has
        gone through a completed micro-batch. Returns the progress of every
        batch."""
        batches: dict[int, dict] = {}
        while time.monotonic() < deadline:
            for p in query.recentProgress:
                batches[p["batchId"]] = p
            if sum(p["numInputRows"] for p in batches.values()) >= n_lines:
                time.sleep(0.5)  # let the fan-out writers flush
                return [batches[k] for k in sorted(batches)]
            if query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {query.exception()}")
            time.sleep(0.1)
        raise TimeoutError("the streaming query did not process the whole feed in time")

    def _evaluate(self, frames, lateness) -> dict:
        by_first = {m.first_line: (m, last, timed) for m, last, timed in self.expected
                    if m.mtype in T.POSITION_TYPES}
        seen: dict[tuple[int, int], float] = {}
        bad: set[int] = set()
        for cid, t, row in frames:
            n = S.line_no(row)
            hit = by_first.get(n)
            if hit is None or (cid, n) in seen or not S.same_position(row, hit[0]):
                bad.add(n)
                continue
            seen[(cid, n)] = t
        lat: list[float] = []
        for n, (m, last, timed) in by_first.items():
            for cid in range(S.CLIENTS):
                t = seen.get((cid, n))
                if t is None:
                    bad.add(n)
                if timed:
                    due = self.t0 + (last - self.k) / NOMINAL_RATE
                    lat.append(math.inf if t is None else t - due)
        tables = self._table_rows()
        table_short = sum(abs(tables.get(k, 0) - v) for k, v in self.expected_tables.items())

        timed = {"rate": NOMINAL_RATE, "seconds": self.seconds, "warmup_lines": self.k,
                 "samples": len(lat), "p50_s": H.quantile(lat, 0.5),
                 "p99_s": H.quantile(lat, 0.99),
                 "generator_late_p99_s": lateness["late_p99_s"],
                 "generator_late_max_s": lateness["late_max_s"]}
        self.report.update(
            timed=timed, tables=tables, dropped=self.server.dropped, frames=len(frames),
            batches=[(p["numInputRows"], p["durationMs"].get("triggerExecution"))
                     for p in self.progress])
        stored = sum(H.dir_bytes(os.path.join(self.base, t)) for t in self.expected_tables)
        return {
            "check": T.Check(len(self.expected), len(bad) + table_short),
            "latency_p50_s": timed["p50_s"],
            "latency_p99_s": timed["p99_s"],
            "stored_bytes_per_msg": stored / len(self.expected),
        }

    def _table_rows(self) -> dict[str, int]:
        import pyarrow.parquet as pq

        out = {}
        for name in self.expected_tables:
            path = os.path.join(self.base, name)
            out[name] = pq.ParquetDataset(path).read().num_rows if os.path.isdir(path) else 0
        return out

    # -- traced run ------------------------------------------------------
    def traced(self) -> dict:
        """The same run with spans around the sink's egress and fan-out
        calls, plus the query's progress and Spark's stage counters."""
        out = self.measure()
        busy = [p for p in self.progress if p["numInputRows"] > 0]

        def median_s(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in busy) / 1000.0

        state = [p["stateOperators"][0] for p in self.progress if p.get("stateOperators")]
        totals = H.stage_totals(self.spark, self.run_id)
        files = sum(len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(self.base))
        out.update({
            "stream.batches": len(busy),
            "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in busy),
            "stream.trigger_s": median_s("triggerExecution"),
            "stream.planning_s": median_s("queryPlanning"),
            "stream.add_batch_s": median_s("addBatch"),
            "stream.backlog_max": max(p["numInputRows"] for p in busy),
            "reassembly.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "reassembly.state_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
            "reassembly.rows_updated": sum(s["numRowsUpdated"] for s in state),
            "egress.write_s": self.tracer.busy("egress.write"),
            "egress.files": files,
            "egress.bytes": H.dir_bytes(self.base),
            "fanout.broadcast_s": self.tracer.busy("fanout.broadcast"),
            "fanout.queue_depth_max": self.queue_depth_max,
            "fanout.dropped": self.report["dropped"],
            "websocket.client_frames": self.report["frames"],
            "spark.shuffle_write_bytes": totals.shuffle_write_bytes,
            "spark.spill_bytes": totals.spill_bytes,
            "spark.gc_s": totals.gc_s,
            "spark.executor_run_s": totals.executor_run_s,
            "spark.tasks": totals.tasks,
            "spark.jobs": totals.jobs,
            # an estimate, not a traced-minus-untraced difference: the
            # measured cost of an empty span times the spans recorded (two
            # per micro-batch, around sink calls)
            "trace.span_cost_s": len(self.tracer.spans) * H.span_cost(),
        })
        return out

    def close(self) -> None:
        self._stop_stream()
        if self.spark is not None:
            H.stop_spark(self.spark)
            self.spark = None
