"""``day_archive``: the analytics tier, batch and closed loop.

One NMEA day-archive file from the seeded fleet goes through
``analysis.batch_archive_analysis`` to a persisted gold table, and the zone
occupancy is forced to a result; the next job starts when the previous one
has finished. Every job's output is checked against the ground truth.

The traced variant runs the same layers one at a time with a stage barrier
(an eager local checkpoint) between them, as ``scripts/profile_flagship.py``
does, and records a span around each layer call.
"""

from __future__ import annotations

import gc
import os
import statistics
import time

import pandas as pd

from aisbench import fleet as fleet_mod
from aisbench import harness as H
from aisbench import truth as T

SPLIT_BYTES = int(H.SPARK_SETTINGS["spark.sql.files.maxPartitionBytes"])
STEADY_WARMUPS = 4  # job times keep falling over the next few jobs
MIN_JOBS = 3
MIN_GOLD_MMSI_PER_CORE = 16
TRACE_REPEATS = 3
LAUNCH_CONF: dict[str, str] = {}


def read_gold(path: str) -> pd.DataFrame:
    """A persisted gold table as pandas, with ``ts``/``ts_right`` as epoch
    seconds (nullable)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    df = table.drop(["ts", "ts_right"]).to_pandas()
    for c in ("ts", "ts_right"):
        secs = table.column(c).cast(pa.timestamp("s")).cast(pa.int64())
        df[c] = pd.Series(secs.to_pylist(), dtype="Int64")
    return df


def _job(spark, archive: str, gold_path: str):
    from pincspark.analysis import batch_archive_analysis

    _, occupancy = batch_archive_analysis(spark, archive, gold_path=gold_path)
    return {r["zone_id"]: (r["n_vessels"], r["n_reports"]) for r in occupancy.collect()}


def check_shape(fleet: fleet_mod.Fleet, gold: pd.DataFrame, occupancy: dict) -> None:
    """Refuse inputs that degenerate into a handful of vessels, empty
    zones, or an archive that no split boundary cuts."""
    n_mmsi = gold["mmsi"].nunique()
    if n_mmsi < MIN_GOLD_MMSI_PER_CORE * H.cpus():
        raise RuntimeError(f"gold has only {n_mmsi} distinct MMSIs for {H.cpus()} cores")
    if fleet.cut_groups(SPLIT_BYTES) < 1:
        raise RuntimeError("no multi-part group is cut by an input-split boundary")
    if any(n_vessels < 10 for n_vessels, _ in occupancy.values()):
        raise RuntimeError(f"zones are nearly empty: {occupancy}")


def _release(spark) -> None:
    from pincspark.staging import release_unreferenced_blocks

    gc.collect()
    release_unreferenced_blocks(spark)


class DayArchive:
    def __init__(self, seed: int, seconds: float, work: str, tracer: H.Tracer):
        self.seed, self.seconds, self.work, self.tracer = seed, seconds, work, tracer
        self.spark = None
        self.report: dict = {}
        self.first: tuple[str, dict] | None = None

    # -- inputs --------------------------------------------------------------
    def make_inputs(self) -> None:
        t0 = time.perf_counter()
        self.fleet = fleet_mod.generate(self.seed)
        self.fleet.render(split_bytes=SPLIT_BYTES)
        self.archive = os.path.join(self.work, "day.nmea")
        self.archive_bytes = self.fleet.write(self.archive)
        self.expected_gold = T.expected_gold(self.fleet)
        self.expected_occ = T.expected_occupancy(self.expected_gold)
        self.counts = T.expected_counts(self.fleet)
        self.valid_msgs = sum(self.counts.values())
        self.report["inputs"] = {
            "lines": len(self.fleet.lines), "bytes": self.archive_bytes,
            "valid_msgs": self.valid_msgs, "gold_rows": len(self.expected_gold),
            "gold_mmsi": int(self.expected_gold["mmsi"].nunique()),
            "cut_groups": self.fleet.cut_groups(SPLIT_BYTES),
            "zones": self.expected_occ, "generate_s": time.perf_counter() - t0,
        }
        check_shape(self.fleet, self.expected_gold, self.expected_occ)

    # -- set-up --------------------------------------------------------------
    def setup(self) -> float:
        """Set-up as a user pays it: start the engine's session and run the
        first job over the archive (its output is checked with the rest).
        Then ``STEADY_WARMUPS`` untimed jobs, until job times settle."""
        t0 = time.perf_counter()
        self.spark = H.start_spark("aisbench-day-archive")
        gold_path = os.path.join(self.work, "gold_first")
        self.first = (gold_path, _job(self.spark, self.archive, gold_path))
        setup_s = time.perf_counter() - t0
        _release(self.spark)
        t0 = time.perf_counter()
        for i in range(STEADY_WARMUPS):
            _job(self.spark, self.archive, os.path.join(self.work, f"gold_steady{i}"))
            _release(self.spark)
        self.report["steady_warmup_s"] = time.perf_counter() - t0
        return setup_s

    # -- measurement ---------------------------------------------------------
    def measure(self) -> dict:
        walls, outputs = [], []
        start = time.perf_counter()
        while time.perf_counter() - start < self.seconds or len(walls) < MIN_JOBS:
            gold_path = os.path.join(self.work, f"gold{len(walls)}")
            t0 = time.perf_counter()
            occ = _job(self.spark, self.archive, gold_path)
            walls.append(time.perf_counter() - t0)
            outputs.append((gold_path, occ))
            _release(self.spark)
        check = self.check([self.first, *outputs])
        wall = statistics.median(walls)
        gold_bytes = statistics.median(H.dir_bytes(p) for p, _ in outputs)
        self.report["walls_s"] = walls
        return {
            "check": check,
            "latency_p50_s": wall,
            # every message of a job waits for the whole job: the message
            # latency distribution is the job-time distribution weighted by
            # messages, and all jobs carry the same archive
            "latency_p99_s": H.quantile(walls, 0.99),
            "throughput_msgs_per_s": self.valid_msgs / wall,
            "stored_bytes_per_msg": gold_bytes / self.valid_msgs,
        }

    def check(self, outputs) -> T.Check:
        total = T.Check(0, 0)
        for gold_path, occ in outputs:
            g = T.check_gold(read_gold(gold_path), self.expected_gold)
            o = T.check_occupancy(occ, self.expected_occ)
            total = total + g + o
        return total

    # -- traced run ----------------------------------------------------------
    def traced(self) -> dict:
        """Per-layer spans and counts, layer by layer with barriers; then
        the untraced job again for the tracing overhead."""
        check = T.Check(0, 0)
        for r in range(TRACE_REPEATS):
            self.tracer.trace_id = r
            out = self._traced_once(os.path.join(self.work, f"gold_traced{r}"))
            check = check + out.pop("check")
            _release(self.spark)
        untraced, outputs = [], []
        for r in range(TRACE_REPEATS):
            gold_path = os.path.join(self.work, f"gold_plain{r}")
            t0 = time.perf_counter()
            outputs.append((gold_path, _job(self.spark, self.archive, gold_path)))
            untraced.append(time.perf_counter() - t0)
            _release(self.spark)
        tr = self.tracer
        traced_total = tr.busy("job")
        out.update({
            "check": check + self.check([self.first, *outputs]),
            "nmea_source.busy_s": tr.busy("nmea_source"),
            "decode.busy_s": tr.busy("decode"),
            "asof.busy_s": tr.busy("asof"),
            "gold.write_s": tr.busy("gold.write"),
            "geo.busy_s": tr.busy("geo"),
            "trace.job_s": traced_total,
            "trace.overhead_s": traced_total - statistics.median(untraced),
        })
        return out

    def _traced_once(self, gold_path: str) -> dict:
        from pyspark.sql import functions as F

        from pincspark.analysis import GOLD_TYPES, build_gold_fused
        from pincspark.decode.kernel import checksum_valid, decode_ais, decode_udf, routing_message_type
        from pincspark.operators.geo import spatial_join
        from pincspark.sources.nmea_source import read_archive, reassemble, tokenize_sentences, with_tagblock_ts
        from pincspark.staging import stage

        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        group = f"traced-{tr.trace_id}"
        out: dict = {}
        with tr.span("job"):
            sc.setJobGroup(group + "-nmea", "nmea_source")
            with tr.span("nmea_source"):
                raw = read_archive(spark, self.archive)
                df = tokenize_sentences(with_tagblock_ts(raw))
                reassembled = stage(reassemble(df), "bench:reassembled", eager=True)
            sc.setJobGroup(group + "-decode", "decode")
            with tr.span("decode"):
                routed = reassembled.filter(routing_message_type(F.col("payload")).isin(*GOLD_TYPES))
                decoded = stage(decode_ais(routed, plan_barrier=True), "bench:decoded", eager=True)
            sc.setJobGroup(group + "-asof", "asof")
            with tr.span("asof"):
                gold = stage(build_gold_fused(decoded), "bench:gold", eager=True)
            sc.setJobGroup(group + "-write", "gold.write")
            with tr.span("gold.write"):
                gold.write.mode("overwrite").parquet(gold_path)
            sc.setJobGroup(group + "-geo", "geo")
            with tr.span("geo"):
                back = spark.read.parquet(gold_path)
                in_zones = spatial_join(back.filter(F.col("longitude").isNotNull()), zones=None)
                occ = in_zones.groupBy("zone_id", "zone_name").agg(
                    F.countDistinct("mmsi").alias("n_vessels"),
                    F.count(F.lit(1)).alias("n_reports"),
                ).collect()
        stats = {k: H.stage_totals(spark, f"{group}-{k}") for k in ("nmea", "decode", "asof", "write", "geo")}

        # counts, outside the spans
        sc.setJobGroup(group + "-counts", "counts")
        lines_in = raw.count()
        valid_lines = df.filter(checksum_valid(F.col("sentence"))).count()
        msgs_out = reassembled.count()
        multipart = reassembled.filter(F.col("n_sentences") > 1).count()
        unrepaired = reassemble(df, repair_boundaries=False).count()
        routed_n = routed.count()
        gold_n = gold.count()
        with_static = gold.filter(F.col("ts_right").isNotNull()).count()
        null_rows = decoded.filter(F.col("ais.messageType").isNull()).count()
        payloads = routed.select("payload").toPandas()["payload"]
        t0 = time.perf_counter()
        decode_udf.func(payloads)
        python_s = time.perf_counter() - t0

        occ_map = {r["zone_id"]: (r["n_vessels"], r["n_reports"]) for r in occ}
        every = list(stats.values())
        out.update({
            "check": self.check([(gold_path, occ_map)]),
            "nmea_source.lines_in": lines_in,
            "nmea_source.checksum_rejected": lines_in - valid_lines,
            "nmea_source.msgs_out": msgs_out,
            "nmea_source.multipart_msgs": multipart,
            "nmea_source.boundary_repaired": msgs_out - unrepaired,
            "nmea_source.yield": msgs_out / self.valid_msgs,
            "decode.rows_in": msgs_out,
            "decode.routed_out": routed_n,
            "decode.null_rows": null_rows,
            "decode.python_s": python_s,
            "asof.gold_rows": gold_n,
            "asof.static_hit_ratio": with_static / gold_n,
            "asof.shuffle_bytes": stats["asof"].shuffle_write_bytes,
            "asof.task_skew": stats["asof"].task_skew,
            "gold.bytes": H.dir_bytes(gold_path),
            "geo.points_in": gold_n,
            "geo.points_in_zone": sum(n for _, n in occ_map.values()),
            "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in every),
            "spark.spill_bytes": sum(s.spill_bytes for s in every),
            "spark.gc_s": sum(s.gc_s for s in every),
            "spark.executor_run_s": sum(s.executor_run_s for s in every),
            "spark.tasks": sum(s.tasks for s in every),
            "spark.jobs": sum(s.jobs for s in every),
        })
        if out["nmea_source.boundary_repaired"] < 1:
            raise RuntimeError("no multi-part group was repaired across a split boundary")
        return out

    def close(self) -> None:
        if self.spark is not None:
            H.stop_spark(self.spark)
            self.spark = None
