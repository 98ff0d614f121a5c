"""Run one workload of the AIS warehouse benchmark.

Usage (from the root of a checkout):

    python3 aisbench/run.py --workload day_archive --seed 1 --seconds 12 --trace 0

Prints one line per metric (name, value, unit) and, as the last line of
standard output, one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` the per-layer
metrics of a separately traced run, whose spans and counts are also written
to ``.bench_work/traces/``. Exits non-zero when an output disagrees with
the generator's ground truth, and without a result when the run fails.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("day_archive", "live_feed")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workload(name: str):
    if name == "day_archive":
        from aisbench.day_archive import LAUNCH_CONF, DayArchive as cls
    else:
        from aisbench.live_feed import LAUNCH_CONF, LiveFeed as cls
    return cls, LAUNCH_CONF


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pincspark")):
        print(f"no pincspark package under {ROOT}: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _load_spec()
    from aisbench import harness as H

    cls, launch_conf = _workload(args.workload)
    work = H.prepare_environment(args.workload, launch_conf)
    tracer = H.Tracer(enabled=bool(args.trace))
    rss = H.RssSampler().start()
    w = cls(args.seed, args.seconds, work, tracer)
    w.rss = rss
    try:
        t0 = time.perf_counter()
        w.make_inputs()
        w.report["make_inputs_s"] = time.perf_counter() - t0
        # the inputs and the truth live as long as the run: keep them out of
        # the cyclic collector, whose full passes would otherwise pause the
        # fan-out server and the sink in this process
        gc.collect()
        gc.freeze()
        setup_s = w.setup()
        values = w.traced() if args.trace else w.measure()
        w.report["fingerprint"] = H.fingerprint(getattr(w, "spark", None))
    finally:
        w.close()
        peak_rss_mb = rss.stop()
        w.report["peak_rss_mb_by_process"] = rss.peak_by_process
    values.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb)
    check = values.pop("check")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        # a layer the workload does not exercise did no work on it
        v = values.get(m["name"], 0 if args.trace else None)
        if v is None or (not args.trace and not math.isfinite(v)):
            raise RuntimeError(f"{args.workload} produced no finite {m['name']}: {v}")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "metrics": metrics, "extra": values,
              "check": vars(check), "report": w.report}
    out_dir = os.path.join(H.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        os.makedirs(os.path.join(H.WORK, "traces"), exist_ok=True)
        with open(os.path.join(H.WORK, "traces", stem + ".json"), "w") as f:
            json.dump({"spans": tracer.to_json(), "counts": metrics}, f)
    shutil.rmtree(work, ignore_errors=True)

    fp = w.report["fingerprint"]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={fp['nproc']} spark={fp.get('spark', '-')} java={fp['java']!r}")
    for k, v in sorted(values.items()):
        unit = next((m["unit"] for m in spec["end_to_end"] + spec["per_layer"] if m["name"] == k), "")
        print(f"{k:32s} {v:>16.6g} {unit}")
    print(f"{'failed_ratio':32s} {check.failed / max(1, check.attempted):>16.6g} "
          f"({check.failed} of {check.attempted}, {check.extra} unexpected)")
    print(json.dumps({"correct": check.ok, "attempted": check.attempted,
                      "failed": check.failed + check.extra, "metrics": metrics}))
    return 0 if check.ok else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
