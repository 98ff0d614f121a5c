"""Core-count scaling probe at sf1.0-equivalent scale (VERDICT r16 #6).

At sf0.1 every per-query runtime is 0.2-5 s and fixed DAG/scheduling
overhead dominates, so the driver's 8-vs-32-core scaling block reads
~1.0 for every query — parallelism is unmeasurable at the bench SF. This
probe materializes a 10x corpus (~sf1.0) with scale_probe's replica
construction, then times the data-bound heavy queries in TWO subprocess
sessions (local[8] vs local[32], bench noop-sink methodology: warmup +
3 passes, median) and records the ratios as a repo artifact.

A ratio well above 1 means the query genuinely uses the extra cores at
real data volumes; ~1 means it is driver/DAG-bound even at 10x and the
scaling block's flat reading is about the query, not the harness.

Usage:
    python scripts/scaling_8v32_probe.py [--out plans/r17/scaling_8v32_x10.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "q114_multimodal_keeplist",
    "q54_curation_pipeline",
    "q106_exact_similarity_join",
    "q20_ngram_jaccard",
    "q19_minhash_lsh",
    "q109_cluster_holdout",
    "q67_lm_perplexity",
    "q68_dsir_weights",
    "q64_span_removal",
    "q72_bloom_decontam",
]

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = sys.argv[1]
from pincspark.session import get_spark
from pincspark.plans.queries import QUERIES

spark = get_spark("scaling-8v32", cpus=int(sys.argv[1]))
sf_dir = sys.argv[2]
names = json.loads(sys.argv[3])
out = {{}}
for n in names:
    QUERIES[n][0](spark, sf_dir).write.mode("overwrite").format("noop").save()
for n in names:
    ts = []
    for _ in range(3):
        t0 = time.time()
        QUERIES[n][0](spark, sf_dir).write.mode("overwrite").format("noop").save()
        ts.append(time.time() - t0)
    out[n] = round(sorted(ts)[1], 3)
print("RESULT " + json.dumps(out))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r17/scaling_8v32_x10.json")
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else QUERIES

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(REPO, "scripts", "scale_probe.py")
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)
    dst = os.path.join(sp.BASE, f"x{args.scale}")
    if not os.path.exists(os.path.join(dst, "documents.parquet")):
        print(f"materializing x{args.scale} corpus at {dst} ...")
        sp.materialize(args.scale, dst)

    res = {}
    for cpus in ("8", "32"):
        code = RUNNER.format(repo=REPO)
        r = subprocess.run(
            [sys.executable, "-c", code, cpus, dst, json.dumps(names)],
            capture_output=True,
            text=True,
        )
        found = None
        for line in r.stdout.splitlines():
            if line.startswith("RESULT "):
                found = json.loads(line[7:])
        if found is None:
            print(r.stdout[-2000:], file=sys.stderr)
            print(r.stderr[-2000:], file=sys.stderr)
            return 1
        res[cpus] = found
        print(f"cpus={cpus}: {found}")

    load = os.getloadavg()
    table = {
        n: {
            "sec_8": res["8"][n],
            "sec_32": res["32"][n],
            "ratio_8v32": round(res["8"][n] / res["32"][n], 2)
            if res["32"][n]
            else None,
        }
        for n in names
    }
    out = {
        "probe": "scaling_8v32",
        "scale": args.scale,
        "loadavg_at_end": load[0],
        "per_query": table,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
