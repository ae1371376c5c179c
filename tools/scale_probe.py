#!/usr/bin/env python3
"""Multi-decade scale probe runner (r12 VERDICT task #6).

Runs each named query ISOLATED (fresh sbt/JVM per query per scale,
SPARK_GRAFT_REPEAT medians — the bench protocol's recheck posture) at
each scale dir, and writes the familiar scale_probe artifact with
per-decade ratios. The machine must be IDLE.

Usage:
  python3 tools/scale_probe.py --queries i6_hotdeck_impute,b4_cluster_centroids \
      --scales sf0.1=/root/testdata/sf0.1,sf1=/tmp/sf1,sf10=/tmp/sf10 \
      --repeat 3 --out bench/scale_probe_sf10_r13.json
"""
import argparse
import json
import os
import subprocess
import sys


def run_one(query, sfdir, repeat):
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=query,
               SPARK_GRAFT_REPEAT=str(repeat), SPARK_GRAFT_SF_DIR=sfdir)
    res = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                         env=env, capture_output=True, text=True,
                         check=False)
    line = next((ln for ln in res.stdout.splitlines() if '"metric"' in ln),
                None)
    if line is None:
        print(res.stdout[-1500:], file=sys.stderr)
        print(res.stderr[-1500:], file=sys.stderr)
        raise RuntimeError(f"bench produced no metric for {query} @ {sfdir}")
    return json.loads(line[line.index("{"):])["queries"][query]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--scales", required=True,
                    help="name=dir,name=dir,... smallest first")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--out", required=True)
    ap.add_argument("--note", default="")
    args = ap.parse_args()
    if args.repeat < 3:
        ap.error("--repeat must be >= 3: the first timed rep of a query "
                 "runs cold (the sf0.001 warm-up does not finish JVM "
                 "warm-up; it used 2-4x the executor CPU of the third rep "
                 "on the sketch and bootstrap queries), and a median of "
                 "1 or 2 reps reports it")

    scales = [s.split("=", 1) for s in args.scales.split(",")]
    queries = [q for q in args.queries.split(",") if q]
    out = {"protocol": f"isolated fresh JVM per query, "
                       f"SPARK_GRAFT_REPEAT={args.repeat} medians",
           "note": args.note, "queries": {}}
    for q in queries:
        row = {}
        for name, sfdir in scales:
            t = run_one(q, sfdir, args.repeat)
            if t is None or t < 0:
                row[name] = None  # bench reported FAILED (see stderr)
                print(f"[probe] {q} @ {name}: FAILED", flush=True)
            else:
                row[name] = round(t, 2)
                print(f"[probe] {q} @ {name}: {t:.2f}s", flush=True)
        names = [n for n, _ in scales]
        for a, b in zip(names, names[1:]):
            if row.get(a) and row.get(b) and row[a] > 0:
                row[f"ratio_{b}_over_{a}"] = round(row[b] / row[a], 2)
        if len(names) >= 3 and row.get(names[0]) and row.get(names[-1]) \
                and row[names[0]] > 0:
            row[f"ratio_{names[-1]}_over_{names[0]}"] = \
                round(row[names[-1]] / row[names[0]], 2)
        out["queries"][q] = row
        with open(args.out, "w") as f:  # write-as-you-go: crash-safe
            json.dump(out, f, indent=1, sort_keys=True)
    print(f"[probe] report -> {args.out}")


if __name__ == "__main__":
    main()
