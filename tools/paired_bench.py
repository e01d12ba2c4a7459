"""Drift-proof paired benchmark: old-vs-new interleaved per query.

The VM host drifts 15-20% within a session, so round-over-round wall
clocks (BENCH_rN.json vs BENCH_rN+1.json) confound code changes with
host state.  This tool removes the confound the same way the decode
microbench does — by interleaving the two contenders in time:

* an exported copy of the OLD commit and the CURRENT tree each get a
  long-lived runner subprocess with a warm Spark session;
* for every query the two runners execute back-to-back, repeated
  ``--reps`` times, and the side that runs first alternates per rep
  (old-new, new-old, ...), so neither side always runs on the host the
  other just warmed;
* per query we record, for both sides, every rep, the min, the median
  and the quartile spread (q3 - q1), plus the new/old ratios of mins and
  of medians (<1 = current code faster), how many paired reps the
  current code won, and how many reps failed on each side.

A change is within noise on a query when its median is no slower than
the old median plus the old quartile spread.

Usage:
    python tools/paired_bench.py --old <commit> [--out BENCH_r6_paired.json]
        [--sf /root/testdata/sf0.1] [--reps 2] [--queries q1,q2,...]

Writes one JSON file with per-query {old, new, ratio} and suite ratios.

To time a single query (warm pass at sf0.001, then ``--reps`` noop-sink
passes at ``--sf``), run ``--old HEAD --queries <q>``: both sides are
then the same code, and each side's reps are the timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Default paired set: the 21-query headline suite plus the round-4/5/6
# perf watch items (IVM family, ANN, streaming joins).
WATCH = [
    "cdc_incremental_view",
    "cdc_targeted_erasure",
    "cdc_join_view_ivm",
    "ann_ivf_flat",
    "stream_stream_join",
    "dedup_connected_components",
    "graph_pagerank_bucketed",
    # r6 session-2 optimizations: map-side Lloyd assignment, per-cluster
    # Gram-matrix SemDeDup, degree-embedded broadcast PageRank.
    "embed_kmeans_domains",
    "dedup_semantic_semdedup",
    "graph_pagerank",
]

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from pypgcdc_spark.queries import REGISTRY, ensure_registered
from pypgcdc_spark.session import get_spark
ensure_registered()
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)
spark = get_spark("paired-bench-" + sys.argv[2], cpus=cpus)
spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
warm = "/root/testdata/sf0.001"
print("READY", flush=True)
for line in sys.stdin:
    parts = line.split()
    if not parts:
        continue
    if parts[0] == "WARM":
        name = parts[1]
        try:
            REGISTRY[name].fn(spark, warm).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
        print("WARMED", name, flush=True)
    elif parts[0] == "RUN":
        name, sf_dir = parts[1], parts[2]
        try:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            print("TIME", name, round(dt, 3), flush=True)
        except Exception as e:
            print("FAIL", name, str(e)[:120].replace("\n", " "), flush=True)
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
    elif parts[0] == "QUIT":
        break
print("BYE", flush=True)
"""


class Runner:
    def __init__(self, tree: str, tag: str):
        script = os.path.join(tempfile.mkdtemp(prefix="pairedbench_"), "runner.py")
        with open(script, "w") as f:
            f.write(RUNNER)
        self.tag = tag
        self.proc = subprocess.Popen(
            [sys.executable, script, tree, tag],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        self._expect("READY")

    def _expect(self, word: str) -> list:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"runner {self.tag} died")
            parts = line.split()
            if parts and parts[0] == word:
                return parts
            if parts and parts[0] == "FAIL":
                return parts

    def warm(self, name: str) -> None:
        self.proc.stdin.write(f"WARM {name}\n")
        self.proc.stdin.flush()
        self._expect("WARMED")

    def run(self, name: str, sf_dir: str):
        self.proc.stdin.write(f"RUN {name} {sf_dir}\n")
        self.proc.stdin.flush()
        parts = self._expect("TIME")
        if parts[0] == "FAIL":
            return None
        return float(parts[2])

    def quit(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(30)
        except Exception:
            self.proc.kill()


def _summary(reps: list) -> dict:
    """min, median and quartile spread (q3 - q1) of one side's reps."""
    q1, _, q3 = statistics.quantiles(reps, n=4) if len(reps) > 1 else reps * 3
    return {
        "min": min(reps),
        "median": statistics.median(reps),
        "iqr": round(q3 - q1, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True, help="git commit/tag of the OLD side")
    ap.add_argument("--out", default="BENCH_r6_paired.json")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default="")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import bench

    names = (
        [q for q in args.queries.split(",") if q]
        if args.queries
        else bench.HEADLINE + WATCH
    )

    old_tree = tempfile.mkdtemp(prefix="paired_old_")
    archive = subprocess.run(
        ["git", "archive", args.old], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", old_tree], input=archive, check=True)
    try:
        old = Runner(old_tree, "old")
        new = Runner(REPO, "new")
        for r in (old, new):
            for q in names:
                r.warm(q)

        per_query = {}
        for q in names:
            olds, news, wins = [], [], 0
            failed = {"old": 0, "new": 0}
            for rep in range(args.reps):
                order = [("old", old), ("new", new)]
                if rep % 2:
                    order.reverse()
                t = {side: r.run(q, args.sf) for side, r in order}
                for side, reps in (("old", olds), ("new", news)):
                    if t[side] is None:
                        failed[side] += 1
                    else:
                        reps.append(t[side])
                if None not in t.values() and t["new"] < t["old"]:
                    wins += 1
            entry = {"old_reps": olds, "new_reps": news, "failed": failed}
            if olds and news:
                o, n = _summary(olds), _summary(news)
                entry.update(
                    old=o["min"],
                    new=n["min"],
                    ratio=round(n["min"] / o["min"], 3),
                    median_ratio=round(n["median"] / o["median"], 3),
                    old_median=o["median"],
                    new_median=n["median"],
                    old_iqr=o["iqr"],
                    new_iqr=n["iqr"],
                    new_wins=wins,
                    within_noise=n["median"] <= o["median"] + o["iqr"],
                )
                print(
                    f"{q}: median old {o['median']:.2f}s new {n['median']:.2f}s "
                    f"(old iqr {o['iqr']:.2f}s) ratio {entry['median_ratio']:.2f} "
                    f"wins {wins}/{args.reps} failed {failed}",
                    flush=True,
                )
            else:
                entry["ratio"] = None
                print(f"{q}: FAILED old={olds} new={news} failed={failed}", flush=True)
            per_query[q] = entry
        old.quit()
        new.quit()
    finally:
        shutil.rmtree(old_tree, ignore_errors=True)

    ok = {q: v for q, v in per_query.items() if v.get("ratio") is not None}
    headline_ok = [q for q in bench.HEADLINE if q in ok]
    suite_old = round(sum(ok[q]["old"] for q in headline_ok), 3)
    suite_new = round(sum(ok[q]["new"] for q in headline_ok), 3)
    out = {
        "metric": "paired_interleaved_wall_seconds",
        "old_commit": args.old,
        "sf_dir": args.sf,
        "reps": args.reps,
        "headline_old_sec": suite_old,
        "headline_new_sec": suite_new,
        "headline_ratio": round(suite_new / suite_old, 3) if suite_old else None,
        "queries": per_query,
        "note": (
            "old and new executed interleaved per query in one host window, "
            "first side alternating per rep; old/new = min of reps; ratio = "
            "new/old min, median_ratio = new/old median, <1 = current faster; "
            "within_noise = new median <= old median + old quartile spread"
        ),
    }
    with open(os.path.join(REPO, args.out), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))


if __name__ == "__main__":
    main()
