"""CDC pipeline benchmark: pgoutput replay logs through the ``pgcdc`` source.

Run from the repository root::

    python3 perfbench/run.py --workload land_backlog --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``land_backlog`` and ``live_land``, which
``BENCHMARK.json`` lists, and ``apply_backlog`` and ``live_trickle``, which
run the maintainers and take too long for its time budget.  The seed
makes the inputs; ``--seconds`` is how long the run measures.  With
``--trace 0`` the last line of standard output is one JSON object holding
the end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a separate traced run.  Every result, with the host it ran on, also
goes to ``perfbench/results/``.

Set-up (``setup_s``) runs from process start until the engine is ready:
the SparkSession at ``local[nproc]``, ``PgCdcEngine`` registration, and
an untimed drain through the workload's own sink.  Everything the run
leaves behind is under ``perfbench/work/`` and ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "freshness_p50_ms": "ms",
    "freshness_p90_ms": "ms",
    "peak_rss_mb": "MB",
}


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc), else now."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return time.time()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("land_backlog", "apply_backlog", "live_land", "live_trickle"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="check against a deliberately wrong expectation")
    return p.parse_args(argv)


def source_digest(root: str) -> str:
    """Content hash of the engine's sources (the checkout may not be a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pypgcdc_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str):
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def host_info(root: str, nproc: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "loadavg_start": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "commit": git_commit(root),
        "source_digest": source_digest(root),
    }


def prepare_env(root: str, work: str) -> int:
    """Workers import the engine and the benchmark from the checkout;
    Spark's scratch space stays inside it."""
    nproc = len(os.sched_getaffinity(0))  # what `env -u OMP_NUM_THREADS nproc` prints
    os.environ.pop("OMP_NUM_THREADS", None)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # Temporary files of Python and of both JVMs (the launcher and the
    # driver) stay in the work directory too.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's default driver heap, committed at start: without -Xms the
    # heap grows by GC pressure, and peak memory with it, differently in
    # every run.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = "-Xms1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    return nproc


def main(argv=None) -> int:
    started = process_start_time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pypgcdc_spark", "__init__.py")):
        print("perfbench: run from the repository root (pypgcdc_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    work = os.path.join(bench_dir, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results = os.path.join(bench_dir, "results")
    os.makedirs(work, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    nproc = prepare_env(root, work)

    from perfbench import workloads as wl
    from perfbench.layers import TracedPgCdcDataSource
    from perfbench.trace import RssSampler, Tracer, percentile
    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.session import get_spark

    rss = RssSampler()
    rss.start()
    host = host_info(root, nproc)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sizes = wl.SMOKE if args.smoke else wl.FULL
    spark = None
    try:
        with ThreadPoolExecutor(1) as pool:
            backlog = pool.submit(wl.write_backlog, work, args.workload, args.seed, sizes)
            spark = get_spark("perfbench", cpus=nproc)
            spark.sparkContext.setLogLevel("ERROR")
            engine = PgCdcEngine(spark)
            session_s = time.time() - started
            if args.trace:
                spark.dataSource.register(TracedPgCdcDataSource)
            bench = wl.Bench(spark, engine, work, tracer, args.seed, args.seconds, sizes,
                             backlog.result(), corrupt=args.corrupt_oracle)
        bench.warm_up(args.workload)
        setup_s = time.time() - started
        tracer.spans.clear()  # the set-up drain is not measured

        if args.workload in wl.LIVE:
            out = bench.live()
        else:
            out = bench.backlog(args.workload)
        per_layer = bench.layer_metrics(out) if args.trace else {}
        baseline = None
        if args.workload == "land_backlog" and not args.trace:
            from perfbench.layers import in_process_feed_rate

            baseline = in_process_feed_rate(out.info["log"])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        peak_mb = rss.stop()
        stop_spark(spark)

    from perfbench.trace import median

    fresh = out.freshness_ms
    e2e = {
        "setup_s": setup_s,
        "events_per_s": median(out.rates),
        "freshness_p50_ms": percentile(fresh, 50),
        "freshness_p90_ms": percentile(fresh, 90),
        "peak_rss_mb": peak_mb,
    }
    failed_frac = out.failed / out.attempted if out.attempted else 1.0
    host["loadavg_end"] = list(os.getloadavg())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "host": host,
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
        "failed_frac": failed_frac,
        "attempted": out.attempted,
        "failed": out.failed,
        "setup_phases_s": {"session": session_s, "warm_up": setup_s - session_s},
        "samples": {
            "events_per_s": len(out.rates),
            "freshness": len(fresh),
            "batches": len(out.batches),
        },
        "peak_rss_mb_by_command": {
            k: v / (1 << 20) for k, v in sorted(rss.peak_by_command.items())
        },
        "per_layer": per_layer,
        "info": {k: v for k, v in out.info.items() if not str(k).endswith("_dir")},
    }
    if baseline is not None:
        record["info"]["transform.feed.events_per_s"] = baseline
        record["info"]["events_per_s_over_transform_feed"] = e2e["events_per_s"] / baseline
    if args.trace:
        record["tracing"] = {
            "spans": len(tracer.spans),
            "self_ms": tracer.self_times_ms(),
            "overhead": tracing_overhead(results, args, e2e),
        }
        tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    report(record, e2e, per_layer)
    metrics = per_layer if args.trace else e2e
    units = layer_units() if args.trace else END_TO_END_UNITS
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM exiting on stdin EOF below is what matters
            pass
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def layer_units() -> dict:
    from perfbench.workloads import LAYER_UNITS

    return LAYER_UNITS


def tracing_overhead(results: str, args, traced: dict) -> dict:
    """Traced vs untraced end-to-end numbers: the newest untraced result
    of the same workload in ``results/``, when there is one."""
    prefix = f"{args.workload}-"
    found = sorted(
        (f for f in os.listdir(results)
         if f.startswith(prefix) and f.endswith(".json") and f.split("-")[-2] == "0"),
        key=lambda f: os.path.getmtime(os.path.join(results, f)),
    )
    if not found:
        return {"untraced_result": None}
    with open(os.path.join(results, found[-1])) as f:
        base = json.load(f)["end_to_end"]
    return {
        "untraced_result": found[-1],
        **{
            k: {"untraced": base[k]["value"], "traced": v,
                "ratio": v / base[k]["value"] if base[k]["value"] else None}
            for k, v in traced.items()
        },
    }


def report(record: dict, e2e: dict, per_layer: dict) -> None:
    """Human-readable lines before the final JSON line."""
    s = record["samples"]
    print(f"workload {record['workload']} seed {record['seed']} trace {record['trace']} "
          f"nproc {record['host']['nproc']} cpu_count {record['host']['cpu_count']}")
    for k, v in e2e.items():
        n = {"events_per_s": s["events_per_s"]}.get(k, s["freshness"] if "fresh" in k else 1)
        print(f"  {k:<22} {v:14.4f} {END_TO_END_UNITS[k]:<9} (n={n})")
    print(f"  {'failed_frac':<22} {record['failed_frac']:14.4f} ratio     "
          f"({record['failed']}/{record['attempted']} transactions)")
    print(f"  setup phases (s): {json.dumps(record['setup_phases_s'])}")
    print(f"  peak rss by command (MB): {json.dumps(record['peak_rss_mb_by_command'])}")
    for k, v in record["info"].items():
        print(f"  info {k} = {v}")
    if per_layer:
        from perfbench.workloads import LAYER_UNITS

        for k, v in per_layer.items():
            print(f"  layer {k:<36} {v:16.4f} {LAYER_UNITS[k]}")
        print(f"  trace overhead: {json.dumps(record['tracing']['overhead'])}")


if __name__ == "__main__":
    sys.exit(main())
