"""Scale-stress harness: one datapoint ABOVE the bench SF (verdict r2 #7).

Synthesizes an sf~1 dataset (REPL× the sf0.1 fixtures) in scratch space,
runs the four stress queries at sf0.1 and at the scaled dir, and writes
``SCALE_STRESS_r{N}.json`` with wall times, the time-scaling ratio vs the
rows ratio, and absolute correctness checks at the scaled size.  Purpose:
catch any quadratic tail the sf0.1 bench cannot see.

Scaling construction (deliberately structure-preserving):

* ``lineitem``: REPL copies with ``l_orderkey`` offset per replica —
  q1's groups are unchanged, counts/sums scale exactly ×REPL, and the
  DuckDB oracle runs on the scaled table for a full hash check.
* ``documents``: REPL copies with ``doc_id`` offset by a multiple of 10
  (preserves the eval-split ``doc_id % 10``) and every WORD salted with a
  replica suffix — replica vocabularies are disjoint, so cross-replica
  similarity is zero and the duplicate/contamination structure of each
  replica is exactly the sf0.1 structure.  Near-dup pair counts and
  span/decontamination aggregates therefore scale ×REPL BY CONSTRUCTION,
  which turns the scaled run into an absolute correctness check, not just
  a timing.

Usage: python tools/scale_stress.py [--repl 10] [--out SCALE_STRESS_r03.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
WARM = "/root/testdata/sf0.01"
DOC_STRIDE = 5000  # sf0.1 doc_id range; multiple of 10 keeps doc_id%10
STRESS = [
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "text_duplicate_spans",
    "pipeline_decontamination",
]
# Round-4 additions (verdict task 5): the iterative tail.  Key offsets in
# build_scaled make each replica's customer/supplier/user id-space
# disjoint, so the scaled graph/corpus is REPL disjoint copies of the
# base one — iteration cost must scale ~linearly in edges, and cluster
# counts scale exactly ×REPL by construction.
STRESS_ITER = [
    "graph_pagerank",
    "graph_pagerank_bucketed",
    "dedup_cc_large_star",
]
# Round-4 session additions: candidate-generation dedup (pair-explosion
# risk), fixed-size sketch build, bloom-prefiltered join (exact-linear
# match counts by construction), and the iterative k-means kernel
# (replicated identical vectors ⇒ identical centroids, member counts
# exactly ×REPL — an absolute correctness check on the iteration).
STRESS_R4 = [
    "dedup_edit_distance",
    "sketch_count_min",
    "join_bloom_prefilter",
    "embed_kmeans_domains",
]
# Round-4 session-3 additions: triangle counting (order replication
# leaves the DISTINCT co-purchase relation unchanged — the triangle
# total must be INVARIANT, an absolute check), PQ search (codes ×REPL,
# LUT constant — linear scan), DSIR (token scans linear; per-source doc
# and selection counts exactly ×REPL), and bigram scoring (salted
# replica vocabularies are disjoint, so each replica reproduces the
# base LM exactly — per-lang averages must be IDENTICAL at both
# scales while n_docs scales ×REPL).
# Round-8 additions (r7 verdict task 6): the CDC-maintained minhash
# index AFTER the static-isin bucket-prune change (ADVICE r7) — per-batch
# cost must stay O(touched buckets) as the corpus scales.
STRESS_R8 = [
    "cdc_minhash_maintenance",
]
STRESS_R4S3 = [
    "graph_triangle_count",
    "ann_product_quantized",
    "pipeline_dsir_importance",
    "text_bigram_logprob",
    # Span-merge removal: salted replica vocabularies keep every dup
    # span intra-replica, so islands and removed words scale exactly
    # ×REPL and removal_ppm is IDENTICAL at both scales.
    "text_dup_span_removal",
]


def build_scaled(spark, out_dir: str, repl: int) -> None:
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    max_ok = li.agg(F.max("l_orderkey")).first()[0] + 1
    max_sk = li.agg(F.max("l_suppkey")).first()[0] + 1
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(i * max_sk))
        for i in range(repl)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    # orders: orderkey offsets aligned with lineitem's, custkey offsets
    # make each replica's customer set disjoint → the trade graph is REPL
    # disjoint copies of the base graph.  The custkey offset is shared
    # with the customer table below so dim⋈fact joins stay replica-
    # aligned (bloom-prefilter match counts scale EXACTLY ×REPL).
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    customer = spark.read.parquet(f"{BASE}/customer.parquet")
    max_ck = (
        max(
            orders.agg(F.max("o_custkey")).first()[0],
            customer.agg(F.max("c_custkey")).first()[0],
        )
        + 1
    )
    cparts = [
        customer.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * max_ck))
        for i in range(repl)
    ]
    cout = cparts[0]
    for p in cparts[1:]:
        cout = cout.unionByName(p)
    cout.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    # embeddings: vec_id offsets only — coordinates and labels unchanged,
    # so the scaled corpus is REPL identical copies of every vector and
    # k-means (seeded from replica-0's first k ids) must reproduce the
    # base centroids with member counts exactly ×REPL.
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    max_vid = emb.agg(F.max("vec_id")).first()[0] + 1
    vparts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * max_vid))
        for i in range(repl)
    ]
    vout = vparts[0]
    for p in vparts[1:]:
        vout = vout.unionByName(p)
    vout.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    oparts = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok))
        .withColumn("o_custkey", F.col("o_custkey") + F.lit(i * max_ck))
        for i in range(repl)
    ]
    oout = oparts[0]
    for p in oparts[1:]:
        oout = oout.unionByName(p)
    oout.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    # events: disjoint users + event ids per replica, timestamps kept —
    # the streaming kernels' watermark/window behavior is unchanged and
    # per-replica join/window structure is exactly the base structure.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    max_eid = ev.agg(F.max("event_id")).first()[0] + 1
    max_uid = ev.agg(F.max("user_id")).first()[0] + 1
    eparts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * max_eid))
        .withColumn("user_id", F.col("user_id") + F.lit(i * max_uid))
        for i in range(repl)
    ]
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    # Emit a single FILE named events.parquet (like the fixture layout):
    # the streaming queries list the sf_dir with
    # pathGlobFilter='events.parquet', which matches leaf files by name —
    # a directory of part files would silently match nothing.
    import glob as _glob

    tmp_ev = f"{out_dir}/_events_build"
    eout.coalesce(1).write.mode("overwrite").parquet(tmp_ev)
    shutil.move(_glob.glob(f"{tmp_ev}/part-*.parquet")[0], f"{out_dir}/events.parquet")
    shutil.rmtree(tmp_ev, ignore_errors=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    reps = []
    for i in range(repl):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * DOC_STRIDE))
        if i > 0:
            # Disjoint per-replica vocabulary: salt every word.
            salted = F.array_join(
                F.transform(
                    F.split("text", " "), lambda w: F.concat(w, F.lit(f"_q{i}"))
                ),
                " ",
            )
            d = d.withColumn("text", salted)
        reps.append(d.withColumn("n_chars", F.length("text")))
    out = reps[0]
    for p in reps[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def timed(fn, spark, sf_dir: str) -> float:
    """Steady-state wall time: run twice, report the second.  The first
    execution at a freshly-built scaled dir pays page-cache-cold reads and
    size-specific JIT/AQE planning (measured 83s vs 11s steady on the x10
    minhash) — the scaling ratio we're after is the warm one; cold-read
    cost is linear in bytes by construction."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    try:
        spark._jvm.System.gc()  # noqa: SLF001 — don't time the GC either
    except Exception:
        pass
    # Min of 2 timed passes: a single unprotected pass let one host-load
    # spike fake a scaling cliff (r9: graph_triangle_count recorded
    # time_ratio 7.66 in the artifact; an immediate targeted recheck
    # measured 1.32 — same code, same data).  A transient inflates one
    # pass, not the min — same discipline as bench.py's headline walls.
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)



def r8_kernel_scalings(repl: int) -> dict:
    """Throughput at 1x and repl*x volume for the round-7/8-touched
    kernels: binary-tuple decode + send-format text rendering (pgbin),
    the driver's incremental boundary scan (TxBoundaryScanner + registry
    fold + the r8 scan-pass fingerprint), and the full wire tailer
    against an emulated walsender (version negotiation + lag telemetry
    in the frame loop).  All three are per-unit-flat by design; the
    artifact records the measured ratio."""
    import struct
    import tempfile

    from pypgcdc_spark.cdc import pgbin, pgoutput as pg
    from pypgcdc_spark.sources.pgcdc import PgCdcStreamReader
    from pypgcdc_spark.sources.replay import scan_frames
    from pypgcdc_spark.testing import WorkloadWriter

    out = {}
    n_base = 3000

    # 1. pgbin: binary-tuple decode + to_text rendering (int8, float8,
    #    numeric-free mix; floats exercise the Ryu shortest path).
    def bin_frames(n):
        fr = []
        for i in range(n):
            fr.append(
                pg.encode_insert(
                    16385,
                    [str(i), struct.pack(">q", i * 7), struct.pack(">d", i * 1.7)],
                )
            )
        return fr

    def decode_render_rate(frames):
        t0 = time.perf_counter()
        for f in frames:
            msg = pg.decode_message(f)
            cols = msg.new_tuple.columns
            pgbin.to_text(20, cols[1].binary)   # int8 send format
            pgbin.to_text(701, cols[2].binary)  # float8 (Ryu shortest)
        return len(frames) / (time.perf_counter() - t0)

    base = max(decode_render_rate(bin_frames(n_base)) for _ in range(3))
    scaled = decode_render_rate(bin_frames(n_base * repl))
    out["pgbin_binary_decode_render"] = {
        "base_msgs_per_sec": round(base),
        f"x{repl}_msgs_per_sec": round(scaled),
        "throughput_ratio": round(scaled / base, 2),
    }

    # 2. driver incremental scan: latestOffset over a fresh reader at
    #    1x and repl*x transactions (frame-header cost + fingerprint).
    def scan_rate(n_tx):
        d = tempfile.mkdtemp(prefix="scan_stress_")
        log = os.path.join(d, "scan.log")
        w = WorkloadWriter(log)
        w.relation(16385, "integration", [(True, "id", 20, -1), (False, "v", 25, -1)])
        for i in range(n_tx):
            w.tx([pg.encode_insert(16385, [str(i), "v" * 40])])
        w.close()
        n_frames = sum(1 for _ in scan_frames(log))
        r = PgCdcStreamReader({"path": log})
        t0 = time.perf_counter()
        r.latestOffset()
        dt = time.perf_counter() - t0
        shutil.rmtree(d, ignore_errors=True)
        return n_frames / dt

    base = max(scan_rate(n_base) for _ in range(3))
    scaled = scan_rate(n_base * repl)
    out["driver_incremental_scan"] = {
        "base_frames_per_sec": round(base),
        f"x{repl}_frames_per_sec": round(scaled),
        "throughput_ratio": round(scaled / base, 2),
    }

    # 3. wire tailer vs emulated walsender (negotiation + lag telemetry).
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tests"))
    from test_pgwire import DB, USER, FakeWalsender

    from pypgcdc_spark.sources.pgwire import WireReplicationTailer

    class _FastWalsender(FakeWalsender):
        """Throughput variant of the protocol fixture: the stock fake
        drains the client socket after EVERY frame with a 50 ms read
        timeout (a correctness harness, ~20 frames/s ceiling), which
        would measure the fixture, not the tailer.  Drain every 256
        frames instead; the protocol is unaffected (standby statuses
        just batch up in the socket buffer)."""

        _calls = 0

        def _drain_client(self, conn):
            self._calls += 1
            if self._calls % 256:
                return False
            return super()._drain_client(conn)

    def tail_rate(n_tx):
        d = tempfile.mkdtemp(prefix="tail_stress_")
        src = os.path.join(d, "src.log")
        w = WorkloadWriter(src)
        w.relation(16385, "integration", [(True, "id", 20, -1), (False, "v", 25, -1)])
        for i in range(n_tx):
            w.tx([pg.encode_insert(16385, [str(i), "v" * 40])])
        w.close()
        frames = [(fr.lsn, fr.payload) for fr in scan_frames(src)]
        srv = _FastWalsender(auth="trust", frames=frames, slot_exists=True)
        srv.start()
        log = os.path.join(d, "wire.log")
        tailer = WireReplicationTailer("127.0.0.1", srv.port, USER, DB, "pub1", "slot1", log)
        tailer.start()
        t0 = time.perf_counter()
        # max_messages: return at the last frame (no idle-drain tail in
        # the measurement window).
        n = tailer.run(max_messages=len(frames))
        dt = time.perf_counter() - t0
        tailer.stop()
        srv.join(10)
        assert n == len(frames), (n, len(frames))
        shutil.rmtree(d, ignore_errors=True)
        return n / dt

    base = max(tail_rate(n_base) for _ in range(2))
    scaled = tail_rate(n_base * repl)
    out["wire_tailer_ingest"] = {
        "base_msgs_per_sec": round(base),
        f"x{repl}_msgs_per_sec": round(scaled),
        "throughput_ratio": round(scaled / base, 2),
    }
    return out



def r9_kernel_scalings(repl: int) -> dict:
    """Round-9 kernels: the segmented replay log must cost NOTHING over
    the single-file layout (same frames, stitched across archive
    segments), roll cost must be per-roll flat, and a GC sweep must be
    O(segments dropped).  Measured at 1x and repl*x transactions."""
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.replay import (
        SegmentedLogWriter,
        TxBoundaryScanner,
        gc_segments,
        list_segments,
        scan_frames,
        tx_boundaries,
    )
    from pypgcdc_spark.testing import WorkloadWriter

    out = {}
    n_base = 1500
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def build_pair(n_tx, d):
        plain = os.path.join(d, "plain.log")
        w = WorkloadWriter(plain)
        w.relation(16385, "integration", [(True, "id", 20, -1), (False, "v", 25, -1)])
        for i in range(n_tx):
            w.tx([pg.encode_insert(16385, [str(i), "v" * 40])])
        w.close()
        seg = os.path.join(d, "seg.log")
        sw = SegmentedLogWriter(seg, segment_bytes=64 << 10)
        sc = TxBoundaryScanner()
        rolls = 0
        t0 = time.perf_counter()
        for fr in scan_frames(plain):
            closed = sc.feed(fr)
            sw.append(fr.lsn, fr.payload, ts)
            if closed is not None and sw.maybe_roll():
                rolls += 1
        sw.close()
        write_sec = time.perf_counter() - t0
        return plain, seg, rolls, write_sec

    def full_scan_rate(path):
        t0 = time.perf_counter()
        n = sum(1 for _ in scan_frames(path, prefix_bytes=64))
        return n / (time.perf_counter() - t0)

    res = {}
    for tag, n_tx in (("base", n_base), (f"x{repl}", n_base * repl)):
        d = tempfile.mkdtemp(prefix="seg_stress_")
        try:
            plain, seg, rolls, write_sec = build_pair(n_tx, d)
            assert tx_boundaries(seg) == tx_boundaries(plain)
            plain_r = max(full_scan_rate(plain) for _ in range(2))
            seg_r = max(full_scan_rate(seg) for _ in range(2))
            # GC sweep: drop everything below the last boundary.
            n_segs = len(list_segments(seg))
            hi = tx_boundaries(seg)[-1][1]
            t0 = time.perf_counter()
            gc_segments(seg, hi)
            gc_sec = time.perf_counter() - t0
            res[tag] = {
                "tx": n_tx,
                "segments": n_segs,
                "rolls": rolls,
                "plain_scan_frames_per_sec": round(plain_r),
                "segmented_scan_frames_per_sec": round(seg_r),
                "segmented_over_plain": round(seg_r / plain_r, 2),
                "segmented_write_sec": round(write_sec, 2),
                "gc_sweep_sec": round(gc_sec, 4),
                "gc_dropped_segments": n_segs - len(list_segments(seg)),
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
    ratio = res[f"x{repl}"]["segmented_scan_frames_per_sec"] / res["base"][
        "segmented_scan_frames_per_sec"
    ]
    out["segmented_log_scan"] = {
        **res,
        "throughput_ratio": round(ratio, 2),
    }
    return out


def r12_churn_model_kernel(spark) -> dict:
    """Round-12 kernel (VERDICT r11 task 3): pin the churn-aware bucket
    sizing rule by MEASUREMENT, not prose.  The r11 5M soak's post-mortem
    model says a batch of K distinct keys over B buckets rewrites
    ``state_rows * (1 - e^(-K/B))`` state rows; this kernel seeds a
    bucketed IVM at two bucket counts — the r11 failure count (K/B ~ 4,
    most of state rewritten) and the churn-rule count (B >= 8K, ~12%) —
    applies an identical churn batch, and reports measured vs model
    touched-buckets and rows-rewritten (done-bar: within ~15%) plus the
    per-batch wall contrast."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pypgcdc_spark.operators.churn import expected_touched, recommend_buckets
    from pypgcdc_spark.operators.ivm import BucketedViewMaintainer

    N_STATE = 200_000
    KEYS = 2_000
    out = {}
    for n_buckets in (512, 16384):
        d = tempfile.mkdtemp(prefix="churn_model_")
        try:
            m = BucketedViewMaintainer(spark, d, n_buckets=n_buckets)
            seed = spark.range(N_STATE).select(
                F.col("id").alias("event_id"),
                F.col("id").alias("user_id"),
                F.lit("view").alias("event_type"),
                F.lit(1.0).alias("value"),
            )
            m.apply_batch(seed, 0)
            batch = spark.range(KEYS).select(
                (F.lit(N_STATE) + F.col("id")).alias("event_id"),
                ((F.col("id") * 104729) % N_STATE).alias("user_id"),
                F.lit("purchase").alias("event_type"),
                F.lit(2.0).alias("value"),
            )
            t0 = time.perf_counter()
            m.apply_batch(batch, 1)
            wall = time.perf_counter() - t0
            bucket_expr = F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int")
            buckets = sorted(
                r.b
                for r in batch.select(bucket_expr.alias("b")).distinct().collect()
            )
            rewritten = (
                spark.read.parquet(m.key_path)
                .filter(F.col("bucket").isin(buckets))
                .count()
            )
            model_rows = N_STATE * (1 - math.exp(-KEYS / n_buckets))
            model_touched = expected_touched(KEYS, n_buckets)
            out[f"buckets_{n_buckets}"] = {
                "state_rows": N_STATE,
                "keys_per_batch": KEYS,
                "touched_buckets": len(buckets),
                "model_touched_buckets": round(model_touched, 1),
                "touched_over_model": round(len(buckets) / model_touched, 3),
                "rows_rewritten": int(rewritten),
                "model_rows_rewritten": round(model_rows, 1),
                "rewritten_over_model": round(rewritten / model_rows, 3),
                "churn_batch_wall_sec": round(wall, 2),
            }
        finally:
            shutil.rmtree(d, ignore_errors=True)
    lo, hi = out["buckets_512"], out["buckets_16384"]
    return {
        "ivm_churn_model": {
            **out,
            # The sizing rule's own answer for this churn rate (what auto
            # mode converges to; state bytes irrelevant here — churn binds).
            "auto_recommendation": recommend_buckets(
                8, 1 << 30, 128 << 20, float(KEYS), min_churn_bucket_bytes=1
            ),
            "rewrite_reduction": round(
                lo["rows_rewritten"] / max(hi["rows_rewritten"], 1), 2
            ),
            "model_max_error": round(
                max(
                    abs(1 - v)
                    for k in out.values()
                    for v in (k["touched_over_model"], k["rewritten_over_model"])
                ),
                3,
            ),
        }
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repl", type=int, default=10)
    ap.add_argument("--out", default="SCALE_STRESS_r09.json")
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 8)
    ap.add_argument(
        "--only",
        default="",
        help="comma-separated substrings: stress only matching query names "
        "(kernel/streaming/correctness sections run only when unfiltered)",
    )
    args = ap.parse_args()
    repl = args.repl
    only = [s for s in args.only.split(",") if s]

    def _want(name: str) -> bool:
        return not only or any(s in name for s in only)

    from pypgcdc_spark.queries import REGISTRY, ensure_registered
    from pypgcdc_spark.session import get_spark

    ensure_registered()
    spark = get_spark("scale-stress", cpus=args.cpus)
    work = tempfile.mkdtemp(prefix="sf_scaled_")
    report = {"repl": repl, "base": BASE, "queries": {}, "correctness": {}}
    try:
        t0 = time.perf_counter()
        build_scaled(spark, work, repl)
        report["build_sec"] = round(time.perf_counter() - t0, 1)

        # JIT warm-up at sf0.01, then time each query at both scales.
        for name in STRESS:
            if not _want(name):
                continue
            fn = REGISTRY[name].fn
            try:
                fn(spark, WARM).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
            base_s = timed(fn, spark, BASE)
            scaled_s = timed(fn, spark, work)
            ratio = round(scaled_s / base_s, 2) if base_s else None
            report["queries"][name] = {
                "sf0.1_sec": base_s,
                f"x{repl}_sec": scaled_s,
                "time_ratio": ratio,
                "rows_ratio": repl,
                "superlinearity": round(ratio / repl, 2) if ratio else None,
            }

        # -- iterative tail (round-4): PageRank both physical strategies,
        # log-round connected components.  timed() reports the second run,
        # so the bucketed variant's one-time edge-table build lands in the
        # warm-up execution (steady-state semantics, same as every other
        # stressed query).
        for name in STRESS_ITER + STRESS_R4 + STRESS_R4S3 + STRESS_R8:
            if not _want(name):
                continue
            fn = REGISTRY[name].fn
            try:
                fn(spark, WARM).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
            base_s = timed(fn, spark, BASE)
            scaled_s = timed(fn, spark, work)
            ratio = round(scaled_s / base_s, 2) if base_s else None
            report["queries"][name] = {
                "sf0.1_sec": base_s,
                f"x{repl}_sec": scaled_s,
                "time_ratio": ratio,
                "rows_ratio": repl,
                "superlinearity": round(ratio / repl, 2) if ratio else None,
            }

        # -- r8 kernel scalings (verdict task 6): the paths rounds 7-8
        # touched, measured as THROUGHPUT at 1x and 10x volume (flat
        # per-unit cost == linear scaling).
        if not only:
            report["queries"].update(r8_kernel_scalings(repl))
            # -- r9 kernels: segmented-log scan parity / roll / GC sweep.
            report["queries"].update(r9_kernel_scalings(repl))
        # -- r12 kernel: churn-sizing model vs measurement (also runnable
        # alone via --only churn_model).
        if not only or any("churn_model" in s for s in only):
            report["queries"].update(r12_churn_model_kernel(spark))

        # -- absolute correctness at the scaled size ---------------------
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__))))
        from check_correctness import frame_fingerprint

        import duckdb

        if not only:
            con = duckdb.connect()
            con.sql(
                f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{work}/lineitem.parquet/*.parquet'"
            )
            q1 = REGISTRY["q1_pricing_summary"]
            spdf = q1.fn(spark, work).toPandas()
            dpdf = con.sql(q1.oracle).df()
            _, sh, _ = frame_fingerprint(spdf)
            _, dh, _ = frame_fingerprint(dpdf)
            report["correctness"]["q1_pricing_summary"] = {
                "hash_match": sh == dh,
                "rows": len(spdf),
            }

        if _want("dedup_minhash_lsh"):
            mh_base = REGISTRY["dedup_minhash_lsh"].fn(spark, BASE).toPandas()
            mh_scaled = REGISTRY["dedup_minhash_lsh"].fn(spark, work).toPandas()
            intra = bool(
                (
                    (mh_scaled.doc_a // DOC_STRIDE) == (mh_scaled.doc_b // DOC_STRIDE)
                ).all()
            )
            report["correctness"]["dedup_minhash_lsh"] = {
                "pairs_sf0.1": len(mh_base),
                f"pairs_x{repl}": len(mh_scaled),
                "exact_linear": len(mh_scaled) == repl * len(mh_base),
                "all_pairs_intra_replica": intra,
            }
        if only:
            # Filtered run: the remaining correctness blocks belong to
            # queries outside the filter — write the report and stop.
            with open(args.out, "w") as f:
                json.dump(report, f, indent=1)
            print(json.dumps(report))
            return

        def by_source(pdf):
            return {r["source"]: r for _, r in pdf.iterrows()}

        sp_base = by_source(REGISTRY["text_duplicate_spans"].fn(spark, BASE).toPandas())
        sp_scaled = by_source(
            REGISTRY["text_duplicate_spans"].fn(spark, work).toPandas()
        )
        tri = repl * (repl - 1) // 2
        ok_counts = all(
            sp_scaled[s][c] == repl * sp_base[s][c]
            for s in sp_base
            for c in ("n_docs", "total_spans", "dup_spans", "n_flagged")
        )
        ok_idsum = all(
            sp_scaled[s]["flagged_id_sum"]
            == repl * sp_base[s]["flagged_id_sum"]
            + sp_base[s]["n_flagged"] * DOC_STRIDE * tri
            for s in sp_base
        )
        report["correctness"]["text_duplicate_spans"] = {
            "counts_exact_linear": bool(ok_counts),
            "flagged_id_sum_exact": bool(ok_idsum),
        }

        dc_base = by_source(
            REGISTRY["pipeline_decontamination"].fn(spark, BASE).toPandas()
        )
        dc_scaled = by_source(
            REGISTRY["pipeline_decontamination"].fn(spark, work).toPandas()
        )
        ok_counts = all(
            dc_scaled[s][c] == repl * dc_base[s][c]
            for s in dc_base
            for c in ("n_train", "n_contaminated", "total_overlap_shingles")
        )
        ok_idsum = all(
            dc_scaled[s]["contaminated_id_sum"]
            == repl * dc_base[s]["contaminated_id_sum"]
            + dc_base[s]["n_contaminated"] * DOC_STRIDE * tri
            for s in dc_base
        )
        report["correctness"]["pipeline_decontamination"] = {
            "counts_exact_linear": bool(ok_counts),
            "contaminated_id_sum_exact": bool(ok_idsum),
        }

        # Disjoint replica vocabularies ⇒ the near-dup graph is REPL
        # copies of the base graph, so cluster count and total membership
        # must scale EXACTLY ×REPL.
        cc_base = REGISTRY["dedup_cc_large_star"].fn(spark, BASE).toPandas()
        cc_scaled = REGISTRY["dedup_cc_large_star"].fn(spark, work).toPandas()
        report["correctness"]["dedup_cc_large_star"] = {
            "clusters_sf0.1": len(cc_base),
            f"clusters_x{repl}": len(cc_scaled),
            "clusters_exact_linear": len(cc_scaled) == repl * len(cc_base),
            "members_exact_linear": int(cc_scaled.n_members.sum())
            == repl * int(cc_base.n_members.sum()),
        }
        # -- round-4 session ops: absolute checks at the scaled size ----
        # bloom: replica-aligned custkey offsets ⇒ dim keys and verified
        # matches scale EXACTLY ×REPL; false positives need not (the
        # bitset saturates), so they are recorded, not asserted.
        bl_base = REGISTRY["join_bloom_prefilter"].fn(spark, BASE).toPandas().iloc[0]
        bl_scaled = REGISTRY["join_bloom_prefilter"].fn(spark, work).toPandas().iloc[0]
        report["correctness"]["join_bloom_prefilter"] = {
            "dim_keys_exact_linear": int(bl_scaled.n_dim_keys)
            == repl * int(bl_base.n_dim_keys),
            "true_matches_exact_linear": int(bl_scaled.n_true_matches)
            == repl * int(bl_base.n_true_matches),
            f"fp_x{repl}": int(bl_scaled.n_false_positives),
            "fp_sf0.1": int(bl_base.n_false_positives),
        }

        # k-means: identical replicated vectors + replica-0 seeds ⇒ the
        # iteration must reproduce base centroids exactly — member counts
        # ×REPL, avg_dist2 and top_label bit-identical per cluster.
        km_base = (
            REGISTRY["embed_kmeans_domains"].fn(spark, BASE).toPandas()
            .set_index("cluster_id").sort_index()
        )
        km_scaled = (
            REGISTRY["embed_kmeans_domains"].fn(spark, work).toPandas()
            .set_index("cluster_id").sort_index()
        )
        report["correctness"]["embed_kmeans_domains"] = {
            "members_exact_linear": bool(
                (km_scaled.n_members == repl * km_base.n_members).all()
            ),
            "avg_dist2_identical": bool(
                (km_scaled.avg_dist2 == km_base.avg_dist2).all()
            ),
            "top_label_identical": bool(
                (km_scaled.top_label == km_base.top_label).all()
            ),
        }

        # edit-distance: word-salting changes intra-pair distances, so
        # counts are recorded with the structural guarantee only (every
        # pair stays inside one replica — no cross-replica explosion).
        ed_base = REGISTRY["dedup_edit_distance"].fn(spark, BASE).toPandas()
        ed_scaled = REGISTRY["dedup_edit_distance"].fn(spark, work).toPandas()
        report["correctness"]["dedup_edit_distance"] = {
            "pairs_sf0.1": len(ed_base),
            f"pairs_x{repl}": len(ed_scaled),
            "all_pairs_intra_replica": bool(
                ((ed_scaled.doc_id_a // DOC_STRIDE) == (ed_scaled.doc_id_b // DOC_STRIDE)).all()
            )
            if len(ed_scaled)
            else True,
        }

        # count-min: the grid absorbs a ×REPL vocabulary — estimates stay
        # one-sided (overcount ≥ 0) and the output stays 8 rows.
        cm_scaled = REGISTRY["sketch_count_min"].fn(spark, work).toPandas()
        report["correctness"]["sketch_count_min"] = {
            "rows": len(cm_scaled),
            "one_sided": bool((cm_scaled.overcount >= 0).all()),
        }

        # triangle count: order replication leaves the DISTINCT
        # co-purchase edge relation unchanged (l_partkey is not offset),
        # so the global triangle total must be INVARIANT under ×REPL.
        tr_base = REGISTRY["graph_triangle_count"].fn(spark, BASE).toPandas()
        tr_scaled = REGISTRY["graph_triangle_count"].fn(spark, work).toPandas()
        report["correctness"]["graph_triangle_count"] = {
            "total_sf0.1": int(tr_base.total_triangles.iloc[0]),
            f"total_x{repl}": int(tr_scaled.total_triangles.iloc[0]),
            "total_invariant": int(tr_base.total_triangles.iloc[0])
            == int(tr_scaled.total_triangles.iloc[0]),
        }

        # DSIR: per-source doc counts and quota selections scale EXACTLY
        # ×REPL (sources are preserved; quota = floor(n*keep) commutes
        # with ×REPL when n*keep is integral, which the fixture's
        # per-source counts make true).
        ds_base = by_source(
            REGISTRY["pipeline_dsir_importance"].fn(spark, BASE).toPandas()
        )
        ds_scaled = by_source(
            REGISTRY["pipeline_dsir_importance"].fn(spark, work).toPandas()
        )
        report["correctness"]["pipeline_dsir_importance"] = {
            "docs_exact_linear": all(
                ds_scaled[s]["n_docs"] == repl * ds_base[s]["n_docs"] for s in ds_base
            ),
            "selected_exact_linear": all(
                ds_scaled[s]["n_selected"] == repl * ds_base[s]["n_selected"]
                for s in ds_base
            ),
        }

        # bigram LM: disjoint salted replica vocabularies ⇒ every replica
        # reproduces the base model exactly — per-lang avg/min/max
        # logprobs IDENTICAL at both scales, n_docs ×REPL.
        def by_lang(pdf):
            return {r["lang"]: r for _, r in pdf.iterrows()}

        bg_base = by_lang(REGISTRY["text_bigram_logprob"].fn(spark, BASE).toPandas())
        bg_scaled = by_lang(REGISTRY["text_bigram_logprob"].fn(spark, work).toPandas())
        report["correctness"]["text_bigram_logprob"] = {
            "docs_exact_linear": all(
                bg_scaled[lg]["n_docs"] == repl * bg_base[lg]["n_docs"]
                for lg in bg_base
            ),
            "scores_identical": all(
                bg_scaled[lg][c] == bg_base[lg][c]
                for lg in bg_base
                for c in ("avg_logprob", "worst_logprob", "best_logprob")
            ),
        }

        # span removal: every dup span stays intra-replica (salted
        # vocabularies), so island/word counts scale exactly ×REPL and
        # the removal ppm is identical.
        sr_base = by_source(
            REGISTRY["text_dup_span_removal"].fn(spark, BASE).toPandas()
        )
        sr_scaled = by_source(
            REGISTRY["text_dup_span_removal"].fn(spark, work).toPandas()
        )
        report["correctness"]["text_dup_span_removal"] = {
            "counts_exact_linear": all(
                sr_scaled[s][c] == repl * sr_base[s][c]
                for s in sr_base
                for c in ("n_docs_affected", "n_islands", "removed_words",
                          "affected_doc_words")
            ),
            "removal_ppm_identical": all(
                sr_scaled[s]["removal_ppm"] == sr_base[s]["removal_ppm"]
                for s in sr_base
            ),
        }

        # -- round-5 streaming/IVM tail (verdict r4 item 8): the join-IVM
        # maintainer, the oracle-backed stream-stream join, and the
        # stateful pattern detector at 10×.  Absolute check = the SAME
        # DuckDB oracle the gate runs, evaluated over the SCALED tables —
        # a full hash-match at 10×, the strongest invariant available.
        import duckdb as _duck

        con5 = _duck.connect()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        pats = {
            t: (
                f"{work}/{t}.parquet"
                if os.path.isfile(f"{work}/{t}.parquet")
                else f"{work}/{t}.parquet/*.parquet"
            )
            for t in ("orders", "lineitem", "events")
        }
        con5.sql(f"CREATE VIEW orders AS SELECT * FROM '{pats['orders']}'")
        con5.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{pats['lineitem']}'")
        # The scaled events file was rewritten by Spark under nanosAsLong,
        # so ts is a BIGINT of nanoseconds — normalize to TIMESTAMP the
        # same way event_ts_expr does (ns div 1000 → µs) so the static
        # oracle SQL sees the type it was written against.
        ts_type = str(
            con5.sql(f"SELECT typeof(ts) FROM '{pats['events']}' LIMIT 1").fetchone()[0]
        ).upper()
        if "INT" in ts_type:
            con5.sql(
                "CREATE VIEW events AS SELECT * REPLACE "
                f"(make_timestamp(ts // 1000) AS ts) FROM '{pats['events']}'"
            )
        else:
            con5.sql(f"CREATE VIEW events AS SELECT * FROM '{pats['events']}'")
        for name in ("cdc_join_view_ivm", "stream_stream_join", "stream_pattern_detect"):
            qd = REGISTRY[name]
            try:
                qd.fn(spark, WARM).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
            base_s = timed(qd.fn, spark, BASE)
            scaled_s = timed(qd.fn, spark, work)
            ratio = round(scaled_s / base_s, 2) if base_s else None
            report["queries"][name] = {
                "sf0.1_sec": base_s,
                f"x{repl}_sec": scaled_s,
                "time_ratio": ratio,
                "rows_ratio": repl,
                "superlinearity": round(ratio / repl, 2) if ratio else None,
            }
            spdf = qd.fn(spark, work).toPandas()
            dpdf = con5.sql(qd.oracle).df()
            _, sh, _ = frame_fingerprint(spdf)
            _, dh, _ = frame_fingerprint(dpdf)
            report["correctness"][name] = {
                "hash_match_at_scale": bool(sh == dh),
                "rows": len(spdf),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
