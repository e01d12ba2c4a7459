"""The workloads, driven through ``PgCdcEngine.stream``.

* ``land_backlog``: a pre-written backlog drained into an append-only
  parquet envelope table (no maintainer: the source path carries the wall).
* ``live_land``: an open-loop generator appends two-row transactions at a
  fixed rate while one default-trigger query lands every batch in the
  same kind of table.  Batches are small, so per-batch fixed costs set
  freshness.
* ``apply_backlog``: the same generator as ``land_backlog``, smaller,
  drained into current state by ``PgCdcEngine.materialize(..., n_buckets=16)``.
* ``live_trickle``: ``live_land``'s generator, with every batch applied to
  a ``DeleteAwareMerger`` and a ``BucketedViewMaintainer``.

``BENCHMARK.json`` lists the first two.  The last two run several
seconds per batch, so a run that fits the benchmark's time budget holds
too few batches to repeat within its bounds; run them by hand, and see
the maintainers' per-layer numbers in any traced run.

A backlog run drains fresh copies of one log, round after round, until
its time is used.  Every drain ends with ``processAllAvailable`` and an
assertion that the checkpoint's committed offset reached the log end;
every result is then checked against the generator's oracle.

Traced runs differ from untraced ones in three ways only: spans around
the sink's layer calls, a ``localCheckpoint`` of each batch (so that
pulling the batch from the source is timed apart from the merge; the
live sink always checkpoints, because two maintainers read each batch),
and the timed ``pgcdc`` reader (``layers.TracedPgCdcDataSource``).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen, layers
from perfbench.trace import Tracer, mean, median, percentile
from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.apply import DeleteAwareMerger
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.operators.ivm import BucketedViewMaintainer
from pypgcdc_spark.sources import replay

WORKLOADS = ("land_backlog", "apply_backlog", "live_land", "live_trickle")
LIVE = ("live_land", "live_trickle")

# Per-workload sizes.  ``max_tx`` is maxTxPerBatch; ``buckets`` the
# state layout of the maintainers.
FULL = {
    "land_backlog": {"n_tx": 20_000, "n_keys": 20_000, "max_tx": 4_000},
    "apply_backlog": {"n_tx": 2_000, "n_keys": 5_000, "max_tx": 500, "buckets": 16},
    "live_land": {"rate": 20.0, "n_keys": 10_000},
    "live_trickle": {"rate": 20.0, "n_keys": 10_000, "buckets": 8},
}
SMOKE = {
    "land_backlog": {"n_tx": 200, "n_keys": 300, "max_tx": 60},
    "apply_backlog": {"n_tx": 120, "n_keys": 150, "max_tx": 40, "buckets": 16},
    "live_land": {"rate": 20.0, "n_keys": 200},
    "live_trickle": {"rate": 20.0, "n_keys": 200, "buckets": 8},
}
# The set-up.  A backlog workload drains a copy of its own backlog once,
# untimed: the timed drain then runs where the JVM's compiled code has
# stopped speeding batches up.  A live workload writes (transactions per
# batch, batches) ahead of the timed ones and applies them, batch by
# batch, in the live query itself.
LIVE_WARMUP = {"live_land": (20, 1), "live_trickle": (20, 1)}

# Per-layer metrics of a traced run.
LAYER_UNITS = {
    "replay.scan_frames.frames_per_s": "frames/s",
    "replay.tx_boundaries.frames_per_s": "frames/s",
    "pgoutput.decode_message.msgs_per_s": "msgs/s",
    "transform.feed.events_per_s": "events/s",
    "pgcdc.read.events_per_s": "events/s",
    "pgcdc.partitions.count": "count",
    "transfer.batch_read.events_per_s": "events/s",
    "pgcdc.partitions.ms_p50": "ms",
    "pgcdc.commit.ms_p50": "ms",
    "pgcdc.ack_lag_bytes_p50": "bytes",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.triggerExecution.ms_mean": "ms",
    "stream.addBatch.ms_mean": "ms",
    "stream.latestOffset.ms_mean": "ms",
    "stream.walCommit.ms_mean": "ms",
    "stream.commitOffsets.ms_mean": "ms",
    "batch.materialize.ms_p50": "ms",
    "apply.merge.ms_p50": "ms",
    "apply.merge.jobs_per_batch": "count",
    "apply.merge.tasks_per_batch": "count",
    "apply.state_files": "count",
    "apply.state_bytes": "bytes",
    "ivm.apply_batch.ms_p50": "ms",
    "ivm.apply_batch.jobs_per_batch": "count",
    "ivm.key_state_bytes": "bytes",
    "land.parquet_files": "count",
}


def schema_of(cols):
    """The TableSchema the source's registry derives from a Relation."""
    reg = SchemaRegistry()
    rel = pg.decode_relation(pg.encode_relation(gen.RELID, "public", gen.TABLE, cols))
    return reg.register_relation(rel)


def write_backlog(work: str, workload: str, seed: int, sizes: dict) -> Optional[Tuple[str, gen.Oracle]]:
    """A backlog workload's log and its oracle (None for a live one).
    Plain Python: it runs while the SparkSession starts."""
    if workload in LIVE:
        return None
    sz = sizes[workload]
    d = os.path.join(work, "backlog")
    os.makedirs(d, exist_ok=True)
    log = os.path.join(d, "input.log")
    return log, gen.write_backlog(log, seed, sz["n_tx"], sz["n_keys"])


def committed_pos(ckpt: str) -> int:
    """Source offset ``pos`` of the checkpoint's last committed batch."""
    try:
        ids = [int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()]
    except OSError:
        return 0
    if not ids:
        return 0
    with open(os.path.join(ckpt, "offsets", str(max(ids)))) as f:
        return int(json.loads(f.read().strip().splitlines()[-1])["pos"])


def _offset_pos(off) -> int:
    return int((json.loads(off) if isinstance(off, str) else off)["pos"])


def data_batches(query) -> List[dict]:
    """The query's micro-batches that carried rows, from its progress."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if not d.get("numInputRows"):
            continue
        start = (
            datetime.strptime(d["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )
        dur = d["durationMs"]
        out.append(
            {
                "batch": d["batchId"],
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000.0,
                "end_pos": _offset_pos(d["sources"][0]["endOffset"]),
                "rows": d["numInputRows"],
                "durations": dur,
            }
        )
    return sorted(out, key=lambda b: b["end_pos"])


def visible_at(txs: List[gen.Tx], batches: List[dict]) -> List[Optional[float]]:
    """End time of the batch whose offset range holds each transaction."""
    ends = [b["end_pos"] for b in batches]
    out = []
    for t in txs:
        i = bisect.bisect_left(ends, t.end_pos)
        out.append(batches[i]["end"] if i < len(batches) else None)
    return out


class _AckProbe(StreamingQueryListener):
    """Bytes between the log end and the source's ``.ack`` position,
    read when each data batch's progress is reported."""

    def __init__(self, log: str):
        self.log = log
        self.lags: List[int] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if not event.progress.numInputRows:
            return
        try:
            with open(self.log + ".ack") as f:
                acked = int(json.load(f)["pos"])
        except (OSError, ValueError, KeyError):
            acked = 0
        self.lags.append(replay.log_size(self.log) - acked)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    attempted: int = 0  # generated transactions, over every drain
    failed: int = 0
    rates: List[float] = field(default_factory=list)  # events/s samples
    freshness_ms: List[float] = field(default_factory=list)
    batches: List[dict] = field(default_factory=list)
    ack_lags: List[int] = field(default_factory=list)
    logs: List[str] = field(default_factory=list)
    job_groups: Dict[str, List[str]] = field(default_factory=dict)
    maintainer_batches: int = 0  # batches the maintainers' job counts span
    info: Dict[str, object] = field(default_factory=dict)


@dataclass
class _Live:
    """The live query between set-up and the timed window."""

    log: str
    ckpt: str
    trickle: gen.Trickle
    query: object
    probe: Optional[_AckProbe]
    out: Outcome
    check: Callable[[gen.Oracle], int]  # failed transactions
    stop: Optional[Callable[[], None]]  # cancels the sink's own jobs


class Bench:
    def __init__(self, spark, engine, work: str, tracer: Tracer, seed: int, seconds: float,
                 sizes: dict, backlog: Optional[Tuple[str, gen.Oracle]], corrupt: bool = False):
        self.spark = spark
        self.engine = engine
        self.work = work
        self.tracer = tracer
        self.traced = tracer.enabled
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.backlog_input = backlog
        self.corrupt = corrupt
        self.measure_start = 0.0
        self._live: Optional[_Live] = None
        self._n = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.work, f"{self._n:03d}-{name}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    # -- set-up ----------------------------------------------------------
    def warm_up(self, workload: str) -> None:
        """Set-up through the workload's own sink (see ``LIVE_WARMUP``)."""
        if workload in LIVE:
            self._live_open(workload)
            return
        out = Outcome()
        corrupt, self.corrupt = self.corrupt, False
        try:
            self._drain(workload, out)
        finally:
            self.corrupt = corrupt
        if out.failed:
            raise RuntimeError(f"set-up drain of {workload} failed its oracle check")

    def _drain(self, workload: str, out: Outcome) -> None:
        """Drain a fresh copy of the backlog into the workload's sink."""
        src, oracle = self.backlog_input
        d = self.fresh("drain")
        log = os.path.join(d, "input.log")
        shutil.copyfile(src, log)
        t0 = time.time()
        if workload == "land_backlog":
            self._land_drain(d, log, oracle, self.sizes[workload]["max_tx"], out, t0)
        else:
            self._apply_drain(d, log, oracle, self.sizes[workload], out, t0)

    # -- helpers ---------------------------------------------------------
    def _start(self, stream, sink, ckpt: str, log: str):
        probe = None
        if self.traced:
            probe = _AckProbe(log)
            self.spark.streams.addListener(probe)
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )
        return q, probe

    def _finish(self, q, probe, log: str, ckpt: str, out: Outcome) -> List[dict]:
        batches = data_batches(q)
        out.logs.append(log)
        if probe is not None:
            self.spark.streams.removeListener(probe)
            out.ack_lags.extend(probe.lags)
        if committed_pos(ckpt) != replay.log_size(log):
            raise RuntimeError(
                f"drain stopped at offset {committed_pos(ckpt)} of {replay.log_size(log)}"
            )
        return batches

    def _materialized(self, batch_df, always: bool = False):
        if not (self.traced or always):
            return batch_df
        with self.tracer.span("batch.materialize"):
            return batch_df.localCheckpoint(eager=True)

    def _record(self, oracle: gen.Oracle, batches: List[dict], t0: float,
                out: Outcome, failed: int) -> None:
        out.attempted += len(oracle.txs)
        out.failed += failed
        out.batches.extend(batches)
        # Backlog throughput: rows over execution time of each data batch.
        # A drain's batches run back to back; query start and stop, paid
        # once per drain, are left out (freshness, from t0, includes them).
        out.rates.extend(b["rows"] / (b["end"] - b["start"]) for b in batches)
        for v in visible_at(oracle.txs, batches):
            out.freshness_ms.append((v - t0) * 1000.0 if v is not None else float("inf"))

    # -- land_backlog ----------------------------------------------------
    def _land_drain(self, d: str, log: str, oracle: gen.Oracle, max_tx: int,
                    out: Outcome, t0: float) -> None:
        land, ckpt = os.path.join(d, "land"), os.path.join(d, "ckpt")
        stream = self.engine.stream(log, max_tx_per_batch=max_tx)
        q, probe = self._start(stream, self._land_sink(land), ckpt, log)
        q.processAllAvailable()
        q.stop()
        batches = self._finish(q, probe, log, ckpt, out)
        self._record(oracle, batches, t0, out, self.check_land(land, oracle))
        out.info["land.parquet_files"] = sum(
            1 for f in os.listdir(land) if f.endswith(".parquet")
        )

    def check_land(self, land: str, oracle: gen.Oracle) -> int:
        """Transactions whose landed envelope rows differ, by op, from the log."""
        rows = (
            self.spark.read.parquet(land)
            .groupBy("tx_id")
            .agg(*[F.sum((F.col("op") == o).cast("long")).alias(o) for o in "IUD"],
                 F.count("*").alias("n"))
            .collect()
        )
        got = {r.tx_id: (r.I, r.U, r.D, r.n) for r in rows}
        bump = 1 if self.corrupt else 0
        failed = 0
        for t in oracle.txs:
            want = (t.ops["I"] + bump, t.ops["U"], t.ops["D"], sum(t.ops.values()) + bump)
            failed += got.pop(t.xid, None) != want
        return len(oracle.txs) if got else failed  # rows of no generated tx

    # -- apply_backlog ---------------------------------------------------
    def _apply_drain(self, d: str, log: str, oracle: gen.Oracle, sz: dict,
                     out: Outcome, t0: float) -> None:
        target, ckpt = os.path.join(d, "state"), os.path.join(d, "ckpt")
        schema = schema_of(gen.COLS_ALTERED)
        stream = self.engine.stream(log, max_tx_per_batch=sz["max_tx"])
        if not self.traced:
            q = self.engine.materialize(stream, schema, target, checkpoint=ckpt,
                                        drain=True, n_buckets=sz["buckets"])
            probe = None
        else:
            # materialize()'s wiring, with the batch checkpoint and spans.
            merger = DeleteAwareMerger(self.spark, schema, target, n_buckets=sz["buckets"])
            out.job_groups.setdefault("apply.merge", []).append(merger.job_group)

            def sink(batch_df, epoch_id):
                with self.tracer.span("batch"):
                    b = self._materialized(batch_df)
                    with self.tracer.span("apply.merge"):
                        merger(b, epoch_id)

            q, probe = self._start(stream, sink, ckpt, log)
            q.processAllAvailable()
            q.stop()
            merger.cancel_pending()
            q.awaitTermination(60)
        batches = self._finish(q, probe, log, ckpt, out)
        self._record(oracle, batches, t0, out, self.check_state(target, oracle, altered=True))
        out.maintainer_batches += len(batches)
        out.info["apply.state_dir"] = target

    def check_state(self, target: str, oracle: gen.Oracle, altered: bool) -> int:
        """Transactions that touched a key whose current row is wrong."""
        cols = ["user_id", "last_event", "value"] + (["note"] if altered else [])
        got = {
            r[0]: (r[1], r[2], r[3] if altered else None)
            for r in self.spark.read.parquet(target).select(*cols).collect()
        }
        want = dict(oracle.state)
        if self.corrupt:
            want = {k: ("corrupt", -1.0, None) for t in oracle.txs for k in t.keys}
        wrong = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        touched = {k for t in oracle.txs for k in t.keys}
        if wrong - touched:
            return len(oracle.txs)
        return sum(1 for t in oracle.txs if wrong.intersection(t.keys))

    def backlog(self, workload: str) -> Outcome:
        src, oracle = self.backlog_input
        out = Outcome()
        self.measure_start = window = time.time()
        last, rounds = 0.0, 0
        # Drain rounds until the next one would end past the window.
        while not rounds or time.time() - window + last <= self.seconds:
            began = time.time()
            self._drain(workload, out)
            last = time.time() - began
            rounds += 1
        out.info["rounds"] = rounds
        out.info["events_per_s_by_batch"] = [round(r, 1) for r in out.rates]
        out.info["log"] = src
        out.info["log_events"] = oracle.events
        out.info["ops"] = dict(oracle.op_counts())
        return out

    # -- live_trickle ----------------------------------------------------
    @staticmethod
    def view_events(env):
        """Envelope -> the maintainer's ``events`` shape."""
        return env.filter(F.col("op").isin("I", "U", "D")).select(
            F.col("lsn").alias("event_id"),
            F.col("key")["user_id"].cast("long").alias("user_id"),
            F.when(F.col("op") == "D", F.lit("error"))
            .otherwise(F.col("after")["last_event"])
            .alias("event_type"),
            F.col("after")["value"].cast("double").alias("value"),
        )

    def _maintainers(self, d: str, buckets: int, schema, guard_id: str, out: Outcome):
        """A merger and a view, and the sink body that feeds one batch to
        both under their own job groups."""
        merger = DeleteAwareMerger(self.spark, schema, os.path.join(d, "state"), n_buckets=buckets)
        ivm = BucketedViewMaintainer(self.spark, os.path.join(d, "view"),
                                     n_buckets=buckets, guard_id=guard_id)
        ivm_group = "bench-ivm-" + merger.job_group.rsplit("-", 1)[1]
        out.job_groups.setdefault("apply.merge", []).append(merger.job_group)
        out.job_groups.setdefault("ivm.apply_batch", []).append(ivm_group)
        out.info["apply.state_dir"] = merger.target_path
        out.info["ivm.key_dir"] = ivm.key_path
        sc = self.spark.sparkContext

        def apply(b, epoch_id):
            with self.tracer.span("apply.merge"):
                merger(b, epoch_id)
            if self.traced:
                sc.setJobGroup(ivm_group, f"view batch {epoch_id}")
            with self.tracer.span("ivm.apply_batch"):
                ivm.apply_batch(self.view_events(b), epoch_id)

        return merger, ivm, apply

    def _land_sink(self, land: str):
        def sink(batch_df, epoch_id):
            with self.tracer.span("batch"):
                b = self._materialized(batch_df)
                with self.tracer.span("land.write"):
                    b.write.mode("append").parquet(land)

        return sink

    def _live_open(self, workload: str) -> None:
        """A live workload's set-up: its query has applied the warm-up
        transactions written ahead of the timed ones."""
        sz = self.sizes[workload]
        d = self.fresh("live")
        log, ckpt = os.path.join(d, "input.log"), os.path.join(d, "ckpt")
        trickle = gen.Trickle(log, self.seed, sz["rate"], int(self.seconds * sz["rate"]),
                              sz["n_keys"])
        out = Outcome()
        if workload == "live_land":
            land = os.path.join(d, "land")
            sink = self._land_sink(land)

            def check(oracle):
                out.info["land.parquet_files"] = sum(
                    1 for f in os.listdir(land) if f.endswith(".parquet"))
                return self.check_land(land, oracle)

            stop = None
        else:
            merger, ivm, apply = self._maintainers(d, sz["buckets"], schema_of(gen.COLS), ckpt, out)

            def sink(batch_df, epoch_id):
                with self.tracer.span("batch"):
                    # Two maintainers consume the batch: read the source once.
                    apply(self._materialized(batch_df, always=True), epoch_id)

            def check(oracle):
                want = {"corrupt": (1, 1)} if self.corrupt else oracle.view()
                got = {r.event_type: (r.n_keys, r.total_cents)
                       for r in ivm.aggregate().collect()}
                if got != want:
                    return len(oracle.txs)
                return self.check_state(merger.target_path, oracle, altered=False)

            stop = merger.cancel_pending

        q, probe = self._start(self.engine.stream(log), sink, ckpt, log)
        n_tx, n_batches = LIVE_WARMUP[workload]
        for _ in range(n_batches):
            trickle.write_warm(n_tx)
            q.processAllAvailable()
        if committed_pos(ckpt) != replay.log_size(log):
            raise RuntimeError("live set-up batches did not reach the log end")
        self._live = _Live(log, ckpt, trickle, q, probe, out, check, stop)

    def live(self) -> Outcome:
        lv = self._live
        q, trickle, out = lv.query, lv.trickle, lv.out
        warm_end = replay.log_size(lv.log)
        if lv.probe is not None:
            lv.probe.lags.clear()
        deadline = time.time() + 60
        while q.status["message"] != "Waiting for data to arrive" and time.time() < deadline:
            time.sleep(0.02)
        self.measure_start = time.time()
        trickle.start()
        trickle.join(self.seconds + 60)
        if trickle.is_alive() or trickle.error is not None:
            raise RuntimeError(f"generator failed: {trickle.error!r}")
        end = replay.log_size(lv.log)
        deadline = time.time() + 90
        while committed_pos(lv.ckpt) < end and time.time() < deadline:
            time.sleep(0.02)
        q.stop()
        if lv.stop is not None:
            lv.stop()
        q.awaitTermination(60)
        batches = [b for b in self._finish(q, lv.probe, lv.log, lv.ckpt, out)
                   if b["end_pos"] > warm_end]
        oracle, t0 = trickle.oracle, trickle.start_time
        out.attempted = len(oracle.txs)
        out.failed = lv.check(oracle)
        out.batches = batches
        if lv.stop is not None:
            out.maintainer_batches = len(batches)
        timed = trickle.timed
        for t, v in zip(timed, visible_at(timed, batches)):
            out.freshness_ms.append((v - (t0 + t.due)) * 1000.0 if v is not None else float("inf"))
        # Applied rate: the timed window's events over the wall from the
        # generator's start until the last of them was visible.  The
        # window is fixed, so the rate falls as the pipeline's lag at the
        # end of the window grows.
        timed_events = sum(sum(t.ops.values()) for t in timed)
        applied = timed_events / (batches[-1]["end"] - t0)
        out.rates.append(applied)
        late = trickle.lateness_ms()
        sent_span = timed[-1].sent - timed[0].sent
        out.info.update({
            "log": lv.log,
            "log_events": oracle.events,
            "ops": dict(oracle.op_counts()),
            "generator.lateness_ms_p99": percentile(late, 99),
            "generator.lateness_ms_p50": percentile(late, 50),
            "offered_tx_per_s": (len(timed) - 1) / sent_span if sent_span > 0 else 0.0,
            "applied_tx_per_s": applied * len(timed) / max(timed_events, 1),
            "batch_seconds": [round(b["end"] - b["start"], 3) for b in batches],
            "batch_ms_mean": {k: round(mean([float(b["durations"].get(k, 0)) for b in batches]), 1)
                              for k in batches[0]["durations"]},
        })
        return out

    # -- per-layer numbers (traced runs) ---------------------------------
    def maintainer_probe(self, out: Outcome) -> None:
        """Times the maintainers on a workload whose sink runs none: two
        batches of the workload's log through a fresh merger and view, as
        the live sink applies them."""
        log, oracle = self.backlog_input or (out.info["log"], self._live.trickle.oracle)
        d = self.fresh("maintainers")
        env = self.engine.snapshot(log).localCheckpoint(eager=True)
        first = min(t.xid for t in oracle.txs)
        cols = gen.COLS_ALTERED if self.backlog_input else gen.COLS
        _, _, apply = self._maintainers(d, FULL["live_trickle"]["buckets"], schema_of(cols), d, out)
        for epoch in (0, 1):
            lo = first + epoch * PROBE_TX
            apply(env.filter(F.col("tx_id").between(lo, lo + PROBE_TX - 1)), epoch)
        out.maintainer_batches = 2

    def layer_metrics(self, out: Outcome) -> Dict[str, float]:
        m: Dict[str, float] = {}
        log = out.info["log"]
        m.update(layers.in_process(log, self.fresh("layers")))
        m["transfer.batch_read.events_per_s"] = layers.batch_read(
            self.spark, log, out.info["log_events"]
        )
        if not out.maintainer_batches:
            self.maintainer_probe(out)
        spans = [s for lg in out.logs for s in layers.read_source_spans(lg)
                 if s["start"] >= self.measure_start]
        self.tracer.add(spans)
        for name in ("partitions", "commit"):
            m[f"pgcdc.{name}.ms_p50"] = median(self.tracer.durations_ms(f"pgcdc.{name}"))
        m["pgcdc.ack_lag_bytes_p50"] = median([float(x) for x in out.ack_lags])
        m["stream.batches"] = float(len(out.batches))
        m["stream.rows_per_batch_p50"] = median([float(b["rows"]) for b in out.batches])
        for k in ("triggerExecution", "addBatch", "latestOffset", "walCommit", "commitOffsets"):
            m[f"stream.{k}.ms_mean"] = mean([float(b["durations"].get(k, 0)) for b in out.batches])
        m["batch.materialize.ms_p50"] = median(self.tracer.durations_ms("batch.materialize"))
        m["apply.merge.ms_p50"] = median(self.tracer.durations_ms("apply.merge"))
        m["ivm.apply_batch.ms_p50"] = median(self.tracer.durations_ms("ivm.apply_batch"))
        time.sleep(0.5)  # let the status store catch up with the last job ends
        for layer in ("apply.merge", "ivm.apply_batch"):
            jobs, tasks = self._jobs(out.job_groups.get(layer, []))
            m[f"{layer}.jobs_per_batch"] = jobs / out.maintainer_batches
            if layer == "apply.merge":
                m[f"{layer}.tasks_per_batch"] = tasks / out.maintainer_batches
        files, size = _parquet(out.info.get("apply.state_dir"))
        m["apply.state_files"], m["apply.state_bytes"] = float(files), float(size)
        m["ivm.key_state_bytes"] = float(_parquet(out.info.get("ivm.key_dir"))[1])
        m["land.parquet_files"] = float(out.info.get("land.parquet_files", 0))
        return m

    def _jobs(self, groups: List[str]):
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks


# Transactions per batch of the maintainer probe.
PROBE_TX = 200


def _parquet(path: Optional[str]):
    files = size = 0
    if not path:
        return files, size
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size
