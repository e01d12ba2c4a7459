"""Long-run streaming soak with fault injection (round-7 task 1).

Live PostgreSQL → wire tailer → replay log → pgcdc DataSource →
DeleteAwareMerger materialized state, run continuously for the requested
wall-clock under a randomized fault schedule:

* socket kills mid-stream (the tailer's in-run reconnect + close-LSN
  resend dedup path);
* hard session ends with optional TORN-TAIL truncation of the replay
  log before a fresh tailer resumes (the process-crash restart path:
  seed scan, torn-tail truncate, resend dedup);
* consumer pauses: the Spark streaming query is stopped while the
  server keeps writing, then restarted from its checkpoint (the
  lagging-consumer / checkpoint-recovery path — slot lag is sampled
  throughout);
* mid-stream ALTER TABLE (relation resend / registry versioning),
  v2 streamed transactions (> logical_decoding_work_mem), two-phase
  COMMIT/ROLLBACK PREPARED, and logical messages interleaved with
  plain DML.

Success criteria (recorded in the report JSON):
* final materialized state == live server table == clean batch replay
  of the accumulated log (hash over (id, balance, payload, updated));
* measured-FLAT curves for checkpoint dir size, offset sidecar size,
  driver RSS, and per-batch latency (slope of a linear fit over the
  second half of the run, plus first/last-decile means).

Usage::

    python tools/soak.py --minutes 62 --out SOAK_r7.json
    python tools/soak.py --minutes 3 --out /tmp/soak_smoke.json   # smoke

The cluster/tailer plumbing reuses the live-test harness
(tests/test_live_postgres.py) so the soak runs the exact code paths the
point tests pin.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import socket as socket_mod
import sys
import threading
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")
)

from test_live_postgres import DB, PASSWORD, USER, LivePg  # noqa: E402

from pypgcdc_spark.cdc.models import ColumnDefinition, TableSchema  # noqa: E402
from pypgcdc_spark.operators.churn import (  # noqa: E402
    AutoBuckets,
    touched_buckets_and_keys,
)
from pypgcdc_spark.sources.pgwire import (  # noqa: E402
    ProtocolError,
    WireReplicationTailer,
)
from pypgcdc_spark.sources.replay import (  # noqa: E402
    list_segments as replay_list_segments,
    log_size as replay_log_size,
)

SOAK_SCHEMA = TableSchema(
    db="replay",
    namespace="public",
    table="soak",
    relation_id=0,
    column_definitions=[
        ColumnDefinition("id", True, 20, "int8"),
        ColumnDefinition(
            "balance", False, 1700, "numeric", atttypmod=((12 << 16) | 2) + 4
        ),
        ColumnDefinition("payload", False, 25, "text"),
        ColumnDefinition("updated", False, 1184, "timestamptz"),
    ],
)

ID_RANGE = 20_000  # default churn key domain (overridden by --id-range)
ALTER_WINDOW = 32  # live columns kept on soak_alter (ADD+DROP sliding window)


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def file_size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def lsn_int(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


class TailerLoop(threading.Thread):
    """Runs tailer sessions until stop().  Each session is one tailer
    instance with a random in-run reconnect budget; when the budget is
    exhausted (fault thread kills sockets) the session ends like a
    process crash and the next session resumes fresh — optionally after
    a torn-tail truncation of the replay log."""

    def __init__(
        self,
        live: LivePg,
        slot: str,
        log: str,
        rng: random.Random,
        segment_bytes: int = 0,
    ):
        super().__init__(daemon=True)
        self.live = live
        self.slot = slot
        self.log = log
        self.rng = rng
        self.segment_bytes = segment_bytes
        self.stop_event = threading.Event()
        self.in_final_drain = False
        self.current: WireReplicationTailer | None = None
        self.sessions = 0
        self.reconnects = 0
        self.torn_tails = 0
        self.final_drain_frames = -1
        self.errors: list[str] = []

    def _new_tailer(self) -> WireReplicationTailer:
        return self.live.tailer(
            self.slot,
            self.log,
            proto_version=3,  # two_phase needs >=3 on PG15
            streaming=True,
            two_phase=True,
            messages=True,
            binary=True,
            # r9: segmented replay log + ack-driven retention GC — the
            # soak's job is to prove log_bytes PLATEAUS (r8 measured
            # 183 MB → 1.9 GB with the legacy single growing file).
            segment_bytes=self.segment_bytes or None,
        )

    def _maybe_tear_tail(self) -> None:
        # Simulate a crash that lost the last OS-buffered bytes: chop a
        # few bytes off the log so the next session's seed scan sees a
        # torn frame and must truncate back to the last closed unit.
        if self.sessions and self.rng.random() < 0.5 and file_size(self.log) > 200:
            cut = self.rng.randint(1, 80)
            with open(self.log, "r+b") as f:
                f.truncate(max(file_size(self.log) - cut, 0))
            self.torn_tails += 1

    def run(self) -> None:
        while not self.stop_event.is_set():
            self._maybe_tear_tail()
            t = self._new_tailer()
            self.current = t
            self.sessions += 1
            budget = self.rng.randint(1, 4)
            try:
                t.start()
                t.run(max_idle=None, max_reconnects=budget)
            except (ProtocolError, OSError) as e:
                if not self.stop_event.is_set():
                    self.errors.append(f"{type(e).__name__}: {e}"[:200])
            finally:
                self.reconnects += t.reconnects
                try:
                    t.stop()
                except Exception:
                    pass
        # Final drain session: catch anything the last kill dropped.
        self.in_final_drain = True
        t = self._new_tailer()
        self.current = t
        try:
            t.start()
            self.final_drain_frames = t.run(max_idle=6, max_reconnects=10)
        except (ProtocolError, OSError) as e:
            self.errors.append(f"final drain: {type(e).__name__}: {e}"[:200])
        finally:
            try:
                t.stop()
            except Exception:
                pass

    def kill_socket(self) -> None:
        t = self.current
        if t is None:
            return
        try:
            sock = t.client.sock
            if sock is not None:
                sock.shutdown(socket_mod.SHUT_RDWR)
        except (OSError, AttributeError):
            pass

    def stop(self) -> None:
        self.stop_event.set()
        # Kill the live session's socket until the loop notices, but do
        # NOT touch the final drain session — it must pull the tail.
        for _ in range(60):
            if not self.is_alive() or self.in_final_drain:
                return
            self.kill_socket()
            time.sleep(0.5)


class Workload(threading.Thread):
    """Continuous randomized traffic on one persistent connection."""

    def __init__(self, live: LivePg, rng: random.Random, id_range: int = ID_RANGE):
        super().__init__(daemon=True)
        self.live = live
        self.rng = rng
        self.id_range = id_range
        self.stop_event = threading.Event()
        self.conn = None
        self.txs = 0
        self.journal: list = []  # (wall_time, kind, ids_touched)
        self.counts = {
            "dml": 0,
            "big": 0,
            "twophase_commit": 0,
            "twophase_rollback": 0,
            "message": 0,
            "alter": 0,
            "truncate_aux": 0,
        }
        self.alter_cols = 0
        self.errors: list[str] = []

    def _sql(self, *stmts: str) -> None:
        if self.conn is None:
            self.conn = self.live.sql_conn()
        for s in stmts:
            self.conn.simple_query(s)
        self.txs += 1

    def _step(self) -> None:
        r = self.rng.random()
        rng = self.rng
        if r < 0.70:
            n_up = rng.randint(3, 15)
            stmts = []
            touched = []
            for _ in range(n_up):
                i = rng.randrange(self.id_range)
                b = rng.randrange(0, 10_000_000) / 100.0
                touched.append(i)
                stmts.append(
                    f"INSERT INTO soak VALUES ({i}, {b:.2f}, 'p{rng.randrange(1 << 30):x}', "
                    f"now()) ON CONFLICT (id) DO UPDATE SET balance = EXCLUDED.balance, "
                    f"payload = EXCLUDED.payload, updated = EXCLUDED.updated"
                )
            for _ in range(rng.randint(0, 3)):
                stmts.append(f"DELETE FROM soak WHERE id = {rng.randrange(self.id_range)}")
            self._sql("BEGIN", *stmts, "COMMIT")
            self.journal.append((time.time(), "dml", touched))
            self.counts["dml"] += 1
        elif r < 0.80:
            # Big tx > logical_decoding_work_mem (64kB): v2 stream spans.
            lo = rng.randrange(1 << 40)
            self._sql(
                "BEGIN",
                "INSERT INTO soak_big SELECT g, repeat('x', 120) || g FROM "
                f"generate_series({lo}, {lo + 800}) g",
                f"DELETE FROM soak_big WHERE k >= {lo}",
                "COMMIT",
            )
            self.counts["big"] += 1
        elif r < 0.88:
            gid = f"soak_{self.txs}_{rng.randrange(1 << 30):x}"
            i = rng.randrange(self.id_range)
            b = rng.randrange(0, 10_000_000) / 100.0
            self._sql(
                "BEGIN",
                f"INSERT INTO soak VALUES ({i}, {b:.2f}, '2pc', now()) "
                "ON CONFLICT (id) DO UPDATE SET balance = EXCLUDED.balance, "
                "payload = EXCLUDED.payload, updated = EXCLUDED.updated",
                f"PREPARE TRANSACTION '{gid}'",
            )
            time.sleep(0.05)
            if rng.random() < 0.85:
                self._sql(f"COMMIT PREPARED '{gid}'")
                self.counts["twophase_commit"] += 1
            else:
                self._sql(f"ROLLBACK PREPARED '{gid}'")
                self.counts["twophase_rollback"] += 1
        elif r < 0.93:
            self._sql(
                "SELECT pg_logical_emit_message(true, 'soak_outbox', "
                f"'evt-{self.txs}')"
            )
            self.counts["message"] += 1
        elif r < 0.97:
            # Sliding ADD/DROP window: live schema width stays bounded
            # (~ALTER_WINDOW columns) while the DDL *rate* is unchanged —
            # registry flatness must come from version pruning, not from
            # the churn ever stopping.  An add-only storm (r8's shape)
            # conflates two growth terms: dead versions (a leak,
            # prune_below's job) and the live schema genuinely widening
            # (not a leak — a 520-column table costs O(columns) to
            # describe in ANY registry).  Production DDL churn replaces
            # columns; it doesn't widen monotonically forever.
            self.alter_cols += 1
            stmts = [
                f"ALTER TABLE soak_alter ADD COLUMN c{self.alter_cols} INT DEFAULT 0",
                f"INSERT INTO soak_alter (id, c{self.alter_cols}) VALUES "
                f"({self.alter_cols}, {self.alter_cols})",
            ]
            dropped = self.alter_cols - ALTER_WINDOW
            if dropped >= 1:
                stmts.append(f"ALTER TABLE soak_alter DROP COLUMN c{dropped}")
            self._sql(*stmts)
            self.counts["alter"] += 1
        else:
            self._sql("TRUNCATE soak_alter")
            self.counts["truncate_aux"] += 1

    def run(self) -> None:
        while not self.stop_event.is_set():
            try:
                self._step()
            except Exception as e:
                self.errors.append(f"{type(e).__name__}: {e}"[:200])
                try:
                    if self.conn is not None:
                        self.conn.close()
                except Exception:
                    pass
                self.conn = None
                time.sleep(0.5)
            time.sleep(self.rng.uniform(0.05, 0.25))
        try:
            if self.conn is not None:
                self.conn.close()
        except Exception:
            pass


class SeedTrickle(threading.Thread):
    """Streams the remaining seed rows in DURING the fault window, paced
    to finish at ~total_sec — state volume grows under live faults, so
    auto-rebucket threshold crossings happen inside the window, not just
    in the pre-window drain.

    ``backlog_cap_bytes`` (r11): production governor.  The aborted r11
    5M run proved a fixed-fraction pace can outrun the consumer ~3:1 at
    volume, leaving an hours-long post-window drain.  With a cap set,
    each chunk waits until the un-acked log backlog (logical size − ack
    pos) is under the cap — backlog stays bounded by construction, so
    the post-window drain is minutes, and in-window batches measure
    steady-state latency instead of backlog plough-through."""

    def __init__(
        self,
        live: LivePg,
        lo: int,
        hi: int,
        chunk: int,
        total_sec: float,
        log_path: str = "",
        backlog_cap_bytes: int = 0,
    ):
        super().__init__(daemon=True)
        self.live = live
        self.lo, self.hi, self.chunk = lo, hi, chunk
        n_chunks = max(1, (hi - lo + chunk - 1) // chunk)
        self.interval = max(1.0, total_sec / n_chunks)
        self.stop_event = threading.Event()
        self.rows_sent = 0
        self.errors: list = []
        self.log_path = log_path
        self.backlog_cap_bytes = backlog_cap_bytes
        self.backpressure_waits = 0

    def _backlog(self) -> int:
        from pypgcdc_spark.sources import replay as _replay

        try:
            size = _replay.log_size(self.log_path)
            with open(self.log_path + ".ack") as f:
                ack = int(json.load(f).get("pos", 0))
            return max(size - ack, 0)
        except (OSError, ValueError):
            return 0  # no ack yet / log rolling: don't stall the trickle

    def run(self) -> None:
        conn = None
        for start in range(self.lo, self.hi, self.chunk):
            if self.stop_event.is_set():
                break
            # Governor: hold the next chunk while the consumer is behind.
            while (
                self.backlog_cap_bytes
                and self.log_path
                and self._backlog() > self.backlog_cap_bytes
                and not self.stop_event.is_set()
            ):
                self.backpressure_waits += 1
                self.stop_event.wait(5.0)
            if self.stop_event.is_set():
                break
            end = min(start + self.chunk, self.hi)
            try:
                if conn is None:
                    conn = self.live.sql_conn()
                for s in (
                    "BEGIN",
                    f"INSERT INTO soak SELECT g, (g % 1000000) / 100.0, "
                    f"'seed' || g, now() FROM generate_series({start}, {end - 1}) g "
                    "ON CONFLICT (id) DO NOTHING",
                    "COMMIT",
                ):
                    conn.simple_query(s)
                self.rows_sent += end - start
            except Exception as e:
                self.errors.append(f"{type(e).__name__}: {e}"[:200])
                try:
                    if conn is not None:
                        conn.close()
                except Exception:
                    pass
                conn = None
            self.stop_event.wait(self.interval)
        try:
            if conn is not None:
                conn.close()
        except Exception:
            pass


class SoakAggMaintainer(AutoBuckets):
    """Manifest-committed IVM over the LIVE replicated envelope stream
    (round-9 verdict task 1: auto-bucketing, segmented retention and the
    atomic manifest commit protocol exercised TOGETHER at volume).

    Maintains keyed state (id → lsn, balance-cents, tombstone) bucketed
    by ``id % n_buckets`` plus a derived aggregate (``id % N_GROUPS`` →
    live-key count, cent sum) by retract/add delta math — the aggregate
    is never recomputed from state.  State rows, the batch marker AND
    the aggregate commit as ONE ``os.replace`` (operators/atomic_state),
    so a kill anywhere leaves either the whole batch or none of it; a
    fresh instance (= a restarted process) restores the aggregate from
    the manifest.  End-of-run truth: the live server's
    ``SELECT id%16, count(*), sum(balance*100) FROM soak GROUP BY 1``.
    """

    STATE_SCHEMA = "id LONG, lsn LONG, cents LONG, is_deleted BOOLEAN"
    N_GROUPS = 16

    MIN_BUCKETS = 32

    def __init__(
        self,
        spark,
        work_dir: str,
        n_buckets=32,
        guard_id=None,
        target_bucket_bytes: int = None,
    ):
        from pypgcdc_spark.operators.atomic_state import ManifestState

        self.spark = spark
        self.guard_id = guard_id
        self.state = ManifestState(spark, os.path.join(work_dir, "state"), ["bucket"])
        self._agg_rows: list = [tuple(r) for r in self.state.extra("agg", [])]
        self.batches_applied = 0
        # Churn-adaptive bucket count (the r11 5M-soak fix): layout +
        # keys-EWMA live in the manifest extras; a relayout commits via
        # ManifestState.replace_all (one os.replace).  The r11 attempt
        # measured the fixed-count failure: 2k keys/batch over 1024
        # buckets rewrote ~86% of a 5M-row state every batch.
        self._init_buckets(n_buckets, target_bucket_bytes, self.state.extra("layout"))

    @staticmethod
    def _bucket(n: int):
        from pyspark.sql import functions as F

        return F.pmod(F.col("id"), F.lit(n)).cast("int")

    def _state_bytes(self) -> int:
        return self.state.live_bytes()

    def _relayout(self, new_n: int, record: dict, batch_id: int) -> None:
        relaid = self.state.read("bucket INT, " + self.STATE_SCHEMA).withColumn(
            "bucket", self._bucket(new_n)
        )
        self.state.replace_all(
            relaid,
            batch_id,
            self.guard_id,
            extra=self._manifest_extra(self._agg_rows, record),
        )

    def aggregate_rows(self) -> list:
        return sorted(
            (int(g), int(n), int(c)) for g, n, c in self._agg_rows if int(n) > 0
        )

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if self.state.already_applied(batch_id, self.guard_id):
            return
        rows = batch_df.filter(
            (F.col("table") == "soak") & F.col("op").isin("I", "U", "D")
        ).select(
            F.col("key").getItem("id").cast("long").alias("id"),
            F.col("lsn").cast("long").alias("lsn"),
            (F.col("after").getItem("balance").cast("decimal(14,2)") * 100)
            .cast("long")
            .alias("cents"),
            (F.col("op") == "D").alias("is_deleted"),
        )
        if rows.isEmpty():
            # Idle batch: marker-only commit advances the high-water.
            self.state.finalize(
                None, [], batch_id, self.guard_id,
                extra=self._manifest_extra(self._agg_rows),
            )
            self.batches_applied += 1
            return
        batch_buckets, batch_keys = touched_buckets_and_keys(
            rows, self._bucket(self.n_buckets), F.col("id")
        )
        self._observe_keys(batch_keys)
        old = self.state.read(
            "bucket INT, " + self.STATE_SCHEMA,
            F.col("bucket").isin([int(b) for b in batch_buckets]),
        ).drop("bucket")
        # One tall union + one groupBy(id) reconciles old state against
        # the batch's newest-per-key version (same shape as operators/
        # ivm.py — map-side partial agg, one shuffle, no join tree).
        tall = old.select(
            "id", F.lit("O").alias("src"), "lsn", "cents", "is_deleted"
        ).unionByName(rows.select("id", F.lit("N").alias("src"), "lsn", "cents", "is_deleted"))
        rec = F.struct("lsn", "cents", "is_deleted")
        w = (
            tall.groupBy("id")
            .agg(
                F.max_by(rec, F.when(F.col("src") == "O", F.col("lsn"))).alias("old"),
                F.max_by(rec, F.when(F.col("src") == "N", F.col("lsn"))).alias("new"),
            )
            .select(
                "id",
                (
                    F.col("new.lsn").isNotNull()
                    & (F.col("old.lsn").isNull() | (F.col("new.lsn") > F.col("old.lsn")))
                ).alias("eff"),
                "old.lsn", "old.cents", "old.is_deleted",
                F.col("new.lsn").alias("new_lsn"),
                F.col("new.cents").alias("new_cents"),
                F.col("new.is_deleted").alias("new_deleted"),
            )
            .localCheckpoint(eager=True)
        )
        grp = F.pmod(F.col("id"), F.lit(self.N_GROUPS)).cast("int")
        retract = w.filter(
            F.col("eff") & F.col("lsn").isNotNull() & ~F.col("is_deleted")
        ).select(
            grp.alias("grp"),
            F.lit(-1).cast("long").alias("n_keys"),
            (-F.col("cents")).alias("total_cents"),
        )
        add = w.filter(F.col("eff") & ~F.col("new_deleted")).select(
            grp.alias("grp"),
            F.lit(1).cast("long").alias("n_keys"),
            F.col("new_cents").alias("total_cents"),
        )
        agg = (
            self.spark.createDataFrame(
                self._agg_rows, "grp INT, n_keys LONG, total_cents LONG"
            )
            .unionByName(retract)
            .unionByName(add)
            .groupBy("grp")
            .agg(F.sum("n_keys").alias("n_keys"), F.sum("total_cents").alias("total_cents"))
        )
        # Survivors (tombstones included) of the touched buckets; both
        # the delta fold and the staged write stream from checkpointed W.
        new_state = w.filter(
            F.when(F.col("eff"), F.lit(True)).otherwise(F.col("lsn").isNotNull())
        ).select(
            self._bucket(self.n_buckets).alias("bucket"),
            "id",
            F.when(F.col("eff"), F.col("new_lsn")).otherwise(F.col("lsn")).alias("lsn"),
            F.when(F.col("eff"), F.col("new_cents")).otherwise(F.col("cents")).alias("cents"),
            F.when(F.col("eff"), F.col("new_deleted"))
            .otherwise(F.col("is_deleted"))
            .alias("is_deleted"),
        )
        from pypgcdc_spark.operators.join_ivm import _concurrently

        staged: list = []
        agg_rows = _concurrently(
            lambda: agg.collect(),
            lambda: staged.append(self.state.stage(new_state, batch_id)),
        )
        # THE commit: staged buckets + batch marker + aggregate, one rename.
        self.state.finalize(
            staged[0],
            [(int(b),) for b in batch_buckets],
            batch_id,
            self.guard_id,
            extra=self._manifest_extra(
                [[int(g), int(n), int(c)] for g, n, c in agg_rows]
            ),
        )
        self._agg_rows = [tuple(r) for r in agg_rows]
        self.batches_applied += 1
        self._maybe_rebucket(batch_id)


def state_hash(rows) -> str:
    """Canonical hash over (id, balance, payload, updated_epoch_us)."""
    canon = sorted(rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def server_rows(live: LivePg):
    out = live.sql(
        "SELECT id::text, balance::text, payload, "
        "COALESCE(((extract(epoch from updated) * 1e6)::bigint)::text, '') "
        "FROM soak ORDER BY id"
    )
    return [
        (int(i), str(Decimal(b)) if b is not None else None, p, int(u) if u else None)
        for i, b, p, u in out
    ]


def spark_rows(df):
    from pyspark.sql import functions as F

    out = []
    rows = df.select(
        "id", "balance", "payload", F.unix_micros("updated").alias("us")
    ).collect()
    for r in rows:
        bal = str(Decimal(str(r["balance"]))) if r["balance"] is not None else None
        out.append((r["id"], bal, r["payload"], r["us"]))
    return out


def linear_slope_per_hour(samples, key):
    """Least-squares slope of samples[key] over the SECOND HALF of the
    run, in units/hour — the flatness metric."""
    pts = [(s["t"], s[key]) for s in samples if key in s]
    pts = pts[len(pts) // 2 :]
    if len(pts) < 3:
        return None
    n = len(pts)
    mx = sum(p[0] for p in pts) / n
    my = sum(p[1] for p in pts) / n
    den = sum((p[0] - mx) ** 2 for p in pts)
    if den == 0:
        return None
    slope = sum((p[0] - mx) * (p[1] - my) for p in pts) / den
    return slope * 3600.0


def decile_means(samples, key):
    vals = [s[key] for s in samples if key in s]
    if len(vals) < 10:
        return None, None
    k = max(len(vals) // 10, 1)
    return sum(vals[:k]) / k, sum(vals[-k:]) / k


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--minutes", type=float, default=62.0)
    ap.add_argument("--out", default="SOAK_r8.json")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=8)
    # Large-state axis (round-8): bulk-seed N rows THROUGH replication
    # before the randomized churn starts, so the maintained state (and
    # every per-batch merge) runs at production-like volume.  --buckets
    # switches the sink to the bucketed O(touched-buckets) merger -- at
    # millions of rows the whole-table overwrite would make batch
    # latency scale with state, which is exactly what the flatness
    # assertions are meant to catch.
    ap.add_argument("--state-rows", type=int, default=0)
    ap.add_argument("--id-range", type=int, default=ID_RANGE)
    ap.add_argument(
        "--buckets",
        type=lambda s: s if s == "auto" else int(s),
        default=0,
        help="bucketed merger: fixed count, 'auto' (volume-derived), 0 = unbucketed",
    )
    ap.add_argument(
        "--segment-bytes",
        type=int,
        default=4 << 20,
        help="replay-log segment size for roll+GC (0 = legacy single file)",
    )
    ap.add_argument(
        "--target-bucket-bytes",
        type=int,
        default=0,
        help="auto-mode mean bucket size target; lower it so the soak "
        "crosses ≥1 rebucket threshold in-run (0 = merger default)",
    )
    ap.add_argument(
        "--seed-prefraction",
        type=float,
        default=1.0,
        help="fraction of --state-rows seeded (and drained) BEFORE the "
        "fault window; the rest trickles in during it",
    )
    ap.add_argument("--seed-chunk", type=int, default=100_000)
    ap.add_argument(
        "--max-tx-per-batch",
        type=int,
        default=200,
        help="micro-batch tx cap; lower it so backlog drains commit "
        "incrementally instead of one giant batch",
    )
    ap.add_argument(
        "--ivm-buckets",
        type=lambda s: s if s == "auto" else int(s),
        default="auto",
        help="IVM keyed-state bucket count, or 'auto' (default): "
        "churn-adaptive — grows to keep buckets >= 8 x keys/batch EWMA "
        "(operators/churn.py), which the r11 attempt's own math showed "
        "is what turns per-batch cost from O(state) into "
        "O(batch x state/buckets); a fixed count is the r11 failure mode",
    )
    ap.add_argument(
        "--max-backlog-mb",
        type=int,
        default=0,
        help="trickle backpressure: hold the next seed chunk while the "
        "un-acked log backlog exceeds this (0 = off).  Keeps the "
        "post-window drain bounded — the r11 5M attempt's fix",
    )
    ap.add_argument(
        "--ivm",
        type=int,
        default=1,
        help="1 = also run the manifest-committed IVM consumer on the "
        "same stream (aggregate verified against the server at the end)",
    )
    ap.add_argument(
        "--ivm-consumer",
        choices=("fanout", "separate"),
        default="separate",
        help="'separate' (default; VERDICT r11 task 4): the IVM runs as "
        "a genuinely independent NAMED consumer — its own streaming "
        "query, checkpoint and slot-style ack sidecar — so retention-at-"
        "MIN across consumers is what the soak actually exercises under "
        "faults at volume; 'fanout' = the r10/r11 shape (both sinks in "
        "one foreachBatch, single consumer)",
    )
    args = ap.parse_args()
    rng = random.Random(args.seed)

    import tempfile

    work = tempfile.mkdtemp(prefix="soak_")
    log = os.path.join(work, "wal.replay")
    target = os.path.join(work, "soak_state")
    ckpt = os.path.join(work, "ckpt")

    t_boot = time.time()
    live = LivePg()
    live.sql(
        "CREATE TABLE soak (id BIGINT PRIMARY KEY, balance NUMERIC(12,2), "
        "payload TEXT, updated TIMESTAMPTZ)",
        "CREATE TABLE soak_big (k BIGINT, v TEXT)",
        "ALTER TABLE soak_big REPLICA IDENTITY FULL",
        "CREATE TABLE soak_alter (id BIGINT PRIMARY KEY)",
        "CREATE PUBLICATION pypgcdc_pub FOR TABLE soak, soak_big, soak_alter",
    )

    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.session import get_spark

    spark = get_spark("soak_r7", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    engine = PgCdcEngine(spark)

    tailer_loop = TailerLoop(live, "slot_soak", log, rng, segment_bytes=args.segment_bytes)
    tailer_loop.start()
    # A logical slot only delivers transactions committing AFTER its
    # consistent point — traffic must not start until the slot exists
    # (the production analog is bootstrap-from-exported-snapshot).
    for _ in range(120):
        if live.sql(
            "SELECT 1 FROM pg_replication_slots WHERE slot_name = 'slot_soak'"
        ):
            break
        time.sleep(0.5)
    id_range = max(args.id_range, args.state_rows)
    # Bulk seed (streams through the slot as v2 spans: each chunk is far
    # beyond logical_decoding_work_mem).  The PRE fraction lands before
    # the fault window and is drained to quiescence first — an
    # interrupted backlog-sized batch is redelivered FROM SCRATCH on
    # every consumer-pause restart, so faulting the drain live-locks the
    # run (observed r10: one 5M-row batch restarted forever).  The
    # remaining fraction trickles in DURING the window, so state keeps
    # growing — and crosses auto-rebucket thresholds — under the faults.
    pre_rows = int(args.state_rows * args.seed_prefraction)
    for lo in range(0, pre_rows, args.seed_chunk):
        hi = min(lo + args.seed_chunk, pre_rows)
        live.sql(
            "BEGIN",
            f"INSERT INTO soak SELECT g, (g % 1000000) / 100.0, 'seed' || g, now() "
            f"FROM generate_series({lo}, {hi - 1}) g ON CONFLICT (id) DO NOTHING",
            "COMMIT",
        )

    # wait for the log to exist so the source has a path to tail
    for _ in range(120):
        if file_size(log) > 0:
            break
        time.sleep(0.5)

    from pypgcdc_spark.cdc.apply import DeleteAwareMerger

    mergers: list = []
    ivm_maintainers: list = []
    ivm_dir = os.path.join(work, "ivm")
    separate_ivm = bool(args.ivm) and args.ivm_consumer == "separate"
    ckpt_ivm = os.path.join(work, "ckpt_ivm")
    # Named slots: in separate mode each materializer acks its own
    # sidecar and retention (segment GC, registry pruning, the tailer's
    # confirmed-flush) runs at the MIN across them — the replication-slot
    # model, now exercised under faults at volume (VERDICT r11 task 4).
    state_consumer = "state" if separate_ivm else None

    def start_ivm_query():
        """The IVM as its own consumer: independent stream, checkpoint,
        ack slot.  A fresh maintainer per (re)start = a restarted
        process (aggregate restored from the manifest)."""
        mt = SoakAggMaintainer(
            spark, ivm_dir, n_buckets=args.ivm_buckets, guard_id=ckpt_ivm
        )
        ivm_maintainers.append(mt)
        return (
            engine.stream(
                log, max_tx_per_batch=args.max_tx_per_batch, consumer="ivm"
            )
            .writeStream.foreachBatch(
                lambda df, bid: mt(df.localCheckpoint(eager=True), bid)
            )
            .option("checkpointLocation", ckpt_ivm)
            .outputMode("update")
            .start()
        )

    def start_query():
        # Construct the merger directly (rather than engine.materialize)
        # so the soak can lower the rebucket threshold and harvest the
        # completed-rebucket events each merger instance records.  The
        # IVM maintainer rides the SAME foreachBatch (the standard
        # one-ingest-many-sinks pattern): the replay log and its
        # ack/registry sidecars are single-consumer transport state —
        # one slot, one consumer — so a second independent reader on the
        # same log would race the first one's sidecar GC.  A FRESH
        # maintainer per (re)start = a restarted process: its aggregate
        # must come back from the manifest, never from memory.
        m = DeleteAwareMerger(
            spark,
            SOAK_SCHEMA,
            target,
            n_buckets=args.buckets or None,
            target_bucket_bytes=args.target_bucket_bytes or None,
        )
        mergers.append(m)
        mt = (
            SoakAggMaintainer(spark, ivm_dir, n_buckets=args.ivm_buckets, guard_id=ckpt)
            if args.ivm and not separate_ivm
            else None
        )
        if mt is not None:
            ivm_maintainers.append(mt)

        def _sinks(df, bid):
            # Parse the batch's envelope ONCE: both sinks run several
            # actions against batch_df, and each action re-decodes the
            # Python-source partition payload — at backlog-sized batches
            # that re-parse dominated the wall (r10: a 5M-row batch spent
            # 40+ min re-decoding the same 170 MB across ~6 actions).
            df = df.localCheckpoint(eager=True)
            m(df, bid)
            if mt is not None:
                mt(df, bid)

        return (
            engine.stream(
                log,
                max_tx_per_batch=args.max_tx_per_batch,
                consumer=state_consumer,
            )
            .writeStream.foreachBatch(_sinks)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .start()
        )

    # -- seed drain: wait for the tailer to quiesce on the seed, then
    # process the whole backlog UNINTERRUPTED (no faults yet).  The churn
    # window then starts on full-size state with small per-batch deltas.
    stable = replay_log_size(log)
    for _ in range(600):
        time.sleep(2)
        cur = replay_log_size(log)
        if cur == stable and cur > 0:
            break
        stable = cur
    query = start_query()
    ivm_query = start_ivm_query() if separate_ivm else None
    t_drain = time.time()
    query.processAllAvailable()
    if ivm_query is not None:
        ivm_query.processAllAvailable()
    seed_drain = {
        "sec": round(time.time() - t_drain, 1),
        "rows": pre_rows,
        "batches": (query.lastProgress or {}).get("batchId", -1) + 1,
        "rebuckets_during_drain": [list(e) for e in mergers[-1].rebucket_events],
    }
    if separate_ivm and ivm_maintainers:
        seed_drain["ivm_rebuckets_during_drain"] = [
            list(e) for e in ivm_maintainers[-1].rebucket_events
        ]

    workload = Workload(live, random.Random(args.seed + 1), id_range=id_range)
    workload.start()
    trickle = SeedTrickle(
        live,
        lo=pre_rows,
        hi=args.state_rows,
        chunk=args.seed_chunk,
        total_sec=args.minutes * 60.0 * 0.75,
        log_path=log,
        backlog_cap_bytes=args.max_backlog_mb << 20,
    )
    trickle.start()
    mon = live.sql_conn()  # persistent monitoring connection

    samples = []
    faults = {"socket_kill": 0, "consumer_pause": 0}
    fault_log: list = []
    query_exceptions: list[str] = []
    query_restarts = 0
    last_batch_id = -1
    batch_durations = []
    # Churn-only steady state (VERDICT r10 task 1): once the seed trickle
    # finishes (paced to ~75% of the window), batches carry randomized
    # churn only — the workload shape r8's 27.5s p50 measured.  Batches
    # completing >90s after the trickle's end are tagged churn-only (the
    # grace covers in-flight bulk chunks draining through the sink).
    trickle_end_t = None
    deadline = time.time() + args.minutes * 60.0
    t0 = time.time()
    next_kill = t0 + rng.uniform(15, 35)
    next_pause = t0 + rng.uniform(240, 420)
    paused_until = None
    paused_victim = "state"

    while time.time() < deadline:
        now = time.time()
        # -- fault schedule -------------------------------------------
        if now >= next_kill:
            tailer_loop.kill_socket()
            faults["socket_kill"] += 1
            fault_log.append((now, "socket_kill"))
            next_kill = now + rng.uniform(15, 45)
        if paused_until is None and now >= next_pause:
            # Separate-consumer mode alternates the pause victim so the
            # run proves retention-at-MIN from BOTH sides: a paused IVM
            # consumer must pin segments/registry versions while the
            # state consumer acks ahead, and vice versa.
            paused_victim = (
                "ivm"
                if separate_ivm and faults["consumer_pause"] % 2 == 1
                else "state"
            )
            vq = ivm_query if paused_victim == "ivm" else query
            try:
                vq.stop()
                vq.awaitTermination(30)
            except Exception:
                pass
            # stop() cancels the STREAM's job group, but the foreachBatch
            # body runs in Python and its actions (state writes, collects)
            # run under their own job groups — at multi-minute batch sizes
            # the orphaned attempt keeps mutating the target while the
            # restarted query replays the same batch, and concurrent
            # attempts race on the state layout (observed r10: zombie
            # merge jobs piling up per pause until livelock).  Cancelling
            # everything makes a pause what it models: a process crash.
            # (In separate mode this also fails the sibling query's
            # in-flight batch — extra chaos its crash-atomic commit
            # protocols must absorb; the exception probe restarts it.)
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:
                pass
            fault_log.append((now, f"consumer_pause:{paused_victim}"))
            paused_until = now + rng.uniform(20, 35)
            faults["consumer_pause"] += 1
        if paused_until is not None and now >= paused_until:
            if separate_ivm and paused_victim == "ivm":
                ivm_query = start_ivm_query()
            else:
                query = start_query()
            query_restarts += 1
            paused_until = None
            next_pause = now + rng.uniform(240, 420)
        # -- sampling --------------------------------------------------
        sample = {"t": round(now - t0, 1)}
        if trickle_end_t is None and not trickle.is_alive():
            trickle_end_t = now
        try:
            exc = query.exception()
            if exc is not None:
                query_exceptions.append(str(exc)[:500])
                try:
                    spark.sparkContext.cancelAllJobs()  # orphaned attempt
                except Exception:
                    pass
                query = start_query()
                query_restarts += 1
        except Exception as e:
            query_exceptions.append(f"exception() probe failed: {e}"[:200])
        if ivm_query is not None and (paused_until is None or paused_victim != "ivm"):
            try:
                iexc = ivm_query.exception()
                if iexc is not None:
                    query_exceptions.append("ivm: " + str(iexc)[:500])
                    ivm_query = start_ivm_query()
                    query_restarts += 1
            except Exception as e:
                query_exceptions.append(f"ivm exception() probe failed: {e}"[:200])
        try:
            lp = query.lastProgress
            if lp:
                bid = lp["batchId"]
                dur = lp.get("durationMs", {}).get("triggerExecution")
                sample["batch_id"] = bid
                if dur is not None and bid != last_batch_id:
                    churn_only = (
                        trickle_end_t is not None and now - trickle_end_t > 90.0
                    )
                    batch_durations.append((now - t0, dur, churn_only))
                    sample["batch_ms"] = dur
                last_batch_id = bid
        except Exception:
            pass
        sample["ckpt_bytes"] = dir_size(ckpt)
        sample["ack_bytes"] = file_size(log + ".ack")
        if separate_ivm:
            # Per-slot ack positions: the published `.ack` (what the
            # tailer GC uses) must track the MIN of these two.
            for cname in ("state", "ivm"):
                try:
                    with open(log + f".ack.d/{cname}.json") as f:
                        sample[f"ack_pos_{cname}"] = int(json.load(f)["pos"])
                except (OSError, ValueError, KeyError):
                    pass
        try:
            with open(os.path.join(target, "_nbuckets.json")) as f:
                sample["n_buckets"] = int(json.load(f)["n_buckets"])
        except (OSError, ValueError, KeyError):
            pass
        if args.ivm:
            try:
                with open(os.path.join(ivm_dir, "state", "manifest.json")) as f:
                    m = json.load(f)
                sample["ivm_batch_id"] = int(m.get("batch_id", -1))
                sample["ivm_live_parts"] = len(m.get("partitions", {}))
            except (OSError, ValueError):
                pass
            sample["ivm_bytes"] = dir_size(ivm_dir)
        sample["registry_bytes"] = dir_size(log + ".registry.d")
        # On-disk footprint = active file + retained segments (the r9
        # flatness target); logical length keeps growing by design.
        sample["log_bytes"] = file_size(log) + dir_size(log + ".segments.d")
        sample["log_active_bytes"] = file_size(log)
        sample["log_logical_bytes"] = replay_log_size(log)
        sample["log_segments"] = len(replay_list_segments(log))
        sample["rss_mb"] = round(rss_mb(), 1)
        try:
            row = mon.simple_query(
                "SELECT pg_current_wal_lsn()::text, confirmed_flush_lsn::text, "
                "restart_lsn::text FROM pg_replication_slots WHERE slot_name = 'slot_soak'"
            )[0]
            sample["slot_lag_bytes"] = lsn_int(row[0]) - lsn_int(row[1])
            sample["slot_retained_bytes"] = lsn_int(row[0]) - lsn_int(row[2])
        except Exception:
            try:
                mon.close()
            except Exception:
                pass
            mon = live.sql_conn()
        samples.append(sample)
        time.sleep(5.0)

    # -- shutdown + final drain ---------------------------------------
    trickle.stop_event.set()
    trickle.join(timeout=60)
    workload.stop_event.set()
    workload.join(timeout=30)
    if paused_until is not None:
        if separate_ivm and paused_victim == "ivm":
            ivm_query = start_ivm_query()
        else:
            query = start_query()
        query_restarts += 1
    # resolve any still-pending prepared txs so the final state is settled
    try:
        pending = live.sql("SELECT gid FROM pg_prepared_xacts")
        for (gid,) in pending:
            live.sql(f"COMMIT PREPARED '{gid}'")
            workload.counts["twophase_commit"] += 1
    except Exception:
        pass
    tailer_loop.stop()
    # The final drain resends everything after confirmed_flush — wait
    # for it COMPLETELY, then for the log to quiesce, before draining
    # Spark; otherwise verification races the still-growing log.
    tailer_loop.join(timeout=1800)
    stable = replay_log_size(log)  # logical length: monotone across rolls
    for _ in range(30):
        time.sleep(2)
        cur = replay_log_size(log)
        if cur == stable:
            break
        stable = cur
    query.processAllAvailable()
    if ivm_query is not None:
        ivm_query.processAllAvailable()
        ivm_query.stop()
        ivm_query.awaitTermination(60)
    query.stop()
    query.awaitTermination(60)

    # -- verification ---------------------------------------------------
    # forensics: did the log capture everything the server committed?
    from pypgcdc_spark.sources.replay import TxBoundaryScanner, scan_frames

    from pypgcdc_spark.sources.replay import log_min_pos

    wal_now = lsn_int(live.sql("SELECT pg_current_wal_lsn()::text")[0][0])
    flush_now = live.confirmed_flush("slot_soak")
    retained_from = log_min_pos(log)
    seed = TxBoundaryScanner()
    log_max_close = 0
    for fr in scan_frames(log, retained_from, prefix_bytes=64):
        if seed.feed(fr) is not None:
            log_max_close = max(log_max_close, fr.lsn)
    truth = server_rows(live)
    got = spark_rows(spark.read.parquet(target))
    suffix_stats = {}
    if retained_from == 0:
        # Legacy full-history log: independent clean batch replay.
        replayed = spark_rows(
            PgCdcEngine.typed_view(engine.snapshot(log), SOAK_SCHEMA)
        )
        h_replay = state_hash(replayed)
        replay_ok = None  # judged by hash below
    else:
        # Retention-GC'd log: history below the ack is GONE by design
        # (the log is a transport buffer, not an archive — state subsumes
        # history).  The equivalent integrity check is RETAINED-SUFFIX
        # consistency: every key whose LAST change lives in the retained
        # window must agree with the server — suffix-final value matches,
        # suffix-deleted keys are absent.  Keys whose winning suffix row
        # carries a TOAST-unchanged column are counted and skipped (their
        # carry-forward source was GC'd with the prefix; the materialized
        # state, checked by the primary hash, has it).
        from pypgcdc_spark.cdc.models import TOAST_UNCHANGED

        env = engine.snapshot(log)  # batch reader clamps to retained window
        suffix = PgCdcEngine.typed_view(env, SOAK_SCHEMA)
        suffix_rows = spark_rows(suffix)
        truth_by_id = {r[0]: r for r in truth}
        from pyspark.sql import functions as F

        toast_ids = {
            r.id
            for r in env.filter(F.col("op") != "T")
            .select(
                F.col("key")["id"].cast("long").alias("id"),
                F.array_contains(
                    F.map_values(F.coalesce("after", F.expr("map()"))),
                    TOAST_UNCHANGED,
                ).alias("t"),
            )
            .filter("t")
            .collect()
        }
        deleted_ids = {
            r.id
            for r in env.filter(F.col("op") == "D")
            .select(F.col("key")["id"].cast("long").alias("id"))
            .collect()
        } - {r[0] for r in suffix_rows}
        mismatches = []
        checked = 0
        for row in suffix_rows:
            if row[0] in toast_ids:
                continue
            checked += 1
            if truth_by_id.get(row[0]) != row:
                mismatches.append(row[0])
        resurrections = [i for i in deleted_ids if i in truth_by_id and i not in
                         {r[0] for r in suffix_rows}]
        # A key deleted in the suffix then absent from suffix state must
        # not exist on the server either — unless a later (suffix) change
        # resurrected it, which would have shown in suffix_rows.
        replay_ok = not mismatches and not resurrections and checked > 0
        h_replay = f"retained-suffix:{checked}-keys"
        suffix_stats = {
            "suffix_keys_checked": checked,
            "suffix_keys_toast_skipped": len(toast_ids),
            "suffix_deletes_verified": len(deleted_ids),
            "suffix_mismatched_ids": mismatches[:20],
            "suffix_resurrected_ids": resurrections[:20],
        }
    # IVM aggregate: a FRESH maintainer restores the aggregate from the
    # manifest (restart-durability is part of what's verified), compared
    # against the server's ground-truth GROUP BY.
    ivm_agg = ivm_truth = None
    if args.ivm:
        ivm_final = SoakAggMaintainer(
            spark,
            ivm_dir,
            n_buckets=args.ivm_buckets,
            guard_id=ckpt_ivm if separate_ivm else ckpt,
        )
        ivm_agg = ivm_final.aggregate_rows()
        ivm_truth = sorted(
            (int(g), int(n), int(c))
            for g, n, c in live.sql(
                "SELECT (id % 16)::int, count(*)::bigint, "
                "COALESCE(sum((balance * 100)::bigint), 0) FROM soak GROUP BY 1"
            )
        )
    h_truth, h_got = state_hash(truth), state_hash(got)
    diffs = {}
    if h_got != h_truth or (retained_from == 0 and h_replay != h_truth):
        ts, gs = set(truth), set(got)
        rs = set(replayed) if retained_from == 0 else set()
        diffs = {
            "materialized_only": sorted(gs - ts)[:20],
            "server_only_vs_materialized": sorted(ts - gs)[:20],
            "replay_only": sorted(rs - ts)[:20],
            "server_only_vs_replay": sorted(ts - rs)[:20] if rs else [],
        }
        # correlate: which workload tx touched the diverging ids, and
        # which faults happened around it?
        bad_ids = {r[0] for r in (ts - gs) | (gs - ts)}
        hits = [
            (i, round(t - t0, 1), kind, sorted(set(ids) & bad_ids))
            for i, (t, kind, ids) in enumerate(workload.journal)
            if set(ids) & bad_ids
        ]
        diffs["journal_hits"] = hits[-10:]
        diffs["journal_len"] = len(workload.journal)
        diffs["fault_times"] = [
            (round(t - t0, 1), k) for t, k in fault_log
        ]
    n_batches = last_batch_id + 1 if last_batch_id >= 0 else 0

    report = {
        "minutes": args.minutes,
        "seed": args.seed,
        "seeded_state_rows": args.state_rows,
        "churn_id_range": id_range,
        "merger_buckets": args.buckets or None,
        "merger_final_layout": (
            json.load(open(os.path.join(target, "_nbuckets.json")))
            if os.path.exists(os.path.join(target, "_nbuckets.json"))
            else None
        ),
        "merger_target_bucket_bytes": args.target_bucket_bytes or None,
        "seed_prefraction": args.seed_prefraction,
        "seed_drain": seed_drain,
        # rows_sent counts whole chunks whose INSERT..ON CONFLICT statement
        # succeeded — an attempted-rows figure (overlapping ids are not
        # re-inserted; ADVICE r10).  The server-derived count below is the
        # ground truth for how many trickle-range rows actually landed.
        "trickle_rows_attempted": trickle.rows_sent,
        "trickle_backpressure_waits": trickle.backpressure_waits,
        "trickle_backlog_cap_mb": args.max_backlog_mb or None,
        "trickle_rows_on_server": int(
            live.sql(
                f"SELECT count(*) FROM soak WHERE id >= {trickle.lo}"
                f" AND id < {trickle.hi}"
            )[0][0]
        ),
        "trickle_errors": trickle.errors[:5],
        # Completed (old_n, new_n) rebucket transitions across every
        # merger instance the run started (restarts included).
        "rebucket_events": [list(e) for m in mergers for e in m.rebucket_events],
        "ivm": (
            None
            if not args.ivm
            else {
                "batches_applied_total": sum(
                    m.batches_applied for m in ivm_maintainers
                ),
                "maintainer_instances": len(ivm_maintainers),
                "n_buckets": args.ivm_buckets,
                "n_buckets_final": ivm_final.n_buckets,
                "rebucket_events": [
                    list(e) for m in ivm_maintainers for e in m.rebucket_events
                ],
                "consumer_mode": args.ivm_consumer,
                "final_manifest_batch_id": (
                    (ivm_final.state.load() or {}).get("batch_id")
                ),
                "groups": len(ivm_agg or []),
                "match_ivm_vs_server": ivm_agg == ivm_truth,
                "agg_sample": (ivm_agg or [])[:4],
                "truth_sample": (ivm_truth or [])[:4],
            }
        ),
        # Multi-consumer retention evidence (separate mode): final ack
        # sidecars per slot + the published min the tailer GC'd against.
        "consumer_acks": (
            {
                name: json.load(open(log + f".ack.d/{name}.json"))
                for name in ("state", "ivm")
                if os.path.exists(log + f".ack.d/{name}.json")
            }
            if separate_ivm
            else None
        ),
        "boot_to_done_sec": round(time.time() - t_boot, 1),
        "micro_batches": n_batches,
        "tailer_sessions": tailer_loop.sessions,
        "final_drain_frames": tailer_loop.final_drain_frames,
        "lsn_forensics": {
            "server_wal": wal_now,
            "confirmed_flush": flush_now,
            "log_max_close": log_max_close,
            "flush_minus_log_max": flush_now - log_max_close,
        },
        "tailer_in_run_reconnects": tailer_loop.reconnects,
        "torn_tails_injected": tailer_loop.torn_tails,
        "faults": faults,
        "query_restarts_from_checkpoint": query_restarts,
        "workload_txs": workload.txs,
        "workload_mix": workload.counts,
        "workload_errors": workload.errors[:10],
        "tailer_errors": tailer_loop.errors[:10],
        "query_exceptions": query_exceptions[:10],
        "server_rows": len(truth),
        "state_rows": len(got),
        "hash_server": h_truth,
        "hash_materialized": h_got,
        "hash_clean_replay": h_replay,
        "replay_mode": "full" if retained_from == 0 else "retained_suffix",
        "log_retained_from": retained_from,
        **suffix_stats,
        "match_materialized_vs_server": h_got == h_truth,
        "match_replay_vs_server": (
            h_replay == h_truth if retained_from == 0 else replay_ok
        ),
        "diffs": diffs,
        "flatness": {
            k: {
                "slope_per_hour_2nd_half": linear_slope_per_hour(samples, k),
                "decile_means_first_last": decile_means(samples, k),
            }
            for k in (
                "ckpt_bytes",
                "ack_bytes",
                "registry_bytes",
                "log_bytes",
                "rss_mb",
                "slot_lag_bytes",
                "batch_ms",
            )
        },
        "batch_ms_p50_p95": _pcts([d for _, d, _c in batch_durations]),
        # The r8-comparable number: batches after the trickle finished
        # carry randomized churn only (no bulk-load chunks).
        "batch_ms_p50_p95_churn_only": _pcts(
            [d for _, d, c in batch_durations if c]
        ),
        "n_batches_churn_only": sum(1 for _, _, c in batch_durations if c),
        "trickle_end_t": round(trickle_end_t - t0, 1) if trickle_end_t else None,
        "samples_every_5s": samples[:: max(len(samples) // 120, 1)],
    }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(
        json.dumps(
            {
                k: report[k]
                for k in (
                    "micro_batches",
                    "tailer_sessions",
                    "torn_tails_injected",
                    "faults",
                    "query_restarts_from_checkpoint",
                    "workload_txs",
                    "server_rows",
                    "match_materialized_vs_server",
                    "match_replay_vs_server",
                    "rebucket_events",
                    "ivm",
                )
            }
        )
    )
    ok = report["match_materialized_vs_server"] and report["match_replay_vs_server"]
    if args.ivm:
        ok = ok and report["ivm"]["match_ivm_vs_server"]
    try:
        live.stop()
    except Exception:
        pass
    spark.stop()
    return 0 if ok else 1


def _pcts(vals):
    if not vals:
        return None
    s = sorted(vals)
    return {
        "p50": s[len(s) // 2],
        "p95": s[min(int(len(s) * 0.95), len(s) - 1)],
        "n": len(s),
    }


if __name__ == "__main__":
    sys.exit(main())
