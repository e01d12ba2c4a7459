"""Incremental maintenance of a two-table JOIN view (delta-join IVM).

The textbook rule the other IVM operators don't cover: for a view
``V = A ⋈ B``, a batch of changes maintains V as

    ΔV = ΔA ⋈ B_old  ∪  A_new ⋈ ΔB

(applying ΔA against the OLD B-state and ΔB against the NEW A-state
counts the same-batch ΔA⋈ΔB pairs exactly once).  Here A = orders
(keyed o_orderkey, with revisions), B = lineitem (keyed (orderkey,
linenumber)), and the maintained derivative is the joined aggregate
revenue per order priority — A-side updates RETRACT their old joined
contribution and ADD the new one, so the maintained aggregate never
recomputes from the base tables.  B is append-only fact rows (order
lines are immutable — the fixture's (orderkey, linenumber) is not even
a unique key); A carries the upsert/LSN-guard machinery.

The change log is synthesized deterministically from the fixtures and
hash-chunked so A and B rows of the same order usually arrive in
DIFFERENT micro-batches (both delta directions exercised), and every
order with ``o_orderkey % REV_MOD == 0`` receives a later priority
revision — the retract path.  Per-key LSN guards make the maintainer
tolerant of the cross-chunk LSN disorder hash-chunking creates.

Scale design (same discipline as operators/ivm.py): A- and B-state live
in parquet datasets partitioned by ``bucket = orderkey % N_BUCKETS``;
each batch rewrites only touched buckets via dynamic partition
overwrite and reads them partition-pruned, so per-batch cost is
O(touched buckets), not O(state).  The joined aggregate is priorities ×
counters — metadata-sized.  Insert/update scope; the delete/tombstone
machinery is demonstrated by ivm.py and cdc_targeted_erasure.

Reference parity: the reference (pypgcdc, ``reader.py:104``) replays
the log into consumer callbacks — view maintenance is left entirely to
the consumer.  This operator is that consumer done right, for joins.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypgcdc_spark.operators.churn import AutoBuckets, touched_buckets_and_keys
from pypgcdc_spark.queries import load, query

N_BUCKETS = 8
N_CHUNKS = 4
REV_MOD = 10  # orders with key % REV_MOD == 0 get a later priority revision
REV_PRIORITY = "9-REVISED"

_JOIN_LOGS: dict = {}


def _concurrently(collect_fn, write_fn):
    """Run a bounded collect and a state write as concurrent Spark jobs
    (both consume already-checkpointed blocks); returns the collect's
    result, re-raising whichever side failed.  The writer thread inherits
    the caller's local properties, so its jobs carry the caller's job
    group (cancellable, and counted with the batch)."""
    from pyspark import InheritableThread

    err: list = []

    def _run():
        try:
            write_fn()
        except BaseException as e:  # propagate to the caller's thread
            err.append(e)

    t = InheritableThread(target=_run)
    t.start()
    try:
        rows = collect_fn()
    finally:
        t.join()
    if err:
        raise err[0]
    return rows

A_SCHEMA = "lsn LONG, tbl STRING, orderkey LONG, linenumber LONG, custkey LONG, priority STRING, cents LONG"


def chunked_join_log(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic two-table change log: orders as table-A upserts
    (base lsn 4k, revision 4k+2 for every REV_MOD-th key), lineitem as
    table-B upserts (lsn 4k+1), md5-hash-chunked into N_CHUNKS files so
    related A/B rows split across micro-batches.  Session-cached."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _JOIN_LOGS:
        return _JOIN_LOGS[key]
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    a_base = orders.select(
        (F.col("o_orderkey") * 4).alias("lsn"),
        F.lit("A").alias("tbl"),
        F.col("o_orderkey").alias("orderkey"),
        F.lit(None).cast("long").alias("linenumber"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.lit(None).cast("long").alias("cents"),
        # Chunk assignment only shapes micro-batch composition (the oracle
        # recomputes from final states) — xxhash64 is the cheap
        # deterministic hash; md5+conv was pure synthesis overhead.
        F.pmod(F.xxhash64(F.concat(F.lit("A:"), F.col("o_orderkey"))), F.lit(N_CHUNKS - 1))
        .cast("int")
        .alias("chunk"),
    )
    a_rev = (
        orders.filter(F.col("o_orderkey") % REV_MOD == 0)
        .select(
            (F.col("o_orderkey") * 4 + 2).alias("lsn"),
            F.lit("A").alias("tbl"),
            F.col("o_orderkey").alias("orderkey"),
            F.lit(None).cast("long").alias("linenumber"),
            F.col("o_custkey").alias("custkey"),
            F.lit(REV_PRIORITY).alias("priority"),
            F.lit(None).cast("long").alias("cents"),
            F.lit(N_CHUNKS - 1).alias("chunk"),  # revisions in the last batch
        )
    )
    b_rows = li.select(
        (F.col("l_orderkey") * 4 + 1).alias("lsn"),
        F.lit("B").alias("tbl"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.lit(None).cast("long").alias("custkey"),
        F.lit(None).cast("string").alias("priority"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.pmod(
            F.xxhash64(
                F.concat(F.lit("B:"), F.col("l_orderkey"), F.lit(":"), F.col("l_linenumber"))
            ),
            F.lit(N_CHUNKS),
        )
        .cast("int")
        .alias("chunk"),
    )
    log = a_base.unionByName(a_rev).unionByName(b_rows)
    base = tempfile.mkdtemp(prefix="cdc_joinlog_")
    # ONE plain write (the hive-partitioned writer costs ~2x; range
    # repartitioning adds a sampling pass): hash-repartition on a
    # remapped key chosen so murmur3(key) % 4 = chunk — raw chunk
    # values collide (0,1,3 land in one partition, leaving an empty
    # file), which would collapse the 4 chunks into fewer micro-batches
    # under maxFilesPerTrigger=1.  Batch ORDER and composition are free
    # to vary — the maintainer's per-key LSN guards make the final
    # state order-independent (that's the property under test), and the
    # oracle recomputes from final table states — so even a murmur3
    # change would only degrade the fixture, never the result.
    part_key = F.element_at(
        F.array(F.lit(12), F.lit(6), F.lit(2), F.lit(0)), F.col("chunk") + 1
    )
    log.repartition(N_CHUNKS, part_key).write.mode("overwrite").parquet(f"{base}/log")
    _JOIN_LOGS[key] = f"{base}/log"
    return _JOIN_LOGS[key]


class JoinViewMaintainer(AutoBuckets):
    """ΔV = ΔA⋈B_old ∪ A_new⋈ΔB with retract/add aggregate upkeep.

    Per-batch cost discipline (r6: the r5 shape spent ~6 driver-visible
    Spark actions per micro-batch, each dragging several tiny AQE stages
    — at toy scale the per-stage fixed cost dominated the wall):

    * the ENTIRE delta rule evaluates as ONE co-partitioned wide
      full-outer join W on ``orderkey`` (old A ⟗ batch A ⟗ old B sums ⟗
      batch B sums): after the first exchange everything downstream
      reuses the orderkey hash partitioning, and W materializes exactly
      once per batch (``localCheckpoint`` — which also severs
      read-own-write lineage on the state path it came from);
    * A-rows and B-sums state live in ONE parquet dataset partitioned by
      ``(tbl, bucket)``; a batch commits with a single
      dynamic-partition-overwrite write of narrow projections of the
      checkpointed W — only the touched partitions are replaced;
    * state reads prune buckets via a static ``isin`` partition filter
      from the batch's collected bucket ids (bounded metadata; DPP does
      not fire on the broadcast-join shape — state_prune.py);
    * the maintained aggregate is priorities × counters — metadata-sized
      — so it lives as driver rows (one bounded collect per batch), not
      as per-batch parquet versions;
    * B-state is the per-orderkey partial aggregate ``(b_n, b_cents)``
      the delta join actually consumes — group-aggregate IVM state,
      bounded by #orders, not #lines; raw-line state would only be
      needed if individual lines could retract, which order lines
      (immutable facts) never do.
    """

    AGG_SCHEMA = "priority STRING, n_lines LONG, total_cents LONG"
    STATE_SCHEMA = (
        "tbl STRING, bucket INT, orderkey LONG, custkey LONG, "
        "priority STRING, lsn LONG, b_n LONG, b_cents LONG"
    )

    MIN_BUCKETS = N_BUCKETS

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_buckets=N_BUCKETS,
        guard_id: str = None,
        target_bucket_bytes: int = None,
    ):
        from pypgcdc_spark.operators.atomic_state import ManifestState

        self.spark = spark
        self.work = work_dir
        # Stream-lineage identity for the replay guard (checkpoint path):
        # batch ids reset under a fresh checkpoint (ADVICE r8).
        self.guard_id = guard_id
        # State + batch marker + aggregate rows commit as ONE atomic
        # manifest rename (r8 verdict task 3): the B-side fold is per-order
        # SUMS, so the crash-between-state-and-marker window of the plain
        # batch_guard protocol would double-count a replayed delta-B.
        # The manifest also makes the aggregate restart-durable (it was
        # driver memory before).
        self.state = ManifestState(spark, f"{work_dir}/state", ["tbl", "bucket"])
        self._agg_rows: list = [
            tuple(r) for r in self.state.extra("agg", [])
        ]
        # Churn-adaptive bucket count (auto mode): the layout lives in the
        # manifest's extras, so a restart resumes count + keys-EWMA, and a
        # relayout commits through the manifest protocol itself
        # (ManifestState.replace_all — one os.replace, no extra machinery).
        self._init_buckets(n_buckets, target_bucket_bytes, self.state.extra("layout"))

    @staticmethod
    def _bucket(n: int):
        return (F.col("orderkey") % n).cast("int")

    def _state_bytes(self) -> int:
        return self.state.live_bytes()

    def _relayout(self, new_n: int, record: dict, batch_id: int) -> None:
        """Rewrite the state under ``new_n`` buckets via ONE atomic
        manifest swap (``replace_all``); committed with the same
        batch_id, so a crash mid-relayout replays nothing and leaves the
        old generation live."""
        relaid = self.state.read(self.STATE_SCHEMA).withColumn(
            "bucket", self._bucket(new_n)
        )
        self.state.replace_all(
            relaid,
            batch_id,
            self.guard_id,
            extra=self._manifest_extra(self._agg_rows, record),
        )

    def _read_agg(self) -> DataFrame:
        return self.spark.createDataFrame(self._agg_rows, self.AGG_SCHEMA)

    def aggregate(self) -> DataFrame:
        return self._read_agg().filter(F.col("n_lines") > 0)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # The replay guard is LOAD-BEARING here, not belt-and-braces: the
        # B-side folds as per-order line SUMS (no per-line identity), so
        # re-adding a replayed delta-B would double-count.  foreachBatch
        # re-delivers the same batch_id with the same data after a sink
        # failure; skipping it is the documented exactly-once recipe —
        # and the guard is the manifest itself, so there is no window
        # between "state committed" and "batch marked".
        if self.state.already_applied(batch_id, self.guard_id):
            return
        from pypgcdc_spark.operators.batch_guard import delta_step_conf

        bucket = self._bucket(self.n_buckets)
        with delta_step_conf(self.spark, self.n_buckets):
            self._apply(batch_df, bucket, batch_id)

    def _apply(self, batch_df: DataFrame, bucket, batch_id: int) -> None:
        # Same bounded collect as the pruning path, plus the batch's
        # distinct-key count (the churn observation driving auto growth).
        # Doubles as the empty-batch probe (the separate isEmpty() action
        # cost one extra Spark job per micro-batch): an empty bucket list
        # means an idle batch — a marker-only manifest commit advances
        # the high-water without staging data.
        batch_buckets, batch_keys = touched_buckets_and_keys(
            batch_df, bucket, F.col("orderkey")
        )
        if not batch_buckets:
            self.state.finalize(
                None, [], batch_id, self.guard_id,
                extra=self._manifest_extra(self._agg_rows),
            )
            return
        self._observe_keys(batch_keys)

        # The whole per-key reconciliation is ONE aggregation, not a join
        # tree: old state and the batch stack into one tall frame tagged
        # by source, and a single groupBy(orderkey) — map-side partial
        # aggregation, one shuffle — extracts per key the old A row
        # (conditional max_by), the batch's NEWEST A row (max_by over
        # lsn, which also subsumes the within-batch dedup), and both B
        # partial sums.  The cross-batch LSN guard (hash chunking
        # delivers keys out of global LSN order) is the `eff` flag below.
        #
        # Both sides read ONCE (r12): old A-rows and B-sums live in the
        # same unified dataset, so one bucket-pruned scan covers both tbl
        # partitions (A rows carry NULL b_n/b_cents on disk and B rows
        # NULL lsn/custkey/priority, so the straight projection below
        # yields exactly the rows the per-tbl branches used to build);
        # the batch parquet is likewise scanned once, with `when(tbl)`
        # projections replacing the two filter branches that each re-read
        # every micro-batch file.
        old = self.state.read(
            self.STATE_SCHEMA,
            F.col("bucket").isin([int(b) for b in batch_buckets]),
        )
        is_a = F.col("tbl") == "A"
        tall = old.select(
            "orderkey",
            F.concat(F.lit("O"), F.col("tbl")).alias("src"),
            F.col("lsn").cast("long").alias("lsn"),
            F.col("custkey").cast("long").alias("custkey"),
            F.col("priority").cast("string").alias("priority"),
            F.col("b_n").cast("long").alias("n"),
            F.col("b_cents").cast("long").alias("cents"),
        ).unionByName(
            batch_df.filter(F.col("tbl").isin("A", "B")).select(
                "orderkey",
                F.concat(F.lit("N"), F.col("tbl")).alias("src"),
                F.when(is_a, F.col("lsn")).cast("long").alias("lsn"),
                F.when(is_a, F.col("custkey")).cast("long").alias("custkey"),
                F.when(is_a, F.col("priority")).cast("string").alias("priority"),
                F.when(~is_a, F.lit(1)).cast("long").alias("n"),
                F.when(~is_a, F.col("cents")).cast("long").alias("cents"),
            )
        )
        is_src = lambda s: F.when(F.col("src") == s, F.col("lsn"))  # noqa: E731
        w = tall.groupBy("orderkey").agg(
            F.max_by(F.struct("custkey", "priority", "lsn"), is_src("OA")).alias("old"),
            F.max_by(F.struct("custkey", "priority", "lsn"), is_src("NA")).alias("new"),
            F.sum(F.when(F.col("src") == "OB", F.col("n"))).alias("b_n"),
            F.sum(F.when(F.col("src") == "OB", F.col("cents"))).alias("b_cents"),
            F.sum(F.when(F.col("src") == "NB", F.col("n"))).alias("db_n"),
            F.sum(F.when(F.col("src") == "NB", F.col("cents"))).alias("db_cents"),
        )

        eff = F.col("new.lsn").isNotNull() & (
            F.col("new.lsn") > F.coalesce(F.col("old.lsn"), F.lit(-1))
        )
        cur = F.when(eff, F.col("new")).otherwise(F.col("old"))
        w = w.select(
            "orderkey",
            eff.alias("eff"),
            cur["priority"].alias("cur_priority"),
            cur["custkey"].alias("cur_custkey"),
            cur["lsn"].alias("cur_lsn"),
            F.col("old.priority").alias("old_priority"),
            F.coalesce("b_n", F.lit(0)).alias("b_n0"),
            F.coalesce("b_cents", F.lit(0)).alias("b_c0"),
            F.coalesce("db_n", F.lit(0)).alias("dn"),
            F.coalesce("db_cents", F.lit(0)).alias("dc"),
        )
        # W materializes exactly ONCE (a cache/persist would let the
        # union branches below race the first fill and recompute the
        # aggregation concurrently); the checkpoint also severs lineage
        # on the state path, so the overwrite below is hazard-free.
        w = w.localCheckpoint(eager=True)

        a_new = w.filter(F.col("cur_priority").isNotNull()).select(
            "orderkey",
            F.col("cur_custkey").alias("custkey"),
            F.col("cur_priority").alias("priority"),
            F.col("cur_lsn").alias("lsn"),
        )
        b_new = w.filter(F.col("b_n0") + F.col("dn") > 0).select(
            "orderkey",
            (F.col("b_n0") + F.col("dn")).alias("b_n"),
            (F.col("b_c0") + F.col("dc")).alias("b_cents"),
        )

        # Per-order delta contributions, straight from W (the delta-join
        # rule, row-local): an effective A change retracts its old joined
        # contribution against B_old and adds the new one; batch B sums
        # contribute to the CURRENT priority (A_new ⋈ ΔB — lines whose A
        # has not arrived yet contribute nothing now; the later
        # A-arrival's add, computed over B-state, picks them up).
        contrib = F.array(
            F.when(
                F.col("eff") & F.col("old_priority").isNotNull(),
                F.struct(
                    F.col("old_priority").alias("priority"),
                    (-F.col("b_n0")).alias("n_lines"),
                    (-F.col("b_c0")).alias("total_cents"),
                ),
            ),
            F.when(
                F.col("eff"),
                F.struct(
                    F.col("cur_priority").alias("priority"),
                    F.col("b_n0").alias("n_lines"),
                    F.col("b_c0").alias("total_cents"),
                ),
            ),
            F.when(
                F.col("cur_priority").isNotNull() & (F.col("dn") > 0),
                F.struct(
                    F.col("cur_priority").alias("priority"),
                    F.col("dn").alias("n_lines"),
                    F.col("dc").alias("total_cents"),
                ),
            ),
        )
        # The new aggregate: old rows plus the batch's deltas, summed per
        # priority in ONE task over the batch-sized W (coalesce(1): no
        # shuffle — per-batch data is far too small to amortize a shuffle
        # stage's task scheduling).
        deltas = (
            w.select(F.explode(contrib).alias("c"))
            .filter(F.col("c").isNotNull())
            .select("c.*")
        )
        agg_new = (
            self._read_agg()
            .unionByName(deltas)
            .coalesce(1)
            .groupBy("priority")
            .agg(
                F.sum("n_lines").alias("n_lines"),
                F.sum("total_cents").alias("total_cents"),
            )
        )
        # -- single commit: A-rows and B-sums (narrow projections of the
        # checkpointed W) union into one frame; ONE dynamic partition
        # overwrite replaces exactly the touched partitions.
        n = F.lit(None)
        unified = a_new.select(
            F.lit("A").alias("tbl"),
            bucket.alias("bucket"),
            "orderkey",
            "custkey",
            "priority",
            "lsn",
            n.cast("long").alias("b_n"),
            n.cast("long").alias("b_cents"),
        ).unionByName(
            b_new.select(
                F.lit("B").alias("tbl"),
                bucket.alias("bucket"),
                "orderkey",
                n.cast("long").alias("custkey"),
                n.cast("string").alias("priority"),
                n.cast("long").alias("lsn"),
                "b_n",
                "b_cents",
            )
        )
        # Commit: staged data is invisible until the manifest swap below —
        # state rows, batch marker AND the new aggregate commit in ONE
        # atomic rename, so a crash anywhere in this function re-applies
        # the batch against the OLD state (no double-count window).  The
        # delta fold runs as a bounded collect concurrent with the staging
        # write; both stream from the checkpointed W.
        touched = [(t, b) for t in ("A", "B") for b in batch_buckets]
        staged: list = []
        rows = _concurrently(
            lambda: agg_new.collect(),
            lambda: staged.append(self.state.stage(unified, batch_id)),
        )
        rows = [(r.priority, r.n_lines, r.total_cents) for r in rows]
        self.state.finalize(
            staged[0],
            touched,
            batch_id,
            self.guard_id,
            extra=self._manifest_extra(rows),
        )
        self._agg_rows = rows
        self._maybe_rebucket(batch_id)


@query(
    "cdc_join_view_ivm",
    oracle=f"""
    -- Batch recompute over FINAL table states: orders with every
    -- REV_MOD-th key's priority revised, joined to lineitem, revenue per
    -- priority.  The Spark side maintained the same aggregate
    -- INCREMENTALLY via the delta-join rule — the hash-match proves
    -- dV = dA><B_old + A_new><dB (retract/add included) equals the
    -- recompute.
    WITH final_a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {REV_MOD} = 0 THEN '{REV_PRIORITY}'
                  ELSE o_orderpriority END AS priority
      FROM orders)
    SELECT a.priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM final_a a JOIN lineitem l ON a.o_orderkey = l.l_orderkey
    GROUP BY a.priority
    """,
)
def cdc_join_view_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the synthesized two-table change log in {N_CHUNKS}
    hash-chunked micro-batches through ``JoinViewMaintainer`` and return
    the final maintained join aggregate — which must hash-match the
    batch recompute over final table states."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="cdc_jivm_")
    try:
        log_dir = chunked_join_log(spark, sf_dir)
        maint = JoinViewMaintainer(spark, work, guard_id=f"{work}/ckpt")
        q = (
            spark.readStream.schema(A_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(maint.apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        # Materialize the (metadata-sized) aggregate before the work dir
        # is removed — the only driver collect in the whole operator.
        rows = maint.aggregate().collect()
        return spark.createDataFrame(rows, JoinViewMaintainer.AGG_SCHEMA)
    finally:
        shutil.rmtree(work, ignore_errors=True)
