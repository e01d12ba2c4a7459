"""Event-time windowing operators (SURVEY §2.2 streaming rows).

Every ``stream_*`` query here runs THROUGH the streaming engine — a
file-stream source, watermarked event time, windowed aggregation in the
state store, drained with ``trigger(availableNow=True)`` — and its
drained output must hash-match a batch DuckDB oracle (Spark's window
semantics are identical in batch and streaming, which is exactly what
makes the oracle valid).  Until round 10 the four window-shape rows
(tumbling/sliding/session/time_rollup) evaluated their semantics in
batch mode only; the plan audit flagged them as "0 micro-batches", so
they now share the same drain harness as their stateful siblings.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from pypgcdc_spark.operators.relational import dec, money
from pypgcdc_spark.queries import event_ts_expr, load, query, state_partitions


def _events_stream(spark, sf_dir):
    """File-stream over the events table with a true event-time column
    (physical ts type varies by fixture generation — event_ts_expr)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    s = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return s.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        event_ts_expr(schema).alias("ev_ts"),
    )


def _drain(spark, df, prefix: str, mode: str = "complete", parts: int | None = None):
    """Drain a streaming DataFrame through a memory sink with
    ``trigger(availableNow=True)`` and return the sink contents.

    Shared by every ``stream_*`` gate row.  Two ADVICE-r10 contracts:

    * ``awaitTermination(timeout)`` returns False on timeout WITHOUT
      raising — reading the sink then would silently hand back a partial
      table surfacing as a confusing oracle mismatch.  Fail loudly and
      stop the query instead.
    * the uuid-named memory-sink temp view is dropped before returning —
      otherwise repeated gate/bench runs accumulate sink tables in driver
      memory.  The result is detached via an eager localCheckpoint
      (bounded: drained sinks are final aggregates / deduped survivors at
      gate scale), whose blocks the ContextCleaner reclaims with the
      DataFrame.
    """
    name = prefix + "_" + uuid.uuid4().hex[:12]
    # No-data micro-batches exist so a LONG-RUNNING stream can advance its
    # watermark during idle periods (evicting state, emitting finalized
    # append-mode windows).  A drain-to-completion run needs neither:
    # every _drain consumer emits on data batches (complete/update modes,
    # or append shapes — dedup-within-watermark, inner interval join —
    # that emit as rows arrive), and the query stops right after.  The
    # trailing no-data batch was pure state-store commit cost (measured
    # r12: interval-join drain 2.74→1.72 s, dedup drain 1.62→1.03 s,
    # drained outputs bit-identical).  Saved/restored around the drain.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key)
    spark.conf.set(nodata_key, "false")
    try:
        with state_partitions(spark) if parts is None else state_partitions(spark, parts):
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError(f"streaming drain timed out after 300s: {name}")
            finally:
                if q.isActive:
                    q.stop()
    finally:
        spark.conf.set(nodata_key, prev_nodata)
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def _drain_complete(spark, agg_df, prefix: str):
    """Run a streaming aggregation to completion (complete output mode —
    the drained memory sink IS the final aggregate; watermark state-drop
    applies in update/append deployments of the same plan) and return
    the sink table."""
    return _drain(spark, agg_df, prefix, "complete")


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark, sf_dir):
    """1-hour tumbling windows, REAL streaming: watermarked event time,
    windowed aggregation through the state store, drained and formatted.
    Sums stay exact decimal inside the state; rounding happens once on
    the drained output (same place the oracle rounds)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    sink = _drain_complete(spark, agg, "tumb")
    return sink.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
        money(F.col("sum_value")).alias("total_value"),
    )


@query(
    "stream_sliding_window",
    oracle="""
    -- A 1h window sliding by 30m assigns each event to exactly 2 windows:
    -- starts at floor30(ts) and floor30(ts)-30m (same enumeration Spark's
    -- window(ts,'1 hour','30 minutes') performs).
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n,
           ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - i.i * INTERVAL '30 minutes' AS ws, value
      FROM events, (SELECT 0 AS i UNION ALL SELECT 1) i
    )
    GROUP BY 1
    """,
)
def stream_sliding(spark, sf_dir):
    """1-hour windows sliding every 30 minutes (each event enters two
    overlapping windows), REAL streaming via the same drain harness."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ev_ts", "1 hour")
        .groupBy(F.window("ev_ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    sink = _drain_complete(spark, agg, "slid")
    return sink.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "n",
        money(F.col("sum_value")).alias("total_value"),
    )


@query(
    "stream_session_window",
    oracle="""
    -- Gaps-and-islands sessionization, 30-minute inactivity gap: new
    -- session when ts - prev_ts > 30m; session end = last ts + gap
    -- (matches Spark session_window(ts, '30 minutes') start/end).
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes' OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS session_value
    FROM sessions
    GROUP BY user_id, sess_id
    """,
)
def stream_session(spark, sf_dir):
    """Session windows with a 30-minute inactivity gap, REAL streaming:
    ``session_window`` is the state store's merging-window operator
    (sessions extend and MERGE as bridging events arrive across
    micro-batches), verified against a gaps-and-islands oracle."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ev_ts", "1 hour")
        .groupBy("user_id", F.session_window("ev_ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    sink = _drain_complete(spark, agg, "sess")
    return sink.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        money(F.col("sum_value")).alias("session_value"),
    )


@query(
    "asof_join_purchase_last_click",
    oracle="""
    -- DuckDB has a native ASOF JOIN; Spark composes it from a union +
    -- conditional last() window (implementation below) — same semantics:
    -- for each purchase, the most recent prior-or-equal click by that user.
    SELECT p.user_id, p.event_id AS purchase_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join(spark, sf_dir):
    """As-of join (Spark lacks a native one): union both sides, per-user
    ordered window carries the latest click forward, keep purchase rows.

    One shuffle on user_id, no range explosion — the scalable composition
    for time-series alignment (vs merge_asof per group via applyInPandas,
    which this beats by staying in Tungsten)."""
    (events,) = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(0).alias("is_click"),
        F.col("event_id").alias("purchase_id"),
    )
    # Clicks sort before purchases at equal ts (is_click desc) so that a
    # click at exactly the purchase ts is visible to it (>= semantics).
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ev_ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_click") == 1, F.col("ev_ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_click") == 0).select(
        "user_id",
        "purchase_id",
        F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    -- The deduped stream must reproduce the source exactly: every event
    -- was fed TWICE (self-union), so surviving counts equal the plain
    -- batch profile of the events table.
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_watermark(spark, sf_dir):
    """REAL streaming deduplication: the events file stream is unioned
    with itself (every record arrives twice), watermarked on event time,
    and collapsed with ``dropDuplicatesWithinWatermark`` keyed on
    event_id — the streaming ingestion-dedup shape (at-least-once sources,
    bounded state: keys expire once the watermark passes their event
    time, unlike unbounded dropDuplicates).  The drained output must
    hash-match the batch profile of the source — proving exactly-one
    survival per duplicate pair."""
    import uuid

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def _stream():
        s = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        # The watermark needs a true timestamp; physical ts type varies
        # by fixture generation (see queries.event_ts_expr).
        return s.select(
            "event_id",
            "event_type",
            "value",
            event_ts_expr(schema).alias("ev_ts"),
        )

    doubled = _stream().unionByName(_stream())
    deduped = doubled.withWatermark("ev_ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _drain(spark, deduped, "sd", "append")
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("total_cents"),
    )


@query(
    "stream_stateful_running_stats",
    oracle="""
    -- The stateful operator's final state must equal the batch aggregate:
    -- per-user event count + exact integer-cent value sum.
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_running_stats(spark, sf_dir):
    """REAL stateful streaming, not a batch re-expression: runs
    ``streaming.stateful.running_value_stats`` (applyInPandasWithState,
    per-key state store, update mode) over a file stream of the events
    table, drains it, and returns the final per-key state — which must
    hash-match the batch-SQL oracle. State is monotone (n_events strictly
    grows per emission), so the final row per key is the max-n_events one
    regardless of how the source was micro-batched."""
    import uuid

    from pypgcdc_spark.streaming.stateful import running_value_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The parquet file-stream source requires a directory: stream the
    # sf_dir itself, glob-filtered down to the events table.
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # 16, not 8: applyInPandasWithState / pandas-heavy state runs Python
    # workers per partition — dropping to 8 starves them (measured
    # 4.1s@16 vs 5.3s@8 vs 5.1s@32 on the 32-thread box).
    sink = _drain(
        spark, running_value_stats(stream.select("user_id", "value")), "ss", "update", 16
    )
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
    )


@query(
    "stream_time_rollup",
    oracle="""
    -- Hypertable-style continuous-aggregate rollup: one pass produces the
    -- day grain, the hour grain, and the grand total (GROUP BY ROLLUP on
    -- the time hierarchy) — the downsampling pyramid a time-series store
    -- maintains per event type.
    SELECT CASE WHEN day IS NULL THEN 'total'
                WHEN hour IS NULL THEN 'day' ELSE 'hour' END AS grain,
           COALESCE(strftime(day, '%Y-%m-%d'), '') AS day,
           COALESCE(strftime(hour, '%Y-%m-%d %H:%M:%S'), '') AS hour,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)::DOUBLE AS total_value
    FROM (SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hour, value
          FROM events)
    GROUP BY ROLLUP(day, hour)
    """,
)
def stream_time_rollup(spark, sf_dir):
    """Multi-granularity time rollup (the hypertable / continuous-
    aggregate shape), REAL streaming: hour + day + total grains in ONE
    streaming aggregation via ROLLUP over the time hierarchy — Spark
    plans a single stateless Expand feeding one stateful aggregate, so
    the whole downsampling pyramid is maintained in the state store in
    one pass (one shuffle, not one job per grain)."""
    t = _events_stream(spark, sf_dir).select(
        F.date_trunc("day", "ev_ts").alias("day_ts"),
        F.date_trunc("hour", "ev_ts").alias("hour_ts"),
        "value",
        "ev_ts",
    )
    rolled = (
        t.withWatermark("ev_ts", "1 hour")
        .rollup("day_ts", "hour_ts")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
    )
    sink = _drain_complete(spark, rolled, "roll")
    grain = (
        F.when(F.col("day_ts").isNull(), "total")
        .when(F.col("hour_ts").isNull(), "day")
        .otherwise("hour")
    )
    return sink.select(
        grain.alias("grain"),
        F.coalesce(F.date_format("day_ts", "yyyy-MM-dd"), F.lit("")).alias("day"),
        F.coalesce(F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss"), F.lit("")).alias("hour"),
        "n_events",
        money(F.col("sum_value")).alias("total_value"),
    )


def purchase_click_join(purchases, clicks):
    """The purchase⋈click interval join: each click of the same user
    within the hour before a purchase.  ``purchases`` and ``clicks`` are
    event streams with ``user_id``, ``event_id`` and ``ev_ts``.

    Each side is watermarked 1 minute behind its event time; the join's
    state horizon adds the 1-hour interval on top, so both state stores
    drop rows older than watermark − 1h.  The delay is late-data
    tolerance only: the event log is LSN-ordered and its ts is monotone
    in event_id (zero measured lateness), and a 2-hour delay tripled the
    retained state for nothing (r4's slowest-kernel finding)."""

    def side(events, prefix):
        return events.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ev_ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "1 minute")

    return side(purchases, "p").join(
        side(clicks, "c"),
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )


@query(
    "stream_stream_join",
    oracle="""
    -- Batch interval-join ground truth: clicks attributed to a purchase
    -- of the same user within the preceding hour; the drained streaming
    -- join must reproduce these counts exactly.
    SELECT p.user_id,
           COUNT(*) AS n_attributed,
           CAST(SUM(p.event_id) AS BIGINT) AS purchase_id_sum
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
    GROUP BY p.user_id
    """,
)
def stream_stream_join(spark, sf_dir):
    """REAL stream-stream interval join: two watermarked readers over the
    events stream (``purchase_click_join``) — the double-sided
    state-store join shape.  The drained append output is aggregated and
    must hash-match the batch interval-join oracle."""

    def events(event_type):
        return _events_stream(spark, sf_dir).filter(F.col("event_type") == event_type)

    joined = purchase_click_join(events("purchase"), events("click"))
    return (
        _drain(spark, joined, "ssj", "append")
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum("p_id").cast("long").alias("purchase_id_sum"),
        )
    )


@query(
    "stream_simhash_dedup",
    oracle=f"""
    -- Online near-dup filtering: the surviving signature set of a
    -- SimHash-keyed streaming dedup equals the batch-distinct signature
    -- set (which doc survives per key is arrival-order-defined, so the
    -- checked output is the signature set itself).
    WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tk
                 FROM documents),
    bits AS (SELECT doc_id, b.bit,
                    CASE WHEN (('0x' || substr(md5(tk), 1, 4))::INTEGER >> b.bit) & 1 = 1
                         THEN 1 ELSE -1 END AS w
             FROM tok, (SELECT unnest(range(16)) AS bit) b),
    sig AS (SELECT doc_id,
                   SUM(CASE WHEN wsum > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
            FROM (SELECT doc_id, bit, SUM(w) AS wsum FROM bits GROUP BY 1, 2)
            GROUP BY doc_id)
    SELECT DISTINCT CAST(simhash AS BIGINT) AS simhash FROM sig
    """,
)
def stream_simhash_dedup(spark, sf_dir):
    """REAL streaming near-dup filter: each arriving document's SimHash is
    computed ENTIRELY inside the row (``functions.text_kernels.simhash16``
    — transform + aggregate over the token array, zero shuffle), then
    ``dropDuplicates`` on the signature admits only the first document
    per near-dup class.  This is the online ingestion twin of
    ``dedup_simhash``: an unbounded stream can't wait for the batch
    groupBy-votes formulation, so the signature must be a map-only
    expression — the property that lets a 100 TB/day ingest pipeline
    near-dup-filter on the fly with state ∝ distinct signatures.
    (Production bounds state with ``dropDuplicatesWithinWatermark`` on
    ingest time exactly as ``stream_dedup_watermark`` does; the corpus
    fixture has no event time, so state here is fixture-bounded.)"""
    import uuid

    from pypgcdc_spark.functions.text_kernels import simhash16

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    survivors = stream.select(simhash16(F.col("text")).alias("simhash")).dropDuplicates(
        ["simhash"]
    )
    return _drain(spark, survivors, "ssd", "append").select("simhash").distinct()


@query(
    "stream_pattern_detect",
    oracle="""
    -- The streaming automaton's final state must equal the batch lag
    -- query: click→purchase adjacencies per user, counted over the full
    -- LSN-ordered log (integer cents — no float in the state).
    SELECT user_id,
           COUNT(*) AS n_matches,
           MIN(event_id) AS first_match_lsn,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS matched_cents
    FROM (
      SELECT user_id, event_id, value, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
                 AS prev_type
      FROM events)
    WHERE event_type = 'purchase' AND prev_type = 'click'
    GROUP BY user_id
    """,
)
def stream_pattern_detect(spark, sf_dir):
    """REAL streaming CEP: the click→purchase automaton runs as
    ``streaming.stateful.pattern_matcher`` (applyInPandasWithState) over
    the LSN-chunked event log, one micro-batch per chunk — so
    adjacencies that SPAN a batch boundary only fire because prev_type
    persists in the per-user state store.  The drained final state must
    hash-match the batch lag-chain oracle (the streaming/batch twin of
    events_pattern_detect).

    At 100 TB: state is one tiny tuple per user (RocksDB-sharded by the
    groupBy key), each batch touches only the users present in it, and
    the pattern extends to longer automata by widening the state —
    never by re-reading history."""
    import uuid

    from pypgcdc_spark.operators.cdc_queries import _chunked_event_log
    from pypgcdc_spark.streaming.stateful import pattern_matcher

    (events,) = load(spark, sf_dir, "events")
    log_dir = _chunked_event_log(spark, sf_dir, events)
    schema = spark.read.parquet(log_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one LSN chunk per micro-batch
        .parquet(log_dir)
    )
    # 16, not 8: applyInPandasWithState / pandas-heavy state runs Python
    # workers per partition — dropping to 8 starves them (measured
    # 4.1s@16 vs 5.3s@8 vs 5.1s@32 on the 32-thread box).
    sink = _drain(
        spark,
        pattern_matcher(stream.select("user_id", "event_id", "event_type", "value")),
        "sp",
        "update",
        16,
    )
    # n_matches is monotone per user; the final state is the max row.
    # Users whose final state has zero matches are absent from the oracle.
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_matches").alias("n_matches"),
            F.min("first_match_lsn").alias("first_match_lsn"),
            F.max("matched_cents").alias("matched_cents"),
        )
        .filter(F.col("n_matches") > 0)
    )


HH_TOPK = 10


@query(
    "stream_heavy_hitters",
    oracle=f"""
    -- The streaming state's final per-user counts, reduced to the
    -- top-{HH_TOPK} heavy hitters, must equal the batch frequency query.
    -- Shares are exact integer ppm (FLOOR(1e6*n/total) — integer-ratio
    -- doubles cannot straddle a FLOOR boundary), q20's discipline, so
    -- the output is SF-stable where a fixed phi threshold is not.
    WITH u AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM events GROUP BY user_id),
    t AS (SELECT SUM(n_events) AS total FROM u)
    SELECT user_id, n_events, total_cents,
           CAST(FLOOR(1000000.0 * n_events / t.total) AS BIGINT) AS share_ppm
    FROM u, t
    ORDER BY n_events DESC, user_id ASC LIMIT {HH_TOPK}
    """,
)
def stream_heavy_hitters(spark, sf_dir):
    """Streaming heavy hitters: per-user frequency state maintained by
    the ``running_value_stats`` stateful operator (applyInPandasWithState)
    over the LSN-chunked event log — one micro-batch per chunk, so the
    counters genuinely accumulate across batch boundaries — then the
    drained final states reduce to the top-{HH_TOPK} users with exact
    ppm traffic shares.

    At 100 TB the exact per-key state is viable whenever the key space
    fits the sharded state store (RocksDB across executors — billions of
    keys); when it doesn't, the documented degradation path is
    Misra-Gries summaries per shard (mergeable, ±n/k error bound) feeding
    the same top-k reduction — the output contract is unchanged, which
    is why the top-k (not a fixed phi threshold that empties as the
    corpus grows) is the right stable surface."""
    import uuid

    from pypgcdc_spark.operators.cdc_queries import _chunked_event_log
    from pypgcdc_spark.streaming.stateful import running_value_stats

    (events,) = load(spark, sf_dir, "events")
    log_dir = _chunked_event_log(spark, sf_dir, events)
    schema = spark.read.parquet(log_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one LSN chunk per micro-batch
        .parquet(log_dir)
    )
    # 16, not 8: applyInPandasWithState / pandas-heavy state runs Python
    # workers per partition — dropping to 8 starves them (measured
    # 4.1s@16 vs 5.3s@8 vs 5.1s@32 on the 32-thread box).
    sink = _drain(
        spark, running_value_stats(stream.select("user_id", "value")), "sh", "update", 16
    )
    # n_events is monotone per user; the final state is the max row.
    final = sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
    )
    total = final.agg(F.sum("n_events").alias("total"))
    return (
        final.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            "total_cents",
            F.floor(F.lit(1000000.0) * F.col("n_events") / F.col("total"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(HH_TOPK)
    )


_LI_LOGS: dict = {}


def _chunked_lineitem_log(spark, sf_dir: str) -> str:
    """Order-key-range chunks of lineitem, one file each → one
    micro-batch each (the fact-stream fixture for stream-static joins).
    Session-cached."""
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _LI_LOGS:
        return _LI_LOGS[key]
    (li,) = load(spark, sf_dir, "lineitem")
    fact = li.select(
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        # Chunk assignment only shapes micro-batch composition — the
        # oracle recomputes over the WHOLE stream, so the cheap
        # deterministic hash is free to use (md5+conv was pure
        # synthesis overhead; the join-IVM log made the same switch).
        F.pmod(F.xxhash64(F.col("l_orderkey")), F.lit(4)).cast("int").alias("chunk"),
    )
    base = tempfile.mkdtemp(prefix="li_log_")
    # Plain 4-file write (NOT partitionBy — the hive-partitioned writer
    # costs ~2x here): hash-repartitioning on the chunk key makes each
    # output file one deterministic chunk, which is all
    # maxFilesPerTrigger=1 needs to cut one micro-batch per file.
    fact.repartition(4, "chunk").write.mode("overwrite").parquet(f"{base}/log")
    _LI_LOGS[key] = f"{base}/log"
    return _LI_LOGS[key]


@query(
    "stream_static_enrich",
    oracle="""
    -- The drained stream-static join must equal the batch join: revenue
    -- per part brand over the whole fact stream.
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static join — the dimension-enrichment pattern Structured
    Streaming names explicitly: a micro-batched lineitem fact stream
    joins the STATIC part dimension (broadcast into every batch, no
    stream state for the dim side), aggregating running revenue per
    brand in update mode; the drained final totals must hash-match the
    batch join.

    At 100 TB the static side is the point: the dim participates with
    zero streaming state (re-broadcast per batch, or a lake-table
    snapshot under slowly-changing dims), so enrichment cost is
    per-batch-rows × broadcast probe — the same plan batch q3/q5 pin,
    applied continuously."""
    import uuid

    from pypgcdc_spark.queries import load as _load

    (part,) = _load(spark, sf_dir, "part")
    log_dir = _chunked_lineitem_log(spark, sf_dir)
    schema = spark.read.parquet(log_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one key-range chunk per batch
        .parquet(log_dir)
    )
    # No broadcast hint: part grows with SF, and for a stream-static join a
    # forced hint re-broadcasts the full dim every micro-batch regardless of
    # size.  Stats pick broadcast at bench scale and refuse it at 100 TB.
    enriched = stream.join(
        part.select("p_partkey", "p_brand"),
        stream.l_partkey == F.col("p_partkey"),
    )
    agg = enriched.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("cents").alias("total_cents"),
    )
    sink = _drain(spark, agg, "sse", "update")
    # Running totals are monotone per brand: final = max-n_lines row.
    return sink.groupBy("p_brand").agg(
        F.max("n_lines").cast("long").alias("n_lines"),
        F.max_by("total_cents", "n_lines").cast("long").alias("total_cents"),
    )


@query(
    "asof_join_tolerance",
    oracle="""
    -- As-of with a staleness tolerance (pandas merge_asof(tolerance=...)
    -- semantics): each purchase takes the most recent prior-or-equal
    -- click by that user ONLY if it happened within the last 10 minutes;
    -- staler matches null out.  DuckDB: native ASOF join + tolerance
    -- filter; Spark composes the same from the ordered carry-forward
    -- window.
    SELECT p.user_id, p.event_id AS purchase_id,
           CASE WHEN c.ts IS NULL OR p.ts - c.ts > INTERVAL '10 minutes'
                THEN NULL
                ELSE strftime(c.ts, '%Y-%m-%d %H:%M:%S') END AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_tolerance(spark, sf_dir):
    """Tolerance-bounded as-of join — the ``merge_asof(tolerance=...)``
    variant of the primary as-of composition: the same single-shuffle
    union + ordered ``last(ignorenulls)`` carry-forward, with matches
    older than the tolerance nulled in-row afterwards (no second join,
    no range explosion).  The tolerance is the practical form of the
    operator: attribution windows, sensor alignment, staleness caps."""
    (events,) = load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ev_ts"), F.lit(0).alias("is_click"),
        F.col("event_id").alias("purchase_id"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ev_ts").asc(), F.col("is_click").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_click") == 1, F.col("ev_ts")), ignorenulls=True).over(w),
    )
    within = F.col("last_click_ts") >= F.col("ev_ts") - F.expr("INTERVAL 10 MINUTES")
    return carried.filter(F.col("is_click") == 0).select(
        "user_id",
        "purchase_id",
        F.when(
            F.col("last_click_ts").isNotNull() & within,
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss"),
        ).alias("last_click_ts"),
    )


@query(
    "session_window_dynamic_gap",
    oracle="""
    -- Dynamic-gap sessionization (session_window with a gap EXPRESSION):
    -- a purchase keeps the session alive for 60 minutes, anything else
    -- for 30 — so the inactivity tolerance depends on the last activity.
    -- Batch oracle: an event opens a new session iff its ts is at/past
    -- the running MAX of previous events' (ts + gap) — exactly Spark's
    -- merge-on-overlap rule for per-event windows [ts, ts + gap).
    WITH g AS (
      SELECT user_id, ts, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN INTERVAL '60 minutes' ELSE INTERVAL '30 minutes'
             END AS gap
      FROM events
    ),
    marked AS (
      SELECT *,
             CASE WHEN MAX(ts + gap) OVER (
                      PARTITION BY user_id ORDER BY ts, event_type
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR ts >= MAX(ts + gap) OVER (
                      PARTITION BY user_id ORDER BY ts, event_type
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_session
      FROM g
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (
                 PARTITION BY user_id ORDER BY ts, event_type
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts + gap), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_dynamic_gap(spark, sf_dir):
    """Session windows whose inactivity gap is an EXPRESSION of the row
    (Spark 3.2+ ``session_window(ts, gap_col)``): purchases hold the
    session open for 60 minutes, everything else 30 — the
    engagement-dependent timeout real sessionization uses.  The batch
    gaps-and-islands oracle reproduces Spark's merge-on-overlap rule
    (running max of per-event window ends) independently, so the two
    formulations cross-check.

    Scale note: same single shuffle on user_id as the fixed-gap session
    window; the gap expression is evaluated in-row before the state
    merge, adding nothing to the exchange."""
    (events,) = load(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )
