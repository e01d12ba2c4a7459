"""Custom stateful operators + stream joins: the state-store machinery."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

T0 = datetime(2024, 1, 1)

CHANGES_DDL = "user_id LONG, lsn LONG, op STRING, value DOUBLE, ts TIMESTAMP"


def _write(spark, path, rows):
    spark.createDataFrame(rows, CHANGES_DDL).coalesce(1).write.mode("append").parquet(path)


def test_key_version_tracker_state_across_batches(spark, tmp_path):
    from pypgcdc_spark.streaming.stateful import key_version_tracker

    src = str(tmp_path / "src")
    _write(
        spark,
        src,
        [
            (1, 10, "I", 1.0, T0),
            (1, 20, "U", 2.0, T0),
            (2, 30, "I", 3.0, T0),
        ],
    )
    stream = spark.readStream.schema(CHANGES_DDL).parquet(src)
    q = (
        key_version_tracker(stream.select("user_id", "lsn", "op"))
        .writeStream.format("memory")
        .queryName("kv_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # Batch 2: key 1 gets deleted; state must carry n_versions across batches.
    _write(spark, src, [(1, 40, "D", None, T0)])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql(
        "SELECT * FROM kv_sink ORDER BY last_lsn"
    ).collect()
    # Latest emission per key wins:
    latest = {}
    for r in rows:
        latest[r.user_id] = (r.n_versions, r.last_lsn, r.alive)
    assert latest[1] == (3, 40, False)  # I,U then D; state accumulated
    assert latest[2] == (1, 30, True)


def test_running_value_stats_exact_cents(spark, tmp_path):
    from pypgcdc_spark.streaming.stateful import running_value_stats

    src = str(tmp_path / "src")
    _write(spark, src, [(7, 1, "I", 1.25, T0), (7, 2, "U", 2.50, T0)])
    stream = spark.readStream.schema(CHANGES_DDL).parquet(src)
    q = (
        running_value_stats(stream.select("user_id", "value"))
        .writeStream.format("memory")
        .queryName("rs_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _write(spark, src, [(7, 3, "U", 0.25, T0)])
    q.processAllAvailable()
    q.stop()
    rows = sorted(
        (r.n_events, r.total_cents)
        for r in spark.sql("SELECT * FROM rs_sink WHERE user_id = 7").collect()
    )
    assert rows[-1] == (3, 400)  # 125 + 250 + 25 cents


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Streaming events enriched with a static dimension (broadcast)."""
    ev = str(tmp_path / "ev")
    _write(spark, ev, [(0, 1, "I", 5.0, T0), (1, 2, "I", 6.0, T0)])
    users = spark.createDataFrame(
        [(0, "free"), (1, "pro")], "user_id LONG, tier STRING"
    )
    stream = spark.readStream.schema(CHANGES_DDL).parquet(ev)
    joined = stream.join(F.broadcast(users), "user_id").groupBy("tier").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r.tier: r.n for r in spark.sql("SELECT * FROM ss_sink").collect()}
    assert got == {"free": 1, "pro": 1}


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range — the
    interval-join shape (purchase matched to clicks ≤10min earlier)."""
    clicks_p = str(tmp_path / "clicks")
    buys_p = str(tmp_path / "buys")
    _write(spark, clicks_p, [(1, 1, "C", 0.0, T0 + timedelta(minutes=1))])
    _write(spark, buys_p, [(1, 2, "B", 9.0, T0 + timedelta(minutes=5))])

    clicks = (
        spark.readStream.schema(CHANGES_DDL)
        .parquet(clicks_p)
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    buys = (
        spark.readStream.schema(CHANGES_DDL)
        .parquet(buys_p)
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "30 minutes")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("click_ts") <= F.col("buy_ts"))
        & (F.col("click_ts") >= F.col("buy_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("iv_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user_id, click_ts, buy_ts FROM iv_sink").collect()
    assert len(rows) == 1
    assert rows[0].click_ts == T0 + timedelta(minutes=1)


def test_latest_version_feed_v1_and_v2_equivalence(spark, tmp_path):
    """Duplicate/out-of-order replays emit nothing; only genuine version
    advances flow downstream (``latest_version_feed`` on
    applyInPandasWithState, the state API that runs on every image)."""
    from pypgcdc_spark.streaming.stateful import latest_version_feed

    src = str(tmp_path / "src")
    _write(spark, src, [(1, 10, "I", 1.0, T0), (1, 20, "U", 2.0, T0), (2, 5, "I", 9.0, T0)])
    stream = spark.readStream.schema(CHANGES_DDL).parquet(src)
    q = (
        latest_version_feed(stream.select("user_id", "lsn", "op", "value"))
        .writeStream.format("memory")
        .queryName("tw_sink_v1")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # Batch 2: a replay (lsn 20 again), an out-of-order older row (lsn 15),
    # and one genuine advance for key 2.
    _write(spark, src, [(1, 20, "U", 2.0, T0), (1, 15, "U", 1.5, T0), (2, 30, "D", 0.0, T0)])
    q.processAllAvailable()
    q.stop()
    got = [
        (r.user_id, r.lsn, r.op)
        for r in spark.sql("SELECT * FROM tw_sink_v1 ORDER BY user_id, lsn").collect()
    ]
    # Key 1: only the batch-1 emission (lsn 20); replays suppressed.
    # Key 2: lsn 5 then the advance to 30.
    assert got == [(1, 20, "U"), (2, 5, "I"), (2, 30, "D")]


def test_pattern_matcher_fires_across_batch_boundary(spark, tmp_path):
    """A click that ends micro-batch 1 and a purchase that opens
    micro-batch 2 must still match: prev_type persists in the state
    store — the property that makes the automaton CEP rather than
    per-batch windowing."""
    import uuid

    import pyspark.sql.functions as F

    from pypgcdc_spark.streaming.stateful import pattern_matcher

    rows1 = [(7, 1, "signup", 1.0), (7, 2, "click", 2.0)]
    rows2 = [(7, 3, "purchase", 30.5), (7, 4, "click", 1.0)]
    schema = "user_id LONG, event_id LONG, event_type STRING, value DOUBLE"
    log = tmp_path / "log"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(log / "chunk=0")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(log / "chunk=1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(log)).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(log))
    )
    name = "cep_t_" + uuid.uuid4().hex[:8]
    q = (
        pattern_matcher(stream.select("user_id", "event_id", "event_type", "value"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_matches").alias("n"),
            F.min("first_match_lsn").alias("lsn"),
            F.max("matched_cents").alias("cents"),
        )
        .collect()[0]
    )
    assert (final.n, final.lsn, final.cents) == (1, 3, 3050)


def test_statestore_reader_exposes_aggregation_state(spark, sf_dir, tmp_path):
    """Spark's statestore reader — streaming-state forensics: after a
    checkpointed per-user count over the event log drains, reading the
    checkpoint with format('statestore') must reproduce the exact batch
    counts.  This is the observability story for every stateful operator
    in the repo: state is INSPECTABLE offline, not a black box."""
    import uuid

    import pyspark.sql.functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = "ssr_" + uuid.uuid4().hex[:8]
    q = (
        stream.groupBy("user_id")
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.format("statestore").load(str(tmp_path / "ckpt"))
    got = {
        r["key"]["user_id"]: r["value"]["count"]
        for r in state.collect()
    }
    want = {
        r.user_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_interval_join_parity_and_state_eviction(spark, sf_dir, tmp_path):
    """``purchase_click_join`` (the join ``stream_stream_join`` runs) over
    the LSN-chunked event log, one chunk per micro-batch: (a) the streamed
    result equals the batch recompute — the replay is event-time-monotone,
    so the 1-minute watermark drops nothing; (b) statestore forensics
    prove rows actually LEAVE the join state — both sides retain only the
    watermark+interval horizon, not the full stream."""
    import pyspark.sql.functions as F

    from pypgcdc_spark.operators.cdc_queries import IVM_CHUNKS, _chunked_event_log
    from pypgcdc_spark.operators.streaming_windows import purchase_click_join
    from pypgcdc_spark.queries import load

    work = str(tmp_path)
    (events,) = load(spark, sf_dir, "events")
    log_dir = _chunked_event_log(spark, sf_dir, events)
    schema = spark.read.parquet(log_dir).schema

    def side(event_type):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .filter(F.col("event_type") == event_type)
            .withColumnRenamed("ts", "ev_ts")
        )

    joined = purchase_click_join(side("purchase"), side("click"))
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_parity")
        .outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt_ssj")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.lastProgress["batchId"] >= IVM_CHUNKS - 1
    got = {
        (r.p_user, r.p_id, r.c_id)
        for r in spark.sql("SELECT p_user, p_id, c_id FROM ssj_parity").collect()
    }

    # Batch recompute over the same data with the same predicate.
    def batch_side(et, p):
        return events.filter(F.col("event_type") == et).select(
            F.col("user_id").alias(f"{p}_user"),
            F.col("event_id").alias(f"{p}_id"),
            F.col("ts").alias(f"{p}_ts"),
        )

    want = {
        (r.p_user, r.p_id, r.c_id)
        for r in batch_side("purchase", "p")
        .join(
            batch_side("click", "c"),
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .collect()
    }
    assert got == want and len(want) > 0

    # State forensics: the retained join state is the horizon, not the
    # stream.  The events span ~30 days in IVM_CHUNKS chunks; the purchase
    # side keeps ~(last chunk + 1min), the click side adds the 1h interval.
    n_purch = events.filter(F.col("event_type") == "purchase").count()
    n_click = events.filter(F.col("event_type") == "click").count()
    left = spark.read.format("statestore").option("joinSide", "left").load(
        f"{work}/ckpt_ssj"
    )
    right = spark.read.format("statestore").option("joinSide", "right").load(
        f"{work}/ckpt_ssj"
    )
    assert left.count() < n_purch / 3, (left.count(), n_purch)
    assert right.count() < n_click / 3, (right.count(), n_click)
