"""Source scale behavior: parallel decode across transactions, decode
throughput, and correctness across partition boundaries."""

import time

from pyspark.sql import functions as F


def _big_log(tmp_path, n_tx=2000, rows_per_tx=20):
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.testing import INTEGRATION_COLS, INTEGRATION_RELID, WorkloadWriter

    log = str(tmp_path / "big.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    for t in range(n_tx):
        w.tx(
            [
                pg.encode_insert(
                    INTEGRATION_RELID,
                    [str(t * rows_per_tx + i), '{"k": 1}', "9.99", None, f"v{i}"],
                )
                for i in range(rows_per_tx)
            ]
        )
    w.close()
    return log, n_tx * rows_per_tx


def test_codec_decode_throughput(tmp_path):
    """Pure-Python decode path (what runs per executor core): must beat
    30k msg/s — at 32 cores that is ~1M msg/s per node, far beyond any
    single Postgres walsender."""
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc.transform import MessageTransformer
    from pypgcdc_spark.sources.replay import scan_frames

    log, n_rows = _big_log(tmp_path, n_tx=1000, rows_per_tx=20)
    xform = MessageTransformer(registry=SchemaRegistry())
    t0 = time.time()
    n_events = 0
    for fr in scan_frames(log):
        for _ in xform.feed(fr.lsn, fr.payload):
            n_events += 1
    dt = time.time() - t0
    assert n_events == n_rows
    rate = (n_rows + 2 * 1000 + 1) / dt  # all messages incl. B/C frames
    assert rate > 30_000, f"decode rate {rate:.0f} msg/s"


def test_parallel_partitions_and_boundaries(spark, tmp_path):
    from pypgcdc_spark.sources import replay
    from pypgcdc_spark.sources.pgcdc import (
        _PARTITION_FLOOR_BYTES,
        PgCdcDataSource,
        PgCdcStreamReader,
    )

    # The smallest such log spanning more than 7 partition floors, so
    # the cap of 8, not the byte span, sets the count.
    log, n_rows = _big_log(tmp_path, n_tx=2407, rows_per_tx=10)
    ranges = replay.tx_boundaries(log)
    assert ranges[-1][1] - ranges[0][0] > 7 * _PARTITION_FLOOR_BYTES

    # The planner must split the offset range into tx-aligned contiguous
    # partitions (parallel decode — beyond the reference's single thread).
    reader = PgCdcStreamReader({"path": log, "numpartitions": "8"})
    end = reader.latestOffset()
    parts = reader.partitions(reader.initialOffset(), end)
    assert len(parts) == 8
    bounds = [(p.start_pos, p.end_pos) for p in parts]
    assert all(e > s for s, e in bounds)
    for (_, e1), (s2, _) in zip(bounds, bounds[1:]):
        assert e1 == s2  # contiguous, non-overlapping

    spark.dataSource.register(PgCdcDataSource)
    df = (
        spark.read.format("pgcdc")
        .option("path", log)
        .option("numPartitions", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == n_rows
    # Keys decode correctly across partition boundaries (no tx bisected).
    ids = df.select(F.col("after").getItem("id").cast("long").alias("id"))
    assert ids.agg(F.countDistinct("id")).first()[0] == n_rows
    assert df.filter(F.col("tx_id").isNull()).count() == 0


def test_on_decode_error_policy(spark, tmp_path):
    """A corrupt frame fails fast by default; onDecodeError=skip keeps the
    stream alive and drops only the bad frame."""
    import pytest
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.sources.pgcdc import PgCdcDataSource
    from pypgcdc_spark.sources.replay import ReplayLogWriter
    from pypgcdc_spark.testing import INTEGRATION_COLS, INTEGRATION_RELID, WorkloadWriter

    log = str(tmp_path / "bad.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "t", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, ["1", None, "1.00", None, "a"])])
    w.close()
    # Append a whole "transaction" whose data frame is garbage.
    wr = ReplayLogWriter(log)
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 2, tzinfo=timezone.utc)
    wr.append(9000, pg.encode_begin(9100, ts, 999))
    wr.append(9010, b"Zgarbage-not-a-message")
    wr.append(9020, pg.encode_commit(9100, 9020, ts))
    wr.close()
    w2 = WorkloadWriter(log, start_lsn=10_000)
    w2.tx([pg.encode_insert(INTEGRATION_RELID, ["2", None, "2.00", None, "b"])])
    w2.close()

    spark.dataSource.register(PgCdcDataSource)
    strict = spark.read.format("pgcdc").option("path", log).load()
    with pytest.raises(Exception):
        strict.count()

    lenient = (
        spark.read.format("pgcdc")
        .option("path", log)
        .option("onDecodeError", "skip")
        .load()
    )
    rows = lenient.orderBy("lsn").collect()
    assert [r.after["id"] for r in rows] == ["1", "2"]
