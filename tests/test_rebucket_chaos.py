"""Chaos pin: process death at ANY point inside the auto-rebucket path
converges to a correct state on restart (round-9 verdict task 6).

The r9 rebucket rewrote the live dataset in place with a static
overwrite — Spark deletes the target before rewriting, so a kill in
that window lost the whole state table.  The r10 protocol stages the
relaid dataset into a sibling dir, marks it complete by writing its
``_nbuckets.json`` sidecar LAST, then swaps with two renames; recovery
runs in the next merger's ``__init__``.

Crash model: the injected fault raises out of ``_maybe_rebucket`` —
nothing after the raise runs, exactly like a kill at that instruction.
In a real stream the foreachBatch error fails the query, the checkpoint
has NOT advanced (foreachBatch commits the epoch only on success), so
restart REDELIVERS the same batch — which the test replays, pinning the
full crash-restart-redeliver cycle at every fault point:

* ``pre_stage``   — threshold crossed, nothing written yet;
* ``pre_marker``  — staged parquet exists but no completeness marker
  (recovery must discard the unmarked stage);
* ``pre_swap``    — stage complete, live dataset untouched (recovery
  discards the stage; the threshold re-fires on the replayed batch);
* ``mid_swap``    — live dataset renamed away, stage not yet promoted —
  THE window that lost data in r9 (recovery promotes the stage);
* ``pre_gc``      — swap done, previous generation dir left behind.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.apply import DeleteAwareMerger
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.sources.replay import scan_frames
from pypgcdc_spark.testing import (
    INTEGRATION_COLS,
    INTEGRATION_RELID,
    WorkloadWriter,
)

FAULT_POINTS = ["pre_stage", "pre_marker", "pre_swap", "mid_swap", "pre_gc"]


@pytest.fixture()
def engine(spark):
    from pypgcdc_spark.api import PgCdcEngine

    return PgCdcEngine(spark)


def _full_row(k, v):
    return [str(k), f'{{"data": {v}}}', f"{v}.50", "2024-01-01 00:00:00+00", f"txt_{v}"]


def _schema_of(log):
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    return reg.get(INTEGRATION_RELID)


def _write_batches(tmp_path):
    log0 = str(tmp_path / "b0.log")
    w = WorkloadWriter(log0)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx([pg.encode_insert(INTEGRATION_RELID, _full_row(k, k)) for k in range(300)])
    w.close()
    log1 = str(tmp_path / "b1.log")
    w = WorkloadWriter(log1, start_lsn=100_000)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    w.tx(
        [
            pg.encode_delete(INTEGRATION_RELID, ["5", None, None, None, None]),
            pg.encode_insert(INTEGRATION_RELID, _full_row(1000, 1000)),
        ]
    )
    w.close()
    return log0, log1


def _assert_layout_consistent(spark, target):
    """Every stored row's partition matches the persisted layout's hash of
    its stored wire-key bytes, and no stage/old generation dirs remain."""
    meta_n = json.load(open(os.path.join(target, "_nbuckets.json")))["n_buckets"]
    state = spark.read.parquet(target)
    mismatched = state.filter(
        F.col("_bucket")
        != F.pmod(F.xxhash64(F.col("_kraw")), F.lit(meta_n)).cast("int")
    ).count()
    assert mismatched == 0
    assert not os.path.exists(target + ".rebucket")
    assert not os.path.exists(target + ".rebucket.old")
    return meta_n


@pytest.mark.parametrize("point", FAULT_POINTS)
def test_rebucket_crash_converges(engine, spark, tmp_path, point):
    log0, log1 = _write_batches(tmp_path)
    schema = _schema_of(log0)
    target = str(tmp_path / "state")
    m = DeleteAwareMerger(
        spark, schema, target, n_buckets="auto", target_bucket_bytes=1024
    )
    m._relayout_fault = point
    with pytest.raises(RuntimeError, match="injected relayout crash"):
        m(engine.snapshot(log0), 0)

    # "Restart": recovery runs in __init__; the failed epoch is then
    # REDELIVERED (foreachBatch only commits on success) before the
    # stream moves on — the merge is idempotent under replay.
    m2 = DeleteAwareMerger(
        spark, schema, target, n_buckets="auto", target_bucket_bytes=1024
    )
    # No data may be lost at any fault point: batch 0's merge committed
    # before the rebucket began.
    assert sorted(int(r.id) for r in spark.read.parquet(target).collect()) == list(
        range(300)
    )
    m2(engine.snapshot(log0), 0)  # redelivery
    m2(engine.snapshot(log1), 1)

    assert sorted(int(r.id) for r in spark.read.parquet(target).collect()) == sorted(
        set(range(300)) - {5} | {1000}
    )
    meta_n = _assert_layout_consistent(spark, target)
    # 300 rows >> 8 KiB of 1 KiB-target buckets: the redelivered batch
    # re-fires the rebucket wherever the crash discarded it.
    assert meta_n > DeleteAwareMerger.MIN_BUCKETS
    assert meta_n == m2.n_buckets
    assert meta_n & (meta_n - 1) == 0


def test_rebucket_recovery_discards_garbage_stage(engine, spark, tmp_path):
    """A torn stage dir (partial parquet write, no marker) from a killed
    task is discarded wholesale — it never shadows the live dataset."""
    log0, _ = _write_batches(tmp_path)
    schema = _schema_of(log0)
    target = str(tmp_path / "state")
    m = DeleteAwareMerger(spark, schema, target, n_buckets="auto")
    m(engine.snapshot(log0), 0)
    stage = target + ".rebucket"
    os.makedirs(os.path.join(stage, "_bucket=0"))
    with open(os.path.join(stage, "_bucket=0", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    m2 = DeleteAwareMerger(spark, schema, target, n_buckets="auto")
    assert not os.path.exists(stage)
    assert m2.n_buckets == m.n_buckets
    assert sorted(int(r.id) for r in spark.read.parquet(target).collect()) == list(
        range(300)
    )
