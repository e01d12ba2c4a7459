"""Hermetic pin for the soak's manifest-committed IVM consumer
(tools/soak.py SoakAggMaintainer): keyed state + retract/add aggregate
over a protocol-true replay log, no PostgreSQL needed.

The live soak verifies the same maintainer against a real server under
faults; this test pins the delta math (insert/update/delete retraction,
per-key LSN guard, idle-batch marker commits, restart-durable aggregate)
fast enough for the regular suite, including the one-ingest-two-sinks
composition the soak runs (DeleteAwareMerger + maintainer on the SAME
foreachBatch).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.apply import DeleteAwareMerger
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.sources.replay import scan_frames
from pypgcdc_spark.testing import WorkloadWriter

SOAK_RELID = 51234
SOAK_COLS = [
    (True, "id", 20, -1),
    (False, "balance", 1700, ((12 << 16) | 2) + 4),
    (False, "payload", 25, -1),
    (False, "updated", 1184, -1),
]


@pytest.fixture()
def engine(spark):
    from pypgcdc_spark.api import PgCdcEngine

    return PgCdcEngine(spark)


def _row(k, bal):
    return [str(k), f"{bal:.2f}", f"p{k}", "2024-01-01 00:00:00+00"]


def _write_log(tmp_path, name, txs, start_lsn=1):
    log = str(tmp_path / name)
    w = WorkloadWriter(log, start_lsn=start_lsn)
    w.relation(SOAK_RELID, "soak", SOAK_COLS)
    for msgs in txs:
        w.tx(msgs)
    w.close()
    return log


def _schema_of(log):
    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    sch = reg.get(SOAK_RELID)
    sch.db = "replay"
    return sch


def _expected_agg(state: dict) -> list:
    groups: dict = {}
    for k, cents in state.items():
        g = k % 16
        n, tot = groups.get(g, (0, 0))
        groups[g] = (n + 1, tot + cents)
    return sorted((g, n, c) for g, (n, c) in groups.items() if n > 0)


def _check_maintainer_delta_math(engine, spark, tmp_path, n_buckets):
    from soak import SoakAggMaintainer

    # batch 0: 40 inserts; batch 1: updates, deletes, and a re-insert.
    log0 = _write_log(
        tmp_path, "b0.log", [[pg.encode_insert(SOAK_RELID, _row(k, k + 0.25)) for k in range(40)]]
    )
    log1 = _write_log(
        tmp_path,
        "b1.log",
        [
            [
                pg.encode_update(SOAK_RELID, _row(3, 999.75)),
                pg.encode_delete(SOAK_RELID, ["7", None, None, None]),
                pg.encode_delete(SOAK_RELID, ["8", None, None, None]),
                pg.encode_insert(SOAK_RELID, _row(8, 8.00)),
                pg.encode_insert(SOAK_RELID, _row(100, 50.50)),
            ]
        ],
        start_lsn=100_000,
    )
    mt = SoakAggMaintainer(
        spark, str(tmp_path / "ivm"), n_buckets=n_buckets, guard_id="lineage-a"
    )
    if n_buckets == "auto":
        # A small churn floor lets the 40-key state relay.
        mt.min_churn_bucket_bytes = 64
    mt(engine.snapshot(log0), 0)
    mt(engine.snapshot(log1), 1)

    state = {k: round((k + 0.25) * 100) for k in range(40)}
    state[3] = 99975
    del state[7]
    state[8] = 800
    state[100] = 5050
    assert mt.aggregate_rows() == _expected_agg(state)

    # Replayed batch (same id, same lineage): guarded, aggregate unchanged.
    mt(engine.snapshot(log1), 1)
    assert mt.aggregate_rows() == _expected_agg(state)

    # Restart-durability: a FRESH maintainer restores the aggregate from
    # the manifest, and keeps maintaining from there.
    mt2 = SoakAggMaintainer(
        spark, str(tmp_path / "ivm"), n_buckets=n_buckets, guard_id="lineage-a"
    )
    assert mt2.aggregate_rows() == _expected_agg(state)
    if n_buckets == "auto":
        assert mt.rebucket_events, "churn never triggered a manifest relayout"
        assert mt2.n_buckets == mt.n_buckets > SoakAggMaintainer.MIN_BUCKETS
    log2 = _write_log(
        tmp_path,
        "b2.log",
        [[pg.encode_delete(SOAK_RELID, ["100", None, None, None])]],
        start_lsn=200_000,
    )
    mt2(engine.snapshot(log2), 2)
    del state[100]
    assert mt2.aggregate_rows() == _expected_agg(state)

    # Idle batch: marker-only commit advances the guard high-water.
    empty = engine.snapshot(log2).limit(0)
    mt2(empty, 3)
    assert mt2.state.already_applied(3, "lineage-a")
    assert mt2.aggregate_rows() == _expected_agg(state)


def test_soak_ivm_maintainer_delta_math(engine, spark, tmp_path):
    _check_maintainer_delta_math(engine, spark, tmp_path, 32)


def test_soak_ivm_maintainer_delta_math_auto_buckets(engine, spark, tmp_path):
    _check_maintainer_delta_math(engine, spark, tmp_path, "auto")


def test_soak_two_sinks_one_batch(engine, spark, tmp_path):
    """The soak's composition: merger + IVM maintainer on the same batch
    stream; both views must agree with the log's final state."""
    from soak import SoakAggMaintainer

    log = _write_log(
        tmp_path,
        "both.log",
        [
            [pg.encode_insert(SOAK_RELID, _row(k, k)) for k in range(30)],
            [
                pg.encode_update(SOAK_RELID, _row(5, 500.00)),
                pg.encode_delete(SOAK_RELID, ["6", None, None, None]),
            ],
        ],
    )
    schema = _schema_of(log)
    target = str(tmp_path / "state")
    m = DeleteAwareMerger(spark, schema, target, n_buckets="auto")
    mt = SoakAggMaintainer(spark, str(tmp_path / "ivm"), guard_id="x")

    env = engine.snapshot(log)
    m(env, 0)
    mt(env, 0)

    state = {k: k * 100 for k in range(30)}
    state[5] = 50000
    del state[6]
    got = {
        int(r.id): round(float(r.balance) * 100)
        for r in spark.read.parquet(target).collect()
    }
    assert got == state
    assert mt.aggregate_rows() == _expected_agg(state)
