"""The ``pgcdc`` driver reads the log once.

One prefix pass folds the registry and finds the whole-transaction
ranges; partitions are planned from those ranges.  Pins:

* over a ``maxTxPerBatch`` drain of a growing log the driver reads every
  frame exactly once (``partitions`` does not rescan);
* each batch's partition bounds equal the plan cut from
  ``replay.tx_boundaries`` on a log mixing v1 transactions, a v2
  streamed span, a two-phase prepared transaction and an ALTER;
* a fresh reader replaying a checkpointed batch plans the same
  partitions;
* a batch plans one partition per ``_PARTITION_FLOOR_BYTES`` of its
  byte span, at least one and at most ``numPartitions``;
* on a retention-GC'd log a fresh consumer's first batch, and
  ``register_cdc_views``, start at the retained window;
* a batch read returns closed transactions only, also when the log
  holds none.
"""

import math
from collections import Counter
from datetime import datetime, timezone

import pytest

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.sources import pgcdc, replay
from pypgcdc_spark.sources.pgcdc import PgCdcStreamReader
from pypgcdc_spark.testing import INTEGRATION_COLS, INTEGRATION_RELID, WorkloadWriter
from tests.test_replay_segmentation import _write_plain, _write_segmented
from tests.test_source_scale import _big_log

TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
WIDER_COLS = INTEGRATION_COLS + [(False, "extra", 25, -1)]


def _row(k, extra=False):
    row = [str(k), '{"k": 1}', "9.99", None, f"v{k}"]
    return row + [f"x{k}"] if extra else row


def _ins(k, xid=None, extra=False):
    return pg.encode_insert(INTEGRATION_RELID, _row(k, extra), xid=xid)


def _write_mixed(path):
    """v1 transactions, a v2 streamed span with a plain tx interleaved, a
    two-phase prepared tx resolved after a later plain tx, an ALTER (a
    wider Relation), and an open tx at the tail."""
    w = WorkloadWriter(path)
    app = lambda payload: w.writer.append(w._next(), payload)  # noqa: E731
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    for k in range(6):
        w.tx([_ins(k)])
    w.stream_segment(900, [_ins(100, xid=900)], first=True)
    w.tx([_ins(6)])
    w.stream_segment(900, [_ins(101, xid=900)])
    w.stream_commit(900)
    for k in range(7, 10):
        w.tx([_ins(k)])
    app(pg.encode_begin_prepare(w.lsn, w.lsn + 40, TS, 901, "gid-901"))
    app(_ins(200))
    app(pg.encode_prepare(w.lsn, w.lsn, TS, 901, "gid-901"))
    w.tx([_ins(10)])
    app(pg.encode_commit_prepared(w.lsn, w.lsn, TS, 901, "gid-901"))
    w.relation(INTEGRATION_RELID, "integration", WIDER_COLS)
    for k in range(11, 17):
        w.tx([_ins(k, extra=True), _ins(k + 1000, extra=True)])
    app(pg.encode_begin(w.lsn + 30, TS, 902))
    app(_ins(300, extra=True))
    w.close()


def _reference_bounds(path, start, end, num_partitions):
    """Partition bounds as planned by rescanning the log from ``start``
    with ``replay.tx_boundaries`` (the driver's earlier planner)."""
    ranges = [(s, e) for s, e in replay.tx_boundaries(path, start) if e <= end]
    if not ranges:
        return []
    target = max(1, (ranges[-1][1] - ranges[0][0]) // num_partitions)
    bounds, chunk_start, acc = [], ranges[0][0], 0
    for s, e in ranges:
        acc += e - s
        if acc >= target and len(bounds) < num_partitions - 1:
            bounds.append((chunk_start, e))
            chunk_start, acc = e, 0
    if chunk_start < ranges[-1][1]:
        bounds.append((chunk_start, ranges[-1][1]))
    return bounds


def _batches(reader, start=None, commit=False):
    """Drive ``reader`` like a micro-batch loop from ``start`` (default:
    the initial offset); yields (start, end, parts)."""
    start = start or reader.initialOffset()
    while True:
        end = reader.latestOffset()
        if end["pos"] == start["pos"]:
            return
        yield start, end, reader.partitions(start, end)
        if commit:
            reader.commit(end)
        start = end


def test_driver_reads_each_frame_once(tmp_path, monkeypatch):
    log = str(tmp_path / "grow.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    for k in range(40):
        w.tx([_ins(k), _ins(k + 1000)])
    w.writer.flush()

    seen = Counter()
    real = replay.scan_frames

    def counting(*args, **kwargs):
        for fr in real(*args, **kwargs):
            seen[fr.start_pos] += 1
            yield fr

    monkeypatch.setattr(replay, "scan_frames", counting)
    reader = PgCdcStreamReader({"path": log, "maxtxperbatch": 7})
    first = list(_batches(reader, commit=True))
    for k in range(40, 70):
        w.tx([_ins(k)])
    w.close()
    second = list(_batches(reader, start=first[-1][1], commit=True))
    assert (len(first), len(second)) == (6, 5)

    monkeypatch.setattr(replay, "scan_frames", real)
    frames = [fr.start_pos for fr in replay.scan_frames(log)]
    assert set(seen) == set(frames)
    assert {p: n for p, n in seen.items() if n != 1} == {}


@pytest.mark.parametrize("num_partitions", [1, 3])
def test_partitions_match_tx_boundary_plan(tmp_path, monkeypatch, num_partitions):
    # A 1-byte floor lets this small log split up to the cap.
    monkeypatch.setattr(pgcdc, "_PARTITION_FLOOR_BYTES", 1)
    log = str(tmp_path / "mixed.log")
    _write_mixed(log)
    opts = {"path": log, "maxtxperbatch": 3, "numpartitions": num_partitions}
    reader = PgCdcStreamReader(opts)
    batches = list(_batches(reader))
    assert len(batches) >= 5

    covered, ids = [], []
    for start, end, parts in batches:
        got = [(p.start_pos, p.end_pos) for p in parts]
        assert got == _reference_bounds(log, start["pos"], end["pos"], num_partitions)
        covered.extend(got)
        # A fresh reader (restart) replaying the checkpointed batch gets
        # it without a latestOffset call.
        assert PgCdcStreamReader(opts).partitions(start, end) == parts
        ids += [int(row[9]["id"]) for p in parts for row in reader.read(p)]

    # Every committed row once: v1, streamed, prepared, post-ALTER.
    assert sorted(ids) == sorted(
        [*range(17), 100, 101, 200, *range(1011, 1017)]
    )

    # The batches tile the log up to the open tail tx.
    ranges = replay.tx_boundaries(log)
    assert covered[0][0] == 0 and covered[-1][1] == ranges[-1][1]
    assert all(e == s for (_, e), (s, _) in zip(covered, covered[1:]))
    assert ranges[-1][1] < replay.log_size(log)


@pytest.mark.parametrize("cap", [1, 3, 8])
def test_partition_count_follows_byte_span(tmp_path, cap):
    # 1200 ten-row transactions span about 3.5 floors.
    log, n_rows = _big_log(tmp_path, n_tx=1200, rows_per_tx=10)
    floor = pgcdc._PARTITION_FLOOR_BYTES
    ends = {e for _, e in replay.tx_boundaries(log)}
    floors_seen = set()
    # 100-tx batches span under a floor; 500-tx batches about 1.5; one
    # batch of the whole log about 3.5.
    for max_tx in (100, 500, 0):
        reader = PgCdcStreamReader(
            {"path": log, "maxtxperbatch": max_tx, "numpartitions": cap}
        )
        ids = []
        for start, end, parts in _batches(reader):
            k = math.ceil((end["pos"] - start["pos"]) / floor)
            floors_seen.add(k)
            assert len(parts) == min(k, cap)
            # The parts tile [start, end) and split it only at tx ends.
            bounds = [(p.start_pos, p.end_pos) for p in parts]
            assert bounds[0][0] == start["pos"] and bounds[-1][1] == end["pos"]
            assert all(e == s for (_, e), (s, _) in zip(bounds, bounds[1:]))
            assert {e for _, e in bounds} <= ends
            ids += [int(row[9]["id"]) for p in parts for row in reader.read(p)]
        # Every committed row once.
        assert sorted(ids) == list(range(n_rows))
    assert {1, 2, 4} <= floors_seen


def test_partitions_reject_offsets_off_tx_boundaries(tmp_path):
    log = str(tmp_path / "mixed.log")
    _write_mixed(log)
    ranges = replay.tx_boundaries(log)
    reader = PgCdcStreamReader({"path": log})
    start = {"pos": ranges[1][0] + 1, "lsn": 0, "reg": 0}
    with pytest.raises(ValueError, match="do not tile"):
        reader.partitions(start, {"pos": ranges[3][1], "lsn": 0, "reg": 1})


def _gcd_log(tmp_path):
    """A segmented log whose first segments were GC'd after a reader
    persisted its registry snapshot."""
    plain = str(tmp_path / "plain.log")
    _write_plain(plain)
    seg = str(tmp_path / "seg.log")
    _write_segmented(seg, plain)
    o1 = PgCdcStreamReader({"path": seg, "maxtxperbatch": 60}).latestOffset()
    replay.gc_segments(seg, o1["pos"])
    assert replay.log_min_pos(seg) > 0
    return seg


def test_fresh_consumer_first_batch_on_gcd_log(tmp_path):
    seg = _gcd_log(tmp_path)
    fresh = PgCdcStreamReader({"path": seg})
    f0, f1 = fresh.initialOffset(), fresh.latestOffset()
    parts = fresh.partitions(f0, f1)
    assert parts[0].start_pos == replay.log_min_pos(seg)
    assert parts[-1].end_pos == f1["pos"] == replay.log_size(seg)
    rows = [r for p in parts for r in fresh.read(p)]
    assert rows and {t[0] for t in rows} <= {"I", "U", "D", "T"}


def test_register_cdc_views_on_gcd_log(spark, tmp_path):
    from pypgcdc_spark.api import PgCdcEngine

    seg = _gcd_log(tmp_path)
    names = PgCdcEngine(spark).register_cdc_views(seg, prefix="gcd_")
    assert "gcd_integration_current" in names
    assert spark.table("gcd_integration_current").count() > 0


def _batch_rows(path):
    """A batch read in process: ``partitions()`` then ``_read_range``."""
    parts = pgcdc.PgCdcBatchReader({"path": path}).partitions()
    assert parts, "Spark hands read() None for an empty partition list"
    return [t for p in parts for t in pgcdc._read_range(p)]


@pytest.mark.parametrize("committed", [0, 1])
def test_batch_read_skips_open_transaction(tmp_path, committed):
    """An open transaction at the log's tail is not read, also when no
    transaction before it closed; an empty log reads nothing."""
    empty = str(tmp_path / "empty.log")
    WorkloadWriter(empty).close()
    assert _batch_rows(empty) == []

    log = str(tmp_path / "open.log")
    w = WorkloadWriter(log)
    w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
    for k in range(committed):
        w.tx([_ins(k)])
    w.writer.append(w._next(), pg.encode_begin(w.lsn + 20, TS, 999))
    w.writer.append(w._next(), _ins(100))
    w.close()
    rows = _batch_rows(log)
    assert [(t[0], t[9]["id"]) for t in rows] == [("I", str(k)) for k in range(committed)]
