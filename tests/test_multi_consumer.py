"""Multi-consumer replay log: one replication-slot analog per reader.

Every stream reader is a consumer: ``.option("consumer", "<name>")``
names it, and an unnamed reader is ``__default__``.  Its durable ack is
``<log>.ack.d/<name>.json``, and every retention decision — segment GC,
registry-snapshot GC, schema-version pruning — runs at the MIN across
registered consumers.  ``<log>.ack`` is only that min, published for the
wire tailer, which forwards it to Postgres.

Pins:
* a consumer registers a pos-0 sidecar at construction, so a fast
  sibling's full drain GC's NOTHING until the slow one catches up;
* after both ack, retention advances to the min (and to the end once both
  finish) — the sawtooth still trims;
* the second consumer decodes the ENTIRE log (identical envelopes to the
  first) even after the first fully drained and acked — the exact race
  that broke in r10;
* an unnamed reader and named readers share the same protocol, in either
  attach order;
* ``<log>.ack`` holds the min after concurrent commits, even when one
  committer is descheduled between reading the sidecars and publishing;
* engine-level: two CONCURRENT checkpointed materializers (current-state
  merger per consumer) drain one log to completion and their typed state
  tables hash-match.
"""

import json
import os

from pypgcdc_spark.sources.pgcdc import PgCdcStreamReader
from pypgcdc_spark.sources.replay import list_segments, log_min_pos, log_size

from tests.test_replay_segmentation import _drain, _write_plain, _write_segmented


def _mk_segmented(tmp_path, **kw):
    plain = str(tmp_path / "plain.log")
    _write_plain(plain, **kw)
    seg = str(tmp_path / "seg.log")
    _write_segmented(seg, plain)
    return seg


def test_slow_consumer_pins_retention_until_it_acks(tmp_path):
    seg = _mk_segmented(tmp_path)
    n0 = len(list_segments(seg))
    assert n0 >= 2

    fast = PgCdcStreamReader({"path": seg, "consumer": "fast"})
    slow = PgCdcStreamReader({"path": seg, "consumer": "slow", "maxtxperbatch": 40})
    # Registration sidecars exist from construction (slot-create analog).
    assert os.path.exists(seg + ".ack.d/fast.json")
    assert os.path.exists(seg + ".ack.d/slow.json")

    # Fast drains EVERYTHING and acks — retention must hold at slow's 0.
    f0, f1 = fast.initialOffset(), fast.latestOffset()
    rows_fast = _drain(fast, f0, f1)
    assert rows_fast
    fast.commit(f1)
    assert len(list_segments(seg)) == n0, "GC ran under the unacked consumer"
    assert log_min_pos(seg) == 0

    # The published tailer watermark is the min (slow's 0).
    with open(seg + ".ack") as f:
        pub = json.load(f)
    assert pub["pos"] == 0

    # Slow acks a partial batch: retention advances exactly to the min.
    s0, s1 = slow.initialOffset(), slow.latestOffset()
    batch1 = _drain(slow, s0, s1)
    assert batch1
    slow.commit(s1)
    assert 0 < log_min_pos(seg) <= s1["pos"]
    assert len(list_segments(seg)) < n0, "min advanced but nothing was GC'd"

    # Slow finishes (rate-limited: as many batches as it takes): min ==
    # end, the sawtooth trims fully.
    rows_slow, prev = list(batch1), s1
    for _ in range(100):
        if prev["pos"] == f1["pos"]:
            break
        nxt = slow.latestOffset()
        rows_slow.extend(_drain(slow, prev, nxt))
        slow.commit(nxt)
        prev = nxt
    assert (prev["pos"], prev["lsn"]) == (f1["pos"], f1["lsn"])
    # Every ARCHIVED segment is below the min watermark now; only the
    # active file (never GC-able) retains bytes.
    assert list_segments(seg) == []
    with open(seg + ".ack") as f:
        assert json.load(f)["pos"] == f1["pos"]
    # And the two consumers decoded identical envelopes.
    assert rows_slow == rows_fast


def test_second_consumer_reads_full_log_after_first_drained(tmp_path):
    """The r10 race, verbatim: A drains + acks to the end BEFORE B reads a
    byte.  B (registered at construction) must still decode the whole log
    — segments AND the registry snapshots its offsets name survive."""
    seg = _mk_segmented(tmp_path)

    b = PgCdcStreamReader({"path": seg, "consumer": "b"})  # register only
    a = PgCdcStreamReader({"path": seg, "consumer": "a"})
    a0, a1 = a.initialOffset(), a.latestOffset()
    rows_a = _drain(a, a0, a1)
    a.commit(a1)

    b0, b1 = b.initialOffset(), b.latestOffset()
    rows_b = _drain(b, b0, b1)
    b.commit(b1)
    assert rows_b == rows_a
    # Both done: retention caught up (all archived segments freed).
    assert list_segments(seg) == []


def test_restarted_named_consumer_seeds_from_its_own_sidecar(tmp_path):
    seg = _mk_segmented(tmp_path)
    c = PgCdcStreamReader({"path": seg, "consumer": "c1", "maxtxperbatch": 40})
    o0, o1 = c.initialOffset(), c.latestOffset()
    _drain(c, o0, o1)
    c.commit(o1)
    with open(seg + ".ack.d/c1.json") as f:
        assert json.load(f)["pos"] == o1["pos"]

    # Restart: a stale re-ack of the replayed batch must be ignored
    # (high-water seeded from the NAMED sidecar, not <log>.ack).
    c2 = PgCdcStreamReader({"path": seg, "consumer": "c1", "maxtxperbatch": 40})
    c2.latestOffset()
    c2.commit(o1)  # replayed batch re-ack
    with open(seg + ".ack.d/c1.json") as f:
        assert json.load(f)["pos"] == o1["pos"], "re-ack must not rewind"


def test_unnamed_reader_keeps_single_consumer_contract(tmp_path):
    """A lone unnamed reader (its own `__default__` sidecar is the only
    one) publishes its own pos to `.ack` and GC's at commit."""
    seg = _mk_segmented(tmp_path)
    n0 = len(list_segments(seg))
    r = PgCdcStreamReader({"path": seg, "maxtxperbatch": 40})
    o0, o1 = r.initialOffset(), r.latestOffset()
    _drain(r, o0, o1)
    r.commit(o1)
    assert len(list_segments(seg)) < n0
    with open(seg + ".ack") as f:
        pub = json.load(f)
    assert pub["pos"] == o1["pos"] and "consumers" not in pub


def test_bad_consumer_name_rejected(tmp_path):
    import pytest

    with pytest.raises(ValueError, match="consumer"):
        PgCdcStreamReader({"path": str(tmp_path / "x.log"), "consumer": "a/b"})


def test_two_concurrent_checkpointed_materializers(spark, tmp_path):
    """Engine-level (the verdict's done-bar): two CONCURRENT checkpointed
    consumers — each its own named slot, checkpoint, and DeleteAwareMerger
    target — drain one log to completion; both typed state tables match
    the expected final state and each other."""
    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.sources.replay import scan_frames
    from pypgcdc_spark.testing import write_upsert_workload

    log = str(tmp_path / "m.log")
    expected = write_upsert_workload(log, n_keys=25, n_updates=80)

    reg = SchemaRegistry()
    for fr in scan_frames(log):
        if fr.payload[:1] == b"R":
            reg.register_relation(pg.decode_relation(fr.payload), lsn=fr.lsn)
    schema = reg.get(16385)

    engine = PgCdcEngine(spark)
    queries = []
    for name in ("curr", "ivm"):
        q = engine.materialize(
            engine.stream(log, max_tx_per_batch=20, consumer=name),
            schema,
            str(tmp_path / f"state_{name}"),
            checkpoint=str(tmp_path / f"ckpt_{name}"),
            drain=False,  # start both, then drain CONCURRENTLY
        )
        queries.append(q)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop_and_cancel()

    got = {}
    for name in ("curr", "ivm"):
        got[name] = sorted(
            (str(r.id), r.text_data)
            for r in spark.read.parquet(str(tmp_path / f"state_{name}")).collect()
        )
    assert got["curr"] == got["ivm"] == expected
    # Published watermark == min over the two slots' sidecars (a slot's
    # final offset commit may lag one trigger behind its processed data —
    # normal confirmed-flush semantics — so "== log size" would flake).
    acks = {}
    for name in ("curr", "ivm"):
        with open(log + f".ack.d/{name}.json") as f:
            acks[name] = json.load(f)["pos"]
    assert all(0 < p <= log_size(log) for p in acks.values())
    with open(log + ".ack") as f:
        pub = json.load(f)
    assert pub["pos"] == min(acks.values())


def test_unnamed_reader_respects_named_sidecars(tmp_path):
    """ADVICE r11 (high): an unnamed reader draining a log that has
    registered NAMED consumers must hold retention at their min.  Once
    the unnamed reader's commit GC'd segments/registry versions at its OWN
    pos, irrecoverably dropping replay data the named consumers still
    needed."""
    seg = _mk_segmented(tmp_path)
    n0 = len(list_segments(seg))

    # A named consumer registers (pos-0 sidecar) but never commits.
    named = PgCdcStreamReader({"path": seg, "consumer": "slow"})
    assert os.path.exists(seg + ".ack.d/slow.json")

    # Unnamed reader drains everything and commits: nothing may be GC'd.
    r = PgCdcStreamReader({"path": seg})
    o0, o1 = r.initialOffset(), r.latestOffset()
    rows = _drain(r, o0, o1)
    assert rows
    r.commit(o1)
    assert len(list_segments(seg)) == n0, "unnamed reader GC'd under a named consumer"
    assert log_min_pos(seg) == 0

    # Its own ack is the __default__ sidecar; `.ack` carries the min
    # (slow's 0) for the tailer.
    with open(seg + ".ack.d/__default__.json") as f:
        own = json.load(f)
    assert own["pos"] == o1["pos"]
    with open(seg + ".ack") as f:
        pub = json.load(f)
    assert pub["pos"] == 0

    # Once the named consumer catches up and acks, retention advances
    # (to a segment boundary at or below the acked min).
    s0, s1 = named.initialOffset(), named.latestOffset()
    _drain(named, s0, s1)
    named.commit(s1)
    assert 0 < log_min_pos(seg) <= min(o1["pos"], s1["pos"])
    assert len(list_segments(seg)) < n0


def test_unnamed_reader_registers_default_sidecar_at_attach(tmp_path):
    """The unnamed reader registers its ``__default__`` pos-0 sidecar at
    construction (same attach-time pin as the CREATE_REPLICATION_SLOT
    analog), so a named sibling's full drain GC's nothing before the
    unnamed reader's first commit."""
    seg = _mk_segmented(tmp_path)
    n0 = len(list_segments(seg))

    PgCdcStreamReader({"path": seg, "consumer": "fast"})
    PgCdcStreamReader({"path": seg})  # unnamed, attaches second
    assert os.path.exists(seg + ".ack.d/__default__.json")
    with open(seg + ".ack.d/__default__.json") as f:
        assert json.load(f)["pos"] == 0

    fast = PgCdcStreamReader({"path": seg, "consumer": "fast"})
    f0, f1 = fast.initialOffset(), fast.latestOffset()
    _drain(fast, f0, f1)
    fast.commit(f1)
    assert len(list_segments(seg)) == n0, "named drain GC'd under the unnamed reader"


def test_registration_failure_warns(tmp_path, monkeypatch):
    """ADVICE r11 (low): a consumer whose pos-0 sidecar cannot be written
    is unprotected until its first commit — registration must warn, not
    silently pass (the replication-slot analog fails loudly)."""
    import warnings

    seg = _mk_segmented(tmp_path)

    def _boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(os, "makedirs", _boom)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        PgCdcStreamReader({"path": seg, "consumer": "fragile"})
    assert any(
        issubclass(w.category, RuntimeWarning) and "retention" in str(w.message)
        for w in caught
    )


def test_concurrent_commit_republish_no_shared_tmp(tmp_path):
    """ADVICE r11 (medium): two consumers committing concurrently from
    separate streaming-query threads must not race a shared `.ack.tmp`
    (FileNotFoundError on the losing os.replace / torn JSON published to
    the tailer).  Hammer commits from two threads; every republish must
    succeed and the published watermark must always parse and hold the
    min.

    A one-off failure here (published ``.ack`` at pos 0) predates the
    one-ack protocol: a committer read the sibling's pos-0 registration
    sidecar, was descheduled while the sibling committed and published,
    then published its stale min.  Reading the sidecars and publishing
    now run under one ``flock`` after each committer writes its own
    sidecar, so the last publisher always sees both final acks
    (forced deterministically by
    ``test_descheduled_committer_cannot_publish_stale_min``)."""
    import threading

    seg = _mk_segmented(tmp_path)
    a = PgCdcStreamReader({"path": seg, "consumer": "a"})
    b = PgCdcStreamReader({"path": seg, "consumer": "b"})
    end_a, end_b = a.latestOffset(), b.latestOffset()
    errors = []

    def _hammer(reader, end):
        try:
            for _ in range(50):
                # Re-arm the monotonic guard; 0 would re-seed it from
                # the own sidecar and turn every later commit into a no-op.
                reader._acked_pos = -1
                reader.commit(dict(end))
        except Exception as exc:  # noqa: BLE001 — the pin IS no exception
            errors.append(exc)

    t1 = threading.Thread(target=_hammer, args=(a, end_a))
    t2 = threading.Thread(target=_hammer, args=(b, end_b))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errors, f"concurrent commit raised: {errors}"
    assert not os.path.exists(seg + ".ack.tmp"), "shared temp path still used"
    with open(seg + ".ack") as f:
        pub = json.load(f)  # must never be torn
    assert pub["pos"] == min(end_a["pos"], end_b["pos"])


def test_descheduled_committer_cannot_publish_stale_min(tmp_path):
    """The stale-min race, forced: consumer `a` reads the sibling
    sidecars (b's is still its pos-0 registration), then is descheduled;
    `b` commits; `a` resumes.  With an unordered publish `a` overwrote
    b's correct publish with 0.  The published `.ack` must hold the true
    min of both final acks."""
    import threading

    seg = _mk_segmented(tmp_path)
    a = PgCdcStreamReader({"path": seg, "consumer": "a", "maxtxperbatch": 40})
    b = PgCdcStreamReader({"path": seg, "consumer": "b"})
    end_a, end_b = a.latestOffset(), b.latestOffset()
    assert 0 < end_a["pos"] < end_b["pos"]

    read_done, release = threading.Event(), threading.Event()
    watermark = a._ack_watermark

    def _paused(*args, **kw):
        mins = watermark(*args, **kw)
        read_done.set()
        assert release.wait(10), "test never released consumer a"
        return mins

    a._ack_watermark = _paused
    errors = []

    def _commit(reader, end):
        try:
            reader.commit(end)
        except Exception as exc:  # noqa: BLE001 — the pin IS no exception
            errors.append(exc)

    ta = threading.Thread(target=_commit, args=(a, end_a))
    tb = threading.Thread(target=_commit, args=(b, end_b))
    ta.start()
    assert read_done.wait(10), "consumer a never read the sidecars"
    tb.start()
    # An unordered publish lets b finish here; an ordered one makes b
    # wait for a's publish, so the join times out.
    tb.join(timeout=1.0)
    release.set()
    ta.join(10), tb.join(10)
    assert not ta.is_alive() and not tb.is_alive()
    assert not errors, f"commit raised: {errors}"
    with open(seg + ".ack") as f:
        assert json.load(f)["pos"] == min(end_a["pos"], end_b["pos"])


def test_unnamed_first_then_named_drain_holds_unnamed_pos(tmp_path):
    """An unnamed reader attaches and acks a partial batch BEFORE any
    named consumer exists; a named consumer then drains and acks
    everything.  Retention must hold at the unnamed reader's pos, and the
    unnamed reader must still decode the rest of the log."""
    seg = _mk_segmented(tmp_path)
    n0 = len(list_segments(seg))

    r = PgCdcStreamReader({"path": seg, "maxtxperbatch": 40})
    o0, o1 = r.initialOffset(), r.latestOffset()
    rows_r = _drain(r, o0, o1)
    r.commit(o1)
    after_unnamed = len(list_segments(seg))

    named = PgCdcStreamReader({"path": seg, "consumer": "full"})
    n0_, n1 = named.initialOffset(), named.latestOffset()
    assert n1["pos"] > o1["pos"]
    rows_named = _drain(named, n0_, n1)
    named.commit(n1)
    assert log_min_pos(seg) <= o1["pos"], "named drain GC'd above the unnamed pos"
    assert len(list_segments(seg)) == after_unnamed < n0

    prev = o1
    for _ in range(100):
        if prev["pos"] == n1["pos"]:
            break
        nxt = r.latestOffset()
        rows_r.extend(_drain(r, prev, nxt))
        r.commit(nxt)
        prev = nxt
    # The named consumer attached after GC, so it read the retained
    # window only: the tail of what the unnamed reader decoded.
    assert rows_named and rows_r[-len(rows_named):] == rows_named


def test_many_concurrent_committers_publish_final_min(tmp_path):
    """Stress: more committing consumers than cores, each acking the same
    rising offsets with a tiny thread switch interval.  Once all finish
    at the log end, the published `.ack` must be the end: a publish
    ordered after a sibling's final sidecar can never read it stale."""
    import sys
    import threading

    seg = _mk_segmented(tmp_path)
    names = [f"c{i}" for i in range(max(6, (os.cpu_count() or 1) + 2))]
    readers = [PgCdcStreamReader({"path": seg, "consumer": n}) for n in names]
    walker = PgCdcStreamReader({"path": seg, "consumer": "walker", "maxtxperbatch": 20})
    offsets = [walker.latestOffset()]
    while True:
        nxt = walker.latestOffset()
        if nxt["pos"] == offsets[-1]["pos"]:
            break
        offsets.append(nxt)
    walker.commit(offsets[-1])
    assert len(offsets) > 3
    errors = []

    def _run(reader):
        try:
            for off in offsets:
                reader.commit(dict(off))
        except Exception as exc:  # noqa: BLE001 — the pin IS no exception
            errors.append(exc)

    threads = [threading.Thread(target=_run, args=(r,)) for r in readers]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, f"commit raised: {errors}"
    with open(seg + ".ack") as f:
        assert json.load(f)["pos"] == offsets[-1]["pos"]
