"""``pgcdc`` — a Structured Streaming source for Postgres-CDC change events.

PySpark Python Data Source API (Spark ≥ 4.0) implementation of the
reference's replication reader (SURVEY §2.1 S1-S6, §3.1 trace): register
with ``spark.dataSource.register(PgCdcDataSource)`` then::

    env = (spark.readStream.format("pgcdc")
           .option("path", "/path/to/replay.log")
           .option("maxTxPerBatch", 100)
           .load())

The stream emits the flat change-event envelope (``models.ENVELOPE_DDL``).

Offset model (reference K2/K3, ``reader.py:139,161-163``):

* an offset is ``{"pos": <byte offset at a tx boundary>, "lsn": <last
  commit lsn>, "reg": <registry snapshot revision>}`` — O(1) bytes no
  matter how many relations/schema versions the feed has seen, so
  checkpoint writes never grow with schema history;
* offsets only land on transaction boundaries, so every micro-batch holds
  whole Begin..Commit spans and the transform's tx context never crosses a
  partition;
* registry snapshots persist once per schema mutation to
  ``<path>.registry.d/reg-<revision>.json``; a restart replaying a
  checkpointed batch loads exactly the snapshot its offset names, so
  table schemas restore without rescanning and later versions never
  retype old ranges — the reference instead re-learns from Relation
  messages and silently caches stale schemas (Q4).  Pre-r6 offsets
  embedding ``"registry"`` JSON still resolve (back-compat).
  **Shared-filesystem requirement**: like the replay log itself,
  ``<path>.registry.d`` must be visible to executors (shared storage on
  a real cluster) — partition payloads reference snapshots by ``file:``
  pointer.  Small snapshots (≤4 KB) are embedded inline instead, so the
  common few-tables deployment never depends on the sidecar dir for
  checkpoint replay;
* ``commit(end)`` durably acks the offset — the replay analog of
  ``send_feedback(flush_lsn)`` — to the reader's own sidecar
  ``<path>.ack.d/<name>.json``, one per consumer like one replication
  slot per consumer.  ``.option("consumer", "ivm")`` names a reader; an
  unnamed reader is ``__default__``.  Each reader registers a pos-0
  sidecar at construction, so retention holds from attach time, and
  every retention decision (segment GC, registry-snapshot GC,
  schema-version pruning) runs at the MIN across registered consumers;
* ``<path>.ack`` is only that min: each ``commit()`` publishes it under
  an exclusive lock, and the source never reads it back.  A live
  backend (``pgwire.WireReplicationTailer``) forwards it to the
  walsender so Postgres can recycle WAL.

Trigger caveat (Spark 4.1 Python DataSource): ``Trigger.AvailableNow``
processes ONE ``latestOffset`` cut and stops, so combined with
``maxTxPerBatch`` it under-drains; use ``processAllAvailable()`` (as
``PgCdcEngine.materialize(..., drain=True)`` does) for full drains.

Scale notes: the driver reads each frame of the log once, and only its
first 64 payload bytes (``Relation`` frames whole).  That one pass
(:func:`scan_log`; the stream reader runs it incrementally) folds the
schema registry and finds the whole-transaction ranges; partitions are
planned from those ranges, never by re-reading the log.  Payload decode
happens executor-side, parallel across transactions: each batch splits
at tx boundaries into one partition per 256 KiB of its byte span
(``_PARTITION_FLOOR_BYTES``), capped at ``numPartitions`` — already more
parallel than the reference's single thread, while a small live batch
runs as one task instead of paying the per-task overhead N times.  A
production deployment points the same reader at a live replication
socket (one tailer writes the log; see ``pgwire.WireReplicationTailer``),
making the log both the replay buffer and the at-least-once boundary.
"""

from __future__ import annotations

import bisect
import contextlib
import fcntl
import json
import math
import operator
import os
import re
import threading
import warnings
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.models import ENVELOPE_DDL
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.cdc.transform import MessageTransformer
from pypgcdc_spark.sources import replay

_end = operator.itemgetter(1)  # bisect key over sorted (start, end) ranges


def _write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` via a temp file and ``os.replace``,
    so readers (the wire tailer polls ``<log>.ack``) never see a torn
    file.  The temp name is unique per process and thread: concurrent
    writers never share one."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


@dataclass
class TxRangePartition(InputPartition):
    path: str
    start_pos: int
    end_pos: int
    registry_json: str
    database: str
    on_decode_error: str = "fail"  # "fail" | "skip"
    emit_messages: bool = False  # 'M' frames -> op='M' outbox envelope rows


def _read_range(part: TxRangePartition) -> Iterator[Tuple]:
    # `registry_json` is either inline JSON (legacy / empty-registry) or
    # a `file:` reference to the persisted revision snapshot.  Shipping a
    # reference keeps partition payloads O(1): under heavy DDL the full
    # registry JSON grows with Σ(version × width) and serializing it
    # into every partition of every micro-batch made batch latency climb
    # with schema history (diagnosed by the round-7 soak's ALTER storm).
    if part.registry_json.startswith("file:"):
        with open(part.registry_json[5:]) as f:
            registry = SchemaRegistry.loads(f.read())
    else:
        registry = SchemaRegistry.loads(part.registry_json)
    registry.database = part.database
    xform = MessageTransformer(registry=registry, emit_messages=part.emit_messages)
    for fr in replay.scan_frames(part.path, part.start_pos, part.end_pos):
        try:
            events = list(xform.feed(fr.lsn, fr.payload))
        except (ValueError, LookupError, IndexError, UnicodeDecodeError):
            # Corrupt/unknown frame. Default is fail-fast (a CDC gap is
            # data loss); option onDecodeError=skip trades completeness
            # for liveness.  Skipped frames are NOT counted anywhere yet
            # (ROADMAP direction 4 turns them into dead-letter rows).
            if part.on_decode_error == "skip":
                continue
            raise
        for ev in events:
            yield ev.as_flat_tuple()


# Byte span per decode partition below the ``numPartitions`` cap.  One
# core decodes about 2.7 MB/s (~35k events/s x 77 B/event on the
# perfbench log), and each task costs ~50 ms of fixed work (a Python
# worker round trip, one output file).  A split pays only once each part
# decodes for longer than that overhead (50 ms x 2.7 MB/s ~ 135 KB);
# 256 KiB (~95 ms of decode) keeps a 2x margin.
_PARTITION_FLOOR_BYTES = 256 * 1024


def _plan_partitions(
    path: str,
    ranges: Sequence[Tuple[int, int]],
    registry_json: str,
    database: str,
    num_partitions: int,
    on_decode_error: str = "fail",
    emit_messages: bool = False,
) -> Sequence[TxRangePartition]:
    """Group contiguous whole-transaction ``ranges`` into chunks of
    similar byte size: one per ``_PARTITION_FLOOR_BYTES`` of the batch's
    span, at least one, at most ``num_partitions`` (a cap, not a count)."""
    if not ranges:
        return []
    total = ranges[-1][1] - ranges[0][0]
    floors = math.ceil(total / _PARTITION_FLOOR_BYTES)
    num_partitions = max(1, min(num_partitions, floors))
    target = max(1, total // num_partitions)
    parts: List[TxRangePartition] = []
    chunk_start = ranges[0][0]
    acc = 0
    for s, e in ranges:
        acc += e - s
        if acc >= target and len(parts) < num_partitions - 1:
            parts.append(
                TxRangePartition(
                    path, chunk_start, e, registry_json, database,
                    on_decode_error, emit_messages,
                )
            )
            chunk_start = e
            acc = 0
    if chunk_start < ranges[-1][1]:
        parts.append(
            TxRangePartition(
                path, chunk_start, ranges[-1][1], registry_json, database,
                on_decode_error, emit_messages,
            )
        )
    return parts


def _newest_registry_snapshot(path: str, database: str):
    """Newest persisted registry snapshot for ``path`` (None if absent).
    Schema durability for retention-GC'd logs: Relation frames below the
    retained window are gone with their segments, but the snapshot
    sidecar (written by whichever consumer's acks drove the GC, kept by
    the snapshot GC's keep-the-named-one rule) still types them."""
    d = path + ".registry.d"
    try:
        revs = sorted(
            int(fn[4:-5])
            for fn in os.listdir(d)
            if fn.startswith("reg-") and fn.endswith(".json") and fn[4:-5].isdigit()
        )
    except OSError:
        return None
    if not revs:
        return None
    with open(os.path.join(d, f"reg-{revs[-1]:08d}.json")) as f:
        reg = SchemaRegistry.loads(f.read())
    reg.database = database
    return reg


def _scan_units(
    path: str,
    start_pos: int,
    registry: SchemaRegistry,
    scanner: replay.TxBoundaryScanner,
) -> Iterator[Tuple[replay.Frame, Optional[Tuple[int, int]]]]:
    """The driver's one pass over the log: prefix-scan frames from
    ``start_pos`` (≤64 payload bytes each, 'R' frames whole), fold
    Relation frames into ``registry`` and feed ``scanner``.  Yields each
    frame with the whole-transaction range it closes (None if none)."""
    for fr in replay.scan_frames(path, start_pos, prefix_bytes=64):
        if fr.payload[:1] == b"R":
            # In-segment R frames carry the v2 xid prefix.
            registry.register_relation(
                pg.decode_relation(fr.payload, streamed=scanner.in_segment),
                lsn=fr.lsn,
            )
        yield fr, scanner.feed(fr)


def scan_log(
    path: str, database: str = "replay"
) -> Tuple[SchemaRegistry, List[Tuple[int, int]]]:
    """Registry and whole-transaction ranges of the retained log, from
    ``log_min_pos`` up (bytes below were GC'd under the consumer ack,
    like recycled WAL).  Relations whose R frames left with their
    segments come from the newest registry snapshot sidecar."""
    start = replay.log_min_pos(path)
    registry = (
        _newest_registry_snapshot(path, database) if start > 0 else None
    ) or SchemaRegistry(database=database)
    scanner = replay.TxBoundaryScanner()
    ranges = [
        closed
        for _, closed in _scan_units(path, start, registry, scanner)
        if closed is not None
    ]
    return registry, ranges


class PgCdcStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path' (replay log)")
        self.database = options.get("database", "replay")
        self.max_tx = int(options.get("maxtxperbatch", 0) or 0)
        self.num_partitions = int(options.get("numpartitions", 4) or 4)
        self.on_decode_error = options.get("ondecodeerror", "fail").lower()
        # Outbox surface: emit pg_logical_emit_message frames as op='M'.
        self.emit_messages = str(
            options.get("emitmessages", "false")
        ).lower() in ("true", "1", "yes")
        # Every reader is a consumer with its own ack sidecar (the
        # replication-slot model, one slot per consumer); an unnamed
        # reader is "__default__".
        self.consumer = options.get("consumer") or "__default__"
        if not re.fullmatch(r"[A-Za-z0-9_-]{1,64}", self.consumer):
            raise ValueError(
                "pgcdc option 'consumer' must match [A-Za-z0-9_-]{1,64}: "
                f"{self.consumer!r}"
            )
        # Log generation stamp, read lazily by _log_identity().
        self._log_id = ""
        # Register NOW (the CREATE_REPLICATION_SLOT analog): a pos-0
        # sidecar pins retention from attach time, so a consumer that
        # hasn't committed yet never loses segments to a faster sibling.
        self._register_consumer()
        # Incremental driver-side scan state (rebuilt lazily after restart).
        self._scanned_pos = 0
        self._registry = SchemaRegistry(database=self.database)
        self._persisted_rev = 0  # highest registry snapshot on disk
        self._last_lsn = 0
        # Closed whole-tx ranges, kept until partitions() has planned past them.
        self._pending: List[Tuple[int, int]] = []
        # Persistent boundary scanner: open stream/prepared spans live in
        # its state, so each tick feeds only NEW frames — the earlier
        # rewind-to-open-unit-start design re-scanned the whole open span
        # per tick, quadratic under a long-running streamed or prepared
        # transaction.
        self._scanner = replay.TxBoundaryScanner()
        # Highest offset already handed to Spark (checkpoint floor). After a
        # restart the scan state rebuilds from 0, so without this floor
        # latestOffset could emit a cut BELOW the checkpointed start offset
        # (offsets going backwards, stale re-acks — ADVICE r1).
        self._offset_floor = 0
        # Highest offset durably ACKED via commit().  Distinct from the
        # offer floor above: latestOffset bumps `_offset_floor` to the
        # NEXT batch's cut before Spark commits the previous one, so
        # guarding commit() against the offer floor silently dropped
        # EVERY ack (found by the round-7 soak: confirmed_flush never
        # advanced, WAL retention grew unbounded).
        self._acked_pos = 0
        # Fingerprint of the LAST FRAME the scan pass consumed.  The live
        # tailer may TRUNCATE AND REWRITE the open log tail (resend
        # dedup after a reconnect, torn-tail discipline at session
        # start) — closed units are immutable, the open unit is not.
        # The incremental scan advances through open-unit frames to keep
        # scanner state, so without this check a truncate-regrow between
        # two polls would leave `_scanned_pos` pointing mid-frame into
        # rewritten bytes: the source then either reads garbage or
        # stalls forever (also found by the round-7 fault-injection soak).
        # The fingerprint is captured FROM THE SCAN PASS ITSELF (the last
        # frame's header identity + payload prefix, bytes the scanner
        # actually fed) — a post-scan re-read of the file had a TOCTOU
        # window where a rewrite landing between scan and capture was
        # fingerprinted as the new bytes and never detected (ADVICE r7);
        # and identity covers the frame header (lsn/send_time/len), so a
        # same-length rewrite whose trailing bytes coincide is still
        # caught as long as it carries a different LSN (the tailer's
        # close-LSN dedup makes equal-LSN equal-payload frames the same
        # data).  Tuple: (scanned_pos, frame_start, lsn, send_time_us,
        # payload_len, payload_prefix).
        self._fp = None

    # -- driver-side scanning -------------------------------------------
    def _scan_forward(self) -> None:
        """Advance over newly appended frames: collect tx-unit boundaries
        (v1 commits AND v2 streamed spans, via TxBoundaryScanner) and fold
        Relation messages into the driver registry (schema inference,
        reference T6 reader.py:243-302, here at frame-header cost)."""
        size = replay.log_size(self.path)
        # Retention clamp: a fresh consumer (no checkpoint) starts where
        # the retained window starts — bytes below were GC'd under the
        # ack watermark, exactly like WAL below a slot's restart LSN.
        min_pos = replay.log_min_pos(self.path)
        if self._scanned_pos < min_pos:
            self._scanned_pos = min_pos
            self._offset_floor = max(self._offset_floor, min_pos)
            # The Relation frames below the retained window are gone with
            # their segments; schema durability lives in the registry
            # snapshot sidecar (persisted by whichever consumer's acks
            # drove the GC — GC never happens without one).  A live PG
            # walsender would resend Relation messages instead.
            if self._registry.revision == 0:
                seed = _newest_registry_snapshot(self.path, self.database)
                if seed is not None:
                    self._registry, self._persisted_rev = seed, seed.revision
        if self._scanned_pos and self._tail_rewritten(size):
            # The tailer truncated/rewrote the open tail.  Rewind to the
            # open unit's start — the last closed boundary, where scanner
            # state is by construction empty — and rebuild from there.
            # Closed units below it are immutable, so `_pending` stays
            # valid; re-fed R frames are idempotent (new version only on
            # change).
            rewind = self._scanner.range_start
            if rewind is None:
                rewind = 0  # closed region changed: full defensive rescan
                self._pending = []  # floor still guards re-offers
            self._scanner = replay.TxBoundaryScanner()
            self._scanned_pos = rewind
            self._fp = None
            # The rewind may mean the log was RECREATED (full rewrite, new
            # generation), not just a torn-tail truncate: drop the cached
            # generation stamp so the next ack re-reads it from the
            # current first frame.  Stamping new-generation acks with the
            # OLD identity would make a later restart reject a valid
            # `.ack` sidecar and re-ack from zero (ADVICE r8).
            self._log_id = ""
        if size <= self._scanned_pos:
            return
        last = None
        for fr, closed in _scan_units(
            self.path, self._scanned_pos, self._registry, self._scanner
        ):
            if closed is not None:
                self._pending.append(closed)
                self._last_lsn = fr.lsn
            # A torn tail write stops scan_frames at the last complete
            # frame; the persistent scanner keeps any open span's state,
            # so advancing past it never loses frames.
            self._scanned_pos = fr.end_pos
            last = fr
        if last is not None:
            # Same read pass as the scan — no TOCTOU window between what
            # the scanner consumed and what the fingerprint records.
            self._fp = (
                self._scanned_pos,
                last.start_pos,
                last.lsn,
                last.send_time_us,
                last.end_pos - last.start_pos - replay._HDR.size,
                last.payload[:16],
            )

    def _tail_rewritten(self, size: int) -> bool:
        if size < self._scanned_pos:
            return True
        if self._fp is None or self._fp[0] != self._scanned_pos:
            return False
        pos, fstart, lsn, us, n, pfx = self._fp
        # read_at resolves the LOGICAL position wherever the bytes now
        # live — the fingerprinted frame may have been rolled into an
        # archived segment between two polls.
        hdr = replay.read_at(self.path, fstart, replay._HDR.size)
        if len(hdr) < replay._HDR.size:
            return True
        l2, u2, n2 = replay._HDR.unpack(hdr)
        if (l2, u2, n2) != (lsn, us, n):
            return True
        got = replay.read_at(self.path, fstart + replay._HDR.size, min(16, n2))
        return got != pfx[: len(got)]

    def _log_identity(self) -> str:
        """Generation stamp for sidecars: the first frame's header bytes
        (lsn|send_time|len) in hex.  A recreated log starts with a new
        first frame (send_time differs even when LSNs repeat), so stale
        sidecars from a previous generation are detectable.  Cached —
        the first frame of THIS generation is immutable (only the open
        tail is ever rewritten, and a generation change forces a new
        reader via the size/fingerprint rewind)."""
        if not self._log_id:
            # Segmented logs carry a persisted generation id (stable
            # across rolls AND retention GC — a first-frame identity
            # would change when its segment is collected).
            gen = replay.log_generation(self.path)
            if gen:
                self._log_id = gen
            else:
                try:
                    with open(self.path, "rb") as f:
                        self._log_id = f.read(replay._HDR.size).hex()
                except OSError:
                    return ""
        return self._log_id

    def _safe_cut(self) -> int:
        """Highest byte position an offset may land on right now: the
        start of the currently open unit (nothing may bisect an open
        stream span / pending two-phase window), else everything scanned."""
        if self._scanner.range_start is not None:
            return self._scanner.range_start
        return self._scanned_pos

    # -- registry snapshot sidecar ---------------------------------------
    # Offsets carry only a REVISION WATERMARK, not the registry JSON:
    # with many relations × many versions an embedded registry makes
    # every offset (and so every checkpoint write, every micro-batch)
    # grow with schema history.  Snapshots persist once per mutation to
    # `<log>.registry.d/reg-<revision>.json` (schema changes are rare;
    # steady-state cost is zero), and a restart replaying a checkpointed
    # batch loads exactly the snapshot its end offset names — not the
    # current registry, whose later versions could retype old ranges.

    def _registry_dir(self) -> str:
        return self.path + ".registry.d"

    def _persist_registry(self) -> None:
        rev = self._registry.revision
        if rev <= self._persisted_rev:
            return
        d = self._registry_dir()
        os.makedirs(d, exist_ok=True)
        _write_atomic(os.path.join(d, f"reg-{rev:08d}.json"), self._registry.dumps())
        self._persisted_rev = rev

    # ``file:`` references REQUIRE executors to share the driver's
    # filesystem for `<log>.registry.d` (same assumption the replay log
    # path itself already carries; on a real cluster both live on shared
    # storage — NFS/DBFS/object store via fuse).  Because snapshots are
    # additionally commit-time GC'd, small registries are embedded
    # INLINE instead: checkpoint replay then never depends on a snapshot
    # file at all until the registry genuinely outgrows the inline
    # budget (many relations × versions), which is also when shipping it
    # per-partition starts hurting batch latency (round-7 soak).
    _INLINE_REGISTRY_BYTES = 4096

    def _registry_ref_at(self, rev: int) -> str:
        """O(1) registry reference for partition payloads: a ``file:``
        pointer to the persisted revision snapshot, or the snapshot JSON
        itself when it fits ``_INLINE_REGISTRY_BYTES`` — shipping LARGE
        JSON per partition per batch scales with schema history (the
        round-7 soak's ALTER storm drove batch latency up with it),
        while inlining SMALL registries removes the shared-filesystem /
        GC-survival dependency for the common few-tables case."""
        if rev <= 0:
            return SchemaRegistry(self.database).dumps()
        p = os.path.join(self._registry_dir(), f"reg-{rev:08d}.json")
        if os.path.exists(p) and os.path.getsize(p) <= self._INLINE_REGISTRY_BYTES:
            with open(p) as f:
                return f.read()
        if not os.path.exists(p):
            # Defensive: revision never persisted (shouldn't happen —
            # _offset() persists before naming it); fall back to inline.
            if rev == self._registry.revision:
                return self._registry.dumps()
            with open(p) as f:  # raise the natural FileNotFoundError
                return f.read()
        return "file:" + p

    def _offset(self, pos: int) -> dict:
        self._persist_registry()
        return {"pos": pos, "lsn": self._last_lsn, "reg": self._registry.revision}

    @staticmethod
    def _offset_registry_ref(offset: dict):
        """Back-compat: pre-r6 checkpoints embed the registry JSON under
        'registry'; r6+ offsets name a snapshot revision under 'reg'."""
        if offset.get("registry"):
            return offset["registry"]
        return int(offset.get("reg", 0))

    # -- DataSourceStreamReader contract ---------------------------------
    def initialOffset(self) -> dict:
        return {"pos": 0, "lsn": 0, "reg": 0}

    def latestOffset(self) -> dict:
        self._scan_forward()
        # Ranges the checkpoint already covers (restart catch-up) are never
        # offered again; every range stays pending until partitions().
        seen = bisect.bisect_right(self._pending, self._offset_floor, key=_end)
        offer = self._pending[seen:]
        if not offer:
            cut = max(self._safe_cut(), self._offset_floor)
        elif self.max_tx and len(offer) > self.max_tx:
            cut = offer[self.max_tx - 1][1]
        else:
            cut = offer[-1][1]
        self._offset_floor = max(self._offset_floor, cut)
        return self._offset(cut)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        start_pos, end_pos = int(start["pos"]), int(end["pos"])
        # The checkpointed start offset is authoritative: never re-offer
        # anything at or below it.
        self._offset_floor = max(self._offset_floor, start_pos)
        if start_pos == 0:
            # A fresh consumer's first batch starts where the retained
            # window starts (the scan clamps the same way).
            start_pos = replay.log_min_pos(self.path)
        if start_pos >= end_pos:
            return []
        if end_pos > self._scanned_pos:
            # Only a fresh reader replaying a checkpointed batch (restart)
            # has not scanned this far yet.
            self._scan_forward()
        lo = bisect.bisect_right(self._pending, start_pos, key=_end)
        hi = bisect.bisect_right(self._pending, end_pos, key=_end)
        ranges = self._pending[lo:hi]
        # Ranges below this batch are done; its own stay until the next
        # batch, so planning the same batch again gives the same result.
        del self._pending[:lo]
        starts = [start_pos] + [e for _, e in ranges]
        if [s for s, _ in ranges] + [end_pos] != starts:
            raise ValueError(
                f"pgcdc: whole-transaction ranges of {self.path} do not tile "
                f"[{start_pos}, {end_pos}): an offset is off a tx boundary, lies "
                "below a batch this reader planned, or the log changed below it"
            )
        ref = self._offset_registry_ref(end) or self._offset_registry_ref(start)
        registry_json = ref if isinstance(ref, str) else self._registry_ref_at(ref)
        return _plan_partitions(
            self.path,
            ranges,
            registry_json,
            self.database,
            self.num_partitions,
            self.on_decode_error,
            self.emit_messages,
        )

    def read(self, partition: TxRangePartition) -> Iterator[Tuple]:
        return _read_range(partition)

    # -- consumer ack sidecars (one replication slot per reader) ---------

    def _ack_dir(self) -> str:
        return self.path + ".ack.d"

    def _ack_file(self) -> str:
        return os.path.join(self._ack_dir(), self.consumer + ".json")

    def _register_consumer(self) -> None:
        """Create this consumer's pos-0 sidecar if absent (idempotent)."""
        f = self._ack_file()
        if os.path.exists(f):
            return
        try:
            os.makedirs(self._ack_dir(), exist_ok=True)
            # An empty log_id (log not written yet) matches any generation.
            rec = {"pos": 0, "lsn": 0, "reg": 0, "log_id": self._log_identity()}
            _write_atomic(f, json.dumps(rec))
        except OSError as exc:
            # The replication-slot analog (CREATE_REPLICATION_SLOT) fails
            # loudly; until the first successful commit() re-writes this
            # file, a faster sibling's acks can GC segments under an
            # unregistered consumer — surface it (ADVICE r11).
            warnings.warn(
                f"pgcdc consumer registration failed for {f!r}: {exc}; "
                "retention is NOT pinned for this consumer until its "
                "first successful commit",
                RuntimeWarning,
                stacklevel=2,
            )

    def _read_acks(self, paths) -> List[Tuple[int, int, int]]:
        """(pos, lsn, reg) of each valid ack sidecar in ``paths``.  Torn
        or missing files are skipped, and so are stale ones — a pos past
        the log's end, or another log generation's ``log_id`` — since a
        leftover from a recreated log must neither seed a restart's
        high-water nor pin retention forever."""
        size, lid = replay.log_size(self.path), self._log_identity()
        acks = []
        for p in paths:
            try:
                with open(p) as fh:
                    rec = json.load(fh)
                ack = (
                    int(rec.get("pos", 0)),
                    int(rec.get("lsn", 0) or 0),
                    int(rec.get("reg", 0) or 0),
                )
            except (OSError, ValueError):
                continue  # torn/concurrent write: skip this round
            rlid = rec.get("log_id")
            if ack[0] <= size and (not rlid or not lid or rlid == lid):
                acks.append(ack)
        return acks

    def _ack_watermark(self, own: Tuple[int, int, int]) -> Tuple[int, int, int]:
        """(min_pos, min_lsn, min_reg) across this consumer's ``own`` ack
        and every valid registered sidecar."""
        d = self._ack_dir()
        names = [fn for fn in os.listdir(d) if fn.endswith(".json")]
        acks = [own] + self._read_acks(os.path.join(d, fn) for fn in names)
        return tuple(min(col) for col in zip(*acks))

    def _publish_watermark(self, own: Tuple[int, int, int]) -> Tuple[int, int, int]:
        """Publish the min across consumers to ``<log>.ack`` for the wire
        tailer and return it.  Reading the sidecars and replacing
        ``<log>.ack`` run under one exclusive lock, and every committer
        writes its own sidecar before taking it: whoever publishes last
        has seen every sibling's final sidecar, so a descheduled
        committer can never overwrite a sibling's publish with the
        stale min it read earlier."""
        with open(os.path.join(self._ack_dir(), "publish.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
            pos, lsn, reg = self._ack_watermark(own)
            _write_atomic(
                self.path + ".ack",
                json.dumps({"pos": pos, "lsn": lsn, "log_id": self._log_identity()}),
            )
        return pos, lsn, reg

    def commit(self, end: dict) -> None:
        # Durable ack — replay analog of send_feedback(flush_lsn=...)
        # (reference reader.py:161-163 / stores.py:83, quirk Q7 fixed: the
        # acked value is the commit *end* LSN).
        pos = int(end["pos"])
        if self._acked_pos == 0:
            # Fresh reader (restart): seed the high-water from the own
            # sidecar so a replayed batch's re-ack can't rewind it.  A
            # STALE sidecar (the log was recreated, the sidecar kept)
            # must NOT seed: its pos would suppress every ack of the new
            # generation until the log regrows past it — unbounded WAL
            # retention (ADVICE r7).  _read_acks drops it.
            seed = self._read_acks([self._ack_file()])
            if seed:
                self._acked_pos = seed[0][0]
        if pos <= self._acked_pos:
            # Stale re-ack from a pre-restart batch replay: the flush
            # position (like walsender flush_lsn) must never move
            # backwards.  Guarded by the ACK high-water mark, NOT the
            # offer floor — latestOffset has already bumped the floor to
            # the next cut by the time Spark commits this batch, so a
            # floor comparison rejects every live ack.
            return
        self._acked_pos = pos
        own_reg = int(self._offset_registry_ref(end) or 0) if "reg" in end else 0
        own = (pos, int(end.get("lsn", 0) or 0), own_reg)
        # The log_id stamp lets a later reader reject this sidecar if
        # the log is recreated.
        os.makedirs(self._ack_dir(), exist_ok=True)
        rec = {"pos": pos, "lsn": own[1], "reg": own_reg, "log_id": self._log_identity()}
        _write_atomic(self._ack_file(), json.dumps(rec))
        # Retention watermark: the min across every registered consumer —
        # no reader loses segments, snapshots, or schema versions to a
        # faster sibling's acks.
        gc_pos, gc_lsn, rev = self._publish_watermark(own)
        # Replay-log retention GC: segments wholly below the durably
        # acked watermark can never be replayed (confirmed-flush
        # semantics) — drop them.  The tailer GCs on its ack-forward
        # path too; both are idempotent, whichever end runs first wins.
        replay.gc_segments(self.path, gc_pos)
        # Registry-snapshot GC: batches at or below the committed offset
        # are never replayed by ANY consumer once the min watermark passes
        # them, so snapshots OLDER than the min-named one are garbage (the
        # named one stays — it seeds the next batch).  Keeps the sidecar
        # O(live window), not O(history).
        if rev > 1:
            d = self._registry_dir()
            try:
                for fn in os.listdir(d):
                    if fn.startswith("reg-") and fn.endswith(".json"):
                        if fn[4:-5].isdigit() and int(fn[4:-5]) < rev:
                            os.remove(os.path.join(d, fn))
                    elif fn.endswith(".tmp"):
                        # Orphaned _write_atomic temp from a persist
                        # interrupted before its replace (the r8 soak left
                        # two behind under consumer kills).
                        os.remove(os.path.join(d, fn))
            except OSError:
                pass  # GC is best-effort; correctness never depends on it
        # Version-history GC (the snapshot-GC analog at the content
        # level): versions wholly superseded below the durably-acked LSN
        # can never be consulted by a replayable batch again.  Without
        # this, DDL churn grows every FUTURE snapshot O(total versions)
        # ever seen — the r8 soak's 1,599-ALTER storm reached a 147 MB
        # snapshot.  The revision watermark is unaffected (monotone,
        # rescan-stable); already-persisted snapshots are untouched.
        # Pruned at the MIN consumer LSN: snapshots this reader persists
        # are shared via `.registry.d`, and a slower sibling's batches
        # still need versions covering its own (lower) unacked ranges.
        self._registry.prune_below(gc_lsn)

    def stop(self) -> None:
        pass


class PgCdcBatchReader(DataSourceReader):
    """Batch read of the full log — the snapshot/bootstrap path (S3):
    ``spark.read.format("pgcdc").option("path", ...).load()``."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pgcdc source requires option 'path'")
        self.database = options.get("database", "replay")
        self.num_partitions = int(options.get("numpartitions", 4) or 4)
        self.on_decode_error = options.get("ondecodeerror", "fail").lower()
        self.emit_messages = str(
            options.get("emitmessages", "false")
        ).lower() in ("true", "1", "yes")

    def partitions(self) -> Sequence[InputPartition]:
        # A batch read covers the retained window (see scan_log).
        registry, ranges = scan_log(self.path, self.database)
        parts = _plan_partitions(
            self.path,
            ranges,
            registry.dumps(),
            self.database,
            self.num_partitions,
            self.on_decode_error,
            self.emit_messages,
        )
        return parts or [
            TxRangePartition(
                self.path, replay.log_min_pos(self.path), replay.log_size(self.path),
                registry.dumps(), self.database, self.on_decode_error, self.emit_messages,
            )
        ]

    def read(self, partition: TxRangePartition) -> Iterator[Tuple]:
        return _read_range(partition)


class PgCdcDataSource(DataSource):
    """format("pgcdc") — change-event envelope source (stream + batch)."""

    @classmethod
    def name(cls) -> str:
        return "pgcdc"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def streamReader(self, schema) -> PgCdcStreamReader:
        return PgCdcStreamReader(self.options)

    def reader(self, schema) -> PgCdcBatchReader:
        return PgCdcBatchReader(self.options)
