"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions over a
workload's own log, single-threaded and in-process, except the transfer
probe, which goes through Spark.  :class:`TracedPgCdcDataSource` wraps
the ``pgcdc`` stream reader so that the driver-side calls Spark makes
inside a running query (``latestOffset``, ``partitions``, ``commit``)
are timed where they run: in the Python process Spark starts for the
source.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable, Dict, List

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.cdc.transform import MessageTransformer
from pypgcdc_spark.sources import replay
from pypgcdc_spark.sources.pgcdc import PgCdcDataSource, PgCdcStreamReader

SPANS_SUFFIX = ".bench_spans.jsonl"


def rate(work: Callable[[], int], min_seconds: float) -> float:
    """Units per second of ``work`` (which returns its unit count),
    repeated until at least ``min_seconds`` have passed."""
    units, t0 = 0, time.perf_counter()
    while True:
        units += work()
        elapsed = time.perf_counter() - t0
        if elapsed >= min_seconds:
            return units / elapsed


def in_process(log: str, scratch: str, min_seconds: float = 0.5) -> Dict[str, float]:
    """Framing, decode, envelope construction and the source's own
    planning/read, each over the whole log."""
    frames = list(replay.scan_frames(log))
    n_frames = len(frames)
    out: Dict[str, float] = {}
    out["replay.scan_frames.frames_per_s"] = rate(
        lambda: sum(1 for _ in replay.scan_frames(log)), min_seconds
    )
    out["replay.tx_boundaries.frames_per_s"] = rate(
        lambda: replay.tx_boundaries(log) and n_frames, min_seconds
    )
    payloads = [f.payload for f in frames]

    def decode() -> int:
        for p in payloads:
            pg.decode_message(p)
        return len(payloads)

    out["pgoutput.decode_message.msgs_per_s"] = rate(decode, min_seconds)

    out["transform.feed.events_per_s"] = rate(lambda: _feed(frames), min_seconds)

    # The stream reader writes sidecars next to its log: give it a copy.
    os.makedirs(scratch, exist_ok=True)
    copy = os.path.join(scratch, "reader.log")
    parts: List = []

    def read() -> int:
        for p in os.listdir(scratch):
            full = os.path.join(scratch, p)
            shutil.rmtree(full) if os.path.isdir(full) else os.remove(full)
        shutil.copyfile(log, copy)
        reader = PgCdcStreamReader({"path": copy})
        parts[:] = reader.partitions(reader.initialOffset(), reader.latestOffset())
        return sum(sum(1 for _ in reader.read(p)) for p in parts)

    out["pgcdc.read.events_per_s"] = rate(read, min_seconds)
    out["pgcdc.partitions.count"] = float(len(parts))
    return out


def _feed(frames) -> int:
    xform = MessageTransformer(registry=SchemaRegistry())
    n = 0
    for f in frames:
        for ev in xform.feed(f.lsn, f.payload):
            ev.as_flat_tuple()
            n += 1
    return n


def in_process_feed_rate(log: str, min_seconds: float = 0.5) -> float:
    """``transform.feed.events_per_s`` alone: the single-threaded
    decode + envelope baseline for the backlog's ``events_per_s``."""
    frames = list(replay.scan_frames(log))
    return rate(lambda: _feed(frames), min_seconds)


def batch_read(spark, log: str, events: int, min_seconds: float = 1.0) -> float:
    """Python DataSource -> JVM row transfer: batch reads of the whole
    log (``events`` envelope rows) into the ``noop`` sink."""

    def once() -> int:
        df = spark.read.format("pgcdc").option("path", log).load()
        df.write.format("noop").mode("overwrite").save()
        return events

    return rate(once, min_seconds)


class _TracedStreamReader(PgCdcStreamReader):
    """Times the reader's driver-side calls and appends the spans to
    ``<log>.bench_spans.jsonl`` once per committed batch."""

    def __init__(self, options):
        super().__init__(options)
        self._spans: List[dict] = []

    def _timed(self, name: str, fn, *args):
        t0 = time.time()
        try:
            return fn(*args)
        finally:
            self._spans.append({"name": name, "start": t0, "end": time.time()})

    def latestOffset(self) -> dict:
        return self._timed("pgcdc.latestOffset", super().latestOffset)

    def partitions(self, start, end):
        return self._timed("pgcdc.partitions", super().partitions, start, end)

    def commit(self, end) -> None:
        self._timed("pgcdc.commit", super().commit, end)
        self._flush()

    def stop(self) -> None:
        self._flush()
        super().stop()

    def _flush(self) -> None:
        if not self._spans:
            return
        with open(self.path + SPANS_SUFFIX, "a") as f:
            for s in self._spans:
                f.write(json.dumps(s) + "\n")
        self._spans = []


class TracedPgCdcDataSource(PgCdcDataSource):
    """``format("pgcdc")`` with a timed stream reader (traced runs only)."""

    def streamReader(self, schema) -> PgCdcStreamReader:
        return _TracedStreamReader(self.options)


def read_source_spans(log: str) -> List[dict]:
    try:
        with open(log + SPANS_SUFFIX) as f:
            return [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
