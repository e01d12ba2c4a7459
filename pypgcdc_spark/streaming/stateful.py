"""Custom stateful streaming operators (applyInPandasWithState).

The engine's answer to "operator Spark lacks": arbitrary per-key state
machines over a stream, Arrow-batched:

* ``key_version_tracker`` — per-key CDC bookkeeping (version count, last
  LSN, live/deleted flag) maintained incrementally across micro-batches:
  the streaming materialization of the reference's per-key apply loop,
  without re-reading the target table each batch.
* ``latest_version_feed`` — the streaming "deduplicating apply": emits a
  key's row only when a batch advances its highest-LSN version.
* ``running_value_stats`` — per-user running aggregates with custom logic
  (count / exact integer-cent sum) that outlives any window.
* ``pattern_matcher`` — a click→purchase automaton whose state carries
  across micro-batch boundaries.

State is per-key and bounded by key cardinality; at 100 TB the state
store shards by the groupBy key across executors (RocksDB-backed on a real
cluster).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The step functions below run ONCE PER KEY per micro-batch — at 1.5k keys
# x several batches that is thousands of Python calls per drain, so the
# bodies stay on numpy arrays (measured r12: the pandas-expression pattern
# step cost 953 us/call vs 118 us on numpy views; the stats step 269 vs
# 96 us — identical outputs, .round()/np.rint are the same half-to-even).

VERSION_SCHEMA = "user_id BIGINT, n_versions BIGINT, last_lsn BIGINT, alive BOOLEAN"
VERSION_STATE_SCHEMA = "n_versions BIGINT, last_lsn BIGINT, alive BOOLEAN"

STATS_SCHEMA = "user_id BIGINT, n_events BIGINT, total_cents BIGINT"
STATS_STATE_SCHEMA = "n_events BIGINT, total_cents BIGINT"


def _version_step(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, last_lsn, alive = state.get if state.exists else (0, -1, True)
    for pdf in batches:
        if not len(pdf):
            continue
        lsn = pdf["lsn"].to_numpy()
        n += len(pdf)
        last_lsn = int(lsn.max())
        # The newest version decides liveness; stable argsort keeps the
        # original tie order the sort_values formulation had.
        order = np.argsort(lsn, kind="stable")
        alive = bool(pdf["op"].to_numpy()[order[-1]] != "D")
    state.update((n, last_lsn, alive))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_versions": [n], "last_lsn": [last_lsn], "alive": [alive]}
    )


def key_version_tracker(changes: DataFrame) -> DataFrame:
    """changes: streaming DF with (user_id LONG, lsn LONG, op STRING).

    Emits the up-to-date per-key row-version bookkeeping every time the key
    sees traffic."""
    return changes.groupBy("user_id").applyInPandasWithState(
        _version_step,
        outputStructType=VERSION_SCHEMA,
        stateStructType=VERSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LATEST_SCHEMA = "user_id BIGINT, lsn BIGINT, op STRING, value DOUBLE"
LATEST_STATE_SCHEMA = "lsn BIGINT"


def _latest_step(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    prev_lsn = state.get[0] if state.exists else -1
    best = None
    for pdf in batches:
        if not len(pdf):
            continue
        cand = pdf.sort_values("lsn").iloc[-1]
        if best is None or cand["lsn"] > best["lsn"]:
            best = cand
    if best is not None and int(best["lsn"]) > prev_lsn:
        state.update((int(best["lsn"]),))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "lsn": [int(best["lsn"])],
                "op": [str(best["op"])],
                "value": [float(best["value"])],
            }
        )


def latest_version_feed(changes: DataFrame) -> DataFrame:
    """changes: streaming (user_id LONG, lsn LONG, op STRING, value DOUBLE).

    Per key, the state store keeps the highest LSN seen; a row flows
    downstream only when a batch advances it.  Replayed, duplicate and
    out-of-order events emit nothing, so the at-least-once envelope
    stream becomes a change-only feed and everything below it is
    idempotent — without re-reading the target table per batch the way
    the foreachBatch MERGE in ``cdc/apply.py`` does."""
    return changes.groupBy("user_id").applyInPandasWithState(
        _latest_step,
        outputStructType=LATEST_SCHEMA,
        stateStructType=LATEST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _stats_step(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        cents += int(np.rint(pdf["value"].to_numpy() * 100).astype(np.int64).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


def running_value_stats(events: DataFrame) -> DataFrame:
    """events: streaming DF with (user_id LONG, value DOUBLE)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _stats_step,
        outputStructType=STATS_SCHEMA,
        stateStructType=STATS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PATTERN_SCHEMA = (
    "user_id BIGINT, n_matches BIGINT, first_match_lsn BIGINT, matched_cents BIGINT"
)
PATTERN_STATE_SCHEMA = (
    "prev_type STRING, n_matches BIGINT, first_match_lsn BIGINT, matched_cents BIGINT"
)


def _pattern_step(
    key: Tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # prev_type carries the automaton ACROSS micro-batches: an adjacency
    # whose click arrives in batch N and purchase in batch N+1 must still
    # fire — that cross-boundary match is what distinguishes stateful CEP
    # from per-batch windowing.
    prev, n, first_lsn, cents = (
        state.get if state.exists else (None, 0, None, 0)
    )
    for pdf in batches:
        if not len(pdf):
            continue
        order = np.argsort(pdf["event_id"].to_numpy(), kind="stable")
        types = pdf["event_type"].to_numpy()[order]
        shifted = np.empty(len(types), dtype=object)
        shifted[0] = prev
        shifted[1:] = types[:-1]
        hit = (types == "purchase") & (shifted == "click")
        if hit.any():
            eids = pdf["event_id"].to_numpy()[order]
            vals = pdf["value"].to_numpy()[order]
            n += int(hit.sum())
            batch_first = int(eids[hit].min())
            first_lsn = batch_first if first_lsn is None else min(first_lsn, batch_first)
            cents += int(np.rint(vals[hit] * 100).astype(np.int64).sum())
        prev = types[-1]
    state.update((prev, n, first_lsn, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_matches": [n],
            "first_match_lsn": [first_lsn],
            "matched_cents": [cents],
        }
    )


def pattern_matcher(events: DataFrame) -> DataFrame:
    """events: streaming DF with (user_id LONG, event_id LONG,
    event_type STRING, value DOUBLE).  Emits the running click→purchase
    adjacency-match state per user on every batch the user appears in."""
    return events.groupBy("user_id").applyInPandasWithState(
        _pattern_step,
        outputStructType=PATTERN_SCHEMA,
        stateStructType=PATTERN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
