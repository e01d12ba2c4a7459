"""Seeded pgoutput replay-log generator and the oracle it keeps.

Everything here is plain Python: no Spark, no engine code beyond the
pgoutput encoders and the replay-log writer.  The same seed gives the
same log byte for byte (payloads, LSNs, and the frame send-time, which is
pinned to the commit timestamp), so two runs of one seed drain identical
inputs.

The oracle simulates what the engine must produce, independently of it:

* ``state``: per-key last-writer-wins current row after every change.
  A delete removes the key, a TOAST-unchanged column keeps the previous
  value, and ``note`` is NULL for every row last written before the
  ``ADD COLUMN`` Relation re-send;
* ``newest``: the newest event per key as ``BucketedViewMaintainer``
  sees it, folded by :meth:`Oracle.view` into live keys and cents per
  event type;
* ``txs``: per-transaction byte range, op counts and keys, from which the
  landing-table check and ``failed_frac`` are computed.
"""

from __future__ import annotations

import random
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Optional, Sequence, Tuple

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.sources.replay import ReplayLogWriter
from pypgcdc_spark.testing import STREAMED_COLS, STREAMED_RELID

RELID = STREAMED_RELID
TABLE = "events_state"
COLS = list(STREAMED_COLS)  # user_id int8 (key), last_event text, value float8
COLS_ALTERED = COLS + [(False, "note", 25, -1)]  # ALTER TABLE ... ADD COLUMN note text
EVENT_TYPES = ("click", "view", "cart", "purchase", "share")
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

# A current-state row as the oracle keeps it: (last_event, value, note).
Row = Tuple[str, float, Optional[str]]


@dataclass
class Tx:
    xid: int
    end_pos: int  # byte position just past the Commit frame
    ops: Counter
    keys: Tuple[int, ...]
    due: float = 0.0  # live: seconds after the generator started
    sent: float = 0.0  # live: when the Commit frame was flushed, same clock


@dataclass
class Oracle:
    state: Dict[int, Row] = field(default_factory=dict)
    newest: Dict[int, Optional[Tuple[str, int]]] = field(default_factory=dict)
    txs: List[Tx] = field(default_factory=list)

    @property
    def events(self) -> int:
        return sum(sum(t.ops.values()) for t in self.txs)

    def op_counts(self) -> Counter:
        total: Counter = Counter()
        for t in self.txs:
            total.update(t.ops)
        return total

    def view(self) -> Dict[str, Tuple[int, int]]:
        """event_type -> (live keys, total cents)."""
        out: Dict[str, Tuple[int, int]] = {}
        for v in self.newest.values():
            if v is not None:
                n, c = out.get(v[0], (0, 0))
                out[v[0]] = (n + 1, c + v[1])
        return out


class LogWriter:
    """Begin..Commit transactions with ``testing.WorkloadWriter``'s LSN
    layout (10 per frame; Begin.final_lsn is the Commit frame's LSN) and a
    deterministic frame send-time."""

    def __init__(self, path: str, start_lsn: int = 1000):
        self.w = ReplayLogWriter(path)
        self.lsn = start_lsn
        self.xid = 100

    def _append(self, payload: bytes, ts: datetime) -> None:
        self.lsn += 10
        self.w.append(self.lsn, payload, send_time=ts)

    def relation(self, cols) -> None:
        self._append(pg.encode_relation(RELID, "public", TABLE, cols), T0)

    def tx(self, messages: Sequence[bytes]) -> Tuple[int, int]:
        """Append one transaction; returns (xid, end byte position)."""
        self.xid += 1
        ts = T0 + timedelta(seconds=self.xid)
        commit_lsn = self.lsn + 10 * (len(messages) + 2)
        self._append(pg.encode_begin(commit_lsn, ts, self.xid), ts)
        for m in messages:
            self._append(m, ts)
        self._append(pg.encode_commit(commit_lsn, commit_lsn, ts), ts)
        return self.xid, self.w.pos

    def flush(self) -> None:
        self.w.flush()

    def close(self) -> None:
        self.w.close()


class _Changes:
    """Draws changes against the oracle's live keys and records them."""

    def __init__(self, rng: random.Random, oracle: Oracle, delete_p: float, toast_p: float):
        self.rng = rng
        self.oracle = oracle
        self.delete_p = delete_p
        self.toast_p = toast_p
        self.altered = False

    def change(self, key: int) -> Tuple[str, bytes]:
        rng, state = self.rng, self.oracle.state
        width = len(COLS_ALTERED if self.altered else COLS)
        if key in state and rng.random() < self.delete_p:
            del state[key]
            self.oracle.newest[key] = None
            return "D", pg.encode_delete(RELID, [str(key)] + [None] * (width - 1))
        ev = rng.choice(EVENT_TYPES)
        cents = rng.randrange(100_000)
        value = cents / 100
        note = f"n{rng.randrange(1000)}" if self.altered else None
        values = [str(key), ev, repr(value)] + ([note] if self.altered else [])
        if key not in state:
            state[key] = (ev, value, note)
            self.oracle.newest[key] = (ev, cents)
            return "I", pg.encode_insert(RELID, values)
        if rng.random() < self.toast_p:
            # last_event TOAST-unchanged: the engine must carry the old value.
            ev = state[key][0]
            state[key] = (ev, value, note)
            self.oracle.newest[key] = (ev, cents)
            return "U", pg.encode_update(RELID, values, toast_unchanged={1})
        state[key] = (ev, value, note)
        self.oracle.newest[key] = (ev, cents)
        return "U", pg.encode_update(RELID, values)


def _tx(log: LogWriter, changes: _Changes, keys: Sequence[int]) -> Tx:
    ops: Counter = Counter()
    msgs = []
    for k in keys:
        op, m = changes.change(k)
        ops[op] += 1
        msgs.append(m)
    xid, end = log.tx(msgs)
    tx = Tx(xid, end, ops, tuple(keys))
    changes.oracle.txs.append(tx)
    return tx


def write_backlog(path: str, seed: int, n_tx: int, n_keys: int, alter: bool = True) -> Oracle:
    """Multi-row transactions (3..7 rows) on uniform keys, ~10% deletes,
    and, with ``alter``, TOAST-unchanged updates and one ``ADD COLUMN``
    Relation re-send at the middle transaction."""
    rng = random.Random(seed)
    oracle = Oracle()
    changes = _Changes(rng, oracle, delete_p=0.12, toast_p=0.2 if alter else 0.0)
    log = LogWriter(path)
    log.relation(COLS)
    for i in range(n_tx):
        if alter and i == n_tx // 2:
            log.relation(COLS_ALTERED)
            changes.altered = True
        _tx(log, changes, [rng.randrange(n_keys) for _ in range(rng.randint(3, 7))])
    log.close()
    return oracle


class Zipf:
    """Zipf(s) over ``n`` keys, hot keys scattered by a seeded permutation."""

    def __init__(self, rng: random.Random, n: int, s: float):
        self.rng = rng
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        acc, self.cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)

    def draw(self) -> int:
        return self.rng.choices(self.keys, cum_weights=self.cum)[0]


class Trickle(threading.Thread):
    """Open-loop generator: ``n_tx`` two-row transactions, the i-th due at
    ``start + i / rate``, each appended and flushed when due whether or
    not the pipeline kept up.  :meth:`write_warm` writes more ahead of
    them, for the pipeline's set-up.  Content depends on the seed only."""

    ROWS_PER_TX = 2

    def __init__(self, path: str, seed: int, rate: float, n_tx: int, n_keys: int):
        super().__init__(name="trickle", daemon=True)
        self.rate = rate
        self.n_tx = n_tx
        self.oracle = Oracle()
        rng = random.Random(seed)
        self.zipf = Zipf(rng, n_keys, 1.2)
        self.changes = _Changes(rng, self.oracle, delete_p=0.1, toast_p=0.0)
        self.log = LogWriter(path)
        self.log.relation(COLS)
        self.log.flush()
        self.n_warm = 0
        self.start_time = 0.0
        self.error: Optional[BaseException] = None

    def run(self) -> None:
        try:
            self.start_time = time.time()
            for i in range(self.n_tx):
                due = i / self.rate
                delay = self.start_time + due - time.time()
                if delay > 0:
                    time.sleep(delay)
                tx = self._tx()
                self.log.flush()
                tx.due = due
                tx.sent = time.time() - self.start_time
        except BaseException as exc:  # surfaced by the caller after join()
            self.error = exc
        finally:
            self.log.close()

    def write_warm(self, n_tx: int) -> None:
        """Append and flush ``n_tx`` set-up transactions now."""
        for _ in range(n_tx):
            self._tx()
        self.log.flush()
        self.n_warm += n_tx

    def _tx(self) -> Tx:
        return _tx(self.log, self.changes, [self.zipf.draw() for _ in range(self.ROWS_PER_TX)])

    @property
    def timed(self) -> List[Tx]:
        """The transactions sent on schedule (the warm-up ones excluded)."""
        return self.oracle.txs[self.n_warm:]

    def lateness_ms(self) -> List[float]:
        return [(t.sent - t.due) * 1000.0 for t in self.timed]
