"""Live Postgres logical-replication tailer (thin, optional backend).

Structural twin of the reference's connection layer (``reader.py:125-176``):
opens a ``LogicalReplicationConnection``, starts ``pgoutput`` streaming from
a slot (creating it — with exported snapshot — when missing), and appends
every raw message to a :class:`~pypgcdc_spark.sources.replay.ReplayLogWriter`
file that the ``pgcdc`` DataSource tails.  The log decouples the single
replication socket (inherently serial) from Spark's parallel decode, and
doubles as the replay buffer for at-least-once delivery.

This environment has no Postgres server or psycopg2, so the class is
import-gated and exercised only structurally; the DataSource never imports
it.  Acks flow back by polling ``<path>.ack`` — the min ack across the
source's consumers, which every ``commit()`` publishes — and forwarding
``send_feedback(flush_lsn=lsn)`` (reference ``reader.py:161-163``).

Round 2: ``pypgcdc_spark.sources.pgwire.WireReplicationTailer`` is the
preferred, dependency-free implementation of the same contract — a
clean-room protocol-v3 client (SCRAM/MD5 auth, walsender CopyBoth
streaming, standby-status acks) whose handshake, streaming, and ack
propagation ARE testable here, against the fake walsender in
``tests/test_pgwire.py``.  This psycopg2 variant remains as the
battle-tested-driver alternative for deployments that prefer it.
"""

from __future__ import annotations

import json
import os
from typing import Optional

try:  # pragma: no cover - psycopg2 absent in this environment
    import psycopg2
    import psycopg2.extras

    HAVE_PSYCOPG2 = True
except ImportError:  # pragma: no cover
    psycopg2 = None
    HAVE_PSYCOPG2 = False

from pypgcdc_spark.sources.replay import ReplayLogWriter


class PostgresReplicationTailer:  # pragma: no cover - needs live Postgres
    """Tail a replication slot into a replay log file.

    Parameters mirror the reference reader's ctor (``reader.py:83-107``):
    dsn, publication, slot, resume LSN.
    """

    def __init__(
        self,
        dsn: str,
        publication_name: str,
        slot_name: str,
        log_path: str,
        start_lsn: int = 0,
    ):
        if not HAVE_PSYCOPG2:
            raise NotImplementedError(
                "psycopg2 is not installed; use the replay-log backend "
                "(pypgcdc_spark.sources.replay) instead"
            )
        self.dsn = dsn
        self.publication_name = publication_name
        self.slot_name = slot_name
        self.log_path = log_path
        self.start_lsn = start_lsn
        self.snapshot_name: Optional[str] = None
        self._conn = None
        self._cur = None

    def start(self) -> None:
        self._conn = psycopg2.connect(
            self.dsn, connection_factory=psycopg2.extras.LogicalReplicationConnection
        )
        self._cur = self._conn.cursor()
        opts = {"publication_names": self.publication_name, "proto_version": "1"}
        try:
            self._cur.start_replication(
                slot_name=self.slot_name, options=opts, start_lsn=self.start_lsn, decode=False
            )
        except psycopg2.ProgrammingError:
            # Slot missing: create it; the exported snapshot gives the
            # consistent initial-sync point (reference S2/S3,
            # reader.py:165-176 / stores.py:88-101).
            self._conn.rollback()
            self._cur.create_replication_slot(self.slot_name, output_plugin="pgoutput")
            row = self._cur.fetchone()
            if row:
                self.snapshot_name = row[2]
            self._cur.start_replication(
                slot_name=self.slot_name, options=opts, start_lsn=self.start_lsn, decode=False
            )

    def run(self, max_messages: int = 0) -> int:
        """Pump messages into the log; forward acks from the sidecar."""
        n = 0
        writer = ReplayLogWriter(self.log_path)
        ack_path = self.log_path + ".ack"
        try:
            while True:
                msg = self._cur.read_message()
                if msg is not None:
                    writer.append(msg.data_start, msg.payload, msg.send_time)
                    n += 1
                    if max_messages and n >= max_messages:
                        break
                if os.path.exists(ack_path):
                    with open(ack_path) as f:
                        lsn = json.load(f).get("lsn", 0)
                    if lsn:
                        self._cur.send_feedback(flush_lsn=lsn)
        finally:
            writer.close()
        return n

    def stop(self) -> None:
        if self._cur is not None:
            self._cur.close()
        if self._conn is not None:
            self._conn.close()
