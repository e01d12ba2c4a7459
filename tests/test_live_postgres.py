"""LIVE PostgreSQL end-to-end (the round-1..5 "missing" item).

This environment ships real PostgreSQL 15 binaries (no Docker needed):
the module fixture initdb's a throwaway cluster with ``wal_level=logical``
+ SCRAM auth + TLS + a tiny ``logical_decoding_work_mem`` (so v2
streaming genuinely engages) + ``max_prepared_transactions`` (two-phase),
and every test drives it EXCLUSIVELY through the repo's own clean-room
wire client — DDL/DML over simple query on walsender connections, slot
creation with exported snapshot, COPY initial sync, CopyBoth streaming,
standby-status acks.

This ports the reference's integration matrix
(``/root/reference/tests/test_reader.py:85-164``, run there against
Dockerized PG 12.9/13.6) and goes beyond it: pgoutput v2 streamed
transactions, two-phase commit, TLS + SCRAM-SHA-256-PLUS channel
binding — none of which the reference speaks (it pins proto_version
'1', ``reader.py:136-141``).

Skipped automatically when PostgreSQL binaries are unavailable or the
cluster cannot start (e.g. no non-root user to run it under).
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import struct
import subprocess
import tempfile
import threading
import time

import pytest

from pypgcdc_spark.cdc import pgoutput as pg
from pypgcdc_spark.cdc.registry import SchemaRegistry
from pypgcdc_spark.cdc.transform import MessageTransformer
from pypgcdc_spark.sources.pgwire import (
    ProtocolError,
    ReplicationClient,
    WireReplicationTailer,
)
from pypgcdc_spark.sources.replay import scan_frames

USER, PASSWORD, DB = "rep", "test_pw", "postgres"

pytestmark = pytest.mark.skipif(
    shutil.which("initdb") is None or shutil.which("pg_ctl") is None,
    reason="PostgreSQL server binaries not installed",
)


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _run_as(user: str, cmd: str) -> subprocess.CompletedProcess:
    if os.geteuid() == 0:
        return subprocess.run(
            ["su", user, "-s", "/bin/bash", "-c", cmd],
            cwd="/tmp",
            capture_output=True,
            text=True,
        )
    return subprocess.run(
        ["bash", "-c", cmd], cwd="/tmp", capture_output=True, text=True
    )


def _self_signed_cert(cn: str, d: str):
    import datetime

    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, cn)])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(days=1))
        .not_valid_after(now + datetime.timedelta(days=1))
        .sign(key, hashes.SHA256())
    )
    cert_pem, key_pem = f"{d}/server.crt", f"{d}/server.key"
    with open(cert_pem, "wb") as f:
        f.write(cert.public_bytes(serialization.Encoding.PEM))
    with open(key_pem, "wb") as f:
        f.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.TraditionalOpenSSL,
                serialization.NoEncryption(),
            )
        )
    return cert_pem, key_pem


class LivePg:
    """Throwaway PostgreSQL cluster + helpers, all via the wire client."""

    def __init__(self):
        self.dir = tempfile.mkdtemp(prefix="pglive_test_")
        self.port = _free_port()
        self.run_user = None
        if os.geteuid() == 0:
            # postgres refuses to run as root: use (or create) a plain user.
            for candidate in ("pgrunner", "nobody"):
                try:
                    pwd.getpwnam(candidate)
                    self.run_user = candidate
                    break
                except KeyError:
                    continue
            if self.run_user is None:
                r = subprocess.run(
                    ["useradd", "-m", "pgrunner"], capture_output=True
                )
                if r.returncode == 0:
                    self.run_user = "pgrunner"
            if self.run_user is None:
                pytest.skip("no non-root user available to run postgres")
            subprocess.run(["chown", "-R", self.run_user, self.dir], check=True)
        else:
            self.run_user = pwd.getpwuid(os.geteuid()).pw_name

        pwfile = f"{self.dir}/pw"
        with open(pwfile, "w") as f:
            f.write(PASSWORD + "\n")
        cert, key = _self_signed_cert("127.0.0.1", self.dir)
        if os.geteuid() == 0:
            subprocess.run(["chown", "-R", self.run_user, self.dir], check=True)
        os.chmod(key, 0o600)

        data = f"{self.dir}/data"
        r = _run_as(
            self.run_user,
            f"initdb -D {data} -U {USER} --pwfile={pwfile} "
            "--auth-host=scram-sha-256 --auth-local=trust",
        )
        if r.returncode != 0:
            pytest.skip(f"initdb failed: {r.stderr[-200:]}")
        with open(f"{data}/postgresql.conf", "a") as f:
            f.write(
                f"""
listen_addresses = '127.0.0.1'
port = {self.port}
wal_level = logical
max_wal_senders = 10
max_replication_slots = 10
max_prepared_transactions = 10
logical_decoding_work_mem = 64kB
unix_socket_directories = '{self.dir}'
ssl = on
ssl_cert_file = '{cert}'
ssl_key_file = '{key}'
"""
            )
        with open(f"{data}/pg_hba.conf", "a") as f:
            f.write(
                "host all all 127.0.0.1/32 scram-sha-256\n"
                "host replication all 127.0.0.1/32 scram-sha-256\n"
                "hostssl all all 127.0.0.1/32 scram-sha-256\n"
                "hostssl replication all 127.0.0.1/32 scram-sha-256\n"
            )
        r = _run_as(
            self.run_user,
            f"pg_ctl -D {data} -l {self.dir}/pg.log -w start",
        )
        if r.returncode != 0:
            pytest.skip(f"pg_ctl start failed: {open(self.dir + '/pg.log').read()[-300:]}")

    def stop(self):
        _run_as(self.run_user, f"pg_ctl -D {self.dir}/data -m immediate stop")
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- helpers over the wire client -----------------------------------

    def sql_conn(self, **kw) -> ReplicationClient:
        c = ReplicationClient(
            "127.0.0.1", self.port, USER, DB, PASSWORD, timeout=10.0, **kw
        )
        c.connect()
        return c

    def sql(self, *statements):
        c = self.sql_conn()
        try:
            out = [c.simple_query(s) for s in statements]
            return out[-1]
        finally:
            c.close()

    def tailer(self, slot, log, **kw) -> WireReplicationTailer:
        return WireReplicationTailer(
            "127.0.0.1",
            self.port,
            USER,
            DB,
            "pypgcdc_pub",
            slot,
            log,
            password=PASSWORD,
            timeout=1.0,  # short idle ticks keep max_idle waits snappy
            **kw,
        )

    def confirmed_flush(self, slot) -> int:
        rows = self.sql(
            f"SELECT confirmed_flush_lsn::TEXT FROM pg_replication_slots "
            f"WHERE slot_name = '{slot}'"
        )
        hi, lo = rows[0][0].split("/")
        return (int(hi, 16) << 32) | int(lo, 16)


@pytest.fixture(scope="module")
def live():
    server = LivePg()
    server.sql(
        "CREATE TABLE accounts (id BIGINT PRIMARY KEY, "
        "created TIMESTAMPTZ DEFAULT '2024-01-01T00:00:00Z', "
        "balance NUMERIC(12,2), meta JSONB, name TEXT)",
        "CREATE PUBLICATION pypgcdc_pub FOR TABLE accounts",
    )
    yield server
    server.stop()


def _decode(log):
    x = MessageTransformer(registry=SchemaRegistry())
    events = []
    for fr in scan_frames(log):
        events.extend(x.feed(fr.lsn, fr.payload))
    return events, x.stats


def _drain(tailer, idle_ticks=3, **kw):
    """run() until the stream has been idle for idle_ticks × timeout."""
    return tailer.run(max_idle=idle_ticks, **kw)


def test_live_slot_snapshot_initial_sync_and_stream(live, tmp_path):
    """The reference's S2/S3/S5 flow against REAL Postgres: slot created
    with an exported snapshot, COPY initial sync on a second connection
    under that snapshot, then the stream applies cleanly on top — and
    every pgoutput type (bigint, timestamptz, numeric, jsonb, text)
    round-trips the decoder."""
    live.sql(
        "INSERT INTO accounts (id, balance, meta, name) VALUES "
        "(1, 10.50, '{\"a\": 1}', 'alice'), (2, 20.00, NULL, E'tab\\there')"
    )
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_sync", log)
    # prepare(): slot created with an exported snapshot that REMAINS
    # valid (a real server invalidates it at the next command on the
    # exporting connection, so streaming must not start yet).
    assert t.prepare() is not None
    assert t.snapshot_name
    seed = t.initial_sync(
        "accounts", ["id", "balance", "meta", "name"]
    )
    assert sorted(seed) == [
        ("1", "10.50", '{"a": 1}', "alice"),
        ("2", "20.00", None, "tab\there"),
    ]
    t.start()  # now the stream begins at the slot's consistent point
    # Rows committed AFTER the snapshot arrive ONLY via the stream.
    live.sql(
        "INSERT INTO accounts (id, balance, meta, name) "
        "VALUES (3, 30.25, '{\"b\": [1,2]}', 'carol')",
        "UPDATE accounts SET balance = 11.00 WHERE id = 1",
        "DELETE FROM accounts WHERE id = 2",
    )
    n = _drain(t)
    t.stop()
    assert n > 0
    events, _ = _decode(log)
    assert [e.op for e in events] == ["I", "U", "D"]
    ins = events[0]
    assert ins.after["id"] == "3"
    assert ins.after["balance"] == "30.25"
    assert ins.after["meta"] == '{"b": [1, 2]}'  # jsonb normalizes spacing
    assert ins.after["created"].startswith("2024-01-01")
    assert events[1].after["balance"] == "11.00"
    assert events[2].key == {"id": "2"}
    # seed + stream = live table state
    state = {r[0]: r for r in seed}
    for e in events:
        if e.op == "D":
            state.pop(e.key["id"])
        else:
            state[e.after["id"]] = (
                e.after["id"],
                e.after["balance"],
                e.after["meta"],
                e.after["name"],
            )
    truth = {
        r[0]: r
        for r in live.sql("SELECT id::TEXT, balance::TEXT, meta::TEXT, name FROM accounts")
    }
    assert state == truth
    live.sql("SELECT pg_drop_replication_slot('slot_sync')")


def test_live_spooled_initial_sync(live, tmp_path):
    """The distributed bootstrap path against real Postgres: COPY bytes
    spool to row-aligned chunks under the exported snapshot."""
    live.sql(
        "INSERT INTO accounts (id, balance, name) "
        "SELECT i + 1000, i * 1.5, 'bulk_' || i FROM generate_series(1, 2000) g(i)"
    )
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_spool", log)
    t.prepare()
    spool = t.initial_sync_to_spool(
        "accounts", ["id", "name"], str(tmp_path / "spool"), chunk_bytes=8192
    )
    t.stop()
    assert len(spool.paths) > 2
    assert spool.max_buffered <= 8192 + 65536
    from pypgcdc_spark.sources.pgwire import _copy_unescape

    got = []
    for p in spool.paths:
        data = open(p, "rb").read()
        assert data.endswith(b"\n")
        for line in data.decode().split("\n"):
            if line:
                got.append(tuple(_copy_unescape(v) for v in line.split("\t")))
    n_rows = live.sql("SELECT COUNT(*) FROM accounts")[0][0]
    assert len(got) == int(n_rows)
    live.sql(
        "SELECT pg_drop_replication_slot('slot_spool')",
        "DELETE FROM accounts WHERE id > 1000",
    )


def test_live_ack_advances_confirmed_flush(live, tmp_path):
    """The ack loop against real Postgres: the source's `<log>.ack`
    sidecar value reaches the server as a Standby Status Update and
    pg_replication_slots.confirmed_flush_lsn advances — WAL retention is
    bounded by what Spark durably processed (reference K2)."""
    import json

    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_ack", log)
    t.start()
    before = live.confirmed_flush("slot_ack")
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (10, 1.00, 'ack')")
    n = _drain(t)
    assert n > 0
    frames = list(scan_frames(log))
    commit_lsn = frames[-1].lsn
    with open(log + ".ack", "w") as f:
        json.dump({"pos": frames[-1].end_pos, "lsn": commit_lsn}, f)
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (11, 2.00, 'ack2')")
    _drain(t)  # processes the ack file, sends standby status, drains DML
    t.stop()
    after = live.confirmed_flush("slot_ack")
    assert after >= commit_lsn > before
    live.sql(
        "SELECT pg_drop_replication_slot('slot_ack')",
        "DELETE FROM accounts WHERE id IN (10, 11)",
    )


def test_live_restart_resumes_without_duplicates(live, tmp_path):
    """Stop the tailer, run more DML, restart from the flushed LSN: the
    log gains only the new transactions (reference K3)."""
    import json

    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_resume", log)
    t.start()
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (20, 1.00, 'r1')")
    _drain(t)
    t.stop()
    frames1 = list(scan_frames(log))
    assert frames1
    with open(log + ".ack", "w") as f:
        json.dump({"pos": frames1[-1].end_pos, "lsn": frames1[-1].lsn}, f)

    live.sql("INSERT INTO accounts (id, balance, name) VALUES (21, 2.00, 'r2')")
    t2 = live.tailer("slot_resume", log, start_lsn=frames1[-1].lsn)
    t2.start()
    _drain(t2)
    t2.stop()
    events, _ = _decode(log)
    names = [e.after["name"] for e in events if e.op == "I"]
    assert names == ["r1", "r2"]  # no dupes, no gaps
    live.sql(
        "SELECT pg_drop_replication_slot('slot_resume')",
        "DELETE FROM accounts WHERE id IN (20, 21)",
    )


def test_live_alter_table_relation_resend(live, tmp_path):
    """ALTER TABLE mid-stream: the walsender re-sends Relation with the
    new column set; the versioned registry types events before and after
    by their own spans (reference Q4 fixed)."""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_alter", log)
    t.start()
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (30, 1.00, 'pre')")
    _drain(t)
    live.sql(
        "ALTER TABLE accounts ADD COLUMN tag TEXT DEFAULT 'new'",
        "INSERT INTO accounts (id, balance, name) VALUES (31, 2.00, 'post')",
    )
    _drain(t)
    t.stop()
    events, _ = _decode(log)
    ins = [e for e in events if e.op == "I"]
    assert "tag" not in ins[0].after
    assert ins[1].after["tag"] == "new"
    live.sql(
        "SELECT pg_drop_replication_slot('slot_alter')",
        "ALTER TABLE accounts DROP COLUMN tag",
        "DELETE FROM accounts WHERE id IN (30, 31)",
    )


def test_live_toast_unchanged_tuples(live, tmp_path):
    """A TOASTed value not touched by an UPDATE arrives as the 'u'
    (unchanged) tuple marker, never inline (reference test_reader.py's
    TOAST scenario)."""
    from pypgcdc_spark.cdc.models import TOAST_UNCHANGED

    big = "x" * 200_000  # far past TOAST_TUPLE_THRESHOLD
    live.sql(
        f"INSERT INTO accounts (id, balance, name) VALUES (40, 1.00, '{big}')"
    )
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_toast", log)
    t.start()
    live.sql("UPDATE accounts SET balance = 2.00 WHERE id = 40")
    _drain(t)
    t.stop()
    events, _ = _decode(log)
    ups = [e for e in events if e.op == "U"]
    assert ups and ups[0].after["balance"] == "2.00"
    assert ups[0].after["name"] is TOAST_UNCHANGED
    live.sql(
        "SELECT pg_drop_replication_slot('slot_toast')",
        "DELETE FROM accounts WHERE id = 40",
    )


def test_live_v2_streamed_transaction(live, tmp_path):
    """pgoutput protocol v2 against real Postgres: one transaction big
    enough to blow logical_decoding_work_mem (64kB) streams as Stream
    Start/Stop segments with in-segment xid prefixes and closes with
    Stream Commit — reassembled to exactly the committed rows.  The
    reference cannot do this at all (proto_version '1')."""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_v2", log, proto_version=2, streaming=True)
    t.start()
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) "
        "SELECT i + 5000, i * 0.25, 'v2_' || i FROM generate_series(1, 3000) g(i)",
        "COMMIT",
    )
    _drain(t)
    t.stop()
    kinds = {fr.payload[:1] for fr in scan_frames(log)}
    assert b"S" in kinds and b"E" in kinds and b"c" in kinds  # genuinely streamed
    events, stats = _decode(log)
    assert stats.streamed_txs == 1
    ins = [e for e in events if e.op == "I"]
    assert len(ins) == 3000
    assert all(e.commit_lsn is not None for e in ins)
    assert ins[0].after["name"] == "v2_1" and ins[-1].after["name"] == "v2_3000"
    live.sql(
        "SELECT pg_drop_replication_slot('slot_v2')",
        "DELETE FROM accounts WHERE id > 5000",
    )


def test_live_two_phase_commit_and_rollback(live, tmp_path):
    """Two-phase decoding against real Postgres 15: a slot created with
    TWO_PHASE delivers BeginPrepare..Prepare at PREPARE TRANSACTION time,
    the pending buffer drains at COMMIT PREPARED, and a ROLLBACK PREPARED
    discards — the reference speaks neither."""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_2pc", log, proto_version=3, streaming=True, two_phase=True)
    t.start()
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) VALUES (60, 6.00, 'tpc_commit')",
        "PREPARE TRANSACTION 'gid_commit'",
    )
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) VALUES (61, 6.10, 'tpc_rollback')",
        "PREPARE TRANSACTION 'gid_rollback'",
    )
    live.sql("COMMIT PREPARED 'gid_commit'", "ROLLBACK PREPARED 'gid_rollback'")
    _drain(t)
    t.stop()
    kinds = {fr.payload[:1] for fr in scan_frames(log)}
    assert b"b" in kinds and b"P" in kinds and b"K" in kinds and b"r" in kinds
    events, stats = _decode(log)
    assert stats.prepared_txs == 2
    assert stats.committed_prepared == 1 and stats.rolled_back_prepared == 1
    ins = [e for e in events if e.op == "I"]
    assert [e.after["name"] for e in ins] == ["tpc_commit"]
    live.sql(
        "SELECT pg_drop_replication_slot('slot_2pc')",
        "DELETE FROM accounts WHERE id IN (60, 61)",
    )


def test_live_tls_scram_plus_channel_binding(live, tmp_path):
    """TLS + SCRAM-SHA-256-PLUS against real Postgres: over sslmode=
    require the server advertises -PLUS, the client binds to the real
    server certificate (tls-server-end-point), and Postgres verifies the
    binding — then replication streams over the encrypted socket."""
    c = live.sql_conn(sslmode="require")
    try:
        assert c._tls
        assert c.identify_system()["dbname"] == DB
    finally:
        c.close()
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_tls", log, sslmode="require")
    t.start()
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (70, 7.00, 'tls')")
    _drain(t)
    t.stop()
    events, _ = _decode(log)
    assert [e.after["name"] for e in events if e.op == "I"] == ["tls"]
    live.sql(
        "SELECT pg_drop_replication_slot('slot_tls')",
        "DELETE FROM accounts WHERE id = 70",
    )


@pytest.mark.parametrize("binary", [False, True], ids=["text", "binary"])
def test_live_spark_end_to_end_materialize(live, tmp_path, spark, binary):
    """The full engine path on live changes: wire tailer -> replay log ->
    pgcdc DataSource -> DeleteAwareMerger materialized current state ==
    the live table queried directly.  Runs in both wire formats — with
    ``binary 'true'`` the executor-side decode renders canonical text
    (cdc.pgbin) before the same typed casts, so the materialized state
    is identical."""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_spark", log, binary=binary)
    t.start()
    live.sql(
        "INSERT INTO accounts (id, balance, meta, name) VALUES "
        "(80, 8.00, '{\"x\": 1}', 'spark1'), (81, 8.10, NULL, 'spark2')",
        "UPDATE accounts SET balance = 9.99 WHERE id = 80",
        "DELETE FROM accounts WHERE id = 81",
    )
    _drain(t)
    t.stop()

    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.cdc.models import ColumnDefinition, TableSchema

    schema = TableSchema(
        db="replay",
        namespace="public",
        table="accounts",
        relation_id=0,
        column_definitions=[
            ColumnDefinition("id", True, 20, "int8"),
            ColumnDefinition("created", False, 1184, "timestamptz"),
            ColumnDefinition(
                "balance", False, 1700, "numeric", atttypmod=((12 << 16) | 2) + 4
            ),
            ColumnDefinition("meta", False, 3802, "jsonb"),
            ColumnDefinition("name", False, 25, "text"),
        ],
    )
    engine = PgCdcEngine(spark)
    target = str(tmp_path / "accounts_state")
    engine.materialize(
        engine.stream(log), schema, target, checkpoint=str(tmp_path / "ckpt")
    )
    got = {
        r["id"]: (str(r["balance"]), r["name"])
        for r in spark.read.parquet(target).collect()
        if r["id"] in (80, 81)
    }
    assert got == {80: ("9.99", "spark1")}
    live.sql(
        "SELECT pg_drop_replication_slot('slot_spark')",
        "DELETE FROM accounts WHERE id IN (80, 81)",
    )


def test_live_sustained_throughput(live, tmp_path):
    """Sustained-ingest measurement against the REAL walsender: 50k rows
    in 10 transactions, tailed over the wire to a replay log, then
    decoded frame->envelope.  Asserts conservative floors (the committed
    rates go to LIVE_RESULT); the real value is that the measurement
    exists on the live path, not just the synthetic decode microbench."""
    n_tx, rows_per_tx = 10, 5000
    total = n_tx * rows_per_tx
    log = str(tmp_path / "wal_tp.replay")
    t = live.tailer("slot_tp", log)
    t.start()
    t0 = time.perf_counter()
    for k in range(n_tx):
        lo = 1_000_000 + k * rows_per_tx
        live.sql(
            "INSERT INTO accounts (id, balance, meta, name) "
            f"SELECT g, (g % 1000) / 100.0, NULL, 'u' || g "
            f"FROM generate_series({lo}, {lo + rows_per_tx - 1}) g"
        )
    _drain(t)
    tail_wall = time.perf_counter() - t0
    t.stop()

    t1 = time.perf_counter()
    events, stats = _decode(log)
    decode_wall = time.perf_counter() - t1
    inserts = [e for e in events if e.op == "I" and int(e.after["id"]) >= 1_000_000]
    assert len(inserts) == total
    tail_rate = total / tail_wall
    # _drain waits idle_ticks x timeout AFTER the last byte by design;
    # the streaming-active rate excludes that fixed drain tail.
    active = max(tail_wall - 3 * 1.0, 0.25)
    tail_rate_active = total / active
    decode_rate = total / decode_wall
    print(
        f"\nlive sustained ingest: {total} rows | "
        f"tail {tail_wall:.2f}s = {tail_rate:,.0f} rows/s "
        f"({tail_rate_active:,.0f} rows/s streaming-active) | "
        f"decode+transform {decode_wall:.2f}s = {decode_rate:,.0f} rows/s"
    )
    # Conservative floors (regression canaries, not benchmarks — the
    # committed rates live in LIVE_RESULT): a real regression (per-frame
    # fsync, a quadratic transformer) lands far below these.
    assert tail_rate > 3_000
    assert decode_rate > 15_000
    live.sql(
        "SELECT pg_drop_replication_slot('slot_tp')",
        "DELETE FROM accounts WHERE id >= 1000000",
    )


def test_live_restart_with_torn_tail_no_duplicates(live, tmp_path):
    """Cross-run resume against the REAL walsender with a TORN TAIL in
    the log: run 1 is capped by max_messages so it stops and flushes
    mid-transaction; run 2 (a brand-new tailer on the same log, resuming
    from 0 with no ack) must truncate the torn prefix, dedup the
    resent closed units by close-LSN, and land every frame exactly
    once — the decoded state must equal a clean single-run tail."""
    import json

    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_torn", log)
    t.start()
    # One multi-row transaction so a frame cap can land mid-unit:
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) VALUES (40, 1.00, 'a')",
        "INSERT INTO accounts (id, balance, name) VALUES (41, 2.00, 'b')",
        "INSERT INTO accounts (id, balance, name) VALUES (42, 3.00, 'c')",
        "COMMIT",
        "INSERT INTO accounts (id, balance, name) VALUES (43, 4.00, 'd')",
    )
    # Tx1 = R + B + 3I + C = 6 frames; capping at 7 stops INSIDE tx2
    # (its Begin buffered, flushed as the torn tail on return).
    n1 = _drain(t, max_messages=7)
    t.stop()
    frames1 = list(scan_frames(log))
    assert len(frames1) == n1 == 7

    # Restart from scratch (no ack): the server resends everything
    # committed after the slot's confirmed_flush (= all of it).
    t2 = live.tailer("slot_torn", log)
    t2.start()
    _drain(t2)
    t2.stop()
    events, _ = _decode(log)
    inserts = [e.after["name"] for e in events if e.op == "I"]
    assert inserts == ["a", "b", "c", "d"]  # no dupes, no gaps, no crash
    live.sql(
        "SELECT pg_drop_replication_slot('slot_torn')",
        "DELETE FROM accounts WHERE id IN (40, 41, 42, 43)",
    )


def test_live_streamed_two_phase_prepare(live, tmp_path):
    """STREAMED two-phase against real Postgres 15: a transaction large
    enough to spill past logical_decoding_work_mem that then PREPAREs
    arrives as Stream Start/Stop segments closed by Stream Prepare
    ('p'), stays pending across other traffic, and drains at COMMIT
    PREPARED — the v2+2PC composition only the fake walsender covered
    until now."""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_s2pc", log, proto_version=3, streaming=True, two_phase=True)
    t.start()
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) "
        "SELECT i + 9000, i * 0.5, 's2pc_' || i FROM generate_series(1, 2000) g(i)",
        "PREPARE TRANSACTION 'gid_streamed'",
    )
    # Unrelated traffic commits while the prepared tx is pending.
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (80, 8.00, 'mid')")
    live.sql("COMMIT PREPARED 'gid_streamed'")
    _drain(t)
    t.stop()
    kinds = {fr.payload[:1] for fr in scan_frames(log)}
    assert b"S" in kinds and b"p" in kinds and b"K" in kinds  # streamed prepare
    events, stats = _decode(log)
    assert stats.prepared_txs == 1 and stats.committed_prepared == 1
    ins = [e for e in events if e.op == "I"]
    assert len(ins) == 2001
    by_name = [e.after["name"] for e in ins]
    assert "mid" in by_name and "s2pc_1" in by_name and "s2pc_2000" in by_name
    # The streamed prepared tx's rows all resolved under ONE commit.
    s_lsns = {e.commit_lsn for e in ins if e.after["name"].startswith("s2pc_")}
    assert len(s_lsns) == 1
    live.sql(
        "SELECT pg_drop_replication_slot('slot_s2pc')",
        "DELETE FROM accounts WHERE id > 8999 OR id = 80",
    )


def test_live_drain_poll_drain_adopts_open_tail(live, tmp_path):
    """run() → idle-drain → run() again on the SAME CopyBoth stream (the
    drain-poll-drain pattern): a v2 transaction still OPEN at the first
    drain leaves its spilled segments as the log tail, and the second
    run() must ADOPT that tail — the server will not resend on a
    continuing stream — so the commit arriving later completes the unit
    with every row exactly once.  (After a fresh start() the same tail
    would be truncated instead; both behaviors are load-bearing.)"""
    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_adopt", log, proto_version=2, streaming=True)
    t.start()
    c = live.sql_conn()
    try:
        c.simple_query("BEGIN")
        c.simple_query(
            "INSERT INTO accounts (id, balance, name) "
            "SELECT i + 12000, i * 0.5, 'adopt_' || i FROM generate_series(1, 2000) g(i)"
        )
        # The walsender decodes only flushed WAL, and only the WAL writer
        # flushes an open transaction's WAL.  Once idle, it sleeps 5 s
        # (25 x wal_writer_delay) between flushes, longer than the 3 s
        # idle window of the drain below, which then saw no frames.  A
        # committed transaction with an xid flushes all WAL before its
        # commit record, and pgoutput sends nothing for it.
        live.sql("SELECT txid_current()")
        n1 = _drain(t)  # tx still open: spilled segments, torn tail
        frames_mid = list(scan_frames(log))
        kinds_mid = {fr.payload[:1] for fr in frames_mid}
        assert b"S" in kinds_mid and b"c" not in kinds_mid  # open span
        c.simple_query("COMMIT")
    finally:
        c.close()
    n2 = _drain(t)
    t.stop()
    assert n1 > 0 and n2 > 0
    events, stats = _decode(log)
    assert stats.streamed_txs == 1
    ins = [e for e in events if e.op == "I"]
    assert len(ins) == 2000  # every row exactly once, across the two drains
    assert ins[0].after["name"] == "adopt_1" and ins[-1].after["name"] == "adopt_2000"
    live.sql(
        "SELECT pg_drop_replication_slot('slot_adopt')",
        "DELETE FROM accounts WHERE id > 11999",
    )


def test_live_logical_messages_outbox(live, tmp_path):
    """pg_logical_emit_message against real Postgres (the transactional
    outbox pattern): with ``messages 'on'`` requested, a transactional
    message emitted inside a committed tx arrives as an 'M' frame and —
    with emitMessages on the source — becomes an op='M' envelope row
    under its transaction's context; a message in a ROLLED-BACK tx never
    surfaces; a non-transactional one arrives regardless."""
    from pypgcdc_spark.cdc.transform import MessageTransformer
    from pypgcdc_spark.cdc.registry import SchemaRegistry

    log = str(tmp_path / "wal.replay")
    t = live.tailer("slot_msg", log, messages=True)
    t.start()
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) VALUES (90, 9.00, 'ob')",
        "SELECT pg_logical_emit_message(true, 'outbox', '{\"event\":\"created\",\"id\":90}')",
        "COMMIT",
    )
    live.sql(
        "BEGIN",
        "SELECT pg_logical_emit_message(true, 'outbox', 'poison-rolled-back')",
        "ROLLBACK",
    )
    live.sql("SELECT pg_logical_emit_message(false, 'audit', 'non-tx ping')")
    # A trailing tx so the non-tx message folds into a closed unit.
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (91, 9.10, 'after')")
    _drain(t)
    t.stop()
    x = MessageTransformer(registry=SchemaRegistry(), emit_messages=True)
    events = []
    for fr in scan_frames(log):
        events.extend(x.feed(fr.lsn, fr.payload))
    msgs = [e for e in events if e.op == "M"]
    contents = [bytes.fromhex(e.after["content_hex"]) for e in msgs]
    assert b'{"event":"created","id":90}' in contents
    assert b"non-tx ping" in contents
    assert not any(b"poison" in c for c in contents)  # rolled back
    ob = next(e for e in msgs if e.key == {"prefix": "outbox"})
    assert ob.tx_id is not None and ob.commit_lsn is not None
    assert x.stats.messages_emitted == len(msgs) >= 2
    live.sql(
        "SELECT pg_drop_replication_slot('slot_msg')",
        "DELETE FROM accounts WHERE id IN (90, 91)",
    )


def test_live_publication_row_filter_and_column_list(live, tmp_path):
    """PG15 publication features through the client: a publication with a
    row filter (WHERE) and a column list delivers only matching rows and
    only listed columns — the Relation message carries the narrowed
    column set, so the decoded envelope simply has fewer fields.  No
    client-side work should be needed; this pins that assumption."""
    live.sql(
        "CREATE TABLE filtered (id BIGINT PRIMARY KEY, amount NUMERIC(12,2), "
        "secret TEXT, note TEXT)",
        "CREATE PUBLICATION pub_filtered FOR TABLE "
        "filtered (id, amount, note) WHERE (amount >= 100)",
    )
    log = str(tmp_path / "wal.replay")
    t = WireReplicationTailer(
        "127.0.0.1", live.port, USER, DB, "pub_filtered", "slot_filter", log,
        password=PASSWORD, timeout=1.0,
    )
    t.start()
    live.sql(
        "INSERT INTO filtered VALUES (1, 50.00, 's1', 'below')",   # filtered out
        "INSERT INTO filtered VALUES (2, 150.00, 's2', 'above')",  # delivered
        "INSERT INTO filtered VALUES (3, 99.99, 's3', 'edge-below')",
        "INSERT INTO filtered VALUES (4, 100.00, 's4', 'edge-at')",
    )
    _drain(t)
    t.stop()
    events, _ = _decode(log)
    ins = [e for e in events if e.op == "I"]
    assert [e.after["id"] for e in ins] == ["2", "4"]  # row filter applied
    for e in ins:
        assert set(e.after) == {"id", "amount", "note"}  # column list applied
        assert "secret" not in e.after
    assert ins[0].key == {"id": "2"}
    live.sql(
        "SELECT pg_drop_replication_slot('slot_filter')",
        "DROP PUBLICATION pub_filtered",
        "DROP TABLE filtered",
    )


def test_live_streamed_logical_message_drains_at_commit(live, tmp_path):
    """An outbox message emitted INSIDE a transaction large enough to
    stream (v2 segments) must buffer with the spilled changes and drain
    under the Stream Commit's context — the streamed twin of the plain
    outbox test."""
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc.transform import MessageTransformer

    log = str(tmp_path / "wal.replay")
    t = live.tailer(
        "slot_smsg", log, proto_version=2, streaming=True, messages=True
    )
    t.start()
    live.sql(
        "BEGIN",
        "INSERT INTO accounts (id, balance, name) "
        "SELECT i + 14000, i * 0.5, 'sm_' || i FROM generate_series(1, 1500) g(i)",
        "SELECT pg_logical_emit_message(true, 'outbox', 'streamed-payload')",
        "INSERT INTO accounts (id, balance, name) "
        "SELECT i + 16000, i * 0.5, 'sm2_' || i FROM generate_series(1, 1500) g(i)",
        "COMMIT",
    )
    _drain(t)
    t.stop()
    kinds = {fr.payload[:1] for fr in scan_frames(log)}
    assert b"S" in kinds and b"c" in kinds  # genuinely streamed
    x = MessageTransformer(registry=SchemaRegistry(), emit_messages=True)
    events = []
    for fr in scan_frames(log):
        events.extend(x.feed(fr.lsn, fr.payload))
    msgs = [e for e in events if e.op == "M"]
    assert [bytes.fromhex(m.after["content_hex"]) for m in msgs] == [b"streamed-payload"]
    ins = [e for e in events if e.op == "I"]
    assert len(ins) == 3000
    # The message drained under the SAME commit as the tx's rows.
    assert msgs[0].commit_lsn == ins[0].commit_lsn
    live.sql(
        "SELECT pg_drop_replication_slot('slot_smsg')",
        "DELETE FROM accounts WHERE id > 13999",
    )


def test_live_binary_format_tuples_match_text(live, tmp_path):
    """``binary 'true'`` against real Postgres: the same workload tailed
    through a binary-format slot and a text-format slot must decode to
    IDENTICAL envelopes — bigint, numeric, timestamptz, jsonb and text
    all render through cdc.pgbin to the text-mode canonical strings."""
    logs, tailers = {}, {}
    for mode, binary in (("text", False), ("bin", True)):
        log = str(tmp_path / f"wal_{mode}.replay")
        t = live.tailer(f"slot_{mode}fmt", log, binary=binary)
        t.start()  # both slots exist BEFORE the workload commits
        logs[mode], tailers[mode] = log, t
    live.sql(
        "INSERT INTO accounts (id, balance, name, meta) VALUES "
        "(95, 12345.67, 'binrow', '{\"k\": [1, 2]}')",
        "UPDATE accounts SET balance = 0.05 WHERE id = 95",
        # Edge values: numeric scale extremes, negatives, zero, explicit
        # microsecond timestamptz, NULLs, unicode text.
        "INSERT INTO accounts (id, balance, name, meta, created) VALUES "
        "(96, -9999999999.99, 'ünïcode — τ', NULL, "
        "'2024-06-01T12:30:45.123456Z')",
        "INSERT INTO accounts (id, balance, name) VALUES (97, 0.00, NULL)",
        "UPDATE accounts SET balance = -0.01 WHERE id = 97",
    )
    for mode in ("text", "bin"):
        _drain(tailers[mode])
        tailers[mode].stop()
    text_events, _ = _decode(logs["text"])
    bin_events, _ = _decode(logs["bin"])
    assert [e.op for e in bin_events] == [e.op for e in text_events]
    for te, be in zip(text_events, bin_events):
        assert be.after == te.after and be.key == te.key
    ins = next(e for e in bin_events if e.op == "I")
    assert ins.after["balance"] == "12345.67"
    assert ins.after["meta"] == '{"k": [1, 2]}'
    upd = next(e for e in bin_events if e.op == "U")
    assert upd.after["balance"] == "0.05"
    live.sql(
        "SELECT pg_drop_replication_slot('slot_textfmt')",
        "SELECT pg_drop_replication_slot('slot_binfmt')",
        "DELETE FROM accounts WHERE id IN (95, 96, 97)",
    )


def test_live_binary_format_full_type_matrix(live, tmp_path):
    """Every pgbin-supported OID against REAL server binary bytes: a
    wide typed table tailed through binary and text slots must decode
    identically — validating the hand-derived send-format renderings
    (numeric, date, time, timestamps, uuid, bytea, float specials,
    bool, smallint) against PostgreSQL's own."""
    live.sql(
        "CREATE TABLE typed (id BIGINT PRIMARY KEY, b BOOLEAN, si SMALLINT, "
        "i INT, f4 REAL, f8 DOUBLE PRECISION, n NUMERIC(20,5), d DATE, "
        "t TIME, ts TIMESTAMP, tz TIMESTAMPTZ, u UUID, by BYTEA, s TEXT, "
        "j JSON, jb JSONB, iv INTERVAL, ia INT[], ta TEXT[], na NUMERIC[], "
        "nu NUMERIC)",
        "CREATE PUBLICATION pub_typed FOR TABLE typed",
    )
    logs, tailers = {}, {}
    for mode, binary in (("text", False), ("bin", True)):
        log = str(tmp_path / f"typed_{mode}.replay")
        t = WireReplicationTailer(
            "127.0.0.1", live.port, USER, DB, "pub_typed", f"slot_typed_{mode}",
            log, password=PASSWORD, timeout=1.0, binary=binary,
        )
        t.start()
        logs[mode], tailers[mode] = log, t
    live.sql(
        "INSERT INTO typed VALUES "
        "(1, true, -32768, 2147483647, 0.5, -2.5e-10, -98765.43210, "
        "'1999-12-31', '23:59:59.999999', '2024-02-29T23:59:59.000001', "
        "'1970-01-01T00:00:00.5Z', 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', "
        "'\\xdeadbeef', 'plain — τέχνη', '{\"x\":1}', '{\"y\": [true, null]}', "
        "'1 year 2 months 3 days 04:05:06.789')",
        "INSERT INTO typed (id, f8, n) VALUES (2, 'NaN', 'NaN')",
        "INSERT INTO typed (id, iv) VALUES "
        "(3, '-1 hour'), (4, '-2 months -1 day'), (5, '0')",
        # Arrays: quoting triggers (comma, quote, backslash, space,
        # empty string, the word NULL, an SQL NULL), multidim, empty.
        "INSERT INTO typed (id, ia, ta, na) VALUES "
        "(6, ARRAY[1, -2, NULL], "
        "ARRAY['plain', 'has space', 'com,ma', 'qu\"ote', 'back\\slash', "
        "'', 'NULL', NULL, '{brace}'], ARRAY[1.50, -0.05]), "
        "(7, '{}', ARRAY[['a','b'],['c','d']], NULL)",
        # Non-dyadic floats (single-precision shortest round-trip +
        # Ryu notation switches), numeric ±Infinity (PG14+ sign words),
        # and array elements with \v/\f (array_isspace quoting).
        "INSERT INTO typed (id, f4, f8, nu) VALUES "
        "(8, 0.1, 0.1, 'Infinity'), "
        "(9, 16777217, 1e15, '-Infinity'), "
        "(10, 1234567, 1e-5, NULL), "
        "(11, -561176832, 123456789012345.6, NULL)",
        "INSERT INTO typed (id, ta) VALUES "
        "(12, ARRAY[E'a\\vb', E'c\\fd'])",
    )
    for mode in ("text", "bin"):
        _drain(tailers[mode])
        tailers[mode].stop()
    te, _ = _decode(logs["text"])
    be, _ = _decode(logs["bin"])
    assert len(be) == len(te) == 12
    for a, b in zip(te, be):
        assert b.after == a.after, f"binary != text: {b.after} vs {a.after}"
    by_id = {e.after["id"]: e.after for e in be}
    # Pin the single-precision renderings against the server's own text.
    assert by_id["8"]["f4"] == "0.1" and by_id["8"]["nu"] == "Infinity"
    assert by_id["9"]["f4"] == "1.6777216e+07" and by_id["9"]["f8"] == "1e+15"
    assert by_id["9"]["nu"] == "-Infinity"
    assert by_id["11"]["f4"] == "-5.6117683e+08"
    live.sql(
        "SELECT pg_drop_replication_slot('slot_typed_text')",
        "SELECT pg_drop_replication_slot('slot_typed_bin')",
        "DROP PUBLICATION pub_typed",
        "DROP TABLE typed",
    )


def test_live_lagging_consumer_slot_retention(live, tmp_path):
    """The classic CDC production incident: when the consumer lags, the
    slot retains WAL.  Pins (a) the tailer's lag metric — server WAL end
    vs acked flush — grows while acks are withheld, (b) an ack bounds it
    again, and (c) pg_replication_slots shows the retention window
    shrink (restart_lsn advances) after the ack reaches the server —
    bounded recovery, not unbounded WAL growth."""
    import json as _json

    log = str(tmp_path / "wal_lag.replay")
    t = live.tailer("slot_lag", log)
    t.start()
    # Phase 1: server writes, consumer NEVER acks.
    live.sql(
        "INSERT INTO accounts (id, balance, name) "
        "SELECT g, 1.00, 'lag' || g FROM generate_series(3000000, 3002000) g"
    )
    _drain(t)
    lag_unacked = t.lag_bytes()
    assert lag_unacked > 50_000, f"lag metric must see retained WAL: {lag_unacked}"
    assert t.stats()["flushed_lsn"] == 0

    restart_before = live.sql(
        "SELECT restart_lsn::text FROM pg_replication_slots "
        "WHERE slot_name = 'slot_lag'"
    )[0][0]

    # Phase 2: the consumer catches up — ack everything logged.
    frames = list(scan_frames(log))
    with open(log + ".ack", "w") as f:
        _json.dump({"pos": frames[-1].end_pos, "lsn": frames[-1].lsn}, f)
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (3009999, 1.00, 'tick')")
    _drain(t)  # forwards the ack, receives the tick
    t.stop()
    lag_acked = t.lag_bytes()
    assert lag_acked < lag_unacked / 4, (
        f"ack must collapse the lag: {lag_unacked} -> {lag_acked}"
    )
    assert t.stats()["flushed_lsn"] >= frames[-1].lsn

    # Server side: the slot's retention window must have moved forward.
    # (restart_lsn advances lazily on server internals; confirmed_flush
    # is the hard guarantee.)
    assert live.confirmed_flush("slot_lag") >= frames[-1].lsn
    restart_after = live.sql(
        "SELECT restart_lsn::text FROM pg_replication_slots "
        "WHERE slot_name = 'slot_lag'"
    )[0][0]
    assert restart_after >= restart_before  # never regresses
    live.sql(
        "SELECT pg_drop_replication_slot('slot_lag')",
        "DELETE FROM accounts WHERE id >= 3000000",
    )


def test_live_segmented_log_retention(live, tmp_path):
    """Replay-log retention against REAL Postgres (r9): the tailer rolls
    its log into segments at closed-unit boundaries, the consumer's ack
    GCs segments below the durable position — disk plateaus while both
    Postgres's WAL (confirmed_flush advances) AND the log are trimmed by
    the same watermark.  The retained suffix stays byte-consistent and a
    post-GC resume ingests new changes cleanly."""
    import json as _json

    from pypgcdc_spark.sources.replay import (
        TxBoundaryScanner,
        list_segments,
        log_min_pos,
        log_size,
        scan_frames,
    )

    log = str(tmp_path / "wal_seg.replay")
    t = live.tailer("slot_seg", log, segment_bytes=4096)
    t.start()
    for k in range(40):
        live.sql(
            f"INSERT INTO accounts (id, balance, name) VALUES "
            f"(9{k:03d}, {k}.25, 'seg_{k}_{'x' * 120}') "
            f"ON CONFLICT (id) DO UPDATE SET balance = EXCLUDED.balance"
        )
    _drain(t)
    assert len(list_segments(log)) >= 2, "live feed never rolled a segment"

    # Consumer acks a mid-log closed boundary; the NEXT live change's
    # ack-poll tick forwards it to the walsender AND GCs our segments.
    from pypgcdc_spark.cdc.registry import SchemaRegistry as _SR
    from pypgcdc_spark.cdc import pgoutput as _pg

    reg = _SR()
    scanner = TxBoundaryScanner()
    closed = []
    for fr in scan_frames(log, prefix_bytes=64):
        if fr.payload[:1] == b"R":
            reg.register_relation(
                _pg.decode_relation(fr.payload, streamed=scanner.in_segment),
                lsn=fr.lsn,
            )
        if scanner.feed(fr) is not None:
            closed.append((fr.end_pos, fr.lsn))
    pos, lsn = closed[len(closed) // 2]
    with open(log + ".ack", "w") as f:
        _json.dump({"pos": pos, "lsn": lsn}, f)
    segs_before = len(list_segments(log))
    live.sql("INSERT INTO accounts (id, balance, name) VALUES (9900, 1.00, 'post_gc')")
    _drain(t)
    t.stop()
    assert len(list_segments(log)) < segs_before, "ack did not GC segments"
    assert 0 < log_min_pos(log) <= pos
    assert live.confirmed_flush("slot_seg") >= lsn  # WAL trimmed by same ack

    # Retained suffix decodes cleanly from the clamp point and contains
    # the post-GC change.  The Relation frame left with its segment (the
    # walsender sent it once, at stream start): schema comes from the
    # consumer's REGISTRY, which predates the GC its own ack caused —
    # here rebuilt from the pre-GC scan above (scanner saw every frame);
    # the pgcdc source persists the same thing as snapshot sidecars.
    from pypgcdc_spark.cdc.registry import SchemaRegistry
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.transform import MessageTransformer

    names = []
    xform = MessageTransformer(registry=reg)
    for fr in scan_frames(log, log_min_pos(log)):
        for ev in xform.feed(fr.lsn, fr.payload):
            if ev.op == "I" and ev.after:
                names.append(ev.after.get("name"))
    assert "post_gc" in names
    assert log_size(log) > log_min_pos(log)
    live.sql(
        "SELECT pg_drop_replication_slot('slot_seg')",
        "DELETE FROM accounts WHERE id >= 9000",
    )
