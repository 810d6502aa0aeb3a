"""Minimal PostgreSQL simple-protocol client (stdlib sockets only),
with per-process connection pooling and liveness prechecks.

Client counterpart of ``csvb_spark.server.pgwire`` — used by the
federation layer when no JDBC driver jar is available: the schema
probe runs ``SELECT * FROM t LIMIT 1`` exactly like the reference
(reference third_party/postgres_provider/src/postgres_connection.rs:113-154,
query at :120), and each shard scan ships a pushed-down SQL string to
the shard (reference scan-to-SQL compilation,
third_party/postgres_provider/src/lib.rs:45-52).

Pooling parity (reference third_party/postgres_provider/src/
postgres_pool.rs:103-169): connections are reused per
(host, port, user, database) with a bounded pool (10, the reference's
bb8 default), every NEW connection passes a DNS/TCP precheck with a
short timeout plus a ``SELECT 1`` probe before entering service, and a
dead shard therefore fails in ~2s with a clean error instead of
timing out mid-scan. The pool is per process — the driver process and
each Spark Python worker hold their own, anchored as a process-wide
singleton that survives by-value closure deserialization
(``_process_pool``), so workers reused across tasks amortize the
handshake: at most one connect per shard per worker, not per slice.

Protocol reference: PostgreSQL docs "Frontend/Backend Protocol" v3
(public documentation). Text result format only.
"""

from __future__ import annotations

import socket
import struct
import threading

POOL_SIZE = 10  # reference bb8 pool size, postgres_pool.rs:103-169
PRECHECK_TIMEOUT = 2.0  # DNS + TCP connect budget for a dead shard

# pg type OID → (spark type name, python caster); mirrors the subset
# the pgwire server emits (csvb_spark/server/pgwire.py:_PG_OIDS).
OID_SPARK = {
    16: "boolean",
    20: "bigint",
    21: "smallint",
    23: "int",
    25: "string",
    17: "binary",
    700: "float",
    701: "double",
    1082: "date",
    1114: "timestamp",
    1700: "double",  # decimal w/o typmod: read as double
}


class MessageReader:
    """Reads protocol messages off ``sock``; shared by this client and
    the pgwire server. A message that spans many ``recv`` calls is
    collected as a list of chunks and joined once, so reading it takes
    time linear in its size (growing the unread buffer by one chunk per
    ``recv`` made a 32 MiB CopyData quadratic: seconds). Short messages
    are sliced out of the last chunk by offset. ``before_block`` runs
    before each ``recv`` (the server flushes its pending output
    there)."""

    def __init__(self, sock: socket.socket, before_block=None):
        self.sock = sock
        self.before_block = before_block
        self.buf, self.pos = b"", 0  # last chunk received, consumed prefix

    def read_exact(self, n: int) -> bytes:
        end = self.pos + n
        if end <= len(self.buf):
            out = self.buf[self.pos : end]
            self.pos = end
            return out
        parts = [self.buf[self.pos :]]
        need = end - len(self.buf)
        while need > 0:
            if self.before_block is not None:
                self.before_block()
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("peer closed the connection")
            parts.append(chunk)
            need -= len(chunk)
        # the last chunk's surplus (-need bytes) starts the next message
        self.buf, self.pos = parts[-1], len(parts[-1]) + need
        parts[-1] = parts[-1][: self.pos]
        return b"".join(parts)

    def read_message(self) -> tuple[bytes, bytes]:
        """One tagged message: (tag, body)."""
        tag = self.read_exact(1)
        (length,) = struct.unpack("!I", self.read_exact(4))
        return tag, self.read_exact(length - 4)


class ShardUnreachable(RuntimeError):
    """DNS/TCP/probe precheck failed — raised before any scan work."""


class _PgConn:
    """One live simple-protocol connection (startup already done)."""

    def __init__(self, host: str, port: int, user: str, database: str, timeout: float):
        self.key = (host, port, user, database)
        # precheck 1+2: DNS resolve + TCP connect on a short budget
        try:
            self.sock = socket.create_connection((host, port), timeout=PRECHECK_TIMEOUT)
        except OSError as e:
            raise ShardUnreachable(
                f"shard {host}:{port} unreachable ({e.__class__.__name__}: {e})"
            ) from e
        self.sock.settimeout(timeout)
        self.reader = MessageReader(self.sock)
        params = (
            b"user\x00" + user.encode() + b"\x00"
            b"database\x00" + database.encode() + b"\x00\x00"
        )
        self.sock.sendall(struct.pack("!II", 8 + len(params), 196608) + params)
        while True:  # drain startup: R/S/K then Z
            tag, body = self.reader.read_message()
            if tag == b"E":
                raise RuntimeError(_error_text(body))
            if tag == b"Z":
                break

    def query(self, sql: str) -> tuple[list[tuple[str, int]], list[list[str | None]]]:
        q = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", 4 + len(q)) + q)
        cols: list[tuple[str, int]] = []
        rows: list[list[str | None]] = []
        err: str | None = None
        while True:
            tag, body = self.reader.read_message()
            if tag == b"T":
                (n,) = struct.unpack("!h", body[:2])
                off = 2
                cols = []
                for _ in range(n):
                    end = body.index(b"\x00", off)
                    name = body[off:end].decode()
                    (oid,) = struct.unpack("!I", body[end + 7 : end + 11])
                    cols.append((name, oid))
                    off = end + 1 + 18
            elif tag == b"D":
                (n,) = struct.unpack("!h", body[:2])
                off = 2
                row: list[str | None] = []
                for _ in range(n):
                    (vlen,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if vlen == -1:
                        row.append(None)
                    else:
                        row.append(body[off : off + vlen].decode())
                        off += vlen
                rows.append(row)
            elif tag == b"E":
                err = _error_text(body)
            elif tag == b"Z":
                break
        if err is not None:
            # protocol is re-synced at Z; the connection stays usable
            raise RuntimeError(err)
        return cols, rows

    def probe(self) -> None:
        """Liveness probe before entering the pool (SELECT 1, reference
        postgres_pool.rs is_valid)."""
        _, rows = self.query("SELECT 1")
        if not rows:
            raise ShardUnreachable(f"shard {self.key[0]}:{self.key[1]} failed probe")

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        except OSError:
            pass
        try:
            self.sock.close()
        except OSError:
            pass


class _Pool:
    """Per-process pool state. This module is pickled BY VALUE into
    executor closures (see federation.read_shard_pg); sockets and
    locks can't cross the process boundary, so unpickling must yield
    the receiving PROCESS's pool — see ``_process_pool``."""

    def __init__(self):
        self.lock = threading.Lock()
        self.conns: dict[tuple, list[_PgConn]] = {}

    def __reduce__(self):
        return (_process_pool, ())


def _process_pool() -> _Pool:
    """The one pool for this interpreter process.

    Because the module travels by value, a plain module-global pool
    would come back EMPTY on every task deserialization — one fresh
    connect (+ SELECT 1 probe) per slice, no reuse across tasks even
    on a reused worker. Anchoring the singleton on the ``sys`` module
    (shared by every unpickled module copy in a process) gives each
    Spark python worker exactly one pool for its lifetime, so
    consecutive slices hit warm shard connections — the reference's
    bb8 per-shard pool intent (postgres_pool.rs:142-150) realized on
    the executor side. ``dict.setdefault`` is atomic under the GIL; a
    lost race leaks only an empty pool object."""
    import sys as _sys

    pool = _sys.__dict__.get("_csvb_pgclient_pool")
    if pool is None:
        pool = _sys.__dict__.setdefault("_csvb_pgclient_pool", _Pool())
    return pool


_POOL = _process_pool()


def _checkout(host: str, port: int, user: str, database: str, timeout: float) -> _PgConn:
    key = (host, port, user, database)
    with _POOL.lock:
        stack = _POOL.conns.get(key)
        if stack:
            conn = stack.pop()
            try:
                # the conn may have been checked in with a different
                # (e.g. short precheck) timeout — this scan owns it now
                conn.sock.settimeout(timeout)
                conn.from_pool = True
                return conn
            except OSError:
                conn.close()  # socket already dead — fall through to fresh
    conn = _PgConn(host, port, user, database, timeout)
    conn.probe()
    conn.from_pool = False
    return conn


def _checkin(conn: _PgConn) -> None:
    with _POOL.lock:
        stack = _POOL.conns.setdefault(conn.key, [])
        if len(stack) < POOL_SIZE:
            stack.append(conn)
            return
    conn.close()


def pool_stats() -> dict[tuple, int]:
    """Idle connections per (host, port, user, database) — test hook."""
    with _POOL.lock:
        return {k: len(v) for k, v in _POOL.conns.items() if v}


def precheck_shard(
    host: str, port: int, user: str = "csvb", database: str = "csvb"
) -> None:
    """Fail-fast DNS/TCP/SELECT-1 check; the validated connection is
    pooled so the check is not wasted work."""
    _checkin(_checkout(host, port, user, database, timeout=PRECHECK_TIMEOUT * 2))


def pg_simple_query(
    host: str,
    port: int,
    sql: str,
    user: str = "csvb",
    database: str = "csvb",
    timeout: float = 120.0,
) -> tuple[list[tuple[str, int]], list[list[str | None]]]:
    """Run one simple-protocol query on a pooled connection; return
    (columns, text rows).

    columns = [(name, type_oid)]; row values are pg text format
    (None for SQL NULL). Raises RuntimeError on ErrorResponse,
    ShardUnreachable if no connection can be established. Stale
    POOLED connections are discarded and retried for as long as the
    pool yields them (the pool can hold several dead sockets after a
    server restart); a failure on a FRESH connection raises.
    """
    while True:
        conn = _checkout(host, port, user, database, timeout)
        try:
            result = conn.query(sql)
        except ShardUnreachable:
            conn.close()
            raise
        except (ConnectionError, OSError):
            conn.close()
            if not conn.from_pool:
                raise
            continue  # stale pooled socket — next pooled, else fresh
        except RuntimeError:
            _checkin(conn)  # server error; protocol re-synced at Z
            raise
        _checkin(conn)
        return result


def _error_text(body: bytes) -> str:
    parts = {}
    for field in body.split(b"\x00"):
        if field:
            parts[chr(field[0])] = field[1:].decode(errors="replace")
    return parts.get("M", "unknown server error")


def rows_to_pandas(rows, names, oids):
    """pg text rows → a typed pandas frame for the Arrow boundary, or
    ``None`` when the result set is empty: an empty frame's columns
    default to float64, and Arrow cannot cast float64 → date/
    timestamp (found by the round-14 federation bench — a mod-slice
    over a shard holding only even keys returns zero rows). Shared by
    both wire readers so the guard lives exactly once; this module is
    pickled by value into the executor tasks."""
    if not rows:
        return None
    import pandas as pd

    return pd.DataFrame(
        {
            name: [cast_text(row[i], oids[i]) for row in rows]
            for i, name in enumerate(names)
        },
        columns=list(names),
    )


def cast_text(value: str | None, oid: int):
    """pg text format → python value for the supported OID set."""
    if value is None:
        return None
    if oid == 16:
        return value == "t"
    if oid in (20, 21, 23):
        return int(value)
    if oid in (700, 701, 1700):
        return float(value)
    if oid == 17:
        return bytes.fromhex(value[2:]) if value.startswith("\\x") else value.encode()
    if oid == 1082:
        import datetime as _dt

        return _dt.date.fromisoformat(value)
    if oid == 1114:
        import datetime as _dt

        return _dt.datetime.fromisoformat(value)
    return value
