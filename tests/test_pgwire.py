"""Socket-level test of the Postgres wire-protocol server: a minimal
pgwire client (startup, simple query, extended protocol, terminate)
talking to PgWireServer over TCP."""

from __future__ import annotations

import contextlib
import hashlib
import socket
import struct

import pytest


def _startup(sock: socket.socket) -> None:
    params = b"user\x00test\x00database\x00tbl\x00\x00"
    body = struct.pack("!I", 196608) + params
    sock.sendall(struct.pack("!I", len(body) + 4) + body)


def _read_msg(sock: socket.socket, buf: bytearray) -> tuple[bytes, bytes]:
    while len(buf) < 5:
        buf += sock.recv(65536)
    tag = bytes(buf[:1])
    (length,) = struct.unpack("!I", buf[1:5])
    while len(buf) < 1 + length:
        buf += sock.recv(65536)
    payload = bytes(buf[5 : 1 + length])
    del buf[: 1 + length]
    return tag, payload


def _read_until_ready(sock, buf) -> list[tuple[bytes, bytes]]:
    msgs = []
    while True:
        tag, payload = _read_msg(sock, buf)
        msgs.append((tag, payload))
        if tag == b"Z":
            return msgs


def _simple_query(sock, buf, sql: str) -> list[tuple[bytes, bytes]]:
    body = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
    return _read_until_ready(sock, buf)


def _data_rows(msgs) -> list[list[bytes | None]]:
    rows = []
    for tag, payload in msgs:
        if tag != b"D":
            continue
        (ncols,) = struct.unpack("!h", payload[:2])
        off, vals = 2, []
        for _ in range(ncols):
            (ln,) = struct.unpack("!i", payload[off : off + 4])
            off += 4
            if ln == -1:
                vals.append(None)
            else:
                vals.append(payload[off : off + ln])
                off += ln
        rows.append(vals)
    return rows


@pytest.fixture(scope="module")
def pg_server(spark, sf_dir):
    from csvb_spark.server.pgwire import PgWireServer
    from csvb_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    server = PgWireServer(spark, "127.0.0.1:0")  # ephemeral port
    server.start_background()
    yield server
    server.shutdown()


@pytest.fixture()
def conn(pg_server):
    sock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    buf = bytearray()
    _startup(sock)
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert tags[0] == b"R" and tags[-1] == b"Z"  # AuthenticationOk ... ReadyForQuery
    yield sock, buf
    sock.close()


def test_simple_select(conn):
    sock, buf = conn
    msgs = _simple_query(sock, buf, "SELECT 1 AS one, 'hi' AS greeting")
    tags = [t for t, _ in msgs]
    assert b"T" in tags and b"D" in tags and b"C" in tags
    assert _data_rows(msgs) == [[b"1", b"hi"]]


def test_query_over_view(conn):
    sock, buf = conn
    msgs = _simple_query(
        sock, buf, "SELECT count(*) AS n FROM region"
    )
    assert _data_rows(msgs) == [[b"5"]]


def test_error_then_recover(conn):
    sock, buf = conn
    msgs = _simple_query(sock, buf, "SELECT FROM nonsense syntax !!")
    tags = [t for t, _ in msgs]
    assert b"E" in tags and tags[-1] == b"Z"  # error, but connection alive
    msgs = _simple_query(sock, buf, "SELECT 2 AS two")
    assert _data_rows(msgs) == [[b"2"]]


def test_dialect_translation_over_wire(conn):
    sock, buf = conn
    msgs = _simple_query(sock, buf, "SELECT 7::STRING AS s")
    assert _data_rows(msgs) == [[b"7"]]


def test_null_encoding(conn):
    sock, buf = conn
    msgs = _simple_query(sock, buf, "SELECT CAST(NULL AS INT) AS x, 3 AS y")
    assert _data_rows(msgs) == [[None, b"3"]]


def test_extended_protocol(conn):
    sock, buf = conn
    sql = b"SELECT 42 AS answer"
    # Parse (unnamed stmt), Bind, Execute, Sync
    parse = b"\x00" + sql + b"\x00" + struct.pack("!h", 0)
    sock.sendall(b"P" + struct.pack("!I", len(parse) + 4) + parse)
    # Flush without Sync: ParseComplete arrives before anything else is sent
    sock.sendall(b"H" + struct.pack("!I", 4))
    assert _read_msg(sock, buf) == (b"1", b"")
    bind = b"\x00\x00" + struct.pack("!hhh", 0, 0, 0)
    sock.sendall(b"B" + struct.pack("!I", len(bind) + 4) + bind)
    execute = b"\x00" + struct.pack("!I", 0)
    sock.sendall(b"E" + struct.pack("!I", len(execute) + 4) + execute)
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _read_until_ready(sock, buf)
    # collect until the Execute's ready (Parse/Bind completes arrive first)
    all_tags = [t for t, _ in msgs]
    while b"D" not in all_tags:
        msgs = _read_until_ready(sock, buf)
        all_tags += [t for t, _ in msgs]
    assert _data_rows(msgs) == [[b"42"]]


def _send(sock, tag: bytes, body: bytes) -> None:
    sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)


def test_extended_describe_and_suspend(conn):
    """Spec-shaped extended flow: Describe('S') answers
    ParameterDescription + RowDescription, Execute with a row limit
    suspends the portal ('s') and a later Execute resumes it, and
    ReadyForQuery arrives only after Sync."""
    sock, buf = conn
    sql = b"SELECT id FROM range(5) ORDER BY id"
    _send(sock, b"P", b"st1\x00" + sql + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"D", b"Sst1\x00")
    _send(sock, b"B", b"po1\x00st1\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"po1\x00" + struct.pack("!I", 2))  # max_rows=2
    _send(sock, b"E", b"po1\x00" + struct.pack("!I", 0))  # resume, no limit
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    # 1=ParseComplete, t=ParameterDescription, T=RowDescription,
    # 2=BindComplete, D×2, s=PortalSuspended, D×3, C, Z
    assert tags == [b"1", b"t", b"T", b"2", b"D", b"D", b"s", b"D", b"D", b"D", b"C", b"Z"]
    assert _data_rows(msgs) == [[b"0"], [b"1"], [b"2"], [b"3"], [b"4"]]
    # Z only once, at the very end (after Sync)
    assert tags.count(b"Z") == 1


def test_extended_describe_portal(conn):
    sock, buf = conn
    _send(sock, b"P", b"\x00SELECT 1 AS one\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"D", b"P\x00")
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert tags == [b"1", b"2", b"T", b"D", b"C", b"Z"]


def test_extended_error_skips_to_sync(conn):
    """An error inside the extended flow discards messages until Sync;
    the connection then recovers cleanly."""
    sock, buf = conn
    _send(sock, b"P", b"\x00SELECT !! bad syntax\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert b"E" in tags and tags[-1] == b"Z"
    assert b"D" not in tags  # Bind/Execute after the error were skipped
    msgs = _simple_query(sock, buf, "SELECT 3 AS three")
    assert _data_rows(msgs) == [[b"3"]]


def test_extended_bind_text_params_typed(conn):
    """Text-format $n parameters with Parse-declared oids: int4 inlines
    bare, text inlines quoted (reference serves the same client flow
    via pgwire+datafusion-postgres, csvb_engine/src/lib.rs:102-106)."""
    sock, buf = conn
    sql = b"SELECT $1 + 1 AS v, upper($2) AS s"
    # Parse with declared types: int4 (23), text (25)
    _send(sock, b"P", b"pt\x00" + sql + b"\x00" + struct.pack("!hII", 2, 23, 25))
    params = struct.pack("!i", 2) + b"41" + struct.pack("!i", 2) + b"hi"
    body = b"\x00pt\x00" + struct.pack("!hh", 0, 2) + params + struct.pack("!h", 0)
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"42", b"HI"]]


def test_extended_bind_untyped_params_and_escaping(conn):
    """Undeclared parameter types: numeric-looking text inlines bare,
    anything else inlines as an escaped string literal (quotes and
    backslashes survive)."""
    sock, buf = conn
    sql = b"SELECT $1 * 2 AS n, $2 AS s, length($2) AS slen"
    _send(sock, b"P", b"pu\x00" + sql + b"\x00" + struct.pack("!h", 0))
    val = b"O'Brien\\x"
    params = struct.pack("!i", 3) + b"1.5" + struct.pack("!i", len(val)) + val
    body = b"\x00pu\x00" + struct.pack("!hh", 0, 2) + params + struct.pack("!h", 0)
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"3.0", val, b"9"]]


def test_extended_null_param_and_describe(conn):
    """NULL parameter binds as SQL NULL; Describe('S') on the
    parameterized statement answers the declared oids and a
    RowDescription from the NULL-probe plan."""
    sock, buf = conn
    sql = b"SELECT coalesce($1, 'dflt') AS s"
    _send(sock, b"P", b"pn\x00" + sql + b"\x00" + struct.pack("!hI", 1, 25))
    _send(sock, b"D", b"Spn\x00")
    params = struct.pack("!i", -1)  # NULL
    body = b"\x00pn\x00" + struct.pack("!hh", 0, 1) + params + struct.pack("!h", 0)
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    # ParseComplete, ParameterDescription, RowDescription, BindComplete, ...
    assert tags[:4] == [b"1", b"t", b"T", b"2"]
    pd = msgs[1][1]
    assert struct.unpack("!hI", pd) == (1, 25)
    assert _data_rows(msgs) == [[b"dflt"]]


def test_extended_binary_params_decoded_by_declared_oid(conn):
    """Binary-format int4/int8/float8/bool params decode via their
    Parse-declared oids (the JDBC prepared-statement path)."""
    sock, buf = conn
    sql = b"SELECT $1 + $2 AS n, ROUND($3 * 2, 2) AS d, $4 AS b"
    _send(
        sock,
        b"P",
        b"pb\x00" + sql + b"\x00" + struct.pack("!hIIII", 4, 23, 20, 701, 16),
    )
    params = (
        struct.pack("!i", 4) + struct.pack("!i", 40)  # int4 40
        + struct.pack("!i", 8) + struct.pack("!q", 2)  # int8 2
        + struct.pack("!i", 8) + struct.pack("!d", 1.25)  # float8 1.25
        + struct.pack("!i", 1) + b"\x01"  # bool true
    )
    body = (
        b"\x00pb\x00"
        + struct.pack("!hh", 1, 1)  # one fmt code (binary) for all
        + struct.pack("!h", 4)
        + params
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    # decimal literal arithmetic keeps scale (2.50); bools wire as t/f
    assert _data_rows(msgs) == [[b"42", b"2.50", b"t"]]


def test_extended_binary_bytea_date_timestamp_params(conn):
    """Binary-format bytea/date/timestamp params (the remaining oids
    the server binary-ENCODES) decode and render as typed literals."""
    import datetime as dt

    sock, buf = conn
    sql = b"SELECT length($1) AS n, date_add($2, 1) AS d, $3 AS ts"
    _send(
        sock,
        b"P",
        b"pbd\x00" + sql + b"\x00" + struct.pack("!hIII", 3, 17, 1082, 1114),
    )
    date_days = (dt.date(2024, 3, 1) - dt.date(2000, 1, 1)).days
    delta = dt.datetime(2024, 3, 1, 12, 34, 56, 789000) - dt.datetime(2000, 1, 1)
    ts_micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    params = (
        struct.pack("!i", 5) + b"hello"
        + struct.pack("!i", 4) + struct.pack("!i", date_days)
        + struct.pack("!i", 8) + struct.pack("!q", ts_micros)
    )
    body = (
        b"\x00pbd\x00"
        + struct.pack("!hh", 1, 1)  # one fmt code (binary) for all
        + struct.pack("!h", 3)
        + params
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [
        [b"5", b"2024-03-02", b"2024-03-01 12:34:56.789000"]
    ]


def test_extended_rejects_undeclared_binary_params(conn):
    """Binary params whose type was never declared cannot be decoded —
    clean 0A000, connection survives."""
    sock, buf = conn
    _send(sock, b"P", b"\x00SELECT $1 AS x\x00" + struct.pack("!h", 0))
    # one binary-format (1) parameter, no declared oid
    body = (
        b"\x00\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", 4)
        + struct.pack("!i", 7)
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert b"E" in tags and tags[-1] == b"Z"


def test_describe_does_not_execute_parameterized_dml(conn, spark):
    """Spark plans commands eagerly, so the Describe('S') schema probe
    must never plan a parameterized INSERT (it would execute with
    NULLs). Describe answers NoData; the insert happens only at
    Bind/Execute with the real value."""
    spark.sql("DROP TABLE IF EXISTS pg_ins_t")
    spark.sql("CREATE TABLE pg_ins_t(x INT) USING parquet")
    try:
        sock, buf = conn
        sql = b"INSERT INTO pg_ins_t VALUES (CAST($1 AS INT))"
        _send(sock, b"P", b"pi\x00" + sql + b"\x00" + struct.pack("!hI", 1, 23))
        _send(sock, b"D", b"Spi\x00")
        _send(sock, b"S", b"")
        msgs = _read_until_ready(sock, buf)
        tags = [t for t, _ in msgs]
        assert b"t" in tags and b"n" in tags  # ParameterDescription + NoData
        assert spark.table("pg_ins_t").count() == 0  # NOT executed
        params = struct.pack("!i", 1) + b"7"
        body = b"\x00pi\x00" + struct.pack("!hh", 0, 1) + params + struct.pack("!h", 0)
        _send(sock, b"B", body)
        _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
        _send(sock, b"S", b"")
        _read_until_ready(sock, buf)
        assert [r.x for r in spark.table("pg_ins_t").collect()] == [7]
    finally:
        spark.sql("DROP TABLE IF EXISTS pg_ins_t")


def _cancel_running(pg_server, spark, path: str, when: str) -> None:
    """Start a long statement on ``path`` (simple, portal or copy),
    send a CancelRequest ``when`` its rows already stream ("after" the
    first row) or while Spark still computes the first partition
    ("before"), and check the 57014, the prompt next statement and
    that no Spark job is left running."""
    import time

    import csvb_spark.server.pgwire as pgwire

    tracker = spark.sparkContext.statusTracker()
    sock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    buf = bytearray()
    _startup(sock)
    msgs = _read_until_ready(sock, buf)
    (key_payload,) = [p for t, p in msgs if t == b"K"]
    pid, secret = struct.unpack("!II", key_payload)
    try:
        # a result stream big enough that cancel lands mid-statement
        q = "SELECT id FROM range(50000000)"
        if path == "simple":
            _send(sock, b"Q", q.encode() + b"\x00")
        elif path == "portal":
            _send(sock, b"P", b"\x00" + q.encode() + b"\x00" + struct.pack("!h", 0))
            _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
            _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
            _send(sock, b"S", b"")
        else:
            _send(sock, b"Q", f"COPY ({q}) TO STDOUT".encode() + b"\x00")
        got = []
        if when == "after":
            while len(_data_rows(got)) < 1:  # stream has started
                got.append(_read_msg(sock, buf))
        else:  # the statement runs and its first job is still active
            deadline = time.monotonic() + 60
            while not (
                getattr(pgwire._CONNS.get(pid), "running", False)
                and tracker.getActiveJobsIds()
            ):
                assert time.monotonic() < deadline
                time.sleep(0.05)
        # CancelRequest on its own connection (no tag byte, no reply)
        t0 = time.monotonic()
        csock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=10)
        csock.sendall(struct.pack("!IIII", 16, 80877102, pid, secret))
        csock.close()
        # drain until the error + ReadyForQuery
        while not got or got[-1][0] != b"Z":
            got.append(_read_msg(sock, buf))
        errs = [p for t, p in got if t == b"E"]
        assert errs and b"57014" in errs[0]
        # the connection recovers without waiting out the abandoned
        # result, and no Spark job is left running
        msgs = _simple_query(sock, buf, "SELECT 9 AS nine")
        assert _data_rows(msgs) == [[b"9"]]
        assert time.monotonic() - t0 < 10, time.monotonic() - t0
        deadline = time.monotonic() + 10
        while tracker.getActiveJobsIds():
            assert time.monotonic() < deadline, tracker.getActiveJobsIds()
            time.sleep(0.1)
    finally:
        sock.close()


def test_cancel_request_interrupts_running_query(pg_server, spark):
    """CancelRequest (own connection, carrying BackendKeyData) stops a
    running simple query with SQLSTATE 57014 and cancels its Spark
    job, both mid-stream and before the first row, and the connection
    survives. (Cancel targets only a RUNNING query — Postgres
    semantics; an idle session is covered by
    test_cancel_requires_secret_and_running_query.)"""
    _cancel_running(pg_server, spark, "simple", "after")
    _cancel_running(pg_server, spark, "simple", "before")


def test_cancel_request_stops_portal_and_copy(pg_server, spark):
    """The same cancel through an extended-protocol portal and COPY TO."""
    _cancel_running(pg_server, spark, "portal", "before")
    _cancel_running(pg_server, spark, "copy", "before")


def test_param_substitution_unit():
    """_substitute_params never splices SQL literals into parameter
    values: a param whose BYTES spell a protection placeholder must
    round-trip verbatim (length-prefixed Bind values may contain NUL
    even though SQL text cannot)."""
    from csvb_spark.server.pgwire import _quote_param, _substitute_params

    evil = "\x00L0\x00pwn"
    out = _substitute_params("SELECT 'x' AS a WHERE c = $1", [evil], [25])
    assert out == "SELECT 'x' AS a WHERE c = '\x00L0\x00pwn'"
    # $n inside string literals untouched; outside substituted
    out = _substitute_params("SELECT '$1' AS lit, $1 AS v", ["9"], [23])
    assert out == "SELECT '$1' AS lit, 9 AS v"
    # Postgres-legal bool spellings, case-insensitive
    for t in ("t", "TRUE", "True", "yes", "Y", "ON", "1"):
        assert _quote_param(t, 16) == "TRUE"
    for f in ("f", "FALSE", "no", "N", "off", "0"):
        assert _quote_param(f, 16) == "FALSE"
    with pytest.raises(ValueError):
        _quote_param("maybe", 16)


def test_describe_infers_undeclared_param_count(conn):
    """Parse may declare fewer oids than placeholders used (Postgres
    infers the rest): ParameterDescription must count via max(declared,
    used), 0-filling the undeclared positions."""
    sock, buf = conn
    sql = b"SELECT $1 + $2 AS v"
    _send(sock, b"P", b"pc\x00" + sql + b"\x00" + struct.pack("!hI", 1, 23))
    _send(sock, b"D", b"Spc\x00")
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    (pd,) = [p for t, p in msgs if t == b"t"]
    assert struct.unpack("!hII", pd) == (2, 23, 0)


def test_describe_surfaces_plan_errors(conn):
    """Describe('S') of a parameterless statement that fails to plan
    (missing table) answers ErrorResponse — not a masking NoData."""
    sock, buf = conn
    sql = b"SELECT * FROM no_such_table_xyz"
    _send(sock, b"P", b"pe\x00" + sql + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"D", b"Spe\x00")
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert b"E" in tags and b"n" not in tags and tags[-1] == b"Z"


def test_describe_does_not_execute_parameterless_dml(conn, spark):
    """Describe('S') of a PARAMETERLESS INSERT must not plan it either
    (Spark executes commands at plan time) — it answers NoData and the
    insert runs only at Bind/Execute; repeated Bind/Execute of the
    same prepared statement re-runs it every cycle (pgjdbc reuses
    named statements after prepareThreshold)."""
    spark.sql("DROP TABLE IF EXISTS pg_ins_t0")
    spark.sql("CREATE TABLE pg_ins_t0(x INT) USING parquet")
    try:
        sock, buf = conn
        sql = b"INSERT INTO pg_ins_t0 VALUES (7)"
        _send(sock, b"P", b"pd\x00" + sql + b"\x00" + struct.pack("!h", 0))
        _send(sock, b"D", b"Spd\x00")
        _send(sock, b"S", b"")
        msgs = _read_until_ready(sock, buf)
        tags = [t for t, _ in msgs]
        assert b"n" in tags and b"E" not in tags  # NoData, no error
        assert spark.table("pg_ins_t0").count() == 0  # NOT executed
        for _ in range(3):  # three Bind/Execute cycles → three rows
            _send(sock, b"B", b"\x00pd\x00" + struct.pack("!hhh", 0, 0, 0))
            _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
            _send(sock, b"S", b"")
            _read_until_ready(sock, buf)
        assert spark.table("pg_ins_t0").count() == 3
    finally:
        spark.sql("DROP TABLE IF EXISTS pg_ins_t0")


def test_binary_result_format(conn):
    """Bind's trailing result-format codes are honored: binary-coded
    columns arrive in the documented wire formats (int8 big-endian,
    float8 IEEE, bool byte, text utf-8), and RowDescription's
    per-field format flags say so."""
    sock, buf = conn
    sql = (
        b"SELECT CAST(7 AS BIGINT) AS i, CAST(1.5 AS DOUBLE) AS d, "
        b"true AS b, 'hi' AS s"
    )
    _send(sock, b"P", b"bf\x00" + sql + b"\x00" + struct.pack("!h", 0))
    # all-binary: one format code applying to every column
    _send(sock, b"B", b"\x00bf\x00" + struct.pack("!hhhh", 0, 0, 1, 1))
    _send(sock, b"D", b"P\x00")
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    (rd,) = [p for t, p in msgs if t == b"T"]
    # last int16 of each field block is the format code = 1
    assert rd.count(struct.pack("!h", 1)) >= 4
    (row,) = _data_rows(msgs)
    assert struct.unpack("!q", row[0]) == (7,)
    assert struct.unpack("!d", row[1]) == (1.5,)
    assert row[2] == b"\x01"
    assert row[3] == b"hi"


def test_binary_result_format_per_column_and_numeric(conn):
    """Per-column format codes mix text and binary; DECIMAL columns
    binary-encode in the base-10000 NUMERIC wire format (negative,
    sub-unit, and trailing-zero-scale shapes all round-trip through
    the same decoder the bind path uses)."""
    from csvb_spark.server.pgwire import _dec_numeric

    sock, buf = conn
    sql = b"SELECT CAST(3 AS INT) AS i, 'x' AS s"
    _send(sock, b"P", b"bm\x00" + sql + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00bm\x00" + struct.pack("!hhhhh", 0, 0, 2, 1, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    (row,) = _data_rows(msgs)
    assert struct.unpack("!i", row[0]) == (3,) and row[1] == b"x"
    # numeric in binary: decode with the documented wire layout
    sql2 = (
        b"SELECT CAST(-12345.6789 AS DECIMAL(12,4)) AS a, "
        b"CAST(0.0001 AS DECIMAL(8,4)) AS b, "
        b"CAST(1 AS DECIMAL(10,2)) AS c, "
        b"CAST(70000 AS DECIMAL(10,0)) AS d"
    )
    _send(sock, b"P", b"bu\x00" + sql2 + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00bu\x00" + struct.pack("!hhhh", 0, 0, 1, 1))
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    (row,) = _data_rows(msgs)
    assert [_dec_numeric(v) for v in row] == [
        "-12345.6789",
        "0.0001",
        "1.00",
        "70000",
    ]
    # field layout sanity on the negative value: 3 groups, weight 1,
    # sign 0x4000, dscale 4
    assert struct.unpack("!hhHh", row[0][:8]) == (3, 1, 0x4000, 4)


def test_numeric_wire_roundtrip_randomized():
    """enc→dec round-trips the canonical decimal text for randomized
    scales/magnitudes (pure unit test, no socket)."""
    import decimal
    import random

    from csvb_spark.server.pgwire import _dec_numeric, _enc_numeric

    rng = random.Random(20260814)
    cases = [decimal.Decimal("0"), decimal.Decimal("0.00"), decimal.Decimal("-0.0001")]
    for _ in range(300):
        digits = "".join(rng.choice("0123456789") for _ in range(rng.randint(1, 24)))
        scale = rng.randint(0, min(len(digits), 12))
        sign = rng.choice(["", "-"])
        ipart = digits[: len(digits) - scale] or "0"
        fpart = digits[len(digits) - scale :]
        cases.append(decimal.Decimal(f"{sign}{ipart}{'.' + fpart if fpart else ''}"))
    for d in cases:
        got = _dec_numeric(_enc_numeric(d))
        assert decimal.Decimal(got) == d, (d, got)
        # scale (displayed fraction digits) is preserved exactly
        assert max(0, -decimal.Decimal(got).as_tuple().exponent) == max(
            0, -d.as_tuple().exponent
        ), (d, got)


def test_cancel_requires_secret_and_running_query(pg_server):
    """A CancelRequest with the wrong secret is ignored, and one
    arriving while the session is idle must not kill the NEXT query
    (real Postgres cancels only a currently-running query)."""
    sock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    buf = bytearray()
    _startup(sock)
    msgs = _read_until_ready(sock, buf)
    (key_payload,) = [p for t, p in msgs if t == b"K"]
    pid, secret = struct.unpack("!II", key_payload)
    try:
        import time

        for bad_secret in (secret ^ 1, secret):  # wrong key; right key but idle
            csock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=10)
            csock.sendall(struct.pack("!IIII", 16, 80877102, pid, bad_secret))
            csock.close()
            time.sleep(0.2)
            msgs = _simple_query(sock, buf, "SELECT 5 AS five")
            assert _data_rows(msgs) == [[b"5"]]  # unaffected
    finally:
        sock.close()


def _error_code(msgs) -> str | None:
    """SQLSTATE (the 'C' field) of the first ErrorResponse, if any."""
    for tag, payload in msgs:
        if tag == b"E":
            for field in payload.split(b"\x00"):
                if field[:1] == b"C":
                    return field[1:].decode()
    return None


def _portal_msgs(sock, buf, sql: str, oids=(), params=(), res_fmts=()):
    """Parse (declared ``oids``), Bind (text ``params``, result
    ``res_fmts``), Execute, Sync on the unnamed statement and portal;
    every message up to ReadyForQuery."""
    _send(
        sock, b"P",
        b"\x00" + sql.encode() + b"\x00"
        + struct.pack(f"!h{len(oids)}I", len(oids), *oids),
    )
    bind = b"\x00\x00" + struct.pack("!hh", 0, len(params))
    for v in params:
        bind += struct.pack("!i", len(v)) + v.encode()
    bind += struct.pack(f"!h{len(res_fmts)}h", len(res_fmts), *res_fmts)
    _send(sock, b"B", bind)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    return _read_until_ready(sock, buf)


def _copy_in_ext(sock, buf, sql: str, payload: bytes):
    """COPY FROM STDIN through Parse/Bind/Execute, then Sync."""
    _send(sock, b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    msgs = []
    while True:
        tag, p = _read_msg(sock, buf)
        msgs.append((tag, p))
        if tag in (b"G", b"E"):
            break
    if tag == b"G":
        _send(sock, b"d", payload)
        _send(sock, b"c", b"")
    _send(sock, b"S", b"")
    return msgs + _read_until_ready(sock, buf)


#: (path, statement, SQLSTATE) for every code the simple-query, portal,
#: COPY TO and COPY FROM paths send, except 57014, which the cancel
#: test covers. Portal statements are (sql, declared oids, text params,
#: result format codes); COPY FROM statements are (sql, payload, fail).
_SQLSTATE_TABLE = (
    ("simple", "SELECT * FROM no_such_tbl_q", "42P01"),
    ("simple", "CREATE TEMPORARY VIEW region AS SELECT 1 AS x", "42P07"),
    ("simple", "SELECT no_such_col FROM range(3)", "42703"),
    ("simple", "SELECT no_such_fn_q(1)", "42883"),
    ("simple", "SELEC 1", "42601"),
    ("simple", "SELECT id FROM range(2) a, range(2) b", "42702"),
    ("simple", "SELECT 1 / (id - id) FROM range(1)", "22012"),
    ("simple", "SELECT CAST(concat('x', id) AS INT) FROM range(1)", "22P02"),
    ("simple", "SELECT CAST(12345.6 + id AS DECIMAL(3, 1)) FROM range(1)", "22003"),
    ("simple", "SELECT 1 + array(1)", "42804"),
    ("portal", ("SELECT * FROM no_such_tbl_q", (), (), ()), "42P01"),
    ("portal", ("SELECT 1 / (id - id) FROM range(1)", (), (), ()), "22012"),
    ("portal", ("SELECT $1 + 1 AS v", (23,), ("abc",), ()), "22P02"),
    ("portal", ("SELECT 1 AS a", (), (), (1, 1)), "08P01"),
    ("portal", ("SELEC $1", (), ("1",), ()), "42601"),
    ("copy_to", "COPY (SELECT * FROM no_such_tbl_q) TO STDOUT", "42P01"),
    ("copy_to", "COPY (SELECT 1 / (id - id) FROM range(1)) TO STDOUT", "22012"),
    ("copy_to", "COPY region TO STDOUT WITH (FORMAT XML)", "0A000"),
    ("copy_to", "COPY region TO STDOUT WITH (HEADER)", "0A000"),
    ("copy_to", "COPY region FROM '/tmp/f.csv'", "0A000"),
    ("copy_to_ext", "COPY (SELECT * FROM no_such_tbl_q) TO STDOUT", "42P01"),
    ("copy_to_ext", "COPY region TO STDOUT WITH (HEADER)", "0A000"),
    ("copy_from", ("COPY no_such_tbl_q FROM STDIN", b"", None), "42P01"),
    ("copy_from", ("COPY region FROM STDIN", b"", None), "0A000"),
    ("copy_from", ("COPY sqlstate_t (nope) FROM STDIN", b"", None), "0A000"),
    ("copy_from", ("COPY sqlstate_t FROM STDIN WITH (FORMAT XML)", b"", None), "0A000"),
    ("copy_from", ("COPY sqlstate_t FROM STDIN", b"1\n", "client abort"), "22P04"),
    ("copy_from", ("COPY sqlstate_t FROM STDIN", b"1\t2\n", None), "22P04"),
    ("copy_from", ("COPY sqlstate_t FROM STDIN WITH (FORMAT BINARY)", b"nope", None), "22P04"),
    ("copy_from", ("COPY sqlstate_t FROM STDIN", b"abc\n", None), "22P02"),
    ("copy_from_ext", ("COPY sqlstate_t FROM STDIN", b"1\t2\n", None), "22P04"),
    ("copy_from_ext", ("COPY region FROM STDIN", b"", None), "0A000"),
)


def test_sqlstate_classification(conn):
    """Every error path maps to the SQLSTATE a pg client branches on,
    pinned per (path, statement); after each error the connection
    answers the next statement."""
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS sqlstate_t")
    _simple_query(sock, buf, "CREATE TABLE sqlstate_t (k BIGINT) USING parquet")
    got = []
    try:
        for path, stmt, _ in _SQLSTATE_TABLE:
            if path in ("simple", "copy_to"):
                msgs = _simple_query(sock, buf, stmt)
            elif path == "portal":
                msgs = _portal_msgs(sock, buf, *stmt)
            elif path == "copy_to_ext":
                msgs = _portal_msgs(sock, buf, stmt)
            elif path == "copy_from":
                msgs = _copy_in(sock, buf, *stmt)
            else:
                msgs = _copy_in_ext(sock, buf, *stmt[:2])
            got.append((path, stmt, _error_code(msgs)))
            assert _data_rows(_simple_query(sock, buf, "SELECT 1 AS v")) == [[b"1"]]
    finally:
        _simple_query(sock, buf, "DROP TABLE IF EXISTS sqlstate_t")
    assert got == list(_SQLSTATE_TABLE)
    # protocol-level codes of the extended flow
    _send(sock, b"B", b"\x00no_such_stmt\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"S", b"")
    assert _error_code(_read_until_ready(sock, buf)) == "26000"
    _send(sock, b"E", b"no_such_portal\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    assert _error_code(_read_until_ready(sock, buf)) == "34000"


def test_concurrent_clients_are_isolated(pg_server):
    """Several clients hammer the server simultaneously, each with its
    own parameterized statements — results never bleed across
    connections (per-connection statement/portal state, shared
    SparkSession)."""
    import threading

    errors: list[str] = []

    def client(worker: int) -> None:
        try:
            sock = socket.create_connection(
                ("127.0.0.1", pg_server.port), timeout=120
            )
            buf = bytearray()
            _startup(sock)
            _read_until_ready(sock, buf)
            for i in range(5):
                want = worker * 100 + i
                sql = f"SELECT {worker} * 100 + $1 AS v".encode()
                _send(
                    sock, b"P", b"s\x00" + sql + b"\x00" + struct.pack("!hI", 1, 23)
                )
                val = str(i).encode()
                _send(
                    sock,
                    b"B",
                    b"\x00s\x00"
                    + struct.pack("!hh", 0, 1)
                    + struct.pack("!I", len(val))
                    + val
                    + struct.pack("!h", 0),
                )
                _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
                _send(sock, b"S", b"")
                msgs = _read_until_ready(sock, buf)
                rows = _data_rows(msgs)
                if rows != [[str(want).encode()]]:
                    errors.append(f"worker {worker} iter {i}: {rows!r}")
            sock.close()
        except Exception as e:  # noqa: BLE001
            errors.append(f"worker {worker}: {e!r}")

    threads = [threading.Thread(target=client, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors


def test_federated_agg_pushdown(spark, two_shards):
    """Aggregate pushdown ships per-shard partial aggregates and
    merges Spark-side; results equal the plain union-then-aggregate
    path for every decomposable fn (sum/count/min/max/avg), grouped
    and global."""
    from pyspark.sql import functions as F

    from csvb_spark.sources.federation import (
        VirtualTable,
        add_federated_tables,
        federated_agg,
    )

    vt = VirtualTable("tbl", two_shards)
    aggs = {
        "n": ("count", "*"),
        "sum_v": ("sum", "v"),
        "min_id": ("min", "id"),
        "max_id": ("max", "id"),
        "avg_v": ("avg", "v"),
    }
    pushed = federated_agg(spark, vt, ["id % 10 AS g"], aggs)

    plain = add_federated_tables(spark, [vt], transport="pgwire")["tbl"]
    direct = plain.selectExpr("id % 10 AS g", "id", "v").groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sum_v"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
        F.avg("v").alias("avg_v"),
    )
    a = {tuple(r) for r in pushed.collect()}
    b = {tuple(r) for r in direct.collect()}
    assert a == b

    # global (no GROUP BY) shape
    g = federated_agg(spark, vt, [], {"n": ("count", "*"), "sum_v": ("sum", "v")})
    assert g.collect() == [(250, plain.agg(F.sum("v")).collect()[0][0])]

    # moment-decomposed stddev/var merge across shards to within float
    # noise of the central computation
    sv = federated_agg(
        spark, vt, [], {"sd_v": ("stddev", "v"), "var_v": ("var", "v")}
    ).collect()[0]
    ref = plain.agg(
        F.stddev_samp("v").alias("sd"), F.var_samp("v").alias("var")
    ).collect()[0]
    assert abs(sv["sd_v"] - ref["sd"]) < 1e-9
    assert abs(sv["var_v"] - ref["var"]) < 1e-9

    # single-row groups: NULL (native stddev_samp semantics), never a
    # DIVIDE_BY_ZERO under ANSI mode
    ones = federated_agg(spark, vt, ["id AS g"], {"sd_v": ("stddev", "v")})
    assert all(r["sd_v"] is None for r in ones.collect())


def test_federated_stddev_ill_conditioned_never_nan(spark, two_shards_big_const):
    """Moment decomposition (sq - sum²/n)/(n-1) can go slightly
    negative via catastrophic cancellation on near-constant columns of
    large magnitude; the GREATEST(·, 0) floor must degrade that to
    0/sqrt(0)=0 (matching native stddev's ~0), never NaN."""
    import math

    from csvb_spark.sources.federation import VirtualTable, federated_agg

    vt = VirtualTable("tbl", two_shards_big_const)
    row = federated_agg(
        spark, vt, [], {"sd": ("stddev", "v"), "vr": ("var", "v")}
    ).collect()[0]
    assert row["sd"] is not None and not math.isnan(row["sd"])
    assert row["vr"] is not None and not math.isnan(row["vr"])
    assert row["sd"] >= 0.0 and row["vr"] >= 0.0
    # magnitude sanity: true stddev is ~0.8, but moment decomposition
    # at |x|~1e9 carries ~|x|²·ε ≈ 1e2-scale variance noise (the
    # documented conditioning caveat) — assert the noise scale, not
    # the true value
    assert row["vr"] < 1e4


@pytest.fixture()
def two_shards_big_const(spark):
    """Shards whose column is near-constant at large magnitude — the
    catastrophic-cancellation shape for moment-decomposed variance."""
    from csvb_spark.server.pgwire import PgWireServer

    s1, s2 = spark.newSession(), spark.newSession()
    s1.range(0, 50).selectExpr(
        "id", "CAST(1000000000 + id % 3 AS DOUBLE) AS v"
    ).createOrReplaceTempView("tbl")
    s2.range(50, 100).selectExpr(
        "id", "CAST(1000000000 + id % 3 AS DOUBLE) AS v"
    ).createOrReplaceTempView("tbl")
    srv1, srv2 = PgWireServer(s1, "127.0.0.1:0"), PgWireServer(s2, "127.0.0.1:0")
    srv1.start_background()
    srv2.start_background()
    yield [
        f"postgresql://u@127.0.0.1:{srv1.port}/db",
        f"postgresql://u@127.0.0.1:{srv2.port}/db",
    ]
    srv1.shutdown()
    srv2.shutdown()


# --- federation over the pgwire transport (no JDBC jar in this env) ----------------
@pytest.fixture()
def two_shards(spark):
    from csvb_spark.server.pgwire import PgWireServer

    s1, s2 = spark.newSession(), spark.newSession()
    s1.range(0, 100).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS s"
    ).createOrReplaceTempView("tbl")
    s2.range(100, 250).selectExpr(
        "id", "id * 2 AS v", "CAST(id AS STRING) AS s"
    ).createOrReplaceTempView("tbl")
    srv1, srv2 = PgWireServer(s1, "127.0.0.1:0"), PgWireServer(s2, "127.0.0.1:0")
    srv1.start_background()
    srv2.start_background()
    yield [
        f"postgresql://u@127.0.0.1:{srv1.port}/db",
        f"postgresql://u@127.0.0.1:{srv2.port}/db",
    ]
    srv1.shutdown()
    srv2.shutdown()


def test_federate_pgwire_union(spark, two_shards):
    from csvb_spark.sources.federation import VirtualTable, add_federated_tables

    dfs = add_federated_tables(
        spark,
        [VirtualTable("tbl", two_shards)],
        transport="pgwire",
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM tbl").collect()[0].n == 250
    agg = spark.sql("SELECT SUM(v) AS sv, MIN(id) AS mn, MAX(id) AS mx FROM tbl").collect()[0]
    assert (agg.sv, agg.mn, agg.mx) == (62250, 0, 249)
    assert dfs["tbl"].columns == ["id", "v", "s"]


def test_federate_pgwire_empty_slice_with_timestamp(spark):
    """An empty shard result (here: a mod-slice over a shard holding
    only even keys) must yield NOTHING, not an empty pandas frame —
    empty columns default to float64 and the Arrow boundary cannot
    cast float64 → timestamp. Found by the round-14 federation bench;
    regression-pinned with a timestamp column in the schema."""
    from csvb_spark.server.pgwire import PgWireServer
    from csvb_spark.sources.federation import read_shard_pg

    s1 = spark.newSession()
    s1.range(0, 40).selectExpr(
        "id * 2 AS id", "timestamp'2024-01-02 03:04:05' + make_interval(0,0,0,0,0,0,id) AS ts"
    ).createOrReplaceTempView("evens")
    srv = PgWireServer(s1, "127.0.0.1:0")
    srv.start_background()
    try:
        addr = f"postgresql://u@127.0.0.1:{srv.port}/db"
        # MOD(ABS(id),2)=1 is empty — the slice that used to crash
        df = read_shard_pg(
            spark, addr, "evens", partition_column="id", num_partitions=2
        )
        rows = df.collect()
        assert len(rows) == 40
        assert rows[0].ts.year == 2024
        # fully-empty result: pushdown predicate matching nothing
        none = read_shard_pg(spark, addr, "evens", predicate="id < 0")
        assert none.count() == 0
    finally:
        srv.shutdown()


def test_federate_pgwire_pushdown(spark, two_shards):
    from csvb_spark.sources.federation import read_shard_pg

    df = read_shard_pg(
        spark, two_shards[1], "tbl", columns=["id", "v"], predicate="id >= 200", limit=10
    )
    rows = df.collect()
    assert df.columns == ["id", "v"]
    assert len(rows) == 10
    assert all(r.id >= 200 and r.v == r.id * 2 for r in rows)


def test_pgclient_pools_connections(pg_server):
    """Sequential queries to one shard reuse a single pooled
    connection (reference postgres_pool.rs:103-169 behavior)."""
    from csvb_spark.sources import pgclient

    key = ("127.0.0.1", pg_server.port, "u", "db")
    with pgclient._POOL.lock:
        pgclient._POOL.conns.pop(key, None)
    for _ in range(3):
        cols, rows = pgclient.pg_simple_query(
            "127.0.0.1", pg_server.port, "SELECT 11 AS x", user="u", database="db"
        )
        assert rows == [["11"]]
    # 3 queries, 1 connection: each checkout drains the pool, each
    # checkin returns the same conn — never more than one idle
    assert pgclient.pool_stats().get(key) == 1


def test_pgclient_pool_survives_by_value_unpickling(pg_server):
    """Executor-side pooling contract: pgclient travels BY VALUE into
    task closures (federation.read_shard_pg), so every task
    deserialization yields a fresh module copy — each copy must
    resolve to the SAME process-wide pool (the sys-anchored
    singleton), or every slice opens its own shard connection. Two
    independently-unpickled copies issuing a query each must leave
    exactly ONE pooled connection: ≤1 connect per shard per process."""
    from pyspark import cloudpickle as cp
    from pyspark.cloudpickle import (
        register_pickle_by_value,
        unregister_pickle_by_value,
    )

    from csvb_spark.sources import pgclient

    key = ("127.0.0.1", pg_server.port, "u3", "db")
    with pgclient._POOL.lock:
        pgclient._POOL.conns.pop(key, None)
    register_pickle_by_value(pgclient)
    try:
        payload = cp.dumps(pgclient.pg_simple_query)
    finally:
        unregister_pickle_by_value(pgclient)
    f1, f2 = cp.loads(payload), cp.loads(payload)
    # genuinely distinct module copies (the executor situation) ...
    assert f1.__globals__ is not pgclient.pg_simple_query.__globals__
    assert f1.__globals__ is not f2.__globals__
    # ... sharing one pool object
    assert f1.__globals__["_POOL"] is pgclient._POOL
    assert f2.__globals__["_POOL"] is pgclient._POOL
    for f, expect in ((f1, "21"), (f2, "22")):
        _, rows = f(
            "127.0.0.1",
            pg_server.port,
            f"SELECT {expect} AS x",
            user="u3",
            database="db",
        )
        assert rows == [[expect]]
    assert pgclient.pool_stats().get(key) == 1


def test_served_csv_sees_in_place_rewrite(fresh_spark, tmp_path):
    """A table registered the way ``csvb serve`` does (small, so
    persisted at once) answers from its cache, and the first wire
    statement after an in-place rewrite of its file returns the new
    rows."""
    from csvb_spark.server.pgwire import PgWireServer
    from csvb_spark.sources.csv_source import add_direct_table

    f = tmp_path / "served.csv"
    f.write_text("id,val\n1,10\n2,20\n")
    add_direct_table(fresh_spark, "served_csv", [str(f)], persist=True)
    sql = "SELECT count(*), sum(val) FROM served_csv"
    server = PgWireServer(fresh_spark, "127.0.0.1:0")
    with contextlib.ExitStack() as stack:
        server.start_background()
        stack.callback(server.shutdown)
        conn = _open_conn("127.0.0.1", server.port)
        stack.callback(conn[0].close)
        assert _data_rows(_simple_query(*conn, sql)) == [[b"2", b"30"]]
        with open(f, "w") as out:  # same inode, other size
            out.write("id,val\n7,700\n8,800\n9,900\n")
        assert _data_rows(_simple_query(*conn, sql)) == [[b"3", b"2400"]]


def _bulk_messages() -> list[bytes]:
    """One 32 MiB CopyData, then 200k DataRow messages of 100 bytes."""
    import os

    big = os.urandom(32 << 20)
    msgs = [b"d" + struct.pack("!I", len(big) + 4) + big]
    for i in range(200_000):
        body = i.to_bytes(4, "big") * 23 + b"\x00\x01\x02"  # 95 bytes
        msgs.append(b"D" + struct.pack("!I", len(body) + 4) + body)
    return msgs


def _read_back(read_message, n: int) -> bytes:
    out = []
    for _ in range(n):
        tag, body = read_message()
        out.append(tag + struct.pack("!I", len(body) + 4) + body)
    return b"".join(out)


def test_message_reader_reads_large_and_many_messages_exactly(monkeypatch):
    """The server's and the client's message reader return every byte
    of one 32 MiB message and of 200k short ones, in order, over a
    socket pair. Both share one reader, which joins a message's chunks
    once, so the big one takes time linear in its size."""
    import threading

    from csvb_spark.server.pgwire import _Conn
    from csvb_spark.sources import pgclient

    msgs = _bulk_messages()
    wire = b"".join(msgs)

    def send_all(sock, data):
        sock.sendall(data)
        sock.shutdown(socket.SHUT_WR)  # a misframing reader meets EOF, not a hang

    # server side: the client sends, _Conn reads
    a, b = socket.socketpair()
    b.settimeout(60)
    sender = threading.Thread(target=send_all, args=(a, wire))
    sender.start()
    try:
        assert _read_back(_Conn(b, None).reader.read_message, len(msgs)) == wire
    finally:
        sender.join(timeout=60)
        a.close()
        b.close()
    assert not sender.is_alive()

    # client side: a fake server answers the startup, then sends
    a, b = socket.socketpair()

    def fake_server():
        (length,) = struct.unpack("!I", a.recv(4, socket.MSG_WAITALL))
        a.recv(length - 4, socket.MSG_WAITALL)
        send_all(a, b"Z" + struct.pack("!I", 5) + b"I" + wire)

    monkeypatch.setattr(pgclient.socket, "create_connection", lambda *a, **k: b)
    server = threading.Thread(target=fake_server)
    server.start()
    try:
        conn = pgclient._PgConn("pair", 0, "u", "db", timeout=60)
        assert _read_back(conn.reader.read_message, len(msgs)) == wire
    finally:
        server.join(timeout=60)
        a.close()
        b.close()
    assert not server.is_alive()


def test_pgclient_recovers_from_stale_pooled_conn(pg_server):
    from csvb_spark.sources import pgclient

    key = ("127.0.0.1", pg_server.port, "u2", "db")
    _, rows = pgclient.pg_simple_query(
        "127.0.0.1", pg_server.port, "SELECT 1 AS x", user="u2", database="db"
    )
    assert rows == [["1"]]
    with pgclient._POOL.lock:
        (conn,) = pgclient._POOL.conns[key]
    conn.sock.close()  # simulate server-side drop while idle
    _, rows = pgclient.pg_simple_query(
        "127.0.0.1", pg_server.port, "SELECT 2 AS x", user="u2", database="db"
    )
    assert rows == [["2"]]


def test_dead_shard_fails_fast(spark):
    """A shard nobody listens on fails the precheck in ~2s with every
    dead address named, before any scan is attempted."""
    import time

    from csvb_spark.sources.federation import VirtualTable, add_federated_tables
    from csvb_spark.sources.pgclient import ShardUnreachable

    # grab a port that is closed (bind+close → nothing listens)
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()

    t0 = time.time()
    with pytest.raises(ShardUnreachable) as ei:
        add_federated_tables(
            spark,
            [VirtualTable("tbl", [f"postgresql://u@127.0.0.1:{dead_port}/db"])],
            transport="pgwire",
        )
    assert time.time() - t0 < 10
    assert str(dead_port) in str(ei.value)


def test_federate_pgwire_schema_mismatch(spark, two_shards):
    from csvb_spark.server.pgwire import PgWireServer
    from csvb_spark.sources.federation import (
        ShardSchemaMismatch,
        VirtualTable,
        add_federated_tables,
    )

    s3 = spark.newSession()
    s3.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "CAST(id AS STRING) AS s"
    ).createOrReplaceTempView("tbl")
    srv3 = PgWireServer(s3, "127.0.0.1:0")
    srv3.start_background()
    try:
        with pytest.raises(ShardSchemaMismatch):
            add_federated_tables(
                spark,
                [
                    VirtualTable(
                        "tbl",
                        [two_shards[0], f"postgresql://u@127.0.0.1:{srv3.port}/db"],
                    )
                ],
                transport="pgwire",
            )
    finally:
        srv3.shutdown()


def test_extended_binary_timestamptz_param(conn):
    """Binary-format timestamptz (oid 1184) shares 1114's wire format
    (8-byte micros since 2000-01-01); psycopg3/JDBC bind tz-aware
    datetimes this way, so it must decode rather than 0A000."""
    import datetime as dt

    sock, buf = conn
    sql = b"SELECT $1 AS ts"
    _send(sock, b"P", b"ptz\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1184))
    delta = dt.datetime(2024, 3, 1, 12, 34, 56, 789000) - dt.datetime(2000, 1, 1)
    ts_micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    body = (
        b"\x00ptz\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", 8)
        + struct.pack("!q", ts_micros)
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"2024-03-01 12:34:56.789000"]]


def _pg_numeric_bin(ndigits, weight, sign, dscale, digits):
    return struct.pack("!hhHh", ndigits, weight, sign, dscale) + struct.pack(
        f"!{len(digits)}h", *digits
    )


def test_extended_binary_numeric_param(conn):
    """Binary-format NUMERIC (oid 1700, base-10000 digit groups)
    decodes to a decimal literal — the psycopg/JDBC BigDecimal bind
    path that previously answered 0A000."""
    sock, buf = conn
    sql = b"SELECT $1 AS a, $2 AS b, $3 AS c, $4 AS d"
    _send(
        sock,
        b"P",
        b"pnum\x00" + sql + b"\x00" + struct.pack("!hIIII", 4, 1700, 1700, 1700, 1700),
    )
    vals = [
        # 12345.6789 = groups [1, 2345, 6789] weight 1, dscale 4
        _pg_numeric_bin(3, 1, 0x0000, 4, [1, 2345, 6789]),
        # -42 = groups [42] weight 0, negative
        _pg_numeric_bin(1, 0, 0x4000, 0, [42]),
        # 0.0001 = groups [1] weight -1, dscale 4
        _pg_numeric_bin(1, -1, 0x0000, 4, [1]),
        # 70000 = groups [7] weight 1 (trailing zero group omitted)
        _pg_numeric_bin(1, 1, 0x0000, 0, [7]),
    ]
    params = b"".join(struct.pack("!i", len(v)) + v for v in vals)
    body = (
        b"\x00pnum\x00"
        + struct.pack("!hh", 1, 1)  # one fmt code (binary) for all
        + struct.pack("!h", 4)
        + params
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"12345.6789", b"-42", b"0.0001", b"70000"]]


def test_extended_binary_numeric_nan_rejected_loudly(conn):
    """NUMERIC NaN has no Spark DECIMAL equivalent — clean error (not a
    silent mis-bind), connection survives."""
    sock, buf = conn
    _send(
        sock,
        b"P",
        b"pnan\x00SELECT $1 AS x\x00" + struct.pack("!hI", 1, 1700),
    )
    v = _pg_numeric_bin(0, 0, 0xC000, 0, [])
    body = (
        b"\x00pnan\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(v))
        + v
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    assert b"E" in tags and tags[-1] == b"Z"
    # connection survives: a simple query still works
    _send(sock, b"Q", b"SELECT 1 AS one\x00")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"1"]]


def test_extended_binary_uuid_param(conn):
    """Binary-format UUID (oid 2950, 16 raw bytes) decodes to the
    hyphenated text form and binds as a string literal."""
    import uuid as _uuid

    sock, buf = conn
    u = _uuid.UUID("12345678-9abc-def0-1234-56789abcdef0")
    sql = b"SELECT upper($1) AS u, length($1) AS n"
    _send(sock, b"P", b"puu\x00" + sql + b"\x00" + struct.pack("!hI", 1, 2950))
    body = (
        b"\x00puu\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", 16)
        + u.bytes
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [
        [str(u).upper().encode(), str(len(str(u))).encode()]
    ]


def test_simple_query_qualify_dialect(conn):
    """A psql user pasting DuckDB/Snowflake-style QUALIFY gets the
    round-5 dialect rewrite through the wire path too."""
    sock, buf = conn
    msgs = _simple_query(
        sock,
        buf,
        "SELECT o_custkey, o_orderkey FROM orders "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) = 1 "
        "ORDER BY o_custkey LIMIT 3",
    )
    rows = _data_rows(msgs)
    assert len(rows) == 3
    # one row per customer: first column strictly increasing
    custs = [int(r[0]) for r in rows]
    assert custs == sorted(set(custs))


# --- round 6: binary interval + 1-D array binds ------------------------------
def _pg_interval_bin(micros: int, days: int, months: int) -> bytes:
    return struct.pack("!qii", micros, days, months)


def test_extended_binary_interval_param_daytime(conn):
    """Binary-format INTERVAL (oid 1186: micros/days/months) with only
    day-time fields — the psycopg3 datetime.timedelta bind path."""
    sock, buf = conn
    sql = b"SELECT TIMESTAMP '2024-01-01 00:00:00' + $1 AS t"
    _send(sock, b"P", b"piv\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1186))
    iv = _pg_interval_bin(3_500_000, 2, 0)  # 2 days 3.5 seconds
    body = (
        b"\x00piv\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(iv))
        + iv
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"2024-01-03 00:00:03.500000"]]


def test_extended_binary_interval_param_yearmonth_and_mixed(conn):
    """Months-only intervals render as a year-month literal; a value
    mixing months AND day-time fields errors cleanly (Spark's two ANSI
    interval families are disjoint) and the connection survives."""
    sock, buf = conn
    sql = b"SELECT TIMESTAMP '2024-01-31 00:00:00' + $1 AS t"
    _send(sock, b"P", b"pym\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1186))
    iv = _pg_interval_bin(0, 0, 13)  # 13 months
    body = (
        b"\x00pym\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(iv))
        + iv
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"2025-02-28 00:00:00.000000"]]

    # mixed: 1 month 1 day → clean error, then the session still works
    iv2 = _pg_interval_bin(0, 1, 1)
    body2 = (
        b"\x00pym\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(iv2))
        + iv2
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body2)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs2 = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs2]
    assert b"E" in tags and tags[-1] == b"Z"
    assert _data_rows(_simple_query(sock, buf, "SELECT 1 AS x")) == [[b"1"]]


def _pg_array_bin(eloid: int, elems: list[bytes | None]) -> bytes:
    out = struct.pack(
        "!iii", 1, int(any(e is None for e in elems)), eloid
    ) + struct.pack("!ii", len(elems), 1)
    for e in elems:
        if e is None:
            out += struct.pack("!i", -1)
        else:
            out += struct.pack("!i", len(e)) + e
    return out


def test_extended_binary_int4_array_param(conn):
    """Binary-format int4[] (oid 1007) binds decode element-wise and
    render as an array(...) constructor."""
    sock, buf = conn
    sql = b"SELECT array_contains($1, 20) AS c, size($1) AS n, element_at($1, 3) AS e"
    _send(sock, b"P", b"par\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1007))
    arr = _pg_array_bin(23, [struct.pack("!i", v) for v in (10, 20, 30)])
    body = (
        b"\x00par\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(arr))
        + arr
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"t", b"3", b"30"]]


def test_extended_binary_text_array_with_null_and_specials(conn):
    """text[] binary binds quote elements containing separators, keep
    NULL elements, and round-trip through element_at."""
    sock, buf = conn
    sql = b"SELECT size($1) AS n, element_at($1, 2) AS e, element_at($1, 3) IS NULL AS z"
    _send(sock, b"P", b"pta\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1009))
    arr = _pg_array_bin(25, [b"plain", b"a,b {c}", None])
    body = (
        b"\x00pta\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(arr))
        + arr
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"3", b"a,b {c}", b"t"]]


def test_extended_text_format_array_param(conn):
    """TEXT-format array binds ('{...}' postgres array text) share the
    binary path's rendering — including empty arrays, whose element
    type is pinned with a CAST."""
    sock, buf = conn
    sql = b"SELECT size($1) AS n, element_at($1, 1) AS a, size($2) AS z"
    _send(
        sock,
        b"P",
        b"pts\x00" + sql + b"\x00" + struct.pack("!hII", 2, 1016, 1007),
    )
    body = (
        b"\x00pts\x00"
        + struct.pack("!h", 0)  # all text format
        + struct.pack("!h", 2)
        + struct.pack("!i", 7) + b"{5,6,7}"
        + struct.pack("!i", 2) + b"{}"
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"3", b"5", b"0"]]


def test_pg_array_text_parser_unit():
    from csvb_spark.server.pgwire import _parse_pg_array_text, _quote_param

    assert _parse_pg_array_text("{1,2,3}") == ["1", "2", "3"]
    assert _parse_pg_array_text('{a,"b,c",NULL,"NULL"}') == ["a", "b,c", None, "NULL"]
    assert _parse_pg_array_text('{"back\\\\slash","qu\\"ote"}') == [
        'back\\slash',
        'qu"ote',
    ]
    assert _parse_pg_array_text("{}") == []
    import pytest

    # nested arrays parse into sub-lists (round 7: multi-D binds)
    assert _parse_pg_array_text("{{1},{2}}") == [["1"], ["2"]]
    assert _parse_pg_array_text('{{a,"b c"},{NULL,d}}') == [
        ["a", "b c"],
        [None, "d"],
    ]
    with pytest.raises(ValueError, match="mixes scalar"):
        _parse_pg_array_text("{1,{2}}")
    with pytest.raises(ValueError, match="invalid array"):
        _parse_pg_array_text("1,2,3")
    # rendering: ints bare, strings quoted, NULL kept
    assert _quote_param("{1,2}", 1007) == "array(1, 2)"
    assert _quote_param('{x,NULL,"a b"}', 1009) == "array('x', NULL, 'a b')"
    assert _quote_param("{}", 1007) == "CAST(array() AS array<int>)"


def test_array_result_columns_typed_and_text_quoted(conn):
    """Array-valued result columns report their true array oid in
    RowDescription and render the QUOTED postgres array text form."""
    sock, buf = conn
    msgs = _simple_query(
        sock, buf,
        "SELECT array(1, 2, 3) AS xs, array('plain', 'a,b', NULL) AS ss",
    )
    rowdesc = next(b for t, b in msgs if t == b"T")
    # field entries: int16 nfields, then per field name\0 + 18 bytes
    nf = struct.unpack("!h", rowdesc[:2])[0]
    assert nf == 2
    off, oids = 2, []
    for _ in range(nf):
        end = rowdesc.index(b"\x00", off)
        tableoid, colno, oid, size, mod, fmt = struct.unpack(
            "!IhIhih", rowdesc[end + 1 : end + 19]
        )
        oids.append(oid)
        off = end + 19
    assert oids == [1007, 1009]  # int4[], text[]
    assert _data_rows(msgs) == [[b"{1,2,3}", b'{plain,"a,b",NULL}']]


def test_binary_result_array_and_interval(conn):
    """Binary-coded array and interval result columns use the wire
    layouts (round-tripped through the decoders used for binds)."""
    sock, buf = conn
    sql = (
        b"SELECT array(7, NULL, 9) AS xs, "
        b"TIMESTAMP '2024-01-03 00:00:01' - TIMESTAMP '2024-01-01 00:00:00' AS iv"
    )
    _send(sock, b"P", b"pbr\x00" + sql + b"\x00" + struct.pack("!h", 0))
    body = (
        b"\x00pbr\x00"
        + struct.pack("!h", 0)  # no params
        + struct.pack("!h", 0)
        + struct.pack("!hh", 1, 1)  # ALL result columns binary
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    rows = _data_rows(msgs)
    assert len(rows) == 1
    arr, iv = rows[0]
    ndim, hasnull, eloid = struct.unpack("!iii", arr[:12])
    assert (ndim, hasnull, eloid) == (1, 1, 23)
    dimlen, lbound = struct.unpack("!ii", arr[12:20])
    assert (dimlen, lbound) == (3, 1)
    vals, off = [], 20
    for _ in range(dimlen):
        (elen,) = struct.unpack("!i", arr[off : off + 4])
        off += 4
        if elen == -1:
            vals.append(None)
        else:
            vals.append(struct.unpack("!i", arr[off : off + elen])[0])
            off += elen
    assert vals == [7, None, 9]
    micros, days, months = struct.unpack("!qii", iv)
    assert (micros, days, months) == (1_000_000, 2, 0)


def test_interval_result_text_form(conn):
    sock, buf = conn
    msgs = _simple_query(
        sock, buf,
        "SELECT TIMESTAMP '2024-01-02 03:00:00.5' - "
        "TIMESTAMP '2024-01-01 00:00:00' AS iv",
    )
    assert _data_rows(msgs) == [[b"1 days 03:00:00.500000"]]


def test_wildcard_replace_over_join_via_wire(conn):
    """A pasted `SELECT * REPLACE (...)` over a 2-table join resolves
    through the simple-query path (the round-6 widened schema-aware
    rewrite runs inside execute_sql, which serves the wire)."""
    sock, buf = conn
    msgs = _simple_query(
        sock, buf,
        "SELECT * REPLACE (upper(r_name) AS r_name) "
        "FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey "
        "WHERE n.n_nationkey = 0",
    )
    rows = _data_rows(msgs)
    assert len(rows) == 1
    # region columns then nation columns; r_name uppercased
    assert rows[0][1] == rows[0][1].upper()
    assert rows[0][2] == b"0"  # n_nationkey


def test_array_of_struct_reports_text_array_oid():
    """Arrays of STRUCT report text[] (1009) carrying composite-text
    elements (round 7); maps/nested arrays have no composite wire
    form, so those columns stay plain text."""
    from csvb_spark.server.pgwire import _oid_for

    assert _oid_for("array<struct<a:int>>") == (1009, -1)
    assert _oid_for("array<map<string,int>>") == (25, -1)
    assert _oid_for("array<array<int>>") == (25, -1)
    assert _oid_for("array<int>") == (1007, -1)
    assert _oid_for("array<decimal(10,2)>") == (1231, -1)


def test_binary_text_array_bind_preserves_whitespace_elements(conn):
    """A binary text[] bind whose element starts with a tab must
    round-trip exactly — the decoder shares the renderer's quoting
    rule (a hand-rolled duplicate used to drop the whitespace)."""
    sock, buf = conn
    sql = b"SELECT element_at($1, 1) AS a, length(element_at($1, 1)) AS n"
    _send(sock, b"P", b"pws\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1009))
    arr = _pg_array_bin(25, [b"\thello\n"])
    body = (
        b"\x00pws\x00"
        + struct.pack("!hh", 1, 1)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(arr))
        + arr
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"\thello\n", b"7"]]


# --- round 7: colon-form interval text binds --------------------------------
def test_quote_interval_colon_forms():
    """Postgres's default IntervalStyle renders the time part as
    HH:MM:SS; Spark's multi-unit parser has no colon form, so the
    clock expands to unit text (and a leading sign distributes)."""
    from csvb_spark.server.pgwire import _quote_interval

    assert _quote_interval("04:00:00") == (
        "INTERVAL '4 hours 0 minutes 0 seconds'"
    )
    assert _quote_interval("1 day 04:30:10.5") == (
        "INTERVAL '1 day 4 hours 30 minutes 10.5 seconds'"
    )
    assert _quote_interval("-04:00:00") == (
        "INTERVAL '-4 hours -0 minutes -0 seconds'"
    )
    assert _quote_interval("2 mons") == "INTERVAL '2 months'"


def test_quote_interval_unitless_rejected():
    """Unit-less text that slips the safe-charset regex ('1-2',
    'P1Y2M') raises the promised ValueError instead of a downstream
    Spark parse error."""
    import pytest as _pytest

    from csvb_spark.server.pgwire import _quote_interval

    for bad in ("1-2", "P1Y2M", "17"):
        with _pytest.raises(ValueError):
            _quote_interval(bad)


# --- round 7: registration probes run concurrently ---------------------------
def test_federated_probes_run_concurrently(spark, monkeypatch):
    """With 3 shards, the liveness prechecks all run in ONE concurrent
    round, and so do the schema probes: each fake blocks on a
    3-party barrier, so a sequential registration would deadlock the
    barrier (BrokenBarrierError via timeout) instead of passing."""
    import threading

    from csvb_spark.sources import federation, pgclient

    barrier_pre = threading.Barrier(3, timeout=15)
    barrier_probe = threading.Barrier(3, timeout=15)

    def fake_precheck(host, port, user="csvb", database="csvb"):
        barrier_pre.wait()

    def fake_probe(addr, table):
        barrier_probe.wait()
        return [("id", 20), ("v", 25)]

    monkeypatch.setattr(pgclient, "precheck_shard", fake_precheck)
    monkeypatch.setattr(federation, "probe_shard_schema", fake_probe)
    vt = federation.VirtualTable(
        "t_conc", [f"postgres://u@h{i}:5432/db" for i in range(3)]
    )
    dfs = federation.add_federated_tables(spark, [vt], transport="pgwire")
    assert dfs["t_conc"].columns == ["id", "v"]


# --- round 7: composite arrays and multi-dimensional binds -------------------
def test_struct_array_result_is_composite_text(conn):
    """array<struct> result columns report text[] (1009) and render
    postgres composite-text elements: {"(a,b)","(c,d)"}."""
    sock, buf = conn
    sql = (
        b"SELECT array(named_struct('a', 1, 'b', 'x'), "
        b"named_struct('a', 2, 'b', 'y z')) AS xs"
    )
    _send(sock, b"P", b"pcs\x00" + sql + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"D", b"S" + b"pcs\x00")
    _send(
        sock,
        b"B",
        b"\x00pcs\x00" + struct.pack("!h", 0) + struct.pack("!h", 0)
        + struct.pack("!h", 0),
    )
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    rowdesc = next(p for t, p in msgs if t == b"T")
    # column oid lives at a fixed offset after the NUL-terminated name
    name_end = rowdesc.index(b"\x00", 2)
    (oid,) = struct.unpack("!I", rowdesc[name_end + 7 : name_end + 11])
    assert oid == 1009
    assert _data_rows(msgs) == [[b'{"(1,x)","(2,\\"y z\\")"}']]


def test_struct_scalar_renders_composite_text(conn):
    sock, buf = conn
    msgs = _simple_query(
        sock, buf, "SELECT named_struct('a', 1, 'b', NULL, 'c', 'x,y') AS s"
    )
    assert _data_rows(msgs) == [[b'(1,,"x,y")']]


def test_text_bind_2d_array(conn):
    """A 2-D text-format array parameter ('{{1,2},{3,4}}') binds into
    a Spark array<array<int>>."""
    sock, buf = conn
    sql = b"SELECT element_at(element_at($1, 2), 1) AS v, size($1) AS n"
    _send(sock, b"P", b"p2d\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1007))
    val = b"{{1,2},{30,4}}"
    body = (
        b"\x00p2d\x00"
        + struct.pack("!h", 0)  # all params text format
        + struct.pack("!h", 1)
        + struct.pack("!i", len(val))
        + val
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"30", b"2"]]


def test_binary_bind_2d_array(conn):
    """A 2-D binary array parameter (two dim headers, row-major
    elements) decodes into nested text and binds as
    array<array<int>>."""
    sock, buf = conn
    sql = b"SELECT element_at(element_at($1, 1), 2) AS v"
    _send(sock, b"P", b"p2b\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1007))
    payload = struct.pack("!iii", 2, 0, 23)  # ndim=2, no nulls, int4
    payload += struct.pack("!ii", 2, 1)  # dim 0: len 2
    payload += struct.pack("!ii", 3, 1)  # dim 1: len 3
    for v in (10, 20, 30, 40, 50, 60):
        payload += struct.pack("!i", 4) + struct.pack("!i", v)
    body = (
        b"\x00p2b\x00"
        + struct.pack("!hh", 1, 1)  # one param, binary
        + struct.pack("!h", 1)
        + struct.pack("!i", len(payload))
        + payload
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert _data_rows(msgs) == [[b"20"]]


def test_mixed_scalar_subarray_text_bind_rejected(conn):
    """'{1,{2}}' is not a valid postgres array: clean error, and the
    connection survives for the next query."""
    sock, buf = conn
    sql = b"SELECT $1 AS v"
    _send(sock, b"P", b"pmx\x00" + sql + b"\x00" + struct.pack("!hI", 1, 1007))
    val = b"{1,{2}}"
    body = (
        b"\x00pmx\x00"
        + struct.pack("!h", 0)
        + struct.pack("!h", 1)
        + struct.pack("!i", len(val))
        + val
        + struct.pack("!h", 0)
    )
    _send(sock, b"B", body)
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert any(t == b"E" for t, _ in msgs)
    assert _data_rows(_simple_query(sock, buf, "SELECT 1 AS ok")) == [[b"1"]]


# --- COPY TO STDOUT -----------------------------------------------------------


def _copy_payload(msgs) -> tuple[bytes | None, list[bytes], bytes | None]:
    """(CopyOutResponse payload, CopyData payloads, CommandComplete)"""
    h, data, cc = None, [], None
    for tag, payload in msgs:
        if tag == b"H":
            h = payload
        elif tag == b"d":
            data.append(payload)
        elif tag == b"C":
            cc = payload
    return h, data, cc


def test_copy_query_to_stdout_text(conn):
    """COPY (query) TO STDOUT streams text-format rows: tab delimiter,
    \\N for NULL, backslash escaping, COPY n tag."""
    sock, buf = conn
    msgs = _simple_query(
        sock,
        buf,
        r"COPY (SELECT 1 AS a, 'x\ty' AS b, CAST(NULL AS INT) AS c "
        r"UNION ALL SELECT 2, 'plain', 7 ORDER BY a) TO STDOUT",
    )
    h, data, cc = _copy_payload(msgs)
    assert h is not None
    nfmt, ncols = struct.unpack("!bh", h[:3])
    assert nfmt == 0 and ncols == 3
    assert cc == b"COPY 2\x00"
    lines = b"".join(data).split(b"\n")[:-1]
    assert lines[0].split(b"\t") == [b"1", b"x\\ty", b"\\N"]
    assert lines[1].split(b"\t") == [b"2", b"plain", b"7"]


def test_copy_table_csv_header(conn):
    """COPY table TO STDOUT WITH (FORMAT CSV, HEADER) emits the header
    row and RFC-4180 quoting."""
    sock, buf = conn
    msgs = _simple_query(
        sock,
        buf,
        "COPY (SELECT r_regionkey, 'a,\"b\"' AS tricky FROM region "
        "ORDER BY r_regionkey LIMIT 2) TO STDOUT WITH (FORMAT CSV, HEADER)",
    )
    _, data, cc = _copy_payload(msgs)
    assert cc == b"COPY 2\x00"
    lines = b"".join(data).split(b"\n")[:-1]
    assert lines[0] == b"r_regionkey,tricky"
    assert lines[1] == b'0,"a,""b"""'


def test_copy_whole_table_and_errors(conn):
    """COPY table TO STDOUT works bare; COPY FROM and unknown options
    are clean 0A000 errors and the connection recovers."""
    sock, buf = conn
    msgs = _simple_query(sock, buf, "COPY region TO STDOUT")
    _, data, cc = _copy_payload(msgs)
    assert cc == b"COPY 5\x00" and len(data) == 5

    msgs = _simple_query(sock, buf, "COPY region FROM STDIN")
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"read-only view" in errs[0]
    msgs = _simple_query(sock, buf, "COPY region FROM '/tmp/f.csv'")
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"STDIN only" in errs[0]
    msgs = _simple_query(
        sock, buf, "COPY region TO STDOUT WITH (FORMAT BINARY)"
    )
    _, bdata, bcc = _copy_payload(msgs)
    assert bcc == b"COPY 5\x00"
    assert b"".join(bdata).startswith(b"PGCOPY\n\xff\r\n\x00")
    msgs = _simple_query(
        sock, buf, "COPY region TO STDOUT WITH (HEADER)"
    )
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"FORMAT CSV" in errs[0]
    # recovered: a normal query still works
    msgs = _simple_query(sock, buf, "SELECT 42 AS v")
    assert _data_rows(msgs) == [[b"42"]]


def test_copy_extended_protocol(conn):
    """COPY runs inside the extended flow (psycopg3's default path):
    Parse/Describe answer ParameterDescription + NoData, Bind makes a
    copy-portal, Execute speaks the COPY sub-protocol, ReadyForQuery
    arrives only after Sync — both directions."""
    sock, buf = conn
    # COPY TO through Parse/Bind/Execute
    q = b"COPY (SELECT r_regionkey FROM region ORDER BY r_regionkey) TO STDOUT"
    _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"D", b"S\x00")
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    tags = [t for t, _ in msgs]
    # ParseComplete, ParameterDescription, NoData, BindComplete,
    # CopyOutResponse, CopyData*, CopyDone, CommandComplete, Ready
    assert tags[:4] == [b"1", b"t", b"n", b"2"]
    assert b"H" in tags and b"c" in tags
    data = b"".join(p for t, p in msgs if t == b"d")
    assert data == b"0\n1\n2\n3\n4\n"
    assert (b"C", b"COPY 5\x00") in msgs and tags[-1] == b"Z"

    # COPY FROM through Parse/Bind/Execute
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_ext_t")
    _simple_query(
        sock, buf, "CREATE TABLE copy_ext_t (a INT) USING parquet"
    )
    q = b"COPY copy_ext_t FROM STDIN"
    _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    # wait for CopyInResponse before streaming
    seen = []
    while True:
        t, pl = _read_msg(sock, buf)
        seen.append(t)
        if t == b"G":
            break
        assert t != b"E", pl
    payload = b"11\n22\n"
    sock.sendall(b"d" + struct.pack("!I", len(payload) + 4) + payload)
    sock.sendall(b"c" + struct.pack("!I", 4))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert (b"C", b"COPY 2\x00") in msgs
    rows = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_ext_t ORDER BY a")
    )
    assert rows == [[b"11"], [b"22"]]
    _simple_query(sock, buf, "DROP TABLE copy_ext_t")
    # the connection is still healthy for plain extended queries
    msgs = _simple_query(sock, buf, "SELECT 7 AS v")
    assert _data_rows(msgs) == [[b"7"]]


def test_copy_csv_empty_vs_null_and_delimiters(conn):
    """Second review-pass regressions: CSV force-quotes the empty
    string so it stays distinguishable from NULL; DELIMITER ','
    parses (quote-aware option split); alphanumeric and backslash
    delimiters are rejected (ambiguous with text escapes)."""
    sock, buf = conn
    msgs = _simple_query(
        sock,
        buf,
        "COPY (SELECT '' AS a, CAST(NULL AS STRING) AS b, 'x' AS c) "
        "TO STDOUT WITH (FORMAT CSV)",
    )
    data = [p for t, p in msgs if t == b"d"]
    assert b"".join(data) == b'"",,x\n'

    msgs = _simple_query(
        sock,
        buf,
        "COPY (SELECT 1 AS a, 2 AS b) TO STDOUT "
        "WITH (FORMAT CSV, DELIMITER ',')",
    )
    data = [p for t, p in msgs if t == b"d"]
    assert b"".join(data) == b"1,2\n"

    for bad in ("'n'", "'7'", "E'\\\\'"):
        msgs = _simple_query(
            sock, buf,
            f"COPY region TO STDOUT WITH (DELIMITER {bad})",
        )
        assert any(t == b"E" for t, _ in msgs)
    msgs = _simple_query(sock, buf, "SELECT 1 AS v")
    assert _data_rows(msgs) == [[b"1"]]


def _copy_in(sock, buf, sql: str, payload: bytes, fail: str | None = None):
    """Drive a COPY FROM STDIN exchange; returns all msgs after send."""
    body = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
    # wait for CopyInResponse (or an error, in which case no stream)
    while True:
        tag, p = _read_msg(sock, buf)
        if tag == b"G":
            break
        if tag == b"E":
            msgs = [(tag, p)] + _read_until_ready(sock, buf)
            return msgs
    sock.sendall(b"d" + struct.pack("!I", len(payload) + 4) + payload)
    if fail is not None:
        fb = fail.encode() + b"\x00"
        sock.sendall(b"f" + struct.pack("!I", len(fb) + 4) + fb)
    else:
        sock.sendall(b"c" + struct.pack("!I", 4))
    return _read_until_ready(sock, buf)


def test_copy_from_stdin_text_and_csv(conn):
    """COPY FROM STDIN ingests text-format rows (escapes + \\N) and
    CSV rows (quoted empty string vs unquoted NULL preserved), with a
    column subset loading NULL for the rest."""
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_in_t")
    _simple_query(
        sock, buf,
        "CREATE TABLE copy_in_t (a INT, b STRING, c STRING) USING parquet",
    )
    msgs = _copy_in(
        sock, buf, "COPY copy_in_t FROM STDIN",
        b"1\tx\ty z\n2\t\\N\ttab\\there\n",
    )
    assert (b"C", b"COPY 2\x00") in msgs

    msgs = _copy_in(
        sock, buf,
        "COPY copy_in_t FROM STDIN WITH (FORMAT CSV, HEADER)",
        b'a,b,c\n3,"",unquoted\n4,"q ""x""",\n',
    )
    assert (b"C", b"COPY 2\x00") in msgs

    msgs = _copy_in(
        sock, buf, "COPY copy_in_t (a) FROM STDIN", b"9\n"
    )
    assert (b"C", b"COPY 1\x00") in msgs

    msgs = _copy_in(sock, buf, "COPY copy_in_t FROM STDIN", b"")  # zero rows
    assert (b"C", b"COPY 0\x00") in msgs

    rows = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_in_t ORDER BY a")
    )
    assert rows == [
        [b"1", b"x", b"y z"],
        [b"2", None, b"tab\there"],
        [b"3", b"", b"unquoted"],   # quoted "" stays empty string
        [b"4", b'q "x"', None],     # unquoted empty -> NULL
        [b"9", None, None],         # column subset
    ]
    _simple_query(sock, buf, "DROP TABLE copy_in_t")


def test_copy_from_stdin_errors_keep_sync(conn):
    """Bad target before the stream, CopyFail, and a row-width
    mismatch after the stream all error cleanly and the connection
    recovers."""
    sock, buf = conn
    msgs = _copy_in(sock, buf, "COPY nonexistent_t FROM STDIN", b"")
    assert any(t == b"E" for t, _ in msgs)

    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_in_e")
    _simple_query(
        sock, buf, "CREATE TABLE copy_in_e (a INT) USING parquet"
    )
    msgs = _copy_in(
        sock, buf, "COPY copy_in_e FROM STDIN", b"1\n", fail="client abort"
    )
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"client abort" in errs[0]

    msgs = _copy_in(sock, buf, "COPY copy_in_e FROM STDIN", b"1\t2\n")
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"columns" in errs[0]

    assert _data_rows(_simple_query(sock, buf, "SELECT 5 AS v")) == [[b"5"]]
    _simple_query(sock, buf, "DROP TABLE copy_in_e")


# --- COPY round-trip + streaming ingest (round-10 fixes) ----------------------------
def test_copy_text_split_escape_aware():
    """Unit: delimiter bytes behind an odd backslash run are content."""
    from csvb_spark.server.pgwire import _copy_text_split

    assert _copy_text_split(b"a|b", b"|") == [b"a", b"b"]
    assert _copy_text_split(rb"a\|b", b"|") == [rb"a\|b"]
    assert _copy_text_split(rb"a\\|b", b"|") == [rb"a\\", b"b"]
    assert _copy_text_split(rb"a\\\|b|c", b"|") == [rb"a\\\|b", b"c"]
    assert _copy_text_split(b"", b"|") == [b""]
    assert _copy_text_split(b"|", b"|") == [b"", b""]
    assert _copy_text_split(rb"\|", b"|") == [rb"\|"]


def _copy_in_chunks(sock, buf, sql: str, chunks: list[bytes]):
    """COPY FROM STDIN sending the payload as MULTIPLE CopyData
    messages — exercises partial-row buffering across chunk cuts."""
    body = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
    while True:
        tag, p = _read_msg(sock, buf)
        if tag == b"G":
            break
        if tag == b"E":
            return [(tag, p)] + _read_until_ready(sock, buf)
    for c in chunks:
        sock.sendall(b"d" + struct.pack("!I", len(c) + 4) + c)
    sock.sendall(b"c" + struct.pack("!I", 4))
    return _read_until_ready(sock, buf)


def test_copy_text_roundtrip_custom_delimiter(conn):
    """The server round-trips its OWN text output: COPY TO with
    DELIMITER '|' over cells containing the delimiter, backslashes,
    newlines, and empty strings, then COPY FROM the captured bytes —
    full table equality."""
    sock, buf = conn
    for t in ("copy_rt_src", "copy_rt_dst"):
        _simple_query(sock, buf, f"DROP TABLE IF EXISTS {t}")
        _simple_query(
            sock, buf, f"CREATE TABLE {t} (a INT, b STRING) USING parquet"
        )
    _simple_query(
        sock, buf,
        "INSERT INTO copy_rt_src VALUES "
        "(1, 'has|pipe'), (2, 'back\\\\slash'), (3, ''), (4, NULL), "
        "(5, 'nl\\nhere'), (6, '\\\\|mix|\\\\'), (7, '\\\\\\\\||')",
    )
    msgs = _simple_query(
        sock, buf, "COPY copy_rt_src TO STDOUT WITH (DELIMITER '|')"
    )
    _, data, cc = _copy_payload(msgs)
    assert cc == b"COPY 7\x00"
    payload = b"".join(data)
    msgs = _copy_in(
        sock, buf, "COPY copy_rt_dst FROM STDIN WITH (DELIMITER '|')",
        payload,
    )
    assert (b"C", b"COPY 7\x00") in msgs
    src = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_rt_src ORDER BY a")
    )
    dst = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_rt_dst ORDER BY a")
    )
    assert src == dst and len(dst) == 7
    for t in ("copy_rt_src", "copy_rt_dst"):
        _simple_query(sock, buf, f"DROP TABLE {t}")


def test_copy_text_empty_line_is_empty_string_row(conn):
    """A single-column empty-string row serializes as an empty LINE in
    text format; COPY FROM must ingest it, not drop it (only the
    trailing-newline artifact and \\. are skipped)."""
    sock, buf = conn
    for t in ("copy_el_src", "copy_el_dst"):
        _simple_query(sock, buf, f"DROP TABLE IF EXISTS {t}")
        _simple_query(
            sock, buf, f"CREATE TABLE {t} (s STRING) USING parquet"
        )
    _simple_query(
        sock, buf, "INSERT INTO copy_el_src VALUES (''), ('x'), (NULL)"
    )
    msgs = _simple_query(sock, buf, "COPY copy_el_src TO STDOUT")
    _, data, cc = _copy_payload(msgs)
    assert cc == b"COPY 3\x00"
    msgs = _copy_in(
        sock, buf, "COPY copy_el_dst FROM STDIN", b"".join(data)
    )
    assert (b"C", b"COPY 3\x00") in msgs
    rows = _data_rows(
        _simple_query(
            sock, buf,
            "SELECT s, count(*) AS n FROM copy_el_dst "
            "GROUP BY s ORDER BY s NULLS FIRST",
        )
    )
    assert rows == [[None, b"1"], [b"", b"1"], [b"x", b"1"]]
    # explicit \. end-of-data marker still terminates the stream
    msgs = _copy_in(
        sock, buf, "COPY copy_el_dst FROM STDIN", b"y\n\\.\nignored\n"
    )
    assert (b"C", b"COPY 1\x00") in msgs
    for t in ("copy_el_src", "copy_el_dst"):
        _simple_query(sock, buf, f"DROP TABLE {t}")


def test_copy_from_streams_bounded_chunks(conn, monkeypatch):
    """A payload far past the staging bound ingests via the bounded
    parquet-staged path: CopyData cuts land mid-row and mid-quoted
    field (CSV quote parity carries across chunks), multibyte chars
    survive, and the final table is exact."""
    import csvb_spark.server.pgwire as pgwire_mod

    monkeypatch.setattr(pgwire_mod, "_COPY_IN_CHUNK_BYTES", 16_384)
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_big")
    _simple_query(
        sock, buf,
        "CREATE TABLE copy_big (i INT, s STRING) USING parquet",
    )
    n = 5000
    lines = []
    for i in range(n):
        if i % 7 == 0:
            cell = f'"multi\nline {i} é"'  # quoted newline + multibyte
        elif i % 11 == 0:
            cell = '""'
        else:
            cell = f"plain {i}"
        lines.append(f"{i},{cell}\n".encode("utf-8"))
    payload = b"".join(lines)
    step = 7777  # deliberately not row-aligned
    chunks = [payload[o : o + step] for o in range(0, len(payload), step)]
    assert len(chunks) > 5
    msgs = _copy_in_chunks(
        sock, buf, "COPY copy_big FROM STDIN WITH (FORMAT CSV)", chunks
    )
    assert (b"C", f"COPY {n}\x00".encode()) in msgs
    rows = _data_rows(
        _simple_query(
            sock, buf,
            "SELECT count(*) AS n, sum(i) AS si, "
            "sum(CASE WHEN substring(s, 1, 5) = 'multi' "
            "AND substring(s, -1, 1) = 'é' THEN 1 ELSE 0 END) AS nml, "
            "sum(CASE WHEN s = '' THEN 1 ELSE 0 END) AS nempty "
            "FROM copy_big",
        )
    )
    n_multi = sum(1 for i in range(n) if i % 7 == 0)
    n_empty = sum(1 for i in range(n) if i % 7 != 0 and i % 11 == 0)
    assert rows == [
        [
            str(n).encode(),
            str(n * (n - 1) // 2).encode(),
            str(n_multi).encode(),
            str(n_empty).encode(),
        ]
    ]
    _simple_query(sock, buf, "DROP TABLE copy_big")


def test_copy_binary_roundtrip(conn):
    """COPY TO/FROM WITH (FORMAT BINARY): PGCOPY signature + typed
    tuples both directions — a binary export re-imports exactly
    (ints, doubles, strings, NULLs, timestamps), and the stream
    carries the documented trailer."""
    sock, buf = conn
    for t in ("copy_bin_src", "copy_bin_dst"):
        _simple_query(sock, buf, f"DROP TABLE IF EXISTS {t}")
        _simple_query(
            sock, buf,
            f"CREATE TABLE {t} (a INT, b STRING, c DOUBLE, d TIMESTAMP) "
            "USING parquet",
        )
    _simple_query(
        sock, buf,
        "INSERT INTO copy_bin_src VALUES "
        "(1, 'x|y', 1.5, TIMESTAMP '2024-03-05 14:30:45'), "
        "(2, NULL, -2.25, NULL), "
        "(3, '', 0.0, TIMESTAMP '2024-01-01 00:00:00')",
    )
    msgs = _simple_query(
        sock, buf, "COPY copy_bin_src TO STDOUT WITH (FORMAT BINARY)"
    )
    h, data, cc = _copy_payload(msgs)
    assert cc == b"COPY 3\x00"
    fmt_overall = struct.unpack("!b", h[:1])[0]
    assert fmt_overall == 1  # CopyOutResponse says binary
    payload = b"".join(data)
    assert payload.startswith(b"PGCOPY\n\xff\r\n\x00")
    assert payload.endswith(struct.pack("!h", -1))  # trailer

    msgs = _copy_in(
        sock, buf,
        "COPY copy_bin_dst FROM STDIN WITH (FORMAT BINARY)", payload,
    )
    assert (b"C", b"COPY 3\x00") in msgs
    src = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_bin_src ORDER BY a")
    )
    dst = _data_rows(
        _simple_query(sock, buf, "SELECT * FROM copy_bin_dst ORDER BY a")
    )
    assert src == dst and len(dst) == 3

    # header/delimiter are text/CSV-only options in binary format
    for bad in (
        "COPY copy_bin_src TO STDOUT WITH (FORMAT BINARY, HEADER)",
        "COPY copy_bin_src TO STDOUT WITH (FORMAT BINARY, DELIMITER '|')",
    ):
        msgs = _simple_query(sock, buf, bad)
        assert any(t == b"E" for t, _ in msgs)
    # a corrupt signature fails cleanly and the connection recovers
    msgs = _copy_in(
        sock, buf,
        "COPY copy_bin_dst FROM STDIN WITH (FORMAT BINARY)",
        b"NOTPGCOPY\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00",
    )
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"signature" in errs[0]
    assert _data_rows(_simple_query(sock, buf, "SELECT 9 AS v")) == [[b"9"]]
    for t in ("copy_bin_src", "copy_bin_dst"):
        _simple_query(sock, buf, f"DROP TABLE {t}")


def test_copy_csv_quoted_eof_marker_is_data(conn):
    """A QUOTED \"\\.\" CSV cell is ordinary data; only the unquoted
    lone \\. line ends the stream (postgres semantics) — review
    finding: the quoted form silently truncated the stream."""
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_eofq")
    _simple_query(
        sock, buf, "CREATE TABLE copy_eofq (s STRING) USING parquet"
    )
    msgs = _copy_in(
        sock, buf, "COPY copy_eofq FROM STDIN WITH (FORMAT CSV)",
        b'a\n"\\."\nb\n\\.\nignored\n',
    )
    assert (b"C", b"COPY 3\x00") in msgs  # a, "\.", b — not truncated at 2
    rows = _data_rows(
        _simple_query(sock, buf, "SELECT s FROM copy_eofq ORDER BY s")
    )
    assert rows == [[b"\\."], [b"a"], [b"b"]]
    _simple_query(sock, buf, "DROP TABLE copy_eofq")


def test_copy_extended_tolerates_trailing_semicolon(conn):
    """Parse('COPY ...;') through Bind/Execute works — clients send
    trailing semicolons and leading whitespace through the extended
    protocol; review finding: the raw-string match missed them."""
    sock, buf = conn
    for q in (
        b"  COPY (SELECT 1 AS one) TO STDOUT ;",
        b"COPY (SELECT 1 AS one) TO STDOUT;",
    ):
        _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
        _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
        _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
        _send(sock, b"S", b"")
        msgs = _read_until_ready(sock, buf)
        assert (b"C", b"COPY 1\x00") in msgs, msgs[:6]
        assert b"".join(p for t, p in msgs if t == b"d") == b"1\n"

    # COPY FROM with a trailing semicolon, extended flow
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_semi")
    _simple_query(
        sock, buf, "CREATE TABLE copy_semi (a INT) USING parquet"
    )
    q = b"COPY copy_semi FROM STDIN;"
    _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    while True:
        t, pl = _read_msg(sock, buf)
        assert t != b"E", pl
        if t == b"G":
            break
    payload = b"5\n"
    sock.sendall(b"d" + struct.pack("!I", len(payload) + 4) + payload)
    sock.sendall(b"c" + struct.pack("!I", 4))
    _send(sock, b"S", b"")
    msgs = _read_until_ready(sock, buf)
    assert (b"C", b"COPY 1\x00") in msgs
    _simple_query(sock, buf, "DROP TABLE copy_semi")


def test_copy_from_header_match(conn):
    """HEADER MATCH (postgres 15): the file's header row must equal
    the COPY column list — matching headers ingest, mismatched ones
    error cleanly after the stream drains, and MATCH is rejected for
    COPY TO and non-CSV formats."""
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_hm")
    _simple_query(
        sock, buf, "CREATE TABLE copy_hm (a INT, b STRING) USING parquet"
    )
    msgs = _copy_in(
        sock, buf,
        "COPY copy_hm FROM STDIN WITH (FORMAT CSV, HEADER MATCH)",
        b"a,b\n1,x\n2,y\n",
    )
    assert (b"C", b"COPY 2\x00") in msgs
    msgs = _copy_in(
        sock, buf,
        "COPY copy_hm FROM STDIN WITH (FORMAT CSV, HEADER MATCH)",
        b"a,WRONG\n3,z\n",
    )
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"HEADER MATCH failed" in errs[0]
    # column-subset form matches against the listed columns
    msgs = _copy_in(
        sock, buf,
        "COPY copy_hm (b) FROM STDIN WITH (FORMAT CSV, HEADER MATCH)",
        b"b\nonly-b\n",
    )
    assert (b"C", b"COPY 1\x00") in msgs
    rows = _data_rows(
        _simple_query(sock, buf, "SELECT count(*) AS n FROM copy_hm")
    )
    assert rows == [[b"3"]]
    for bad, frag in (
        ("COPY copy_hm TO STDOUT WITH (FORMAT CSV, HEADER MATCH)",
         b"COPY FROM only"),
        ("COPY copy_hm FROM STDIN WITH (HEADER MATCH)", b"FORMAT CSV"),
    ):
        msgs = _simple_query(sock, buf, bad)
        errs = [p for t, p in msgs if t == b"E"]
        assert errs and frag in errs[0], (bad, errs)
    _simple_query(sock, buf, "DROP TABLE copy_hm")


def test_concurrent_copy_from_sessions(pg_server):
    """Two connections COPY FROM simultaneously into different tables:
    per-COPY staging dirs (uuid-named under the warehouse) must not
    collide and both ingests land exactly — the multi-client shape a
    shared server actually sees."""
    import csvb_spark.server.pgwire as pgwire_mod
    import threading

    # Generous per-recv deadline rather than a flat 60 s: the server
    # sends nothing between CopyInResponse and the final COPY n, so
    # the client's recv timeout must cover the whole server-side
    # ingest (two concurrent Spark inserts on a contended host blew
    # a 60 s bound in round 15's driver run). The socket timeout is
    # per recv() call — protocol progress resets it — so 300 s only
    # ever elapses when the server makes no progress at all.
    def connect():
        s = socket.create_connection(
            ("127.0.0.1", pg_server.port), timeout=300
        )
        b = bytearray()
        _startup(s)
        _read_until_ready(s, b)
        return s, b

    sock0, buf0 = connect()
    for t in ("copy_cc_a", "copy_cc_b"):
        _simple_query(sock0, buf0, f"DROP TABLE IF EXISTS {t}")
        _simple_query(
            sock0, buf0, f"CREATE TABLE {t} (i INT) USING parquet"
        )
    results = {}

    def worker(tbl: str, lo: int, n: int) -> None:
        s, b = connect()
        try:
            payload = b"".join(f"{lo + i}\n".encode() for i in range(n))
            msgs = _copy_in(s, b, f"COPY {tbl} FROM STDIN", payload)
            results[tbl] = [p for t_, p in msgs if t_ == b"C"]
        except Exception as ex:  # noqa: BLE001 — surface, not KeyError
            results[tbl] = ex
        finally:
            s.close()

    # small staging bound so BOTH workers exercise the staged path
    orig = pgwire_mod._COPY_IN_CHUNK_BYTES
    pgwire_mod._COPY_IN_CHUNK_BYTES = 2048
    try:
        threads = [
            threading.Thread(target=worker, args=("copy_cc_a", 0, 800)),
            threading.Thread(target=worker, args=("copy_cc_b", 10_000, 900)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        pgwire_mod._COPY_IN_CHUNK_BYTES = orig
    assert results.get("copy_cc_a") == [b"COPY 800\x00"], results
    assert results.get("copy_cc_b") == [b"COPY 900\x00"], results
    rows = _data_rows(
        _simple_query(
            sock0, buf0,
            "SELECT (SELECT count(*) FROM copy_cc_a) AS na, "
            "(SELECT sum(i) FROM copy_cc_a) AS sa, "
            "(SELECT count(*) FROM copy_cc_b) AS nb, "
            "(SELECT min(i) FROM copy_cc_b) AS mb",
        )
    )
    assert rows == [[b"800", str(sum(range(800))).encode(), b"900", b"10000"]]
    for t in ("copy_cc_a", "copy_cc_b"):
        _simple_query(sock0, buf0, f"DROP TABLE {t}")
    sock0.close()


def test_copy_csv_midfield_quote_chunking(conn):
    """ADVICE r10 (medium): the CSV chunker toggles quote parity on
    EVERY quote byte; the parser must follow the SAME rule (postgres's
    own — a mid-field quote OPENS a quoted section), or a CopyData cut
    can land inside what the parser treats as a quoted cell and split
    one row into two. Ingest a payload with a mid-field quote under
    every possible packet cut and assert identical results."""
    sock, buf = conn
    # a"b,c"d = ONE cell 'ab,cd' (mid-field quoted section spans the
    # delimiter); second row has a quoted embedded newline
    payload = b'1,a"b,c"d\n2,"q\nr"\n'
    expected = [[b"1", b"ab,cd"], [b"2", b"q\nr"]]
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_mfq")
    _simple_query(
        sock, buf, "CREATE TABLE copy_mfq (a INT, b STRING) USING parquet"
    )
    for cut in range(1, len(payload)):
        _simple_query(sock, buf, "TRUNCATE TABLE copy_mfq")
        body = b"COPY copy_mfq FROM STDIN WITH (FORMAT CSV)\x00"
        sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, p = _read_msg(sock, buf)
            if tag == b"G":
                break
            assert tag != b"E", p
        for part in (payload[:cut], payload[cut:]):
            sock.sendall(b"d" + struct.pack("!I", len(part) + 4) + part)
        sock.sendall(b"c" + struct.pack("!I", 4))
        msgs = _read_until_ready(sock, buf)
        assert (b"C", b"COPY 2\x00") in msgs, (cut, msgs)
        rows = _data_rows(
            _simple_query(sock, buf, "SELECT * FROM copy_mfq ORDER BY a")
        )
        assert rows == expected, (cut, rows)
    _simple_query(sock, buf, "DROP TABLE copy_mfq")


def test_copy_binary_critical_flags_rejected(conn):
    """ADVICE r10: a PGCOPY header with any critical flag bit (16-31)
    set changes the tuple layout (bit 16 = pre-PG12 OIDs) — the reader
    must reject it, not misparse OIDs as field data."""
    sock, buf = conn
    _simple_query(sock, buf, "DROP TABLE IF EXISTS copy_binflag")
    _simple_query(
        sock, buf, "CREATE TABLE copy_binflag (a INT) USING parquet"
    )
    payload = (
        b"PGCOPY\n\xff\r\n\x00"
        + struct.pack("!ii", 1 << 16, 0)  # flags: OID bit set, no ext
        + struct.pack("!hii", 1, 4, 7)  # 1 field, len 4, value 7
        + struct.pack("!h", -1)
    )
    msgs = _copy_in(
        sock, buf,
        "COPY copy_binflag FROM STDIN WITH (FORMAT BINARY)",
        payload,
    )
    errs = [p for t, p in msgs if t == b"E"]
    assert errs and b"critical" in errs[0], msgs
    # connection stays usable and nothing was inserted
    rows = _data_rows(
        _simple_query(sock, buf, "SELECT count(*) AS n FROM copy_binflag")
    )
    assert rows == [[b"0"]]
    _simple_query(sock, buf, "DROP TABLE copy_binflag")


def test_copy_staging_base_requires_warehouse_dir():
    """COPY FROM staging must refuse (before CopyInResponse) rather
    than fall back to a driver-local path executors cannot read."""
    import pytest as _pytest

    from csvb_spark.server.pgwire import _copy_staging_base

    class _Conf:
        def __init__(self, val):
            self._val = val

        def get(self, key, default=None):
            assert key == "spark.sql.warehouse.dir"
            return self._val if self._val is not None else default

    class _Spark:
        def __init__(self, val):
            self.conf = _Conf(val)

    assert _copy_staging_base(_Spark("file:/wh")) == "file:/wh"
    for bad in (None, ""):
        with _pytest.raises(ValueError, match="warehouse"):
            _copy_staging_base(_Spark(bad))


def test_fair_scheduler_concurrent_connections_overlap(pg_server, spark):
    """SURVEY §3.2: spark.scheduler.mode=FAIR + a scheduler pool per
    pgwire connection — a slow query on connection A must NOT
    head-of-line-block a fast query on connection B (under FIFO, B's
    job would wait for A's entire task queue to drain)."""
    import threading
    import time

    spark.udf.register(
        "pgw_slow_ident", lambda x: (time.sleep(0.25), x)[1], "long"
    )
    try:
        times: dict[str, float] = {}

        def run(name: str, sql: str) -> None:
            s = socket.create_connection(
                ("127.0.0.1", pg_server.port), timeout=120
            )
            b = bytearray()
            _startup(s)
            _read_until_ready(s, b)
            msgs = _simple_query(s, b, sql)
            assert not [p for t, p in msgs if t == b"E"], (name, msgs)
            times[name] = time.monotonic()
            s.close()

        # 128 tasks x 0.25 s on <=32 local cores ≈ >=1 s of saturation
        slow_sql = (
            "SELECT count(pgw_slow_ident(id)) AS n FROM range(0, 128, 1, 128)"
        )
        ta = threading.Thread(target=run, args=("a", slow_sql))
        ta.start()
        time.sleep(0.4)  # A is mid-flight and holds every task slot
        # B's probe MUST submit a real Spark job: `SELECT 1` plans as a
        # LocalRelation and returns without touching the scheduler, so
        # it would "win" even with every connection collapsed into one
        # pool (the round-12 pid%16==0 bug this test now guards).
        run("b", "SELECT count(*) AS n FROM range(0, 32, 1, 4)")
        ta.join(timeout=180)
        assert "a" in times and "b" in times
        assert times["b"] < times["a"], (
            "fast query serialized behind slow one: "
            f"b={times['b']:.2f} a={times['a']:.2f}"
        )
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS pgw_slow_ident")


def test_pgwire_pool_indices_distinct_across_connections():
    """Round-12 review: backend_pid is threading.get_ident() — a
    16-byte-aligned pointer, so pid % 16 == 0 for EVERY connection and
    a pid-derived pool index collapses all connections into one pool.
    The pool index must come from the connection sequence: consecutive
    connections land in distinct pools (mod 16)."""
    from csvb_spark.server import pgwire as pgw

    start = next(pgw._POOL_SEQ)
    idxs = [next(pgw._POOL_SEQ) % 16 for _ in range(8)]
    assert len(set(idxs)) == 8, idxs  # 8 consecutive conns, 8 pools
    # and the aligned-pointer trap stays documented as a failing shape
    import threading

    assert threading.get_ident() % 16 == 0  # why pid%16 was broken
    del start


# --- pg_catalog emulation (psql meta-commands) ------------------------------

# the EXACT SQL psql 15.18 issues for \dt (captured live; describe.c) —
# the test replays it over the socket so the emulation is pinned to the
# real client's text, psql binary or not
_PSQL_DT_SQL = """SELECT n.nspname as "Schema",
  c.relname as "Name",
  CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' WHEN 'I' THEN 'partitioned index' END as "Type",
  pg_catalog.pg_get_userbyid(c.relowner) as "Owner"
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
     LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam
WHERE c.relkind IN ('r','p','')
      AND n.nspname <> 'pg_catalog'
      AND n.nspname !~ '^pg_toast'
      AND n.nspname <> 'information_schema'
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 1,2"""

_PSQL_D_LOOKUP_SQL = """SELECT c.oid,
  n.nspname,
  c.relname
FROM pg_catalog.pg_class c
     LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
WHERE c.relname OPERATOR(pg_catalog.~) '^(documents)$' COLLATE pg_catalog.default
  AND pg_catalog.pg_table_is_visible(c.oid)
ORDER BY 2, 3"""

_PSQL_D_COLUMNS_SQL = """SELECT a.attname,
  pg_catalog.format_type(a.atttypid, a.atttypmod),
  (SELECT pg_catalog.pg_get_expr(d.adbin, d.adrelid, true)
   FROM pg_catalog.pg_attrdef d
   WHERE d.adrelid = a.attrelid AND d.adnum = a.attnum AND a.atthasdef),
  a.attnotnull,
  (SELECT c.collname FROM pg_catalog.pg_collation c, pg_catalog.pg_type t
   WHERE c.oid = a.attcollation AND t.oid = a.atttypid AND a.attcollation <> t.typcollation) AS attcollation,
  a.attidentity,
  a.attgenerated
FROM pg_catalog.pg_attribute a
WHERE a.attrelid = '{oid}' AND a.attnum > 0 AND NOT a.attisdropped
ORDER BY a.attnum"""


def test_pg_catalog_psql_dt_and_describe(conn):
    """Replay the actual SQL psql issues for \\dt and the \\d column
    list (pg_class/pg_namespace/pg_attribute + OPERATOR()/COLLATE/
    format_type postgres-isms) and assert sane rows."""
    sock, buf = conn
    rows = _data_rows(_simple_query(sock, buf, _PSQL_DT_SQL))
    by_name = {r[1]: r for r in rows}
    assert b"documents" in by_name and b"region" in by_name
    assert by_name[b"documents"][2] == b"table"
    assert by_name[b"documents"][3] == b"spark"

    look = _data_rows(_simple_query(sock, buf, _PSQL_D_LOOKUP_SQL))
    assert len(look) == 1 and look[0][2] == b"documents"
    oid = look[0][0].decode()

    cols = _data_rows(
        _simple_query(sock, buf, _PSQL_D_COLUMNS_SQL.format(oid=oid))
    )
    assert [(c[0], c[1]) for c in cols] == [
        (b"doc_id", b"bigint"),
        (b"text", b"text"),
        (b"lang", b"text"),
        (b"source", b"text"),
        (b"n_chars", b"bigint"),
    ]


@pytest.mark.skipif(
    __import__("shutil").which("psql") is None,
    reason="psql binary not installed",
)
@pytest.mark.parametrize(
    ("cmd", "want"),
    [
        (r"\dt", ["documents", "region", "table", "spark"]),
        (r"\d documents", ["doc_id", "bigint", "n_chars", "text"]),
        (r"\l", ["UTF8"]),
        (r"\dn", ["default"]),
        # verbose battery (round 11): size/persistence/storage columns,
        # array types, roles, databases, functions, privileges
        (r"\dt+", ["documents", "Persistence", "heap", "bytes"]),
        (r"\d+ region", ["r_regionkey", "Storage", "plain", "extended"]),
        (r"\d embeddings", ["embedding", "real[]", "vec_id"]),
        (r"\l+", ["pg_default", "bytes"]),
        (r"\dn+", ["default", "spark"]),
        (r"\df", ["haiku"]),
        (r"\du", ["spark", "Superuser"]),
        (r"\db", ["pg_default"]),
        (r"\db+", ["pg_default", "bytes"]),
        (r"\dp region", ["region"]),
        (r"\dx", ["Name"]),
        # round 13 (verdict item 4): type and role listings — psql's
        # \dT query exercises pg_type/format_type/pg_type_is_visible/
        # pg_enum paths the rest of the battery never replays, \dg
        # the role attribute block shared with \du. Bare \dT lists
        # USER types only (psql excludes the pg_catalog namespace), so
        # like real postgres it renders an empty list here; the
        # S-variants surface the builtins.
        (r"\dT", ["List of data types"]),
        (r"\dTS", ["boolean", "bigint", "double precision"]),
        (r"\dTS+", ["boolean", "Size", "Internal name"]),
        # pattern arg: psql anchors it as typname OPERATOR(pg_catalog.~)
        # '^(int8)$' COLLATE default — the regex-operator + collate
        # rewrites under the \dT query shape
        (r"\dTS int8", ["bigint"]),
        (r"\dg", ["spark", "Superuser"]),
        (r"\dg+", ["spark", "Description"]),
    ],
)
def test_pg_catalog_real_psql(pg_server, cmd, want):
    """End-to-end: the REAL psql client's meta-commands against the
    live server — the full query battery (row-security, publications,
    stats, constraints follow-ups included) must succeed and render."""
    import subprocess

    r = subprocess.run(
        ["psql", "-X", "-h", "127.0.0.1", "-p", str(pg_server.port),
         "-U", "u", "-d", "db", "-c", cmd],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0 and not r.stderr.strip(), (r.stdout, r.stderr)
    for frag in want:
        assert frag in r.stdout, (cmd, frag, r.stdout)


def test_federate_auto_partition_column_and_jdbc_options():
    """Within-shard parallelism helpers: the partition column is the
    first INTEGER column of the probed schema (never text/float), and
    the JDBC option set degrades to empty — never to a silent
    one-stripe scan — when bounds are unknown."""
    from csvb_spark.sources.federation import (
        auto_partition_column,
        jdbc_partition_options,
    )

    assert (
        auto_partition_column([("s", 25), ("v", 701), ("id", 20)]) == "id"
    )
    assert auto_partition_column([("s", 25), ("f", 701)]) is None
    assert jdbc_partition_options("id", 0, 249, 4) == {
        "partitionColumn": "id",
        "lowerBound": "0",
        "upperBound": "249",
        "numPartitions": "4",
    }
    assert jdbc_partition_options("id", None, None, 4) == {}
    assert jdbc_partition_options(None, 0, 9, 4) == {}
    assert jdbc_partition_options("id", 0, 9, 1) == {}


@contextlib.contextmanager
def _serve_processes(tables, cwd):
    """One ``csvb serve --csv DIR --table-name NAME 127.0.0.1:0`` child
    process per ``(DIR, NAME)`` of ``tables``, each with its own JVM and
    Spark slots, started in ``cwd`` (where its warehouse and its
    ``serveN.err`` log go). Yields each child's ``(host, port)``, read
    from the ``pgwire listening on host:port`` line ``serve_forever``
    prints; each child's process group is stopped on exit, pass or
    fail."""
    import os
    import re
    import signal
    import subprocess
    import sys
    import threading

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    procs = []

    def announced_addr(proc) -> tuple[str, int]:
        got, done = [], threading.Event()

        def read() -> None:
            # keep draining after the announce: a child that later
            # writes more than a pipe buffer must not block on it
            for line in proc.stdout:
                m = re.search(r"pgwire listening on ([\d.]+):(\d+)", line)
                if m and not got:
                    got.append((m.group(1), int(m.group(2))))
                    done.set()
            done.set()

        threading.Thread(target=read, daemon=True).start()
        done.wait(timeout=180)
        assert got, f"serve child announced no port (exit code {proc.poll()})"
        return got[0]

    try:
        for i, (d, name) in enumerate(tables):
            with open(os.path.join(cwd, f"serve{i}.err"), "w") as err:
                procs.append(
                    subprocess.Popen(
                        [
                            sys.executable, "-m", "csvb_spark.cli",
                            "--memory-pool-bytes", str(1024**3),
                            "serve", "--csv", str(d), "--table-name", name,
                            "127.0.0.1:0",
                        ],
                        cwd=cwd,
                        env=env,
                        stdout=subprocess.PIPE,
                        stderr=err,
                        text=True,
                        start_new_session=True,  # its own group: python, JVM, workers
                    )
                )
        yield [announced_addr(p) for p in procs]  # the JVMs boot in parallel
    finally:
        for p in procs:
            try:
                os.killpg(p.pid, signal.SIGTERM)
                p.wait(timeout=60)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            except ProcessLookupError:
                p.wait()


@pytest.fixture()
def two_shard_processes(tmp_path):
    """The ``two_shards`` rows, each shard a ``csvb serve --csv`` child
    process (:func:`_serve_processes`) — the reference's federation
    topology (csvb serve instances federating each other)."""
    shards = []
    for i, (lo, hi) in enumerate([(0, 100), (100, 250)]):
        d = tmp_path / f"shard{i}"
        d.mkdir()
        (d / "tbl.csv").write_text(
            "id,v,s\n" + "".join(f"{k},{2 * k},{k}\n" for k in range(lo, hi))
        )
        shards.append((d, "tbl"))
    with _serve_processes(shards, tmp_path) as addrs:
        yield [f"postgresql://u@{host}:{port}/db" for host, port in addrs]


def test_federate_pgwire_auto_partitioned_read(spark, two_shard_processes):
    """Verdict r10 #6: add_federated_tables with num_partitions>1 and
    NO partition column derives one from each shard's probed schema —
    each shard reads as N parallel slices, results unchanged. The
    shards are ``serve`` processes: six slices pulled from shards that
    share this process's Spark slots would need seven or more of them
    (see the self-served test below)."""
    from csvb_spark.sources.federation import (
        VirtualTable,
        add_federated_tables,
    )

    dfs = add_federated_tables(
        spark,
        [VirtualTable("tbl", two_shard_processes)],
        transport="pgwire",
        num_partitions=3,
    )
    df = dfs["tbl"]
    # 2 shards x 3 slices = 6 parallel pulls
    assert df.rdd.getNumPartitions() == 6
    agg = spark.sql(
        "SELECT COUNT(*) AS n, SUM(v) AS sv, MIN(id) AS mn, MAX(id) AS mx "
        "FROM tbl"
    ).collect()[0]
    assert (agg.n, agg.sv, agg.mn, agg.mx) == (250, 62250, 0, 249)


def test_federate_pgwire_partitioned_read(spark, two_shard_processes):
    """num_partitions splits one shard into disjoint MOD(ABS(col),N)
    slices pulled by separate tasks; the union of slices is row-for-row
    the single-task pull. The shard is a ``serve`` process: at two
    slots, a shard served by this process gets a single fetch task
    (see the self-served test below)."""
    from csvb_spark.sources.federation import read_shard_pg

    single = read_shard_pg(spark, two_shard_processes[0], "tbl")
    split = read_shard_pg(
        spark, two_shard_processes[0], "tbl", partition_column="id", num_partitions=3
    )
    assert split.rdd.getNumPartitions() == 3
    a = sorted(tuple(r) for r in single.collect())
    b = sorted(tuple(r) for r in split.collect())
    assert a == b and len(a) == 100
    # predicate composes with the slice predicate; limit stays exact
    lim = read_shard_pg(
        spark,
        two_shard_processes[0],
        "tbl",
        predicate="id >= 10",
        limit=7,
        partition_column="id",
        num_partitions=2,
    )
    rows = lim.collect()
    assert len(rows) == 7 and all(r.id >= 10 for r in rows)


def test_federate_pgwire_one_slice_per_task(spark, two_shard_processes):
    """Each (shard, slice) target of a fetch gets its own task: 5 MOD
    slices of one shard land in 5 partitions holding one slice each
    (a round-robin repartition of the targets once dealt them as
    [0, 0, 0, 1, 4] on 4 slots, pulling four slices in one task)."""
    from pyspark.sql import functions as F

    from csvb_spark.sources.federation import read_shard_pg

    df = read_shard_pg(spark, two_shard_processes[0], "tbl", num_partitions=5)
    assert df.rdd.getNumPartitions() == 5
    per_part = df.groupBy(F.spark_partition_id().alias("p")).agg(
        F.countDistinct(F.col("id") % 5).alias("slices"), F.count("*").alias("n")
    ).collect()
    assert sorted(r.p for r in per_part) == [0, 1, 2, 3, 4]
    assert all(r.slices == 1 and r.n == 20 for r in per_part), per_part


def test_federate_pgwire_self_served_slices_leave_a_slot(spark, two_shards):
    """Shards served by PgWireServers of this very process run their
    statements on the reader's own Spark slots. With one slice per
    slot per shard, the fetch takes at most defaultParallelism - 1
    tasks, so the statements it waits on keep a slot: exact rows at
    any core count, long before the 120 s socket timeout that a fetch
    holding every slot ran into."""
    import time

    from csvb_spark.sources.federation import (
        VirtualTable,
        add_federated_tables,
    )

    slots = spark.sparkContext.defaultParallelism
    t0 = time.monotonic()
    df = add_federated_tables(
        spark,
        [VirtualTable("tbl", two_shards)],
        transport="pgwire",
        num_partitions=slots,
    )["tbl"]
    assert df.rdd.getNumPartitions() <= max(1, slots - 1)
    agg = spark.sql(
        "SELECT COUNT(*) AS n, SUM(v) AS sv, MIN(id) AS mn, MAX(id) AS mx "
        "FROM tbl"
    ).collect()[0]
    assert (agg.n, agg.sv, agg.mn, agg.mx) == (250, 62250, 0, 249)
    assert time.monotonic() - t0 < 120


# --- interpreted evaluation of a small served table --------------------------


def _small_table_dir(tmp_path):
    """A 2000-row CSV table far under SMALL_TABLE_BYTES."""
    d = tmp_path / "small"
    d.mkdir()
    (d / "part.csv").write_text(
        "id,grp,v,x,s\n"
        + "".join(
            f"{k},{k % 7},{k * 31 % 101},{k * 0.37:.2f},name{k % 13}\n"
            for k in range(2000)
        )
    )
    return d


def _open_conn(host: str, port: int):
    sock = socket.create_connection((host, port), timeout=120)
    buf = bytearray()
    _startup(sock)
    _read_until_ready(sock, buf)
    return sock, buf


_SERVED = "served_small"
_SERVED_STATEMENTS = [
    f"SELECT * FROM {_SERVED} WHERE id = 1234",
    f"SELECT grp, COUNT(*) AS n, SUM(v) AS sv, SUM(x) AS sx, MAX(s) AS ms "
    f"FROM {_SERVED} WHERE id > 100 GROUP BY grp ORDER BY grp",
    f"SELECT DISTINCT ON (grp) grp, id, v FROM {_SERVED} ORDER BY grp, v DESC, id",
    f"SELECT grp, id, x FROM {_SERVED} WHERE id < 500 QUALIFY row_number() "
    "OVER (PARTITION BY grp ORDER BY x DESC, id) = 1 ORDER BY grp",
    f"SELECT * EXCLUDE (s) FROM {_SERVED} WHERE id < 8 ORDER BY id",
    "SELECT table_catalog, table_schema, table_name, table_type "
    f"FROM information_schema.tables WHERE table_name = '{_SERVED}'",
    f"COPY (SELECT * FROM {_SERVED} WHERE grp = 3 ORDER BY id) TO STDOUT",
]


def test_serve_small_table_runs_interpreted_with_the_same_rows(
    spark, pg_server, tmp_path
):
    """``csvb serve`` over a table under SMALL_TABLE_BYTES evaluates
    interpreted: EXPLAIN shows no whole-stage ``*(n)`` stage, and each
    statement shape of the serve surface answers byte for byte what
    this process's code-generating session answers over the same
    files. The first DDL brings whole-stage code generation back, and
    each statement's log line names its mode."""
    from csvb_spark.sources.csv_source import add_direct_table

    d = _small_table_dir(tmp_path)
    add_direct_table(spark, _SERVED, [str(d)])
    explain = f"EXPLAIN SELECT * FROM {_SERVED} WHERE id = 42"

    def plan(c) -> str:
        return _data_rows(_simple_query(*c, explain))[0][0].decode()

    def dt_rows(c) -> list:
        rows = _data_rows(_simple_query(*c, _PSQL_DT_SQL))
        return [r for r in rows if r[1] == _SERVED.encode()]

    try:
        with contextlib.ExitStack() as stack:
            [(host, port)] = stack.enter_context(
                _serve_processes([(d, _SERVED)], tmp_path)
            )
            child = _open_conn(host, port)
            stack.callback(child[0].close)
            here = _open_conn("127.0.0.1", pg_server.port)
            stack.callback(here[0].close)
            assert "*(" in plan(here)
            assert "*(" not in plan(child)
            for sql in _SERVED_STATEMENTS:
                got = _simple_query(*child, sql)
                assert _error_code(got) is None, (sql, got)
                assert got == _simple_query(*here, sql), sql
            assert dt_rows(child) == dt_rows(here) != []
            bound = f"SELECT id, grp, x, s FROM {_SERVED} WHERE id = $1"
            got = _portal_msgs(*child, bound, oids=(20,), params=("77",), res_fmts=(1,))
            assert _data_rows(got)
            assert got == _portal_msgs(
                *here, bound, oids=(20,), params=("77",), res_fmts=(1,)
            )
            ddl = _simple_query(*child, "CREATE TABLE served_ddl (k BIGINT) USING parquet")
            assert _error_code(ddl) is None, ddl
            assert "*(" in plan(child)
    finally:
        spark.catalog.dropTempView(_SERVED)
    log = (tmp_path / "serve0.err").read_text()
    assert "interpreted evaluation: every registered table is one small" in log
    assert "codegen evaluation: a CREATE, DROP or ALTER ran" in log
    assert f"interpreted, collected: SELECT * FROM {_SERVED} WHERE id = 1234" in log
    assert "codegen, none: CREATE TABLE served_ddl" in log
    assert f"codegen, collected: {explain}" in log


def test_serve_decides_evaluation_by_table_size(spark, tmp_path, monkeypatch, capsys):
    """Only ``csvb serve`` over a table under SMALL_TABLE_BYTES runs
    interpreted. A served table at the bound, ``csvb federate`` and
    ``csvb exec`` keep whole-stage code generation."""
    import csvb_spark.cli as cli
    import csvb_spark.server.pgwire as pgwire
    import csvb_spark.sources.federation as federation
    from csvb_spark.sources import csv_source
    from csvb_spark.sql import evaluation_mode

    d = _small_table_dir(tmp_path)
    served = []
    monkeypatch.setattr(cli, "_session", lambda args: spark.newSession())
    monkeypatch.setattr(pgwire, "serve_forever", lambda s, address: served.append(s))
    monkeypatch.setattr(federation, "add_federated_tables", lambda s, vts: None)

    def mode(argv: list[str]) -> tuple:
        assert cli.main(argv) == 0
        s = served.pop()
        return (
            evaluation_mode(s),
            s.conf.get("spark.sql.codegen.wholeStage"),
            s.conf.get("spark.sql.codegen.factoryMode"),
        )

    codegen = ("codegen", "true", "FALLBACK")
    serve = ["serve", "--csv", str(d), "127.0.0.1:0"]
    assert mode(serve) == ("interpreted", "false", "NO_CODEGEN")
    monkeypatch.setattr(
        csv_source, "SMALL_TABLE_BYTES", sum(f.stat().st_size for f in d.iterdir())
    )
    assert mode(serve) == codegen
    assert mode(
        ["federate", "--table-name", "t", "--shard-addresses",
         "postgresql://u@127.0.0.1:1/db", "127.0.0.1:0"]
    ) == codegen
    capsys.readouterr()
    assert cli.main(["exec", "--csv", str(d), "EXPLAIN SELECT * FROM tbl WHERE id = 1"]) == 0
    assert "*(" in capsys.readouterr().out


def test_catalog_snapshot_same_under_interpreted_evaluation(spark):
    """The catalog snapshot and the pg_catalog views read the same
    under interpreted evaluation as under code generation (listTables'
    Dataset decode fails under NO_CODEGEN; the snapshot lists tables by
    SHOW TABLES and getTable). A temp view, a managed table, a view,
    and a temp view shadowing a same-name ``default.`` table each keep
    their own type and columns."""
    from csvb_spark.server.pg_catalog import refresh_pg_catalog
    from csvb_spark.sql import (
        bump_catalog_epoch,
        catalog_snapshot,
        evaluation_mode,
        locked_catalog_refresh,
        restore_codegen,
        run_interpreted,
    )

    def snapshot():
        bump_catalog_epoch(spark)  # force a full read
        got = []
        locked_catalog_refresh(lambda: got.append(catalog_snapshot(spark)))
        return got[0]

    def pg_class() -> list:
        bump_catalog_epoch(spark)
        refresh_pg_catalog(spark)
        return sorted(
            tuple(r)
            for r in spark.sql(
                "SELECT c.oid, relname, relkind, relpersistence, attname, atttypid "
                "FROM pg_catalog_pg_class c JOIN pg_catalog_pg_attribute a "
                "ON a.attrelid = c.oid WHERE relname LIKE 'cgm_%'"
            ).collect()
        )

    spark.range(3).createOrReplaceTempView("cgm_temp")
    spark.sql("CREATE TABLE cgm_managed (a INT, b STRING) USING parquet")
    spark.sql("CREATE VIEW cgm_view AS SELECT 1 AS one")
    spark.sql("CREATE TABLE cgm_shadow (m DOUBLE) USING parquet")
    spark.range(2).selectExpr("id AS t1", "id AS t2").createOrReplaceTempView("cgm_shadow")
    try:
        want, want_pg = snapshot(), pg_class()
        mine = {
            (t.schema, t.name, t.table_type): [c.name for c in t.columns]
            for t in want.tables
            if t.name.startswith("cgm_")
        }
        assert mine == {
            ("default", "cgm_temp", "TEMPORARY"): ["id"],
            ("default", "cgm_managed", "MANAGED"): ["a", "b"],
            ("default", "cgm_view", "VIEW"): ["one"],
            ("default", "cgm_shadow", "MANAGED"): ["m"],
            ("default", "cgm_shadow", "TEMPORARY"): ["t1", "t2"],
        }
        run_interpreted(spark)
        try:
            assert evaluation_mode(spark) == "interpreted"
            assert snapshot() == want
            assert pg_class() == want_pg
        finally:
            restore_codegen(spark)
        assert spark.conf.get("spark.sql.codegen.factoryMode") == "FALLBACK"
    finally:
        spark.catalog.dropTempView("cgm_temp")
        spark.catalog.dropTempView("cgm_shadow")
        spark.sql("DROP VIEW IF EXISTS cgm_view")
        spark.sql("DROP TABLE IF EXISTS cgm_managed")
        spark.sql("DROP TABLE IF EXISTS cgm_shadow")
        bump_catalog_epoch(spark)


def test_pg_catalog_rewrite_only_on_qualified_references(spark):
    """Review r11: a query that merely CONTAINS the string
    'pg_catalog' (the classic BI `NOT IN ('pg_catalog', ...)` filter)
    must not get the rewrite battery — Spark's double-quoted string
    literals would flip to identifiers."""
    from csvb_spark.sql import execute_sql

    row = execute_sql(
        spark, "SELECT \"x,y\" AS v, 'pg_catalog' AS w"
    ).collect()[0]
    assert (row.v, row.w) == ("x,y", "pg_catalog")


def test_pg_catalog_views_not_in_information_schema(spark, sf_dir):
    """Review r11: running a psql meta-command (which materializes the
    ~25 pg_catalog_pg_* backing views) must not make phantom rows
    appear in information_schema.tables afterwards."""
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    register_views(spark, sf_dir)
    execute_sql(
        spark,
        "SELECT c.relname FROM pg_catalog.pg_class c LIMIT 1",
    ).collect()
    names = [
        r.table_name
        for r in execute_sql(
            spark, "SELECT table_name FROM information_schema.tables"
        ).collect()
    ]
    assert not [n for n in names if n.startswith("pg_catalog_")], names
    assert "documents" in names


def test_pg_catalog_refresh_cached_and_invalidated(spark, sf_dir):
    """Review r11: back-to-back catalog queries (one psql \\d = 6-10)
    reuse the snapshot-keyed build; a catalog change invalidates it."""
    from csvb_spark.server.pg_catalog import refresh_pg_catalog
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    register_views(spark, sf_dir)
    refresh_pg_catalog(spark)
    snap1 = spark._csvb_pg_catalog_snap
    refresh_pg_catalog(spark)  # cache hit — same snapshot object
    assert spark._csvb_pg_catalog_snap is snap1
    spark.range(2).createOrReplaceTempView("t_pgcat_new")
    try:
        names = {
            r.relname
            for r in execute_sql(
                spark, "SELECT relname FROM pg_catalog.pg_class"
            ).collect()
        }
        assert "t_pgcat_new" in names  # DDL invalidated the cache
    finally:
        spark.catalog.dropTempView("t_pgcat_new")


def test_pg_catalog_format_type_arrays_and_quoted_collate(spark, sf_dir):
    """Review r11: array columns render postgres-style 'real[]' in the
    \\d column list (not 'text'), and the quoted COLLATE "default"
    form strips (it used to survive into unparseable backticks)."""
    from csvb_spark.server.pg_catalog import rewrite_pg_catalog_sql
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    register_views(spark, sf_dir)
    look = execute_sql(
        spark,
        _PSQL_D_LOOKUP_SQL.replace("documents", "embeddings"),
    ).collect()
    oid = look[0][0]
    cols = execute_sql(
        spark, _PSQL_D_COLUMNS_SQL.format(oid=oid)
    ).collect()
    types = {c[0]: c[1] for c in cols}
    assert types["embedding"] == "real[]", types
    assert types["vec_id"] == "bigint"

    out = rewrite_pg_catalog_sql(
        "SELECT c.relname FROM pg_catalog.pg_class c "
        "WHERE c.relname OPERATOR(pg_catalog.~) '^(x)$' "
        'COLLATE pg_catalog."default"'
    )
    assert "COLLATE" not in out and "default" not in out, out


def test_pg_catalog_over_extended_protocol(conn):
    """BI clients (DBeaver/pgAdmin, JDBC metadata) issue the same
    pg_catalog introspection through Parse/Bind/Execute — the rewrite
    and view refresh must work on the extended path too, not just
    psql's simple-protocol meta-commands."""
    sock, buf = conn
    sql = _PSQL_DT_SQL.encode()
    parse = b"\x00" + sql + b"\x00" + struct.pack("!h", 0)
    sock.sendall(b"P" + struct.pack("!I", len(parse) + 4) + parse)
    bind = b"\x00\x00" + struct.pack("!hhh", 0, 0, 0)
    sock.sendall(b"B" + struct.pack("!I", len(bind) + 4) + bind)
    execute = b"\x00" + struct.pack("!I", 0)
    sock.sendall(b"E" + struct.pack("!I", len(execute) + 4) + execute)
    sock.sendall(b"S" + struct.pack("!I", 4))
    # collect until DataRows arrive — but FAIL FAST on ErrorResponse
    # (a rewrite regression must assert with the payload, not hang
    # recv()ing a drained socket until the timeout)
    rows, all_tags, errs = [], [], []
    while b"D" not in all_tags and not errs:
        msgs = _read_until_ready(sock, buf)
        all_tags += [t for t, _ in msgs]
        rows += _data_rows(msgs)
        errs += [p for t, p in msgs if t == b"E"]
    assert not errs, errs
    names = {r[1] for r in rows}
    assert b"documents" in names and b"region" in names


def test_pg_catalog_df_sees_new_udf_and_array_select_edge(spark, sf_dir):
    """Review r11b: (a) registering a UDF mid-session must invalidate
    the pg_catalog snapshot so \\df shows it; (b) ARRAY(SELECT without
    trailing whitespace must rewrite, not crash."""
    from csvb_spark.server.pg_catalog import (
        refresh_pg_catalog,
        rewrite_pg_catalog_sql,
    )
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    register_views(spark, sf_dir)
    refresh_pg_catalog(spark)
    spark.udf.register("pgcat_probe_fn", lambda: 1, "int")
    names = {
        r.proname
        for r in execute_sql(
            spark, "SELECT proname FROM pg_catalog.pg_proc"
        ).collect()
    }
    assert "pgcat_probe_fn" in names

    out = rewrite_pg_catalog_sql(
        "SELECT ARRAY(SELECT(rolname) FROM pg_catalog.pg_roles "
        "WHERE oid = 10) AS a"
    )
    assert "array_agg" in out and "ARRAY(SELECT(" not in out
    row = execute_sql(
        spark,
        "SELECT ARRAY(SELECT(rolname) FROM pg_catalog.pg_roles "
        "WHERE oid = 10) AS a",
    ).collect()[0]
    assert row.a == ["spark"]


def test_pg_catalog_concurrent_introspection_with_ddl(pg_server, spark):
    """Three clients hammer the \\dt query while the main thread
    creates/drops temp views — refreshes race each other and the DDL,
    and every response must still be a well-formed row set (no
    mid-rebuild errors leak to clients)."""
    import threading
    import time

    errors: list = []

    def client(worker: int) -> None:
        try:
            s = socket.create_connection(
                ("127.0.0.1", pg_server.port), timeout=120
            )
            b = bytearray()
            _startup(s)
            _read_until_ready(s, b)
            for _ in range(4):
                msgs = _simple_query(s, b, _PSQL_DT_SQL)
                errs = [p for t, p in msgs if t == b"E"]
                if errs:
                    errors.append((worker, errs[0]))
                    return
                names = {r[1] for r in _data_rows(msgs)}
                if b"documents" not in names:
                    errors.append((worker, f"missing documents: {names}"))
                    return
            s.close()
        except Exception as ex:  # noqa: BLE001
            errors.append((worker, repr(ex)))

    threads = [
        threading.Thread(target=client, args=(w,)) for w in range(3)
    ]
    for t in threads:
        t.start()
    # concurrent DDL: register/drop views while the clients introspect
    for i in range(6):
        spark.range(3).createOrReplaceTempView(f"pgcat_race_{i % 2}")
        time.sleep(0.15)
        spark.catalog.dropTempView(f"pgcat_race_{i % 2}")
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors


def test_pg_catalog_same_name_schema_replace_refreshes(spark, sf_dir):
    """Verdict r11 item 4: CREATE OR REPLACE TEMP VIEW under the SAME
    name with a DIFFERENT column set must refresh the snapshot — the
    next \\d shows the new columns, not the stale list. The DDL goes
    through execute_sql (the serve surface) because that is what bumps
    the catalog epoch driving the two-stage snapshot's fingerprint
    pass; a steady-state \\d burst hits the cheap key instead."""
    from csvb_spark.sql import execute_sql

    def described_cols() -> list[str]:
        look = execute_sql(
            spark, _PSQL_D_LOOKUP_SQL.replace("documents", "t_pgcat_swap")
        ).collect()
        assert len(look) == 1
        return [
            r[0]
            for r in execute_sql(
                spark, _PSQL_D_COLUMNS_SQL.format(oid=look[0][0])
            ).collect()
        ]

    execute_sql(
        spark, "CREATE OR REPLACE TEMP VIEW t_pgcat_swap AS SELECT 1 AS a, 2 AS b"
    )
    try:
        assert described_cols() == ["a", "b"]
        # same name, different column set — the r11 staleness corner:
        # no table-list change, only the epoch marks the catalog dirty
        execute_sql(
            spark,
            "CREATE OR REPLACE TEMP VIEW t_pgcat_swap AS "
            "SELECT 'x' AS c1, 2.5 AS c2, 3 AS c3",
        )
        assert described_cols() == ["c1", "c2", "c3"]
    finally:
        spark.catalog.dropTempView("t_pgcat_swap")


def test_pg_catalog_cheap_key_skips_listcolumns(spark, sf_dir, monkeypatch):
    """Round-12 review: a steady-state introspection burst (one psql
    \\d = 6-10 catalog queries) must pay ZERO per-table column-schema
    round trips (spark.table since round 13 — it carries the
    char/varchar field metadata listColumns erased) — the cheap key
    (lists + DDL epoch) short-circuits before the fingerprint pass."""
    from csvb_spark.server.pg_catalog import refresh_pg_catalog
    from csvb_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    refresh_pg_catalog(spark)  # settle the snapshot

    calls = {"n": 0}
    real = spark.table

    def counting(name, *a, **kw):
        calls["n"] += 1
        return real(name, *a, **kw)

    monkeypatch.setattr(spark, "table", counting)
    for _ in range(5):  # a \d-burst's worth of refresh calls
        refresh_pg_catalog(spark)
    assert calls["n"] == 0, calls
    # an epoch bump (what execute_sql does on DDL) re-runs the
    # fingerprint pass exactly once
    spark._csvb_catalog_epoch = getattr(spark, "_csvb_catalog_epoch", 0) + 1
    refresh_pg_catalog(spark)
    assert calls["n"] > 0


def test_pg_catalog_builtin_functions_flag(spark, sf_dir):
    """Verdict r11 item 7: SET csvb.pg_catalog.builtin_functions=true
    surfaces Spark's builtin registry in pg_proc under namespace
    pg_catalog (oid 11) so \\df abs answers; off (the default), only
    session-registered UDFs appear."""
    from csvb_spark.server.pg_catalog import BUILTIN_FUNCTIONS_CONF
    from csvb_spark.sql import execute_sql

    def proc_rows(name: str):
        return execute_sql(
            spark,
            "SELECT proname, pronamespace FROM pg_catalog.pg_proc "
            f"WHERE proname = '{name}'",
        ).collect()

    try:
        assert proc_rows("abs") == []  # default: builtins hidden
        spark.conf.set(BUILTIN_FUNCTIONS_CONF, "true")
        rows = proc_rows("abs")
        assert len(rows) == 1 and rows[0][1] == 11, rows
        # user UDFs keep their own (non-pg_catalog) namespace
        haiku = proc_rows("haiku")
        assert len(haiku) == 1 and haiku[0][1] != 11, haiku
    finally:
        spark.conf.set(BUILTIN_FUNCTIONS_CONF, "false")
    assert proc_rows("abs") == []  # flag off again → hidden again


@pytest.mark.skipif(
    __import__("shutil").which("psql") is None,
    reason="psql binary not installed",
)
def test_pg_catalog_real_psql_df_builtin_flag(pg_server, spark):
    """Real psql: \\df abs is empty by default (builtins hidden, like
    postgres hides pg_catalog's own), and answers with the flag on."""
    import subprocess

    from csvb_spark.server.pg_catalog import BUILTIN_FUNCTIONS_CONF

    def df_abs() -> str:
        r = subprocess.run(
            ["psql", "-X", "-h", "127.0.0.1", "-p", str(pg_server.port),
             "-U", "u", "-d", "db", "-c", r"\df abs"],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0 and not r.stderr.strip(), (r.stdout, r.stderr)
        return r.stdout

    try:
        assert "abs" not in df_abs()
        spark.conf.set(BUILTIN_FUNCTIONS_CONF, "true")
        out = df_abs()
        assert "abs" in out and "pg_catalog" in out, out
    finally:
        spark.conf.set(BUILTIN_FUNCTIONS_CONF, "false")


def test_pg_catalog_fresh_oid_collision_perturbs_deterministically():
    """ADVICE r11: two catalog objects whose 28-bit crc32s collide
    must NOT share an oid (a silent collision merges their
    pg_attribute rows in \\d); the rehash is deterministic for a
    given sorted key order."""
    from csvb_spark.server.pg_catalog import _fresh_oid, _oid

    base = _oid("rel:default.some_table")
    used = {base}
    o1 = _fresh_oid("rel:default.some_table", used)
    assert o1 != base and o1 in used
    # same starting state → same perturbed assignment
    assert _fresh_oid("rel:default.some_table", {base}) == o1
    # no collision → plain _oid
    assert _fresh_oid("rel:default.other", set()) == _oid("rel:default.other")


def test_pg_catalog_refresh_reraises_deterministic_failures(spark, monkeypatch):
    """ADVICE r11: refresh retries ONLY the known transient catalog
    races; a deterministic failure surfaces its FIRST traceback
    without running the ~25-view rebuild twice."""
    import csvb_spark.server.pg_catalog as pgc

    calls = {"n": 0}

    def boom(_spark):
        calls["n"] += 1
        raise ValueError("deterministic schema bug")

    monkeypatch.setattr(pgc, "_refresh_pg_catalog_locked", boom)
    with pytest.raises(ValueError, match="deterministic schema bug"):
        pgc.refresh_pg_catalog(spark)
    assert calls["n"] == 1  # no second rebuild

    calls["n"] = 0

    def racy(_spark):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("[PARSE_EMPTY_STATEMENT] boom")

    monkeypatch.setattr(pgc, "_refresh_pg_catalog_locked", racy)
    pgc.refresh_pg_catalog(spark)  # transient → one retry, succeeds
    assert calls["n"] == 2


def test_federate_partition_strategy_degenerate_guard():
    """Verdict r11 item 5 + ADVICE: the bounds-informed split pick.
    Dense keys → range stripes; snowflake-style sparse/clustered ids →
    MOD-predicate slices; status-flag columns (span < N) are never
    picked; no viable column → honestly unpartitioned."""
    from csvb_spark.sources.federation import (
        choose_partition_strategy,
        mod_predicates,
        range_stripes_degenerate,
    )

    # dense contiguous id: range stripes on it
    assert choose_partition_strategy([("id", 0, 999, 1000)], 4) == (
        "range", "id", 0, 999,
    )
    # snowflake-style: span 10^12, 1000 rows → MOD slices with the
    # estimated key spacing (span // count) as the divide-first stride
    assert choose_partition_strategy(
        [("id", 7_000_000_000_000_000, 7_000_999_999_999_999, 1000)], 4
    ) == ("mod", "id", 1_000_000_000, None)
    # FIRST int column is a 0/1 status flag (the ADVICE shape): skipped
    # for a later dense id — range partitioning would have collapsed
    assert choose_partition_strategy(
        [("flag", 0, 1, 1000), ("id", 0, 999, 1000)], 4
    ) == ("range", "id", 0, 999)
    # flag-only table, N=4 > span 2: no strategy (unpartitioned scan)
    assert choose_partition_strategy([("flag", 0, 1, 1000)], 4) is None
    # empty / all-NULL column: skipped
    assert choose_partition_strategy([("id", None, None, 0)], 4) is None
    # the underlying density rule
    assert not range_stripes_degenerate(0, 999, 1000, 4)
    assert range_stripes_degenerate(0, 999, 10, 4)      # sparse
    assert range_stripes_degenerate(0, 1, 1000, 4)      # span < N
    assert range_stripes_degenerate(None, None, 0, 4)   # unknown

    preds = mod_predicates("id", 3)
    assert preds == [
        "(MOD(ABS(id), 3) = 0 OR id IS NULL)",
        "MOD(ABS(id), 3) = 1",
        "MOD(ABS(id), 3) = 2",
    ]
    # stride > 1: divide-first form (review r12 — canonical snowflake
    # ids have constant low bits, so a plain MOD would land every row
    # in slice 0; dividing by the spacing first rebalances). Verify
    # exhaustiveness + balance arithmetically on synthetic ids
    # id = k*4096 (seq bits all zero, the hostile layout):
    sp = mod_predicates("id", 4, stride=4096)
    assert sp[1] == "MOD(CAST(FLOOR(ABS(id) / 4096.0) AS BIGINT), 4) = 1"
    import math

    slices = [
        int(math.floor(abs(k * 4096) / 4096.0)) % 4 for k in range(1000)
    ]
    counts = [slices.count(i) for i in range(4)]
    assert max(counts) - min(counts) <= 1, counts  # balanced
    assert sum(counts) == 1000  # exhaustive
    # while the UNSTRIDED form on the same ids collapses to one slice
    assert {abs(k * 4096) % 4 for k in range(1000)} == {0}


def test_federate_pgwire_mod_slices_balanced_on_clustered_ids(spark):
    """Snowflake-style clustered ids over the pgwire transport: the
    MOD slices stay balanced (each slice carries ~1/N of the rows)
    and the federated result is unchanged vs a single-stream read."""
    from pyspark.sql import functions as F

    from csvb_spark.server.pgwire import PgWireServer
    from csvb_spark.sources.federation import read_shard_pg

    s1 = spark.newSession()
    # ids clustered at a huge offset with stride 1 — balanced under
    # MOD; a positional range split of [lo, hi] would also work here,
    # but the pgwire transport always slices by MOD, which is the
    # guard's fallback shape on the JDBC side too
    s1.range(0, 120).selectExpr(
        "id + 7000000000000000 AS id", "id * 3 AS v"
    ).createOrReplaceTempView("tbl")
    srv = PgWireServer(s1, "127.0.0.1:0")
    srv.start_background()
    try:
        addr = f"postgresql://u@127.0.0.1:{srv.port}/db"
        df = read_shard_pg(spark, addr, "tbl", num_partitions=4)
        sizes = sorted(
            r[1] for r in df.groupBy(
                (F.abs(F.col("id")) % 4).alias("slice")
            ).count().collect()
        )
        assert len(sizes) == 4 and max(sizes) == 30, sizes  # 120/4 each
        single = read_shard_pg(spark, addr, "tbl", num_partitions=1)
        assert sorted(r[0] for r in df.collect()) == sorted(
            r[0] for r in single.collect()
        )
    finally:
        srv.shutdown()


def test_pg_catalog_renders_bounded_char_types(spark):
    """\\d parity for bounded char columns (round 13): pg_attribute
    reads the char-aware type from the schema field metadata (the
    Column API erases varchar/char to string), stores postgres's
    n + VARHDRSZ in atttypmod, and format_type renders it back as
    'character varying(n)' / 'character(n)' exactly like postgres."""
    from csvb_spark.server.pg_catalog import refresh_pg_catalog
    from csvb_spark.sql import execute_sql

    spark.sql("DROP TABLE IF EXISTS _pgc_char_probe")
    spark.sql(
        "CREATE TABLE _pgc_char_probe "
        "(vc VARCHAR(12), ch CHAR(5), s STRING) USING PARQUET"
    )
    try:
        refresh_pg_catalog(spark)
        rows = execute_sql(
            spark,
            "SELECT a.attname, "
            "pg_catalog.format_type(a.atttypid, a.atttypmod) AS t "
            "FROM pg_catalog.pg_attribute a "
            "JOIN pg_catalog.pg_class c ON a.attrelid = c.oid "
            "WHERE c.relname = '_pgc_char_probe' ORDER BY a.attnum",
        ).collect()
        got = {r.attname: r.t for r in rows}
        assert got == {
            "vc": "character varying(12)",
            "ch": "character(5)",
            "s": "text",
        }, got
    finally:
        spark.sql("DROP TABLE IF EXISTS _pgc_char_probe")


@pytest.mark.skipif(
    __import__("shutil").which("psql") is None,
    reason="psql binary not installed",
)
def test_real_psql_describe_bounded_char_table(pg_server):
    """End-to-end char parity: DDL issued THROUGH the wire protocol
    (epoch bump -> pg_catalog refresh) and \\d rendered by the real
    psql client shows 'character varying(n)'/'character(n)' exactly
    like postgres (round 13 — the field-metadata read, atttypmod
    store, and format_type render all on the live path)."""
    import subprocess

    def run(*cmds: str):
        r = subprocess.run(
            ["psql", "-X", "-h", "127.0.0.1", "-p", str(pg_server.port),
             "-U", "u", "-d", "db"]
            + [x for c in cmds for x in ("-c", c)],
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 0 and not r.stderr.strip(), (r.stdout, r.stderr)
        return r.stdout

    try:
        out = run(
            "CREATE TABLE _wire_char_probe "
            "(vc VARCHAR(9), ch CHAR(3), s STRING) USING PARQUET",
            r"\d _wire_char_probe",
        )
        assert "character varying(9)" in out, out
        assert "character(3)" in out, out
        assert "text" in out, out
    finally:
        run("DROP TABLE IF EXISTS _wire_char_probe")


# --- shared catalog snapshot ------------------------------------------------


def test_information_schema_concurrent_introspection_with_ddl(pg_server, spark):
    """information_schema twin of the pg_catalog race test: three
    clients read information_schema.tables while the main thread
    creates and drops temp views. The rebuild runs under the shared
    refresh lock with the transient-race retry, so a refresh racing
    dropTempView never leaks TABLE_OR_VIEW_NOT_FOUND to a client."""
    import threading
    import time

    errors: list = []

    def client(worker: int) -> None:
        try:
            s = socket.create_connection(
                ("127.0.0.1", pg_server.port), timeout=120
            )
            b = bytearray()
            _startup(s)
            _read_until_ready(s, b)
            for _ in range(4):
                msgs = _simple_query(
                    s, b,
                    "SELECT table_schema, table_name, table_type "
                    "FROM information_schema.tables",
                )
                errs = [p for t, p in msgs if t == b"E"]
                if errs:
                    errors.append((worker, errs[0]))
                    return
                names = {r[1] for r in _data_rows(msgs)}
                if b"documents" not in names:
                    errors.append((worker, f"missing documents: {names}"))
                    return
            s.close()
        except Exception as ex:  # noqa: BLE001
            errors.append((worker, repr(ex)))

    threads = [threading.Thread(target=client, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for i in range(6):
        spark.range(3).createOrReplaceTempView(f"infoschema_race_{i % 2}")
        time.sleep(0.15)
        spark.catalog.dropTempView(f"infoschema_race_{i % 2}")
    for t in threads:
        t.join(timeout=180)
    assert not errors, errors


def test_catalog_snapshot_sees_every_catalog_change(spark, sf_dir, tmp_path):
    """The shared snapshot reflects, on the very next introspection
    query: a table created through the raw createOrReplaceTempView, a
    same-name add_direct_table with different columns, a UDF
    registered mid-session, and SET csvb.information_schema.arrow_types."""
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sources.csv_source import add_direct_table
    from csvb_spark.sql import ARROW_TYPES_CONF, execute_sql

    def info_tables() -> set:
        return {
            r.table_name
            for r in execute_sql(
                spark, "SELECT table_name FROM information_schema.tables"
            ).collect()
        }

    def info_columns(table: str) -> list:
        return [
            (r.column_name, r.data_type)
            for r in execute_sql(
                spark,
                "SELECT column_name, data_type FROM information_schema.columns "
                f"WHERE table_name = '{table}' ORDER BY ordinal_position",
            ).collect()
        ]

    def pg_classes() -> set:
        return {r[1] for r in execute_sql(spark, _PSQL_DT_SQL).collect()}

    def pg_columns(table: str) -> list:
        return [
            r.attname
            for r in execute_sql(
                spark,
                "SELECT a.attname FROM pg_catalog.pg_attribute a "
                "JOIN pg_catalog.pg_class c ON c.oid = a.attrelid "
                f"WHERE c.relname = '{table}' ORDER BY a.attnum",
            ).collect()
        ]

    def pg_procs() -> set:
        return {
            r.proname
            for r in execute_sql(
                spark, "SELECT proname FROM pg_catalog.pg_proc"
            ).collect()
        }

    register_views(spark, sf_dir)
    info_tables(), pg_classes()  # settle the snapshot
    spark.range(2).createOrReplaceTempView("snap_raw_new")
    try:
        assert "snap_raw_new" in info_tables()
        assert "snap_raw_new" in pg_classes()
    finally:
        spark.catalog.dropTempView("snap_raw_new")

    first, second = tmp_path / "a.csv", tmp_path / "b.csv"
    first.write_text("a,b\n1,x\n")
    second.write_text("c1,c2,c3\n1.5,y,2\n")
    add_direct_table(spark, "snap_csv", [str(first)])
    try:
        assert [c for c, _ in info_columns("snap_csv")] == ["a", "b"]
        assert pg_columns("snap_csv") == ["a", "b"]
        add_direct_table(spark, "snap_csv", [str(second)])
        assert [c for c, _ in info_columns("snap_csv")] == ["c1", "c2", "c3"]
        assert pg_columns("snap_csv") == ["c1", "c2", "c3"]

        spark.udf.register("snap_probe_fn", lambda: 1, "int")
        assert "snap_probe_fn" in pg_procs()

        assert info_columns("snap_csv")[0] == ("c1", "double")
        spark.conf.set(ARROW_TYPES_CONF, "true")
        try:
            assert info_columns("snap_csv")[0] == ("c1", "Float64")
        finally:
            spark.conf.set(ARROW_TYPES_CONF, "false")
        assert info_columns("snap_csv")[0] == ("c1", "double")
    finally:
        spark.catalog.dropTempView("snap_csv")


def test_catalog_snapshot_burst_lists_nothing(spark, sf_dir, monkeypatch):
    """A steady-state burst of introspection queries (both emulations)
    answers from the snapshot: zero listFunctions and zero per-table
    schema reads."""
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    burst = [
        "SELECT table_name FROM information_schema.tables",
        _PSQL_DT_SQL,
        "SELECT column_name FROM information_schema.columns",
        "SELECT proname FROM pg_catalog.pg_proc",
        _PSQL_DT_SQL,
    ]
    register_views(spark, sf_dir)
    for q in burst:  # settle both emulations
        execute_sql(spark, q).collect()

    calls = {"listFunctions": 0, "table": 0}
    real_fns, real_table = spark.catalog.listFunctions, spark.table

    def counting_fns(*a, **kw):
        calls["listFunctions"] += 1
        return real_fns(*a, **kw)

    def counting_table(*a, **kw):
        calls["table"] += 1
        return real_table(*a, **kw)

    monkeypatch.setattr(spark.catalog, "listFunctions", counting_fns)
    monkeypatch.setattr(spark, "table", counting_table)
    for q in burst:
        execute_sql(spark, q).collect()
    assert calls == {"listFunctions": 0, "table": 0}, calls


def test_introspection_views_are_local_relations(spark, sf_dir):
    """Both emulations' views are Arrow-built LocalRelations: the
    physical plan is a LocalTableScan, never an RDD scan that starts
    Python workers."""
    from csvb_spark.sources.catalog import register_views
    from csvb_spark.sql import execute_sql

    register_views(spark, sf_dir)
    for q in (
        "SELECT * FROM information_schema.columns",
        "SELECT * FROM information_schema.tables",
        "SELECT * FROM information_schema.df_settings",
        "SELECT * FROM pg_catalog.pg_attribute",
        "SELECT * FROM pg_catalog.pg_constraint",
    ):
        plan = (
            execute_sql(spark, q)._jdf.queryExecution().executedPlan().toString()
        )
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (q, plan)


# --- result fetch helper ----------------------------------------------------


_MIXED_VIEW_SQL = (
    "SELECT id, "
    "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS DECIMAL(10, 2)) / 7 END AS d, "
    "CASE WHEN id % 4 = 0 THEN NULL ELSE date_add(DATE'2024-02-27', CAST(id AS INT)) END AS dt, "
    "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id * 1.5) AS ts, "
    "CASE WHEN id % 5 = 0 THEN NULL ELSE array(id, NULL, id * 2) END AS arr, "
    "named_struct('a', id, 'b', CAST(id AS STRING)) AS st, "
    "CASE WHEN id % 2 = 0 THEN NULL ELSE concat('v\\t', CAST(id AS STRING), ',\"q\"') END AS s "
    "FROM range(0, 40, 1, 4)"
)


def _wire_transcript(port: int) -> list:
    """Every message of: a simple query, an extended-protocol portal
    suspended by max_rows, the same portal with every result column in
    binary, and COPY TO in text, CSV and binary."""
    sock = socket.create_connection(("127.0.0.1", port), timeout=120)
    buf = bytearray()
    _startup(sock)
    _read_until_ready(sock, buf)
    out = [_simple_query(sock, buf, "SELECT * FROM fetch_mixed")]
    q = b"SELECT * FROM fetch_mixed"
    _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    for _ in range(6):  # 5 suspend after 7 rows each, the 6th completes
        _send(sock, b"E", b"\x00" + struct.pack("!I", 7))
    _send(sock, b"S", b"")
    out.append(_read_until_ready(sock, buf))
    _send(sock, b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
    _send(sock, b"B", b"\x00\x00" + struct.pack("!hhhh", 0, 0, 1, 1))
    _send(sock, b"D", b"P\x00")
    _send(sock, b"E", b"\x00" + struct.pack("!I", 0))
    _send(sock, b"S", b"")
    out.append(_read_until_ready(sock, buf))
    for opts in ("", " WITH (FORMAT CSV, HEADER)", " WITH (FORMAT BINARY)"):
        out.append(_simple_query(sock, buf, f"COPY fetch_mixed TO STDOUT{opts}"))
    sock.close()
    return out


#: sha256 of each ``_wire_transcript`` section (messages re-framed as
#: sent), recorded before the row loops were merged into one: the
#: simple query, the suspended portal, the binary portal, and COPY TO
#: text, CSV and binary.
_WIRE_TRANSCRIPT_SHA256 = [
    "b74f4a36e2184efea7e6f4d5b368fd9c0b55fff61efb87c6e481974235eb4af8",  # simple
    "bfc141ca6c99e219159852b5e0ef6bf1d0e5a4092d63937bfe026d88c4b41340",  # portal
    "9449ab9eaa0b2a5d0e39f42296d899eec3c4e42c0b53e860c46e25aed75e62dd",  # binary portal
    "f99d4a086fd5fa7822b3b5ffa6c0be8d720c3a22076e432727d47233bc1c9b91",  # copy text
    "57d57374f8085a1e5f8f2e46b198617584f557f8a93cc126f989c033c5a0b92f",  # copy csv
    "65b8fb87d1924a689d856afe0f1175655dde95fe0877e6f97a6aa90641e973e6",  # copy binary
]


def _transcript_digests(transcript: list) -> list[str]:
    return [
        hashlib.sha256(
            b"".join(t + struct.pack("!I", len(p) + 4) + p for t, p in msgs)
        ).hexdigest()
        for msgs in transcript
    ]


def test_fetch_helper_wire_bytes_identical_collect_vs_stream(
    pg_server, spark, monkeypatch, caplog
):
    """The collect and stream fetch paths put identical bytes on the
    wire for a mixed-type result (nulls, decimal, date, timestamp,
    array, struct) over a simple query, a max_rows-suspended portal, a
    binary portal and COPY TO text/CSV/binary; each statement logs its
    fetch mode, and the bytes match the pinned digests."""
    import logging

    import csvb_spark.server.pgwire as pgwire

    spark.sql(_MIXED_VIEW_SQL).createOrReplaceTempView("fetch_mixed")
    caplog.set_level(logging.INFO, logger="csvb.pgwire")
    try:
        transcripts = {}
        for mode, budget in (("collected", 1 << 62), ("streamed", -1)):
            monkeypatch.setattr(pgwire, "_COLLECT_BUDGET_BYTES", budget)
            caplog.clear()
            transcripts[mode] = _wire_transcript(pg_server.port)
            lines = [
                r.getMessage() for r in caplog.records if r.name == "csvb.pgwire"
            ]
            # query + 5 suspended Executes + the completing one + the
            # binary portal + 3 COPYs
            assert len(lines) == 11, lines
            assert all(f", {mode}: " in ln for ln in lines), lines
            assert lines[0].startswith("query ") and " 40 rows, " in lines[0]
    finally:
        spark.catalog.dropTempView("fetch_mixed")
    simple, portal, binary, copy_text, copy_csv, copy_bin = transcripts["collected"]
    assert len(_data_rows(simple)) == 40
    assert [t for t, _ in portal].count(b"s") == 5
    assert (b"C", b"SELECT 40\x00") in portal
    assert len(_data_rows(binary)) == 40
    assert len([t for t, _ in copy_text if t == b"d"]) == 40
    assert len([t for t, _ in copy_csv if t == b"d"]) == 41  # + header
    assert len([t for t, _ in copy_bin if t == b"d"]) == 42  # + header, trailer
    assert transcripts["collected"] == transcripts["streamed"]
    assert _transcript_digests(transcripts["collected"]) == _WIRE_TRANSCRIPT_SHA256


def test_fetch_helper_one_job_under_budget(spark, monkeypatch):
    """StatusTracker: an under-budget multi-partition SELECT runs as
    ONE Spark job; over the budget (or with exploded rows, whose
    estimate is unreliable) it streams, one job per partition."""
    import csvb_spark.server.pgwire as pgwire
    from csvb_spark.sql import execute_sql

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(0, 1000, 1, 4).createOrReplaceTempView("fetch_parts")

    def fetch(sql: str, group: str) -> tuple[int, str, int]:
        sc.setJobGroup(group, group)
        try:
            it, mode = pgwire._fetch_rows(execute_sql(spark, sql))
            rows = len(list(it))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group)), mode, rows

    try:
        assert fetch("SELECT * FROM fetch_parts", "fetch-under") == (
            1, "collected", 1000
        )
        monkeypatch.setattr(pgwire, "_COLLECT_BUDGET_BYTES", 1024)
        assert fetch("SELECT * FROM fetch_parts", "fetch-over") == (
            4, "streamed", 1000
        )
        monkeypatch.undo()
        _, mode, rows = fetch(
            "SELECT explode(sequence(1, 10)) AS x FROM fetch_parts", "fetch-gen"
        )
        assert (mode, rows) == ("streamed", 10000)
    finally:
        spark.catalog.dropTempView("fetch_parts")


class _CountingSock:
    """The server end of a socket pair, recording every ``sendall``."""

    def __init__(self, sock: socket.socket):
        self.sock, self.writes = sock, []

    def sendall(self, data) -> None:
        self.writes.append(bytes(data))  # before the bytes can arrive
        self.sock.sendall(data)

    def recv(self, n: int) -> bytes:
        return self.sock.recv(n)


def test_each_response_leaves_in_one_write(spark, pg_server):
    """A connection buffers its output and flushes before it waits for
    the client: startup, a simple SELECT, an empty query, a failing
    query, a Parse/Bind/Describe/Execute/Sync batch and COPY TO each
    go out in ONE write ending in ReadyForQuery; COPY FROM's
    CopyInResponse goes out alone before the client sends data; a
    result over 1 MiB takes ceil(bytes / 1 MiB) writes. The server's
    accepted sockets set TCP_NODELAY."""
    import threading

    import csvb_spark.server.pgwire as pgwire

    ready = b"Z\x00\x00\x00\x05I"  # ReadyForQuery, idle
    a, sock = socket.socketpair()
    sock.settimeout(120)
    srv = _CountingSock(a)
    # built on its serving thread: the backend pid is that thread's id
    t = threading.Thread(target=lambda: pgwire._Conn(srv, spark).serve(), daemon=True)
    t.start()
    buf = bytearray()

    def exchange(request: bytes, until: bytes = b"Z") -> tuple[list, list]:
        n = len(srv.writes)
        sock.sendall(request)
        msgs = [_read_msg(sock, buf)]
        while msgs[-1][0] != until:
            msgs.append(_read_msg(sock, buf))
        assert not buf  # nothing past the response arrived
        return msgs, srv.writes[n:]

    def msg(tag: bytes, body: bytes = b"") -> bytes:
        return tag + struct.pack("!I", len(body) + 4) + body

    def query(sql: str) -> bytes:
        return msg(b"Q", sql.encode() + b"\x00")

    params = b"user\x00test\x00database\x00tbl\x00\x00"
    startup = struct.pack("!II", len(params) + 8, 196608) + params
    q = b"SELECT id, 'x' AS s FROM range(3)"
    batch = (
        msg(b"P", b"\x00" + q + b"\x00" + struct.pack("!h", 0))
        + msg(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
        + msg(b"D", b"P\x00")
        + msg(b"E", b"\x00" + struct.pack("!I", 0))
        + msg(b"S")
    )
    try:
        for request in (
            startup,
            query("SELECT 1 AS one"),
            query(" ; "),  # EmptyQueryResponse
            query("SELECT * FROM no_such_tbl_w"),
            batch,
            query("COPY (SELECT id FROM range(5)) TO STDOUT"),
            query("DROP TABLE IF EXISTS write_count_t"),
            query("CREATE TABLE write_count_t (a INT) USING parquet"),
        ):
            msgs, writes = exchange(request)
            assert len(writes) == 1, (request[:40], len(writes))
            assert writes[0].endswith(ready)
            assert b"".join(writes) == b"".join(
                tg + struct.pack("!I", len(p) + 4) + p for tg, p in msgs
            )
        # COPY FROM: CopyInResponse leaves before any data is sent
        msgs, writes = exchange(query("COPY write_count_t FROM STDIN"), b"G")
        assert [tg for tg, _ in msgs] == [b"G"] and len(writes) == 1
        msgs, writes = exchange(msg(b"d", b"1\n2\n") + msg(b"c"))
        assert (b"C", b"COPY 2\x00") in msgs and len(writes) == 1
        exchange(query("DROP TABLE write_count_t"))
        # 2500 DataRows of 1011 bytes: flushed each time 1 MiB is pending
        msgs, writes = exchange(query("SELECT repeat('x', 1000) FROM range(2500)"))
        total = sum(len(w) for w in writes)
        assert len(_data_rows(msgs)) == 2500 and total > 2 << 20
        assert len(writes) == -(-total // (1 << 20))
        assert all(len(w) > 1 << 20 for w in writes[:-1])
        assert writes[-1].endswith(ready)
    finally:
        sock.sendall(msg(b"X"))  # Terminate
        sock.close()
        t.join(60)
    assert not t.is_alive()
    # the TCP server's accepted socket: TCP_NODELAY
    tcp = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    try:
        _startup(tcp)
        (key,) = [p for tg, p in _read_until_ready(tcp, bytearray()) if tg == b"K"]
        (pid, _) = struct.unpack("!II", key)
        assert pgwire._CONNS[pid].sock.getsockopt(
            socket.IPPROTO_TCP, socket.TCP_NODELAY
        )
    finally:
        tcp.close()


def test_startup_refusals_reach_the_client(pg_server):
    """SSLRequest is answered 'N' and the startup goes on in plaintext;
    an unsupported protocol version gets its 08P01 ErrorResponse
    before the server closes the connection."""
    sock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    try:
        sock.sendall(struct.pack("!II", 8, 80877103))  # SSLRequest
        assert sock.recv(1) == b"N"
        _startup(sock)
        assert _read_until_ready(sock, bytearray())[-1] == (b"Z", b"I")
    finally:
        sock.close()
    sock = socket.create_connection(("127.0.0.1", pg_server.port), timeout=60)
    try:
        sock.sendall(struct.pack("!II", 8, 131072))  # protocol 2.0
        buf = bytearray()
        tag, payload = _read_msg(sock, buf)
        assert tag == b"E" and _error_code([(tag, payload)]) == "08P01"
        assert sock.recv(1) == b""  # then closed
    finally:
        sock.close()
