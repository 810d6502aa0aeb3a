"""A small stdlib PostgreSQL v3 wire client: simple query, COPY TO
STDOUT (CopyOut) and COPY FROM STDIN (CopyIn).

The benchmark owns this client so its per-row cost stays fixed across
commits of the server; it reuses nothing from ``csvb_spark``.
"""

from __future__ import annotations

import socket
import struct


class WireError(RuntimeError):
    """The server answered ErrorResponse (the message carries SQLSTATE
    and text) or broke the protocol."""


def _msg(tag: bytes, body: bytes = b"") -> bytes:
    return tag + struct.pack("!I", len(body) + 4) + body


def _error_text(body: bytes) -> str:
    fields = {f[:1]: f[1:].decode(errors="replace") for f in body.split(b"\0") if f}
    return f"{fields.get(b'C', '?')}: {fields.get(b'M', 'unknown error')}"


def _data_row(body: bytes) -> list[str | None]:
    (n,) = struct.unpack_from("!h", body)
    pos, row = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", body, pos)
        pos += 4
        if ln < 0:
            row.append(None)
        else:
            row.append(body[pos : pos + ln].decode())
            pos += ln
    return row


class WireClient:
    """One connection. ``rx_bytes`` counts every byte received, so
    callers can derive wire bytes per row."""

    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rf = self.sock.makefile("rb", buffering=1 << 16)
        self.rx_bytes = 0
        params = b"user\0bench\0database\0bench\0\0"
        body = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, body = self._read()
            if tag == b"E":
                raise WireError(_error_text(body))
            if tag == b"Z":
                return

    def _read(self) -> tuple[bytes, bytes]:
        head = self.rf.read(5)
        if len(head) < 5:
            raise ConnectionError("server closed the connection")
        (ln,) = struct.unpack("!I", head[1:])
        body = self.rf.read(ln - 4)
        if len(body) < ln - 4:
            raise ConnectionError("server closed the connection")
        self.rx_bytes += ln + 1
        return head[:1], body

    def _finish(self, err: str | None) -> None:
        """Read to ReadyForQuery, then raise a pending error."""
        while True:
            tag, body = self._read()
            if tag == b"E":
                err = err or _error_text(body)
            elif tag == b"Z":
                break
        if err:
            raise WireError(err)

    def query(self, sql: str) -> tuple[list[str], list[list[str | None]]]:
        """Simple query; returns (column names, text rows)."""
        self.sock.sendall(_msg(b"Q", sql.encode() + b"\0"))
        cols: list[str] = []
        rows: list[list[str | None]] = []
        err = None
        while True:
            tag, body = self._read()
            if tag == b"D":
                rows.append(_data_row(body))
            elif tag == b"T":
                (n,) = struct.unpack_from("!h", body)
                pos = 2
                for _ in range(n):
                    end = body.index(b"\0", pos)
                    cols.append(body[pos:end].decode())
                    pos = end + 1 + 18
            elif tag == b"E":
                err = _error_text(body)
            elif tag == b"Z":
                break
        if err:
            raise WireError(err)
        return cols, rows

    def copy_out(self, sql: str) -> tuple[int, bytes]:
        """``COPY ... TO STDOUT``; returns (rows, the copied data)."""
        self.sock.sendall(_msg(b"Q", sql.encode() + b"\0"))
        data = bytearray()
        rows = 0
        while True:
            tag, body = self._read()
            if tag == b"d":
                data += body
                rows += body.count(b"\n")
            elif tag == b"E":
                self._finish(_error_text(body))
            elif tag == b"C":
                self._finish(None)
                return rows, bytes(data)
            elif tag == b"Z":
                raise WireError(f"COPY TO ended without CommandComplete: {sql[:80]}")

    def copy_in(self, sql: str, payload: bytes, chunk: int = 1 << 16) -> int:
        """``COPY ... FROM STDIN``: stream ``payload`` as CopyData and
        return the row count from the ``COPY n`` tag."""
        self.sock.sendall(_msg(b"Q", sql.encode() + b"\0"))
        tag, body = self._read()
        if tag == b"E":
            self._finish(_error_text(body))
        if tag != b"G":
            raise WireError(f"expected CopyInResponse, got {tag!r}")
        view = memoryview(payload)
        for i in range(0, len(payload), chunk):
            self.sock.sendall(_msg(b"d", bytes(view[i : i + chunk])))
        self.sock.sendall(_msg(b"c"))
        n = None
        while True:
            tag, body = self._read()
            if tag == b"C":
                n = int(body.rstrip(b"\0").split()[-1])
            elif tag == b"E":
                self._finish(_error_text(body))
            elif tag == b"Z":
                break
        if n is None:
            raise WireError("COPY FROM ended without CommandComplete")
        return n

    def close(self) -> None:
        try:
            self.sock.sendall(_msg(b"X"))
        except OSError:
            pass
        self.rf.close()
        self.sock.close()
