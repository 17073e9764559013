"""Minimal wire clients for the benchmark: PostgreSQL simple-query
protocol and the Arrow-IPC ``W``/``A``/``F``/``E`` bulk-ingest framing.

No libpq/psycopg is needed. Every ErrorResponse (pgwire ``E``) and every
ingest ``E`` frame raises :class:`WireError`; a caller counts that op as
failed. The helpers follow the ``until_ready``/``expect_ack`` idiom of
the engine's in-process bench: read a whole message, never assume.
"""

from __future__ import annotations

import json
import socket
import struct
import time


class WireError(RuntimeError):
    """The server answered an op with an error frame."""


def _recv_exact(s: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = s.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("server closed the connection")
        buf += chunk
    return bytes(buf)


def _connect(host: str, port: int) -> socket.socket:
    sock = socket.create_connection((host, port), timeout=120)
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


class PgConn:
    """One pgwire connection speaking the simple query protocol, text
    format. ``query`` returns (column names, rows of str|None)."""

    def __init__(self, host: str, port: int):
        self.sock = _connect(host, port)
        body = struct.pack("!i", 196608) + b"user\x00postgres\x00\x00"
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._until_ready()

    def _msg(self) -> tuple[bytes, bytes]:
        tag = _recv_exact(self.sock, 1)
        (ln,) = struct.unpack("!i", _recv_exact(self.sock, 4))
        return tag, _recv_exact(self.sock, ln - 4)

    def _until_ready(self) -> tuple[list[str], list[tuple]]:
        cols: list[str] = []
        rows: list[tuple] = []
        err = None
        while True:
            tag, body = self._msg()
            if tag == b"T":
                cols = _parse_row_description(body)
            elif tag == b"D":
                rows.append(_parse_data_row(body))
            elif tag == b"E" and err is None:
                err = _error_text(body)
            elif tag == b"Z":
                if err is not None:
                    raise WireError(err)
                return cols, rows

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        q = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!i", len(q) + 4) + q)
        return self._until_ready()

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self.sock.close()


def _parse_row_description(body: bytes) -> list[str]:
    (n,) = struct.unpack_from("!h", body, 0)
    off, names = 2, []
    for _ in range(n):
        end = body.index(b"\x00", off)
        names.append(body[off:end].decode())
        off = end + 1 + 18  # table oid, attnum, type oid, typlen, typmod, format
    return names


def _parse_data_row(body: bytes) -> tuple:
    (n,) = struct.unpack_from("!h", body, 0)
    off, vals = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", body, off)
        off += 4
        if ln < 0:
            vals.append(None)
        else:
            vals.append(body[off : off + ln].decode())
            off += ln
    return tuple(vals)


def _error_text(body: bytes) -> str:
    fields = {}
    for part in body.split(b"\x00"):
        if part:
            fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
    return f"{fields.get('C', '?')}: {fields.get('M', body[:300])}"


class _SocketSink:
    """File-like write target so pyarrow's IPC writer streams to a socket."""

    closed = False

    def __init__(self, sock: socket.socket):
        self.sock = sock

    def write(self, data) -> int:
        self.sock.sendall(data)
        return len(data)

    def writable(self) -> bool:
        return True

    def readable(self) -> bool:
        return False

    def seekable(self) -> bool:
        return False

    def tell(self) -> int:
        return 0

    def flush(self) -> None:
        pass

    def close(self) -> None:
        pass


class ArrowIngest:
    """One Arrow-IPC ingest stream: header → ``W``, each batch → ``A``
    (ack == durable), close → ``F``. ``send`` returns the ack latency in
    seconds; an ``E`` frame raises WireError."""

    def __init__(self, host: str, port: int, table: str, schema, app_id: str):
        import pyarrow.ipc as ipc

        self.sock = _connect(host, port)
        raw = json.dumps({"table": table, "app_id": app_id}).encode()
        self.sock.sendall(struct.pack("!I", len(raw)) + raw)
        self.watermark = self._expect(b"W")
        self.seq = self.watermark
        self.writer = ipc.new_stream(_SocketSink(self.sock), schema)

    def _expect(self, want: bytes) -> int:
        tag = _recv_exact(self.sock, 1)
        if tag == b"E":
            (ln,) = struct.unpack("!I", _recv_exact(self.sock, 4))
            raise WireError(_recv_exact(self.sock, ln).decode("utf-8", "replace"))
        if tag != want:
            raise WireError(f"ingest expected {want!r}, got {tag!r}")
        (val,) = struct.unpack("!Q", _recv_exact(self.sock, 8))
        return val

    def send(self, batch) -> float:
        t0 = time.perf_counter()
        self.writer.write_batch(batch)
        acked = self._expect(b"A")
        self.seq += 1
        if acked != self.seq:
            raise WireError(f"ack seq {acked} != sent seq {self.seq}")
        return time.perf_counter() - t0

    def finish(self) -> int:
        self.writer.close()
        total = self._expect(b"F")
        self.sock.close()
        return total
