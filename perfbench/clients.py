"""Stdlib-only wire clients for the benchmark: PostgreSQL v3 (simple and
extended protocol, COPY FROM STDIN) and ClickHouse HTTP.

Every call returns a `Reply` that carries the client-side timings the
benchmark reports: `t_first` (first DataRow / first body byte) and
`t_end` (ReadyForQuery / last body byte), both `time.perf_counter()`
seconds. Rows are handed to a per-call `sink` as raw cell bytes so that
the caller decides how much decoding it pays for; the decode loops are
the same ones the client-ceiling self-check replays offline.
"""
import http.client
import socket
import struct
import time
import urllib.parse

_I32 = struct.Struct(">i")
_I16 = struct.Struct(">h")
_HDR = struct.Struct(">ci")


def _cstr(s):
    return s.encode() + b"\0"


def _msg(t, body):
    return t + _I32.pack(len(body) + 4) + body


def encode_simple(sql):
    return _msg(b"Q", _cstr(sql))


def encode_extended(sql, params=(), result_format=0):
    """Unnamed Parse/Bind/Describe/Execute/Sync with text params."""
    ps = [None if v is None else str(v).encode() for v in params]
    pbytes = b"".join(_I32.pack(-1) if p is None else _I32.pack(len(p)) + p for p in ps)
    bind = b"\0\0" + _I16.pack(0) + _I16.pack(len(ps)) + pbytes + \
        _I16.pack(1) + _I16.pack(result_format)
    return (_msg(b"P", b"\0" + _cstr(sql) + _I16.pack(0)) + _msg(b"B", bind) +
            _msg(b"D", b"P\0") + _msg(b"E", b"\0" + _I32.pack(0)) + _msg(b"S", b""))


def encode_copy_data(data, chunk=1 << 16):
    """CopyData messages for `data`, then CopyDone."""
    view = memoryview(data)
    return b"".join(_msg(b"d", bytes(view[i:i + chunk])) for i in range(0, len(data), chunk)) + \
        _msg(b"c", b"")


class WireError(Exception):
    """The server answered with an error (ErrorResponse or HTTP != 200)."""

    def __init__(self, message, code=""):
        super().__init__(message)
        self.code = code


class Reply:
    __slots__ = ("rows", "tag", "t_first", "t_end", "error", "code")

    def __init__(self):
        self.rows = 0
        self.tag = ""
        self.t_first = None
        self.t_end = None
        self.error = None
        self.code = ""


def row_cells(payload, off=0):
    """Split one DataRow payload (starting at `off`) into cell bytes
    (None for SQL NULL)."""
    (n,) = _I16.unpack_from(payload, off)
    off += 2
    out = []
    for _ in range(n):
        (ln,) = _I32.unpack_from(payload, off)
        off += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(bytes(payload[off:off + ln]))
            off += ln
    return out


class _Stream:
    """Buffered socket reader: one growing bytearray, consumed by offset,
    compacted only when the unread tail is moved to the front."""

    def __init__(self, recv):
        self.recv = recv
        self.buf = bytearray()
        self.pos = 0

    def fill(self, need):
        while len(self.buf) - self.pos < need:
            if self.pos:
                del self.buf[:self.pos]
                self.pos = 0
            d = self.recv(1 << 18)
            if not d:
                raise ConnectionError("server closed the connection")
            self.buf += d

    def message(self):
        self.fill(5)
        t, ln = _HDR.unpack_from(self.buf, self.pos)
        self.fill(1 + ln)
        start = self.pos + 5
        self.pos += 1 + ln
        return t, start, self.pos


def consume_pg(stream, reply, sink, stop_at=b"Z"):
    """Read backend messages until `stop_at`; feeds DataRow payload
    offsets to `sink(buf, start)` and fills `reply`. The same loop runs
    live and in the offline ceiling replay."""
    while True:
        t, start, end = stream.message()
        buf = stream.buf
        if t == b"D":
            if reply.t_first is None:
                reply.t_first = time.perf_counter()
            reply.rows += 1
            if sink is not None:
                sink(buf, start)
        elif t == b"C":
            reply.tag = bytes(buf[start:end - 1]).decode()
        elif t == b"E":
            fields = {}
            for f in bytes(buf[start:end]).split(b"\0"):
                if f:
                    fields[f[:1]] = f[1:].decode("utf-8", "replace")
            reply.error = fields.get(b"M", "?")
            reply.code = fields.get(b"C", "")
        if t == stop_at:
            return t


class PgClient:
    """One PostgreSQL protocol-3 connection (trust auth over loopback)."""

    def __init__(self, port, user="bench"):
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.recorded = None  # a bytearray here collects every byte received
        self.stream = _Stream(self._recv)
        body = _I32.pack(196608) + _cstr("user") + _cstr(user) + \
            _cstr("database") + _cstr("main") + b"\0"
        self.sock.sendall(_I32.pack(len(body) + 4) + body)
        r = Reply()
        consume_pg(self.stream, r, None)
        if r.error:
            raise WireError(r.error, r.code)

    def _recv(self, n):
        d = self.sock.recv(n)
        if self.recorded is not None:
            self.recorded += d
        return d

    def _finish(self, reply, sink):
        consume_pg(self.stream, reply, sink)
        reply.t_end = time.perf_counter()
        return reply

    def simple(self, sql, sink=None):
        r = Reply()
        self.sock.sendall(encode_simple(sql))
        return self._finish(r, sink)

    def extended(self, sql, params=(), result_format=0, sink=None):
        r = Reply()
        self.sock.sendall(encode_extended(sql, params, result_format))
        return self._finish(r, sink)

    def copy_in(self, sql, data):
        """COPY … FROM STDIN: sends `data` (bytes) as CopyData chunks."""
        r = Reply()
        self.sock.sendall(encode_simple(sql))
        t = consume_pg(self.stream, r, None, stop_at=b"G")
        if r.error:  # an error ends in ReadyForQuery, not CopyInResponse
            return self._finish(r, None) if t != b"Z" else r
        self.sock.sendall(encode_copy_data(data))
        return self._finish(r, None)

    def close(self):
        try:
            self.sock.sendall(_msg(b"X", b""))
        except OSError:
            pass
        self.sock.close()


class ChClient:
    """ClickHouse HTTP client on one keep-alive connection."""

    def __init__(self, port):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        self.recorded = None  # a bytearray here collects every body byte received

    def _request(self, method, path, body=None, sink=None):
        r = Reply()
        self.conn.request(method, path, body=body)
        resp = self.conn.getresponse()
        status = resp.status
        tail = b""
        while True:
            chunk = resp.read1(1 << 18)
            if not chunk:
                break
            if r.t_first is None:
                r.t_first = time.perf_counter()
            if self.recorded is not None:
                self.recorded += chunk
            if status == 200 and sink is not None:
                tail = sink(tail + chunk)
            elif status != 200:
                tail += chunk
        resp.read()
        r.t_end = time.perf_counter()
        if status != 200:
            r.error = tail.decode("utf-8", "replace").strip()[:300]
            r.code = f"HTTP {status}"
        return r

    def select(self, sql, sink=None):
        """GET ?query=…; `sink(data) -> unconsumed tail` sees the body."""
        return self._request("GET", "/?query=" + urllib.parse.quote(sql), sink=sink)

    def insert(self, sql, payload):
        return self._request("POST", "/?query=" + urllib.parse.quote(sql), body=payload)

    def close(self):
        self.conn.close()


def line_sink(counter):
    """Body sink for line formats: hands complete lines to `counter(lines)`
    and returns the partial last line."""
    def sink(data):
        cut = data.rfind(b"\n") + 1
        if cut:
            counter(data[:cut].split(b"\n")[:-1])
        return data[cut:]
    return sink
