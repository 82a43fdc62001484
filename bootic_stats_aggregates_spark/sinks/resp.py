"""In-process RESP (Redis Serialization Protocol) server + client.

The container ships neither a redis server nor redis-py, and the Redis
sink stages from executors, so it needs a server whose writes every
process can see. RESP2 is a tiny framed protocol, so — the same way
streaming/socket_source.py stood in for the ZMQ funnel — this module
provides both ends over genuine TCP sockets:

- :class:`MiniRedisServer`: a threaded accept-loop speaking enough RESP
  for the sink's command surface (HINCRBY/ZINCRBY/SADD, the staging
  HSET/HGETALL, SET NX markers, DEL, MULTI/EXEC transactions, plus the
  read commands the tests verify with). State is applied under one lock;
  EXEC applies the queued commands atomically — the same all-or-nothing
  guarantee the sink's commit protocol relies on from a real Redis.
- :class:`RespClient`: a dependency-free client with the redis-py
  surface ``RedisCounterSink`` needs (``from_url``, command methods,
  ``pipeline(transaction=)``), returning ``bytes`` replies exactly like
  a default ``decode_responses=False`` redis-py client — so the sink's
  bytes-normalization path (commit_staged) is exercised for real.

The client factory captures only the URL string, so cloudpickle ships it
to executors and every partition opens its OWN socket — the distributed
staging path (``foreachPartition`` pipelining over TCP) runs exactly as
it would against a production Redis, just terminating in-process.

This pair is the sink's one backend in this repository: the sink tests,
the model tests, the ``stream_redis_counters`` / ``snk_redis_resp``
queries and the benchmark all run against it. It is single process, with
no persistence and no eviction; a production deployment points the same
URL env at a real server.
"""

from __future__ import annotations

import socket
import socketserver
import threading
from collections import defaultdict
from urllib.parse import urlparse


def _encode(*args) -> bytes:
    """Encode one command as a RESP array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else str(a).encode()
        out.append(b"$%d\r\n%s\r\n" % (len(b), b))
    return b"".join(out)


class RespError(RuntimeError):
    """A Redis ``-ERR`` reply, surfaced after the wire is fully drained."""


class _Reader:
    """Buffered RESP reply reader over a socket.

    Consumption is tracked with an INDEX into a bytearray, compacted
    only when the consumed prefix is large — the original ``bytes``
    re-slicing (``self._buf = self._buf[...]``) copied the whole
    remaining buffer per parsed element, which is O(bytes x elements):
    at sf0.1 one staged-pipeline EXEC carries ~2x10^5 queued commands
    in a multi-MB buffer and the quadratic copying wedged the framing
    for minutes, tripping the 30 s socket timeout (found by this
    round's sf0.1 sweep of snk_redis_resp; sf0.01 and below never
    buffered enough to notice)."""

    #: compact the consumed prefix once it exceeds this many bytes
    _COMPACT = 1 << 16

    def __init__(self, sock: socket.socket) -> None:
        self._sock = sock
        self._buf = bytearray()
        self._pos = 0

    def buffered(self) -> bool:
        """Whether bytes already received are still unparsed."""
        return self._pos < len(self._buf)

    def _compact(self) -> None:
        if self._pos >= self._COMPACT:
            del self._buf[: self._pos]
            self._pos = 0

    def _fill(self) -> None:
        self._compact()
        chunk = self._sock.recv(65536)
        if not chunk:
            raise ConnectionError("RESP peer closed")
        self._buf += chunk

    def _line(self) -> bytes:
        while True:
            i = self._buf.find(b"\r\n", self._pos)
            if i >= 0:
                line = bytes(self._buf[self._pos : i])
                self._pos = i + 2
                self._compact()
                return line
            self._fill()

    def _exact(self, n: int) -> bytes:
        while len(self._buf) - self._pos < n + 2:
            self._fill()
        data = bytes(self._buf[self._pos : self._pos + n])
        self._pos += n + 2
        self._compact()
        return data

    def reply(self):
        """One reply; raises :class:`RespError` on an ``-ERR`` reply.

        The raise happens only AFTER the reply (including every element
        of an array) is fully consumed off the wire: raising mid-array —
        the previous behavior — left the remaining elements unread in
        the buffer and desynced every later command on the connection
        (ADVICE r6). redis-py parses nested errors as values for the
        same reason."""
        r = self.parse()
        if isinstance(r, RespError):
            raise r
        return r

    def parse(self):
        """One reply with errors AS VALUES (never raises on ``-``):
        pipeline paths use this to drain N replies before raising."""
        line = self._line()
        t, rest = line[:1], line[1:]
        if t == b"+":
            return rest.decode()
        if t == b"-":
            return RespError(f"RESP error: {rest.decode()}")
        if t == b":":
            return int(rest)
        if t == b"$":
            n = int(rest)
            return None if n == -1 else self._exact(n)
        if t == b"*":
            n = int(rest)
            return None if n == -1 else [self.parse() for _ in range(n)]
        raise RuntimeError(f"bad RESP type byte {t!r}")


class _Handler(socketserver.BaseRequestHandler):
    """One connection: parse command arrays, dispatch, frame replies.

    MULTI/EXEC queueing is per-connection state; command application
    happens under the server-wide lock (EXEC applies its whole queue
    inside one lock hold — atomic relative to every other connection)."""

    #: flush held replies once this many are queued, even mid-burst
    _FLUSH_REPLIES = 1024

    def handle(self) -> None:  # noqa: C901 - a protocol switch is a switch
        srv = self.server.mini  # type: ignore[attr-defined]
        # Replies to the commands already read go out in ONE write once the
        # read buffer is drained, as Redis writes once per event-loop pass,
        # and TCP_NODELAY sends that write at once. One small write per
        # reply (+OK, each +QUEUED, the EXEC array) under Nagle stalled
        # every MULTI/EXEC on the client's delayed ACK, ~40 ms each.
        self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        reader = _Reader(self.request)
        out: list[bytes] = []
        txn: list[list[bytes]] | None = None
        while True:
            if out and (not reader.buffered() or len(out) >= self._FLUSH_REPLIES):
                # join once: += on bytes re-copies the whole reply per
                # command (quadratic in queue length — the server-side
                # twin of the _Reader re-slicing fix above)
                self.request.sendall(b"".join(out))
                out.clear()
            try:
                parts = reader.reply()
            except (ConnectionError, OSError):
                return
            if not isinstance(parts, list) or not parts:
                return
            cmd = parts[0].upper()
            if cmd == b"QUIT":
                out.append(b"+OK\r\n")
                self.request.sendall(b"".join(out))
                return
            if cmd == b"MULTI":
                txn = []
                out.append(b"+OK\r\n")
                continue
            if cmd == b"EXEC":
                with srv.lock:
                    out.append(b"*%d\r\n" % len(txn or []))
                    for queued in txn or []:
                        out.append(srv.apply(queued))
                txn = None
                continue
            if txn is not None:
                txn.append(parts)
                out.append(b"+QUEUED\r\n")
                continue
            with srv.lock:
                out.append(srv.apply(parts))


class MiniRedisServer:
    """Threaded in-process Redis speaking the sink's RESP subset."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0) -> None:
        self.lock = threading.Lock()
        self.hashes: dict[str, dict[bytes, int]] = defaultdict(dict)
        self.zsets: dict[str, dict[bytes, float]] = defaultdict(dict)
        self.sets: dict[str, set[bytes]] = defaultdict(set)
        self.kv: dict[str, bytes] = {}
        self._tcp = socketserver.ThreadingTCPServer(
            (host, port), _Handler, bind_and_activate=True
        )
        self._tcp.daemon_threads = True
        self._tcp.mini = self  # type: ignore[attr-defined]
        self.host, self.port = self._tcp.server_address
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, name="mini-redis", daemon=True
        )
        self._thread.start()

    @property
    def url(self) -> str:
        return f"redis://{self.host}:{self.port}/0"

    def close(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()

    # -- command dispatch (caller holds self.lock) --

    def apply(self, parts: list[bytes]) -> bytes:  # noqa: C901 - a switch
        cmd = parts[0].upper()
        args = parts[1:]
        try:
            if cmd == b"PING":
                return b"+PONG\r\n"
            if cmd == b"SELECT":
                return b"+OK\r\n"  # single-db harness: db index accepted
            if cmd == b"FLUSHDB":
                self.hashes.clear()
                self.zsets.clear()
                self.sets.clear()
                self.kv.clear()
                return b"+OK\r\n"
            if cmd == b"HINCRBY":
                key, field, delta = args[0].decode(), args[1], int(args[2])
                h = self.hashes[key]
                h[field] = h.get(field, 0) + delta
                return b":%d\r\n" % h[field]
            if cmd == b"ZINCRBY":
                key, delta, member = args[0].decode(), float(args[1]), args[2]
                z = self.zsets[key]
                z[member] = z.get(member, 0.0) + delta
                return self._bulk(repr(z[member]).encode())
            if cmd == b"SADD":
                key = args[0].decode()
                s = self.sets[key]
                added = sum(1 for m in args[1:] if m not in s)
                s.update(args[1:])
                return b":%d\r\n" % added
            if cmd == b"HSET":
                key = args[0].decode()
                h = self.hashes[key]
                fresh = sum(
                    1 for f in args[1::2] if f not in h
                )
                for f, v in zip(args[1::2], args[2::2]):
                    h[f] = v
                return b":%d\r\n" % fresh
            if cmd == b"HGETALL":
                # join once — += was quadratic on the sf0.1 staging
                # hash (~2x10^5 fields), same class of fix as EXEC
                h = self.hashes.get(args[0].decode(), {})
                parts_out = [b"*%d\r\n" % (2 * len(h))]
                for f, v in h.items():
                    vb = v if isinstance(v, bytes) else str(v).encode()
                    parts_out.append(self._bulk(f))
                    parts_out.append(self._bulk(vb))
                return b"".join(parts_out)
            if cmd == b"SMEMBERS":
                s = self.sets.get(args[0].decode(), set())
                return b"*%d\r\n" % len(s) + b"".join(
                    self._bulk(m) for m in sorted(s)
                )
            if cmd == b"ZRANGE":
                z = self.zsets.get(args[0].decode(), {})
                start, stop = int(args[1]), int(args[2])
                withscores = any(a.upper() == b"WITHSCORES" for a in args[3:])
                members = sorted(z.items(), key=lambda kv: (kv[1], kv[0]))
                stop = len(members) if stop == -1 else stop + 1
                window = members[start:stop]
                if withscores:
                    parts_out = [b"*%d\r\n" % (2 * len(window))]
                    for m, s in window:
                        parts_out.append(self._bulk(m))
                        parts_out.append(self._bulk(repr(s).encode()))
                    return b"".join(parts_out)
                return b"*%d\r\n" % len(window) + b"".join(
                    self._bulk(m) for m, _ in window
                )
            if cmd == b"GET":
                v = self.kv.get(args[0].decode())
                return self._bulk(v) if v is not None else b"$-1\r\n"
            if cmd == b"SET":
                key, value = args[0].decode(), args[1]
                nx = any(a.upper() == b"NX" for a in args[2:])
                if nx and key in self.kv:
                    return b"$-1\r\n"  # NX blocked: null reply
                self.kv[key] = value
                return b"+OK\r\n"
            if cmd == b"DEL":
                n = 0
                for a in args:
                    key = a.decode()
                    n += int(
                        self.hashes.pop(key, None) is not None
                        or self.zsets.pop(key, None) is not None
                        or self.sets.pop(key, None) is not None
                        or self.kv.pop(key, None) is not None
                    )
                return b":%d\r\n" % n
            return b"-ERR unknown command %s\r\n" % cmd
        except (ValueError, IndexError) as exc:
            return b"-ERR %s\r\n" % str(exc).encode()

    @staticmethod
    def _bulk(b: bytes) -> bytes:
        return b"$%d\r\n%s\r\n" % (len(b), b)


class RespPipeline:
    """Buffered command pipeline with redis-py's pipeline surface.

    ``transaction=True`` wraps the flush in MULTI/EXEC (atomic apply on
    the server); ``transaction=False`` is a plain pipelined burst — one
    syscall for N commands either way, which is the entire point of the
    sink's per-partition staging writer."""

    def __init__(self, client: "RespClient", transaction: bool) -> None:
        self._client = client
        self._txn = transaction
        self._cmds: list[tuple] = []

    def hincrby(self, key, field, delta):
        self._cmds.append(("HINCRBY", key, field, int(delta)))
        return self

    def zincrby(self, key, delta, member):
        self._cmds.append(("ZINCRBY", key, delta, member))
        return self

    def sadd(self, key, member):
        self._cmds.append(("SADD", key, member))
        return self

    def hset(self, key, field, value):
        self._cmds.append(("HSET", key, field, value))
        return self

    def set(self, key, value, nx=False):
        cmd = ("SET", key, value) + (("NX",) if nx else ())
        self._cmds.append(cmd)
        return self

    def delete(self, key):
        self._cmds.append(("DEL", key))
        return self

    def execute(self) -> list:
        cmds, self._cmds = self._cmds, []
        return self._client._run_pipeline(cmds, self._txn)


class RespClient:
    """Dependency-free redis client over a real TCP socket (RESP2).

    Mirrors the redis-py surface the sink + tests consume, with
    ``decode_responses=False`` semantics: bulk replies arrive as
    ``bytes``. One socket per instance; not thread-safe (matches how the
    sink uses it: one client per partition / one on the driver)."""

    def __init__(self, host: str, port: int, db: int = 0) -> None:
        self._sock = socket.create_connection((host, port), timeout=30)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._reader = _Reader(self._sock)
        if db:
            self._cmd("SELECT", db)

    @classmethod
    def from_url(cls, url: str) -> "RespClient":
        u = urlparse(url)
        db = int((u.path or "/0").lstrip("/") or 0)
        return cls(u.hostname or "127.0.0.1", u.port or 6379, db)

    def _cmd(self, *args):
        self._sock.sendall(_encode(*args))
        return self._reader.reply()

    def _run_pipeline(self, cmds: list[tuple], transaction: bool) -> list:
        if not cmds:
            return []
        frames = []
        if transaction:
            frames.append(_encode("MULTI"))
        frames.extend(_encode(*c) for c in cmds)
        if transaction:
            frames.append(_encode("EXEC"))
        payload = b"".join(frames)
        # Send from a helper thread while THIS thread drains replies: a
        # one-burst sendall deadlocks once the burst outgrows the kernel
        # socket buffers — the server replies +QUEUED per command, the
        # un-drained replies fill the client's receive buffer, the
        # server's sendall blocks, it stops reading, and the client's
        # own sendall blocks in turn (hit for real by the sf0.1
        # snk_redis_resp staging pipeline, ~2x10^5 commands ~ tens of
        # MB; a real redis-py client survives only because a real Redis
        # buffers replies in userspace). Full-duplex socket: one sender
        # thread + one reader thread is safe.
        send_err: list[BaseException] = []

        def _send() -> None:
            try:
                self._sock.sendall(payload)
            except BaseException as exc:  # surfaced after the drain
                send_err.append(exc)

        sender = threading.Thread(
            target=_send, name="resp-pipeline-send", daemon=True
        )
        sender.start()
        # Drain EVERY queued reply before raising: a mid-drain raise
        # leaves unread replies in the buffer and desyncs the connection
        # for all later commands (ADVICE r6) — errors parse as values
        # (reader.parse), then the first one raises after the wire is
        # clean, redis-py's raise_on_error contract.
        if transaction:
            replies = [self._reader.parse()]  # +OK / -ERR for MULTI
            for _ in cmds:
                replies.append(self._reader.parse())  # +QUEUED / -ERR
            replies.append(self._reader.parse())  # EXEC's reply array
            out = replies
        else:
            out = [self._reader.parse() for _ in cmds]
        # Join the sender and surface any send error BEFORE raising on a
        # reply error (ADVICE r13): the old transaction path raised on a
        # -ERR QUEUED reply first, leaving the sender thread unjoined and
        # a captured send exception unreported.
        sender.join()  # every reply drained => the burst fully sent
        if send_err:
            raise send_err[0]
        if transaction:
            for r in replies:
                if isinstance(r, RespError):
                    raise r
            out = list(replies[-1] or [])
        for r in out:
            if isinstance(r, RespError):
                raise r
        return out

    # -- redis-py command surface --

    def ping(self):
        return self._cmd("PING")

    def flushdb(self):
        return self._cmd("FLUSHDB")

    def hincrby(self, key, field, delta):
        return self._cmd("HINCRBY", key, field, int(delta))

    def zincrby(self, key, delta, member):
        return float(self._cmd("ZINCRBY", key, delta, member))

    def sadd(self, key, *members):
        return self._cmd("SADD", key, *members)

    def hset(self, key, field, value):
        return self._cmd("HSET", key, field, value)

    def hgetall(self, key) -> dict:
        flat = self._cmd("HGETALL", key) or []
        return dict(zip(flat[0::2], flat[1::2]))

    def smembers(self, key) -> set:
        return set(self._cmd("SMEMBERS", key) or [])

    def zrange(self, key, start, stop, withscores=False):
        if withscores:
            flat = self._cmd("ZRANGE", key, start, stop, "WITHSCORES") or []
            return [
                (m, float(s)) for m, s in zip(flat[0::2], flat[1::2])
            ]
        return self._cmd("ZRANGE", key, start, stop) or []

    def get(self, key):
        return self._cmd("GET", key)

    def set(self, key, value, nx=False):
        reply = (
            self._cmd("SET", key, value, "NX")
            if nx
            else self._cmd("SET", key, value)
        )
        return True if reply == "OK" else None

    def delete(self, key):
        return self._cmd("DEL", key)

    def pipeline(self, transaction: bool = True) -> RespPipeline:
        return RespPipeline(self, transaction)

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:  # pragma: no cover
            pass
