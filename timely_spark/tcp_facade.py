"""TCP / UDP put transports — the reference's primary ingest sockets.

Reference: the Netty TCP pipeline accepts newline-delimited ``put``
lines and the bare ``version`` request (TcpPutHandler,
TcpVersionHandler; `@Tcp(operation=...)` annotations); the UDP pipeline
accepts the same put lines one-or-many per datagram (`@Udp`). Writes
buffer and flush on a latency timer — WriteProperties.java:11's 5 s
BatchWriter max-latency — not per line.

Spark mapping: accepted lines accumulate in a driver-side buffer that a
background flusher drains through ``TimelyEngine.put_lines`` (parse +
partitioned-Parquet append) every ``flush_seconds`` or
``flush_lines``, whichever first. The socket accept loop is I/O-bound
plumbing; all real work happens in the flushed Spark batch. For
sustained firehose ingest the scale path remains the Structured
Streaming socket/file source (``sources/lineprotocol.put_socket_stream``)
— this facade is the wire-protocol compatibility seam, like the
reference's own put socket.
"""

from __future__ import annotations

import socket
import socketserver
import threading
import time

from .api import TimelyEngine


def _read_head(conn: socket.socket, n: int = 8, timeout: float = 1.0) -> bytes:
    """Consume up to ``n`` bytes, looping across TCP segments.

    A single ``recv`` sees only the bytes of the first queued segment,
    so a FlatBuffers frame whose first segment carries fewer than 8
    bytes would be misclassified under normal TCP segmentation; loop
    until ``n`` bytes, EOF, or ``timeout`` (a live line-protocol client
    may legitimately have sent a shorter first line and be awaiting a
    response). Consuming-then-pushing-back (rather than MSG_PEEK) keeps
    the branch decision identical over TLS, where ``ssl.SSLSocket``
    cannot peek the decrypted stream."""
    head = b""
    deadline = time.monotonic() + timeout
    while len(head) < n:
        remaining = deadline - time.monotonic()
        if remaining <= 0:
            break
        conn.settimeout(remaining)
        try:
            chunk = conn.recv(n - len(head))
        except (TimeoutError, OSError):
            break
        if not chunk:
            break  # EOF before n bytes: not a frame
        head += chunk
    conn.settimeout(None)
    return head


class _PutBuffer:
    """Shared line buffer with size/latency flush (BatchWriter analogue)."""

    def __init__(self, engine: TimelyEngine, flush_lines: int, flush_seconds: float):
        self.engine = engine
        self.flush_lines = flush_lines
        self.flush_seconds = flush_seconds
        self._buf: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="timely-put-flusher", daemon=True
        )
        self._thread.start()

    def add(self, line: str) -> None:
        flush_now = False
        with self._lock:
            self._buf.append(line)
            flush_now = len(self._buf) >= self.flush_lines
        if flush_now:
            self.flush()

    def flush(self) -> int:
        with self._lock:
            batch, self._buf = self._buf, []
        if not batch:
            return 0
        return self.engine.put_lines(batch)

    def _loop(self) -> None:
        while not self._stop.wait(self.flush_seconds):
            try:
                self.flush()
            except Exception:  # pragma: no cover - flusher must survive
                pass

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.flush()


class TimelyTcpServer:
    """Newline-delimited TCP ingest + the bare ``version`` op
    (TimelyTcpIT.testVersion/testPut shapes)."""

    def __init__(
        self,
        engine: TimelyEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_lines: int = 5000,
        flush_seconds: float = 5.0,
        ssl_context=None,
    ):
        self.engine = engine
        self.buffer = _PutBuffer(engine, flush_lines, flush_seconds)
        buffer = self.buffer

        engine_ref = engine

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                # FlatBuffers auto-detect, like the reference's pipeline
                # (MetricsBufferDecoder checks the "TMFB" file identifier
                # at offset 4): a binary connection carries one Metrics
                # frame, drained to EOF. _read_head loops across short
                # first TCP segments so segmentation can't misclassify
                # the frame; the consumed head is pushed back in front of
                # whichever branch runs.
                from .sources.flatbuf import has_identifier

                conn = self.request
                head = _read_head(conn)
                if len(head) >= 8 and has_identifier(bytes(head[:8])):
                    parts = [head]
                    while True:
                        chunk = conn.recv(65536)
                        if not chunk:
                            break
                        parts.append(chunk)
                    engine_ref.put_flatbuffers([b"".join(parts)])
                    return
                # line protocol: split on newlines over a pushback buffer
                # seeded with the consumed head
                pending = head

                def lines():
                    nonlocal pending
                    while True:
                        nl = pending.find(b"\n")
                        if nl >= 0:
                            line, pending = pending[:nl], pending[nl + 1 :]
                            yield line
                            continue
                        try:
                            chunk = conn.recv(65536)
                        except OSError:
                            chunk = b""
                        if not chunk:
                            if pending:
                                yield pending
                            return
                        pending += chunk

                for raw in lines():
                    line = raw.decode("utf-8", errors="replace").strip()
                    if not line:
                        continue
                    if line == "version":
                        conn.sendall((TimelyEngine.version() + "\n").encode("utf-8"))
                    elif line.startswith("put "):
                        buffer.add(line)
                    # unknown ops are dropped, like the lenient TCP decoder

        self._srv = socketserver.ThreadingTCPServer((host, port), Handler)
        if ssl_context is not None:
            # handshake on accept; a failed two-way handshake is an
            # OSError inside get_request, swallowed by serve_forever —
            # kills that client, not the listener
            self._srv.socket = ssl_context.wrap_socket(
                self._srv.socket, server_side=True
            )
        self._srv.daemon_threads = True
        self.host, self.port = self._srv.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> "TimelyTcpServer":
        self._thread = threading.Thread(
            target=self._srv.serve_forever, name="timely-tcp", daemon=True
        )
        self._thread.start()
        return self

    def flush(self) -> int:
        """Force-drain the put buffer (tests; the reference calls this
        seam dataStore.flush())."""
        return self.buffer.flush()

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self.buffer.close()
        if self._thread:
            self._thread.join(timeout=10)


class TimelyUdpServer:
    """Datagram ingest: one or many put lines per packet (TimelyUdpIT).

    Also accepts collectd's binary network protocol on the same port
    (SURVEY §2.1 S5): a datagram opening with a HOST part decodes
    through the reference collectd plugin's naming rules
    (sources/collectd.py) and joins the same put buffer, so a stock
    collectd ``network`` plugin can point straight at Timely-Spark.
    ``collectd_tags`` mirrors the plugin's AdditionalTags config."""

    def __init__(
        self,
        engine: TimelyEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_lines: int = 5000,
        flush_seconds: float = 5.0,
        collectd_tags: dict[str, str] | None = None,
    ):
        self.engine = engine
        self.buffer = _PutBuffer(engine, flush_lines, flush_seconds)
        buffer = self.buffer
        extra_tags = dict(collectd_tags or {})

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                from .sources.collectd import (
                    decode_packets,
                    is_collectd_packet,
                    to_put_lines,
                )

                data = self.request[0]
                if is_collectd_packet(data):
                    for md in decode_packets(data):
                        for line in to_put_lines(md, extra_tags):
                            buffer.add(line)
                    return
                for line in data.decode("utf-8", errors="replace").splitlines():
                    line = line.strip()
                    if line.startswith("put "):
                        buffer.add(line)

        self._srv = socketserver.ThreadingUDPServer((host, port), Handler)
        self._srv.daemon_threads = True
        self.host, self.port = self._srv.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> "TimelyUdpServer":
        self._thread = threading.Thread(
            target=self._srv.serve_forever, name="timely-udp", daemon=True
        )
        self._thread.start()
        return self

    def flush(self) -> int:
        return self.buffer.flush()

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self.buffer.close()
        if self._thread:
            self._thread.join(timeout=10)
