"""WebSocket transport for subscriptions — the reference's WS API on a
stdlib RFC 6455 server.

Reference protocol (common/.../api/request/websocket/*.java, routed by
``@WebSocket(operation=...)``): the client sends JSON text frames

    {"operation": "create", "subscriptionId": "s1"}
    {"operation": "add",    "subscriptionId": "s1", "metric": "m",
     "tags": {...}, "startTime": ms, "endTime": ms}
    {"operation": "remove", "subscriptionId": "s1", "metric": "m"}
    {"operation": "close",  "subscriptionId": "s1"}

and the reference exposes the whole API over the same channel — the
request classes unwrap into the op message (``@WebSocket(operation=...)``
on MetricRequest/QueryRequest/SuggestRequest/...): ``put`` (Metric
fields), ``query`` (QueryRequest fields, response = QueryResponse list
frame), ``suggest``, ``lookup``, ``aggregators``, ``version``,
``cache``, ``metrics`` — all dispatched here onto the same TimelyEngine
methods the HTTP facade uses.

and the server pushes ``MetricResponses`` frames — ``{"responses":
[{"metric", "timestamp", "value", "tags": [{"key","value"}...],
"subscriptionId", "complete"}...]}`` (MetricResponse.java:14-22,
MetricScanner.java:186-199) — ending a finite range with a
``complete: true`` response (MetricScanner.java:270-281).

Transport notes: frames funnel each subscription's results through the
client's single WS channel, so the per-batch collect in the push sink is
the protocol's own bottleneck, identical to the reference writing every
response through one Netty channel; batches are capped like the
reference's 1000-response flushes. The scale path for bulk consumers is
the SubscriptionManager's default file-spool sink, not a socket.

Auth: with an :class:`~timely_spark.auth.AuthenticationService`, the
upgrade request authenticates like the HTTP decoder (Authorization JWT >
TSESSIONID cookie > TLS client cert > anonymous-if-allowed,
HttpRequestDecoder.java:113-157 with ``allow-anonymous-ws-access``), an
op message carrying ``sessionId`` re-resolves per-op
(AuthenticatedWebSocketRequest.java:18-27), and the session's auths
visibility-filter both ``query`` ops and subscription streams. TLS comes
from ``ssl_context`` (:mod:`timely_spark.tls`).
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import ssl
import struct
import threading

from pyspark.sql import SparkSession

from .auth import AuthenticationService, UnauthorizedError
from .streaming.subscription import SubscriptionManager
from .tls import peer_dn_pair

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
_BATCH_CAP = 1000  # WebsocketProperties.java:20 subscription batch size


def _accept_key(key: str) -> str:
    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode("ascii")).digest()
    ).decode("ascii")


def _recv_exact(conn: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = conn.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return buf


def read_frame(conn: socket.socket) -> tuple[int, bytes]:
    """One frame -> (opcode, payload). Client frames are masked per RFC
    6455 §5.3; fragmentation is not needed for the JSON op messages."""
    b1, b2 = _recv_exact(conn, 2)
    opcode = b1 & 0x0F
    masked = bool(b2 & 0x80)
    ln = b2 & 0x7F
    if ln == 126:
        (ln,) = struct.unpack(">H", _recv_exact(conn, 2))
    elif ln == 127:
        (ln,) = struct.unpack(">Q", _recv_exact(conn, 8))
    mask = _recv_exact(conn, 4) if masked else b""
    payload = _recv_exact(conn, ln) if ln else b""
    if masked:
        payload = bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
    return opcode, payload


def make_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """Server frame (unmasked, FIN)."""
    head = bytes([0x80 | opcode])
    ln = len(payload)
    if ln < 126:
        head += bytes([ln])
    elif ln < 1 << 16:
        head += bytes([126]) + struct.pack(">H", ln)
    else:
        head += bytes([127]) + struct.pack(">Q", ln)
    return head + payload


class TimelyWebSocketServer:
    """One listener; each accepted connection owns a SubscriptionManager
    (subscriptions die with their session, like the reference's
    channel-close teardown)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        host: str = "127.0.0.1",
        port: int = 0,
        lag_seconds: int = 120,
        flush_seconds: int = 30,
        engine=None,
        auths=None,
        auth_service: AuthenticationService | None = None,
        ssl_context=None,
        idle_timeout: float | None = None,
    ):
        """``idle_timeout``: seconds of client silence before the server
        closes the session — the reference's IdleStateHandler on the WS
        pipeline (Server.java:583, websocket.timeout, 20 s default
        there; None = never)."""
        from .api import TimelyEngine

        self.spark = spark
        self.store_path = store_path
        self.engine = engine or TimelyEngine(spark, store_path=store_path)
        self.auths = auths
        self.auth_service = auth_service
        self.lag_seconds = lag_seconds
        self.flush_seconds = flush_seconds
        self.idle_timeout = idle_timeout
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self.host, self.port = self._sock.getsockname()
        if ssl_context is not None:
            self._sock = ssl_context.wrap_socket(self._sock, server_side=True)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> "TimelyWebSocketServer":
        self._sock.listen(8)
        self._thread = threading.Thread(
            target=self._accept_loop, name="timely-ws", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass
        if self._thread:
            self._thread.join(timeout=10)

    # ---------------------------------------------------------- internals

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except ssl.SSLError:
                # a failed TLS handshake (e.g. a two-way-SSL client with
                # no certificate, TwoWaySSLFailureIT) kills that client,
                # not the listener
                continue
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _session_auths(self, conn, headers: dict[str, str]):
        """Resolve the upgrade request to a session auth set, the HTTP
        decoder's priority order with the WS anonymous flag
        (HttpRequestDecoder.java:113-137). Raises UnauthorizedError."""
        if self.auth_service is None:
            return self.auths
        session_id = None
        for part in (headers.get("cookie") or "").split(";"):
            name, _, val = part.strip().partition("=")
            if name == AuthenticationService.COOKIE_NAME and val:
                session_id = val
        cert_dn = peer_dn_pair(conn) if hasattr(conn, "getpeercert") else None
        principal = self.auth_service.enforce_access(
            auth_header=headers.get("authorization"),
            session_id=session_id,
            client_cert_dn=cert_dn,
            transport="ws",
        )
        return set(principal.effective_auths)

    def _handshake(self, conn: socket.socket):
        """RFC 6455 upgrade; returns (ok, session_auths)."""
        data = b""
        while b"\r\n\r\n" not in data:
            chunk = conn.recv(4096)
            if not chunk:
                return False, None
            data += chunk
        headers = {}
        for line in data.decode("latin-1").split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        key = headers.get("sec-websocket-key")
        if not key or "websocket" not in headers.get("upgrade", "").lower():
            conn.sendall(b"HTTP/1.1 400 Bad Request\r\n\r\n")
            return False, None
        try:
            conn_auths = self._session_auths(conn, headers)
        except UnauthorizedError as e:
            body = json.dumps({"message": str(e)}).encode("utf-8")
            conn.sendall(
                b"HTTP/1.1 401 Unauthorized\r\n"
                b"Content-Type: application/json\r\n"
                + f"Content-Length: {len(body)}\r\n\r\n".encode("ascii")
                + body
            )
            return False, None
        conn.sendall(
            (
                "HTTP/1.1 101 Switching Protocols\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Accept: {_accept_key(key)}\r\n\r\n"
            ).encode("ascii")
        )
        return True, conn_auths

    def _serve(self, conn: socket.socket) -> None:
        ok, conn_auths = self._handshake(conn)
        if not ok:
            conn.close()
            return
        wlock = threading.Lock()

        def push(obj: dict) -> None:
            frame = make_frame(json.dumps(obj, separators=(",", ":")).encode("utf-8"))
            with wlock:
                conn.sendall(frame)

        def ws_sink(sub_id: str, metric: str):
            def sink(batch_df, batch_id: int) -> None:
                # Deliver EVERY row, flushed in frames of _BATCH_CAP
                # responses — the reference flushes each subscriptionBatchSize
                # but never drops (MetricScanner.java:211-224). toLocalIterator
                # bounds driver memory to one partition at a time instead of
                # collecting the whole micro-batch.
                buf: list[dict] = []

                def flush() -> None:
                    if buf:
                        push({"responses": list(buf)})
                        buf.clear()

                for r in batch_df.toLocalIterator():
                    buf.append(
                        {
                            "metric": r["metric"],
                            "timestamp": r["ts"],
                            "value": r["value"],
                            "tags": [
                                {"key": k, "value": v}
                                for k, v in sorted((r["tags"] or {}).items())
                            ],
                            "subscriptionId": sub_id,
                            "complete": False,
                        }
                    )
                    if len(buf) >= _BATCH_CAP:
                        flush()
                flush()

            return sink

        def on_complete(sub_id: str, metric: str) -> None:
            try:
                push(
                    {
                        "responses": [
                            {
                                "metric": metric,
                                "timestamp": 0,
                                "value": 0.0,
                                "tags": [],
                                "subscriptionId": sub_id,
                                "complete": True,
                            }
                        ]
                    }
                )
            except OSError:
                pass  # client already gone

        mgr = SubscriptionManager(
            self.spark,
            self.store_path,
            lag_seconds=self.lag_seconds,
            flush_seconds=self.flush_seconds,
            sink=ws_sink,
            on_complete=on_complete,
        )
        try:
            if self.idle_timeout:
                conn.settimeout(self.idle_timeout)
            while not self._stop.is_set():
                try:
                    opcode, payload = read_frame(conn)
                except TimeoutError:
                    # IdleStateHandler analogue: server-initiated close
                    # after idle_timeout seconds of client silence
                    with wlock:
                        conn.sendall(make_frame(b"\x03\xe9idle", opcode=0x8))
                    return
                if opcode == 0x8:  # close
                    with wlock:
                        conn.sendall(make_frame(payload, opcode=0x8))
                    return
                if opcode == 0x9:  # ping -> pong
                    with wlock:
                        conn.sendall(make_frame(payload, opcode=0xA))
                    continue
                if opcode != 0x1:
                    continue
                try:
                    msg = json.loads(payload)
                    reply = self._dispatch(mgr, msg, conn_auths)
                    if reply is not None:
                        push(reply)
                except Exception as e:
                    push({"error": str(e)})
        except (ConnectionError, OSError):
            pass
        finally:
            for sub_id in list(mgr._subs):
                mgr.close(sub_id)
            conn.close()

    def _dispatch(
        self, mgr: SubscriptionManager, msg: dict, auths=None
    ) -> dict | None:
        """One op message -> optional response frame object. Subscription
        ops return None (their results stream); API ops return the same
        shapes the HTTP handlers send. ``auths``: the connection's
        session auth set; an op carrying ``sessionId`` re-resolves
        against the login cache (AuthenticatedWebSocketRequest)."""
        op = msg.get("operation")
        if self.auth_service is not None and msg.get("sessionId"):
            principal = self.auth_service.authenticate_request(
                session_id=msg["sessionId"]
            )
            auths = set(principal.effective_auths)
        if op in ("create", "add", "remove", "close"):
            sub_id = msg.get("subscriptionId")
            if not sub_id:
                # SubscriptionRequest.validate
                raise ValueError("Subscription ID is required.")
            if op == "create":
                mgr.create(sub_id)
            elif op == "add":
                mgr.add(
                    sub_id,
                    msg["metric"],
                    tags=msg.get("tags") or None,
                    start_time_ms=int(msg.get("startTime") or 0),
                    end_time_ms=int(msg.get("endTime") or 0),
                    # the reference scans subscriptions under the
                    # session's auths (MetricScanner); no auth layer =
                    # unfiltered, preserving the bare-transport contract
                    viz_auths=(
                        set(auths or ()) if self.auth_service is not None else None
                    ),
                    viz_exprs=(
                        self.engine.catalog.viz()
                        if self.auth_service is not None
                        else None
                    ),
                    delay_seconds=(
                        int(msg["delayTime"]) / 1000.0
                        if msg.get("delayTime")
                        else None
                    ),
                )
            elif op == "remove":
                mgr.remove(sub_id, msg["metric"])
            else:
                mgr.close(sub_id)
            return None
        # full-API ops: the request object unwraps into the message
        # (MetricRequest/QueryRequest/... @WebSocket annotations)
        eng = self.engine
        if op == "put":
            eng.put_json([{k: v for k, v in msg.items() if k != "operation"}])
            return None  # fire-and-forget, like the TCP put path
        if op == "query":
            body = {k: v for k, v in msg.items() if k != "operation"}
            return {"responses": eng.query(body, auths=auths)}
        if op == "suggest":
            return {
                "suggestions": eng.suggest(
                    msg.get("m") or msg.get("q") or "",
                    kind=msg.get("type", "metrics"),
                    max_results=int(msg.get("max", 25)),
                    tag=msg.get("t"),
                )
            }
        if op == "lookup":
            return eng.lookup(
                msg.get("query") or msg.get("metric") or "",
                msg.get("tags") or {},
                int(msg.get("limit", 25)),
            )
        if op == "aggregators":
            return {"aggregators": eng.aggregators()}
        if op == "version":
            return {"version": eng.version()}
        if op == "cache":
            return eng.cache_status()
        if op == "metrics":
            return {"metrics": eng.metrics()}
        raise ValueError(f"unknown operation {op!r}")
