"""HTTP transport facade — the reference's Netty HTTP API over TimelyEngine.

Maps the reference's annotated routes (common/.../api/annotation — each
request class carries ``@Http(path=...)``) onto a stdlib
``ThreadingHTTPServer`` so HttpApiIT-style scenarios run over real HTTP:

    POST /api/put            HttpMetricPutHandler.java:30-43
    POST/GET /api/query      netty/http/timeseries/HttpQueryRequestHandler.java
    GET/POST /api/suggest    HttpSuggestRequestHandler.java
    GET /api/search/lookup   HttpSearchLookupRequestHandler.java
    GET /api/metrics         HttpMetricsRequestHandler.java (JSON + HTML)
    GET /api/aggregators     HttpAggregatorsRequestHandler.java
    GET /api/cache           netty/http/HttpCacheRequestHandler.java
    GET /version             HttpVersionRequestHandler.java (text/plain)

    GET /login               netty/http/auth/X509LoginRequestHandler.java

Transport only: every route delegates to the corresponding TimelyEngine
method, so query semantics (and their oracle checks) live in one place.

Auth: pass an :class:`~timely_spark.auth.AuthenticationService` to serve
the reference's session model — ``GET /login`` authenticates the
two-way-SSL client certificate and sets the ``TSESSIONID`` cookie
(TimelyLoginRequestHandler.java:44-60); authenticated routes resolve
``Authorization`` JWTs, session cookies, or the TLS client cert in the
reference's priority order and fall back to anonymous only when
``allow-anonymous-http-access`` is on (HttpRequestDecoder.java:113-157).
The resolved principal's auths feed visibility filtering. TLS (one- or
two-way) comes from ``ssl_context`` (see :mod:`timely_spark.tls`).
Without an AuthenticationService the legacy per-server ``auths`` /
per-request ``authenticator`` seams apply unchanged.

A query whose SubQuery matches zero series returns HTTP 400
"No matching tags" exactly like DataStore.java:939.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, quote, unquote, urlparse

from .api import NoMatchingTagsError, TimelyEngine
from .auth import AuthenticationService, UnauthorizedError
from .tls import peer_dn_pair

JSON_TYPE = "application/json"  # netty Constants.JSON_TYPE
TEXT_TYPE = "text/plain"
HTML_TYPE = "text/html"
HSTS_HEADER = "Strict-Transport-Security"  # StrictTransportHandler.java:12

log = logging.getLogger(__name__)

# what a route's exception answers with, first match wins; anything else
# is a 500 whose stack trace goes to the log
ERROR_STATUS = (
    (UnauthorizedError, 401),
    ((NoMatchingTagsError, KeyError, ValueError), 400),
)


class CorsConfig:
    """The reference's ``timely.http.cors`` block (CorsProperties.java,
    applied by Netty's CorsHandler in Server.createHttpChannel): origin
    allow-list or any-origin, null-origin, credentials, allowed
    methods/headers. Browser clients (the Grafana datasource) need
    this."""

    def __init__(
        self,
        allow_any_origin: bool = False,
        allowed_origins: list[str] | None = None,
        allow_null_origin: bool = False,
        allow_credentials: bool = False,
        allowed_methods: list[str] | None = None,
        allowed_headers: list[str] | None = None,
        max_age: int = 86400,
    ):
        self.allow_any_origin = allow_any_origin
        self.allowed_origins = set(allowed_origins or ())
        self.allow_null_origin = allow_null_origin
        self.allow_credentials = allow_credentials
        self.allowed_methods = allowed_methods or [
            "DELETE", "GET", "HEAD", "OPTIONS", "PUT", "POST",
        ]
        self.allowed_headers = allowed_headers or ["content-type"]
        self.max_age = max_age

    def origin_allowed(self, origin: str | None) -> bool:
        if origin is None:
            return False
        if origin == "null":
            return self.allow_null_origin
        return self.allow_any_origin or origin in self.allowed_origins

    def response_headers(self, origin: str) -> list[tuple[str, str]]:
        # credentials mode requires echoing the concrete origin
        allow = (
            "*"
            if self.allow_any_origin and not self.allow_credentials
            else origin
        )
        out = [("Access-Control-Allow-Origin", allow)]
        if self.allow_credentials:
            out.append(("Access-Control-Allow-Credentials", "true"))
        return out

    def preflight_headers(self, origin: str) -> list[tuple[str, str]]:
        return self.response_headers(origin) + [
            ("Access-Control-Allow-Methods", ",".join(self.allowed_methods)),
            ("Access-Control-Allow-Headers", ",".join(self.allowed_headers)),
            ("Access-Control-Max-Age", str(self.max_age)),
        ]


def _compact(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":")).encode("utf-8")


def _parse_metric_braces(m: str) -> tuple[str, dict[str, str]]:
    """``metric{k=pat,k2=pat}`` -> (metric, {k: pat}). The lookup/suggest
    ``m=`` shape (SearchLookupRequest.java:24-60). Commas escape as
    ``\\,`` inside keys/values so a regex character class like
    ``r07n0[1\\,3\\,5]`` survives the tag-list split — the reference's
    TagListParser splits on ``(?<!\\\\),`` then unescapes
    (TagListParser.java:20-31, exercised by TagFilterTest's
    testHostRangeRegex)."""
    import re as _re

    if "{" not in m:
        return m, {}
    metric, rest = m.split("{", 1)
    # ONE closing brace: rstrip would also eat a regex quantifier's
    # brace in a value like host=r07n0[0-9]{2}
    rest = rest[:-1] if rest.endswith("}") else rest
    tags: dict[str, str] = {}
    for pair in filter(None, _re.split(r"(?<!\\),", rest)):
        k, _, v = pair.partition("=")
        tags[k.replace("\\,", ",")] = v.replace("\\,", ",")
    return metric, tags


class TimelyHttpServer:
    """Embedded HTTP server over a TimelyEngine.

    ``port=0`` binds an ephemeral port (tests); ``auths=None`` serves
    anonymous requests (empty auth set, fail-closed visibility), matching
    the reference's AnonymousUserDetails default.
    """

    def __init__(
        self,
        engine: TimelyEngine,
        host: str = "127.0.0.1",
        port: int = 0,
        auths=None,
        authenticator=None,
        auth_service: AuthenticationService | None = None,
        ssl_context=None,
        cors: CorsConfig | None = None,
        redirect_path: str = "/secure-me",
        strict_transport_max_age: int = 604800,
        static_root: str | None = None,
        static_prefix: str = "/webapp",
        metrics_ignored_tags: list[str] | None = None,
        max_body_bytes: int = 65536,
    ):
        """``authenticator``: optional per-REQUEST auth source — a callable
        ``(headers: dict) -> set[str] | None`` consulted on every query,
        mirroring the reference's per-session model where
        TimelyAuthenticationManager resolves the client certificate DN /
        session cookie to that user's Accumulo authorizations
        (TimelyAuthenticationManager.java, X509LoginRequestHandler.java).
        ``auth_service`` supersedes it with the real login/JWT/X509
        source (see :mod:`timely_spark.auth`). When neither is set, the
        per-server ``auths`` applies to every request."""
        self.engine = engine
        self.auths = auths
        self.authenticator = authenticator
        self.auth_service = auth_service
        self.cors = cors
        # HttpProperties.redirectPath + strictTransportMaxAge: a request
        # for the redirect path answers 404 with the HSTS header
        # (HttpRequestDecoder.java:87-90 -> StrictTransportHandler.java)
        self.redirect_path = redirect_path
        self.strict_transport_max_age = strict_transport_max_age
        # HttpStaticFileServerHandler.java: GET-only file serving under
        # the /webapp prefix (the UI bundle), traversal-proof
        self.static_root = static_root
        self.static_prefix = static_prefix.rstrip("/")
        # TimelyProperties.getMetricsReportIgnoredTags(): tags hidden from
        # the /api/metrics report (MetricsResponseTestIT.testGenerateHtmlWithIgnoredTags)
        self.metrics_ignored_tags = list(metrics_ignored_tags or [])
        # the reference aggregates HTTP content at 64 KB
        # (HttpObjectAggregator(65536), Server.java:496): oversized
        # bodies answer 413 instead of buffering unboundedly
        self.max_body_bytes = max_body_bytes
        self.tls = ssl_context is not None
        handler = self._make_handler()
        self._httpd = ThreadingHTTPServer((host, port), handler)
        if ssl_context is not None:
            self._httpd.socket = ssl_context.wrap_socket(
                self._httpd.socket, server_side=True
            )
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        scheme = "https" if self.tls else "http"
        return f"{scheme}://{self.host}:{self.port}"

    def start(self) -> "TimelyHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="timely-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)
            self._thread = None

    # ------------------------------------------------------------ handler

    def _make_handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # TCP_NODELAY: a response goes out as two sends (headers, then
            # body), and with Nagle on the body waits for the client's
            # delayed ACK of the headers, about 40 ms per response
            disable_nagle_algorithm = True

            def log_message(self, *args):  # quiet: tests spin many requests
                pass

            # -- plumbing ------------------------------------------------
            def _send(
                self, status: int, body: bytes, ctype: str, extra=()
            ) -> None:
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                # transparent response compression (the reference's
                # HttpContentCompressor, Server.java:494): gzip when the
                # client advertises it and the body is big enough to win
                accept = (self.headers.get("Accept-Encoding") or "").lower()
                if "gzip" in accept and len(body) >= 256 and status == 200:
                    import gzip as _gz

                    body = _gz.compress(body, 6)
                    self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(body)))
                for k, v in extra:
                    self.send_header(k, v)
                origin = self.headers.get("Origin")
                if server.cors is not None and server.cors.origin_allowed(origin):
                    for k, v in server.cors.response_headers(origin):
                        self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def do_OPTIONS(self):  # noqa: N802
                """CORS preflight (Netty CorsHandler semantics: allowed
                origin gets the allow-* set; others get no CORS headers
                and the browser blocks)."""
                origin = self.headers.get("Origin")
                self.send_response(200)
                self.send_header("Content-Length", "0")
                if server.cors is not None and server.cors.origin_allowed(origin):
                    for k, v in server.cors.preflight_headers(origin):
                        self.send_header(k, v)
                self.end_headers()

            def _strict_transport(self) -> bool:
                """GET <redirect-path> -> 404 + HSTS header, telling the
                client to come back over TLS (StrictTransportHandler)."""
                self._send(
                    404,
                    _compact(
                        {
                            "message": "Returning HTTP Strict Transport Security response",
                            "detailMessage": None,
                        }
                    ),
                    JSON_TYPE,
                    extra=[
                        (HSTS_HEADER, f"max-age={server.strict_transport_max_age}")
                    ],
                )
                return True

            def _session_id(self) -> str | None:
                # HttpRequestDecoder.getSessionId: first TSESSIONID cookie
                for h in self.headers.get_all("Cookie") or []:
                    for part in h.split(";"):
                        name, _, val = part.strip().partition("=")
                        if name == AuthenticationService.COOKIE_NAME and val:
                            return unquote(val)
                return None

            def _client_cert_dn(self):
                if hasattr(self.connection, "getpeercert"):
                    return peer_dn_pair(self.connection)
                return None

            def _request_auths(self):
                """Per-request authorization set. An AuthenticationService
                resolves JWT / session cookie / TLS client cert in the
                reference's order; else the header authenticator seam;
                else the per-server default."""
                if server.auth_service is not None:
                    from .auth import (
                        PROXIED_ENTITIES_HEADER,
                        PROXIED_ISSUERS_HEADER,
                    )

                    principal = server.auth_service.enforce_access(
                        auth_header=self.headers.get(
                            AuthenticationService.AUTH_HEADER
                        ),
                        session_id=self._session_id(),
                        client_cert_dn=self._client_cert_dn(),
                        transport="http",
                        proxied_entities=self.headers.get(PROXIED_ENTITIES_HEADER),
                        proxied_issuers=self.headers.get(PROXIED_ISSUERS_HEADER),
                    )
                    return set(principal.effective_auths)
                if server.authenticator is not None:
                    return server.authenticator(dict(self.headers))
                return server.auths

            def _error(self, status: int, message: str) -> None:
                # TimelyException JSON shape (TimelyExceptionHandler)
                self._send(
                    status,
                    _compact({"message": message, "detailMessage": message}),
                    JSON_TYPE,
                )

            class _TooLarge(Exception):
                pass

            def _fail(self, e: Exception) -> None:
                """Answer a route's exception in the TimelyException shape."""
                if isinstance(e, self._TooLarge):
                    # HttpObjectAggregator semantics (Server.java:496):
                    # refuse before buffering; close so the unread body
                    # never parses as a next request
                    self._error(413, f"Request entity too large: {e} bytes")
                    self.close_connection = True
                    return
                for types, status in ERROR_STATUS:
                    if isinstance(e, types):
                        self._error(status, str(e))
                        return
                log.exception("%s %s failed", self.command, self.path)
                self._error(500, str(e))

            def _body_json(self):
                n = int(self.headers.get("Content-Length") or 0)
                if n > server.max_body_bytes:
                    # drain nothing; the reference's aggregator rejects
                    # oversized content with 413 Request Entity Too Large
                    raise self._TooLarge(n)
                raw = self.rfile.read(n) if n else b""
                # transparent request decompression (the reference's
                # HttpContentDecompressor, Server.java:495): collectors
                # POST large put batches gzip/deflate-encoded. The
                # reference places HttpObjectAggregator(65536) AFTER the
                # decompressor (Server.java:494-496), so the 64 KB cap
                # bounds DECOMPRESSED content — enforce the same here or
                # a ~64 KB gzip bomb expands unbounded in memory
                enc = (self.headers.get("Content-Encoding") or "").lower()
                if raw and enc in ("gzip", "deflate"):
                    import zlib as _zl

                    # gzip payloads carry a zlib stream behind an RFC 1952
                    # header; wbits=47 auto-detects zlib vs gzip framing.
                    # RFC 1952 allows CONCATENATED members (appended .gz
                    # batches), so loop decompressobj over unused_data —
                    # the cap bounds the CUMULATIVE inflated size; a
                    # stream that ends mid-member (eof never reached) is
                    # malformed and must not be half-parsed
                    # deflate: Netty's HttpContentDecompressor uses the
                    # non-strict ZLIB_OR_NONE wrapper, which sniffs the
                    # first bytes and accepts RAW deflate alongside
                    # zlib-framed — clients sending raw deflate succeed
                    # against the reference, so retry wbits=-15 on a
                    # zlib header error (ADVICE r7)
                    out, rest = b"", raw
                    while rest:
                        d = _zl.decompressobj(wbits=47 if enc == "gzip" else 15)
                        try:
                            out += d.decompress(
                                rest, server.max_body_bytes + 1 - len(out)
                            )
                        except _zl.error as e:  # corrupt stream -> 400
                            if enc == "deflate" and not out:
                                d = _zl.decompressobj(wbits=-15)
                                try:
                                    out += d.decompress(
                                        rest,
                                        server.max_body_bytes + 1 - len(out),
                                    )
                                except _zl.error as e2:
                                    raise ValueError(
                                        f"bad compressed body: {e2}"
                                    )
                            else:
                                raise ValueError(f"bad compressed body: {e}")
                        if len(out) > server.max_body_bytes:
                            raise self._TooLarge(len(out))
                        if not d.eof:
                            raise ValueError("truncated compressed body")
                        rest = d.unused_data
                        if enc == "deflate":
                            break  # zlib framing has no member concat
                        if rest and not rest.startswith(b"\x1f\x8b"):
                            # trailing padding/garbage after a complete
                            # member (GNU gzip tolerates it; block-aligned
                            # writers zero-pad) — stop, don't 400
                            break
                    raw = out
                return json.loads(raw) if raw else None

            def _params(self, parsed) -> dict[str, str]:
                # keep_blank_values: bare flags like `?ms` arrive as "" and
                # must reach the parser (request.py treats "" as true);
                # default parse_qs drops valueless params entirely
                return {
                    k: v[0]
                    for k, v in parse_qs(
                        parsed.query, keep_blank_values=True
                    ).items()
                }

            # -- dispatch ------------------------------------------------
            def do_GET(self):  # noqa: N802 (stdlib casing)
                parsed = urlparse(self.path)
                if parsed.path == server.redirect_path:
                    self._strict_transport()
                    return
                try:
                    if server.static_root is not None and parsed.path.startswith(
                        server.static_prefix
                    ):
                        self._static(parsed.path)
                        return
                    route = {
                        "/api/query": self._get_query,
                        "/api/suggest": self._suggest,
                        "/api/search/lookup": self._lookup,
                        "/api/metrics": self._metrics,
                        "/api/aggregators": self._aggregators,
                        "/api/cache": self._cache,
                        "/version": self._version,
                        "/login": self._login,
                    }.get(parsed.path)
                    if route is None:
                        self._error(404, f"unknown path {parsed.path}")
                        return
                    route(self._params(parsed))
                except Exception as e:
                    self._fail(e)

            def do_POST(self):  # noqa: N802
                parsed = urlparse(self.path)
                if parsed.path == server.redirect_path:
                    self._strict_transport()
                    return
                try:
                    if parsed.path == "/api/put":
                        self._put(self._body_json())
                    elif parsed.path == "/api/query":
                        self._post_query(self._body_json())
                    elif parsed.path == "/api/suggest":
                        self._suggest(self._body_json() or {})
                    elif parsed.path == "/api/search/lookup":
                        self._post_lookup(self._body_json() or {})
                    else:
                        self._error(404, f"unknown path {parsed.path}")
                except Exception as e:
                    self._fail(e)

            # -- routes --------------------------------------------------
            def _static(self, path: str) -> None:
                """Static file serving under the /webapp prefix
                (HttpStaticFileServerHandler.java:125-205): GET only,
                sanitized path (403 on traversal/hidden), 404 on
                missing, If-Modified-Since -> 304."""
                import email.utils
                import mimetypes
                import os

                rel = path[len(server.static_prefix) :].lstrip("/")
                root = os.path.abspath(server.static_root)
                full = os.path.abspath(os.path.join(root, rel))
                if (
                    not full.startswith(root + os.sep) and full != root
                ) or any(p.startswith(".") for p in rel.split("/") if p):
                    self._error(403, "Forbidden")
                    return
                if os.path.isdir(full):
                    full = os.path.join(full, "index.html")
                if not os.path.isfile(full):
                    self._error(404, "Not Found")
                    return
                mtime = int(os.path.getmtime(full))
                ims = self.headers.get("If-Modified-Since")
                if ims:
                    try:
                        if int(email.utils.parsedate_to_datetime(ims).timestamp()) == mtime:
                            self.send_response(304)
                            self.send_header("Content-Length", "0")
                            self.end_headers()
                            return
                    except (TypeError, ValueError):
                        pass
                with open(full, "rb") as f:
                    body = f.read()
                ctype = mimetypes.guess_type(full)[0] or "application/octet-stream"
                self._send(
                    200,
                    body,
                    ctype,
                    extra=[
                        (
                            "Last-Modified",
                            email.utils.formatdate(mtime, usegmt=True),
                        )
                    ],
                )

            def _login(self, params: dict[str, str]) -> None:
                """GET /login — X509LoginRequestHandler: authenticate the
                two-way-SSL client certificate, mint a session, deliver
                it as the TSESSIONID cookie (TimelyLoginRequestHandler
                .java:44-60; cookie per Constants.COOKIE_NAME)."""
                svc = server.auth_service
                if svc is None:
                    self._error(404, "login is not configured")
                    return
                dn = self._client_cert_dn()
                if dn is None:
                    # X509LoginRequestHandler.java:36 via TimelyException
                    raise UnauthorizedError("No client certificate found")
                session_id, _principal = svc.login(*dn)
                cookie = (
                    f"{AuthenticationService.COOKIE_NAME}={quote(session_id)}"
                    f"; Max-Age={svc.session_max_age}; Path=/; HttpOnly"
                )
                if server.tls:
                    cookie += "; Secure"
                body = b""
                self.send_response(200)
                self.send_header("Content-Type", JSON_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.send_header("Set-Cookie", cookie)
                self.end_headers()
                self.wfile.write(body)

            def _put(self, body) -> None:
                payloads = body if isinstance(body, list) else [body]
                server.engine.put_json(payloads)
                # HttpMetricPutHandler: 200 with empty JSON body
                self._send(200, b"", JSON_TYPE)

            def _post_query(self, body) -> None:
                out = server.engine.query(body, auths=self._request_auths(), strict=True)
                self._send(200, _compact(out), JSON_TYPE)

            def _get_query(self, params: dict[str, str]) -> None:
                # parse_get_query consumes the raw multi-value mapping for
                # repeated m=; re-parse to preserve duplicates
                parsed = urlparse(self.path)
                multi = parse_qs(parsed.query, keep_blank_values=True)
                flat: dict = {
                    k: (v if len(v) > 1 else v[0]) for k, v in multi.items()
                }
                out = server.engine.query_get(flat, auths=self._request_auths(), strict=True)
                self._send(200, _compact(out), JSON_TYPE)

            def _suggest(self, params: dict) -> None:
                self._request_auths()  # SuggestRequest is authenticated
                q = params.get("m") or params.get("q") or ""
                kind = params.get("type", "metrics")
                # the Grafana plugin sends max as a STRING ('1000',
                # TimelyDataSource.ts _performSuggestQuery params)
                max_results = int(params.get("max", 25))
                tag = params.get("t")  # SuggestRequest.java:38 (tagv)
                out = server.engine.suggest(
                    q, kind=kind, max_results=max_results, tag=tag
                )
                self._send(200, _compact(out), JSON_TYPE)

            def _lookup(self, params: dict[str, str]) -> None:
                self._request_auths()  # SearchLookupRequest is authenticated
                m = params.get("m", "")
                limit = int(params.get("limit", 25))
                metric, tags = _parse_metric_braces(m)
                self._send(200, _compact(server.engine.lookup(metric, tags, limit)), JSON_TYPE)

            def _post_lookup(self, body: dict) -> None:
                self._request_auths()
                metric = body.get("metric", "")
                tags = dict(body.get("tags", {}))
                limit = int(body.get("limit", 25))
                self._send(200, _compact(server.engine.lookup(metric, tags, limit)), JSON_TYPE)

            def _metrics(self, params: dict[str, str]) -> None:
                self._request_auths()  # MetricsRequest is authenticated
                accept = self.headers.get("Accept", "")
                rows = server.engine.metrics(
                    ignored_tags=server.metrics_ignored_tags or None
                )
                if JSON_TYPE in accept:
                    self._send(200, _compact({"metrics": rows}), JSON_TYPE)
                    return
                # HTML branch (HttpMetricsRequestHandler.generateHtml)
                body = [
                    "<html><head><title>Timely Metric Availability</title></head>",
                    "<body><table>",
                    "<tr><th>Metric</th><th>Available Tags</th></tr>",
                ]
                for r in rows:
                    tags = " ".join(f"{t['key']}={t['value']}" for t in r["tags"])
                    body.append(f"<tr><td>{r['metric']}</td><td>{tags}</td></tr>")
                body.append("</table></body></html>")
                self._send(200, "\n".join(body).encode("utf-8"), HTML_TYPE)

            def _aggregators(self, params: dict[str, str]) -> None:
                self._request_auths()  # AggregatorsRequest is authenticated
                self._send(200, _compact(server.engine.aggregators()), JSON_TYPE)

            def _cache(self, params: dict[str, str]) -> None:
                self._request_auths()  # CacheRequest is authenticated
                self._send(200, _compact(server.engine.cache_status()), JSON_TYPE)

            def _version(self, params: dict[str, str]) -> None:
                self._send(200, server.engine.version().encode("utf-8"), TEXT_TYPE)

        return Handler
