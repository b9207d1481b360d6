"""Echo server — the reference's own test oracle re-implemented
(echoserver/echoserver.go:18-101): any route returns a JSON echo of the
request with the RequestEcho field order {time, id, remote_ip, host,
method, uri, user_agent, status, headers, request_body}; optional
per-request delay; stderr body-dump per request.

Stdlib ThreadingHTTPServer — used by the CLI subcommand
(`python -m ganda_spark echoserver`) and the http-fetch integration tests.

Test hooks (beyond the reference, for deterministic failure injection):
  /status/<code>          → responds with that status, empty body
  /flaky/<n>/<anything>   → 500 for the first n hits of that path, then 200

Options mirroring reference transport features:
  gzip_responses=True → gzip the payload when the client sent
    Accept-Encoding: gzip (echoserver/echoserver.go:42-44 serves gzip; Go
    clients auto-decompress — ours must too)
  tls=True → HTTPS with a generated self-signed cert (requires the
    `cryptography` package; raises RuntimeError otherwise) — exercises the
    client's ssl path incl. -k/--insecure (requests/requests.go:33-38)
"""

from __future__ import annotations

import gzip as _gzip
import json
import threading
import time
from collections import defaultdict
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _request_echo(handler: "EchoHandler", body: bytes) -> dict:
    return {
        "time": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "id": "",
        "remote_ip": handler.client_address[0],
        "host": handler.headers.get("Host", ""),
        "method": handler.command,
        "uri": handler.path,
        "user_agent": handler.headers.get("User-Agent", ""),
        "status": 200,
        "headers": {k: v for k, v in handler.headers.items()},
        "request_body": body.decode("utf-8", errors="replace"),
    }


class EchoHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "ganda-spark-echo"
    # headers and body are separate writes: Nagle would hold each on ACK
    disable_nagle_algorithm = True
    delay_millis = 0
    flaky_counts: dict[str, int] = defaultdict(int)
    hits: dict[str, int] = defaultdict(int)
    flaky_lock = threading.Lock()
    silent = True

    gzip_responses = False

    def _respond(self, status: int, payload: bytes) -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json; charset=UTF-8")
        if (
            self.gzip_responses
            and payload
            and "gzip" in (self.headers.get("Accept-Encoding") or "")
        ):
            payload = _gzip.compress(payload)
            self.send_header("Content-Encoding", "gzip")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _handle(self) -> None:
        if self.delay_millis > 0:  # echoserver.go:47-50
            time.sleep(self.delay_millis / 1000.0)
        with self.flaky_lock:  # test hook: per-path request counter
            self.hits[self.path] += 1
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length) if length else b""

        parts = self.path.lstrip("/").split("/")
        if parts and parts[0] == "status" and len(parts) >= 2 and parts[1].isdigit():
            self._respond(int(parts[1]), b"")
            return
        if parts and parts[0] == "flaky" and len(parts) >= 2 and parts[1].isdigit():
            with self.flaky_lock:
                self.flaky_counts[self.path] += 1
                hit = self.flaky_counts[self.path]
            if hit <= int(parts[1]):
                self._respond(500, b"")
                return

        payload = json.dumps(_request_echo(self, body), separators=(",", ":")).encode()
        self._respond(200, payload)

    do_GET = do_POST = do_PUT = do_DELETE = do_PATCH = do_HEAD = _handle
    do_OPTIONS = do_TRACE = _handle

    def log_message(self, fmt, *args):  # stderr dump only when not silent
        if not self.silent:
            super().log_message(fmt, *args)


def _self_signed_ssl_context():
    """Server-side SSLContext with a freshly generated self-signed cert for
    127.0.0.1. Gated on the `cryptography` package (import-try — not a
    hard dependency of the engine)."""
    try:
        import datetime
        import ipaddress

        from cryptography import x509
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import rsa
        from cryptography.x509.oid import NameOID
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "tls=True needs the 'cryptography' package to generate a "
            "self-signed certificate"
        ) from exc
    import ssl
    import tempfile

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, "127.0.0.1")])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (
        x509.CertificateBuilder()
        .subject_name(name)
        .issuer_name(name)
        .public_key(key.public_key())
        .serial_number(x509.random_serial_number())
        .not_valid_before(now - datetime.timedelta(days=1))
        .not_valid_after(now + datetime.timedelta(days=1))
        .add_extension(
            x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.IPv4Address("127.0.0.1"))]
            ),
            critical=False,
        )
        .sign(key, hashes.SHA256())
    )
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    with tempfile.NamedTemporaryFile(suffix=".pem", delete=False) as f:
        f.write(
            key.private_bytes(
                serialization.Encoding.PEM,
                serialization.PrivateFormat.TraditionalOpenSSL,
                serialization.NoEncryption(),
            )
        )
        f.write(cert.public_bytes(serialization.Encoding.PEM))
        pem_path = f.name
    ctx.load_cert_chain(pem_path)
    return ctx


class Echoserver:
    """Start/stop wrapper mirroring echoserver.Echoserver's shutdown fn."""

    def __init__(self, port: int = 0, delay_millis: int = 0, silent: bool = True,
                 gzip_responses: bool = False, tls: bool = False):
        handler = type(
            "BoundEchoHandler",
            (EchoHandler,),
            {"delay_millis": delay_millis, "silent": silent,
             "gzip_responses": gzip_responses,
             "flaky_counts": defaultdict(int), "hits": defaultdict(int),
             "flaky_lock": threading.Lock()},
        )
        self._handler = handler
        self.server = ThreadingHTTPServer(("127.0.0.1", port), handler)
        self.scheme = "http"
        if tls:
            ctx = _self_signed_ssl_context()
            self.server.socket = ctx.wrap_socket(
                self.server.socket, server_side=True
            )
            self.scheme = "https"
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> "Echoserver":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()

    def shutdown(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def url_for(self, path: str) -> str:
        return f"{self.scheme}://127.0.0.1:{self.port}/{path.lstrip('/')}"

    @property
    def hits(self) -> dict[str, int]:
        """Per-path request counts (test hook: duplicate-request detector)."""
        return dict(self._handler.hits)
