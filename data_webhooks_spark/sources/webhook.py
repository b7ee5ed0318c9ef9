"""Webhook streaming source: an HTTP endpoint as a Spark stream.

A Python DataSource (Spark 4 ``pyspark.sql.datasource``) whose
SimpleDataSourceStreamReader hosts an HTTP server on the driver:
external clients POST payloads; each POST is appended to an in-memory,
offset-addressed ring buffer; micro-batches drain offset ranges.

Envelope schema is payload-agnostic: (offset BIGINT, body STRING) —
downstream queries parse ``body`` with from_json against their topic
schema, which is exactly the schema-on-read webhook model (SURVEY §1.3).

Exactly-once contract (SURVEY §7.3):
- offsets are a monotone integer counter;
- ``read(start)`` serves [start, head) and never drops rows before
  ``commit(end)`` — so ``readBetweenOffsets`` can deterministically
  replay any uncommitted range after a restart;
- backpressure: when the buffer holds more than ``maxBuffer``
  uncommitted rows the server answers 429 and the client retries.

Authentication (optional, ``option("secret", ...)``): HMAC-SHA256
request signing in the GitHub/Stripe webhook style — the producer
sends ``X-Hub-Signature-256: sha256=<hexdigest of HMAC(secret,
raw body bytes)>``; the server recomputes over the exact received
bytes and rejects missing/invalid signatures with 401 BEFORE the
body can enter the offset buffer (a tampered byte changes the
digest, so replayed-but-modified payloads are rejected too).
Comparison is constant-time (hmac.compare_digest). With no secret
configured the endpoint stays open — the test/dev default.

Malformed requests never reach the buffer: a POST without a
Content-Length, or with any Transfer-Encoding, gets 411; a
Content-Length that is not a non-negative integer, or a body that is
not UTF-8, gets 400; a Content-Length above ``MAX_BODY_BYTES`` gets
413 before any read. All but the UTF-8 case also close the connection,
since the body boundary is unknown or the body stays unread.

Scale notes: a single-driver HTTP ingest is the reference shape
(webhook receiver). At 100 TB/day you would front this with a durable
log and use many partition-readers; the DataSource abstraction is the
same — only ``partitions()`` changes. The driver-side simple reader is
the faithful, replayable core.
"""

from __future__ import annotations

import json
import socket
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

WEBHOOK_SCHEMA = "offset bigint, body string"

SIGNATURE_HEADER = "X-Hub-Signature-256"

# Largest accepted body (413 above it); webhook events are ~200 B.
MAX_BODY_BYTES = 1 << 20


def sign_body(secret: str, body: bytes) -> str:
    """GitHub-style signature header value for a raw request body:
    ``sha256=<hex HMAC-SHA256(secret, body)>``."""
    import hashlib
    import hmac

    mac = hmac.new(secret.encode("utf-8"), body, hashlib.sha256)
    return "sha256=" + mac.hexdigest()


def signature_valid(secret: str, body: bytes, header: str | None) -> bool:
    """Constant-time validation of the signature header against the
    received bytes; missing or malformed headers are invalid."""
    import hmac

    if not header:
        return False
    return hmac.compare_digest(sign_body(secret, body), header.strip())


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@dataclass
class _Buffer:
    """Offset-addressed buffer: rows[i] holds offset base+i."""

    base: int = 0
    lock: threading.Lock = None  # type: ignore[assignment]
    rows: list = None  # type: ignore[assignment]

    def __post_init__(self):
        self.lock = threading.Lock()
        self.rows = []

    @property
    def head(self) -> int:
        return self.base + len(self.rows)

    def append(self, body: str, max_buffer: int) -> int | None:
        with self.lock:
            if len(self.rows) >= max_buffer:
                return None  # backpressure
            self.rows.append(body)
            return self.head - 1

    def slice(self, start: int, end: int) -> list[tuple[int, str]]:
        with self.lock:
            lo = max(start, self.base)
            return [
                (off, self.rows[off - self.base]) for off in range(lo, min(end, self.head))
            ]

    def prune(self, upto: int) -> None:
        with self.lock:
            drop = min(max(upto - self.base, 0), len(self.rows))
            if drop:
                self.rows = self.rows[drop:]
                self.base += drop


class WebhookStreamReader(SimpleDataSourceStreamReader):
    """Owns the HTTP server + offset buffer.

    Spark instantiates this class in TWO driver-side Python worker
    processes: the streaming-source runner (which drives
    ``initialOffset``/``read``/``commit`` and prefetches the data) and
    the plan worker (which only pickles a read function; prefetched
    rows travel to executors inside the input partitions). The HTTP
    server must therefore bind *lazily*, on the first offset/read call
    — only the runner makes those calls, so only the runner binds the
    port. Binding eagerly in ``__init__`` double-binds and crashes.
    """

    def __init__(self, options: dict):
        self.port = int(options.get("port", 0)) or free_port()
        self.max_buffer = int(options.get("maxbuffer", 100_000))
        # optional HMAC shared secret; DataSource options arrive
        # lower-cased from Spark
        self.secret = options.get("secret")
        self.buffer: _Buffer | None = None
        self.server = None
        self.thread = None

    def _ensure_server(self) -> None:
        if self.server is not None:
            return
        self.buffer = _Buffer()
        reader = self

        class Handler(BaseHTTPRequestHandler):
            # HTTP/1.1 keep-alive: a webhook producer reuses its
            # connection; per-request TCP setup would dominate ingest.
            protocol_version = "HTTP/1.1"
            # Without TCP_NODELAY, Nagle + delayed ACK stalls each
            # keep-alive response ~40ms — 1000 posts took 47s.
            disable_nagle_algorithm = True

            def _empty(self, status: int, close: bool = False) -> None:
                self.send_response(status)
                if close:  # also sets self.close_connection
                    self.send_header("Connection", "close")
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_POST(self):  # noqa: N802 (http.server API)
                length = self.headers.get("Content-Length")
                if length is None or "Transfer-Encoding" in self.headers:
                    # only length-delimited bodies: reading none here
                    # would ACK an empty body and parse a chunked one
                    # as the next request
                    self._empty(411, close=True)
                    return
                if not (length.isascii() and length.isdigit()):
                    # no trustworthy body boundary: answer and drop the
                    # connection instead of guessing (read(-1) would
                    # block until the client hangs up)
                    self._empty(400, close=True)
                    return
                if int(length) > MAX_BODY_BYTES:
                    self._empty(413, close=True)
                    return
                raw = self.rfile.read(int(length))
                if reader.secret is not None and not signature_valid(
                    reader.secret, raw, self.headers.get(SIGNATURE_HEADER)
                ):
                    # reject BEFORE the buffer: an unsigned/tampered
                    # payload must never get an offset
                    self._empty(401)
                    return
                try:
                    body = raw.decode("utf-8")
                except UnicodeDecodeError:
                    self._empty(400)
                    return
                off = reader.buffer.append(body, reader.max_buffer)
                if off is None:
                    self._empty(429)  # buffer full — retry later
                    return
                payload = json.dumps({"offset": off}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args):  # silence per-request logging
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", self.port), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def __getstate__(self):
        # Server/thread/buffer are process-local and unpicklable; a
        # deserialized copy (executor side) starts with no server and
        # never binds one (it only sees prefetched partition data).
        state = dict(self.__dict__)
        state["buffer"] = None
        state["server"] = None
        state["thread"] = None
        return state

    # --- SimpleDataSourceStreamReader contract ---

    def initialOffset(self) -> dict:
        self._ensure_server()
        return {"offset": 0}

    def read(self, start: dict):
        self._ensure_server()
        start_off = start["offset"]
        end_off = self.buffer.head
        rows = self.buffer.slice(start_off, end_off)
        return iter(rows), {"offset": end_off}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Replay path: rows are retained until commit, so uncommitted
        # ranges are servable within the server-owning process. A
        # process that never bound the server (plan worker / executor)
        # has no buffer — the prefetched partition data covers it.
        if self.buffer is None:
            return iter(())
        return iter(self.buffer.slice(start["offset"], end["offset"]))

    def commit(self, end: dict) -> None:
        if self.buffer is not None:
            self.buffer.prune(end["offset"])

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()


class WebhookDataSource(DataSource):
    """spark.readStream.format("webhook").option("port", N).load()"""

    @classmethod
    def name(cls) -> str:
        return "webhook"

    def schema(self) -> str:
        return WEBHOOK_SCHEMA

    def simpleStreamReader(self, schema) -> WebhookStreamReader:
        return WebhookStreamReader(self.options)


def post_events(
    port: int,
    bodies: list[str],
    timeout_s: float = 60.0,
    secret: str | None = None,
    tamper: bool = False,
) -> int:
    """Test/client helper: POST each body over one keep-alive
    connection; retries on 429 backpressure and on server-not-up;
    returns number of accepted posts. With ``secret`` each request
    carries the HMAC signature header; ``tamper=True`` signs a
    DIFFERENT byte string than the one sent (the
    modified-in-transit case — the server must 401, which is
    terminal, not retried)."""
    import http.client
    import time

    accepted = 0
    deadline = time.time() + timeout_s
    i = 0
    conn: http.client.HTTPConnection | None = None
    while i < len(bodies) and time.time() < deadline:
        try:
            if conn is None:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
            payload = bodies[i].encode()
            headers = {"Content-Type": "application/json"}
            if secret is not None:
                signed = payload + b"X" if tamper else payload
                headers[SIGNATURE_HEADER] = sign_body(secret, signed)
            conn.request("POST", "/", body=payload, headers=headers)
            resp = conn.getresponse()
            resp.read()
            if resp.status == 200:
                accepted += 1
                i += 1
            elif resp.status == 401:
                i += 1  # rejected by signature check — terminal, skip
            elif resp.status == 429:
                time.sleep(0.05)
        except (ConnectionError, OSError):
            if conn is not None:
                conn.close()
            conn = None
            time.sleep(0.05)
    if conn is not None:
        conn.close()
    return accepted


class WebhookCollector:
    """Test/receiver helper for the *delivery* path (sink_webhook): a
    threaded local HTTP endpoint recording every POSTed body. Threaded
    because local-mode executors deliver partitions concurrently —
    exactly like N remote webhook consumers.

    IDEMPOTENT receiver: Spark's foreachBatch delivery is at-least-once
    (a lost response or failed task replays the POST), so the consumer
    must dedupe on the event's natural key — bodies are stored in a
    dict keyed on their JSON ``event_id``; a retried POST overwrites
    instead of double-counting. Bodies without a parseable event_id
    fall back to a unique sequence key (recorded as-is, no dedup
    possible — matching a real consumer's contract that idempotency
    requires an idempotency key).

    ``fail_every=N`` injects the classic duplicate-producing fault for
    tests: every Nth POST is fully processed but answered 500, forcing
    the delivery client to retry a body the receiver already has.
    """

    def __init__(self, fail_every: int = 0):
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        self._by_key: dict = {}
        self._seq = 0
        self._n_posts = 0
        self.n_duplicates = 0  # retried POSTs observed (test introspection)
        self._fail_every = fail_every
        self._lock = threading.Lock()
        collector = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            # Same Nagle+delayed-ACK stall as the ingest server: without
            # this, each keep-alive response waits ~40ms (1000 deliveries
            # measured 46s -> ~1s).
            disable_nagle_algorithm = True

            def do_POST(self):  # noqa: N802 (http.server API)
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode()
                key = None
                try:
                    obj = json.loads(body)
                    if isinstance(obj, dict):
                        key = obj.get("event_id")
                except ValueError:
                    pass
                with collector._lock:
                    collector._n_posts += 1
                    if key is None:
                        key = ("_seq", collector._seq)
                        collector._seq += 1
                    elif key in collector._by_key:
                        collector.n_duplicates += 1
                    # process BEFORE responding — a 500 below models the
                    # "response lost after commit" fault that produces
                    # at-least-once duplicates
                    collector._by_key[key] = body
                    fail = (
                        collector._fail_every
                        and collector._n_posts % collector._fail_every == 0
                    )
                resp = b"ok"
                self.send_response(500 if fail else 200)
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    @property
    def bodies(self) -> list[str]:
        with self._lock:
            return list(self._by_key.values())

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def deliver_partition(port: int, rows, max_retries: int = 3) -> None:
    """Executor-side webhook delivery for one partition: one keep-alive
    connection, bounded retries with backoff, raises on exhaustion so
    the micro-batch fails and replays (at-least-once; exactly-once
    requires an idempotent receiver keyed on event_id)."""
    import http.client
    import json
    import socket
    import time

    conn: http.client.HTTPConnection | None = None
    for row in rows:
        body = json.dumps(row.asDict(), default=str).encode()
        for attempt in range(max_retries + 1):
            try:
                if conn is None:
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
                    conn.connect()
                    conn.sock.setsockopt(
                        socket.IPPROTO_TCP, socket.TCP_NODELAY, 1
                    )
                conn.request(
                    "POST", "/", body=body,
                    headers={"Content-Type": "application/json"},
                )
                resp = conn.getresponse()
                resp.read()
                if resp.status == 200:
                    break
                if resp.status == 429:
                    time.sleep(0.05 * (attempt + 1))
            except (ConnectionError, OSError):
                if conn is not None:
                    conn.close()
                conn = None
                time.sleep(0.05 * (attempt + 1))
        else:
            raise RuntimeError(f"webhook delivery failed after {max_retries} retries")
    if conn is not None:
        conn.close()
