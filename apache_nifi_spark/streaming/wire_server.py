"""One base for every in-process wire server: the Listen*/Put* protocol
peers, the ``/nifi-api`` REST plane and the staged test endpoints.

Each protocol module keeps only its protocol logic; the socket plumbing
they all share lives here, on the stdlib ``socketserver`` /
``http.server`` threading servers:

- bind (``127.0.0.1:0`` unless the owner passes its own host/port),
  ``SO_REUSEADDR``, and a 128-deep accept backlog — executor partitions
  connect in bursts, one per partition, and the stdlib backlog of 5
  refuses part of a 32-way burst;
- ``TCP_NODELAY`` on every accepted socket.  Request/response protocols
  write small back-to-back segments; on a persistent connection Nagle
  holds the second until the first is ACKed while the peer's delayed
  ACK waits for more data — a ~40 ms stall per request (measured 44 ms
  without, 0.3 ms with).  It is set in ``get_request``, so a
  ``tls.wrap_listener`` wrap, which wraps ``get_request``, keeps it;
- an idle timeout (``IDLE_TIMEOUT_S``) on every accepted socket, so an
  idle keep-alive or raw client cannot hold a handler thread until the
  server stops;
- daemon connection threads, a ``port`` property, and ``stop()`` —
  ``shutdown()`` plus ``server_close()``.  The accept loop keeps the
  stdlib's 0.2 s poll (idle servers wake rarely), but ``shutdown()``
  wakes it with a self-connect, so ``stop()`` returns at once instead of
  waiting out the poll;
- one ``logging`` line per failed connection instead of the stdlib's
  traceback on stderr.

A raw-socket protocol passes its ``serve(conn)`` callable as the
handler; a ``socketserver`` handler class is passed as-is, and HTTP
handlers subclass ``HttpHandler`` (HTTP/1.1 keep-alive, so every
response must carry Content-Length).

The client side shares the same two pieces: ``dial`` connects with
``TCP_NODELAY`` (``nodelay`` sets it on a stdlib client's socket), and
``read_exact`` reads a fixed-size field off a binary file object.
"""

from __future__ import annotations

import contextlib
import http.server
import logging
import selectors
import socket
import socketserver
import sys
import threading

__all__ = [
    "IDLE_TIMEOUT_S",
    "HttpHandler",
    "HttpServer",
    "TcpServer",
    "WireOwner",
    "dial",
    "nodelay",
    "read_exact",
]

#: seconds an accepted connection may sit without a byte before the
#: server drops it (a read past it raises ``TimeoutError``)
IDLE_TIMEOUT_S = 60.0

_log = logging.getLogger(__name__)


def nodelay(sock: socket.socket) -> socket.socket:
    """``TCP_NODELAY`` on ``sock`` (see the module docstring for why)."""
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


def dial(host: str, port: int, timeout: float) -> socket.socket:
    """A client connection with ``TCP_NODELAY`` set."""
    return nodelay(socket.create_connection((host, port), timeout=timeout))


def read_exact(f, n: int) -> bytes:
    """Exactly ``n`` bytes from the binary file object ``f`` (a socket's
    ``makefile("rb")``); ``ConnectionError`` if the peer closes first."""
    data = f.read(n)
    while len(data) < n:
        more = f.read(n - len(data))
        if not more:
            raise ConnectionError(f"short read: {len(data)} of {n} bytes")
        data += more
    return data


class _RawHandler(socketserver.BaseRequestHandler):
    """Hands the accepted socket to the owner's ``serve(conn)``."""

    def handle(self) -> None:
        self.server.serve_conn(self.request)


class _WireServer:
    """Mixin over a stdlib threading server; see the module docstring."""

    allow_reuse_address = True
    daemon_threads = True
    request_queue_size = 128

    def __init__(self, handler, host: str = "127.0.0.1", port: int = 0):
        if not isinstance(handler, type):  # a raw serve(conn) callable
            self.serve_conn, handler = handler, _RawHandler
        self._stopping = False
        self._stopped = threading.Event()
        self._stopped.set()
        super().__init__((host, port), handler)

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start(self):
        self._stopped.clear()
        threading.Thread(target=self.serve_forever, daemon=True).start()
        return self

    def serve_forever(self, poll_interval: float = 0.2) -> None:
        """The stdlib accept loop, ended by ``shutdown``'s wake."""
        try:
            with selectors.PollSelector() as sel:
                sel.register(self, selectors.EVENT_READ)
                while not self._stopping:
                    if sel.select(poll_interval) and not self._stopping:
                        self._handle_request_noblock()
        finally:
            self._stopped.set()

    def shutdown(self) -> None:
        """Ends the accept loop without waiting out its poll: a self-connect
        wakes it, and the loop exits without accepting that connection, so
        no handler (nor a ``tls.wrap_listener`` handshake) runs for it."""
        self._stopping = True
        with contextlib.suppress(OSError):
            socket.create_connection(self.server_address[:2], timeout=1).close()
        self._stopped.wait()

    def stop(self) -> None:
        """After ``start()``: ends the accept loop, closes the listener."""
        self.shutdown()
        self.server_close()

    def get_request(self):
        conn, addr = super().get_request()
        nodelay(conn).settimeout(IDLE_TIMEOUT_S)
        return conn, addr

    def handle_error(self, request, client_address) -> None:
        owner = getattr(self, "serve_conn", self.RequestHandlerClass)
        _log.warning(
            "%s: connection from %s:%s ended: %r",
            owner.__qualname__, *client_address[:2], sys.exc_info()[1],
        )


class TcpServer(_WireServer, socketserver.ThreadingTCPServer):
    pass


class HttpServer(_WireServer, http.server.ThreadingHTTPServer):
    pass


class HttpHandler(http.server.BaseHTTPRequestHandler):
    """Keep-alive handler base: under the stdlib's HTTP/1.0 every pooled
    client request paid a fresh TCP connect and a new server thread."""

    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True

    def log_message(self, *args) -> None:  # no per-request stderr line
        pass


class WireOwner:
    """``port`` and ``stop`` for a class holding its server as ``_srv``."""

    _srv: _WireServer

    @property
    def port(self) -> int:
        return self._srv.port

    def stop(self) -> None:
        self._srv.stop()
