"""The one wire-server base (``streaming/wire_server.py``): every in-process
server binds, accepts and stops through it, with ``TCP_NODELAY`` and an
idle timeout on each accepted socket — and no module grows its own
accept loop again."""

from __future__ import annotations

import ast
import logging
import os
import socket
import threading
import time

import pytest

from apache_nifi_spark.streaming import wire_server

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "apache_nifi_spark")


# ------------------------------------------------------------ lifecycle ---


def _landing(tmp):
    return str(tmp / "landing")


def _s2s(tmp):
    from apache_nifi_spark.streaming.s2s_wire import SiteToSiteServer
    from apache_nifi_spark.streaming.tls import generate_self_signed

    owner = SiteToSiteServer(_landing(tmp), *generate_self_signed(str(tmp / "tls")))
    return owner._srv, owner.stop


def _ssh(tmp):
    from apache_nifi_spark.sources.ssh_transport import SshServer, make_host_key

    owner = SshServer(make_host_key()[0], {"spark": "graft"}, {})
    return owner._srv, owner.stop


def _entered(make_owner):
    def make(tmp):
        owner = make_owner(tmp).__enter__()
        return owner._server, lambda: owner.__exit__(None, None, None)

    return make


def _http_landing(tmp):
    from apache_nifi_spark.streaming.listen import HttpLandingListener

    return HttpLandingListener(_landing(tmp))


def _web_service(tmp):
    from apache_nifi_spark.streaming.web_service import HttpRequestResponseService

    return HttpRequestResponseService(None, lambda df: df, "x int")


def _owned(module, name, *args, attr="_srv"):
    def make(tmp):
        import importlib

        cls = getattr(importlib.import_module(f"apache_nifi_spark.{module}"), name)
        owner = cls(*(a(tmp) if callable(a) else a for a in args))
        return getattr(owner, attr), owner.stop

    return make


SERVERS = {
    "map_cache": _owned("streaming.map_cache", "MapCacheServer"),
    "kafka": _owned("streaming.kafka_wire", "MiniKafkaBroker"),
    "amqp": _owned("streaming.amqp_wire", "MiniAmqpBroker", _landing),
    "stomp": _owned("streaming.stomp", "MiniStompBroker", _landing),
    "websocket": _owned("streaming.websocket", "WebSocketLandingServer", _landing),
    "s2s": _s2s,
    "relp": _owned("streaming.relp", "RelpLandingListener", _landing),
    "redis": _owned("streaming.redis_wire", "MiniRedisServer"),
    "smtp": _owned("streaming.smtp", "MiniSmtpServer", _landing),
    "mqtt": _owned("streaming.mqtt", "MiniMqttBroker", _landing),
    "mongo": _owned("sources.mongo_wire", "MiniMongoServer", _landing),
    "ssh": _ssh,
    "imap": _owned("sources.imap", "MiniImapServer"),
    "pop3": _owned("sources.imap", "MiniPop3Server"),
    "ftp": _owned("sources.ftp", "MiniFtpServer", _landing),
    "tcp_landing": _owned("streaming.listen", "TcpLandingListener", _landing),
    "http_landing": _entered(_http_landing),
    "elastic": _owned("streaming.elastic_store", "MiniElasticServer", _landing,
                      attr="_server"),
    "metrics": _owned("plans.prometheus", "MetricsEndpoint"),
    "schema_registry": _owned("sources.schema_registry", "MiniSchemaRegistry"),
    "web_service": _entered(_web_service),
    "nifi_api": _owned("plans.rest_api", "NiFiApiServer", None, "/nonexistent",
                       attr="_server"),
}


def _server_threads() -> set[threading.Thread]:
    return {
        t for t in threading.enumerate()
        if "serve_forever" in t.name or "process_request_thread" in t.name
    }


def _wait(cond, timeout: float = 3.0) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(0.02)
    return cond()


@pytest.mark.parametrize("name", sorted(SERVERS))
def test_server_lifecycle(name, tmp_path):
    before = _server_threads()
    srv, stop = SERVERS[name](tmp_path)
    port = srv.port
    assert port > 0

    # read TCP_NODELAY back from the socket the base's get_request hands
    # to the handler (the same hook tls.wrap_listener wraps)
    nodelay = []
    plain = srv.get_request

    def spy():
        conn, addr = plain()
        nodelay.append(conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        return conn, addr

    srv.get_request = spy
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=5):
            assert _wait(lambda: nodelay)
        assert nodelay[0] != 0
    finally:
        t0 = time.perf_counter()
        stop()
        took = time.perf_counter() - t0
    assert took < 0.5, f"stop() took {took:.2f} s"
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=2).close()
    assert _wait(lambda: not (_server_threads() - before)), (
        f"threads left alive: {_server_threads() - before}"
    )


# ---------------------------------------------------------- idle reaping ---


def test_idle_raw_connection_is_dropped_with_one_log_line(
    monkeypatch, caplog, capsys
):
    monkeypatch.setattr(wire_server, "IDLE_TIMEOUT_S", 0.5)
    handlers = []

    def serve(conn):
        handlers.append(threading.current_thread())
        conn.recv(1)  # the client never sends: times out

    srv = wire_server.TcpServer(serve).start()
    try:
        with caplog.at_level(logging.WARNING, logger=wire_server.__name__):
            with socket.create_connection(("127.0.0.1", srv.port), timeout=5) as c:
                t0 = time.perf_counter()
                assert c.recv(1) == b""  # the server closed it
                waited = time.perf_counter() - t0
            assert _wait(lambda: handlers and not handlers[0].is_alive())
    finally:
        srv.stop()
    assert 0.3 < waited < 2.0, waited
    lines = [r.getMessage() for r in caplog.records
             if r.name == wire_server.__name__]
    assert len(lines) == 1 and "TimeoutError" in lines[0], lines
    assert "Traceback" not in capsys.readouterr().err


@pytest.mark.parametrize("name", ["redis", "metrics"])
def test_idle_owner_connection_is_dropped(name, tmp_path, monkeypatch):
    # redis: a raw _serve that blocked forever on an idle client;
    # metrics: an HTTP/1.1 keep-alive handler between requests
    monkeypatch.setattr(wire_server, "IDLE_TIMEOUT_S", 0.5)
    before = _server_threads()
    srv, stop = SERVERS[name](tmp_path)
    try:
        with socket.create_connection(("127.0.0.1", srv.port), timeout=5) as c:
            if name == "metrics":
                c.sendall(b"GET /metrics HTTP/1.1\r\nHost: x\r\n\r\n")
                assert c.recv(65536).startswith(b"HTTP/1.1 200")
            t0 = time.perf_counter()
            assert c.recv(1) == b""
            waited = time.perf_counter() - t0
        assert waited < 2.0, waited
        assert _wait(lambda: not {
            t for t in _server_threads() - before
            if "process_request_thread" in t.name
        })
    finally:
        stop()


# ------------------------------------------------------------------- stop ---


def test_stop_wakes_the_accept_loop(tmp_path, caplog):
    """``stop()`` returns at once instead of waiting out the 0.2 s poll,
    and the self-connect that wakes the loop reaches no handler: no log
    line, not even from a TLS-wrapped listener's handshake."""
    import statistics
    import types

    from apache_nifi_spark.streaming.tls import (
        generate_self_signed,
        server_context,
        wrap_listener,
    )

    ctx = server_context(*generate_self_signed(str(tmp_path / "tls")))
    served = []

    def make(i):
        if i % 3 == 0:
            return wire_server.HttpServer(wire_server.HttpHandler)
        srv = wire_server.TcpServer(served.append)
        if i % 3 == 2:
            wrap_listener(types.SimpleNamespace(_srv=srv), ctx)
        return srv

    before = _server_threads()
    took = []
    with caplog.at_level(logging.DEBUG):
        for i in range(20):
            srv = make(i).start()
            t0 = time.perf_counter()
            srv.stop()
            took.append(time.perf_counter() - t0)
        assert _wait(lambda: not (_server_threads() - before))
    assert statistics.median(took) < 0.02, took
    assert not served
    assert not caplog.records, [r.getMessage() for r in caplog.records]


# ----------------------------------------------------------------- guard ---

_SERVER_CLASSES = {"ThreadingHTTPServer", "ThreadingTCPServer", "HTTPServer",
                   "TCPServer"}
_LISTEN_CALLS = {"listen", "create_server"}
#: FTP's passive-mode data socket: one listener per transfer, opened and
#: accepted inside the control connection's handler
_ALLOWED = {("sources/ftp.py", "create_server")}


def test_no_server_plumbing_outside_the_base():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py") or fn == "wire_server.py":
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                what = None
                if isinstance(node, ast.FunctionDef) and node.name == "_accept_loop":
                    what = "_accept_loop"
                elif isinstance(node, ast.Name) and node.id in _SERVER_CLASSES:
                    what = node.id
                elif isinstance(node, ast.Attribute) and node.attr in _SERVER_CLASSES:
                    what = node.attr
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _LISTEN_CALLS
                    and (rel, node.func.attr) not in _ALLOWED
                ):
                    what = node.func.attr
                if what:
                    offenders.append(f"{rel}:{node.lineno} {what}")
    assert not offenders, (
        "server plumbing belongs in streaming/wire_server.py: " + ", ".join(offenders)
    )
