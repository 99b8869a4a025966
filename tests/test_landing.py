"""The one landing owner (``streaming/listen.Landing``): every received
record becomes a landed file through it, a query waits on its
in-process count, and no protocol module grows its own writer, client
dial or exact read again."""

from __future__ import annotations

import ast
import os
import socket
import sys
import threading
import time

import pytest

from apache_nifi_spark.streaming.listen import TcpLandingListener

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "apache_nifi_spark")


# -------------------------------------------------------------- Landing ---


def test_wait_returns_once_records_land_from_another_thread(tmp_path):
    from apache_nifi_spark.streaming.listen import Landing

    landing = Landing(str(tmp_path / "z"), ".log")

    def writer():
        for i in range(5):
            time.sleep(0.01)
            landing.land_lines([b"a%d" % i, b"b%d" % i])

    t = threading.Thread(target=writer)
    t.start()
    landing.wait(10, timeout=5)
    t.join()
    names = sorted(os.listdir(landing.dir))
    assert len(names) == 5 and all(n.endswith(".log") for n in names)
    assert [n.split("_")[0] for n in names] == [f"{i:08d}" for i in range(1, 6)]


def test_wait_raises_when_short(tmp_path):
    from apache_nifi_spark.streaming.listen import Landing

    landing = Landing(str(tmp_path / "z"), ".json")
    landing.land(b"{}")
    t0 = time.perf_counter()
    with pytest.raises(TimeoutError, match="landed 1 of 2"):
        landing.wait(2, timeout=0.2)
    assert time.perf_counter() - t0 < 2


def test_no_reader_sees_a_temp_file(tmp_path):
    """Readers list the directory the way the file source does (dot
    files skipped) while bodies land; every file they see is whole."""
    from apache_nifi_spark.streaming.listen import Landing

    landing = Landing(str(tmp_path / "z"), ".msg")
    body = b"x" * (256 * 1024)
    n = 40
    seen, bad = set(), []
    done = threading.Event()

    def reader():
        while not done.is_set():
            for name in os.listdir(landing.dir):
                if name.startswith(".") or name in seen:
                    continue
                with open(os.path.join(landing.dir, name), "rb") as f:
                    if f.read() != body:
                        bad.append(name)
                seen.add(name)

    readers = [threading.Thread(target=reader) for _ in range(2)]
    for r in readers:
        r.start()
    for _ in range(n):
        landing.land(body, prefix="p__")
    landing.wait(n, timeout=5)
    done.set()
    for r in readers:
        r.join()
    assert not bad, bad
    names = os.listdir(landing.dir)
    assert len(names) == n and all(nm.startswith("p__") for nm in names)


def test_tcp_listener_sequences_are_distinct_under_concurrent_connections(tmp_path):
    """The file name carries the arrival sequence downstream order
    reconstruction relies on: concurrent connections, each landing on
    its own handler thread, must never share one.  A line tracer that
    yields the GIL at every line of the listener module makes each
    unguarded read-modify-write between two lines a real interleaving
    (the GIL alone switches threads too rarely to show it)."""
    listen_py = sys.modules[TcpLandingListener.__module__].__file__

    def yield_every_line(frame, event, arg):
        if frame.f_code.co_filename != listen_py:
            return None
        if event == "line":
            time.sleep(0)
        return yield_every_line

    interval = sys.getswitchinterval()
    landing = str(tmp_path / "z")
    listener = TcpLandingListener(landing)
    n = 32
    go = threading.Barrier(n)

    def client(i):
        with socket.create_connection(("127.0.0.1", listener.port), timeout=10) as c:
            c.sendall(b"line %d\n" % i)
            go.wait()  # every connection reaches EOF at once

    sys.setswitchinterval(1e-6)
    threading.settrace(yield_every_line)
    try:
        clients = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            names = [nm for nm in os.listdir(landing) if not nm.startswith(".")]
            if len(names) >= n:
                break
            time.sleep(0.02)
    finally:
        threading.settrace(None)
        sys.setswitchinterval(interval)
        listener.stop()
    assert len(names) == n
    seqs = [int(nm.split("_")[0]) for nm in names]
    assert len(set(seqs)) == n, sorted(seqs)


# ---------------------------------------------------------------- guard ---


def _wire_modules():
    """Every module that serves or speaks a wire protocol: it imports the
    wire-server base."""
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            wire = any(
                isinstance(n, ast.ImportFrom)
                and (n.module or "").endswith("streaming.wire_server")
                for n in ast.walk(tree)
            )
            yield os.path.relpath(path, PKG), tree, wire


def _outside(tree, owner: str):
    """Nodes of ``tree`` outside the class named ``owner``."""
    skip = {
        id(n)
        for c in ast.walk(tree)
        if isinstance(c, ast.ClassDef) and c.name == owner
        for n in ast.walk(c)
    }
    return [n for n in ast.walk(tree) if id(n) not in skip]


def _called(node) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return None


def test_no_landing_or_dial_plumbing_outside_the_owners():
    offenders = []
    for rel, tree, wire in _wire_modules():
        nodes = _outside(tree, "Landing")
        if wire:
            for node in nodes:
                if _called(node) in ("rename", "replace") and isinstance(
                    node.func.value, ast.Name
                ) and node.func.value.id == "os":
                    offenders.append(f"{rel}:{node.lineno} os.{node.func.attr}")
                elif (
                    isinstance(node, ast.AugAssign)
                    and isinstance(node.target, ast.Attribute)
                    and node.target.attr == "_seq"
                ):
                    offenders.append(f"{rel}:{node.lineno} hand-kept _seq")
                elif isinstance(node, ast.FunctionDef):
                    calls = {_called(n) for n in ast.walk(node)}
                    if {"uuid4", "open"} <= calls:
                        offenders.append(f"{rel}:{node.lineno} {node.name} writes "
                                         "uuid-named files")
        if os.path.basename(rel).startswith("registry"):
            for node in nodes:
                if isinstance(node, ast.While) and any(
                    isinstance(n, ast.Name) and n.id == "deadline"
                    for n in ast.walk(node.test)
                ) and any(
                    _called(n) in ("glob", "listdir") for n in ast.walk(node)
                ):
                    offenders.append(f"{rel}:{node.lineno} deadline poll over a "
                                     "landing dir")
        if rel != os.path.join("streaming", "wire_server.py"):
            for node in nodes:
                if isinstance(node, ast.Attribute) and node.attr == "TCP_NODELAY":
                    offenders.append(f"{rel}:{node.lineno} TCP_NODELAY")
                elif isinstance(node, ast.FunctionDef) and node.name.endswith(
                    "read_exact"
                ):
                    offenders.append(f"{rel}:{node.lineno} def {node.name}")
    assert not offenders, (
        "land through streaming/listen.Landing and wait on its count; dial "
        "and read through streaming/wire_server (dial, nodelay, read_exact): "
        + ", ".join(offenders)
    )
