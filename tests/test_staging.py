"""The staging owner (apache_nifi_spark/staging.py): one memo per
(stage, sf_dir) for the live Spark application, per-key build locks,
release on a new applicationId, and the guard that keeps it the only
owner of staged state in the registries."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys
import tempfile
import threading
import time
from types import SimpleNamespace

import pytest

from apache_nifi_spark.staging import Owner

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "apache_nifi_spark")


def stub_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def run_with_deadline(fn, seconds=10.0):
    """Run ``fn`` in a daemon thread; fail instead of hanging the suite."""
    box = {}
    t = threading.Thread(target=lambda: box.update(v=fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "stage build deadlocked"
    return box["v"]


def test_concurrent_callers_build_one_key_once():
    owner, spark = Owner(), stub_spark("app-1")
    builds = []

    @owner.staged
    def stage(spark, sf_dir):
        builds.append(sf_dir)
        time.sleep(0.2)  # every caller arrives while the build runs
        return object()

    got = []
    threads = [
        threading.Thread(target=lambda: got.append(stage(spark, "sf")))
        for _ in range(2 * (os.cpu_count() or 1) + 2)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert builds == ["sf"]
    assert len(got) == len(threads) and all(g is got[0] for g in got)


def test_build_staging_another_key_from_a_thread_finishes():
    owner, spark = Owner(), stub_spark("app-1")

    @owner.staged
    def inner(spark, sf_dir):
        return "inner"

    @owner.staged
    def outer(spark, sf_dir):
        # a REST handler thread staging while this build is in flight
        box = {}
        t = threading.Thread(target=lambda: box.update(v=inner(spark, sf_dir)))
        t.start()
        t.join()
        return "outer+" + box["v"]

    assert run_with_deadline(lambda: outer(spark, "sf")) == "outer+inner"


def test_failed_build_is_retried():
    owner, spark = Owner(), stub_spark("app-1")
    calls = []

    @owner.staged
    def flaky(spark, sf_dir):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("port in use")
        return "ok"

    with pytest.raises(RuntimeError):
        flaky(spark, "sf")
    assert flaky(spark, "sf") == "ok"
    assert flaky(spark, "sf") == "ok"
    assert len(calls) == 2


def test_new_application_stops_servers_and_removes_root():
    owner = Owner()
    stopped = []

    class Server:
        def stop(self):
            stopped.append(self)

    @owner.staged
    def server(spark, sf_dir):
        return (Server(), "127.0.0.1", 0)

    old = stub_spark("app-1")
    srv, _, _ = server(old, "sf")
    d = owner.session_dir(old, "landing")
    root = os.path.dirname(d)
    assert os.path.basename(root).startswith("anspark_session_")
    assert os.path.basename(d).startswith("landing_")

    new = stub_spark("app-2")
    srv2, _, _ = server(new, "sf")
    assert stopped == [srv] and srv2 is not srv
    assert not os.path.exists(root)
    new_root = os.path.dirname(owner.session_dir(new, "landing"))
    assert new_root != root
    owner.release()
    assert stopped == [srv, srv2]
    assert not os.path.exists(new_root)


def _module_names(tree):
    for node in tree.body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        for t in targets:
            if isinstance(t, ast.Name):
                yield node.lineno, t.id


def test_staging_is_the_only_owner():
    allowed = {"io.py:_TABLE_CACHE", "registry_analytics.py:_CUST_COUNT_CACHE",
               "skew.py:_PROBE_CACHE"}
    memo = re.compile(r"^_\w*_(STAGE|CACHE)$")
    bad = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read())
        rel = os.path.relpath(path, PKG)
        for lineno, name in _module_names(tree):
            if memo.match(name) and f"{os.path.basename(path)}:{name}" not in allowed:
                bad.append(f"{rel}:{lineno} module-level memo {name}")
        owned = os.path.basename(path).startswith("registry") or rel == os.path.join(
            "streaming", "sources.py")
        if owned:
            for node in ast.walk(tree):
                name = getattr(node, "attr", getattr(node, "id", None))
                if name == "mkdtemp":
                    bad.append(f"{rel}:{node.lineno} mkdtemp (use staging.session_dir)")
                elif (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "id", getattr(node.func, "attr", None))
                    == "generate_self_signed"
                    and not (node.args or node.keywords)
                ):
                    # with no directory it makes its own anspark_tls_* mkdtemp
                    bad.append(f"{rel}:{node.lineno} generate_self_signed() "
                               "(pass it a staging.session_dir)")
    assert not bad, "stage through apache_nifi_spark/staging.py:\n" + "\n".join(bad)


def test_mega2_lands_per_sf_dir(spark):
    import duckdb

    from apache_nifi_spark.registry_flows import _mega2

    landings = {}
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        out = _mega2(spark, sf)["SyslogAgg.agg"]
        dirs = {os.path.dirname(p.removeprefix("file:")) for p in out.inputFiles()}
        assert len(dirs) == 1, dirs
        landings[sf] = landing = dirs.pop()
        n_lines = sum(
            1 for p in glob.glob(f"{landing}/part-*") for ln in open(p) if ln.strip()
        )
        expect = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/events.parquet' WHERE event_id % 33 = 0"
        ).fetchone()[0]
        assert n_lines == expect > 0
        assert out.collect()[0]["n"] == expect
    assert len(set(landings.values())) == 2


def test_drains_remove_their_checkpoints(spark, sf_dir):
    from apache_nifi_spark.streaming import run_to_memory, stream_events

    pattern = os.path.join(tempfile.gettempdir(), "anspark_cp_*")
    before = set(glob.glob(pattern))
    for _ in range(5):
        out = run_to_memory(stream_events(spark, sf_dir).select("event_id"))
        assert out.count() > 0
    assert set(glob.glob(pattern)) <= before


def test_workers_import_package_from_any_cwd(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2",
               TMPDIR=str(tmp_path))
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         "/root/testdata/sf0.001", "stream_stateful_running_totals"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-3000:]
    assert "1 passed, 0 failed" in proc.stdout
