"""The benchmark's workloads: named op lists over the engine's public entry
points, each with the reason it exists.

An op is one unit a user waits for: building a query and running it.  Every
op runs as construct → (plan, traced runs only) → action inside the
caller's tracer spans, and returns the frames whose rows the correctness
gate compares with the DuckDB oracle named by ``Op.oracle``.
"""

from __future__ import annotations

import http.client
import json
import os
import urllib.parse
from dataclasses import dataclass
from typing import Callable

DATA_PLANE = (
    # Structured Streaming drains
    "stream_tumbling_window",  # stateless event-time window
    "stream_stateful_running_totals",  # applyInPandasWithState Python loop
    "stream_wait_notify_join",  # stream-stream join state
    # wire protocol round trips, egress beside ingress
    "put_ftp_roundtrip",
    "invoke_http_enrich",
    "consume_imap_mailbox",
)
WIRE_IO = DATA_PLANE[3:]
MEGA_FLOW = os.path.join("tests", "fixtures", "mega_flow.json")
DEPLOY_OUTPUT = "OrdersAgg.byStatus"


@dataclass(frozen=True)
class Op:
    name: str
    oracle: str  # registry ORACLES key the op's outputs must match
    run: Callable  # (spark, sf_dir, tracer) -> list[DataFrame]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[Op, ...]
    pass_s: float  # run seconds budgeted per timed pass
    warm_passes: int  # untimed passes billed to setup_s
    warm: Callable | None = None  # extra untimed warm-up: (spark, sf_dir)


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _registry_op(name: str) -> Op:
    def run(spark, sf_dir, tr):
        from apache_nifi_spark.registry import QUERIES

        with tr.span("construct"):
            df = QUERIES[name](spark, sf_dir)
        tr.plan(df)
        with tr.span("action"):
            noop_write(df)
        return [df]

    return Op(name, name, run)


def _commit_version(base_url: str, gid: str) -> None:
    u = urllib.parse.urlsplit(base_url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
    try:
        conn.request(
            "POST",
            f"/nifi-api/versions/process-groups/{gid}",
            body=b"{}",
            headers={"Content-Type": "application/json"},
        )
        resp = conn.getresponse()
        resp.read()
        if resp.status != 201:
            raise RuntimeError(f"version commit answered {resp.status}")
    finally:
        conn.close()


def _deploy(spark, sf_dir, tr):
    """Author the mega flow over /nifi-api, start it (compile-on-start),
    commit a version, run its output, then recompile the same flow.json
    directly.  Calls the public functions, so no registry cache hides a
    compile."""
    from apache_nifi_spark.plans.flow_import import run_flow_json
    from apache_nifi_spark.plans.rest_api import (
        NiFiApiServer,
        author_flow_via_api,
        start_group_via_api,
    )

    with open(MEGA_FLOW) as f:
        text = f.read()
    with tr.span("construct"):
        with tr.span("rest.deploy"):
            server = NiFiApiServer(spark, sf_dir)
            try:
                with tr.span("rest.author"):
                    gid = author_flow_via_api(
                        server.url, json.loads(text)["flowContents"]
                    )
                with tr.span("rest.schedule"):
                    start_group_via_api(server.url, gid)
                with tr.span("rest.version_commit"):
                    _commit_version(server.url, gid)
                deployed = server.outputs(gid)[DEPLOY_OUTPUT]
            finally:
                server.stop()
        with tr.span("flow_import.recompile"):
            direct = run_flow_json(spark, sf_dir, text)[DEPLOY_OUTPUT]
    tr.plan(deployed)
    with tr.span("action"):
        noop_write(deployed)
    return [deployed, direct]


def _warm_compile(spark, sf_dir, times: int = 8) -> None:
    """The flow compile keeps speeding up for several calls after the first
    deploy; direct recompiles warm it far cheaper than whole deploys."""
    from apache_nifi_spark.plans.flow_import import run_flow_json

    with open(MEGA_FLOW) as f:
        text = f.read()
    for _ in range(times):
        run_flow_json(spark, sf_dir, text)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "data_plane",
            "Streaming micro-batches, state stores and wire-protocol sockets "
            "dominate; no REST or flow compile, so it is the control for "
            "control-plane changes.",
            tuple(_registry_op(n) for n in DATA_PLANE),
            pass_s=10.0,
            warm_passes=2,
        ),
        Workload(
            "flow_deploy",
            "Driver-bound control plane: REST authoring of the mega flow, "
            "compile-on-start and a direct recompile; executors nearly idle, "
            "no streaming or wire ops.",
            (Op("mega_flow_deploy", "mega_flow_orders_pipeline", _deploy),),
            pass_s=9.0,
            warm_passes=1,
            warm=_warm_compile,
        ),
    )
}
