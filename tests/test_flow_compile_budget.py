"""py4j round-trip budget of a warm mega-flow compile.

Processors build their expressions as Spark SQL text, so each one reaches
the JVM in a few DataFrame calls instead of three round trips per ``F.*``
Column builder.  The budgets are about half of what the Column-built
compiler made (1,995 plain, 2,963 with counters and provenance).
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from py4j.java_gateway import GatewayClient

from apache_nifi_spark.plans.flow_import import run_flow

MEGA = os.path.join(os.path.dirname(__file__), "fixtures", "mega_flow.json")


def _round_trips(monkeypatch, compile_once) -> int:
    """py4j commands the calling thread sends during ``compile_once()``
    (py4j's garbage-collection deletes go out on another thread)."""
    caller = threading.get_ident()
    calls = [0]
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        if threading.get_ident() == caller:
            calls[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    compile_once()
    return calls[0]


@pytest.mark.parametrize(
    "mode, budget",
    [("plain", 1001), ("counters+provenance", 1484)],
)
def test_mega_flow_compile_round_trips(spark, sf_dir, monkeypatch, mode, budget):
    with open(MEGA) as f:
        flow = json.load(f)
    kwargs = {"counters": {}, "provenance": {}} if mode != "plain" else {}
    run_flow(spark, sf_dir, flow, **kwargs)  # warm: fixture scans, schemas
    n = _round_trips(monkeypatch, lambda: run_flow(spark, sf_dir, flow, **kwargs))
    assert n <= budget, f"{mode} compile made {n} py4j round trips (budget {budget})"
