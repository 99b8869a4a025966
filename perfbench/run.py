"""The repo benchmark: one workload of the engine, measured end to end.

Run from the root of a checkout:

    python3 perfbench/run.py --workload data_plane --seed 1 --seconds 20 --trace 0

It generates its input tables from ``--seed`` (``perfbench/datagen.py``),
starts one SparkSession at ``local[<cpus>]``, runs an untimed warm-up pass
(billed to ``setup_s``), then times ``round(--seconds / pass_s)`` passes over
the workload's ops, the op order of each permuted by the seed.  Every op's
output is then checked, untimed, against its DuckDB oracle.  The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The line before it is a ``{"perfbench": ...}`` summary with sample counts,
the chosen tail percentile, per-op medians, failed ops with their exception
classes, and (traced runs) span self times and the tracing overhead.
perfbench/METRICS.md lists the workloads and every metric.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from spans recorded around calls into each layer, py4j
counts, an uncompressed event log, GC MXBean deltas and a
StreamingQueryListener.  Traced runs alternate untraced and traced passes;
the per-layer numbers come from the traced ones and the difference of the
two medians is the tracing overhead.  Spans are written to
``.perfbench_out/spans-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import functools  # noqa: E402
import glob  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import MEGA_FLOW, WIRE_IO, WORKLOADS  # noqa: E402

SHUFFLE_PARTITIONS = 4
STREAM_PHASES = {
    "trigger_s": "triggerExecution",
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "get_batch_s": "getBatch",
    "latest_offset_s": "latestOffset",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}


def process_start() -> float:
    """Wall-clock start of this process, from /proc (falls back to import)."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return T_IMPORT


def proc_kb(path: str, key: str) -> int:
    """The ``<key>:  N kB`` field of a /proc status-style file."""
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"{key} not in {path}")


def size_run(root: str) -> str:
    """Cores, driver heap and a per-run temp root; returns the temp root."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(8192, proc_kb("/proc/meminfo", "MemTotal") // 4 // 1024))
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench_tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    # Keep the JVMs (the launcher's too) from writing under /tmp.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = jvm_opts
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return tmp


def check_oracle_module(root: str):
    """The repo's differential checker (duck_con / compare), imported as-is."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def tmp_leftovers(tmp: str) -> tuple[int, float]:
    """(count, MB) of engine ``anspark_*`` entries left in the temp root."""
    n, size = 0, 0
    for path in glob.glob(os.path.join(tmp, "anspark_*")):
        n += 1
        if os.path.isdir(path):
            for d, _, files in os.walk(path):
                for f in files:
                    with contextlib.suppress(OSError):
                        size += os.lstat(os.path.join(d, f)).st_size
        else:
            size += os.lstat(path).st_size
    return n, size / 2**20


def open_fds(pid) -> int:
    try:
        return len(os.listdir(f"/proc/{pid}/fd"))
    except OSError:
        return 0


def epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class RestTimer(tr.Hook):
    """Client-side latency of every /nifi-api request made through
    ``rest_api._call`` (authoring and scheduling both go through it)."""

    def __init__(self):
        super().__init__()
        self.samples: list[tuple[float, str, str, float, bool]] = []

    def targets(self):
        from apache_nifi_spark.plans import rest_api

        return [(rest_api, "_call")]

    def wrap(self, orig):
        samples = self.samples

        @functools.wraps(orig)
        def _call(conn, method, path, *a, **kw):
            t0, ok = time.perf_counter(), False
            try:
                out = orig(conn, method, path, *a, **kw)
                ok = True
                return out
            finally:
                samples.append((time.time(), method, path, time.perf_counter() - t0, ok))

        return _call


class CompileTimer(tr.Hook):
    """Time and py4j calls inside ``flow_import.run_flow``, the compile
    behind both compile-on-start and the direct recompile."""

    def __init__(self, py4j: tr.Py4jCounter):
        super().__init__()
        self.py4j = py4j
        self.samples: list[tuple[float, float, int]] = []

    def targets(self):
        from apache_nifi_spark.plans import flow_import, rest_api

        return [(flow_import, "run_flow"), (rest_api, "run_flow")]

    def wrap(self, orig):
        timer = self

        @functools.wraps(orig)
        def run_flow(*a, **kw):
            w0, t0, c0 = time.time(), time.perf_counter(), timer.py4j.calls
            try:
                return orig(*a, **kw)
            finally:
                timer.samples.append(
                    (w0, time.perf_counter() - t0, timer.py4j.calls - c0)
                )

        return run_flow


def run_pass(spark, sf_dir, ops, tracer, record, observe=None):
    """Run each op once, in the given order.  Every attempt is recorded;
    a failure is never retried."""
    for op in ops:
        if observe:
            observe(None)
        tracer.op_id = len(record)
        w0, t0 = time.time(), time.perf_counter()
        err = outs = None
        try:
            outs = op.run(spark, sf_dir, tracer)
        except Exception as e:  # noqa: BLE001 — counted, reported, not retried
            err = type(e).__name__
            traceback.print_exc(file=sys.stderr)
        rec = {"op": op.name, "start": w0, "end": time.time(),
               "lat": time.perf_counter() - t0, "error": err, "outs": outs}
        record.append(rec)
        if observe:
            observe(rec)


def check_outputs(cho, sf_dir, ops, last_outs) -> tuple[int, int, dict]:
    """Untimed: compare each op's last outputs with its oracle."""
    from apache_nifi_spark.registry import ORACLES

    con = cho.duck_con(sf_dir)
    checked = ok = 0
    problems = {}
    for op in ops:
        checked += 1
        outs = last_outs.get(op.name)
        if not outs:
            problems[op.name] = "no successful run"
            continue
        try:
            want = con.execute(ORACLES[op.oracle]).df()
            bad = []
            for df in outs:
                bad += cho.compare(op.oracle, df.toPandas(), want)
        except Exception as e:  # noqa: BLE001
            bad = [f"EXCEPTION {type(e).__name__}: {str(e)[:200]}"]
        if bad:
            problems[op.name] = "; ".join(p[:200] for p in bad)
        else:
            ok += 1
    con.close()
    return checked, ok, problems


def layer_metrics(ctx) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the traced timed passes, per pass."""
    timed = ctx["traced_ops"]
    passes = max(ctx["traced_passes"], 1)
    windows = [(r["start"], r["end"]) for r in timed]
    spans = ctx["tracer"].spans
    by_op = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    op_ids = {r["op_id"] for r in timed}
    tspans = [s for s in spans if s.op in op_ids]

    def span_sum(name):
        return sum(s.end - s.start for s in tspans if s.name == name)

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (ctx["session_start_s"], "s")
    m["registry.construct_s"] = (span_sum("construct") / passes, "s/pass")
    m["py4j.calls"] = (sum(r["py4j_calls"] for r in timed) / passes, "count/pass")
    m["py4j.s"] = (sum(r["py4j_s"] for r in timed) / passes, "s/pass")
    m["catalyst.plan_s"] = (span_sum("plan") / passes, "s/pass")

    ev = ctx["events"]
    task_idx = tr.attribute([t["t"] for t in ev["tasks"]], windows)
    tasks = [t for t, i in zip(ev["tasks"], task_idx) if i is not None]
    n_jobs = sum(i is not None for i in tr.attribute([j["t"] for j in ev["jobs"]], windows))
    n_stages = sum(
        i is not None for i in tr.attribute([s["t"] for s in ev["stages"]], windows)
    )
    m["exec.jobs"] = (n_jobs / passes, "count/pass")
    m["exec.stages"] = (n_stages / passes, "count/pass")
    m["exec.tasks"] = (len(tasks) / passes, "count/pass")
    for key, unit, scale, metric in (
        ("run_s", "s/pass", 1.0, "exec.task_run_s"),
        ("deser_s", "s/pass", 1.0, "exec.task_deser_s"),
        ("sched_delay_s", "s/pass", 1.0, "exec.sched_delay_s"),
        ("input_b", "MB/pass", 2**-20, "exec.input_mb"),
        ("shuffle_read_b", "MB/pass", 2**-20, "exec.shuffle_read_mb"),
        ("shuffle_write_b", "MB/pass", 2**-20, "exec.shuffle_write_mb"),
        ("spill_b", "MB/pass", 2**-20, "exec.spill_mb"),
    ):
        m[metric] = (sum(t[key] for t in tasks) * scale / passes, unit)
    wall = sum(r["end"] - r["start"] for r in timed)
    m["exec.busy_ratio"] = (
        sum(t["run_s"] for t in tasks) / (wall * ctx["cpus"]) if wall else 0.0,
        "ratio",
    )
    m["jvm.gc_s"] = (sum(r["gc_s"] for r in timed) / passes, "s/pass")
    m["jvm.gc_count"] = (sum(r["gc_n"] for r in timed) / passes, "count/pass")

    progs = ctx["progress"]
    p_idx = tr.attribute([epoch(p["timestamp"]) for p in progs], windows)
    tprogs = [(p, i) for p, i in zip(progs, p_idx) if i is not None]
    m["stream.queries"] = (len({p["runId"] for p, _ in tprogs}) / passes, "count/pass")
    m["stream.batches"] = (len(tprogs) / passes, "count/pass")
    m["stream.input_rows"] = (
        sum(p.get("numInputRows", 0) for p, _ in tprogs) / passes, "count/pass"
    )
    for metric, key in STREAM_PHASES.items():
        m[f"stream.{metric}"] = (
            sum(p.get("durationMs", {}).get(key, 0) for p, _ in tprogs) / 1000.0 / passes,
            "s/pass",
        )
    trig_by_op: dict[int, float] = {}
    last_state: dict[str, tuple[int, float]] = {}
    commit_ms = 0.0
    for p, i in tprogs:
        trig_by_op[i] = trig_by_op.get(i, 0.0) + p.get("durationMs", {}).get(
            "triggerExecution", 0
        ) / 1000.0
        ops = p.get("stateOperators") or []
        commit_ms += sum(o.get("commitTimeMs", 0) for o in ops)
        rows = sum(o.get("numRowsTotal", 0) for o in ops)
        mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
        prev = last_state.get(p["runId"], (0, 0.0))
        last_state[p["runId"]] = (rows, max(prev[1], mem))
    m["stream.start_stop_s"] = (
        sum(timed[i]["lat"] - trig for i, trig in trig_by_op.items()) / passes,
        "s/pass",
    )
    m["stream.state_rows"] = (sum(r for r, _ in last_state.values()) / passes, "count/pass")
    m["stream.state_commit_s"] = (commit_ms / 1000.0 / passes, "s/pass")
    m["stream.state_mem_mb"] = (
        sum(b for _, b in last_state.values()) / 2**20 / passes, "MB/pass"
    )

    c_idx = tr.attribute([w for w, _, _ in ctx["compiles"]], windows)
    comp = [c for c, i in zip(ctx["compiles"], c_idx) if i is not None]
    m["flow_import.compile_s"] = (sum(c[1] for c in comp) / passes, "s/pass")
    m["flow_import.py4j_calls"] = (sum(c[2] for c in comp) / passes, "count/pass")

    r_idx = tr.attribute([s[0] for s in ctx["rest"]], windows)
    reqs = [s for s, i in zip(ctx["rest"], r_idx) if i is not None]
    lat_ms = [s[3] * 1000.0 for s in reqs]
    m["rest.requests"] = (len(reqs) / passes, "count/pass")
    m["rest.errors"] = (sum(not s[4] for s in reqs) / passes, "count/pass")
    m["rest.create_processor_ms"] = (
        tr.median([s[3] * 1000.0 for s in reqs if s[2].endswith("/processors")]), "ms"
    )
    m["rest.create_connection_ms"] = (
        tr.median([s[3] * 1000.0 for s in reqs if s[2].endswith("/connections")]), "ms"
    )
    m["rest.req_p50_ms"] = (tr.median(lat_ms), "ms")
    m["rest.req_tail_ms"] = (tr.tail(lat_ms)[1] if lat_ms else 0.0, "ms")
    m["rest.deploy_s"] = (
        tr.median([s.end - s.start for s in tspans if s.name == "rest.deploy"]), "s"
    )
    m["rest.schedule_s"] = (span_sum("rest.schedule") / passes, "s/pass")
    m["rest.version_commit_ms"] = (
        tr.median([(s.end - s.start) * 1000 for s in tspans if s.name == "rest.version_commit"]),
        "ms",
    )
    for name in WIRE_IO:
        m[f"wire.{name}_s"] = (
            tr.median([r["lat"] for r in timed if r["op"] == name]), "s"
        )
    m["wire.threads_live"] = (max(r["threads"] for r in timed), "count")
    m["fs.fds_open"] = (max(r["fds"] for r in timed), "count")
    m["mem.peak_rss_mb"] = (ctx["peak_rss_mb"], "MB")
    m["tmp.dirs_left"] = (ctx["tmp_left"][0], "count")
    m["tmp.mb_left"] = (ctx["tmp_left"][1], "MB")
    m["trace.overhead_s"] = (ctx["overhead_s"], "s/pass")
    cover = []
    for r in timed:
        top = [s for s in by_op.get(r["op_id"], []) if s.parent is None]
        cover.append(sum(s.end - s.start for s in top) / (r["end"] - r["start"]))
    m["trace.span_coverage"] = (min(cover) if cover else 0.0, "ratio")
    return m


def span_self_times(ctx) -> dict[str, float]:
    """Self time per pass of each span name over the traced timed ops."""
    spans = ctx["tracer"].spans
    selfs = tr.self_times(spans)
    op_ids = {r["op_id"] for r in ctx["traced_ops"]}
    out: dict[str, float] = {}
    for s in spans:
        if s.op in op_ids:
            out[s.name] = out.get(s.name, 0.0) + selfs[s.id] / max(ctx["traced_passes"], 1)
    return {k: round(v, 4) for k, v in sorted(out.items())}


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="input scale factor")
    ap.add_argument("--warm-passes", type=int, default=None,
                    help="override the workload's untimed warm-up passes")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "apache_nifi_spark", "registry.py"))
            and os.path.isfile(os.path.join(root, MEGA_FLOW))
            and os.path.isfile(os.path.join(root, "tools", "check_oracle.py"))):
        print("perfbench: run from the root of an apache_nifi_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = size_run(root)
    try:
        return measure(args, wl, root, tmp, t_proc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, ".perfbench_tmp"))


def measure(args, wl, root, tmp, t_proc) -> int:
    traced = bool(args.trace)
    sf_dir = datagen.write(os.path.join(tmp, "data", f"sf{args.sf:g}"), args.seed, args.sf)
    cho = check_oracle_module(root)
    from apache_nifi_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(tmp, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    session_start_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    try:
        return measure_session(args, wl, spark, sf_dir, tmp, cho, t_proc,
                               session_start_s, traced)
    finally:
        spark.stop()
        # The driver JVM exits when its stdin closes; wait for it (and so
        # for the Python workers it started) before returning.
        jvm.stdin.close()
        jvm.wait(timeout=120)


def retained_mb(spark) -> float:
    """Memory the driver still holds after the timed passes: JVM heap in use
    after a full GC plus the Python driver's resident set."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = mx.getHeapMemoryUsage().getUsed()
    with open("/proc/self/statm") as f:
        rss = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    return (heap + rss) / 2**20


def measure_session(args, wl, spark, sf_dir, tmp, cho, t_proc, session_start_s,
                    traced) -> int:
    spark.sparkContext.setLogLevel("ERROR")
    # Small-input scan config, as bench.py: one task per fixture scan.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    spark.conf.set("spark.sql.files.openCostInBytes", "64m")
    rng = random.Random(args.seed)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    py4j = tr.Py4jCounter()
    tracer = tr.Tracer(py4j)
    null = tr.NullTracer()
    rest, compiles = RestTimer(), CompileTimer(py4j)
    listener = None
    if traced:
        listener = tr.ProgressListener()
        spark.streams.addListener(listener.listener)

    record: list[dict] = []
    warm = wl.warm_passes if args.warm_passes is None else args.warm_passes
    for _ in range(warm):
        run_pass(spark, sf_dir, wl.ops, null, record)
    if warm and wl.warm:
        wl.warm(spark, sf_dir)
    n_warm = len(record)
    setup_s = time.time() - t_proc

    # A fixed pass count per (workload, --seconds), so every run of a
    # workload takes the same number of samples.  Traced runs alternate
    # untraced and traced passes.
    n_passes = max(1 + traced, round(args.seconds / wl.pass_s))
    pass_s: list[float] = []  # traced passes only, on a traced run
    untraced_pass_s: list[float] = []
    traced_ops: list[dict] = []
    snap = {}

    def observe(rec):
        """Per-op deltas on traced passes: called before (rec None) and
        after each op, outside its timed window."""
        gc_now, py4j_now = tr.gc_totals(spark), (py4j.calls, py4j.seconds)
        if rec is None:
            snap.update(gc=gc_now, py4j=py4j_now)
            return
        rec.update(
            op_id=tracer.op_id,
            gc_s=gc_now[0] - snap["gc"][0],
            gc_n=gc_now[1] - snap["gc"][1],
            py4j_calls=py4j_now[0] - snap["py4j"][0],
            py4j_s=py4j_now[1] - snap["py4j"][1],
            threads=threading.active_count(),
            fds=open_fds("self") + open_fds(jvm_pid),
        )

    for k in range(n_passes):
        order = list(wl.ops)
        rng.shuffle(order)
        this_traced = traced and k % 2 == 1
        start = len(record)
        hooks = (py4j, rest, compiles) if this_traced else ()
        for h in hooks:
            h.install()
        p0 = time.perf_counter()
        run_pass(spark, sf_dir, order, tracer if this_traced else null, record,
                 observe if this_traced else None)
        elapsed = time.perf_counter() - p0
        for h in hooks:
            h.uninstall()
        if this_traced:
            traced_ops += record[start:]
        (untraced_pass_s if traced and not this_traced else pass_s).append(elapsed)

    timed = traced_ops if traced else record[n_warm:]
    lat = [r["lat"] for r in timed]
    last_outs = {r["op"]: r["outs"] for r in record if r["outs"]}
    memory_mb = None if traced else retained_mb(spark)
    checked, ok, problems = check_outputs(cho, sf_dir, wl.ops, last_outs)
    failures: dict[str, list[str]] = {}
    for r in record:
        if r["error"]:
            failures.setdefault(r["op"], []).append(r["error"])
    attempted = len(record)
    failed = sum(1 for r in record if r["error"])
    tail_label, tail_value = tr.tail(lat)
    per_op: dict[str, list[float]] = {}
    for r in timed:
        per_op.setdefault(r["op"], []).append(r["lat"])

    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "sf": args.sf,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "warm_passes": warm,
        "timed_passes": len(pass_s),
        "op_samples": len(lat),
        "op_tail_percentile": tail_label,
        "op_median_s": {k: round(tr.median(v), 4) for k, v in sorted(per_op.items())},
        "ops_failed_ratio": failed / attempted,
        "results_correct_ratio": ok / checked,
        "failures": failures,
        "wrong_results": problems,
    }
    if traced:
        tr.flush_listener_bus(spark)
        spark.streams.removeListener(listener.listener)
        ctx = {
            "traced_ops": traced_ops,
            "traced_passes": len(pass_s),
            "tracer": tracer,
            "session_start_s": session_start_s,
            "progress": listener.records,
            "compiles": compiles.samples,
            "rest": rest.samples,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "tmp_left": tmp_leftovers(tmp),
            "overhead_s": tr.median(pass_s) - tr.median(untraced_pass_s),
            "peak_rss_mb": (proc_kb(f"/proc/{jvm_pid}/status", "VmHWM")
                            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0,
        }
        spark.stop()
        logs = glob.glob(os.path.join(tmp, "events", "*"))
        ctx["events"] = tr.read_event_log(logs[0]) if logs else {
            "jobs": [], "stages": [], "tasks": []}
        metrics = layer_metrics(ctx)
        summary["untraced_pass_s"] = tr.median(untraced_pass_s)
        summary["traced_pass_s"] = tr.median(pass_s)
        summary["span_self_s_per_pass"] = span_self_times(ctx)
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (tr.median(pass_s), "s"),
            "op_p50_s": (tr.median(lat), "s"),
            "op_tail_s": (tail_value, "s"),
            "retained_mb": (memory_mb, "MB"),
        }
    print(json.dumps({"perfbench": summary}))
    print(json.dumps({
        "correct": ok == checked,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
