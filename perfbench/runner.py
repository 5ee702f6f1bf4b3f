"""One benchmark run: inputs, session, warm-up, timed window, and for a
traced run a second window under tracing and its per-layer reduction."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import time

import duckdb
import pyspark

from alibaba_cppfeaturestore_spark.session import get_spark

from . import data
from .checks import Oracle
from .cpu import ReferenceSort
from .trace import LAYER_METRICS, ProgressListener, Tracer, dir_bytes, peak_rss_mb, reduce_layers
from .workloads import OP_NAMES, Client, measure, op_latencies, summary, warm_up

E2E_UNITS = {"setup_s": "s", "pass_cpu_ref": "x"}
OP_UNITS = {
    **{f"op.{n}.p50_s": "s" for n in OP_NAMES},
    "op.online_lookup.p90_s": "s",
    **{f"op.{n}.rows_out": "count" for n in OP_NAMES},
}


def start_session(work: str, event_dir: str | None = None):
    """``get_spark`` with every directory inside ``work``; with
    ``event_dir``, an uncompressed single-file event log goes there."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # all JIT compiler threads live as long as the JVM, so their CPU
        # time can be told apart from the engine's (perfbench/cpu.py)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _p(xs: list[float], q: float) -> float:
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]) if len(xs) > 1 else (
        xs[0] if xs else 0.0)


def _per_op(spans: list[dict]) -> dict[str, float]:
    out = {k: 0.0 for k in OP_UNITS}
    lat = op_latencies(spans)
    for name, xs in lat.items():
        out[f"op.{name}.p50_s"] = statistics.median(xs)
    out["op.online_lookup.p90_s"] = _p(lat.get("online_lookup", []), 90)
    for s in spans:
        if s["kind"] == "op" and "rows" in s:
            out[f"op.{s['name']}.rows_out"] = s["rows"]
    return out


def _restart(client: Client, work: str, event_dir: str | None = None):
    """Give the client a fresh session (the JVM stays up)."""
    client.spark.stop()
    spark, _ = start_session(work, event_dir)
    client.spark = spark
    client.stream = None
    return spark


def _traced_window(client: Client, workload: str, work: str, start_s: float,
                   jvm_pid: int, artifacts: str) -> dict[str, float]:
    """One untraced pass and one traced pass, each in a fresh session so
    both pay the same restart costs (new Python workers, empty plan
    memos); the traced session has the event log, job groups and a
    progress listener on. Returns the reduced per-layer table."""
    _restart(client, work)
    baseline = measure(client, workload, 0)["passes"][0]
    event_dir = os.path.join(work, "events")
    spark = _restart(client, work, event_dir)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    client.tracer = Tracer(spark.sparkContext)
    client.probe_storage = True
    gc0, jit0 = _jvm_gc_s(spark), client.cpu_s()[1]
    window = measure(client, workload, 0)
    gc_s, jit_s = _jvm_gc_s(spark) - gc0, client.cpu_s()[1] - jit0
    if hasattr(client, "store"):
        client.check_store()
    # progress reports reach the listener asynchronously
    deadline = time.time() + 10
    seen = -1
    while len(listener.progress) != seen and time.time() < deadline:
        seen = len(listener.progress)
        time.sleep(0.5)
    spark.stop()  # closes the event log
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
    extra = {
        "session.start_s": start_s,
        "mem.peak_rss_mb": peak_rss_mb(jvm_pid),
        "jvm.gc_s": gc_s,
        "jvm.jit_cpu_s": jit_s,
        "trace.overhead_frac": window["passes"][0] / baseline - 1.0,
        "streaming.online_store_bytes": float(dir_bytes(client.store.path)) if hasattr(client, "store") else 0.0,
    }
    layers = reduce_layers(client.tracer.spans, logs[0], listener.progress, extra)
    client.tracer.write(f"{artifacts}-spans.json")
    shutil.copy(logs[0], f"{artifacts}-eventlog.json")
    with open(f"{artifacts}-progress.json", "w") as f:
        json.dump(listener.progress, f)
    return {**layers, **_per_op(client.tracer.spans)}


def run_workload(workload: str, seed: int, seconds: float, trace: bool,
                 base: str, work: str, sf: float, artifacts: str) -> dict:
    """Run one workload; a traced run also writes its spans, event log and
    streaming progress to files named ``artifacts`` + a suffix."""
    t_run = time.perf_counter()
    data_dir = data.seeded_copy(data.base_dataset(base, sf), seed, os.path.join(work, "data"))
    oracle = Oracle(data_dir, os.path.join(base, "oracle-cache"))
    phases = {"inputs_s": time.perf_counter() - t_run}
    try:
        spark, start_s = start_session(work)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        provenance = {
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
        }
        client = Client(spark, Tracer(), data_dir, work, seed, oracle)
        t, c0 = time.perf_counter(), client.check_s
        warm_up(client, workload)
        setup_s = start_s + time.perf_counter() - t - (client.check_s - c0)
        phases.update(start_s=start_s, warm_up_s=time.perf_counter() - t, checks_s=client.check_s - c0)
        detail = {"warm_up_op_s": {k: sum(v) for k, v in op_latencies(client.tracer.spans).items()}}
        if trace:
            metrics = _traced_window(client, workload, work, start_s, jvm_pid, artifacts)
            units = {**LAYER_METRICS, **OP_UNITS}
        else:
            n_warm = len(client.tracer.spans)
            steal0, total0 = _cpu_ticks()
            window = measure(client, workload, seconds, ReferenceSort(spark._jvm))
            steal1, total1 = _cpu_ticks()
            if workload == "online_stream":
                client.check_store()
            figures = summary(window)
            metrics, units = {"setup_s": setup_s, **figures}, E2E_UNITS
            lat = op_latencies(client.tracer.spans[n_warm:])
            detail.update(
                pass_cpu_s=figures["pass_cpu_s"], pass_p50_s=figures["pass_p50_s"],
                ops_per_s=figures["ops_per_s"],
                passes_s=window["passes"], passes_cpu_s=window["cpus"], jits_s=window["jits"],
                sorts_s=window["sorts"],
                window_wall_s=window["wall_s"], window_busy_s=window["busy_s"],
                # share of CPU time the hypervisor took from this host
                window_steal_frac=(steal1 - steal0) / max(1, total1 - total0),
                op_p50_s={k: statistics.median(v) for k, v in lat.items()},
                op_samples={k: len(v) for k, v in lat.items()},
            )
            if "online_lookup" in lat:
                detail["read_p90_s"] = _p(lat["online_lookup"], 90)
        phases["through_window_s"] = time.perf_counter() - t_run
    finally:
        stop_jvm()
        oracle.close()
    phases["total_s"] = time.perf_counter() - t_run
    return {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        "provenance": provenance,
        "errors": client.errors,
        "detail": {**detail, "setup_s": setup_s, "phases": phases},
    }
