"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Runs on a small generated data set (sf 0.001) and exits non-zero on the
first failed assertion:

1. Full-result timing: for every operation the benchmark times, the
   digest action's optimized plan holds one hash with one argument per
   column of ``df.columns``, so no output column can be pruned.
2. Trace reduction: a traced session runs one batch entry and one
   streaming entry; the reducer must report every per-layer key, link
   Spark jobs and streaming progress to them, and the build and action
   spans must cover at least ``1 - COVER_TOL`` of each operation span.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.001
# Share of an operation span its build and action children may leave
# uncovered: the rest is the persist-registry release and storage probe
# after the action.
COVER_TOL = 0.10


def check_plans(spark, data_dir: str) -> None:
    from alibaba_cppfeaturestore_spark.operators.ranks import release_persisted
    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
    from perfbench.checks import hashed_columns
    from perfbench.workloads import CORPUS_DEDUP, FEATURE_PIPELINE, WINDOW_ENTRY

    for name in [*FEATURE_PIPELINE, *CORPUS_DEDUP, WINDOW_ENTRY]:
        df = QUERIES[name].spark(spark, data_dir)
        args = hashed_columns(df)
        assert len(args) == len(df.columns), f"{name}: hash of {args} vs columns {df.columns}"
        release_persisted()
        print(f"ok  plan  {name}: {len(args)} columns hashed")


def check_trace(work: str, data_dir: str) -> None:
    from perfbench.checks import Oracle
    from perfbench.runner import start_session
    from perfbench.trace import LAYER_METRICS, ProgressListener, Tracer, reduce_layers
    from perfbench.workloads import WINDOW_ENTRY, Client

    batch_op = "heavy_hitter_tokens"  # exercises the Arrow boundary too
    event_dir = os.path.join(work, "events")
    spark, _ = start_session(work, event_dir)
    listener = ProgressListener()
    spark.streams.addListener(listener)
    oracle = Oracle(data_dir, os.path.join(work, "oracle-cache"))
    client = Client(spark, Tracer(), data_dir, work, 0, oracle)
    for name in (batch_op, WINDOW_ENTRY):
        assert client.entry(name, check=True), client.errors
    client.tracer = Tracer(spark.sparkContext)
    client.probe_storage = True
    with client.tracer.span("selftest", "pass"):
        for name in (batch_op, WINDOW_ENTRY):
            assert client.entry(name), client.errors
    time.sleep(2)  # let progress reports reach the listener
    spark.stop()
    oracle.close()
    log = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")][0]
    spans = client.tracer.spans
    out = reduce_layers(spans, log, listener.progress, {
        k: 1.0 for k in ("session.start_s", "mem.peak_rss_mb", "jvm.gc_s", "jvm.jit_cpu_s",
                         "trace.overhead_frac", "streaming.online_store_bytes")})
    missing = [k for k in LAYER_METRICS if k not in out]
    assert not missing, f"reducer lacks {missing}"
    for key in ("operators.stages", "operators.run_s", "sources.scan_rows",
                "functions.arrow_bytes_sent", "streaming.batches", "streaming.state_rows"):
        assert out[key] > 0, f"{key} = {out[key]}: nothing linked to the traced spans"
    by_id = {s["id"]: s for s in spans}
    for op in (s for s in spans if s["kind"] == "op"):
        kids = [s for s in spans if s["parent"] == op["id"] and s["kind"] in ("build", "action")]
        covered = sum(s["end"] - s["start"] for s in kids)
        total = op["end"] - op["start"]
        assert covered >= (1 - COVER_TOL) * total, (
            f"{op['name']}: build+action cover {covered:.3f} s of {total:.3f} s")
        assert by_id[op["parent"]]["kind"] == "pass"
        print(f"ok  trace {op['name']}: build+action cover {covered / total:.1%} of the op span")
    print(f"ok  trace reducer reports all {len(LAYER_METRICS)} per-layer keys")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import _environment

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"selftest-{os.getpid()}")
    _environment(work)
    from perfbench import data
    from perfbench.runner import start_session, stop_jvm

    try:
        data_dir = data.seeded_copy(data.base_dataset(base, SF), 0, os.path.join(work, "data"))
        spark, _ = start_session(work)
        check_plans(spark, data_dir)
        spark.stop()
        check_trace(work, data_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
