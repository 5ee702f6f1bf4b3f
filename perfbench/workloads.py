"""The closed-loop workloads, each driven by one client.

Every operation is a span of kind ``op`` with ``build`` and ``action``
children. A batch operation's action is the digest of its full result
(``checks.digest``); its first execution is also collected and compared
with the entry's DuckDB oracle, and every later execution must reproduce
the first digest. Check time is kept out of the timed figures.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from alibaba_cppfeaturestore_spark.operators.joins import online_lookup
from alibaba_cppfeaturestore_spark.operators.ranks import release_persisted
from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES
from alibaba_cppfeaturestore_spark.streaming.pipeline import (
    OnlineStore,
    run_stream_upsert,
    stream_from_parquet,
)

from . import data
from .checks import Oracle, digest, mismatch
from .cpu import ReferenceSort, jit_cpu_s, tree_cpu_s

FEATURE_PIPELINE = [
    "aliccp_bronze_to_silver_e2e", "kv_parse_roundtrip",
    "aliccp_silver_to_gold_e2e", "dict_encode_event_type",
    "feature_store_historical_retrieval", "asof_last_view_before_click",
    "latest_event_per_user", "online_lookup_latest_features",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "join_broadcast_dim_agg", "agg_rollup_order_revenue",
]
CORPUS_DEDUP = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard_indexed",
    "ann_brute_force_topk", "ann_lsh_bucketed_topk", "bm25_topk_retrieval",
    "heavy_hitter_tokens",
]
WINDOW_ENTRY = "stream_tumbling_window_counts"
READS_PER_WRITE = 10
KEYS_PER_READ = 16
WRITES_PER_REFRESH = 5
# Seconds of --seconds that one pass stands for. A window runs
# max(1, seconds // PASS_BUDGET_S) passes: the pass count, and so what a pass
# median covers, depends on --seconds only, never on how fast the program
# under test happens to be. On a 4-core host a pass takes ~14, ~8 and ~5 s
# of wall time; the budgets keep a full measurement round within its time
# limit (perfbench/README.md).
PASS_BUDGET_S = {"feature_pipeline": 14.0, "corpus_dedup": 9.0, "online_stream": 6.0}
BATCH_OPS = {"feature_pipeline": FEATURE_PIPELINE, "corpus_dedup": CORPUS_DEDUP}
WORKLOADS = [*BATCH_OPS, "online_stream"]
# The per-op names of the per-layer table: the operations of the two
# workloads BENCHMARK.json lists. feature_pipeline runs by hand only (its
# runs do not fit the measurement round's time budget, perfbench/README.md);
# its per-op figures are in the result record.
OP_NAMES = [*CORPUS_DEDUP, WINDOW_ENTRY, "run_stream_upsert", "online_lookup"]


class Client:
    """One closed-loop client: runs operations, checks them, keeps counts."""

    def __init__(self, spark, tracer, data_dir: str, work_dir: str, seed: int, oracle: Oracle):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.oracle = oracle
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0
        self.check_cpu_s = 0.0
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.refs: dict[str, tuple[int, int]] = {}
        self.probe_storage = False

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by the engine, JIT compilation excluded
        (the JVM, its Python workers and this client process), and by the
        JVM's JIT compiler threads."""
        jit = jit_cpu_s(self.jvm_pid)
        return tree_cpu_s(self.jvm_pid) - jit + time.process_time(), jit

    @contextmanager
    def checking(self):
        """Charge the wall and CPU time of a check to the check totals,
        which every timed figure leaves out. Checks run in this process."""
        t, c = time.perf_counter(), time.process_time()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t
            self.check_cpu_s += time.process_time() - c

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def _after_op(self, span: dict) -> None:
        if self.probe_storage:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            span["cached_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        span["released"] = release_persisted()

    # -- batch catalog entries --------------------------------------------

    def entry(self, name: str, check: bool = False) -> bool:
        """Build and digest one catalog entry. With ``check`` (the first
        execution) the result is cached, collected and compared with the
        oracle, and its digest becomes the reference that every later
        execution must reproduce."""
        self.attempted += 1
        try:
            with self.tracer.span(name, "op") as op:
                with self.tracer.span(name, "build"):
                    df = QUERIES[name].spark(self.spark, self.data_dir)
                with self.tracer.span(name, "action"):
                    if check:
                        df.persist()
                        got_rows = df.toPandas()
                    got = digest(df)
                    if check:
                        df.unpersist()
                op["rows"] = got[0]
                self._after_op(op)
            with self.checking():
                if check:
                    self.refs[name] = got
                    why = mismatch(got_rows, self.oracle.expected(name))
                elif name not in self.refs:
                    why = "no checked first execution"
                else:
                    why = None if got == self.refs[name] else f"digest {got} != {self.refs[name]}"
        except Exception:
            why = traceback.format_exc(limit=3)[-600:]
        if why:
            self.fail(f"{name}: {why}")
        return not why

    # -- online store ------------------------------------------------------

    def open_store(self) -> None:
        self.landing = os.path.join(self.work_dir, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.store = OnlineStore(
            os.path.join(self.work_dir, "store"), ["user_id"], "ts", tiebreak=["event_id"])
        self.checkpoint = os.path.join(self.work_dir, "checkpoint")
        self.slices = 0
        self.stream = None  # the landing directory as a stream; per session

    def _land(self, table) -> int:
        name = f"slice-{self.slices:05d}.parquet"
        tmp = os.path.join(self.landing, f".{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        self.slices += 1
        return os.path.getsize(os.path.join(self.landing, name))

    def _refresh_expected(self) -> None:
        """DuckDB's latest row per user over every row landed so far."""
        with self.checking():
            self.oracle.con.execute(
                f"""CREATE OR REPLACE TABLE latest AS SELECT * FROM
                read_parquet('{self.landing}/slice-*.parquet')
                QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""")

    def write(self, table) -> bool:
        """Land one slice and stream it into the store. The span runs from
        the slice landing to the store holding its rows."""
        self.attempted += 1
        try:
            with self.tracer.span("run_stream_upsert", "op") as op:
                op["landed_bytes"] = self._land(table)
                with self.tracer.span("run_stream_upsert", "action"):
                    if self.stream is None:
                        schema = self.spark.read.parquet(self.landing).schema
                        self.stream = stream_from_parquet(self.spark, self.landing, schema)
                    run_stream_upsert(self.stream, self.store, self.checkpoint)
                self._after_op(op)
            self._refresh_expected()
            with self.checking():
                op["rows"] = self.oracle.con.execute("SELECT count(*) FROM latest").fetchone()[0]
            return True
        except Exception:
            self.fail("run_stream_upsert: " + traceback.format_exc(limit=3)[-600:])
            return False

    def _expected_rows(self, keys: list[int]):
        values = ", ".join(f"({k})" for k in keys)
        return self.oracle.query(
            f"SELECT k.user_id, l.* EXCLUDE (user_id) FROM (VALUES {values}) k(user_id) "
            "LEFT JOIN latest l USING (user_id)")

    def read(self, k: int) -> bool:
        """Look up 16 users, one of them unknown, against the store."""
        self.attempted += 1
        keys = [int(u) for u in self.rng.choice(data.N_USERS, KEYS_PER_READ - 1, replace=False)]
        keys.append(data.unknown_user(k))
        try:
            with self.tracer.span("online_lookup", "op") as op:
                with self.tracer.span("online_lookup", "build"):
                    req = self.spark.createDataFrame([(u,) for u in keys], "user_id long")
                    df = online_lookup(req, self.store.read(self.spark), ["user_id"])
                with self.tracer.span("online_lookup", "action"):
                    got = df.toPandas()
                op["rows"] = len(got)
            with self.checking():
                why = mismatch(got, self._expected_rows(keys))
        except Exception:
            why = traceback.format_exc(limit=3)[-600:]
        if why:
            self.fail(f"online_lookup: {why}")
        return not why

    def check_store(self) -> bool:
        """Compare the whole store with DuckDB's latest-per-key."""
        self.attempted += 1
        with self.checking():
            try:
                why = mismatch(self.store.read(self.spark).toPandas(), self.oracle.query("SELECT * FROM latest"))
            except Exception:
                why = traceback.format_exc(limit=3)[-600:]
        if why:
            self.fail(f"final store: {why}")
        return not why


def warm_up(client: Client, workload: str) -> None:
    """The untimed first execution of every operation, with the oracle
    checks. Check time is excluded from set-up time by the caller."""
    if workload in BATCH_OPS:
        for name in client.rng.permutation(BATCH_OPS[workload]):
            client.entry(str(name), check=True)
        return
    client.open_store()
    ev = pq.read_table(os.path.join(client.data_dir, "events.parquet"))
    half = ev.filter(client.rng.random(ev.num_rows) < 0.5)
    client.write(half)
    for i in range(READS_PER_WRITE):
        client.read(i)
    client.entry(WINDOW_ENTRY, check=True)


def measure(client: Client, workload: str, seconds: float,
            reference: ReferenceSort | None = None) -> dict:
    """Closed loop over about ``seconds`` of passes. A batch pass runs every
    entry once in a seeded order. An online pass lands one slice and runs 10
    lookups; the first of every 5 passes also refreshes the windowed stream.
    Returns the window's wall and busy time, and each pass's wall time, CPU
    time (JIT excluded), JIT CPU time and rate of correct operations per
    second. With a ``reference``, it also samples the reference sort after
    any operation that ends ``ReferenceSort.EVERY_S`` or more after the last
    sample, and returns the samples. Sampling time and CPU time are kept
    out of the pass figures, as check time is."""
    tracer = client.tracer
    passes: list[float] = []
    cpus: list[float] = []
    jits: list[float] = []
    rates: list[float] = []

    def after_op(ok: bool) -> bool:
        if reference and reference.due():
            with client.checking():
                reference.sample()
        return ok

    samples = reference.samples if reference else []
    check0 = client.check_s
    start = time.perf_counter()
    for i in range(max(1, int(seconds // PASS_BUDGET_S[workload]))):
        c0, cc0, n0 = client.check_s, client.check_cpu_s, len(samples)
        t0, (cpu0, jit0) = time.perf_counter(), client.cpu_s()
        ok = 0
        with tracer.span(workload, "pass"):
            if workload in BATCH_OPS:
                for name in client.rng.permutation(BATCH_OPS[workload]):
                    ok += after_op(client.entry(str(name)))
            else:
                k = client.slices
                ok += after_op(client.write(data.online_slice(client.seed, k)))
                for j in range(READS_PER_WRITE):
                    ok += after_op(client.read(k * READS_PER_WRITE + j))
                if i % WRITES_PER_REFRESH == 0:
                    ok += after_op(client.entry(WINDOW_ENTRY))
        cpu1, jit1 = client.cpu_s()
        cpus.append(cpu1 - cpu0 - (client.check_cpu_s - cc0) - sum(samples[n0:]))
        jits.append(jit1 - jit0)
        passes.append(time.perf_counter() - t0 - (client.check_s - c0))
        rates.append(ok / passes[-1])
    wall = time.perf_counter() - start
    return {"rates": rates, "wall_s": wall, "busy_s": wall - (client.check_s - check0),
            "passes": passes, "cpus": cpus, "jits": jits, "sorts": samples}


def op_latencies(spans: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s in spans:
        if s["kind"] == "op":
            out.setdefault(s["name"], []).append(s["end"] - s["start"])
    return out


def summary(window: dict) -> dict[str, float]:
    """The window's figures. Wall-time figures are medians over passes, so
    one slow pass (a busy neighbour) moves neither. ``pass_cpu_ref`` is the
    mean pass CPU time over the median reference sample: CPU time leaves out
    waiting, and the reference divides out the host's speed, so a mean of
    every pass is steadier than a median of a few."""
    return {
        "pass_cpu_ref": statistics.mean(window["cpus"]) / statistics.median(window["sorts"]),
        "pass_cpu_s": statistics.mean(window["cpus"]),
        "pass_p50_s": statistics.median(window["passes"]),
        "ops_per_s": statistics.median(window["rates"]),
    }
