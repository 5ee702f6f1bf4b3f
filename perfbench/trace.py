"""Spans, Spark event-log reduction and streaming progress for the traced run.

A ``Tracer`` keeps spans in memory: one ``pass`` span per pass of the
client loop, holding one ``op`` span per operation with ``build`` and
``action`` children.
When it is given a SparkContext it also sets one job group per build or
action span, so every Spark job in the event log names the span that
launched it. Jobs whose group Spark itself sets (streaming micro-batches
set the query's run id) are linked to the span whose interval holds their
submission time; the client runs one operation at a time, so that span is
unique.

``reduce_layers`` turns the spans, the event log and the progress events
of one traced window into the per-layer table named in ``LAYER_METRICS``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# name -> unit, in the order they are reported. Counts, bytes and busy
# times are per pass of the workload's client loop; ``*_ms`` streaming
# phases are medians per micro-batch; peaks and ratios are over the window.
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.files_read": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.exchanges": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.fetch_wait_s": "s",
    "operators.spill_bytes": "bytes",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "operators.ranks.persisted_bytes_peak": "bytes",
    "operators.ranks.released_per_op": "count",
    "operators.joins.lookup_exchanges": "count",
    "operators.joins.lookup_exec_s": "s",
    "functions.arrow_bytes_sent": "bytes",
    "functions.arrow_bytes_received": "bytes",
    "functions.python_eval_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_memory_bytes": "bytes",
    "streaming.online_store_bytes": "bytes",
    "streaming.online_write_amp": "ratio",
    "mem.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_cpu_s": "s",
    "trace.overhead_frac": "ratio",
}


class Tracer:
    """In-memory spans; with a SparkContext, one job group per build or
    action span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "kind": kind, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        if self.sc is not None and kind in ("build", "action"):
            self.sc.setJobGroup(f"pb-{sid}", f"{name} {kind}")
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProgressListener(StreamingQueryListener):
    """Keeps every streaming progress report as parsed JSON."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


# The distinct-pair aggregate every candidate-pair operator ends its
# candidate generation with: dropDuplicates over (id_a, id_b) in the dedup
# operators, over (query_id, neighbor_id) in the bucketed top-k search.
_PAIR_DEDUP = re.compile(r"^HashAggregate\(keys=\[(id_a|query_id)#\d+L?, (id_b|neighbor_id)#\d+L?\]")


def _candidate_pairs(plan: dict, acc: dict) -> float:
    """Rows out of the topmost distinct-pair aggregate on each path (the
    final half when the aggregate is split in two)."""
    if _PAIR_DEDUP.match(plan["simpleString"]):
        return _metric(plan, acc, "number of output rows")
    return sum(_candidate_pairs(c, acc) for c in plan.get("children", []))


def read_event_log(path: str) -> dict:
    """Jobs, stages and final SQL plans of one event log."""
    jobs, stages, plans, acc, exec_time = {}, {}, {}, {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000.0, "stages": e["Stage IDs"],
                    "group": props.get("spark.jobGroup.id"),
                    "execution": props.get("spark.sql.execution.id"),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                m = {}
                for a in info.get("Accumulables", []):
                    if a["Name"].startswith("internal.metrics."):
                        m[a["Name"][len("internal.metrics."):]] = float(a["Value"])
                    else:
                        acc[a["ID"]] = float(a["Value"])
                m["tasks"] = info["Number of Tasks"]
                stages[info["Stage ID"]] = m
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, v in e["accumUpdates"]:
                    acc[aid] = acc.get(aid, 0.0) + float(v)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                plans[e["executionId"]] = e["sparkPlanInfo"]
                if "time" in e:
                    exec_time[e["executionId"]] = e["time"] / 1000.0
    return {"jobs": jobs, "stages": stages, "plans": plans, "acc": acc, "exec_time": exec_time}


def _metric(node: dict, acc: dict, name: str) -> float:
    for m in node["metrics"]:
        if m["name"] == name:
            return acc.get(m["accumulatorId"], 0.0)
    return 0.0


class _Attribution:
    """Links Spark jobs to the traced spans."""

    def __init__(self, spans: list[dict]):
        self.spans = {s["id"]: s for s in spans}
        self.ops = [s for s in spans if s["kind"] == "op"]

    def span_of_job(self, job: dict) -> dict | None:
        g = job.get("group") or ""
        if g.startswith("pb-") and int(g[3:]) in self.spans:
            return self.spans[int(g[3:])]
        for s in self.spans.values():
            if s["kind"] in ("build", "action") and s["start"] <= job["start"] <= (s["end"] or 0):
                return s
        return None

    def op_of(self, span: dict | None) -> dict | None:
        while span is not None and span["kind"] != "op":
            span = self.spans.get(span["parent"])
        return span


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def reduce_layers(spans: list[dict], event_log: str, progress: list[dict],
                  extra: dict) -> dict[str, float]:
    """The per-layer table for the traced window. ``spans`` are the traced
    window's spans, ``progress`` every streaming progress report of the
    run, ``extra`` the values measured outside the event log (session
    start, storage, memory, garbage collection, JIT, overhead)."""
    log = read_event_log(event_log)
    att = _Attribution(spans)
    ops = att.ops
    passes = max(1, sum(1 for s in spans if s["kind"] == "pass"))
    t0 = min(s["start"] for s in ops)
    t1 = max(s["end"] for s in ops)
    out = {k: 0.0 for k in LAYER_METRICS}

    # jobs -> spans; stages -> jobs
    job_span, stage_job = {}, {}
    for jid, job in log["jobs"].items():
        sp = att.span_of_job(job)
        if sp is not None:
            job_span[jid] = sp
            for st in job["stages"]:
                stage_job[st] = jid
    build_jobs = [j for j, s in job_span.items() if s["kind"] == "build"]
    out["plans.build_jobs"] = len(build_jobs) / passes
    build_s = sum(s["end"] - s["start"] for s in spans if s["kind"] == "build")
    pass_s = sum(s["end"] - s["start"] for s in spans if s["kind"] == "pass")
    out["plans.build_s"] = build_s / passes
    out["plans.build_share"] = build_s / pass_s if pass_s else 0.0

    write_bytes_out = 0.0
    for st, m in log["stages"].items():
        if st not in stage_job:
            continue
        out["operators.run_s"] += m.get("executorRunTime", 0) / 1e3
        out["operators.cpu_s"] += m.get("executorCpuTime", 0) / 1e9
        out["operators.gc_s"] += m.get("jvmGCTime", 0) / 1e3
        out["operators.stages"] += 1
        out["operators.tasks"] += m["tasks"]
        out["operators.shuffle_write_bytes"] += m.get("shuffle.write.bytesWritten", 0)
        out["operators.shuffle_read_bytes"] += (
            m.get("shuffle.read.localBytesRead", 0) + m.get("shuffle.read.remoteBytesRead", 0))
        out["operators.fetch_wait_s"] += m.get("shuffle.read.fetchWaitTime", 0) / 1e3
        out["operators.spill_bytes"] += m.get("diskBytesSpilled", 0)
        op = att.op_of(job_span[stage_job[st]])
        if op is not None and op["name"] == "run_stream_upsert":
            write_bytes_out += m.get("output.bytesWritten", 0)

    # SQL executions -> op spans (through their jobs, else their start time)
    exec_op: dict[int, dict] = {}
    for jid, job in log["jobs"].items():
        if job.get("execution") is not None and jid in job_span:
            exec_op.setdefault(int(job["execution"]), att.op_of(job_span[jid]))
    for eid, ts in log["exec_time"].items():
        if eid not in exec_op and t0 <= ts <= t1:
            exec_op[eid] = next((o for o in ops if o["start"] <= ts <= o["end"]), None)

    acc = log["acc"]
    lookup_exchanges = []
    pairs_by_op: dict[int, float] = {}
    for eid, op in exec_op.items():
        if op is None or eid not in log["plans"]:
            continue
        n_exchange = 0
        for node in _walk(log["plans"][eid]):
            name = node["nodeName"]
            if name.startswith("Scan "):
                out["sources.scan_rows"] += _metric(node, acc, "number of output rows")
                out["sources.scan_bytes"] += _metric(node, acc, "size of files read")
                out["sources.scan_s"] += _metric(node, acc, "scan time") / 1e3
                out["sources.files_read"] += _metric(node, acc, "number of files read")
            elif name == "Exchange":
                n_exchange += 1
            out["functions.arrow_bytes_sent"] += _metric(node, acc, "data sent to Python workers")
            out["functions.arrow_bytes_received"] += _metric(
                node, acc, "data returned from Python workers")
            out["functions.python_eval_s"] += _metric(node, acc, "time to run Python workers") / 1e3
        out["operators.exchanges"] += n_exchange
        pairs = _candidate_pairs(log["plans"][eid], acc)
        if pairs:
            pairs_by_op[op["id"]] = pairs_by_op.get(op["id"], 0.0) + pairs
        if op["name"] == "online_lookup":
            lookup_exchanges.append(n_exchange)

    pairs = sum(pairs_by_op.values())
    verified = sum(s.get("rows", 0) for s in ops if s["id"] in pairs_by_op)
    out["operators.dedup.candidate_pairs"] = pairs
    out["operators.dedup.verified_per_candidate"] = verified / pairs if pairs else 0.0

    lookups = [o for o in ops if o["name"] == "online_lookup"]
    if lookups:
        out["operators.joins.lookup_exchanges"] = sum(lookup_exchanges) / len(lookups)
        exec_s = {o["id"]: 0.0 for o in lookups}
        for jid, sp in job_span.items():
            op = att.op_of(sp)
            if op is not None and op["id"] in exec_s and "end" in log["jobs"][jid]:
                exec_s[op["id"]] += log["jobs"][jid]["end"] - log["jobs"][jid]["start"]
        out["operators.joins.lookup_exec_s"] = _median(list(exec_s.values()))

    released = [s.get("released", 0) for s in ops]
    out["operators.ranks.released_per_op"] = sum(released) / len(released)
    out["operators.ranks.persisted_bytes_peak"] = max((s.get("cached_bytes", 0) for s in ops), default=0)

    batches = [p for p in progress if t0 <= _epoch(p["timestamp"]) <= t1]
    if batches:
        def dur(key):
            return _median([p["durationMs"].get(key, 0) for p in batches])

        out["streaming.batches"] = len(batches) / passes
        out["streaming.trigger_ms"] = dur("triggerExecution")
        out["streaming.add_batch_ms"] = dur("addBatch")
        out["streaming.query_planning_ms"] = dur("queryPlanning")
        out["streaming.wal_commit_ms"] = dur("walCommit")
        out["streaming.commit_offsets_ms"] = dur("commitOffsets")
        states = [s for p in batches for s in p.get("stateOperators", [])]
        if states:
            out["streaming.state_rows"] = max(s["numRowsTotal"] for s in states)
            out["streaming.state_commit_ms"] = _median([s["commitTimeMs"] for s in states])
            out["streaming.state_memory_bytes"] = max(s["memoryUsedBytes"] for s in states)
    landed = sum(s.get("landed_bytes", 0) for s in ops)
    if landed:
        out["streaming.online_write_amp"] = write_bytes_out / landed

    for k in out:
        if k.startswith(("sources.", "functions.")) or k.count(".") == 1 and k.startswith("operators."):
            out[k] /= passes  # window totals -> per pass
    out.update(extra)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM it drives (VmHWM)."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0
