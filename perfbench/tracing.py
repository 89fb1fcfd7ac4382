"""Tracing for the benchmark's traced runs (``--trace 1``).

The program is not modified: ``instrument`` wraps the public entry points of
each layer at runtime, from here, and records one span per call. Spans stay
in memory and are written out when the run ends. Each span has a name, a
start and an end (epoch seconds), a parent span id and the id of the
benchmark operation it belongs to (0 = set-up).

Spark-side numbers come from the run's uncompressed, non-rolling event log.
Every benchmark operation and every engine node runs under its own job
group, which labels the per-group table of the report; a job counts toward
the operation during which it was submitted, so jobs that structured
streaming runs under its own group are counted too.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Event-log settings for traced runs. Spark 4 compresses event logs with
# zstd by default; compression stays off so the log is plain JSON lines.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

SPARK_TASK_METRICS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

# TableStore write method -> span name. A write nested in another write
# (append_stream_batch calling append) is part of the outer span.
STORAGE_WRITES = {
    "write_replace": "storage.write:write_replace",
    "append": "storage.write:append",
    "append_stream_batch": "storage.write:append",
    "upsert": "storage.write:upsert",
    "upsert_stream_batch": "storage.write:upsert",
}


class Tracer:
    """Span recorder. With ``on`` false (untraced runs, where nothing is
    wrapped) ``span`` and ``count`` do nothing."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op = 0
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.on:
            yield None
            return
        s = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        if group:
            s["group"] = group
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self.stack.pop()

    def inside(self, prefix: str) -> bool:
        return any(s["name"].startswith(prefix) for s in self.stack)

    def count(self, key: str, n: float = 1) -> None:
        if self.on:
            self.counts[self.op][key] += n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class JobGroups:
    """Thread-local Spark job groups, nested like spans."""

    KEYS = ("spark.jobGroup.id", "spark.job.description")

    def __init__(self, sc):
        self.sc = sc

    @contextmanager
    def group(self, name: str):
        prev = [self.sc.getLocalProperty(k) for k in self.KEYS]
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            for k, v in zip(self.KEYS, prev):
                self.sc.setLocalProperty(k, v)


def _wrap(cls, meth: str, make):
    orig = getattr(cls, meth)
    wrapped = make(orig)
    functools.update_wrapper(wrapped, orig)
    setattr(cls, meth, wrapped)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = n_bytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, n))
    return files, n_bytes


def instrument(tracer: Tracer, groups: JobGroups) -> None:
    """Wrap the public functions of the graph, engine, node and storage
    layers. Call once, after the package is imported."""
    from basis_devkit_spark.engine.engine import Engine
    from basis_devkit_spark.node.stream import Stream
    from basis_devkit_spark.node.table import Table
    from basis_devkit_spark.storage.store import (
        MANIFEST,
        ConcurrentWriteError,
        TableStore,
    )

    def simple(name):
        def make(orig):
            def w(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)

            return w

        return make

    _wrap(Engine, "load_graph", simple("graph.load"))
    _wrap(Engine, "seed_store", simple("engine.seed"))

    def make_run_graph(orig):
        def w(self, *a, **k):
            before = len(self.run_log)
            with tracer.span("engine.run_graph"):
                log = orig(self, *a, **k)
            tracer.count("engine.nodes_skipped", sum("skipped" in r for r in log[before:]))
            return log

        return w

    _wrap(Engine, "run_graph", make_run_graph)

    def make_run_node(orig):
        def w(self, node, *a, **k):
            node_id = node if isinstance(node, str) else node.id
            group = f"node:{node_id}#{tracer.op}"
            tracer.count("engine.nodes_run")
            with tracer.span(f"engine.run_node:{node_id}", group=group), groups.group(group):
                return orig(self, node, *a, **k)

        return w

    _wrap(Engine, "run_node", make_run_node)
    _wrap(Stream, "consume_dataframe", simple("node.consume"))

    def node_write(orig):
        def w(*a, **k):
            if tracer.inside("node.write"):
                return orig(*a, **k)
            with tracer.span("node.write"):
                return orig(*a, **k)

        return w

    for meth in ("append", "flush", "upsert", "replace"):
        _wrap(Table, meth, node_write)

    def storage_write(name):
        def make(orig):
            def w(self, *a, **k):
                if tracer.inside("storage.write"):
                    return orig(self, *a, **k)
                try:
                    with tracer.span(name):
                        return orig(self, *a, **k)
                except ConcurrentWriteError:
                    tracer.count("storage.conflicts")
                    raise

            return w

        return make

    for meth, name in STORAGE_WRITES.items():
        _wrap(TableStore, meth, storage_write(name))

    def make_flip(orig):
        def w(self, version, *a, **k):
            with tracer.span("storage.flip"):
                out = orig(self, version, *a, **k)
            if tracer.on:
                files, n_bytes = _dir_bytes(self.version_path(version))
                tracer.count("storage.versions_committed")
                tracer.count("storage.files_written", files)
                tracer.count("storage.bytes_written", n_bytes)
                with open(os.path.join(self.path, MANIFEST)) as f:
                    entry = json.load(f)["versions"].get(str(version), {})
                op = tracer.counts[tracer.op]
                op["storage.lineage_dirs"] = max(op["storage.lineage_dirs"], len(entry.get("dirs") or [1]))
            return out

        return w

    _wrap(TableStore, "set_active_version", make_flip)
    _wrap(TableStore, "read", simple("storage.read"))
    _wrap(TableStore, "read_pruned", simple("storage.read_pruned"))


# ---------------------------------------------------------------- analysis


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _union(kids[s["id"]]) for s in spans}


def unresolved_parents(spans: list[dict]) -> list[int]:
    ids = {s["id"] for s in spans}
    return [s["id"] for s in spans if s["parent"] is not None and s["parent"] not in ids]


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, submit/end epoch seconds, summed task metrics) and the
    structured-streaming progress events of one event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    progress: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3,
                        "end": None,
                        **dict.fromkeys(SPARK_TASK_METRICS, 0.0),
                    }
                    for st in ev.get("Stage Infos", []):
                        stage_job.setdefault(st["Stage ID"], jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["tasks"] += 1
                    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    progress.append(ev.get("progress") or {})
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "progress": progress}


def self_time_table(spans: list[dict]) -> dict[str, dict]:
    """Span name -> calls, total and self seconds, over measured ops."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if s["op"] < 1:
            continue
        row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += st[s["id"]]
    return out


def layer_metrics(tracer: Tracer, elog: dict, input_bytes: dict, queries, nodes):
    """Per-layer metrics of a traced run: ``name -> (value, unit)``.

    Times and counts are per measured operation, except ``graph.load_s``
    and ``engine.seed_s`` (set-up totals), ``storage.lineage_dirs`` and
    ``streaming.state_rows`` (maxima) and ``storage.write_amp`` (a ratio).
    Also returns Spark numbers per job group."""
    spans = tracer.spans
    st = self_times(spans)
    ops = {s["op"] for s in spans if s["name"].startswith("op:") and s["op"] >= 1}
    n = max(len(ops), 1)
    meas = [s for s in spans if s["op"] in ops]

    def dur(s):
        return s["end"] - s["start"]

    def per_op(pred, own=False) -> float:
        return sum(st[s["id"]] if own else dur(s) for s in meas if pred(s["name"])) / n

    def count(key) -> float:
        return sum(tracer.counts[o][key] for o in ops)

    def eq(name):
        return lambda x: x == name

    m: dict[str, tuple[float, str]] = {}
    setup = [s for s in spans if s["op"] == 0]
    m["graph.load_s"] = (sum(dur(s) for s in setup if s["name"] == "graph.load"), "s")
    m["engine.seed_s"] = (sum(dur(s) for s in setup if s["name"] == "engine.seed"), "s")
    m["engine.run_graph_s"] = (per_op(eq("engine.run_graph")), "s")
    m["engine.sched_s"] = (per_op(eq("engine.run_graph"), own=True), "s")
    for node in nodes:
        m[f"engine.node_s.{node}"] = (per_op(eq(f"engine.run_node:{node}")), "s")
    m["engine.nodes_run"] = (count("engine.nodes_run") / n, "count")
    m["engine.nodes_skipped"] = (count("engine.nodes_skipped") / n, "count")
    m["node.consume_s"] = (per_op(eq("node.consume")), "s")
    m["node.write_s"] = (per_op(eq("node.write")), "s")
    for meth in ("write_replace", "append", "upsert"):
        m[f"storage.{meth}_s"] = (per_op(eq(f"storage.write:{meth}")), "s")
    m["storage.flip_s"] = (per_op(eq("storage.flip")), "s")
    m["storage.version_write_s"] = (
        per_op(lambda x: x.startswith("storage.write:"), own=True),
        "s",
    )
    m["storage.read_s"] = (per_op(eq("storage.read")), "s")
    m["storage.read_pruned_s"] = (per_op(eq("storage.read_pruned")), "s")
    for key in ("versions_committed", "files_written", "bytes_written"):
        m[f"storage.{key}"] = (count(f"storage.{key}") / n, "bytes" if "bytes" in key else "count")
    in_bytes = sum(input_bytes[o] for o in ops)
    m["storage.write_amp"] = (count("storage.bytes_written") / in_bytes if in_bytes else 0.0, "ratio")
    m["storage.lineage_dirs"] = (
        max((tracer.counts[o]["storage.lineage_dirs"] for o in ops), default=0),
        "count",
    )
    m["storage.conflicts"] = (count("storage.conflicts"), "count")

    op_spans = [s for s in meas if s["name"].startswith("op:")]
    for q in queries:
        runs = [s for s in op_spans if s["name"] == f"op:query:{q}"]
        k = max(len(runs), 1)
        ids = {s["id"] for s in runs}
        kids = [s for s in meas if s["parent"] in ids]
        m[f"queries.{q}.wall_s"] = (sum(map(dur, runs)) / k, "s")
        for part in ("build", "plan"):
            m[f"queries.{q}.{part}_s"] = (
                sum(dur(s) for s in kids if s["name"] == f"queries.{part}") / k,
                "s",
            )

    def in_op(t: float):
        return next((s for s in op_spans if s["start"] <= t <= s["end"]), None)

    prog = []
    for p in elog["progress"]:
        ts = p.get("timestamp")
        if ts and in_op(_iso_epoch(ts)):
            prog.append(p)
    m["streaming.batches"] = (len(prog) / n, "count")
    m["streaming.trigger_s"] = (
        sum((p.get("durationMs") or {}).get("triggerExecution", 0) for p in prog) / 1e3 / n,
        "s",
    )
    state_rows = [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators") or []) for p in prog]
    m["streaming.state_rows"] = (max(state_rows, default=0), "count")

    jobs_by_op: dict[int, list[dict]] = defaultdict(list)
    per_group: dict[str, dict] = {}
    for j in elog["jobs"]:
        s = in_op(j["submit"])
        if s is None:
            continue
        jobs_by_op[s["id"]].append(j)
        g = per_group.setdefault(
            j["group"] or "(no group)", dict.fromkeys(("jobs",) + SPARK_TASK_METRICS, 0.0)
        )
        g["jobs"] += 1
        for key in SPARK_TASK_METRICS:
            g[key] += j[key]
    driver = 0.0
    for s in op_spans:
        covered = _union(
            [(max(j["submit"], s["start"]), min(j["end"], s["end"])) for j in jobs_by_op[s["id"]]]
        )
        driver += dur(s) - covered
    all_jobs = [j for js in jobs_by_op.values() for j in js]
    m["spark.driver_s"] = (driver / n, "s")
    m["spark.jobs"] = (len(all_jobs) / n, "count")
    for key in SPARK_TASK_METRICS:
        unit = "bytes" if key.endswith("bytes") else "count" if key == "tasks" else "s"
        m[f"spark.{key}"] = (sum(j[key] for j in all_jobs) / n, unit)
    return m, per_group


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
