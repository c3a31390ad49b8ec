"""Tracing for the traced benchmark run, and its post-processor.

Three sources feed the per-layer table:

- spans: wrappers installed around the package's public functions
  (``install``), plus the operation, build and exec spans the workloads
  open themselves.  Spans are kept in memory and written out at the
  end; a layer's self time is its spans' durations minus their
  children's.
- Spark's event log, written uncompressed and unrolled so every line
  is one JSON event; each operation tags its build and exec phases
  with ``setJobGroup``.
- a StreamingQueryListener for micro-batch progress.

``layer_metrics`` turns the three into the flat per-layer dict the
benchmark prints.  Nothing here runs unless ``--trace 1``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

BUILD, EXEC = "build", "exec"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()
        self.op: str | None = None  # "<op index>:<op name>" while timed
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []  # streaming micro-batches

    def _st(self) -> list:
        if not hasattr(self._stack, "s"):
            self._stack.s = []
        return self._stack.s

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        st = self._st()
        # spans opened on other threads (a streaming sink's foreachBatch)
        # overlap the main thread's and stay out of self-time sums
        rec = {"id": len(self.spans), "parent": st[-1]["id"] if st else None,
               "layer": layer, "name": name, "op": self.op,
               "main": threading.current_thread() is threading.main_thread(),
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()

    def parent_layer(self) -> str | None:
        st = self._st()
        return st[-1]["layer"] if st else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "progress": self.progress}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus its children's durations (children
    are nested in their parent and run one at a time per thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in spans if s["end"] is not None}


# ------------------------------------------------------------ wrappers


def _wrap(tracer: Tracer, owner, attr: str, layer: str, after=None,
          outer_only: bool = False):
    """Replace ``owner.attr`` with a version that runs inside a span of
    ``layer``; ``after(rec, args, result)`` may add counters to the
    span.  ``outer_only``: open no span when already inside ``layer``
    (read() calls scan(); the read is one table read, not two)."""
    raw = owner.__dict__[attr]
    is_cm = isinstance(raw, classmethod)
    fn = raw.__func__ if is_cm else raw

    def wrapper(*args, **kwargs):
        if outer_only and tracer.parent_layer() == layer:
            return fn(*args, **kwargs)
        with tracer.span(layer, attr) as rec:
            out = fn(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

    wrapper.__wrapped__ = fn
    setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
    return lambda: setattr(owner, attr, raw)


def install(tracer: Tracer) -> callable:
    """Wrap the package's public layer entry points; returns a function
    that removes every wrapper again."""
    from olap_storage_engine_spark.operators import compaction
    from olap_storage_engine_spark.plans import manifest
    from olap_storage_engine_spark.sources import segment_format
    from olap_storage_engine_spark.table import OlapTable

    def table_read(rec, args, out):
        t = args[0]
        rec["rowsets"] = len(t.manifest.visible_rowsets())
        rec["files_visible"] = t.visible_file_count()

    undo = [
        _wrap(tracer, OlapTable, name, "table", table_read, outer_only=True)
        for name in ("read", "read_pruned", "read_point", "scan")
    ]
    undo.append(_wrap(tracer, OlapTable, "write", "table.write"))
    undo.append(_wrap(tracer, manifest.Manifest, "load", "manifest.load"))
    undo.append(_wrap(tracer, manifest.Manifest, "publish",
                      "manifest.publish"))
    undo.append(_wrap(tracer, compaction, "compact", "compaction"))
    undo.append(_wrap(tracer, compaction, "garbage_collect", "gc"))
    undo.append(_wrap(tracer, segment_format, "read_segment_table",
                      "segment"))

    save = manifest.Manifest.save

    def counting_save(self):
        try:
            return save(self)
        except manifest.ManifestConflictError:
            tracer.counts["manifest.cas_retries"] += 1
            raise

    manifest.Manifest.save = counting_save
    undo.append(lambda: setattr(manifest.Manifest, "save", save))
    return lambda: [u() for u in reversed(undo)]


def add_stream_listener(spark, tracer: Tracer):
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            tracer.progress.append({
                "t": time.time(), "batch": p.batchId,
                "rows": p.numInputRows, "ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


# ------------------------------------------------------ event log


_PY = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_SCAN = {
    "number of files read": "scan.files_read",
    "size of files read": "scan.bytes_read",
}


def _plan_metrics(node: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name, metric type)."""
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                   m.get("metricType", "sum"))
    for c in node.get("children", []):
        _plan_metrics(c, out)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, job wall time, tasks, task metrics and the
    SQL metrics the layers need."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    accum: dict[int, tuple] = {}
    job_start: dict[int, tuple] = {}

    def sql_metric(g: str, aid: int, value: float) -> None:
        if aid not in accum:
            return
        node, name, mtype = accum[aid]
        if mtype == "nsTiming":
            value /= 1e6
        key = _PY.get(name)
        if key is None and node.startswith("Scan"):
            key = _SCAN.get(name)
            if name == "number of output rows":
                key = "scan.rows_read"
        if key is not None:
            groups[g][key] += value

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
                groups[g]["jobs"] += 1
                job_start[ev["Job ID"]] = (g, ev["Submission Time"])
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                g, t0 = job_start.get(ev["Job ID"], ("", None))
                if t0 is not None:
                    groups[g]["job_wall_ms"] += ev["Completion Time"] - t0
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                tm = ev.get("Task Metrics") or {}
                d = groups[g]
                d["tasks"] += 1
                d["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                d["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                d["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0))
                d["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                d["peak_exec_mem_bytes"] = max(
                    d["peak_exec_mem_bytes"],
                    tm.get("Peak Execution Memory", 0))
                for a in ev["Task Info"].get("Accumulables", []):
                    with contextlib.suppress(TypeError, ValueError):
                        sql_metric(g, a["ID"], float(a.get("Update")))
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                if kind.endswith("SQLExecutionStart"):
                    exec_group[ev["executionId"]] = ev.get("jobGroupId") or ""
                _plan_metrics(ev["sparkPlanInfo"], accum)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                g = exec_group.get(ev["executionId"], "")
                for aid, value in ev["accumUpdates"]:
                    sql_metric(g, aid, value)
    return {g: dict(d) for g, d in groups.items()}


# ------------------------------------------------------ post-processor


#: every per-layer metric, with its unit; ``layer_metrics`` returns
#: exactly these keys (pinned by test_perfbench.py)
LAYER_UNITS = {
    "entry.build_s": "s", "entry.build_jobs": "count",
    "spark.plan_ms": "ms", "spark.jobs": "count", "spark.tasks": "count",
    "spark.job_floor_s": "s", "spark.exec_s": "s",
    "spark.executor_cpu_ms": "ms", "spark.jvm_gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "python.boot_ms": "ms", "python.init_ms": "ms", "python.run_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "table.read_ms": "ms", "table.rowsets_per_read": "count",
    "table.write_s": "s",
    "scan.files_read": "count", "scan.files_listed": "count",
    "scan.files_read_frac": "ratio", "scan.bytes_read": "bytes",
    "scan.rows_out_per_row_read": "ratio",
    "manifest.load_ms": "ms", "manifest.publish_ms": "ms",
    "manifest.cas_retries": "count",
    "compaction.compact_s": "s", "compaction.bytes_rewritten": "bytes",
    "compaction.score_before": "count", "compaction.score_after": "count",
    "gc.s": "s", "gc.files_reclaimed": "count",
    "segment.plan_ms": "ms", "segment.files_pruned": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.planning_ms": "ms",
    "fixtures.orders_dup_s": "s", "fixtures.orders_versions_s": "s",
    "fixtures.lineitem_key_s": "s", "fixtures.segment_table_s": "s",
    "fixtures.ingest_base_s": "s",
    "read_s.p50": "s", "read_s.p90": "s", "write_s.p50": "s",
    "write_amp": "ratio", "space_amp": "ratio",
    "trace.overhead": "ratio", "trace.span_coverage": "ratio",
}

#: per-layer metrics where a larger value is the better one
HIGHER_IS_BETTER = {"scan.rows_out_per_row_read", "segment.files_pruned",
                    "gc.files_reclaimed", "trace.overhead",
                    "trace.span_coverage"}

#: layers of the "where the seconds go" summary, in print order
WHERE_LAYERS = ("entry", "spark", "table", "table.write", "manifest.load",
                "manifest.publish", "compaction", "segment", "bench")


def _per(total: float, n: float) -> float:
    return total / n if n else 0.0


def layer_metrics(spans: list[dict], groups: dict, progress: list[dict],
                  counts: dict, extra: dict) -> tuple[dict, dict]:
    """(per-layer metrics, where-the-seconds-go summary) over the timed
    operations.  ``extra`` carries the numbers the workload measured
    itself (job floor, fixtures, ingest ratios, compaction, overhead);
    every key of LAYER_UNITS is present in the result."""
    selft = self_times(spans)
    ops = [s for s in spans if s["layer"] == "op" and s["op"] is not None]
    op_ids = {s["op"] for s in ops}
    n_ops = len(ops)
    timed = [s for s in spans if s["op"] in op_ids and s.get("main", True)]
    by_layer = defaultdict(float)
    for s in timed:
        layer = "bench" if s["layer"] == "op" else s["layer"]
        by_layer[layer] += selft[s["id"]]

    def gsum(key: str, phase: str | None = None) -> float:
        return sum(d.get(key, 0.0) for g, d in groups.items()
                   if g.split("::")[0] in op_ids
                   and (phase is None or g.endswith("::" + phase)))

    # Catalyst phases of each exec phase's plan; for operations that read
    # a segment table, the exec phase's driver time outside Spark jobs,
    # which holds the Python data source's planning round trip
    plan_ms = [s["plan_ms"] for s in timed if "plan_ms" in s]
    seg_ops = {s["op"] for s in timed if s["layer"] == "segment"}
    seg_plan_ms = [
        max(0.0, (s["end"] - s["start"]) * 1000 - groups.get(
            f"{s['op']}::{EXEC}", {}).get("job_wall_ms", 0.0))
        for s in timed if s["layer"] == "spark" and s["op"] in seg_ops]

    reads = [s for s in timed if s["layer"] == "table"]
    files_listed = sum(s.get("files_visible", 0) for s in reads)
    files_read = gsum("scan.files_read")
    rows_read = gsum("scan.rows_read")
    rows_out = sum(s.get("rows_out", 0) for s in ops)
    writes = [s for s in timed if s["layer"] == "table.write"]
    loads = [s for s in timed if s["layer"] == "manifest.load"]
    pubs = [s for s in timed if s["layer"] == "manifest.publish"]
    batches = [p for p in progress
               if any(o["start"] <= p["t"] <= o["end"] + 0.5 for o in ops)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def pms(key_pred):
        return sum(v for p in batches for k, v in p["ms"].items()
                   if key_pred(k))

    m = {
        "entry.build_s": _per(by_layer["entry"], n_ops),
        "entry.build_jobs": _per(gsum("jobs", BUILD), n_ops),
        "spark.plan_ms": _per(sum(plan_ms), len(plan_ms)),
        "spark.jobs": _per(gsum("jobs"), n_ops),
        "spark.tasks": _per(gsum("tasks"), n_ops),
        "spark.exec_s": _per(by_layer["spark"], n_ops),
        "spark.executor_cpu_ms": _per(gsum("executor_cpu_ms"), n_ops),
        "spark.jvm_gc_ms": _per(gsum("jvm_gc_ms"), n_ops),
        "spark.shuffle_write_bytes": _per(gsum("shuffle_write_bytes"), n_ops),
        "spark.spill_bytes": _per(gsum("spill_bytes"), n_ops),
        "spark.peak_exec_mem_bytes": max(
            [d.get("peak_exec_mem_bytes", 0.0) for g, d in groups.items()
             if g.split("::")[0] in op_ids] or [0.0]),
        "table.read_ms": _per(by_layer["table"] * 1000, n_ops),
        "table.rowsets_per_read": _per(
            sum(s.get("rowsets", 0) for s in reads), len(reads)),
        "table.write_s": _per(dur(writes), len(writes)),
        "scan.files_read": _per(files_read, n_ops),
        "scan.files_listed": _per(files_listed, n_ops),
        "scan.files_read_frac": _per(files_read, files_listed),
        "scan.bytes_read": _per(gsum("scan.bytes_read"), n_ops),
        "scan.rows_out_per_row_read": _per(rows_out, rows_read),
        "manifest.load_ms": _per(dur(loads) * 1000, n_ops),
        "manifest.publish_ms": _per(dur(pubs) * 1000, len(pubs)),
        "manifest.cas_retries": counts.get("manifest.cas_retries", 0.0),
        "segment.plan_ms": _per(sum(seg_plan_ms), len(seg_plan_ms)),
        "streaming.batches": float(len(batches)),
        "streaming.trigger_ms": _per(pms(lambda k: k == "triggerExecution"),
                                     len(batches)),
        "streaming.commit_ms": _per(pms(lambda k: "ommit" in k),
                                    len(batches)),
        "streaming.planning_ms": _per(pms(lambda k: k == "queryPlanning"),
                                      len(batches)),
    }
    for key in _PY.values():
        m[key] = _per(gsum(key), n_ops)
    wall = extra.get("timed_wall_s", 0.0)
    m["trace.span_coverage"] = _per(dur(ops), wall)
    for key in LAYER_UNITS:
        m.setdefault(key, extra.get(key, 0.0))
    m = {k: float(v) for k, v in m.items()}
    total = sum(by_layer.values())
    where = {k: {"s": round(by_layer[k], 4),
                 "share": round(_per(by_layer[k], total), 4)}
             for k in WHERE_LAYERS if by_layer.get(k)}
    where["_total_s"] = round(total, 4)
    where["_timed_wall_s"] = round(wall, 4)
    return m, where
