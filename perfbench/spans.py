"""Traced runs: spans around calls into the engine's modules, folded with
Spark's own event log into per-layer metrics.

A span wrapper times each call and sets the Spark local property
``perfbench.span`` (and ``perfbench.table`` for table I/O) in the calling
thread, so every job the call submits carries the span's name; the engine's
write-pool threads call the wrapped table methods themselves, so their jobs
are tagged correctly.  Jobs submitted during a measured unit outside any
span (a pool thread's bare ``collect``) count toward the unit's top span.

The event log (``spark.eventLog.compress=false``) supplies per-stage task
metrics (CPU, GC, shuffle, spill, output bytes) and per-plan-node SQL
metrics (rows and bytes crossing the Python boundary, rows scanned).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

PROP_SPAN = "perfbench.span"
PROP_TABLE = "perfbench.table"

# span name -> (module path, attribute path) of the wrapped callable
SPANS = {
    "head": ("spiderman_spark.operators.ranks", "hist_offsets"),
    "tableio.append": ("spiderman_spark.tableio", "ParquetManifestTable.append"),
    "tableio.replace": ("spiderman_spark.tableio", "ParquetManifestTable.replace"),
    "tableio.compact": ("spiderman_spark.tableio", "ParquetManifestTable.compact_small"),
    "tableio.read_buckets": ("spiderman_spark.tableio", "ParquetManifestTable.read_buckets"),
    "tableio.merge_buckets": ("spiderman_spark.tableio", "ParquetManifestTable.merge_buckets"),
    "download.make_job": ("spiderman_spark.plans.download", "ImageDownloader.make_job"),
}
# spans whose jobs get the five task-metric rows (read_buckets is lazy: no jobs)
JOB_SPANS = (
    "crawl.step", "head", "tableio.append", "tableio.replace", "tableio.compact",
    "tableio.merge_buckets", "download.step", "download.make_job",
)
SPAN_FIELDS = ("cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
QUERIES = (
    "q16_dedup_exact", "q19_simhash", "q21_lang_id", "q24_ann_cosine_topk",
    "q25_ann_lsh_topk", "q33_embedding_neardup_lsh", "q34_minhash_lsh_fast",
    "q35_ann_ivf_topk",
)
TABLEIO_OPS = ("append", "replace", "compact", "read_buckets", "merge_buckets")


class Tracer:
    """Installs span wrappers, keeps span walls and call counts in memory,
    and marks the measured-unit windows used to scope event-log jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.windows: list[tuple[float, float, str]] = []  # (t0_ms, t1_ms, top span)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans

    def span(self, name: str, table: str | None = None):
        return _Span(self, name, table)

    def unit(self, top: str):
        """Context manager marking one measured unit whose untagged jobs
        count toward span ``top``."""
        return _Unit(self, top)

    def install(self) -> None:
        import importlib

        for name, (mod, attr) in SPANS.items():
            owner = importlib.import_module(mod)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(name, orig, method=bool(path)))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    def _wrap(self, name, fn, method: bool):
        tracer = self

        def wrapped(*args, **kwargs):
            table = getattr(args[0], "name", None) if method else None
            with tracer.span(name, table):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def _push(self, name: str, table: str | None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        stack.append((name, table))
        self.sc.setLocalProperty(PROP_SPAN, name)
        self.sc.setLocalProperty(PROP_TABLE, table)

    def _pop(self, name: str, dt: float):
        stack = self._local.stack
        stack.pop()
        prev_name, prev_table = stack[-1] if stack else (None, None)
        self.sc.setLocalProperty(PROP_SPAN, prev_name)
        self.sc.setLocalProperty(PROP_TABLE, prev_table)
        with self._lock:
            self.walls[name] += dt
            self.calls[name] += 1


class _Span:
    def __init__(self, tracer: Tracer, name: str, table: str | None):
        self.tracer, self.name, self.table = tracer, name, table

    def __enter__(self):
        self.t0 = time.perf_counter()
        self.tracer._push(self.name, self.table)
        return self

    def __exit__(self, *exc):
        self.tracer._pop(self.name, time.perf_counter() - self.t0)
        return False


class _Unit:
    def __init__(self, tracer: Tracer, top: str):
        self.tracer, self.top = tracer, top

    def __enter__(self):
        self.t0 = time.time() * 1000
        return self

    def __exit__(self, *exc):
        self.tracer.windows.append((self.t0, time.time() * 1000, self.top))
        return False


# ------------------------------------------------------------ event log


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                for line in fh:
                    yield json.loads(line)


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


def _first_rows(info: dict) -> list[int]:
    """Accumulator ids of the nearest descendant that counts rows — the
    input-row count of a node (Python nodes report output rows only)."""
    for child in info.get("children", []):
        for node in _walk(child):
            ids = [
                m["accumulatorId"] for m in node["metrics"]
                if m["name"] in ("number of output rows", "records read")
            ]
            if ids:
                return ids[:1]
    return []


class EventLog:
    """Per-span task metrics and per-node SQL metrics of the jobs submitted
    inside the measured-unit windows."""

    def __init__(self, log_dir: str, windows: list[tuple[float, float, str]]):
        self.windows = windows
        self.jobs = 0
        self.stages = 0
        self.tasks = 0
        self.span_metrics: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.table_rows: dict[tuple[str, str], float] = defaultdict(float)
        stage_tags: dict[int, tuple[str, str]] = {}
        acc_value: dict[int, float] = defaultdict(float)
        # accumulator id -> (execution id, node name, metric name, location)
        acc_node: dict[int, tuple[int, str, str, str]] = {}
        input_rows: dict[int, tuple[int, str]] = {}  # row acc id -> (exec, node name)
        self.exec_span: dict[int, str] = {}  # execution id -> span of its first job
        self.exec_plan: dict[int, str] = {}  # execution id -> physical plan text
        for ev in _events(log_dir):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                top = self._scope(ev.get("Submission Time", 0))
                if top is None:
                    continue
                self.jobs += 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    self.exec_span.setdefault(int(eid), props.get(PROP_SPAN) or top)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                props = ev.get("Properties") or {}
                top = self._scope(info.get("Submission Time", 0))
                if top is not None:
                    stage_tags[info["Stage ID"]] = (
                        props.get(PROP_SPAN) or top, props.get(PROP_TABLE) or ""
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for acc in info.get("Accumulables", []):
                    try:
                        v = float(acc.get("Value"))
                    except (TypeError, ValueError):
                        continue
                    acc_value[acc["ID"]] = max(acc_value[acc["ID"]], v)
                tag = stage_tags.get(info["Stage ID"])
                if tag is not None:
                    self._fold_stage(info, *tag)
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, v in ev.get("accumUpdates", []):
                    acc_value[acc_id] = max(acc_value[acc_id], float(v))
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                if kind.endswith("SQLExecutionStart"):
                    self.exec_plan[eid] = ev.get("physicalPlanDescription", "")
                for node in _walk(ev["sparkPlanInfo"]):
                    loc = (node.get("metadata") or {}).get("Location", "")
                    for m in node["metrics"]:
                        acc_node.setdefault(
                            m["accumulatorId"], (eid, node["nodeName"], m["name"], loc)
                        )
                    if node["nodeName"] in ("MapInPandas", "ArrowEvalPython"):
                        for acc_id in _first_rows(node):
                            input_rows.setdefault(acc_id, (eid, node["nodeName"]))
        # per-node SQL metrics, keyed (execution span, node name, metric name)
        self.node_metrics: dict[tuple[str, str, str], float] = defaultdict(float)
        self.url_seen_rows = 0.0
        for acc_id, (eid, node, name, loc) in acc_node.items():
            span = self.exec_span.get(eid)
            if span is None or acc_id not in acc_value:
                continue
            v = acc_value[acc_id]
            self.node_metrics[(span, node.strip(), name)] += v
            if node.startswith("Scan parquet") and name == "number of output rows" and "/url_seen/" in loc:
                self.url_seen_rows += v
        for acc_id, (eid, node) in input_rows.items():
            span = self.exec_span.get(eid)
            if span is not None and acc_id in acc_value:
                self.node_metrics[(span, node, "rows in")] += acc_value[acc_id]

    def _scope(self, t_ms: float) -> str | None:
        for t0, t1, top in self.windows:
            if t0 <= t_ms <= t1:
                return top
        return None

    def _fold_stage(self, info: dict, span: str, table: str) -> None:
        self.stages += 1
        self.tasks += int(info.get("Number of Tasks", 0))
        acc = {
            a["Name"]: float(a["Value"])
            for a in info.get("Accumulables", [])
            if str(a.get("Name", "")).startswith("internal.metrics.")
        }
        g = acc.get
        m = self.span_metrics[span]
        m["cpu_s"] += g("internal.metrics.executorCpuTime", 0) / 1e9
        m["gc_s"] += g("internal.metrics.jvmGCTime", 0) / 1e3
        m["shuffle_read_bytes"] += g("internal.metrics.shuffle.read.remoteBytesRead", 0) + g(
            "internal.metrics.shuffle.read.localBytesRead", 0
        )
        m["shuffle_write_bytes"] += g("internal.metrics.shuffle.write.bytesWritten", 0)
        m["spill_bytes"] += g("internal.metrics.diskBytesSpilled", 0)
        m["output_bytes"] += g("internal.metrics.output.bytesWritten", 0)
        self.table_rows[(span, table)] += g("internal.metrics.output.recordsWritten", 0)

    def node_sum(self, spans, node: str, metric: str) -> float:
        return sum(
            v for (s, n, name), v in self.node_metrics.items()
            if s in spans and n == node and name == metric
        )
