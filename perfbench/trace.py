"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded around guackg's public entry points, patched in
where `guackg.pipeline` (and the clean op's callers) look them up;
nothing under guackg/ changes. Each span tags the Spark jobs issued
inside it with `setJobGroup`, a thread-local property, so jobs from
side-stage threads land on the right span. After the run the spans are
joined with Spark's event log (written through GUACKG_EVENT_LOG, read
with pyarrow's zstd stream) to get per-layer executor CPU, shuffle,
spill, task skew and Python-UDF transfer numbers.

Spark plans are lazy, so most of a stage's work runs inside the call
that writes its output. Such a write span is named after the output
table and attributed to the layer that built the plan (TABLE_LAYER).
Layers that issue eager jobs of their own (the connected-components
iterations, the driver linker, clean_corpus) get them through their
own spans. Each graph query of kg_query runs in a span of its own,
`graph.<op>.<side>`, opened by the workload around the op and the
collect of its result.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.workloads import ANALYTICS, GRAPH_OPS, SIDES

LAYERS = ("extract", "triples", "link", "cc", "materialize",
          "io.nodes_merge", "io.edges_merge", "ops.clean")
LAYER_METRICS = ("wall_s", "self_s", "executor_cpu_s", "jobs",
                 "shuffle_write_bytes", "spill_bytes", "task_skew",
                 "rows_out")
UDF_LAYERS = ("extract", "triples")
UDF_METRICS = ("python_s", "arrow_to_python_bytes",
               "arrow_from_python_bytes")
EXTRA_METRICS = (
    "io.edges_merge.files_written", "io.edges_merge.bytes_written",
    "link.vocab_rows", "link.linked_frac", "cc.input_edges",
    "lineage.wall_s", "lineage.stages_skipped",
    "pipeline.self_s", "pipeline.no_job_s",
    "ops.clean.kept", "ops.clean.exact_dup", "ops.clean.near_dup",
    "setup.session_s", "setup.input_s", "setup.base_kg_s",
)
GRAPH_METRICS = tuple(
    f"graph.{op}.{side}.{m}" for op in GRAPH_OPS for side in SIDES
    for m in ("wall_s", "jobs")) + tuple(
    f"graph.{op}.full.shuffle_write_bytes" for op in ANALYTICS)

# Counters that must repeat exactly between two traced runs of the same
# inputs; the report flags any that do not.
COUNTERS = tuple(f"{layer}.{m}" for layer in LAYERS
                 for m in ("jobs", "rows_out")) + (
    "io.edges_merge.files_written", "link.vocab_rows", "cc.input_edges",
    "lineage.stages_skipped", "ops.clean.kept", "ops.clean.exact_dup",
    "ops.clean.near_dup") + tuple(
    m for m in GRAPH_METRICS if m.endswith(".jobs"))

# output table (directory name under the workdir) -> layer whose plan
# the write executes
TABLE_LAYER = {
    "extract": "extract",
    "triples": "triples", "tombstones": "triples",
    "mention_freq": "link", "link": "link", "equivalence_edges": "link",
    "identifier_candidates": "link",
    "canonicalize": "cc",
    "materialize": "materialize",
    "nodes": "io.nodes_merge", "edges": "io.edges_merge",
    "audit": "ops.clean",
}

# guackg.pipeline's imported names -> layer
PIPELINE_ENTRY_POINTS = {
    "extract": "extract",
    "extract_triples": "triples",
    "mention_frequencies": "link", "link_mentions": "link",
    "link_mentions_driver": "link",
    "equivalence_edges_from_links": "link",
    "identifier_candidates": "link",
    "connected_components": "cc",
    "resolve_triples": "materialize", "build_nodes": "materialize",
    "build_edges": "materialize", "page_mention_edges": "materialize",
}

# Spark 4 PythonSQLMetrics accumulator names
PY_EXEC_TIME = "time to run Python workers"  # ms
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def per_layer_names() -> list[str]:
    return ([f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS]
            + [f"{layer}.{m}" for layer in UDF_LAYERS for m in UDF_METRICS]
            + list(EXTRA_METRICS) + list(GRAPH_METRICS))


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0


@dataclass
class Rep:
    """One traced repetition of a workload's timed operation."""
    spans: list[Span] = field(default_factory=list)
    tables: dict[str, str] = field(default_factory=dict)  # path -> layer
    rows: dict[str, int] = field(default_factory=dict)    # path -> rows
    cc_inputs: list = field(default_factory=list)
    stages_skipped: int = 0
    extra: dict[str, float] = field(default_factory=dict)
    overhead_s: float = 0.0    # time spent in the tracer's own work


class Tracer:
    """Spans + job groups around guackg entry points while installed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.rep = Rep()
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._n = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _tag(self, sp: Span | None) -> None:
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.sid, f"{sp.layer} {sp.name}")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self._n += 1
            sid = f"perfbench-{self._n}"
        sp = Span(sid, name, layer, parent.sid if parent else None,
                  time.time())
        stack.append(sp)
        self._tag(sp)
        own = time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t0 = time.perf_counter()
            stack.pop()
            self._tag(parent)
            with self._lock:
                self.rep.spans.append(sp)
                self.rep.overhead_s += own + time.perf_counter() - t0

    @contextlib.contextmanager
    def untagged(self):
        """Jobs issued inside (the benchmark's own counts) belong to no
        layer."""
        self.sc.setJobGroup("perfbench-untraced", "benchmark bookkeeping")
        try:
            yield
        finally:
            self._tag(None)

    def _patch(self, owner, attr: str, classify, on_call=None,
               on_result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name, layer = classify(args, kwargs)
            if on_call is not None:
                on_call(args, kwargs, layer)
            with self.span(name, layer):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        import guackg.io as gio
        import guackg.ops.clean as clean
        import guackg.pipeline as pipeline
        from guackg.lineage import Lineage

        def fixed(name, layer):
            return lambda args, kwargs: (name, layer)

        def table(path_pos):
            def classify(args, kwargs):
                path = args[path_pos] if len(args) > path_pos \
                    else kwargs["path"]
                name = os.path.basename(os.path.normpath(path))
                return name, TABLE_LAYER.get(name, "io")
            return classify

        def record_table(path_pos):
            def on_call(args, kwargs, layer):
                path = args[path_pos] if len(args) > path_pos \
                    else kwargs["path"]
                self.rep.tables[os.path.normpath(path)] = layer
            return on_call

        def count_skip(done):
            if done:
                self.rep.stages_skipped += 1

        def capture_cc_input(args, kwargs, layer):
            self.rep.cc_inputs.append(
                args[0] if args else kwargs["equivalence_edges"])

        for attr, layer in PIPELINE_ENTRY_POINTS.items():
            self._patch(pipeline, attr, fixed(attr, layer),
                        capture_cc_input
                        if attr == "connected_components" else None)
        self._patch(gio, "write_table", table(1), record_table(1))
        self._patch(gio, "merge_upsert", table(2), record_table(2))
        self._patch(Lineage, "record", fixed("record", "lineage"))
        self._patch(Lineage, "completed", fixed("completed", "lineage"),
                    on_result=count_skip)
        self._patch(pipeline.KGPipeline, "run", fixed("run", "pipeline"))
        self._patch(clean, "clean_corpus",
                    fixed("clean_corpus", "ops.clean"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def new_rep(self) -> Rep:
        self.rep = Rep()
        return self.rep


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(directory: str) -> list[dict]:
    """Events of every application logged under `directory`. Spark 4
    writes a rolling log: eventlog_v2_<app>/events_<n>_<app>[.zstd]."""
    import pyarrow as pa
    parts = []
    for root, _, files in os.walk(directory):
        for fn in files:
            if fn.startswith("events_"):
                parts.append((root, int(fn.split("_")[1]), fn))
    events: list[dict] = []
    for root, _, fn in sorted(parts):
        path = os.path.join(root, fn)
        if fn.endswith(".inprogress"):
            raise RuntimeError(f"event log {path} is still being written")
        if fn.endswith(".zstd"):
            with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
                data = s.read()
        elif "." not in fn:
            with open(path, "rb") as f:
                data = f.read()
        else:
            raise RuntimeError(f"unsupported event log codec: {path}")
        events.extend(json.loads(line) for line in data.splitlines()
                      if line.strip())
    if not events:
        raise RuntimeError(f"no Spark event log under {directory}")
    return events


def _num(v) -> float:
    return float(v or 0)


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)

    @classmethod
    def parse(cls, events: list[dict]) -> "EventLog":
        log = cls()
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None}
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                log.stage_group[ev["Stage Info"]["Stage ID"]] = \
                    props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                acc = defaultdict(float)
                for a in info.get("Accumulables") or []:
                    if a.get("Name") in (PY_EXEC_TIME, PY_SENT, PY_RECEIVED):
                        acc[a["Name"]] += _num(a.get("Update"))
                log.tasks.append({
                    "stage": ev["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "cpu_s": _num(m.get("Executor CPU Time")) / 1e9,
                    "shuffle_write_bytes": _num(
                        (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written")),
                    "spill_bytes": _num(m.get("Disk Bytes Spilled")),
                    "python_s": acc[PY_EXEC_TIME] / 1000.0,
                    "arrow_to_python_bytes": acc[PY_SENT],
                    "arrow_from_python_bytes": acc[PY_RECEIVED],
                })
        return log


# ---------------------------------------------------------------------------
# Interval arithmetic


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(intervals, lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo))
               for a, b in _union(intervals))


# ---------------------------------------------------------------------------
# Per-layer table


def layer_metrics(rep: Rep, log: EventLog) -> dict[str, float]:
    """Per-layer metrics of one traced repetition (every per_layer name
    except setup.*, which the workload supplies)."""
    by_id = {s.sid: s for s in rep.spans}
    children: dict[str, list[Span]] = defaultdict(list)
    for s in rep.spans:
        if s.parent in by_id:
            children[s.parent].append(s)

    def self_time(s: Span) -> float:
        return (s.end - s.start) - _covered(
            [(c.start, c.end) for c in children[s.sid]], s.start, s.end)

    out: dict[str, float] = {}
    by_layer: dict[str, list[Span]] = defaultdict(list)
    for s in rep.spans:
        by_layer[s.layer].append(s)
    jobs_by_layer: dict[str, int] = defaultdict(int)
    for job in log.jobs.values():
        sp = by_id.get(job["group"])
        if sp is not None:
            jobs_by_layer[sp.layer] += 1
    tasks_by_layer: dict[str, list[dict]] = defaultdict(list)
    for t in log.tasks:
        sp = by_id.get(log.stage_group.get(t["stage"]))
        if sp is not None:
            tasks_by_layer[sp.layer].append(t)

    rows_by_layer: dict[str, int] = defaultdict(int)
    for path, layer in rep.tables.items():
        rows_by_layer[layer] += rep.rows.get(path, 0)

    for layer in LAYERS:
        spans = by_layer.get(layer, [])
        tasks = tasks_by_layer.get(layer, [])
        ms = sorted(t["ms"] for t in tasks)
        m = {
            "wall_s": sum(b - a for a, b in
                          _union([(s.start, s.end) for s in spans])),
            "self_s": sum(self_time(s) for s in spans),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "jobs": jobs_by_layer.get(layer, 0),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"]
                                       for t in tasks),
            "spill_bytes": sum(t["spill_bytes"] for t in tasks),
            "task_skew": (ms[-1] / max(statistics.median(ms), 1.0))
            if ms else 0.0,
            "rows_out": rows_by_layer.get(layer, 0),
        }
        if layer in UDF_LAYERS:
            for k in UDF_METRICS:
                m[k] = sum(t[k] for t in tasks)
        for k, v in m.items():
            out[f"{layer}.{k}"] = v

    lineage = by_layer.get("lineage", [])
    out["lineage.wall_s"] = sum(
        b - a for a, b in _union([(s.start, s.end) for s in lineage]))
    out["lineage.stages_skipped"] = rep.stages_skipped
    runs = by_layer.get("pipeline", [])
    out["pipeline.self_s"] = sum(self_time(s) for s in runs)
    job_iv = [(j["start"], j["end"]) for j in log.jobs.values()
              if j["end"] is not None]
    out["pipeline.no_job_s"] = sum(
        (s.end - s.start) - _covered(job_iv, s.start, s.end) for s in runs)
    for k in EXTRA_METRICS:
        if k not in out:
            out[k] = rep.extra.get(k, 0.0)
    for op in GRAPH_OPS:
        for side in SIDES:
            layer = f"graph.{op}.{side}"
            out[f"{layer}.wall_s"] = sum(
                s.end - s.start for s in by_layer.get(layer, []))
            out[f"{layer}.jobs"] = jobs_by_layer.get(layer, 0)
    for op in ANALYTICS:
        out[f"graph.{op}.full.shuffle_write_bytes"] = sum(
            t["shuffle_write_bytes"]
            for t in tasks_by_layer.get(f"graph.{op}.full", []))
    return out


def counter_flags(a: dict[str, float], b: dict[str, float]) -> list[str]:
    return [f"{k}: {a.get(k)} != {b.get(k)}" for k in COUNTERS
            if a.get(k) != b.get(k)]


def format_table(metrics: dict[str, float]) -> str:
    cols = ("wall_s", "self_s", "executor_cpu_s", "jobs",
            "shuffle_write_bytes", "spill_bytes", "task_skew", "rows_out")
    head = ("layer", "wall_s", "self_s", "cpu_s", "jobs", "shuffle_MB",
            "spill_MB", "skew", "rows_out")
    lines = []
    for layer in LAYERS:
        v = [metrics[f"{layer}.{c}"] for c in cols]
        if not v[0] and not v[3]:
            continue      # the workload does not exercise this layer
        if not lines:
            lines.append("{:<16}{:>8}{:>8}{:>8}{:>6}{:>11}{:>9}{:>7}{:>10}"
                         .format(*head))
        lines.append(
            "{:<16}{:>8.2f}{:>8.2f}{:>8.2f}{:>6d}{:>11.2f}{:>9.2f}"
            "{:>7.1f}{:>10d}".format(
                layer, v[0], v[1], v[2], int(v[3]), v[4] / 2**20,
                v[5] / 2**20, v[6], int(v[7])))
    graph = [op for op in GRAPH_OPS
             if any(metrics[f"graph.{op}.{side}.jobs"] for side in SIDES)]
    if graph:
        lines.append("{:<16}".format("graph op") + "".join(
            f"{side + ' s':>10}{'jobs':>6}" for side in SIDES))
        for op in graph:
            lines.append("{:<16}".format(op) + "".join(
                "{:>10.3f}{:>6d}".format(
                    metrics[f"graph.{op}.{side}.wall_s"],
                    int(metrics[f"graph.{op}.{side}.jobs"]))
                for side in SIDES))
    rest = [k for k in per_layer_names()
            if not k.startswith("graph.")
            and not any(k == f"{layer}.{c}" for layer in LAYERS
                        for c in cols)]
    lines.append("  ".join(f"{k}={metrics[k]:.4g}" for k in rest
                           if metrics.get(k)))
    return "\n".join(lines)
