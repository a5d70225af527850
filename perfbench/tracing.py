"""Spans, counters and Spark event-log parsing for the traced run.

Everything here lives on the benchmark side: spans are opened around
calls into the engine's public functions, never inside the engine.
``install_wrappers`` patches the module attributes a traced run needs
(stage caches, checkpoints, readers, the pipeline's parquet writer) and
must run before the plan registry and ``run_pipeline`` are imported,
because some plan modules bind ``materialize_small`` at import time.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from urllib.parse import unquote, urlparse


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.muted = False
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.query: str | None = None
        # called with a phase name ("build", "action") so Spark jobs
        # started inside that phase carry it in their job group
        self.on_phase = None
        self._stack: list[dict] = []

    @contextmanager
    def phase(self, name: str):
        """Tag the Spark jobs started inside the block with ``name``;
        the enclosing phase is restored afterwards."""
        if not self.on or self.on_phase is None:
            yield
            return
        outer = self.on_phase(name)
        try:
            yield
        finally:
            self.on_phase(outer)

    @property
    def on(self) -> bool:
        return self.enabled and not self.muted

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "query": self.query,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            self.counts[name] += n

    def inside(self, name: str) -> bool:
        """True when an open span of this name encloses the caller."""
        return any(s["name"] == name for s in self._stack)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], ())):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri


def tree_bytes(path: str) -> int:
    """Bytes of the data files under a file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith(("_", "."))
        )
    return total


def input_bytes(df) -> int:
    """Bytes of the files a DataFrame's plan scans."""
    return sum(os.path.getsize(_local_path(u)) for u in df.inputFiles())


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of a DataFrame's
    query execution, from its QueryPlanningTracker. Forces the
    executed plan so the last two phases exist."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def install_wrappers(tracer: Tracer) -> None:
    """Patch the staging primitives, the readers and the pipeline's
    parquet writer so each call records a span and its counters."""
    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import etl_orders_spark.operators.materialize as M
    import etl_orders_spark.sources.readers as R

    cache_stage = M.cache_stage

    def traced_cache_stage(df, key):
        prior = list(M._STAGE_CACHE.get(key, ()))
        with tracer.span("materialize.cache_stage", key=key):
            out = cache_stage(df, key)
        tracer.count("materialize.stage_calls")
        if any(out is h for h in prior):
            tracer.count("materialize.stage_hits")
        return out

    materialize_small = M.materialize_small

    def traced_materialize_small(df):
        with tracer.span("materialize.materialize_small"):
            return materialize_small(df)

    # the classic (non-Connect) DataFrame overrides the base method
    local_checkpoint = ClassicDataFrame.localCheckpoint

    def traced_local_checkpoint(self, *args, **kwargs):
        with tracer.span("materialize.checkpoint"):
            out = local_checkpoint(self, *args, **kwargs)
        tracer.count("materialize.checkpoint_calls")
        return out

    M.cache_stage = traced_cache_stage
    M.materialize_small = traced_materialize_small
    ClassicDataFrame.localCheckpoint = traced_local_checkpoint

    def wrap_reader(name, fn):
        def traced(*args, **kwargs):
            outer = not tracer.inside("sources.read")
            with tracer.span("sources.read", fn=name):
                out = fn(*args, **kwargs)
            if outer and tracer.on:
                frames = out if isinstance(out, tuple) else (out,)
                # a quarantine reader returns lanes of ONE parse: count
                # the parse's files once
                frame = frames[-1]
                if isinstance(frame, DataFrame) and not frame.isStreaming:
                    tracer.count("sources.bytes_in", input_bytes(frame))
            return out

        traced.__name__ = name
        return traced

    for name in dir(R):
        fn = getattr(R, name)
        if name.startswith(("read_", "load_")) and callable(fn) and fn.__module__ == R.__name__:
            setattr(R, name, wrap_reader(name, fn))

    import etl_orders_spark.run_pipeline as P

    def wrap_builder(fn):
        def traced(*args, **kwargs):
            with tracer.span("plans.build", fn=fn.__name__), tracer.phase("build"):
                return fn(*args, **kwargs)

        traced.__name__ = fn.__name__
        return traced

    for name in ("transform_users", "transform_orders", "final_orders_for_load"):
        setattr(P, name, wrap_builder(getattr(P, name)))

    write_parquet = P.write_parquet

    def traced_write_parquet(df, path, *args, **kwargs):
        if tracer.on:
            with tracer.span("catalyst"):
                for phase, s in catalyst_phases(df).items():
                    tracer.count(f"catalyst.{phase}_s", s)
        with tracer.span("sources.write"):
            write_parquet(df, path, *args, **kwargs)
        tracer.count("sources.bytes_out", tree_bytes(path))

    P.write_parquet = traced_write_parquet


# --- event log --------------------------------------------------------

_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}

# the totals parse_event_log keeps per job group
EXEC_TOTALS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
)
UDF_TOTALS = ("udf.python_run_s", "udf.python_boot_s", "udf.bytes_to_python", "udf.bytes_from_python")


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _python_metric(name: str) -> str | None:
    """Map a plan metric's display name onto a udf.* metric. Spark 4.1
    names them "time to start / initialize / run Python workers" and
    "data sent to / returned from Python workers"."""
    low = name.lower()
    if "python" not in low:
        return None
    if "data sent" in low:
        return "udf.bytes_to_python"
    if "data returned" in low:
        return "udf.bytes_from_python"
    if "boot" in low or "start" in low or "initiali" in low:
        return "udf.python_boot_s"
    if "time" in low:
        return "udf.python_run_s"
    return None


def parse_event_log(path: str) -> dict[str, Counter]:
    """Per job group: jobs, stages, tasks and the executor, shuffle,
    spill, memory and Python-worker totals of their tasks."""
    stage_group: dict[int, str] = {}
    metric_of: dict[int, tuple[str, str]] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                groups[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                _plan_metrics(ev["sparkPlanInfo"], metric_of)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                _plan_metrics({"metrics": ev["sqlPlanMetrics"]}, metric_of)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "-")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "-")]
                g["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                g["peak_exec_mem_bytes"] = max(
                    g["peak_exec_mem_bytes"], tm.get("Peak Execution Memory", 0)
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    name, mtype = metric_of.get(acc["ID"], ("", ""))
                    key = _python_metric(name)
                    if key and acc.get("Update") is not None:
                        g[key] += float(acc["Update"]) * _SCALE.get(mtype, 1.0)
    return groups


def event_log_file(log_dir: str) -> str:
    """The single application log a benchmark process writes."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
