"""Benchmark runner: one workload in one fresh process, one result line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It builds nothing: the engine is the
``etl_orders_spark`` package next to this directory, on
``local[<cores>]`` with ``SPARK_GRAFT_CPUS=<cores>``. One client drives
it in a closed loop: each call starts after the previous one returned.

Workloads
- ``corpus``: LLM-curation lanes of the plan registry over a fixed
  seeded corpus. A cold pass clears Spark's cache before each lane;
  warm passes keep every cache. The seed shuffles the lane order of
  every pass. A lane call is its builder plus ``collect()``; every
  result is checked against the pinned DuckDB-oracle row count and
  value hash in ``expected.json``.
- ``etl_load``: ``run_pipeline.run`` (CSV/JSON in, broadcast star
  joins, parquet out, read back) over inputs written by the seeded
  ``sources.generator`` functions. The first run is the cold pass,
  later runs are warm passes. Row counts are checked on every run;
  the cold and the last warm output are checked row for row against a
  DuckDB re-run of the star join.

Timing starts at the first timed call: a cold pass, then warm passes
for ``--seconds`` (at least two for ``corpus``, four for ``etl_load``),
always finishing the pass in progress. The end-to-end metrics are CPU
seconds of the process tree; wall seconds are in the metadata line.
``--trace 1`` reruns the same workload with spans, counters, job groups
and the Spark event log on, and reports per-layer metrics instead of
end-to-end ones.

The last line on stdout is the result object; the line before it holds
the run's metadata. Spans and the per-job-group table of a traced run
are written to ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import data  # noqa: E402
import tracing  # noqa: E402

CORPUS_LANES = (
    "dsir_importance_resample",
    "cdc_chunk_dedup_fast",
    "kneser_ney_trigram_docs",
)
# the corpus is fixed so the pinned oracle values hold; --seed draws the
# lane orders
DATA_SEED = 20240101
CORPUS_SF = {False: 0.01, True: 0.001}  # by --smoke
ETL_ORDERS = {False: 500_000, True: 3_000}

# CPU seconds of the whole process tree (Python driver, driver JVM,
# Python workers): on a virtual machine whose hypervisor takes a
# varying share of the CPUs, wall times of the same code moved by up to
# 2x between runs while CPU seconds held. Wall times go to the metadata.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_pass_cpu_s": "s",
    "warm_op_cpu_p50_s": "s",
    "rows_per_cpu_s": "1/s",
}


# --- process helpers --------------------------------------------------


def process_age() -> float:
    """Seconds since this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and its descendants
    (the driver JVM and the Python workers), sampled twice a second."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        pid = os.getpid()
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [pid, *descendants(pid)]))

    def run(self) -> None:
        while not self._halt.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def configure_env(tmp: str, trace: bool) -> int:
    """Point every scratch location of Spark and Python into ``tmp``
    and size the session to this machine's cores. Must run before
    pyspark or the engine is imported."""
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(tmp, "tmp")
    os.makedirs(scratch)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={scratch}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            # zstd is Spark 4's default codec and the zstandard module
            # is not installed to read it back
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return cores


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if not descendants(os.getpid()):
            break
        time.sleep(0.1)


def tree_cpu() -> float:
    """CPU seconds used so far by this process and its descendants,
    counting the reaped children of each. Time the hypervisor steals is
    not in it."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and process-tree CPU seconds of a block."""

    def __enter__(self) -> "Clock":
        self.cpu0, self.t0 = tree_cpu(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu() - self.cpu0


def cpu_ticks() -> list[int]:
    """The machine's CPU ticks since boot: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def box_busy(window: float = 0.3) -> float:
    """Share of the machine's CPU time busy over ``window`` seconds."""
    a = cpu_ticks()
    time.sleep(window)
    d = [y - x for x, y in zip(a, cpu_ticks())]
    return 1 - (d[3] + d[4]) / max(1, sum(d))


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def calibration_probe(spark) -> float:
    """The engine bench's box-speed probe: xxhash64 over a 2^26-row
    range, timed once on the warm JVM."""
    t0 = time.perf_counter()
    spark.range(0, 1 << 26, 1, 32).selectExpr(
        "sum(xxhash64(id, id * 31) % 1000000) AS s"
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# --- the run ----------------------------------------------------------


class Run:
    """State shared by both workloads: the session, the tracer, the
    ops and passes timed so far, and the failed ops."""

    def __init__(self, args, spark, tracer: tracing.Tracer, cores: int, tmp: str) -> None:
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.cores = cores
        self.tmp = tmp
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.failures: dict[tuple[str, int], str] = {}
        self.setup_s = self.setup_wall_s = 0.0
        self._group = [args.workload, "-", None, 0]  # workload, op, phase, pass
        tracer.on_phase = self._set_phase

    def _set_phase(self, phase: str | None) -> str | None:
        outer = self._group[2]
        self._group[2] = phase
        sc = self.spark.sparkContext
        if phase is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(":".join(str(x) for x in self._group), "")
        return outer

    def fail(self, op: dict, problem: str) -> None:
        """Count ``op`` as failed; an op fails once however many of its
        checks fail."""
        key = (op["op"], op["pass"])
        self.failures.setdefault(key, problem)
        print(f"FAILED {op['op']} pass {op['pass']}: {problem}", file=sys.stderr, flush=True)

    def run_pass(self, phase: str, ops, muted: bool = False) -> None:
        """Run ``ops`` — (name, call) pairs — as one pass. ``call(op)``
        returns the op's latency and may store its result in ``op``.
        Records the pass wall time and, when traced, its spans and
        counters."""
        tr, index = self.tracer, len(self.passes)
        tr.muted = muted
        first_span, counts_before = len(tr.spans), dict(tr.counts)
        wall = cpu = 0.0
        for name, call in ops:
            op = {"op": name, "phase": phase, "pass": index, "s": None}
            self.ops.append(op)
            self._group[1], self._group[3] = name, index
            tr.query = f"{name}:{index}"
            try:
                with tr.span("query", op=name, phase=phase, pass_index=index):
                    op["s"] = call(op)
                wall += op["s"]
                cpu += op["cpu"]
            except Exception as e:  # noqa: BLE001 — counted, never skipped
                traceback.print_exc()
                self.fail(op, f"{type(e).__name__}: {e}")
            finally:
                if tr.on:
                    self._set_phase(None)
        rec = {"index": index, "phase": phase, "wall": wall, "cpu": cpu, "muted": muted}
        if tr.on:
            rec["spans"] = (first_span, len(tr.spans))
            rec["counts"] = {k: v - counts_before.get(k, 0) for k, v in tr.counts.items()}
            storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            rec["cached_bytes"] = sum(i.memSize() + i.diskSize() for i in storage)
        tr.muted = False
        self.passes.append(rec)

    def timed_passes(self, make_ops, min_warm: int) -> None:
        """One cold pass, then warm passes for ``--seconds`` and at
        least ``min_warm`` of them (smoke runs: ``min_warm``). Later
        warm passes cost less than the first ones, so a floor on their
        number keeps the median from following the machine's speed. A
        traced run alternates traced and untraced warm passes, so the
        tracing overhead is measured in one process."""
        self.setup_s, self.setup_wall_s = tree_cpu(), process_age()
        self.run_pass("cold", make_ops(cold=True))
        warm_start, n_warm = time.perf_counter(), 0
        while n_warm < min_warm or not (
            self.args.smoke or time.perf_counter() - warm_start >= self.args.seconds
        ):
            muted = self.tracer.enabled and n_warm % 2 == 1
            self.run_pass("warm", make_ops(cold=False), muted=muted)
            n_warm += 1


def corpus(run: Run) -> dict:
    """Cold pass, then warm passes; every lane result is checked."""
    from etl_orders_spark.plans.registry import query_map

    spark, tr = run.spark, run.tracer
    sf = CORPUS_SF[run.args.smoke]
    builders = query_map()
    expected = checks.expected_lanes(sf)
    if run.args.expect_wrong:
        expected[CORPUS_LANES[0]] = {"rows": -1, "hash": "0" * 32}
    sf_dir = os.path.join(run.tmp, "data")
    n_rows = data.write_tables(sf_dir, sf, DATA_SEED)
    # untimed warm-up: the session's first parquet scan and shuffle, and
    # the start of the Python workers that the lanes' UDFs run in
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.repartition(run.cores).mapInPandas(lambda batches: batches, docs.schema).count()

    def lane_call(lane: str):
        def call(op: dict) -> float:
            with Clock() as clock:
                with tr.span("plans.build"), tr.phase("build"):
                    df = builders[lane](spark, sf_dir)
                with tr.span("exec.action"), tr.phase("action"):
                    rows = df.collect()
            op["cpu"] = clock.cpu
            if tr.on:
                # collect() ran the frame's own QueryExecution, so its
                # phase tracker already holds the timings
                for phase, s in tracing.catalyst_phases(df).items():
                    tr.count(f"catalyst.{phase}_s", s)
            got = {"rows": len(rows), "hash": checks.value_hash(df.columns, rows)}
            if got != expected[lane]:
                run.fail(op, f"result {got} != expected {expected[lane]}")
            return clock.wall

        return call

    rng = random.Random(run.args.seed)

    def make_ops(cold: bool):
        if cold:
            # the lanes share no stage, so one clear before the pass
            # leaves every lane cold (the cold pass counts no stage hit)
            # and the first warm pass finds every lane's stages filled
            spark.catalog.clearCache()
        return [(lane, lane_call(lane)) for lane in rng.sample(CORPUS_LANES, len(CORPUS_LANES))]

    run.timed_passes(make_ops, min_warm=2)
    return {"unit_rows": n_rows["documents"] * len(CORPUS_LANES), "lanes": list(CORPUS_LANES), "sf": sf}


def etl_load(run: Run) -> dict:
    """Cold pipeline run, then warm runs. After timing, every run's
    loaded counts and the cold and last warm outputs are checked
    against the DuckDB re-run."""
    import etl_orders_spark.run_pipeline as pipeline
    from etl_orders_spark.sources import generator

    spark, seed = run.spark, run.args.seed
    n_orders = ETL_ORDERS[run.args.smoke]
    inputs = os.path.join(run.tmp, "inputs")
    os.makedirs(inputs)
    base = 16 * seed
    for name, df in (
        ("orders", generator.gen_orders(spark, n_orders, seed=base)),
        ("products", generator.gen_products(spark, seed=base + 4)),
        ("users", generator.gen_users(spark)),
    ):
        df.write.mode("overwrite").option("header", "true").csv(os.path.join(inputs, f"{name}_csv"))
    info = [r.asDict() for r in generator.gen_user_info(spark, seed=base + 8).collect()]
    with open(os.path.join(inputs, "user_info.json"), "w") as f:
        json.dump({"status": 200, "data": info}, f)

    def make_ops(cold: bool):
        out_dir = os.path.join(run.tmp, "out_cold" if cold else "out_warm")

        def call(op: dict) -> float:
            with Clock() as clock, run.tracer.span("exec.action"), run.tracer.phase("action"):
                op["counts"] = pipeline.run(spark, inputs, out_dir)
            op["out_dir"], op["cpu"] = out_dir, clock.cpu
            return clock.wall

        return [("pipeline", call)]

    run.timed_passes(make_ops, min_warm=4)
    oracle = checks.EtlOracle(inputs, wrong=run.args.expect_wrong)
    done = [op for op in run.ops if op["s"] is not None]
    for op in done:
        if op["counts"] != oracle.counts:
            run.fail(op, f"loaded {op['counts']} != expected {oracle.counts}")
    # the cold output and the last warm one are still on disk
    last = {op["out_dir"]: op for op in done}
    for op in last.values():
        for problem in oracle.compare(op["out_dir"]):
            run.fail(op, problem)
    return {"unit_rows": oracle.counts["ORDERS"], "orders_csv_rows": n_orders}


WORKLOADS = {"corpus": corpus, "etl_load": etl_load}


# --- metrics ----------------------------------------------------------


def end_to_end(run: Run, info: dict) -> dict[str, float]:
    """CPU-second metrics, and the same figures in wall seconds for the
    metadata."""
    out = {"setup_s": run.setup_s}
    for clock in ("cpu", "wall"):
        cold = [p[clock] for p in run.passes if p["phase"] == "cold"]
        warm = statistics.median(p[clock] for p in run.passes if p["phase"] == "warm")
        ops = [o[clock if clock == "cpu" else "s"] for o in run.ops if o["phase"] == "warm"]
        out.update({
            f"cold_pass_{clock}_s": cold[0],
            f"warm_pass_{clock}_s": warm,
            f"warm_op_{clock}_p50_s": statistics.median(ops),
            f"rows_per_{clock}_s": info["unit_rows"] / warm,
        })
    return out


# per-layer metric -> unit; times are self times of the pass's spans
LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "materialize.stage_calls": "count", "materialize.stage_hits": "count",
    "materialize.stage_hit_ratio": "ratio", "materialize.stage_s": "s",
    "materialize.checkpoint_calls": "count", "materialize.checkpoint_s": "s",
    "materialize.cached_bytes": "bytes",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_bytes": "bytes",
    "udf.python_run_s": "s", "udf.python_boot_s": "s",
    "udf.bytes_to_python": "bytes", "udf.bytes_from_python": "bytes",
    "sources.read_s": "s", "sources.write_s": "s", "sources.bytes_in": "bytes",
    "sources.bytes_out": "bytes", "sources.out_per_in_bytes": "ratio",
}
# the cold pass's share of the table: where filling caches and first
# calls cost
COLD_LAYER = (
    "plans.build_s", "plans.build_jobs", "materialize.stage_calls", "materialize.stage_hits",
    "materialize.cached_bytes",
    "exec.action_s", "exec.jobs", "exec.executor_run_s", "udf.python_run_s", "udf.python_boot_s",
    "sources.read_s", "sources.write_s",
)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **LAYER_UNITS,
    **{f"cold.{k}": LAYER_UNITS[k] for k in COLD_LAYER},
    "trace.warm_pass_s": "s",
    "trace.overhead_s": "s",
    "mem.peak_rss_mb": "MB",
}


def _events_by_pass(workload: str, groups: dict) -> dict[int, dict[str, dict]]:
    """Event-log totals per pass: over all its job groups, and over its
    ``build`` groups alone."""
    out: dict[int, dict[str, dict]] = {}
    for key, g in groups.items():
        parts = key.split(":")
        if len(parts) != 4 or parts[0] != workload:
            continue
        slot = out.setdefault(int(parts[3]), {"all": {}, "build": {}})
        for bucket in ("all", "build") if parts[2] == "build" else ("all",):
            into = slot[bucket]
            for k, v in g.items():
                into[k] = max(into.get(k, 0), v) if k == "peak_exec_mem_bytes" else into.get(k, 0) + v
    return out


def per_layer(run: Run, groups: dict, session_s: float, peak_mb: float) -> dict[str, float]:
    """Per-layer metrics: the mean over traced warm passes, a ``cold.``
    subset of the cold pass, the tracing overhead, and peak memory
    (which repeats too loosely across runs to gate on)."""
    tr = run.tracer
    self_s = tracing.self_times(tr.spans)
    events = _events_by_pass(run.args.workload, groups)

    def layer(p: dict) -> dict[str, float]:
        a, b = p["spans"]

        def own(*names: str) -> float:
            return sum(self_s[s["id"]] for s in tr.spans[a:b] if s["name"] in names)

        c = p["counts"]
        ev = events.get(p["index"], {"all": {}, "build": {}})
        ex = ev["all"]
        calls, hits = c.get("materialize.stage_calls", 0), c.get("materialize.stage_hits", 0)
        bytes_in, bytes_out = c.get("sources.bytes_in", 0), c.get("sources.bytes_out", 0)
        return {
            "plans.build_s": own("plans.build"),
            "plans.build_jobs": ev["build"].get("jobs", 0),
            **{f"catalyst.{ph}_s": c.get(f"catalyst.{ph}_s", 0.0)
               for ph in ("analysis", "optimization", "planning")},
            "materialize.stage_calls": calls,
            "materialize.stage_hits": hits,
            # base: the pass's stage_calls
            "materialize.stage_hit_ratio": hits / calls if calls else 0.0,
            "materialize.stage_s": own("materialize.cache_stage"),
            "materialize.checkpoint_calls": c.get("materialize.checkpoint_calls", 0),
            "materialize.checkpoint_s": own("materialize.checkpoint", "materialize.materialize_small"),
            "materialize.cached_bytes": p["cached_bytes"],
            "exec.action_s": own("exec.action"),
            **{f"exec.{k}": ex.get(k, 0) for k in tracing.EXEC_TOTALS},
            **{k: ex.get(k, 0) for k in tracing.UDF_TOTALS},
            "exec.core_busy_ratio": ex.get("executor_run_s", 0) / (p["wall"] * run.cores),
            "sources.read_s": own("sources.read"),
            "sources.write_s": own("sources.write"),
            "sources.bytes_in": bytes_in,
            "sources.bytes_out": bytes_out,
            "sources.out_per_in_bytes": bytes_out / bytes_in if bytes_in else 0.0,
        }

    traced = [p for p in run.passes if p["phase"] == "warm" and not p["muted"]]
    untraced = [p["wall"] for p in run.passes if p["phase"] == "warm" and p["muted"]]
    rows = [layer(p) for p in traced]
    cold = layer(run.passes[0])
    traced_wall = statistics.median(p["wall"] for p in traced)
    return {
        "session.start_s": session_s,
        **{k: statistics.fmean(r[k] for r in rows) for k in LAYER_UNITS},
        **{f"cold.{k}": cold[k] for k in COLD_LAYER},
        "trace.warm_pass_s": traced_wall,
        "trace.overhead_s": traced_wall - statistics.median(untraced),
        "mem.peak_rss_mb": peak_mb,
    }


def write_trace(run: Run, groups: dict, path: str) -> None:
    """Spans with their self times, passes and the per-job-group table."""
    self_s = tracing.self_times(run.tracer.spans)
    spans = [{**s, "self": self_s[s["id"]]} for s in run.tracer.spans]
    passes = [{k: v for k, v in p.items() if k != "spans"} for p in run.passes]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"passes": passes, "spans": spans, "job_groups": groups}, f, default=float)


# --- main -------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, two warm passes")
    ap.add_argument(
        "--expect-wrong", action="store_true",
        help="corrupt one expected value; the run must count a failure",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_orders_spark")):
        print(f"engine package etl_orders_spark not found under {ROOT}", file=sys.stderr)
        return 2
    load_before, busy_before = load_average(), box_busy()
    scratch = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    try:
        return measure(args, tmp, load_before, busy_before)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(args, tmp: str, load_before: float, busy_before: float) -> int:
    cores = configure_env(tmp, bool(args.trace))
    sys.path.insert(0, ROOT)
    tracer = tracing.Tracer(bool(args.trace))
    if tracer.enabled:
        # before the registry loads: some plan modules bind
        # materialize_small at import time
        tracing.install_wrappers(tracer)
    import pyspark

    from etl_orders_spark.session import get_spark

    sampler = RssSampler()
    sampler.start()
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    run = Run(args, spark, tracer, cores, tmp)
    try:
        info = WORKLOADS[args.workload](run)
        peak_mb = sampler.stop()
        ticks1 = cpu_ticks()
        calibration_s = calibration_probe(spark)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        if sampler.is_alive():
            sampler.stop()
        stop_spark(spark)

    attempted, failed = len(run.ops), len(run.failures)
    warm_ops = [o for o in run.ops if o["phase"] == "warm"]
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "java": java,
        "load_before": load_before,
        "load_after": load_average(),
        # a run that starts on a busy machine, and the share of the
        # machine's CPU time its hypervisor took away during the run
        "busy_before": busy_before,
        "loaded_box": busy_before > 0.5,
        "steal_frac": (ticks1[7] - ticks0[7]) / max(1, sum(ticks1) - sum(ticks0)),
        "calibration_s": calibration_s,
        "session_s": session_s,
        "setup_wall_s": run.setup_wall_s,
        "passes": [{k: p[k] for k in ("phase", "wall", "cpu", "muted")} for p in run.passes],
        "warm_samples": len(warm_ops),
        "ops": [[o["op"], o["pass"], o["s"], o.get("cpu")] for o in run.ops],
        "failed_frac": failed / attempted,
        "failures": [f"{op} pass {i}: {why}" for (op, i), why in run.failures.items()],
        **{k: v for k, v in info.items() if k != "unit_rows"},
    }
    if args.trace:
        groups = tracing.parse_event_log(tracing.event_log_file(os.path.join(tmp, "eventlog")))
        values, units = per_layer(run, groups, session_s, peak_mb), PER_LAYER_UNITS
        out_path = os.path.join(ROOT, ".bench_out", f"{args.workload}-seed{args.seed}-trace.json")
        write_trace(run, groups, out_path)
        meta["trace_file"] = os.path.relpath(out_path, ROOT)
    else:
        values, units = end_to_end(run, info), END_TO_END_UNITS
        meta["wall"] = {k: v for k, v in values.items() if "_wall_" in k}
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
