"""Benchmark entry point.

    python3 perfbench/run.py --workload imdb_nightly --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine's
SparkSession on ``local[<cpus>]``, runs the workload's fixed, seeded
set of timed operations (``--seconds`` is accepted but does not change
them, so every run of a workload times the same operations), checks
every output against DuckDB or a plain-Python reference, and prints
two lines: the input sizes, set-up split,
self times and failures as one JSON object, then the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
tags jobs with span job groups, writes Spark's event log, and reports
the per-layer metrics instead. Spans go to
``.perfbench_work/traces/<workload>-<seed>-trace<n>.json``.

Everything the run writes stays under ``.perfbench_work/`` at the
root of the checkout and is removed at the end, except the traces.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "session.jit_cpu_ms": "ms",
    "session.core_busy_share": "ratio",
    "session.gc_share": "ratio",
    "sources.tsv.scan_s": "s",
    "sources.tsv.scan_tasks": "count",
    "sources.tsv.scan_task_s": "s",
    "sources.lake.write_s": "s",
    "sources.lake.files_written": "count",
    "sources.lake.mean_file_kb": "KB",
    "pipelines.etl_s": "s",
    "pipelines.etl_tasks": "count",
    "pipelines.etl_shuffle_mb": "MB",
    "pipelines.etl_spill_mb": "MB",
    "pipelines.models_s": "s",
    "pipelines.report_s": "s",
    "quality.validate_s": "s",
    "quality.jobs_per_expectation": "ratio",
    "lifecycle.ingest_s": "s",
    "lifecycle.ingest_skip_ratio": "ratio",
    "lifecycle.catalog_s": "s",
    "lifecycle.cdc_apply_s": "s",
    "lifecycle.cdc_rows_written_per_changed_row": "ratio",
    "lifecycle.retention_s": "s",
    "lifecycle.retention_bytes_freed": "bytes",
    "lifecycle.artifacts_build_s": "s",
    "lifecycle.artifacts_hit_ratio": "ratio",
    "lifecycle.artifacts_serve_ms": "ms",
    "streaming.ivm_trigger_s": "s",
    "streaming.ivm_batches": "count",
    "plans.build_ms": "ms",
    "plans.exec_ms": "ms",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.shuffle_kb_per_query": "KB",
    "plans.scan_rows_per_output_row": "ratio",
    "extensions.exact_dedup_s": "s",
    "extensions.minhash_s": "s",
    "extensions.textstats_s": "s",
    "extensions.tokenindex_build_s": "s",
    "extensions.bm25_topk_s": "s",
    "extensions.candidate_pairs": "count",
    "extensions.pair_precision": "ratio",
    "neardup_recall": "ratio",
    "stored_bytes_ratio": "ratio",
    "read_p50_ms": "ms",
    "trace.op_cpu_ms": "ms",
    "trace.op_mean_ms": "ms",
    "trace.op_p90_ms": "ms",
}

OP_NAMES = ("batch", "query")
SETUPS = 3


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Seeded engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc",
                    help="SPARK_GRAFT_CPUS; 'nproc' = the CPUs this process may use")
    ap.add_argument("--driver-mem", default="2g", help="SPARK_GRAFT_DRIVER_MEM")
    ap.add_argument("--local-dirs", default="spark-local",
                    help="SPARK_LOCAL_DIRS, under .perfbench_work/ at the checkout root")
    return ap.parse_args(argv)


def pin_host(args: argparse.Namespace, work: str) -> int:
    """Engine session knobs from the host; returns the core count."""
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    local = os.path.join(WORK_ROOT, args.local_dirs, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    # keep the JVM's and the Python workers' scratch files in the checkout
    os.environ["TMPDIR"] = tmp
    # idle JIT compiler threads stay alive, so cpu_clock sees all of
    # their CPU time; what is compiled, and how many threads may
    # compile, is unchanged
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cpus


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_clock() -> tuple[float, dict[int, float]]:
    """CPU seconds used so far by this process and every live
    descendant (the Spark JVM and its Python workers), counting the
    children each of them has reaped, and, per thread id, the CPU
    seconds of the JVM's live JIT compiler threads. Time the hypervisor
    steals from the guest is in neither."""
    tick = os.sysconf("SC_CLK_TCK")
    total, jit = 0, {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if comm != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    tf = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            jit[int(tid)] = (int(tf[11]) + int(tf[12])) / tick
    return total / tick, jit


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the Py4J gateway's JVM and wait until it and every process
    it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") and not _zombie(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after {timeout:.0f}s: {pids}")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean_ms(xs: list[float]) -> float:
    return statistics.fmean(xs) * 1000 if xs else 0.0


def _p90(xs: list[float]) -> float:
    import numpy as np

    return float(np.percentile(xs, 90)) if xs else 0.0


class LayerView:
    """Span and counter lookups relative to the timed operations."""

    def __init__(self, tracer, counters: dict[int, dict]):
        self.spans = tracer.spans
        self.counters = counters
        self.by_id = {s["id"]: s for s in self.spans}
        self.ops = [s for s in self.spans if s["name"] in OP_NAMES]
        op_ids = {s["id"] for s in self.ops}
        self.op_of: dict[int, int] = {}
        for s in self.spans:
            p = s["id"]
            while p is not None and p not in op_ids:
                p = self.by_id[p]["parent"]
            if p is not None:
                self.op_of[s["id"]] = p

    def within(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["id"] in self.op_of]

    def per_op(self, name: str, value) -> float:
        """Median over operations of the per-operation sum of
        ``value(span)`` over spans called ``name``; 0 if none ran."""
        sums: dict[int, float] = {}
        for s in self.within(name):
            sums[self.op_of[s["id"]]] = sums.get(self.op_of[s["id"]], 0.0) + value(s)
        return _median(list(sums.values()))

    def secs(self, name: str) -> float:
        return self.per_op(name, lambda s: s["end"] - s["start"])

    def count(self, name: str, key: str) -> float:
        return self.per_op(name, lambda s: self.counters.get(s["id"], {}).get(key, 0))

    def total(self, spans: list[dict], key: str) -> float:
        return float(sum(self.counters.get(s["id"], {}).get(key, 0) for s in spans))

    def attr(self, name: str, key: str) -> float:
        return float(sum(s["attrs"].get(key, 0) for s in self.within(name)))


def layer_metrics(tracer, counters, ctx, cores: int, wl) -> dict[str, float]:
    v = LayerView(tracer, counters)
    ops = v.ops
    op_wall = sum(s["end"] - s["start"] for s in ops)
    run_ms = v.total(ops, "run_ms")
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    starts = tracer.durations("session.start")
    m["session.start_s"] = starts[0] if starts else 0.0
    m["session.core_busy_share"] = run_ms / 1000.0 / (op_wall * cores) if op_wall else 0.0
    m["session.gc_share"] = v.total(ops, "gc_ms") / run_ms if run_ms else 0.0
    m["sources.tsv.scan_s"] = v.secs("sources.tsv.scan")
    m["sources.tsv.scan_tasks"] = v.count("pipelines.etl", "csv_tasks")
    m["sources.tsv.scan_task_s"] = v.count("pipelines.etl", "csv_task_ms") / 1000.0
    writes = [counters.get(s["id"], {}).get("out_job_ms", 0) / 1000.0 for s in ops]
    m["sources.lake.write_s"] = _median([w for w in writes if w > 0])
    files = ctx.layer.get("sources.lake.files_written", 0)
    m["sources.lake.files_written"] = files
    m["sources.lake.mean_file_kb"] = (
        ctx.layer.get("_lake_bytes_written", 0) / files / 1024.0 if files else 0.0
    )
    m["pipelines.etl_s"] = v.secs("pipelines.etl")
    m["pipelines.etl_tasks"] = v.count("pipelines.etl", "tasks")
    m["pipelines.etl_shuffle_mb"] = v.count("pipelines.etl", "shuffle_write_b") / 2**20
    m["pipelines.etl_spill_mb"] = v.count("pipelines.etl", "spill_b") / 2**20
    m["pipelines.models_s"] = v.secs("pipelines.models")
    m["pipelines.report_s"] = v.secs("pipelines.report")
    m["quality.validate_s"] = v.secs("quality.validate")
    expectations = v.attr("quality.validate", "expectations")
    if expectations:
        m["quality.jobs_per_expectation"] = (
            v.total(v.within("quality.validate"), "jobs") / expectations
        )
    m["lifecycle.ingest_s"] = v.secs("lifecycle.ingest")
    datasets = v.attr("lifecycle.ingest", "datasets")
    if datasets:
        m["lifecycle.ingest_skip_ratio"] = v.attr("lifecycle.ingest", "skipped") / datasets
    m["lifecycle.catalog_s"] = v.secs("lifecycle.catalog")
    m["lifecycle.cdc_apply_s"] = v.secs("lifecycle.cdc_apply")
    changed = v.attr("lifecycle.cdc_apply", "changed_rows")
    if changed:
        m["lifecycle.cdc_rows_written_per_changed_row"] = (
            v.total(v.within("lifecycle.cdc_apply"), "out_records") / changed
        )
    m["lifecycle.retention_s"] = v.secs("lifecycle.retention")
    m["lifecycle.retention_bytes_freed"] = v.per_op(
        "lifecycle.retention", lambda s: s["attrs"].get("bytes_freed", 0)
    )
    builds = tracer.named("extensions.tokenindex_build")
    serves = tracer.named("lifecycle.artifacts")
    m["lifecycle.artifacts_build_s"] = tracer.total("extensions.tokenindex_build")
    m["extensions.tokenindex_build_s"] = v.total(builds, "run_ms") / 1000.0
    if builds or serves:
        m["lifecycle.artifacts_hit_ratio"] = len(serves) / (len(builds) + len(serves))
    m["lifecycle.artifacts_serve_ms"] = _median(tracer.durations("lifecycle.artifacts")) * 1000
    m["streaming.ivm_trigger_s"] = v.secs("streaming.ivm_trigger")
    m["streaming.ivm_batches"] = v.per_op(
        "streaming.ivm_trigger", lambda s: s["attrs"].get("batches", 0)
    )
    queries = [s for s in ops if s["attrs"].get("query") in getattr(wl, "out_rows", {})]
    if queries:
        nq = len(queries)
        m["plans.build_ms"] = _median([(s["end"] - s["start"]) * 1000 for s in v.within("plans.build")])
        m["plans.exec_ms"] = _median([(s["end"] - s["start"]) * 1000 for s in v.within("plans.exec")])
        m["plans.jobs_per_query"] = v.total(queries, "jobs") / nq
        m["plans.tasks_per_query"] = v.total(queries, "tasks") / nq
        m["plans.shuffle_kb_per_query"] = v.total(queries, "shuffle_write_b") / 1024.0 / nq
        out_rows = sum(wl.out_rows.get(s["attrs"]["query"], 0) for s in queries)
        if out_rows:
            m["plans.scan_rows_per_output_row"] = v.total(queries, "in_records") / out_rows
    for name in ("exact_dedup", "minhash", "textstats", "bm25_topk"):
        m[f"extensions.{name}_s"] = v.secs(f"extensions.{name}")
    for key in ("extensions.candidate_pairs", "extensions.pair_precision",
                "neardup_recall", "stored_bytes_ratio", "read_p50_ms"):
        m[key] = float(ctx.layer.get(key, 0.0))
    m["session.jit_cpu_ms"] = _mean_ms(ctx.jit)
    m["trace.op_cpu_ms"] = _mean_ms(ctx.cpu)
    m["trace.op_mean_ms"] = _mean_ms(ctx.ops)
    m["trace.op_p90_ms"] = _p90(ctx.ops) * 1000
    return m


def self_time_summary(tracer) -> dict[str, float]:
    from spans import self_times

    st = self_times(tracer.spans)
    out: dict[str, float] = {}
    for s in tracer.spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return {k: round(v, 4) for k, v in sorted(out.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_imdb_data_pipeline_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True

    from spans import Tracer, fold_event_logs
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)  # the session's warehouse and metastore land here
    cores = pin_host(args, work)
    traced = bool(args.trace)
    tracer = Tracer(f"{args.workload}-{args.seed}-trace{args.trace}", traced)
    ctx = Context(work, args.seed, tracer, cpu_clock)
    wl = WORKLOADS[args.workload](ctx)

    from aws_imdb_data_pipeline_spark.session import get_spark

    import_s = time.perf_counter() - T0
    import_cpu = time.process_time()
    t = time.perf_counter()
    wl.generate()
    ctx.info["generate_s"] = round(time.perf_counter() - t, 3)

    events = os.path.join(work, "eventlog")
    extra = None
    if traced:
        os.makedirs(events)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = None
    session_s, register_s = [], []  # wall seconds
    session_cpu, register_cpu = [], []  # CPU seconds, JIT excluded
    metrics: dict[str, float] = {}
    try:
        for i in range(SETUPS):
            if spark is not None:
                with tracer.span("session.stop"):
                    spark.stop()
            t, mark = time.perf_counter(), cpu_clock()
            with tracer.span("session.start"):
                spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
                spark.sparkContext.setLogLevel("ERROR")
            session_s.append(time.perf_counter() - t)
            session_cpu.append(ctx.cpu_since(mark)[0])
            if i == 0 and hasattr(wl, "land"):
                wl.land(spark)
            t, mark = time.perf_counter(), cpu_clock()
            with tracer.span("session.register"):
                wl.register(spark)
            register_s.append(time.perf_counter() - t)
            register_cpu.append(ctx.cpu_since(mark)[0])
        wl.measure(spark)
        peak = tree_peak_rss_mb()
    except Exception:
        ctx.fail(f"run aborted:\n{traceback.format_exc(limit=6)}")
        peak = tree_peak_rss_mb()
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
    ctx.info["setup"] = {
        "import_s": round(import_s, 4),
        "session_s": [round(x, 4) for x in session_s],
        "register_s": [round(x, 4) for x in register_s],
        "cpu": {
            "import_s": round(import_cpu, 4),
            "session_s": [round(x, 4) for x in session_cpu],
            "register_s": [round(x, 4) for x in register_cpu],
        },
    }
    ops = ctx.ops
    if traced:
        counters = fold_event_logs(events, tracer)
        metrics = layer_metrics(tracer, counters, ctx, cores, wl)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": import_cpu + (session_cpu[0] if session_cpu else 0.0)
            + _median(register_cpu),
            "op_cpu_ms": _mean_ms(ctx.cpu),
            "peak_rss_mb": peak,
        }
        units = END_TO_END
    ctx.info["ops"] = len(ops)
    ctx.info["op_wall_ms"] = {"mean": round(_mean_ms(ops), 1), "p90": round(_p90(ops) * 1000, 1)}
    ctx.info["op_jit_cpu_ms"] = round(_mean_ms(ctx.jit), 1)
    ctx.info["self_s"] = self_time_summary(tracer)
    ctx.info["problems"] = ctx.problems
    trace_path = os.path.join(WORK_ROOT, "traces", f"{tracer.run_id}.json")
    tracer.write(trace_path)
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    attempted = max(ctx.attempted, 1)
    failed = min(ctx.failed, attempted)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **ctx.info}, default=str))
    print(json.dumps({
        "correct": failed == 0 and bool(ops),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
