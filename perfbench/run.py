"""Benchmark of the sales ETL: one workload per invocation, closed loop,
one client. Run from the repository root:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 16 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
# Untimed warmup ops, then timed ops until their summed wall time reaches
# --seconds, and never fewer than MIN_OPS. The first op runs 2-3x slower
# than a warm one, and the next several keep speeding up while the JIT
# compiles the engine's hot paths, so the warmup is a fixed number of ops,
# not a time budget: every run starts timing at the same point of that
# curve, whatever the host speed.
WARMUP_OPS = 5
MIN_OPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_latency_p50_s": "s",
    "rows_per_s": "rows/s",
    "retained_mb": "MiB",
    "files_written_per_op": "files",
    "stored_bytes_per_input_byte": "ratio",
}

# Layer times are shares of op wall time (span self time / op wall), so a
# layer that a workload never runs reads 0 as a ratio, not as a time.
PER_LAYER = {
    "session.get_spark_s": "s",
    "process.peak_rss_mb": "MiB",
    "process.cpu_s_per_op": "s",
    "sources.csv.header_probe_share": "ratio",
    "sources.csv.header_probe_calls": "count",
    "operators.normalize.validate_share": "ratio",
    "operators.normalize.accepted_ratio": "ratio",
    "operators.normalize.scan_relations": "count",
    "pipeline.fs.list_share": "ratio",
    "pipeline.fs.move_share": "ratio",
    "pipeline.fs.move_calls": "count",
    "pipeline.state.probe_share": "ratio",
    "pipeline.state.append_share": "ratio",
    "pipeline.state.log_files": "count",
    "ingest.share": "ratio",
    "ingest.executor_cores": "ratio",
    "ingest.input_bytes": "bytes",
    "ingest.records": "count",
    "operators.enrich.build_share": "ratio",
    "operators.marts.build_share": "ratio",
    "marts.shuffle_write_bytes": "bytes",
    "marts.spill_bytes": "bytes",
    "plans.lint.share": "ratio",
    "sink.customer_mart_share": "ratio",
    "sink.sales_team_mart_share": "ratio",
    "sink.fact_delta_share": "ratio",
    "sink.files_written": "count",
    "sink.partitions_written": "count",
    "sink.bytes_written": "bytes",
    "sink.tasks": "count",
    "streaming.incremental.batches": "count",
    "streaming.incremental.add_batch_share": "ratio",
    "streaming.incremental.planning_share": "ratio",
    "streaming.incremental.wal_commit_share": "ratio",
    "streaming.incremental.history_input_bytes": "bytes",
    "spark.executor_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.jobs_per_op": "count",
    "trace.coverage": "ratio",
    "trace.op_latency_p50_s": "s",
    "trace.overhead_s": "s",
}



# -- process accounting (/proc) ---------------------------------------------

def _jvm_pid() -> int:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    # spark-submit execs into the JVM; if a wrapper shell remains, take its java child
    todo = [pid]
    while todo:
        p = todo.pop()
        if Path(f"/proc/{p}/comm").read_text().strip() == "java":
            return p
        for t in Path(f"/proc/{p}/task").iterdir():
            todo += [int(c) for c in (t / "children").read_text().split()]
    raise RuntimeError("no JVM process found under the Py4J gateway")


def _cpu_s(pids) -> float:
    total = 0
    for pid in pids:
        stat = Path(f"/proc/{pid}/stat").read_text()
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])  # utime + stime
    return total / os.sysconf("SC_CLK_TCK")


def _peak_rss_mib(pids) -> float:
    kib = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                kib += int(line.split()[1])
    return kib / 1024


def _retained_mib(spark) -> float:
    """JVM heap live after full GCs: what the engine keeps between ops.

    Each drain frees more than the one before (Py4J releases a JVM object
    only after Python drops its proxy, and the ContextCleaner works from
    the GC's weak references), so drain until the live heap stops
    falling. Live means the heap right after the last GC, not counting
    what background threads allocated since. The Python driver's RSS is
    left out, because it also holds the buffers of this benchmark's
    output checks."""
    pools = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()

    def live() -> float:
        _drain(spark)
        after_gc = [p.getCollectionUsage() for p in pools if p.getType().toString() == "Heap memory"]
        return sum(u.getUsed() for u in after_gc if u is not None) / 2**20

    prev, cur = float("inf"), live()
    for _ in range(8):
        if prev - cur < 1.0:
            break
        prev, cur = cur, live()
    return cur


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return ticks[7], sum(ticks)


def _snapshot(dirs) -> dict[str, tuple]:
    out = {}
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _created(before: dict, after: dict) -> dict[str, int]:
    return {p: v[2] for p, v in after.items() if before.get(p) != v}


# -- tracing ----------------------------------------------------------------

def install_spans(tracer) -> None:
    """Wrap the public entry points of each engine module in spans."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from sales_data_pipeline_spark.pipeline import fs, state
    from sales_data_pipeline_spark.pipeline import sales_pipeline as sp
    from sales_data_pipeline_spark.plans import lint
    from sales_data_pipeline_spark.sources import csv
    from sales_data_pipeline_spark.streaming import incremental as inc

    root = {"pipeline.run_pipeline", "streaming.incremental.run_incremental"}

    def ingest_label(*_a, **_k):
        cur = tracer.current()
        return "ingest" if cur is not None and cur.name in root else None

    def sink_label(_writer, path=None, *_a, **_k):
        path = str(path or "")
        for key, label in (
            ("customers_data_mart", "sink.customer_mart"),
            ("sales_team_data_mart", "sink.sales_team_mart"),
            ("ingest_batch=", "sink.fact_delta"),
        ):
            if key in path:
                return label
        return None

    tracer.wrap(csv, "csv_header", "sources.csv.header_probe")
    tracer.wrap(sp, "validate_headers", "operators.normalize.validate",
                note=lambda r: {"scan_relations": len(r.valid)})
    tracer.wrap(sp, "read_validated_union", "operators.normalize.read_union")
    tracer.wrap(fs, "list_files", "pipeline.fs.list")
    tracer.wrap(fs, "move_file", "pipeline.fs.move")
    tracer.wrap(state.AuditState, "stale_active_files", "pipeline.state.probe", jobs=True)
    tracer.wrap(state.AuditState, "_append", "pipeline.state.append", jobs=True)
    tracer.wrap(DataFrame, "count", ingest_label, jobs=True)
    tracer.wrap(lint, "lint_plan", "plans.lint")
    tracer.wrap(DataFrameWriter, "save", sink_label, jobs=True)
    tracer.wrap(DataFrameWriter, "parquet", sink_label, jobs=True)
    tracer.wrap(inc, "_process_batch", "streaming.incremental.add_batch", jobs=True)
    for mod in (sp, inc):
        tracer.wrap(mod, "sales_enrichment", "operators.enrich.build")
        tracer.wrap(mod, "customer_monthly_mart", "operators.marts.build")
        tracer.wrap(mod, "sales_team_mart", "operators.marts.build")


def layer_metrics(tracer, op: int, wall: float, cores: int, result, created: dict,
                  out_dir: Path, log_files: int) -> dict[str, float]:
    """Per-layer numbers of one traced op (see PER_LAYER)."""
    spans = tracer.op_spans(op)
    selft = tracer.self_times(spans)
    root = next(s for s in spans if s.parent is None)

    def sel(prefix):
        return [s for s in spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def stage_sum(ss, key, scale=1.0):
        return sum(st.get(key, 0) for s in ss for st in s.stages) * scale

    def share(prefix):
        return sum(selft[s.id] for s in sel(prefix)) / wall

    sinks = sel("sink")
    marts = [s for s in sinks if s.name != "sink.fact_delta"]
    ingest_wall = sum(s.duration for s in sel("ingest"))
    m = {
        "sources.csv.header_probe_share": share("sources.csv"),
        "sources.csv.header_probe_calls": len(sel("sources.csv")),
        "operators.normalize.validate_share": share("operators.normalize.validate"),
        "operators.normalize.scan_relations": sum(
            s.note.get("scan_relations", 0) for s in sel("operators.normalize.validate")),
        "pipeline.fs.list_share": share("pipeline.fs.list"),
        "pipeline.fs.move_share": share("pipeline.fs.move"),
        "pipeline.fs.move_calls": len(sel("pipeline.fs.move")),
        "pipeline.state.probe_share": share("pipeline.state.probe"),
        "pipeline.state.append_share": share("pipeline.state.append"),
        "pipeline.state.log_files": log_files,
        "ingest.share": share("ingest"),
        "ingest.executor_cores": (
            stage_sum(sel("ingest"), "executorCpuTime", 1e-9) / ingest_wall if ingest_wall else 0.0),
        "ingest.input_bytes": stage_sum(sel("ingest"), "inputBytes"),
        "ingest.records": stage_sum(sel("ingest"), "inputRecords"),
        "operators.enrich.build_share": share("operators.enrich"),
        "operators.marts.build_share": share("operators.marts"),
        "marts.shuffle_write_bytes": stage_sum(marts, "shuffleWriteBytes"),
        "marts.spill_bytes": stage_sum(marts, "diskBytesSpilled"),
        "plans.lint.share": share("plans.lint"),
        "sink.customer_mart_share": share("sink.customer_mart"),
        "sink.sales_team_mart_share": share("sink.sales_team_mart"),
        "sink.fact_delta_share": share("sink.fact_delta"),
        "sink.tasks": stage_sum(sinks, "numTasks"),
        "streaming.incremental.add_batch_share": share("streaming.incremental.add_batch"),
        "spark.executor_busy_ratio": stage_sum(spans, "executorRunTime", 1e-3) / (wall * cores),
        "spark.gc_s": stage_sum(spans, "jvmGcTime", 1e-3),
        "spark.jobs_per_op": root.note.get("jobs", 0),
        "trace.coverage": sum(v for k, v in selft.items() if k != root.id) / wall,
    }
    mart_files = {
        p: b for p, b in created.items()
        if p.startswith(str(out_dir)) and not os.path.basename(p).startswith((".", "_"))
    }
    m["sink.files_written"] = len(mart_files)
    m["sink.partitions_written"] = len({os.path.dirname(p) for p in mart_files})
    m["sink.bytes_written"] = sum(mart_files.values())
    if hasattr(result, "accepted_files"):
        discovered = len(result.accepted_files) + len(result.quarantined_files)
        m["operators.normalize.accepted_ratio"] = len(result.accepted_files) / max(discovered, 1)
    if hasattr(result, "recentProgress"):
        progress = [p for p in result.recentProgress if p.get("numInputRows", 0) > 0]
        dur = [p.get("durationMs", {}) for p in progress]
        m["streaming.incremental.batches"] = len(progress)
        m["streaming.incremental.planning_share"] = sum(
            d.get("queryPlanning", 0) for d in dur) / 1e3 / wall
        m["streaming.incremental.wal_commit_share"] = sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1e3 / wall
        m["streaming.incremental.history_input_bytes"] = stage_sum(marts, "inputBytes")
    return m


# -- the run ----------------------------------------------------------------

def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _drain(spark) -> None:
    """Free what the previous op left behind before timing the next one:
    cached plans, Python garbage and, through a JVM GC, dead shuffle
    files and broadcast blocks."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)  # let the ContextCleaner finish before the clock starts


def run(args) -> dict:
    import workloads

    from spans import StageMetrics, Tracer

    cores = len(os.sched_getaffinity(0))
    steal0 = _steal_ticks()
    run_t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.workload, args.seed, WORK)
    tracer = Tracer()
    spark = None
    try:
        # set-up: the engine import (which imports pyspark), get_spark
        # with its JVM launch, the dims load and the registry import, all
        # cold. Once per run: a second cold set-up needs a second JVM.
        t0 = time.perf_counter()
        from sales_data_pipeline_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark(master=f"local[{cores}]")
        session_s = time.perf_counter() - t1
        dims = wl.load_dims(spark)
        import sales_data_pipeline_spark.plans  # noqa: F401  (registry import)

        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        pids = [os.getpid(), _jvm_pid()]

        warmup_ok = True
        for i in range(WARMUP_OPS):
            wl.prepare(warmup=i == 0)
            errors = wl.check(wl.run(spark, dims), warmup=i == 0)
            if i == 0:
                wl.after_warmup()
            if errors:
                warmup_ok = False
                print(f"warmup op {i + 1} failed its checks: {errors}", file=sys.stderr)

        stages = None
        if args.trace:
            install_spans(tracer)
            tracer.sc = spark.sparkContext
            stages = StageMetrics(spark.sparkContext)
            stages.collect([], None)

        walls, cpus, rows, files, stored, layers, untraced = [], [], [], [], [], [], []
        attempted = failed = 0
        busy = 0.0
        while busy < args.seconds or attempted < MIN_OPS or (args.trace and attempted % 2 == 0):
            # traced runs alternate traced and untraced ops, starting and
            # ending traced: with an odd count the two kinds sit at the same
            # mean position, so warm-up drift cancels out of trace.overhead_s
            traced = bool(args.trace) and attempted % 2 == 0
            wl.prepare()
            log_files = wl.state_files()
            before = _snapshot(wl.written_dirs())
            _drain(spark)
            attempted += 1
            op = tracer.begin_op()
            tracer.enabled = traced
            cpu0 = _cpu_s(pids)
            t0 = time.perf_counter()
            try:
                with tracer.span(wl.root_span, jobs=True, root=True):
                    result = wl.run(spark, dims)
                wall = time.perf_counter() - t0
                cpu = _cpu_s(pids) - cpu0
                tracer.enabled = False
                errors = wl.check(result)
            except Exception:
                tracer.enabled = False
                traceback.print_exc(file=sys.stderr)
                failed += 1
                busy += time.perf_counter() - t0
                continue
            busy += wall
            if errors:
                print(f"op {attempted} failed its checks: {errors}", file=sys.stderr)
                failed += 1
                continue
            created = _created(before, _snapshot(wl.written_dirs()))
            if stages is not None:
                spans = tracer.op_spans(op)
                root = next((s for s in spans if s.parent is None), None)
                n_jobs = stages.collect(spans, root)
                if not traced:
                    untraced.append(wall)
                    continue
                root.note["jobs"] = n_jobs
                layers.append(layer_metrics(
                    tracer, op, wall, cores, result, created, wl.run_dir / "output", log_files))
            walls.append(wall)
            cpus.append(cpu)
            rows.append(wl.rows(result))
            files.append(len(created))
            stored.append(sum(created.values()))

        if args.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            for k in PER_LAYER:
                vals = [m[k] for m in layers if k in m]
                if vals:
                    metrics[k] = statistics.median(vals)
            metrics["session.get_spark_s"] = session_s
            metrics["process.peak_rss_mb"] = _peak_rss_mib(pids)
            metrics["process.cpu_s_per_op"] = statistics.median(cpus) if cpus else 0.0
            metrics["trace.op_latency_p50_s"] = statistics.median(walls) if walls else 0.0
            if walls and untraced:
                metrics["trace.overhead_s"] = statistics.median(walls) - statistics.median(untraced)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "op_latency_p50_s": statistics.median(walls) if walls else 0.0,
                "rows_per_s": statistics.median(r / w for r, w in zip(rows, walls)) if walls else 0.0,
                "retained_mb": _retained_mib(spark),
                "files_written_per_op": statistics.mean(files) if files else 0.0,
                "stored_bytes_per_input_byte": (
                    sum(stored) / (wl.input_bytes * len(stored)) if stored else 0.0),
            }
            units = END_TO_END
        steal1 = _steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        print(
            f"{args.workload} seed={args.seed}: {attempted} ops, {failed} failed, "
            f"host steal {steal:.1%}, run {time.perf_counter() - run_t0:.1f} s "
            f"(set-up {setup_s:.1f} s, timed {busy:.1f} s), "
            f"op latencies {[round(w, 3) for w in walls + untraced]}",
            file=sys.stderr,
        )
        return {
            "correct": warmup_ok and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        tracer.restore()
        _stop_jvm(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("sales_data_pipeline_spark") is None:
        print(f"engine package sales_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    # everything the run writes stays under the checkout
    for sub in ("spark-local", "tmp"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
