#!/usr/bin/env python3
"""Pipeline benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload checkpoint_days --seed 1 --seconds 1 --trace 0

Run from the repository root. The run generates the workload's tables from
the seed (untimed, reported as ``gen_s``), sets the Spark session up
several times, then repeats the workload's operation until ``--seconds``
have passed, checking every operation's outputs after its clock stops.
The first operation is cold, as every run of the pipeline's command-line
jobs is.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` warms up with
one operation on a small input, then alternates untraced and traced
operations, starting and ending with an untraced one. Traced operations
record spans around each call into a layer and label Spark jobs by layer;
per-stage and MapInArrow metrics are read from Spark's status REST API
afterwards. It prints the per-layer metrics and writes the per-layer table
and the spans to ``.bench_work/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every operation ran and passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".bench_work")
SETUPS = 3
# A traced run's warm-up operation runs on an input this share of the
# measured one: the JIT, code generation and worker imports it warms depend
# on the plan, not on the row count.
WARMUP_SCALE = 0.02
# Audit-bearing pages timed through the bare kernel for parse.kernel_core_s.
KERNEL_SAMPLE = 32


def _prepare_env(run_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    the Python workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # The JVMs' temp files go there too; their perf-data files would go to
    # /tmp regardless, so they are switched off.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def _spark_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }


def _warm_up(spark, cores: int) -> None:
    """Start Spark's Python worker daemon and one worker per core."""
    rdd = spark.sparkContext.parallelize(range(cores), cores)
    rdd.mapPartitions(lambda _rows: [os.getpid()]).collect()


def _setup(tr, cores: int, conf: dict, spark=None):
    """Stop any previous session, then build a session and warm it up."""
    from avc_parser_spark.session import get_spark

    if spark is not None:
        spark.stop()
    tr.sc = None
    t0 = time.perf_counter()
    with tr.span("session"):
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tr.sc = spark.sparkContext
        if tr.enabled:
            tr.sc.setJobGroup("session", "warm-up")
        _warm_up(spark, cores)
    return spark, time.perf_counter() - t0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, frontier = [], [root]
    while frontier:
        for c in children.get(frontier.pop(), []):
            out.append(c)
            frontier.append(c)
    return out


def _status_field(pid: int, field: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def python_worker_hwm_mb() -> float:
    """Highest VmHWM among the Python workers Spark forked under us."""
    peak = 0.0
    for pid in _descendants(os.getpid()):
        name = _status_field(pid, "Name") or ""
        hwm = _status_field(pid, "VmHWM")
        if name.startswith("python") and hwm:
            peak = max(peak, int(hwm.split()[0]) / 1024.0)
    return peak


def _shutdown(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    procs = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            if jvm.stdin:
                jvm.stdin.close()
            # The context is stopped; after a large run the JVM can take
            # seconds more to exit on its own, and nothing of it is needed.
            try:
                jvm.wait(timeout=1)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.time() + 20
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    print(f"shutdown {time.perf_counter() - t0:.2f} s", file=sys.stderr)


def _alive(pid: int) -> bool:
    """True while the process runs; an exited one that its new parent has
    not reaped yet (a zombie) no longer counts."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _kernel_core_s(paths: dict) -> float:
    """parse_pages_pdf alone on a fixed sample of audit-bearing pages,
    no Spark: median of three timings."""
    import pyarrow.dataset as ds

    from avc_parser_spark.parse.kernels import parse_pages_pdf

    src = paths.get("pages")
    if src is None:
        return 0.0
    table = ds.dataset(src, format="parquet", partitioning="hive").to_table(
        columns=["url", "warc_ts", "text", "lang"]
    )
    pdf = table.to_pandas()
    audit = pdf[pdf["text"].str.contains("msg=audit", regex=False)].head(KERNEL_SAMPLE)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        parse_pages_pdf(audit.reset_index(drop=True))
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "idle_core_s": "s",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "spill_bytes": "B",
}


def _traced_metrics(spark, tr, reps, extra, paths, cores, n_setups, out_file):
    """Per-layer metrics of the traced operations, per traced operation."""
    traced, untraced = reps["traced"], reps["untraced"]
    n = max(1, len(traced))
    sm = tracing.collect_layer_metrics(tracing.SparkRest(spark.sparkContext), cores)
    table = tracing.layer_table(tr, sm, n, n_setups)
    m = {f"{layer}.{k}": (v, UNITS[k]) for layer, row in table.items() for k, v in row.items()}
    py = sm["python"]
    docs_to_py = py.get("docs_to_python", 0.0)
    audit_docs = sum(r["audit_docs_parsed"] for r in traced)
    m.update({
        "parse.input_bytes": (py.get("input_bytes", 0.0) / n, "B"),
        "parse.bytes_to_python": (py.get("bytes_to_python", 0.0) / n, "B"),
        "parse.bytes_from_python": (py.get("bytes_from_python", 0.0) / n, "B"),
        "parse.python_run_s": (py.get("python_run_s", 0.0) / n, "s"),
        "parse.python_start_s": (py.get("python_start_s", 0.0) / n, "s"),
        "parse.rows_out": (py.get("rows_out", 0.0) / n, "count"),
        "parse.useful_ratio": (audit_docs / docs_to_py if docs_to_py else 0.0, "ratio"),
        "parse.kernel_core_s": (_kernel_core_s(paths), "s"),
        "enrich.broadcast_joins": (sm["joins"].get("broadcast", 0.0) / n, "count"),
        "enrich.shuffle_joins": (sm["joins"].get("shuffle", 0.0) / n, "count"),
        "aggregate.max_task_over_median": (sm["aggregate_skew"], "ratio"),
    })
    ckpt_parts = sum(len(r["full"]["processed"]) + len(r["resumed"]["processed"])
                     for r in traced if "full" in r)
    ckpt_jobs = sm["layers"].get("checkpoint", {}).get("jobs", 0.0)
    m["checkpoint.jobs_per_partition"] = (ckpt_jobs / ckpt_parts if ckpt_parts else 0.0, "count")
    for key, unit in (
        ("parse.error_docs", "count"), ("aggregate.groups", "count"),
        ("pipeline.rows.parse_ok", "count"), ("pipeline.rows.malformed", "count"),
        ("pipeline.rows.quarantine", "count"), ("checkpoint.partition_s_p50", "s"),
        ("checkpoint.partition_s_max", "s"), ("checkpoint.bytes_written", "B"),
        ("analyzers.findings", "count"), ("sinks.report_bytes", "B"),
        ("functions.kept_docs", "count"), ("functions.bytes_written", "B"),
    ):
        m[key] = (extra.get(key, 0), unit)
    for key in ("resume_s", "report_s"):
        m[f"workload.{key}"] = (median([r.get(key, 0.0) for r in untraced]) if untraced else 0.0, "s")
    if traced and untraced:
        overhead = median([r["docs_per_s"] for r in traced]) / median([r["docs_per_s"] for r in untraced])
    else:
        overhead = 0.0
    m["trace.overhead"] = (overhead, "ratio")
    m["trace.self_coverage"] = (tracing.self_coverage(tr), "ratio")

    print(tracing.format_table(table))
    os.makedirs(os.path.dirname(out_file), exist_ok=True)
    with open(out_file, "w") as fh:
        json.dump({"table": table, "metrics": {k: v for k, (v, _u) in m.items()},
                   "traced_ops": len(traced), "untraced_ops": len(untraced),
                   "spans": tr.spans}, fh, indent=1)
    print(f"trace table: {out_file}")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}


def main(argv=None) -> int:
    sys.path.insert(0, REPO)
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the pipeline package: {e}", file=sys.stderr)
        return 2

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    run_dir = os.path.join(WORK, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir)

    t0 = time.perf_counter()
    paths, truth = wl.generate(os.path.join(run_dir, "input"), args.seed)
    if args.trace:
        warm_paths, warm_truth = wl.scaled(WARMUP_SCALE).generate(
            os.path.join(run_dir, "warmup-input"), args.seed
        )
    gen_s = time.perf_counter() - t0
    print(f"gen_s {gen_s:.3f} s  ({truth['docs']} docs, {truth['input_bytes']} input bytes)")

    tr = tracing.Tracer(enabled=bool(args.trace))
    spark = None
    reps = {"warmup": [], "untraced": [], "traced": []}
    extra: dict = {}
    attempted = failed = 0
    setups = []
    try:
        conf = _spark_conf(run_dir)
        for _ in range(SETUPS):
            spark, s = _setup(tr, cores, conf, spark)
            setups.append(s)
        print("setups " + " ".join(f"{x:.2f}" for x in setups) + " s", file=sys.stderr)
        work = os.path.join(run_dir, "out")
        os.makedirs(work, exist_ok=True)
        # A timed run starts with a cold operation: every run of the pipeline's
        # command-line jobs starts a fresh JVM and pays the JIT, code
        # generation and Python worker imports again. A traced run warms up
        # once, then alternates untraced and traced operations and ends on
        # an untraced one, so each traced operation sits between two
        # untraced ones and Spark's continued warm-up cancels out of
        # trace.overhead.
        end = None if args.trace else time.perf_counter() + args.seconds
        traced_attempts = 0
        while True:
            tr.enabled = bool(args.trace) and attempted >= 2 and attempted % 2 == 0
            if tr.enabled:
                phase = "traced"
            elif args.trace and not attempted:
                phase = "warmup"
            else:
                phase = "untraced"
            traced_attempts += tr.enabled
            attempted += 1
            try:
                inputs = (warm_paths, warm_truth) if phase == "warmup" else (paths, truth)
                res = wl.op(spark, tr, *inputs, work)
                t_check = time.perf_counter()
                problems, extra_m = wl.check(spark, res, inputs[1], work)
                print(f"op {attempted} {phase}: {res['wall_s']:.3f} s,"
                      f" check {time.perf_counter() - t_check:.3f} s", file=sys.stderr)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                problems = ["operation raised"]
            if problems:
                for p in problems:
                    print(f"check failed: {p}", file=sys.stderr)
                failed += 1
            else:
                res["peak_rss_mb"] = python_worker_hwm_mb()
                reps[phase].append(res)
                if phase != "warmup":
                    extra.update(extra_m)
            if phase == "warmup":
                end = time.perf_counter() + args.seconds
            elif time.perf_counter() >= end and (
                not args.trace or (traced_attempts and phase == "untraced")
            ):
                break

        untraced = reps["untraced"]
        metrics: dict[str, dict] = {}
        if not args.trace:
            if untraced:
                metrics = {
                    "setup_s": {"value": median(setups), "unit": "s"},
                    "docs_per_s": {"value": median([r["docs_per_s"] for r in untraced]), "unit": "docs/s"},
                    "write_bytes_per_input_byte": {
                        "value": median([r.get("write_bytes_per_input_byte", 0.0) for r in untraced]),
                        "unit": "B/B"},
                    "peak_rss_mb": {"value": max(r["peak_rss_mb"] for r in untraced), "unit": "MB"},
                }
            for key, unit in (("resume_s", "s"), ("report_s", "s")):
                if untraced and key in untraced[0]:
                    print(f"{key} {median([r[key] for r in untraced]):.6g} {unit}")
        else:
            out_file = os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.json")
            metrics = _traced_metrics(spark, tr, reps, extra, paths, cores,
                                      len(setups), out_file)
    finally:
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0 and bool(metrics)
    print(f"run {time.perf_counter() - t_run:.2f} s", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
