"""In-memory spans around calls into each layer, plus per-stage
and MapInArrow metrics from Spark's status REST API.

A span is (name, layer, start, end, parent). Entering a span labels every
Spark job submitted inside it with ``setJobGroup(layer)``, so the REST
API's job list maps each stage to the layer that caused it. A layer's self
time is its spans' durations minus the parts covered by child spans.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "session",
    "parse",
    "enrich",
    "pipeline",
    "aggregate",
    "analyzers",
    "sinks",
    "checkpoint",
    "functions",
]
GENERIC = [
    "wall_s",
    "self_s",
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "idle_core_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
]
ROOT = "bench"


class Tracer:
    """Span recorder. With ``enabled=False`` spans cost nothing and label
    nothing, so the same workload code serves timed and traced runs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name or layer, "layer": layer, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None and layer != ROOT:
            self.sc.setJobGroup(layer, rec["name"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1]]["layer"] if self._stack else None
                if outer and outer != ROOT:
                    self.sc.setJobGroup(outer, self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per-layer wall and self seconds (span minus its children's
        union), plus the benchmark's own glue under ``bench``."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        wall, self_s = defaultdict(float), defaultdict(float)
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            covered, last = 0.0, s["start"]
            for c in sorted(children[i], key=lambda c: self.spans[c]["start"]):
                a = max(self.spans[c]["start"], last)
                b = self.spans[c]["end"]
                if b > a:
                    covered += b - a
                    last = b
            if s["parent"] is None or self.spans[s["parent"]]["layer"] != s["layer"]:
                wall[s["layer"]] += dur
            self_s[s["layer"]] += dur - covered
        return {"wall": dict(wall), "self": dict(self_s)}

    def traced_wall(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '957.6 KiB' or a
    'total (min, med, max ...)\\n10.7 s (...)' summary."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads jobs, stages and SQL executions of the live application."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout_s: float = 30.0) -> list[dict]:
        """Wait until the listener bus has delivered every job's end and
        the stage list has stopped changing; returns the job list."""
        deadline = time.time() + timeout_s
        prev = None
        while True:
            jobs = self.get("/jobs")
            stages = self.get("/stages")
            sig = (len(jobs), sum(s.get("numCompleteTasks", 0) for s in stages))
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done and sig == prev:
                return jobs
            if time.time() > deadline:
                raise TimeoutError("Spark status store did not settle")
            prev = sig
            time.sleep(0.3)


def collect_layer_metrics(rest: SparkRest, cores: int) -> dict:
    """Per-layer Spark counters from the labelled jobs, plus the
    MapInArrow (parse) and join-node (enrich) metrics of their SQL
    executions."""
    jobs = rest.settle()
    stage_layer: dict[int, str] = {}
    job_layer: dict[int, str] = {}
    per = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        layer = j.get("jobGroup")
        if layer not in LAYERS:
            continue
        job_layer[j["jobId"]] = layer
        per[layer]["jobs"] += 1
        for sid in j["stageIds"]:
            stage_layer.setdefault(sid, layer)

    agg_stages = []
    for st in rest.get("/stages"):
        layer = stage_layer.get(st["stageId"])
        if layer is None or st["status"] != "COMPLETE":
            continue
        m = per[layer]
        m["tasks"] += st["numTasks"]
        m["executor_run_s"] += st["executorRunTime"] / 1e3
        m["executor_cpu_s"] += st["executorCpuTime"] / 1e9
        m["gc_s"] += st["jvmGcTime"] / 1e3
        m["shuffle_read_bytes"] += st["shuffleReadBytes"]
        m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
        m["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        if layer == "aggregate" and st["numTasks"] >= 2:
            agg_stages.append(st)

    # Skew of the heaviest aggregate stage: slowest task over the median.
    skew = 0.0
    if agg_stages:
        st = max(agg_stages, key=lambda s: s["executorRunTime"])
        q = rest.get(
            f"/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["duration"]
        skew = mx / max(med, 1.0)

    py = defaultdict(float)
    joins = defaultdict(float)
    # A cached plan shows up again, with the same accumulators, in every
    # execution that reads the cache: count each MapInArrow node once.
    seen_arrow = set()
    # The SQL listing pages 20 executions at a time unless told otherwise.
    for ex in rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
        layers = {job_layer.get(j) for j in ex.get("successJobIds", [])} - {None}
        if not layers or layers == {"session"}:
            continue
        nodes = {n["nodeId"]: n for n in ex["nodes"]}
        kids = defaultdict(list)
        for e in ex.get("edges", []):
            kids[e["toId"]].append(e["fromId"])
        for n in ex["nodes"]:
            name = n["nodeName"]
            if "enrich" in layers:
                if name == "BroadcastHashJoin":
                    joins["broadcast"] += 1
                elif name in ("SortMergeJoin", "ShuffledHashJoin"):
                    joins["shuffle"] += 1
            if name != "MapInArrow":
                continue
            key = tuple((mm["name"], mm["value"]) for mm in n["metrics"])
            if key in seen_arrow:
                continue
            seen_arrow.add(key)
            vals = {mm["name"]: sql_metric_value(mm["value"]) for mm in n["metrics"]}
            py["bytes_to_python"] += vals.get("data sent to Python workers", 0.0)
            py["bytes_from_python"] += vals.get("data returned from Python workers", 0.0)
            py["python_run_s"] += vals.get("time to run Python workers", 0.0)
            py["python_start_s"] += vals.get("time to start Python workers", 0.0)
            py["rows_out"] += vals.get("number of output rows", 0.0)
            # Docs sent to Python: rows out of the nearest child that counts
            # them; file bytes read by the scan under it.
            frontier, rows_in = list(kids[n["nodeId"]]), None
            while frontier:
                c = nodes[frontier.pop(0)]
                cm = {mm["name"]: mm["value"] for mm in c["metrics"]}
                if rows_in is None and "number of output rows" in cm:
                    rows_in = sql_metric_value(cm["number of output rows"])
                if "size of files read" in cm:
                    py["input_bytes"] += sql_metric_value(cm["size of files read"])
                frontier.extend(kids[c["nodeId"]])
            py["docs_to_python"] += rows_in or 0.0
    return {
        "layers": {k: dict(v) for k, v in per.items()},
        "python": dict(py),
        "joins": dict(joins),
        "aggregate_skew": skew,
        "cores": cores,
    }


def layer_table(tracer: Tracer, spark_m: dict, reps: int, setups: int) -> dict:
    """Generic per-layer metrics, per traced rep (per setup for the
    session layer)."""
    times = tracer.self_times()
    out = {}
    cores = spark_m["cores"]
    for layer in LAYERS:
        # Session spans cover every setup, but only the last session's
        # jobs are still in the status store.
        n, ns = (setups, 1) if layer == "session" else (reps, reps)
        sm = {k: v / ns for k, v in spark_m["layers"].get(layer, {}).items()}
        wall = times["wall"].get(layer, 0.0) / n
        run = sm.get("executor_run_s", 0.0)
        row = {
            "wall_s": wall,
            "self_s": times["self"].get(layer, 0.0) / n,
            "jobs": sm.get("jobs", 0.0),
            "tasks": sm.get("tasks", 0.0),
            "executor_run_s": run,
            "executor_cpu_s": sm.get("executor_cpu_s", 0.0),
            "gc_s": sm.get("gc_s", 0.0),
            "idle_core_s": max(0.0, wall * cores - run) if wall else 0.0,
            "shuffle_read_bytes": sm.get("shuffle_read_bytes", 0.0),
            "shuffle_write_bytes": sm.get("shuffle_write_bytes", 0.0),
            "spill_bytes": sm.get("spill_bytes", 0.0),
        }
        out[layer] = row
    return out


def format_table(table: dict) -> str:
    head = "layer".ljust(11) + "".join(c.rjust(14) for c in GENERIC)
    lines = [head]
    for layer, row in table.items():
        lines.append(
            layer.ljust(11) + "".join(f"{row[c]:14.4g}" for c in GENERIC)
        )
    return "\n".join(lines)


def self_coverage(tracer: Tracer) -> float:
    """Share of the traced wall time that layer self times account for."""
    times = tracer.self_times()["self"]
    layers = sum(v for k, v in times.items() if k != ROOT)
    wall = tracer.traced_wall()
    return layers / wall if wall else 0.0
