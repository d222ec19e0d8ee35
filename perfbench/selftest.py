#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about two minutes).

    python3 perfbench/selftest.py

Shows that the same seed gives identical inputs, that different seeds give
different inputs, and that each workload's output check accepts the real
result and rejects deliberately tampered ones. Exits non-zero on failure.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.02
FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def _tables(paths: dict) -> dict:
    out = {}
    for key, path in paths.items():
        if isinstance(path, str):
            out[key] = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return out


def check_inputs(root: str) -> None:
    for name, wl in WORKLOADS.items():
        small = wl.scaled(SCALE)
        a_paths, a_truth = small.generate(os.path.join(root, name, "a"), 1)
        b_paths, b_truth = small.generate(os.path.join(root, name, "b"), 1)
        c_paths, c_truth = small.generate(os.path.join(root, name, "c"), 2)
        a, b, c = _tables(a_paths), _tables(b_paths), _tables(c_paths)
        expect(all(a[k].equals(b[k]) for k in a) and a_truth == b_truth,
               f"{name}: same seed gives identical inputs")
        expect(not any(a[k].equals(c[k]) for k in a), f"{name}: another seed gives other inputs")


def _rejects(wl, spark, res, truth, work, what: str) -> None:
    try:
        problems, _ = wl.check(spark, res, truth, work)
    except Exception as e:  # noqa: BLE001 - a crash is not a rejection
        problems = None
        print(f"     check raised {type(e).__name__}: {e}")
    expect(bool(problems), f"check rejects {what}")


def check_checks(root: str) -> None:
    cores = len(os.sched_getaffinity(0))
    run._prepare_env(root)
    tr = tracing.Tracer()
    spark, _ = run._setup(tr, cores, run._spark_conf(root))
    try:
        for name, wl in WORKLOADS.items():
            small = wl.scaled(SCALE)
            paths, truth = small.generate(os.path.join(root, "checks", name), 3)
            work = os.path.join(root, "work", name)
            os.makedirs(work, exist_ok=True)
            res = small.op(spark, tr, paths, truth, work)
            problems, _ = small.check(spark, res, truth, work)
            expect(problems == [], f"{name}: check accepts the real result {problems or ''}")

            bad = copy.copy(res)
            bad["routes" if "routes" in res else "counts"] = {"parse_ok": -1}
            _rejects(small, spark, bad, truth, work, f"{name}: tampered row counts")

            if name == "denial_storm":
                share = max(g[1] for g in res["groups"]) / truth["route_rows"]["parse_ok"]
                expect(share >= 0.5, f"{name}: {share:.0%} of events share the hot signature")
            if "groups" in res:
                g = sorted(res["groups"], key=str)
                hot = (g[0][0], g[0][1] + 1, *g[0][2:])
                bad = copy.copy(res)
                bad["groups"] = set(g[1:]) | {hot}
                _rejects(small, spark, bad, truth, work, f"{name}: a salted group count off by one")
            if "resumed" in res:
                bad = copy.copy(res)
                bad["resumed"] = dict(res["resumed"], processed=truth["partitions"])
                _rejects(small, spark, bad, truth, work, f"{name}: a resume that reprocessed every partition")
                bad = copy.copy(res)
                bad["digest_before"] = {k: (d[0] + 1, *d[1:]) for k, d in res["digest_before"].items()}
                _rejects(small, spark, bad, truth, work, f"{name}: a routed table that changed on resume")
                for what, tamper in (
                    ("a report group count off by one", lambda r: r[0].update(count=r[0]["count"] + 1)),
                    ("a report missing a group", lambda r: r.pop()),
                ):
                    with open(res["report_path"]) as fh:
                        report = json.load(fh)
                    tamper(report["unique_denials"])
                    tampered = os.path.join(work, "tampered.json")
                    with open(tampered, "w") as fh:
                        json.dump(report, fh)
                    bad = dict(res, report_path=tampered)
                    _rejects(small, spark, bad, truth, work, f"{name}: {what}")
            if name == "curate":
                orig, dup = truth["exact_sets"][0]
                copied = os.path.join(work, "tampered")
                shutil.copytree(res["out"], copied)
                spark.read.parquet(paths["docs"]).filter(f"doc_id = {dup}").write.mode(
                    "append"
                ).parquet(os.path.join(copied, "split=train"))
                bad = dict(res, out=copied, counts=dict(res["counts"], train=res["counts"].get("train", 0) + 1))
                _rejects(small, spark, bad, truth, work, f"{name}: a planted exact copy that survived")
    finally:
        run._shutdown(spark)


def main() -> int:
    root = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        check_inputs(os.path.join(root, "inputs"))
        check_checks(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"{len(FAILURES)} failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
