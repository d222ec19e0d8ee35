#!/usr/bin/env python3
"""Write the optimized plans of the headline path's frames, normalized so
that two checkouts can be diffed:

    (cd <checkout-a> && python <repo>/scripts/dump_plans.py /tmp/plans_a)
    (cd <checkout-b> && python <repo>/scripts/dump_plans.py /tmp/plans_b)
    diff -r /tmp/plans_a /tmp/plans_b

The package is imported from the current directory, so one copy of this
script serves any checkout, including one older than the script.

One file per frame: ``signature_exprs(parse_pages(pages))``, the salted
and unsalted ``aggregate_signatures``, ``denial_groups``, the
``run_analyzers`` aggregate (captured at its ``collect``), the
checkpoint events write with its ``observe`` metrics, and the
``curate_corpus`` output with and without its optional stages over a
small inline corpus (both captured at the parquet write). Expression ids,
lambda-variable suffixes, observation names, plan ids and frame ids are
stripped: they differ between any two runs.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from pyspark.sql import DataFrameWriter  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from avc_parser_spark.aggregate import aggregate_signatures  # noqa: E402
from avc_parser_spark.analyzers import run_analyzers  # noqa: E402
from avc_parser_spark.checkpoint import run_with_checkpoints  # noqa: E402
from avc_parser_spark.datagen import build_pages_df  # noqa: E402
from avc_parser_spark.enrich.join import signature_exprs  # noqa: E402
from avc_parser_spark.functions.curation import (  # noqa: E402
    curate_corpus,
    write_curated,
)
from avc_parser_spark.parse.udf import parse_pages  # noqa: E402
from avc_parser_spark.pipeline import denial_groups  # noqa: E402
from avc_parser_spark.session import get_spark  # noqa: E402


def _plan(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"\bx_\d+\b", "x", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id]", plan)
    return re.sub(
        r"(CollectMetrics )[0-9a-f-]{36}(, .*\]), \d+", r"\1<obs>\2, <id>", plan
    )


def _write_plans(run) -> str:
    """The plans of every parquet write `run(tmp_dir)` makes."""
    captured = []
    parquet = DataFrameWriter.parquet
    DataFrameWriter.parquet = (
        lambda self, path, *a, **k: captured.append(_plan(self._df))
        or parquet(self, path, *a, **k)
    )
    tmp = tempfile.mkdtemp()
    try:
        run(tmp)
    finally:
        DataFrameWriter.parquet = parquet
        shutil.rmtree(tmp)
    return "\n====\n".join(captured)


def main(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    plans = {}

    pages = build_pages_df(spark, 200)
    signed = signature_exprs(parse_pages(pages))
    ok = signed.filter(F.col("route") == "parse_ok")
    groups = denial_groups(signed)
    plans["signature_exprs"] = _plan(signed)
    plans["agg_salted"] = _plan(aggregate_signatures(ok))
    plans["agg_unsalted"] = _plan(aggregate_signatures(ok, salted=False))
    plans["denial_groups"] = _plan(groups)

    # the plans built and run inside run_analyzers and the checkpoint loop
    captured = []
    frame_cls = type(groups)
    collect = frame_cls.collect
    frame_cls.collect = lambda self: captured.append(_plan(self)) or collect(self)
    try:
        run_analyzers(groups.cache())
    finally:
        frame_cls.collect = collect
    plans["run_analyzers"] = "\n====\n".join(captured)

    tmp = tempfile.mkdtemp()
    try:
        pages.write.parquet(os.path.join(tmp, "pages", "warc_date=2024-01-01"))
        plans["checkpoint_write"] = _write_plans(
            lambda out: run_with_checkpoints(spark, os.path.join(tmp, "pages"), out)
        )
    finally:
        shutil.rmtree(tmp)

    # 30 docs of 7 eight-word lines over 10 urls, the texts in 3 variants
    docs = spark.createDataFrame(
        [
            (i, f"https://site.example/p{i % 10}", "\n".join(
                " ".join(f"w{(i % 3) * j % 17}" for j in range(8 * n, 8 * n + 8))
                + "." for n in range(7)
            ))
            for i in range(30)
        ],
        "doc_id long, url string, text string",
    )
    evals = spark.createDataFrame(
        [(100, " ".join(f"w{j}" for j in range(12)))], "eval_id long, text string"
    )
    plans["curate"] = _write_plans(
        lambda out: write_curated(curate_corpus(docs), out)
    )
    plans["curate_all_stages"] = _write_plans(
        lambda out: write_curated(
            curate_corpus(docs, evals, c4_clean=True, gopher=True), out
        )
    )

    for name, plan in plans.items():
        with open(os.path.join(out_dir, name + ".plan"), "w") as fh:
            fh.write(plan)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
