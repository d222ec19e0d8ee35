"""Spark wrapper for the parse kernel: mapInArrow over Arrow batches.

The kernel is document-local (a page's blocks are self-contained), so the
entire parse → shared-context merge → route computation is a *narrow*
transformation: no shuffle between the scan and the routed event table.
At 100 TB this means parse cost scales linearly with input splits and the
only shuffles in the whole pipeline are the signature aggregations.
"""

from __future__ import annotations

from functools import cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avc_parser_spark.parse.kernels import EXTRACT_FIELD_ORDER, parse_pages_pdf
from avc_parser_spark.sqltext import sql_str

EVENT_SCHEMA_DDL = ", ".join(
    [
        "url string",
        "warc_ts timestamp",
        "lang string",
        "route string",
        "parse_status string",
        "host string",
        "denial_type string",
        "event_id string",
        "event_ts timestamp",
        "permission string",
        "pid string",
        "comm string",
        "exe string",
        "proctitle string",
        "path string",
        "path_type string",
        "name string",
        "dev string",
        "ino string",
        "scontext_raw string",
        "tcontext_raw string",
        "sc_user string",
        "sc_role string",
        "sc_type string",
        "sc_mls string",
        "tc_user string",
        "tc_role string",
        "tc_type string",
        "tc_mls string",
        "tclass string",
        "dest_port string",
        "dbus_dest string",
        "permissive string",
        "syscall string",
        "exit string",
        "success string",
        "cwd string",
        "saddr string",
        "saddr_struct string",
        "execve_cmdline string",
        "path_normalized boolean",
        "cross_process_access boolean",
        "malformed_lines bigint",
        "extracted_text string",
    ]
)


# mapInArrow inner schema: everything EXCEPT extracted_text, which is
# reassembled JVM-side from the other columns (extracted_text_expr) so the
# largest string column never crosses the Arrow boundary.
INNER_SCHEMA_DDL = EVENT_SCHEMA_DDL.replace(", extracted_text string", "")


@cache
def _arrow_schema():
    """INNER_SCHEMA_DDL as the exact Arrow schema Spark's mapInArrow expects
    (strings, timestamp[us, tz=UTC] under the pinned UTC session, bool,
    int64)."""
    import pyarrow as pa

    type_map = {
        "string": pa.string(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "boolean": pa.bool_(),
        "bigint": pa.int64(),
    }
    fields = []
    for part in INNER_SCHEMA_DDL.split(", "):
        name, typ = part.rsplit(" ", 1)
        fields.append(pa.field(name, type_map[typ]))
    return pa.schema(fields)


EXTRACTED_TEXT_SQL = "CASE WHEN route = 'parse_ok' THEN concat_ws('|', {}) END".format(
    ", ".join(
        f"CASE WHEN {f} IS NOT NULL THEN concat({sql_str(f + '=')}, {f}) END"
        for f in EXTRACT_FIELD_ORDER
    )
)


def extracted_text_expr() -> Column:
    """The byte-exact extracted_text invariant as a NATIVE expression: the
    same fixed-order non-null `k=v` join the kernel defines
    (kernels.EXTRACT_FIELD_ORDER), but whole-stage-codegen'd JVM-side.
    Rendered as SQL text at import and parsed in one py4j call, not one
    call per `when`/`concat` node. Equivalence to the pandas
    construction is asserted by test (and by the DuckDB extracted_text
    oracle)."""
    return F.expr(EXTRACTED_TEXT_SQL)


# Native pregate of parse_pages: keep only the audit-bearing `----` blocks.
# Control bytes anywhere in the doc must still quarantine it, even if they
# sit in a dropped block: append a sentinel block.
GATED_TEXT_SQL = (
    "concat(array_join(filter(split(text, '----'), x -> x RLIKE "
    + sql_str(r"type=\w+|msg=audit|avc:")
    + "), "
    + sql_str("\n----\n")
    + "), CASE WHEN text RLIKE "
    + sql_str("[\x00-\x08\x0b\x0c\x0e-\x1f]")
    + " THEN "
    + sql_str("\n----\n\x01ctrl\x01\n----\n")
    + " ELSE '' END)"
)


def _pdf_to_batch(out: pd.DataFrame):
    """pandas event frame → Arrow RecordBatch, column-at-a-time.

    This replaces Spark's generic pandas→Arrow serializer on the OUTPUT side
    of the boundary: one from_pandas per column straight into the final
    types, no intermediate Series coercion pass."""
    import pyarrow as pa

    schema = _arrow_schema()
    arrays = []
    for field in schema:
        col = out[field.name]
        if pa.types.is_timestamp(field.type):
            vals = pd.to_datetime(col, errors="coerce")
            if vals.dt.tz is None:
                vals = vals.dt.tz_localize("UTC")
            arrays.append(pa.Array.from_pandas(vals, type=field.type))
        else:
            arrays.append(pa.Array.from_pandas(col, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def parse_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → routed event DataFrame.

    The kernel runs under mapInArrow: the input batch is converted to
    pandas once, and the 43-column event OUTPUT is assembled into Arrow
    arrays directly (`_pdf_to_batch`) instead of going through Spark's
    generic pandas→Arrow serializer. extracted_text is then built JVM-side
    (`extracted_text_expr`). The kernel run on local pandas data
    (`parse_pages_pdf`, which builds extracted_text itself) is the
    reference this path is tested against.

    Column pruning matters at scale: only (url, warc_ts, text, lang) are
    selected, so Parquet/Iceberg never reads the heavy `html` binary column
    for the text parse path (check `.explain` ReadSchema).

    Native pregate (V2/V3): non-audit blocks (filler prose) are dropped
    JVM-side before the Arrow boundary — codegen
    `filter(split(text, '----'), x -> x RLIKE ...)`, GATED_TEXT_SQL — so only audit-bearing
    bytes pay the serialization tax. The quarantine signal (control bytes)
    is computed on the FULL text first, and carried as a one-char sentinel
    block so the kernel's routing semantics are unchanged. Documents are
    still self-contained: no shuffle.
    """
    from avc_parser_spark.parse.kernels import EVENT_COLUMNS

    def parse_with_salvage(pdf: pd.DataFrame) -> pd.DataFrame:
        try:
            return parse_pages_pdf(pdf, build_extracted_text=False)
        except Exception:  # noqa: BLE001
            # V4 contract (parse_avc.py:477-482): NEVER fail the job.
            # Retry per document to salvage the good ones; the bad
            # documents become quarantine stubs tagged with the error.
            frames = []
            for i in range(len(pdf)):
                one = pdf.iloc[i : i + 1]
                try:
                    frames.append(parse_pages_pdf(one, build_extracted_text=False))
                except Exception as doc_err:  # noqa: BLE001
                    stub = pd.DataFrame(
                        {
                            "url": one["url"].values,
                            "warc_ts": pd.to_datetime(
                                one["warc_ts"], errors="coerce"
                            ),
                            "lang": one["lang"].values,
                            "route": "quarantine",
                            "parse_status": f"PARSE_ERROR_{type(doc_err).__name__}",
                        }
                    )
                    frames.append(stub)
            out = pd.concat(frames, ignore_index=True)
            for col in EVENT_COLUMNS:
                if col not in out.columns:
                    out[col] = None
            out["malformed_lines"] = (
                pd.to_numeric(out["malformed_lines"], errors="coerce")
                .fillna(0)
                .astype("int64")
            )
            return out[EVENT_COLUMNS]

    def run_arrow(batches):
        for batch in batches:
            yield _pdf_to_batch(parse_with_salvage(batch.to_pandas()))

    pruned = pages.selectExpr("url", "warc_ts", f"{GATED_TEXT_SQL} AS text", "lang")
    return pruned.mapInArrow(run_arrow, schema=INNER_SCHEMA_DDL).withColumn(
        "extracted_text", extracted_text_expr()
    )
