"""Layer probes for the traced run: single public calls into the engine,
functions and sources layers, each forced by a fingerprint.

Each probe runs twice and reports the second call, so it measures the
warm path that the workloads' passes see.
"""

from __future__ import annotations

import time

from .common import fingerprint


def _warm(fn) -> float:
    fn()
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def run(spark, data_dir: str, job: dict) -> dict:
    """``data_dir`` holds the star schema; ``job`` is one generated job's
    files (requests, output and error JSONL)."""
    from pyspark.sql import functions as F

    from batch_processing_system_spark.engine.io import TABLES, load_table
    from batch_processing_system_spark.functions.bpe import load_merges, tokenize_column
    from batch_processing_system_spark.functions.json_schema import conformance_predicate
    from batch_processing_system_spark.functions.text import langid_udf
    from batch_processing_system_spark.pipeline.schemas import (
        REQUEST_LINE_SCHEMA,
        RESULT_LINE_SCHEMA,
    )
    from batch_processing_system_spark.queries.tokenize import MERGES_PATH
    from batch_processing_system_spark.sources.jsonl import read_jsonl, read_jsonl_with_lines

    from . import inputs

    out = {}
    out["engine.scan_s"] = _warm(
        lambda: [fingerprint(load_table(spark, data_dir, t)) for t in TABLES]
    )

    docs = load_table(spark, data_dir, "documents")
    merges = load_merges(MERGES_PATH)
    out["functions.bpe.tokenize_s"] = _warm(
        lambda: fingerprint(docs.select(tokenize_column(docs, merges, "text").alias("t")))
    )
    out["functions.text.langid_s"] = _warm(
        lambda: fingerprint(docs.select(langid_udf(F.col("text")).alias("lang")))
    )

    # the result contents, held in memory so only the predicate is timed
    content = F.col("response.body.choices").getItem(0).getField("message").getField("content")
    contents = (
        read_jsonl(spark, job["output"], RESULT_LINE_SCHEMA)
        .select(content.alias("content"))
        .localCheckpoint()
    )
    out["functions.json_schema.conformance_s"] = _warm(
        lambda: fingerprint(contents.select(
            conformance_predicate(F.col("content"), inputs.SCHEMA_JSON).alias("ok")
        ))
    )

    out["sources.jsonl.read_s"] = _warm(lambda: (
        fingerprint(read_jsonl_with_lines(spark, job["requests"], REQUEST_LINE_SCHEMA)),
        fingerprint(read_jsonl(spark, [job["output"], job["errors"]], RESULT_LINE_SCHEMA)),
    ))
    return out
