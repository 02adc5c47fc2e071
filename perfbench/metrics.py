"""Names and units of every reported metric; BENCHMARK.json lists the same.

End-to-end metrics are reported on every workload. Per-layer metrics are
reported on every workload too; a layer the workload never calls reads 0.
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
]

_S, _N = "s", "count"


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric. The per-query and
    per-module names follow the analytics mix and the streaming query."""
    from .analytics_workload import MIX, STREAMING_QUERY, module_of, registry

    reg = registry()
    modules = sorted({module_of(reg[q]) for q in [*MIX, STREAMING_QUERY]})
    return (
        [
            ("engine.session_start_s", _S, "lower"),
            ("engine.scan_s", _S, "lower"),
            ("queries.build_s", _S, "lower"),
            ("queries.plan_s", _S, "lower"),
            ("queries.exec_s", _S, "lower"),
            ("queries.spark_jobs", _N, "lower"),
            ("queries.spark_stages", _N, "lower"),
            ("queries.spark_tasks", _N, "lower"),
            ("queries.output_rows", _N, "higher"),
        ]
        + [(f"queries.{m}.exec_s", _S, "lower") for m in modules]
        + [(f"queries.{q}.exec_s", _S, "lower") for q in MIX]
        + [
            ("functions.bpe.tokenize_s", _S, "lower"),
            ("functions.json_schema.conformance_s", _S, "lower"),
            ("functions.text.langid_s", _S, "lower"),
            ("sources.jsonl.read_s", _S, "lower"),
            ("pipeline.validate_s", _S, "lower"),
            ("pipeline.upload_s", _S, "lower"),
            ("pipeline.process_s", _S, "lower"),
            ("pipeline.poll_idle_s", _S, "lower"),
            ("pipeline.persist_s", _S, "lower"),
            ("pipeline.bytes_written", "bytes", "lower"),
            ("pipeline.write_amp", "ratio", "lower"),
            ("pipeline.remote_calls", _N, "lower"),
            ("streaming.exec_s", _S, "lower"),
            ("cpu.driver_s", _S, "lower"),
            ("cpu.jvm_s", _S, "lower"),
            ("cpu.jit_s", _S, "lower"),
            ("cpu.workers_s", _S, "lower"),
            ("pass_s", _S, "lower"),
            ("submit_p50_s", _S, "lower"),
            ("poll_cycle_s", _S, "lower"),
            ("lines_per_s", "lines/s", "higher"),
            ("op_p50_s", _S, "lower"),
            ("op_p90_s", _S, "lower"),
            ("peak_rss_mb", "MB", "lower"),
            ("trace.overhead_s", _S, "lower"),
            ("trace.unaccounted_frac", "ratio", "lower"),
        ]
    )
