"""The `analytics` workload: closed-loop, one client, passes over a
fixed query mix on the generated star schema.

Set-up runs two passes over the mix. The timed window then repeats
passes; every execution computes the full-width fingerprint of its
output, which must match across passes and across runs of the seed.
After the window, every query is compared once with its DuckDB oracle
through ``tools/check_oracle.run_one``, and each pass's row counts with
that run's.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from .common import (
    CPU_PARTS,
    FingerprintStore,
    Ledger,
    cpu_by_part,
    fingerprint_df,
    median,
    pct,
)
from .proc import cpu_delta, cpu_sample
from .speed import HostSpeed
from .trace import Tracer

# joins, shuffles and aggregations over lineitem/orders/customer/events,
# with no Python UDF and no write: the control for functions and
# pipeline changes
MIX = [
    "q13",
    "q18",
    "q20",
    "q65_region_volume",
    "r42_sole_latest_supplier",
    "q95_funnel",
]
# run once per traced run: a cold streaming query costs more set-up
# than the untraced run can afford
STREAMING_QUERY = "r77_streaming_funnel"
WARM_UP_PASSES = 3
MIN_PASSES = 6


def registry():
    from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    return REGISTRY


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[1]


def oracle_check(spark, data_dir, ledger: Ledger) -> dict[str, int | None]:
    """Compare each query once with its DuckDB oracle; returns the row
    count of each query's run here (None when it failed)."""
    from tools.check_oracle import duck_connect, run_one

    REGISTRY = registry()
    duck = duck_connect(data_dir)
    rows = {}
    for name in MIX:
        try:
            res = run_one(spark, duck, name, REGISTRY[name], data_dir)
        except Exception as exc:  # noqa: BLE001 — named in the output
            res = {"ok": False, "note": f"{type(exc).__name__}: {exc}"}
        ledger.check(f"oracle:{name}", res["ok"], res.get("note", ""))
        rows[name] = res.get("spark_rows")
    return rows


def _job_counts(spark, groups) -> tuple[int, int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
    return jobs, stages, tasks


def run_query(spark, tracer: Tracer, spec, data_dir):
    """One client operation: build, plan and run the query to its
    fingerprint. Traced, the three steps are separate spans."""
    with tracer.span("queries", "queries.op", query=spec.name):
        with tracer.span("queries", "queries.build", query=spec.name):
            df = spec.fn(spark, data_dir)
        fp_df = fingerprint_df(df)
        if tracer.enabled:
            with tracer.span("queries", "queries.plan", query=spec.name):
                fp_df._jdf.queryExecution().executedPlan()
        with tracer.span("queries", "queries.exec", query=spec.name):
            row = fp_df.collect()[0]
    return str(row["s"]), int(row["n"])


def one_pass(spark, mix, data_dir, i, traced, tracer: Tracer, ledger: Ledger,
             fps: FingerprintStore) -> dict:
    """Run the mix once, checking each output; traced, each query runs
    in its own Spark job group so the pass's jobs can be counted."""
    sc = spark.sparkContext
    tracer.enabled = traced
    mark = tracer.mark()
    lat, rows, groups = {}, {}, []
    cpu0 = cpu_sample()
    t_pass = time.perf_counter()
    with tracer.span("bench", "pass"):
        for spec in mix:
            if traced:
                groups.append(f"perfbench-{i}-{spec.name}")
                sc.setJobGroup(groups[-1], spec.name)
            t = time.perf_counter()
            try:
                fp = run_query(spark, tracer, spec, data_dir)
            except Exception as exc:  # noqa: BLE001 — named in the output
                ledger.check(f"exec:{spec.name}", False, f"{type(exc).__name__}: {exc}")
                continue
            lat[spec.name] = time.perf_counter() - t
            rows[spec.name] = fp[1]
            fps.check(ledger, spec.name, fp)
    wall = time.perf_counter() - t_pass
    cpu = cpu_delta(cpu0, cpu_sample())
    tracer.enabled = False
    rec = {"wall": wall, "lat": lat, "rows": rows, "traced": traced, "cpu": cpu}
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["spans"] = (mark, tracer.mark())
        rec["counts"] = _job_counts(spark, groups)
    return rec


def run(spark: SparkSession, data_dir, seconds, tracer: Tracer, trace: bool,
        ledger: Ledger, fps: FingerprintStore, host: HostSpeed) -> dict:
    """Warm up, measure, then check against the oracle. ``setup_end``
    is the CPU sample at the end of the warm-up."""
    REGISTRY = registry()
    mix = [REGISTRY[n] for n in MIX]
    # the JIT is still compiling after two passes, and the code it has
    # not compiled yet runs slower, so set-up runs three
    for i in range(WARM_UP_PASSES):
        one_pass(spark, mix, data_dir, -i, False, tracer, ledger, fps)
    setup_end = cpu_sample()

    passes: list[dict] = []
    t_start = time.perf_counter()
    # The JIT keeps compiling for several passes after the warm-up, so
    # each pass costs less than the one before; every run measures at
    # least MIN_PASSES of them so that runs cover the same stretch of
    # that curve. A traced run alternates untraced and traced passes,
    # starting untraced, so its overhead compares neighbours.
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        i = len(passes) + 1
        host.probe()
        passes.append(one_pass(spark, mix, data_dir, i, trace and i % 2 == 0,
                               tracer, ledger, fps))

    oracle_rows = oracle_check(spark, data_dir, ledger)
    for name, expected in oracle_rows.items():
        if expected is None:
            continue
        for p in passes:
            if name in p["rows"]:
                ledger.check(f"rows:{name}", p["rows"][name] == expected,
                             f"fingerprint counts {p['rows'][name]}, oracle run {expected}")
    return {"setup_end": setup_end, "passes": passes, "mix": mix}


def end_to_end(res: dict) -> dict:
    plain = [p for p in res["passes"] if not p["traced"]]
    lat = [v for p in plain for v in p["lat"].values()]
    return {
        "pass_s": median([p["wall"] for p in plain]),
        "op_p50_s": median(lat),
        "op_p90_s": pct(lat, 90),
        "op_samples": len(lat),
        "pass_walls_s": [p["wall"] for p in plain],
        "pass_steal_s": [p["cpu"]["steal"] for p in plain],
        "pass_parts_s": [{k: round(p["cpu"][k], 2) for k in CPU_PARTS} for p in plain],
        "pass_cpu_raw_s": median([p["cpu"]["work"] for p in plain]),
        "query_p50_s": {s.name: median([p["lat"][s.name] for p in plain if s.name in p["lat"]])
                        for s in res["mix"]},
    }


def per_layer(res: dict, tracer: Tracer, spark, data_dir, ledger, fps) -> dict:
    """Per-layer figures from the traced passes, plus one run of the
    streaming query."""
    REGISTRY = registry()
    traced = [p for p in res["passes"] if p["traced"]]
    out = cpu_by_part(res["passes"])
    by_pass = []
    for p in traced:
        lo, hi = p["spans"]
        tot = {"queries.build_s": 0.0, "queries.plan_s": 0.0, "queries.exec_s": 0.0}
        per_q, per_mod = {}, {}
        for s in tracer.spans[lo:hi]:
            d = s["end"] - s["start"]
            if s["name"] in ("queries.build", "queries.plan", "queries.exec"):
                tot[s["name"] + "_s"] += d
            if s["name"] == "queries.exec":
                per_q[s["query"]] = d
                m = module_of(REGISTRY[s["query"]])
                per_mod[m] = per_mod.get(m, 0.0) + d
        self_t = tracer.self_times(lo, hi)
        by_pass.append((tot, per_q, per_mod, self_t.get("bench", 0.0) / p["wall"]))
    for k in ("queries.build_s", "queries.plan_s", "queries.exec_s"):
        out[k] = median([b[0][k] for b in by_pass])
    for spec in res["mix"]:
        out[f"queries.{spec.name}.exec_s"] = median([b[1].get(spec.name, 0.0) for b in by_pass])
    for m in {module_of(s) for s in res["mix"]}:
        out[f"queries.{m}.exec_s"] = median([b[2].get(m, 0.0) for b in by_pass])
    if traced:
        jobs, stages, tasks = traced[-1]["counts"]
        out.update({"queries.spark_jobs": jobs, "queries.spark_stages": stages,
                    "queries.spark_tasks": tasks,
                    "queries.output_rows": sum(traced[-1]["rows"].values())})
    out["trace.unaccounted_frac"] = median([b[3] for b in by_pass])
    plain = [p["wall"] for p in res["passes"] if not p["traced"]]
    out["trace.overhead_s"] = median([p["wall"] for p in traced]) - median(plain)

    # the streaming query, once: its set-up is a cold streaming engine
    spec = REGISTRY[STREAMING_QUERY]
    tracer.enabled = True
    mark = tracer.mark()
    try:
        with tracer.span("streaming", "streaming.exec", query=spec.name):
            fp = run_query(spark, tracer, spec, data_dir)
        fps.check(ledger, spec.name, fp)
    except Exception as exc:  # noqa: BLE001 — named in the output
        ledger.check(f"exec:{spec.name}", False, f"{type(exc).__name__}: {exc}")
    tracer.enabled = False
    totals = tracer.totals(mark)
    out["streaming.exec_s"] = totals.get("streaming.exec", 0.0)
    out[f"queries.{module_of(spec)}.exec_s"] = totals.get("queries.exec", 0.0)
    return out
