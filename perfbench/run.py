#!/usr/bin/env python3
"""Benchmark of the engine: two closed-loop, single-client workloads.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Workloads: ``analytics`` (a query mix over a generated sf0.01 star
schema) and ``batch_pipeline`` (the submit → poll → process lifecycle).
Inputs come from ``--seed``. The run sets up, measures for at least
``--seconds``, checks every output, and prints one JSON object as its
last stdout line: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. The line before it holds the run's config,
input sizes, extra figures and every failed check by name.

Everything it writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.01
DEADLINE_S = 170  # a run must end within 180 s
WORKLOADS = ("analytics", "batch_pipeline")
# settings that change plans or layouts; the benchmark measures the defaults
PINNED_ENV = (
    "SPARK_GRAFT_BUCKETED", "SPARK_GRAFT_PARTITIONED", "SPARK_GRAFT_HYBRID",
    "SPARK_GRAFT_LAYOUT_GC", "SPARK_GRAFT_STREAM_PARTITIONS", "SPARK_GRAFT_SF_DIR",
    "SPARK_DELTA", "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY",
    "STATUS_FIELD_NAME", "STATUS_VALUES",
)


def _program_missing() -> str | None:
    for rel in ("batch_processing_system_spark/queries/__init__.py",
                "tools/make_sf.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, its workers and the program write in run_dir."""
    for k in PINNED_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVMs' perf-data files would go to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)


def _start_session(run_dir: str):
    from batch_processing_system_spark.engine.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            # compiler threads stay alive, so their CPU can be told apart
            "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t


def _config(spark, args) -> dict:
    conf = spark.sparkContext.getConf()
    get = spark.conf.get
    return {
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "nproc": len(os.sched_getaffinity(0)),
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "aqe": get("spark.sql.adaptive.enabled"),
        "cbo": get("spark.sql.cbo.enabled"),
        "cbo_join_reorder": get("spark.sql.cbo.joinReorder.enabled"),
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
    }


def _gen_star(run_dir: str, seed: int):
    from perfbench import inputs

    data = os.path.join(run_dir, "data")
    return data, inputs.star_schema(SF, data, seed)


def _analytics(spark, args, run_dir, tracer, ledger, fps, host):
    from perfbench import analytics_workload as aw, inputs, probes
    from perfbench.pipeline_workload import JOB_LINES

    data, sizes = _gen_star(run_dir, args.seed)
    res = aw.run(spark, data, args.seconds, tracer, args.trace, ledger, fps, host)
    e2e = aw.end_to_end(res)
    layers = {}
    if args.trace:
        layers = aw.per_layer(res, tracer, spark, data, ledger, fps)
        job = inputs.job_files(os.path.join(run_dir, "probe"), 0,
                               range(JOB_LINES), args.seed)
        layers.update(probes.run(spark, data, job))
    return res["setup_end"], e2e, layers, {"star_schema": sizes}


def _pipeline(spark, args, run_dir, tracer, ledger, host):
    from perfbench import pipeline_workload as pw, probes

    res = pw.run(spark, os.path.join(run_dir, "pipeline"), args.seed, args.seconds,
                 tracer, args.trace, ledger, host)
    e2e = pw.end_to_end(res)
    layers = {}
    if args.trace:
        layers = pw.per_layer(res, tracer, spark)
        data, _ = _gen_star(run_dir, args.seed)
        layers.update(probes.run(spark, data, res["last_files"]))
    return res["setup_end"], e2e, layers, res["sizes"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = _program_missing()
    if missing:
        print(f"perfbench: program source not found ({missing}); "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir)

    from perfbench import metrics, proc, speed
    from perfbench.common import FingerprintStore, Ledger
    from perfbench.trace import Tracer

    # a hung Spark call must not outlive the run: kill the tree and fail
    watchdog = threading.Timer(DEADLINE_S, proc.abort, args=(f"no result after {DEADLINE_S} s",))
    watchdog.daemon = True
    watchdog.start()
    sampler = proc.RssSampler().start()
    cpu0 = proc.cpu_sample()
    spark, session_s = _start_session(run_dir)
    tracer = Tracer(args.workload)
    ledger = Ledger()
    fps = FingerprintStore(
        os.path.join(WORK, "fingerprints", f"{args.workload}-seed{args.seed}.json"))
    config = _config(spark, args)
    e2e, layers, sizes = {}, {}, {}
    host = speed.HostSpeed()
    try:
        if args.workload == "batch_pipeline":
            setup_end, e2e, layers, sizes = _pipeline(spark, args, run_dir, tracer,
                                                      ledger, host)
        else:
            setup_end, e2e, layers, sizes = _analytics(spark, args, run_dir, tracer,
                                                       ledger, fps, host)
        setup = proc.cpu_delta(cpu0, setup_end)
        e2e["setup_cpu_raw_s"], e2e["setup_wall_s"] = setup["total"], setup["at"]
    except Exception as exc:  # noqa: BLE001 — a broken program still gets its result line
        ledger.check("run", False, "".join(traceback.format_exception_only(exc)).strip())
        traceback.print_exc()
    finally:
        # RSS (mostly JVM heap growth) varies by a fifth run to run, so
        # it is a per-layer figure, not a bounded end-to-end one
        layers["peak_rss_mb"] = e2e["peak_rss_mb"] = sampler.stop()
        proc.stop_spark(spark)
    watchdog.cancel()
    factor = host.factor()
    e2e["setup_s"] = e2e.get("setup_cpu_raw_s", 0.0) * factor
    e2e["pass_cpu_s"] = e2e.get("pass_cpu_raw_s", 0.0) * factor
    e2e["failed_frac"] = ledger.failed / max(ledger.attempted, 1)
    fps.save()
    if args.trace:
        layers["engine.session_start_s"] = session_s
        for k in ("pass_s", "op_p50_s", "op_p90_s", "submit_p50_s", "poll_cycle_s",
                  "lines_per_s"):
            if k in e2e:
                layers[k] = e2e[k]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    os.chdir(ROOT)
    shutil.rmtree(run_dir, ignore_errors=True)

    config.update(speed_probes_s=host.samples, speed_factor=factor)
    detail = {"workload": args.workload, "config": config, "inputs": sizes,
              "session_s": session_s, "end_to_end": e2e,
              "attempted": ledger.attempted, "failures": ledger.failures}
    if args.trace:
        detail["per_layer"] = layers
        detail["layer_self_s"] = tracer.self_times()
    print(json.dumps(detail, default=str))

    if args.trace:
        chosen = {name: (layers.get(name, 0.0), unit) for name, unit, _ in metrics.per_layer()}
    else:
        chosen = {name: (e2e.get(name, 0.0), unit) for name, unit, _, _ in metrics.END_TO_END}
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
