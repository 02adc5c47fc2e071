"""The `batch_pipeline` workload: the submit → poll → process lifecycle
through the calls the CLI makes, closed-loop with one client.

One pass is one job over JOB_LINES documents of an N_DOCS collection:

    submit_batch, then rewrite_state on jobs and docs  (POST /process-batch)
    remote reports in_progress; one poll tick           (idle tick)
    remote reports completed with output + error files
    run_poll_cycle, then rewrite_state on docs and jobs (completing tick)

Each pass targets fresh documents, so every pass does the same work.
After the window one more tick must change nothing, and the final
document state must match what the seeded generator predicts.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

from . import inputs
from .proc import cpu_delta, cpu_sample
from .speed import HostSpeed
from .common import CPU_PARTS, Ledger, cpu_by_part, fingerprint, median, pct
from .trace import Tracer

N_DOCS = 40_000
JOB_LINES = 3_000
MIN_PASSES = 6  # traced runs alternate untraced and traced passes
WARM_UP_JOBS = 3  # the JIT still makes the passes after two jobs dearer


class CountingRemote:
    """Counts (and, traced, times) every call into the remote seam."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer
        self.calls = 0
        self.last_batch = None

    def _call(self, span, name, *args):
        self.calls += 1
        with self.tracer.span("pipeline", span):
            return getattr(self.inner, name)(*args)

    def upload(self, path):
        return self._call("pipeline.upload", "upload", path)

    def create_batch(self, file_id):
        self.last_batch = self._call("pipeline.upload", "create_batch", file_id)
        return self.last_batch

    def retrieve(self, batch_id):
        return self._call("pipeline.remote", "retrieve", batch_id)

    def download(self, file_id):
        return self._call("pipeline.remote", "download", file_id)

    def result_files(self, batch_id):
        return self._call("pipeline.remote", "result_files", batch_id)


class Lifecycle:
    def __init__(self, spark, work, seed, tracer: Tracer, ledger: Ledger):
        from batch_processing_system_spark.pipeline.localremote import DirectoryRemote

        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.ledger = tracer, ledger
        self.docs = os.path.join(work, "state", "docs")
        self.jobs = os.path.join(work, "state", "jobs")
        self.remote = CountingRemote(DirectoryRemote(os.path.join(work, "remote")), tracer)
        self.order = inputs.job_order(N_DOCS, seed)
        self.bytes_written = 0
        self.expected = {"completed": 0, "failed": 0}
        self.n_jobs = 0

    def files(self, k):
        targets = self.order[k * JOB_LINES:(k + 1) * JOB_LINES]
        return inputs.job_files(os.path.join(self.work, "files"), k, targets, self.seed)

    def _now(self, k, step):
        return datetime(2024, 1, 1) + timedelta(minutes=10 * k + step)

    def _read(self):
        from batch_processing_system_spark.pipeline.schemas import BATCH_JOB_SCHEMA, document_schema
        from batch_processing_system_spark.pipeline.statestore import read_state

        return (read_state(self.spark, self.docs, document_schema()),
                read_state(self.spark, self.jobs, BATCH_JOB_SCHEMA))

    def _persist(self, df, path):
        from batch_processing_system_spark.pipeline.statestore import rewrite_state

        with self.tracer.span("pipeline", "pipeline.persist"):
            rewrite_state(df, path)
        self.bytes_written += inputs.dir_bytes(path)

    def submit(self, k, f) -> None:
        from batch_processing_system_spark.pipeline.run import submit_batch

        with self.tracer.span("pipeline", "pipeline.submit"):
            docs, jobs = self._read()
            out = submit_batch(self.spark, f["requests"], inputs.SCHEMA_JSON, docs,
                               self.remote, f"job-{k:04d}", self._now(k, 0))
            if out.errors:
                raise ValueError(f"submission rejected: {out.errors[:3]}")
            self._persist(jobs.unionByName(out.jobs), self.jobs)
            self._persist(out.marked_docs, self.docs)

    def poll(self, name, now) -> None:
        from batch_processing_system_spark.pipeline.run import run_poll_cycle

        with self.tracer.span("pipeline", name):
            docs, jobs = self._read()
            new_jobs, new_docs = run_poll_cycle(self.spark, jobs, docs, self.remote, now)
            self._persist(new_docs, self.docs)
            self._persist(new_jobs, self.jobs)

    def one_job(self, k, f) -> dict:
        """Run job k's lifecycle: three operations, each timed and
        checked. A failed operation ends the job with ``ok`` False."""
        steps = (
            ("submit", lambda: self.submit(k, f)),
            ("idle", lambda: self.poll("pipeline.poll_idle", self._now(k, 1))),
            ("cycle", lambda: self.poll("pipeline.poll_cycle", self._now(k, 2))),
        )
        rec = {"ok": False}
        t_job = time.perf_counter()
        for name, step in steps:
            t = time.perf_counter()
            try:
                if name == "idle":
                    self.remote.inner.set_status(self.remote.last_batch, "in_progress")
                elif name == "cycle":
                    self.remote.inner.set_status(self.remote.last_batch, "completed",
                                                 f["output"], f["errors"])
                step()
            except Exception as exc:  # noqa: BLE001 — named in the output
                self.ledger.check(f"{name}:job-{k}", False, f"{type(exc).__name__}: {exc}")
                break
            rec[name] = time.perf_counter() - t
            self.ledger.check(f"{name}:job-{k}", True)
        else:
            rec["ok"] = True
            self.n_jobs += 1
            self.expected["completed"] += f["completed"]
            self.expected["failed"] += f["failed"]
        rec["wall"] = time.perf_counter() - t_job
        return rec

    def final_checks(self, k):
        """One more tick changes nothing; the end state is the predicted one."""
        from pyspark.sql import functions as F

        read = self.spark.read
        before = fingerprint(read.parquet(self.docs)), fingerprint(read.parquet(self.jobs))
        self.poll("pipeline.poll_extra", self._now(k, 0))
        after = fingerprint(read.parquet(self.docs)), fingerprint(read.parquet(self.jobs))
        self.ledger.check("extra_poll_changes_nothing", before == after,
                          f"before {before}, after {after}")

        got = {
            (r["ai_status"], r["n"]): r["docs"]
            for r in read.parquet(self.docs)
            .groupBy("ai_status", F.size("event_response").alias("n"))
            .agg(F.count(F.lit(1)).alias("docs"))
            .collect()
        }
        done = self.expected["completed"] + self.expected["failed"]
        want = {("completed", 1): self.expected["completed"],
                ("failed", 0): self.expected["failed"],
                ("pending", 0): N_DOCS - done}
        want = {key: n for key, n in want.items() if n}
        self.ledger.check("final_doc_state", got == want, f"got {got}, expected {want}")
        statuses = {
            r["status"]: r["count"]
            for r in read.parquet(self.jobs).groupBy("status").count().collect()
        }
        self.ledger.check("final_job_state", statuses == {"completed": self.n_jobs},
                          f"got {statuses}, expected {self.n_jobs} completed")


def run(spark, work, seed, seconds, tracer: Tracer, trace: bool, ledger: Ledger,
        host: HostSpeed):
    """Generate, warm up, measure, check. ``setup_end`` is the CPU
    sample at the end of the warm-up."""
    lc = Lifecycle(spark, work, seed, tracer, ledger)
    coll = inputs.collection(lc.docs, N_DOCS, seed)
    f = lc.files(0)
    sizes = {"collection": coll, "job": {"lines": f["lines"],
                                         "request_bytes": f["request_bytes"],
                                         "result_bytes": f["result_bytes"]}}
    for k in range(WARM_UP_JOBS):
        lc.one_job(k, f if k == 0 else lc.files(k))
    setup_end = cpu_sample()

    passes = []
    k = WARM_UP_JOBS
    t_start = time.perf_counter()
    max_jobs = N_DOCS // JOB_LINES
    while k < max_jobs and (len(passes) < MIN_PASSES
                            or time.perf_counter() - t_start < seconds):
        f = lc.files(k)
        traced = trace and len(passes) % 2 == 1
        tracer.enabled = traced
        mark, calls0, bytes0 = tracer.mark(), lc.remote.calls, lc.bytes_written
        host.probe()
        cpu0 = cpu_sample()
        with tracer.span("bench", "pass"):
            rec = lc.one_job(k, f)
        tracer.enabled = False
        rec.update(traced=traced, spans=(mark, tracer.mark()),
                   calls=lc.remote.calls - calls0,
                   bytes=lc.bytes_written - bytes0,
                   lines=f["lines"], result_bytes=f["result_bytes"],
                   cpu=cpu_delta(cpu0, cpu_sample()))
        passes.append(rec)
        k += 1
    t = time.perf_counter()
    try:
        lc.final_checks(k)
    except Exception as exc:  # noqa: BLE001 — named in the output
        ledger.check("final_checks", False, f"{type(exc).__name__}: {exc}")
    return {"setup_end": setup_end, "passes": passes, "sizes": sizes,
            "checks_s": time.perf_counter() - t,
            "lifecycle": lc, "last_files": f}


def _done(res: dict, traced: bool) -> list[dict]:
    """The passes whose job ran to completion, untraced or traced."""
    return [p for p in res["passes"] if p["ok"] and p["traced"] == traced]


def end_to_end(res: dict) -> dict:
    plain = _done(res, False)
    ops = [p[k] for p in plain for k in ("submit", "idle", "cycle")]
    busy = sum(p["submit"] + p["idle"] + p["cycle"] for p in plain)
    return {
        "pass_s": median([p["wall"] for p in plain]),
        "op_p50_s": median(ops),
        "op_p90_s": pct(ops, 90),
        "op_samples": len(ops),
        "pass_walls_s": [p["wall"] for p in plain],
        "pass_steal_s": [p["cpu"]["steal"] for p in plain],
        "pass_parts_s": [{k: round(p["cpu"][k], 2) for k in CPU_PARTS} for p in plain],
        "pass_cpu_raw_s": median([p["cpu"]["work"] for p in plain]),
        "ops_s": [[p["submit"], p["idle"], p["cycle"]] for p in plain],
        "checks_s": res["checks_s"],
        "submit_p50_s": median([p["submit"] for p in plain]),
        "poll_cycle_s": median([p["cycle"] for p in plain]),
        "lines_per_s": sum(p["lines"] for p in plain) / busy if busy else 0.0,
    }


def per_layer(res: dict, tracer: Tracer, spark) -> dict:
    from batch_processing_system_spark.pipeline.process import process_results
    from batch_processing_system_spark.pipeline.validate import validate_submission

    traced = _done(res, True)
    tot = [tracer.totals(*p["spans"]) for p in traced]
    out = cpu_by_part(res["passes"])
    out.update({
        "pipeline.upload_s": median([t.get("pipeline.upload", 0.0) for t in tot]),
        "pipeline.persist_s": median([t.get("pipeline.persist", 0.0) for t in tot]),
        "pipeline.poll_idle_s": median([t.get("pipeline.poll_idle", 0.0) for t in tot]),
        "pipeline.remote_calls": median([p["calls"] for p in traced]),
        "pipeline.bytes_written": median([p["bytes"] for p in traced]),
        "pipeline.write_amp": median([p["bytes"] / p["result_bytes"] for p in traced]),
        "trace.unaccounted_frac": median([
            tracer.self_times(*p["spans"]).get("bench", 0.0) / p["wall"] for p in traced
        ]),
        "trace.overhead_s": median([p["wall"] for p in traced])
        - median([p["wall"] for p in _done(res, False)]),
    })

    # validate and process are lazy inside the lifecycle; here each runs
    # on its own over the last job's files, forced by a fingerprint
    lc, f = res["lifecycle"], res["last_files"]
    docs = lc._read()[0]

    def validate():
        r = validate_submission(spark, f["requests"], inputs.SCHEMA_JSON, docs)
        fingerprint(r.errors), fingerprint(r.valid_requests)

    def process():
        new_docs, updates = process_results(spark, docs, f["output"], f["errors"],
                                            inputs.SCHEMA_JSON, datetime(2024, 1, 1))
        fingerprint(new_docs), fingerprint(updates)

    for name, fn in (("pipeline.validate_s", validate), ("pipeline.process_s", process)):
        fn()  # first call warms the plan shapes
        t = time.perf_counter()
        fn()
        out[name] = time.perf_counter() - t
    return out
