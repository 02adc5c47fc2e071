"""Helpers shared by the workloads: output fingerprints, statistics and
the per-run outcome ledger."""

from __future__ import annotations

import json
import os
import statistics

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _has_map(dt: T.DataType) -> bool:
    return '"map"' in dt.json()


def fingerprint_df(df: DataFrame) -> DataFrame:
    """One-row (s, n): the decimal sum of xxhash64 over every output
    column, and the row count. Order-insensitive, and it computes every
    column, unlike count(), which lets Catalyst prune projections."""
    cols = [
        F.to_json(F.col(f"`{f.name}`")) if _has_map(f.dataType) else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return df.select(h.alias("h")).agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


def fingerprint(df: DataFrame) -> tuple[str, int]:
    row = fingerprint_df(df).collect()[0]
    return str(row["s"]), int(row["n"])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p: int) -> float:
    """The p-th percentile (inclusive interpolation); the max of one sample."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


# the process-tree parts reported per pass (see proc.cpu_sample)
CPU_PARTS = ("driver", "jvm", "workers", "jit", "gc")


def cpu_by_part(passes) -> dict[str, float]:
    """Median CPU seconds per pass of each part of the process tree."""
    return {
        f"cpu.{name}_s": median([p["cpu"][part] for p in passes])
        for name, part in (("driver", "driver"), ("jvm", "jvm"), ("jit", "jit"),
                           ("workers", "workers"))
    }


class Ledger:
    """Operations attempted and failed, with every failure named."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []

    def check(self, op: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append({"op": op, "detail": detail[:500]})
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


class FingerprintStore:
    """Fingerprints per (workload, seed), kept across runs in the work
    dir, so a rerun with the same seed must reproduce them."""

    def __init__(self, path: str):
        self.path = path
        self.known = {}
        if os.path.exists(path):
            with open(path) as f:
                self.known = json.load(f)
        self.seen: dict[str, list] = {}

    def check(self, ledger: Ledger, name: str, fp: tuple[str, int]) -> bool:
        ref = self.seen.setdefault(name, self.known.get(name) or list(fp))
        return ledger.check(f"fingerprint:{name}", list(fp) == ref,
                            f"got {list(fp)}, expected {ref}")

    def save(self) -> None:
        if not self.seen:
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({**self.known, **self.seen}, f, indent=1, sort_keys=True)
