"""Seeded input generation: the star schema and the batch pipeline's files.

The star schema comes from ``tools/make_sf.generate``. The pipeline's
document collection, request files and result files are drawn here from
the same seed. Every job's expected outcome is returned with its files,
so the workload can check the final document state against it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA_JSON = json.dumps(
    {
        "type": "object",
        "properties": {"sentiment": {"type": "string"}, "score": {"type": "number"}},
        "required": ["sentiment"],
    }
)
MODEL = "gpt-4o-mini"
SENTIMENTS = ("positive", "negative", "neutral", "mixed")
WORDS = ("batch", "order", "late", "refund", "great", "broken", "fast", "slow",
         "support", "price", "quality", "delivery", "again", "never", "always")
ERROR_FRAC = 0.05  # result lines that land in the error file
INVALID_FRAC = 0.05  # output lines whose content fails the schema


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def star_schema(sf: float, out: str, seed: int) -> dict[str, dict[str, int]]:
    """Generate the star schema; returns {table: {"rows", "bytes"}}."""
    from tools.make_sf import generate

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        generate(sf, out, seed)
    sizes = {}
    for line in buf.getvalue().splitlines():
        name, _, rest = line.strip().partition(":")
        if rest.strip().endswith("rows"):
            sizes[name] = {
                "rows": int(rest.split()[0]),
                "bytes": dir_bytes(os.path.join(out, f"{name}.parquet")),
            }
    return sizes


def doc_id(i: int) -> str:
    return f"doc-{i:07d}"


def collection(path: str, n_docs: int, seed: int) -> dict[str, int]:
    """The target collection as a parquet snapshot dir, every doc pending."""
    rng = np.random.default_rng([seed, 0])
    lens = rng.integers(4, 24, n_docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))].tolist()
    ends = np.cumsum(lens).tolist()
    # the words need no JSON escaping
    payload = ['{"text": "' + " ".join(words[e - k:e]) + '"}'
               for k, e in zip(lens.tolist(), ends)]
    item = pa.struct([("event_response", pa.string()),
                      ("updated", pa.timestamp("us", tz="UTC"))])
    table = pa.table({
        "_id": pa.array([doc_id(i) for i in range(n_docs)]),
        "ai_status": pa.array(["pending"] * n_docs),
        "event_response": pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1, np.int32)), pa.array([], item)),
        "payload": pa.array(payload),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return {"rows": n_docs, "bytes": dir_bytes(path)}


def job_order(n_docs: int, seed: int) -> np.ndarray:
    """Doc indices in the order jobs target them: job k takes the k-th
    slice, so no doc is targeted twice in one run."""
    return np.random.default_rng([seed, 1]).permutation(n_docs)


def job_files(out_dir: str, k: int, targets: np.ndarray, seed: int) -> dict:
    """Request, output and error JSONL for job ``k`` over ``targets``.

    Returns the paths, line and byte counts, and the outcome the pipeline
    must reach: docs with valid content end 'completed' with one
    event_response; error and invalid lines end 'failed' with none.
    """
    rng = np.random.default_rng([seed, 2, k])
    os.makedirs(out_dir, exist_ok=True)
    req = os.path.join(out_dir, f"job{k}.requests.jsonl")
    out = os.path.join(out_dir, f"job{k}.output.jsonl")
    err = os.path.join(out_dir, f"job{k}.errors.jsonl")
    u = rng.random(len(targets))
    sent = rng.integers(0, len(SENTIMENTS), len(targets))
    score = np.round(rng.random(len(targets)), 3)
    order = rng.permutation(len(targets))  # result lines come back shuffled
    n_ok = n_err = n_bad = 0
    with open(req, "w") as fr:
        for i in targets:
            fr.write(json.dumps({
                "custom_id": doc_id(int(i)),
                "method": "POST",
                "url": "/v1/chat/completions",
                "body": {"model": MODEL,
                         "messages": json.dumps([{"role": "user", "content": "classify"}])},
            }) + "\n")
    with open(out, "w") as fo, open(err, "w") as fe:
        for j in order:
            cid = doc_id(int(targets[j]))
            if u[j] < ERROR_FRAC:
                n_err += 1
                fe.write(json.dumps({
                    "custom_id": cid,
                    "error": {"code": "server_error", "message": "upstream timeout"},
                }) + "\n")
                continue
            if u[j] < ERROR_FRAC + INVALID_FRAC / 2:
                n_bad += 1
                content = json.dumps({"score": float(score[j])})  # misses 'sentiment'
            elif u[j] < ERROR_FRAC + INVALID_FRAC:
                n_bad += 1
                content = "Sure! The sentiment is " + SENTIMENTS[sent[j]]  # not JSON
            else:
                n_ok += 1
                content = json.dumps({"sentiment": SENTIMENTS[sent[j]],
                                      "score": float(score[j])})
            fo.write(json.dumps({
                "custom_id": cid,
                "response": {"body": {"choices": [{"message": {"content": content}}]}},
            }) + "\n")
    return {
        "requests": req, "output": out, "errors": err,
        "lines": len(targets),
        "result_bytes": dir_bytes(out) + dir_bytes(err),
        "request_bytes": dir_bytes(req),
        "completed": n_ok, "failed": n_err + n_bad,
    }
