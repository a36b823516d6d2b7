"""Counting ``clientfactory`` for the traced pubsub run.

Wraps the file-backed Kinesis stub (``kinesis_stub:file_stub_client``)
and counts, in whichever process makes the call (executor Python
workers, the producer), the transport calls and their time. Each
process rewrites its own ``<countdir>/<pid>.json`` after every call;
the benchmark sums the files when the run ends.

``sink.*`` figures come from the same wrapper: the kinesis_aws writer
publishes each task's rows with one ``put_chunked`` call, whose only
transport calls are these ``put_records``, so a task's time from its
first put to its last return is its time inside ``put_chunked``.
"""

from __future__ import annotations

import json
import os
import time

_tally: dict | None = None


def _fresh() -> dict:
    return {
        "pid": os.getpid(),
        "put_calls": 0,
        "put_records": 0,
        "put_failed": 0,
        "put_s": 0.0,
        "get_calls": 0,
        "get_empty": 0,
        "get_records": 0,
        "get_s": 0.0,
        "tasks": {},
    }


def _current() -> dict:
    global _tally
    if _tally is None or _tally["pid"] != os.getpid():  # new (or forked) process
        _tally = _fresh()
    return _tally


def _task_key() -> str:
    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
    except ImportError:
        ctx = None
    if ctx is None:
        return f"pid-{os.getpid()}"
    return f"{ctx.stageId()}.{ctx.partitionId()}.{ctx.attemptNumber()}"


def _flush(count_dir: str, tally: dict) -> None:
    os.makedirs(count_dir, exist_ok=True)
    path = os.path.join(count_dir, f"{tally['pid']}.json")
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(tally, f)
    os.replace(tmp, path)


class CountingClient:
    def __init__(self, inner, count_dir: str):
        self._inner = inner
        self._dir = count_dir

    def list_shards(self, *a, **kw):
        return self._inner.list_shards(*a, **kw)

    def get_shard_iterator(self, *a, **kw):
        return self._inner.get_shard_iterator(*a, **kw)

    def get_records(self, *a, **kw):
        t0 = time.perf_counter()
        resp = self._inner.get_records(*a, **kw)
        dt = time.perf_counter() - t0
        t = _current()
        n = len(resp.get("Records", []))
        t["get_calls"] += 1
        t["get_records"] += n
        t["get_empty"] += n == 0
        t["get_s"] += dt
        _flush(self._dir, t)
        return resp

    def put_records(self, *a, **kw):
        t0 = time.time()
        resp = self._inner.put_records(*a, **kw)
        t1 = time.time()
        t = _current()
        t["put_calls"] += 1
        t["put_records"] += len(kw.get("Records") or (a[1] if len(a) > 1 else []))
        t["put_failed"] += int(resp.get("FailedRecordCount", 0))
        t["put_s"] += t1 - t0
        span = t["tasks"].setdefault(_task_key(), [t0, t1])
        span[0], span[1] = min(span[0], t0), max(span[1], t1)
        _flush(self._dir, t)
        return resp


def counting_client(options) -> CountingClient:
    """clientfactory target: ``option('countdir', <dir>)`` names where
    the per-process counts go; every other option reaches the stub."""
    from watermill_kinesis_spark.sources.kinesis_stub import file_stub_client

    return CountingClient(file_stub_client(options), options["countdir"])


def gather(count_dir: str) -> dict[str, float]:
    """Sum of every process's counts; ``task_put_s`` sums each task's
    first-put-to-last-return time."""
    keys = ("put_calls", "put_records", "put_failed", "put_s", "get_calls",
            "get_empty", "get_records", "get_s")
    out: dict[str, float] = dict.fromkeys(keys, 0)
    out["task_put_s"] = 0.0
    if not os.path.isdir(count_dir):
        return out
    for name in os.listdir(count_dir):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(count_dir, name)) as f:
            t = json.load(f)
        for k in keys:
            out[k] += t[k]
        out["task_put_s"] += sum(b - a for a, b in t["tasks"].values())
    return out
