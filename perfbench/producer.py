"""Open-loop producer: one process, two threads, a schedule fixed in advance.

Message i of a phase is due at ``t0 + i / rate``. A schedule thread
hands each message to a sender thread when it is due, whatever the
subscriber is doing; the sender publishes through the sink layer
(``put_chunked`` over a ``KinesisPublisher``). The creation stamp in
each message is its due time, so delivery latency includes any wait in
the sender or the transport; how late the schedule thread ran is
reported as ``late_ms``.

    python3 producer.py <plan.json>

The plan names the seed, the duration of each phase, the stream options
and, per phase, the rate and the per-key counters to start from. The
producer prepares every message, then waits for ``<plan.json>.go``,
which holds the start time t0; the phases run back to back from t0.
The result is written to ``<plan.json>.out``.
"""

from __future__ import annotations

import json
import os
import queue
import sys
import threading
import time

import numpy as np

#: most records one put_chunked call takes, so one call holds the
#: interpreter lock briefly and the schedule thread stays on time
MAX_PUT = 500


def prepare(plan: dict, phase: dict):
    """Draw the phase's messages and encode their payloads."""
    import base64

    import msgs

    n = int(phase["rate"] * plan["seconds"])
    counters = np.array(phase["counters"], dtype=np.int64)
    p = msgs.make_plan(plan["seed"], phase["phase"], n, counters)
    data = [base64.b64encode(p.payload(i)).decode("ascii") for i in range(n)]
    return p, data


def schedule(jobs: list, seconds: float, t0: float, entry) -> dict:
    """Due times for the phases back to back from t0, each lasting
    ``seconds``, and the wire entries stamped with them."""
    import msgs

    dues, entries = [], []
    for k, (p, data, rate) in enumerate(jobs):
        due = t0 + k * seconds + np.arange(p.n) / rate
        dues.append(due)
        entries += [
            entry(
                json.dumps(
                    {"watermill_message_uuid": p.uuid(i), "data": data[i],
                     "headers": p.headers(i, int(due[i] * 1000))},
                    separators=(",", ":"),
                ),
                msgs.KEYS[p.keys[i]],
            )
            for i in range(p.n)
        ]
    return {"n": len(entries), "due": np.concatenate(dues), "entries": entries}


def send(pub, job: dict, put_chunked) -> dict:
    """Hand every message to the sender thread as soon as it is due;
    never wait for the subscriber. The sender publishes whatever is
    queued in one ``put_chunked`` call, in due order, so per-key order
    holds and a slow put delays only the messages behind it (their
    latency, counted from the due time, shows it) and not the schedule.
    ``late_ms`` is how late the schedule loop handed a message over."""
    due, entries, n = job["due"], job["entries"], job["n"]
    late = np.zeros(n)
    q: queue.Queue = queue.Queue()
    stats = {"put_s": 0.0, "calls": 0, "error": None}

    def sender() -> None:
        while True:
            item = q.get()
            if item is None:
                return
            batch = list(item)
            while len(batch) < MAX_PUT:  # coalesce what is already due
                try:
                    more = q.get_nowait()
                except queue.Empty:
                    break
                if more is None:
                    q.put(None)
                    break
                batch.extend(more)
            t = time.time()
            try:
                put_chunked(pub, batch)
            except Exception as e:  # reported to the parent, which fails the run
                stats["error"] = repr(e)
            stats["put_s"] += time.time() - t
            stats["calls"] += 1

    th = threading.Thread(target=sender)
    th.start()
    i = 0
    try:
        while i < n:
            now = time.time()
            j = int(np.searchsorted(due, now, side="right"))
            if j <= i:
                time.sleep(min(due[i] - now, 0.002))
                continue
            late[i:j] = now - due[i:j]
            for k in range(i, j, MAX_PUT):
                q.put(entries[k : min(j, k + MAX_PUT)])
            i = j
    finally:
        q.put(None)
        th.join()
    return {"sent": n, "late_ms": (late * 1000).tolist(), "put_chunked_s": stats["put_s"],
            "put_chunked_calls": stats["calls"], "error": stats["error"], "end": time.time()}


def main(plan_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["root"])
    from watermill_kinesis_spark.streaming.sink import (
        KinesisPublisher,
        PutRecordsEntry,
        put_chunked,
    )

    import msgs

    opts = plan["options"]
    if "countdir" in opts:
        from stubcount import counting_client as factory
    else:
        from watermill_kinesis_spark.sources.kinesis_stub import file_stub_client as factory
    pub = KinesisPublisher(msgs.STREAM, client=factory(opts))
    jobs = []
    for phase in plan["phases"]:
        p, data = prepare(plan, phase)
        jobs.append((p, data, phase["rate"]))
    go = f"{plan_path}.go"
    while not os.path.exists(go):
        time.sleep(0.005)
    with open(go) as f:
        t0 = float(f.read())
    out = send(pub, schedule(jobs, plan["seconds"], t0, PutRecordsEntry), put_chunked)
    lo = 0
    out["phases"] = {}
    for phase, (p, _, _) in zip(plan["phases"], jobs):
        out["phases"][phase["phase"]] = {"sent": p.n, "late_ms": out["late_ms"][lo : lo + p.n]}
        lo += p.n
    tmp = f"{plan_path}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, f"{plan_path}.out")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
