"""The ``pubsub`` workload: Layer A along the path a deployment runs.

The ``kinesis_aws`` writer and its parallel stream reader run over the
file-backed Kinesis stub (``kinesis_stub:file_stub_client``), with the
engine's defaults for every reader option. Three phases:

1. publish a seeded backlog: staged messages -> ``codec.marshal`` ->
   ``write.format("kinesis_aws")``, together with re-sent duplicates
   and corrupt envelopes, in PUBLISH_JOBS consecutive bulk writes;
2. drain it with a fresh subscriber, timed from its first trigger:
   ``readStream.format("kinesis_aws")`` ->
   ``codec.unmarshal(drop_corrupt=True)`` -> ``dedup_by_uuid`` ->
   ``foreachBatch``;
3. feed the same running query open-loop from a separate producer
   process, at ``low`` and then straight on at ``high`` rate, for half
   of ``--seconds`` each.

The ``foreachBatch`` handler aggregates on executors (per-key counter
ranges, uuid number sums, message ages) and collects only those
aggregates. A message is delivered when the handler's job over its
micro-batch has finished; its latency runs from its scheduled send
time to then. (The parallel reader reads records when its tasks run,
after the handler is called, so the call time itself would precede
the delivery of the batch's newest records.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import eventlog
import msgs
import stubcount
from stats import LogHistogram, median, percentile, supported_tail

BACKLOG = 8_000
#: the backlog is published by this many consecutive bulk writes
PUBLISH_JOBS = 4
WARM = 1_000
RATES = {"low": 500, "high": 1_000}
#: a run whose producer started sends later than this at p99 is invalid
GEN_LATE_BOUND_MS = 250.0
WAIT_S = 90.0

STUB_FACTORY = "watermill_kinesis_spark.sources.kinesis_stub:file_stub_client"
COUNTING_FACTORY = "stubcount:counting_client"

LAYER_METRICS = [
    "codec.encode_s", "codec.decode_s", "codec.wire_bytes_per_msg", "codec.corrupt_rows",
    "sink.put_calls", "sink.records_put", "sink.records_retried", "sink.put_s",
    "transport.put_s", "transport.get_calls", "transport.get_s",
    "transport.empty_get_ratio", "transport.records_served",
    "source.start_s", "source.triggers", "source.empty_trigger_ratio", "source.latest_offset_ms",
    "source.query_planning_ms", "source.commit_ms", "source.add_batch_ms",
    "source.rows_per_trigger", "source.lag_msgs_max",
    "semantics.state_rows", "semantics.state_bytes", "semantics.dups_dropped",
    "semantics.state_update_ms",
    "gen.late_p99_ms", "gen.offered_msgs",
]


class Tally:
    """Driver-side totals of what the handler saw, updated per batch."""

    def __init__(self):
        self.lock = threading.Lock()
        self.hist = {p: LogHistogram() for p in RATES}
        self.count: dict[str, int] = {}
        #: per phase, sums of the uuids' message numbers and their squares
        self.sums: dict[str, tuple[int, int]] = {}
        self.last_seq: dict[str, int] = {}
        self.order_errors: list[str] = []
        self.last_batch = -1
        self.lag_max = 0
        #: phase -> (t0, rate, n) of the live schedule, for the lag
        self.live: dict[str, tuple[float, float, int]] = {}

    def delivered(self, phase: str) -> int:
        with self.lock:
            return self.count.get(phase, 0)

    def handler(self, batch_df, batch_id: int) -> None:
        """One Spark job per micro-batch: per-key counter ranges, and per
        phase the uuid number sums and each message's age (ms) when the
        handler started. A message counts as delivered when that job
        has finished, so its latency is its age plus the job's time."""
        t_ref = time.time() * 1000
        batch_df.createOrReplaceTempView("microbatch")
        rows = batch_df.sparkSession.sql(
            f"""
            SELECT k, ph, age, grouping_id() AS g, count(1) AS n, min(seq) AS lo,
                   max(seq) AS hi, sum(i) AS s1, sum(i * i) AS s2
            FROM (SELECT metadata['partitionKey'] AS k, metadata['phase'] AS ph,
                         CAST(metadata['seq'] AS BIGINT) AS seq,
                         CAST(floor({t_ref} - CAST(metadata['created_ms'] AS DOUBLE))
                              AS BIGINT) AS age,
                         CAST(substring_index(uuid, '-', -1) AS BIGINT) AS i
                  FROM microbatch)
            GROUP BY GROUPING SETS ((k), (ph, age))
            """
        ).collect()
        t_done = time.time() * 1000
        with self.lock:
            self.last_batch = max(self.last_batch, batch_id)
            for r in rows:
                if r.g == 3:  # per key: this batch's counters continue the last
                    expect = self.last_seq.get(r.k, -1) + 1
                    if r.lo != expect or r.hi - r.lo + 1 != r.n:
                        self.order_errors.append(
                            f"{r.k}: batch {batch_id} has {r.n} rows, counters "
                            f"{r.lo}..{r.hi}, expected from {expect}"
                        )
                    self.last_seq[r.k] = r.hi
                else:
                    self.count[r.ph] = self.count.get(r.ph, 0) + r.n
                    s1, s2 = self.sums.get(r.ph, (0, 0))
                    self.sums[r.ph] = (s1 + r.s1, s2 + r.s2)
                    if r.ph in self.hist:
                        self.hist[r.ph].add(t_done - t_ref + r.age, r.n)
            for ph, (t0, rate, n) in self.live.items():
                due = min(n, max(0, int((t_done / 1000 - t0) * rate)))
                self.lag_max = max(self.lag_max, due - self.count.get(ph, 0))


def feed_n(ctx, phase: str) -> int:
    """Messages fed at a live phase's rate over half of ``--seconds``."""
    return int(RATES[phase] * ctx.seconds / 2)


def progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def stub_options(ctx, name: str) -> dict:
    opts = {"stubdir": ctx.path("stub", name, "")}
    if ctx.trace:
        opts.update(clientfactory=COUNTING_FACTORY, countdir=ctx.path("counts", ""))
    else:
        opts["clientfactory"] = STUB_FACTORY
    return opts


def create_stream(stubdir: str) -> None:
    from watermill_kinesis_spark.sources.kinesis_stub import FileStubKinesisClient

    client = FileStubKinesisClient(stubdir)
    for i in range(msgs.N_SHARDS):
        client.add_shard(f"shardId-{i:012d}")


def stage(ctx, phase: str, n: int, counters: np.ndarray, dup_share: float,
          corrupt_share: float, parts: int = 1) -> dict:
    """Write a phase's messages in send order, as ``parts`` consecutive
    slices of each shard's sequence (one parquet file per shard and
    slice), with re-sent duplicates placed after their originals; and
    the corrupt wire records spread over the slices. Returns the slices
    and what the subscriber should receive."""
    plan = msgs.make_plan(ctx.seed, phase, n, counters)
    created = int(time.time() * 1000)
    order: list[list[int]] = [[] for _ in range(msgs.N_SHARDS)]
    for i in range(n):
        order[msgs.KEY_SHARD[plan.keys[i]]].append(i)
    n_dup = int(n * dup_share)
    for i in plan.rng.choice(n, n_dup, replace=False):
        lane = order[msgs.KEY_SHARD[plan.keys[i]]]
        pos = lane.index(i)
        lane.insert(int(plan.rng.integers(pos + 1, len(lane) + 1)), int(i))
    payloads = [plan.payload(i) for i in range(n)]
    corrupt = msgs.corrupt_records(plan.rng, int((n + n_dup) * corrupt_share))
    mtype = pa.map_(pa.string(), pa.string())
    out = []
    for j in range(parts):
        part_dir = ctx.path("staged", phase, f"part-{j}", "")
        wire = 0
        for s, lane in enumerate(order):
            rows = lane[j * len(lane) // parts : (j + 1) * len(lane) // parts]
            wire += len(rows)
            table = pa.table(
                {
                    "uuid": pa.array([plan.uuid(i) for i in rows], pa.string()),
                    "payload": pa.array([payloads[i] for i in rows], pa.binary()),
                    "metadata": pa.array(
                        [list(plan.headers(i, created).items()) for i in rows], mtype
                    ),
                }
            )
            pq.write_table(table, os.path.join(part_dir, f"shard-{s}.parquet"),
                           row_group_size=len(rows) + 1)
        bad = corrupt[j * len(corrupt) // parts : (j + 1) * len(corrupt) // parts]
        corrupt_path = ctx.path("staged", phase, f"corrupt-{j}.parquet")
        pq.write_table(
            pa.table({"data": pa.array([d for d, _ in bad], pa.string()),
                      "partition_key": pa.array([k for _, k in bad], pa.string())}),
            corrupt_path,
        )
        out.append({"dir": part_dir, "corrupt_path": corrupt_path, "wire": wire + len(bad)})
    return {"parts": out, "n": n, "dups": n_dup, "corrupt": len(corrupt),
            "wire": n + n_dup + len(corrupt)}


def publish(spark, part: dict, opts: dict) -> None:
    """One bulk write: marshal the slice's messages, add its corrupt
    records, and write everything through the kinesis_aws writer."""
    from watermill_kinesis_spark import codec

    wire = codec.marshal(spark.read.parquet(part["dir"])).unionByName(
        spark.read.parquet(part["corrupt_path"])
    )
    wire.write.format("kinesis_aws").option("streamName", msgs.STREAM).options(**opts).mode(
        "append"
    ).save()


def start_subscriber(ctx, spark, opts: dict, tally: Tally, name: str):
    from pyspark.sql import functions as F

    from watermill_kinesis_spark import codec
    from watermill_kinesis_spark.streaming import semantics

    wire = (
        spark.readStream.format("kinesis_aws")
        .option("streamName", msgs.STREAM)
        .options(**opts)
        .load()
        .observe(f"{name}_wire", F.count(F.lit(1)).alias("rows"))
    )
    decoded = codec.unmarshal(wire, drop_corrupt=True).observe(
        f"{name}_decoded", F.count(F.lit(1)).alias("rows")
    )
    timed = semantics.with_event_time(
        decoded, F.timestamp_millis(F.col("metadata")["created_ms"].cast("long"))
    )
    return (
        semantics.dedup_by_uuid(timed)
        .writeStream.foreachBatch(tally.handler)
        .option("checkpointLocation", ctx.path("checkpoint", name, ""))
        .start()
    )


def wait_for(cond, what: str, query=None, timeout: float = WAIT_S) -> None:
    deadline = time.time() + timeout
    next_probe = 0.0
    while not cond():
        now = time.time()
        if query is not None and now >= next_probe:
            next_probe = now + 1.0
            if query.exception() is not None:
                raise RuntimeError(f"stream failed while waiting for {what}: {query.exception()}")
        if now > deadline:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.01)


def number_sums(n: int) -> tuple[int, int]:
    """Sums of 0..n-1 and of their squares: what a phase whose uuids end
    in message numbers 0..n-1 delivers when each arrives exactly once."""
    return n * (n - 1) // 2, (n - 1) * n * (2 * n - 1) // 6


def run(ctx) -> None:
    from watermill_kinesis_spark.sources import kinesis_aws

    tr = ctx.tracer
    counters = np.zeros(msgs.N_KEYS, dtype=np.int64)
    producer = None
    try:
        t0 = time.perf_counter()
        with tr.span("setup", "bench"):
            spark = ctx.start_session()
            kinesis_aws.register(spark)
            with tr.span("staging", "bench"):
                warm = stage(ctx, "warm", WARM, np.zeros(msgs.N_KEYS, dtype=np.int64), 0.0, 0.0)
                backlog = stage(ctx, "backlog", BACKLOG, counters, msgs.DUP_SHARE,
                                msgs.CORRUPT_SHARE, parts=PUBLISH_JOBS)
                live_counters = {}
                for ph in RATES:  # counters each live phase starts from
                    live_counters[ph] = counters.tolist()
                    msgs.make_plan(ctx.seed, ph, feed_n(ctx, ph), counters)
                warm_opts, opts = stub_options(ctx, "warm"), stub_options(ctx, "bench")
                create_stream(warm_opts["stubdir"])
                create_stream(opts["stubdir"])
            # the producer prepares its messages now, not during the timed phases
            producer, plan_path = start_producer(ctx, opts, live_counters)
            w0 = time.perf_counter()
            with tr.span("warmup", "bench"):
                # the subscriber starts first, so its start-up overlaps the publish
                warm_tally = Tally()
                q = start_subscriber(ctx, spark, warm_opts, warm_tally, "warm")
                publish(spark, warm["parts"][0], warm_opts)
                wait_for(lambda: warm_tally.delivered("warm") >= WARM, "the warm-up", q)
                q.stop()
            warm_s = time.perf_counter() - w0
        ctx.e2e["setup_s"] = time.perf_counter() - t0

        listener = progress_listener()
        spark.streams.addListener(listener)
        tally = Tally()
        window0 = time.time() * 1000
        with tr.span("pass", "bench") as root:
            job_s = []
            with tr.span("publish", "streaming.sink"):
                for part in backlog["parts"]:
                    p0 = time.perf_counter()
                    publish(spark, part, opts)
                    job_s.append(time.perf_counter() - p0)
            with tr.span("drain", "sources.kinesis_aws"):
                d0 = time.time()
                query = start_subscriber(ctx, spark, opts, tally, "bench")
                wait_for(lambda: tally.delivered("backlog") >= backlog["n"], "the backlog", query)
                d1 = time.time()
        window = (window0, time.time() * 1000)
        wait_for(lambda: any(ev["batchId"] == 0 for ev in listener.events),
                 "the first progress event", query)
        first = next(ev for ev in listener.events if ev["batchId"] == 0)
        trigger0 = datetime.fromisoformat(first["timestamp"].replace("Z", "+00:00")).timestamp()
        with tr.span("feed", "sources.kinesis_aws"):
            t_go = time.time() + 0.5
            half = ctx.seconds / 2
            tally.live = {ph: (t_go + k * half, RATES[ph], feed_n(ctx, ph))
                          for k, ph in enumerate(RATES)}
            with open(f"{plan_path}.go.tmp", "w") as f:
                f.write(repr(t_go))
            os.replace(f"{plan_path}.go.tmp", f"{plan_path}.go")
            wait_for(lambda: os.path.exists(f"{plan_path}.out") or producer.poll() is not None,
                     "the producer", query, timeout=ctx.seconds + WAIT_S)
            if not os.path.exists(f"{plan_path}.out"):
                raise RuntimeError(f"producer exited with code {producer.returncode}")
            with open(f"{plan_path}.out") as f:
                sent = json.load(f)
            for ph in RATES:
                wait_for(lambda: tally.delivered(ph) >= feed_n(ctx, ph), f"the {ph} feed", query)
        # every batch the handler saw must have reported its progress
        wait_for(lambda: {ev["batchId"] for ev in listener.events}
                 >= set(range(tally.last_batch + 1)), "progress events", query, timeout=30)
        # The parallel reader plans a new epoch on every trigger, so the
        # query never idles and stop usually interrupts a batch; Spark may
        # then log a StackOverflowError from the stream thread, which ends
        # the thread and changes nothing delivered.
        query.stop()
    finally:
        # on the normal path the producer has already written its result
        if producer is not None:
            try:
                producer.wait(timeout=10)
            except subprocess.TimeoutExpired:
                producer.kill()
                producer.wait()

    print(f"perfbench: publish jobs {[round(s, 3) for s in job_s]}, "
          f"drain {d1 - trigger0:.3f}, subscriber start {trigger0 - d0:.3f}", file=sys.stderr)
    e = ctx.e2e
    e["publish_msgs_per_s"] = median(
        [part["wire"] / s for part, s in zip(backlog["parts"], job_s)]
    )
    # the drain runs from the subscriber's first trigger; its start-up
    # before that is reported on its own (source.start_s)
    e["drain_msgs_per_s"] = backlog["wire"] / (d1 - trigger0)
    e["pass_s"] = sum(job_s) + (d1 - trigger0)
    e["source.start_s"] = trigger0 - d0
    for ph in RATES:
        h = tally.hist[ph]
        tail = supported_tail(h.total) or 100.0
        e[f"deliver_p50_ms.{ph}"] = h.percentile(50)
        e[f"deliver_p99_ms.{ph}"] = h.percentile(tail)
        e[f"deliver.{ph}_samples"] = h.total
        e[f"deliver.{ph}_tail_percentile"] = tail

    observed = {k: sum(ev.get("observedMetrics", {}).get(k, {}).get("rows", 0)
                       for ev in listener.events) for k in ("bench_wire", "bench_decoded")}
    live_n = {ph: feed_n(ctx, ph) for ph in RATES}
    delivered_total = sum(tally.count.values())
    check(ctx, tally, backlog, live_n, observed, delivered_total, sent)

    if ctx.trace:
        by_layer = tr.self_by_layer(root)
        ctx.layers.update({f"self.{layer}_s": t for layer, t in by_layer.items()})
        ctx.layers["trace.gap_ratio"] = by_layer.get("bench", 0.0) / root.duration
        trace_layers(ctx, spark, tally, backlog, listener.events, sent, warm_s,
                     observed, delivered_total, window)


def start_producer(ctx, opts: dict, counters: dict):
    """Start the producer process now; it prepares every live phase and
    then waits for the go file."""
    plan = {
        "root": ctx.root, "seed": ctx.seed, "seconds": ctx.seconds / 2, "options": opts,
        "phases": [{"phase": ph, "rate": RATES[ph], "counters": counters[ph]} for ph in RATES],
    }
    path = ctx.path("producer", "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.Popen([sys.executable, os.path.join(here, "producer.py"), path])
    return proc, path


def check(ctx, tally, backlog, live_n, observed, delivered_total, sent) -> None:
    oc = ctx.outcomes
    expect = {"backlog": backlog["n"], **live_n}
    for ph, n in expect.items():
        oc.check("deliver.count", tally.count.get(ph, 0) == n,
                 f"{ph}: delivered {tally.count.get(ph, 0)} of {n}")
        oc.check("deliver.uuids", tally.sums.get(ph) == number_sums(n),
                 f"{ph}: delivered uuids differ from published ones")
    stray = set(tally.count) - set(expect)
    oc.check("deliver.stray", not stray, f"messages of unknown phases {stray} delivered")
    oc.check("deliver.order", not tally.order_errors,
             f"{len(tally.order_errors)} keys out of order, first: "
             f"{tally.order_errors[:1]}")
    corrupt = observed["bench_wire"] - observed["bench_decoded"]
    oc.check("decode.corrupt", corrupt == backlog["corrupt"],
             f"{corrupt} corrupt rows skipped, {backlog['corrupt']} injected")
    dups = observed["bench_decoded"] - delivered_total
    oc.check("dedup.dups", dups == backlog["dups"],
             f"{dups} duplicates dropped, {backlog['dups']} re-sent")
    oc.check("gen.put", sent["error"] is None, f"producer put failed: {sent['error']}")
    late_p99 = percentile(sent["late_ms"], 99)
    oc.check("gen.late", late_p99 <= GEN_LATE_BOUND_MS,
             f"producer ran {late_p99:.1f} ms late at p99 (bound {GEN_LATE_BOUND_MS} ms)")
    ctx.e2e["gen.late_p99_ms"] = late_p99


def trace_layers(ctx, spark, tally, backlog, events, sent, warm_s, observed,
                 delivered_total, window) -> None:
    from pyspark.sql import functions as F

    from batch import BATCH_LAYER_METRICS
    from watermill_kinesis_spark import codec

    lay = ctx.layers
    lay.update(BATCH_LAYER_METRICS)
    tr = ctx.tracer
    lay["session.start_s"] = tr.total_by_name("session.start")
    lay["session.warm_s"] = warm_s
    # codec, timed on the staged backlog with forcing aggregates
    parts = backlog["parts"]
    msgs_df = spark.read.parquet(*[part["dir"] for part in parts])
    with tr.span("codec.encode", "codec") as s:
        nbytes, nrows = codec.marshal(msgs_df).agg(F.sum(F.length("data")), F.count("*")).first()
    lay["codec.encode_s"] = s.duration
    lay["codec.wire_bytes_per_msg"] = nbytes / nrows
    wire_dir = ctx.path("wire", "")
    corrupt_df = spark.read.parquet(*[part["corrupt_path"] for part in parts])
    codec.marshal(msgs_df).unionByName(corrupt_df).write.mode(
        "overwrite").parquet(wire_dir)
    with tr.span("codec.decode", "codec") as s:
        lay["codec.corrupt_rows"] = codec.unmarshal(spark.read.parquet(wire_dir)).agg(
            F.sum(F.col("uuid").isNull().cast("int")), F.sum(F.length("payload"))
        ).first()[0]
    lay["codec.decode_s"] = s.duration

    counts = stubcount.gather(os.path.join(ctx.work, "counts"))
    producer_s = sent["put_chunked_s"]
    lay["sink.put_calls"] = counts["put_calls"]
    lay["sink.records_put"] = counts["put_records"] - counts["put_failed"]
    lay["sink.records_retried"] = counts["put_failed"]
    lay["sink.put_s"] = counts["task_put_s"] + producer_s
    lay["transport.put_s"] = counts["put_s"]
    lay["transport.get_calls"] = counts["get_calls"]
    lay["transport.get_s"] = counts["get_s"]
    lay["transport.empty_get_ratio"] = counts["get_empty"] / max(1, counts["get_calls"])
    lay["transport.records_served"] = counts["get_records"]

    n = max(1, len(events))
    dur = lambda k: sum(ev.get("durationMs", {}).get(k, 0) for ev in events) / n  # noqa: E731
    rows = [ev.get("numInputRows", 0) for ev in events]
    lay["source.start_s"] = ctx.e2e["source.start_s"]
    lay["source.triggers"] = len(events)
    lay["source.empty_trigger_ratio"] = sum(r == 0 for r in rows) / n
    lay["source.latest_offset_ms"] = dur("latestOffset")
    lay["source.query_planning_ms"] = dur("queryPlanning")
    lay["source.commit_ms"] = dur("walCommit") + dur("commitOffsets")
    lay["source.add_batch_ms"] = dur("addBatch")
    lay["source.rows_per_trigger"] = sum(rows) / max(1, sum(r > 0 for r in rows))
    lay["source.lag_msgs_max"] = tally.lag_max
    ops = [ev["stateOperators"][0] for ev in events if ev.get("stateOperators")]
    lay["semantics.state_rows"] = ops[-1].get("numRowsTotal", 0) if ops else 0
    lay["semantics.state_bytes"] = ops[-1].get("memoryUsedBytes", 0) if ops else 0
    lay["semantics.state_update_ms"] = sum(o.get("allUpdatesTimeMs", 0) for o in ops) / n
    lay["semantics.dups_dropped"] = observed["bench_decoded"] - delivered_total
    lay["gen.late_p99_ms"] = ctx.e2e["gen.late_p99_ms"]
    lay["gen.offered_msgs"] = sent["sent"]

    ctx.stop_session()  # flushes the event log
    lay.update(eventlog.summarize(eventlog.read_events(ctx.event_log_dir()), *window))
