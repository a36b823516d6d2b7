"""The ``corpus`` workload: warm passes over a fixed mix of registry
queries on seeded tables, with every query's output checked against
its DuckDB oracle.

Set-up is session start, table staging and one cold pass over the mix
(which also warms the JVM, the code generator and the Python workers);
the cold pass keeps its outputs, and they are checked after the timed
passes. Timed passes write to the ``noop`` sink, like bench.py: at
least three, then more while another fits in ``--seconds``. Every pass,
cold or warm, starts with an empty cache, so an operator that persists
part of its plan recomputes it in every pass, as in the cold pass whose
outputs are checked.
"""

from __future__ import annotations

import sys
import time
import traceback

import checks
import eventlog
import tables
from stats import median

#: scale of the seeded tables: lineitem has 6M x SF rows
SF = 0.02

#: Python workers, explodes and wide shuffles
CORPUS = [
    "dedup_exact",
    "dedup_substring_excise",
    "dedup_fuzzy_minhash",
    "text_stats",
]
#: batch-only per-layer metrics, zero on pubsub
BATCH_LAYER_METRICS = {
    "operators.build_s": 0.0,
    "operators.exec_s": 0.0,
    **{f"query.{q}_s": 0.0 for q in CORPUS},
}


def one_pass(ctx, spark, sf_dir: str, names: list[str], fns: dict, keep: bool) -> dict:
    """Build and write every query once: to parquet under the work dir
    when ``keep`` (for the output checks), else to the ``noop`` sink,
    which runs the whole plan and stores nothing. Returns per-query
    build and write seconds (None for a query that failed) and the
    pass's wall-clock window. The cache is emptied first, so nothing an
    earlier pass persisted is reused."""
    tr = ctx.tracer
    spark.catalog.clearCache()
    build: dict[str, float | None] = {}
    write: dict[str, float | None] = {}
    wall0 = time.time()
    t0 = time.perf_counter()
    for name in names:
        with tr.span(f"query.{name}", "registry"):
            try:
                b0 = time.perf_counter()
                with tr.span("build", "operators.build"):
                    df = fns[name](spark, sf_dir)
                b1 = time.perf_counter()
                with tr.span("write", "operators.exec"):
                    w = df.write.mode("overwrite")
                    if keep:
                        w.parquet(checks.output_dir(ctx.work, name))
                    else:
                        w.format("noop").save()
                build[name], write[name] = b1 - b0, time.perf_counter() - b1
                ok = True
            except Exception:
                traceback.print_exc()
                build[name] = write[name] = None
                ok = False
        ctx.outcomes.record("query.run", ok, name)
    return {"build": build, "write": write, "wall": time.perf_counter() - t0,
            "window_ms": (wall0 * 1000, time.time() * 1000)}


def verify(ctx, sf_dir: str, names: list[str], specs: dict) -> None:
    """Compare every query's output from the cold pass with its oracle."""
    from watermill_kinesis_spark.operators import dedup
    from watermill_kinesis_spark.sources.tables import TABLE_NAMES

    con = checks.oracle_connection(sf_dir, TABLE_NAMES)
    try:
        for name in names:
            try:
                got = checks.read_output(con, checks.output_dir(ctx.work, name))
                oracle = specs[name].oracle
                if oracle is not None:
                    diff = checks.compare(got, con.execute(oracle).fetchdf())
                elif name == "dedup_fuzzy_minhash":
                    docs = con.execute("SELECT doc_id, text FROM documents").fetchdf()
                    diff = checks.check_near_dups(
                        got, docs, dedup.SHINGLE_N, dedup.MH_PRIME, 0.6
                    )
                else:
                    diff = "no oracle and no other check"
            except Exception as e:  # a missing or unreadable output is a failed check
                diff = f"{type(e).__name__}: {e}"
            ctx.outcomes.check("query.output", diff is None, f"{name}: {diff}")
    finally:
        con.close()


def latency_stats(passes: list[dict]) -> tuple[float, float]:
    """Per-query latency (build + write, ms), each query's median over
    the passes: the middle query's and the slowest query's. With one
    sample per query a pass supports no tail percentile, and taking
    queries whole keeps the figures from jumping between queries."""
    per_query = sorted(
        median([(p["build"][n] + p["write"][n]) * 1000 for p in passes]) for n in passes[0]["build"]
    )
    return per_query[len(per_query) // 2], per_query[-1]


def run(ctx) -> None:
    from watermill_kinesis_spark import registry

    names = CORPUS
    specs = registry.all_specs()
    fns = {n: specs[n].fn for n in names}
    tr = ctx.tracer

    t0 = time.perf_counter()
    with tr.span("setup", "bench"):
        spark = ctx.start_session()
        with tr.span("staging", "bench"):
            sf_dir = tables.write_tables(ctx.path("tables", ""), ctx.seed, SF)
        w0 = time.perf_counter()
        with tr.span("warmup", "bench"):
            cold = one_pass(ctx, spark, sf_dir, names, fns, keep=True)
        warm_s = time.perf_counter() - w0
    ctx.e2e["setup_s"] = time.perf_counter() - t0

    passes = []
    deadline = time.perf_counter() + ctx.seconds
    # at least three passes, so that each median outvotes the first warm
    # pass, in which the JIT is still compiling (it runs ~20% slower than
    # the passes after it); then more while a whole pass still fits
    while len(passes) < 3 or time.perf_counter() + median([p["wall"] for p in passes]) <= deadline:
        with tr.span("pass", "bench") as root:
            passes.append(one_pass(ctx, spark, sf_dir, names, fns, keep=False))
    verify(ctx, sf_dir, names, specs)

    for q in names:
        print(f"perfbench: {q} cold {cold['build'][q]}+{cold['write'][q]} "
              f"warm {passes[-1]['build'][q]}+{passes[-1]['write'][q]}", file=sys.stderr)
    print(f"perfbench: pass walls {[round(p['wall'], 3) for p in passes]}", file=sys.stderr)
    good = [p for p in passes if None not in p["build"].values()]
    if not good or None in cold["build"].values():
        raise RuntimeError("a query failed in every pass; no timing to report")
    e = ctx.e2e
    e["pass_s"] = median([p["wall"] for p in good])
    # a batch mix read as a request stream: each query is one message
    n = len(names)
    e["publish_msgs_per_s"] = median([n / sum(p["build"].values()) for p in good])
    e["drain_msgs_per_s"] = median([n / sum(p["write"].values()) for p in good])
    e["deliver_p50_ms.low"], e["deliver_p99_ms.low"] = latency_stats(good)
    e["deliver_p50_ms.high"], e["deliver_p99_ms.high"] = latency_stats([cold])

    if ctx.trace:
        last = good[-1]
        lay = ctx.layers
        lay.update(zero_layers())
        lay["session.start_s"] = tr.total_by_name("session.start")
        lay["session.warm_s"] = warm_s
        for q in names:
            lay[f"query.{q}_s"] = last["build"][q] + last["write"][q]
        lay["operators.build_s"] = sum(last["build"].values())
        lay["operators.exec_s"] = sum(last["write"].values())
        by_layer = tr.self_by_layer(root)
        lay.update({f"self.{layer}_s": t for layer, t in by_layer.items()})
        lay["trace.gap_ratio"] = by_layer.get("bench", 0.0) / root.duration
        ctx.stop_session()  # flushes the event log
        lay.update(eventlog.summarize(eventlog.read_events(ctx.event_log_dir()), *last["window_ms"]))


def zero_layers() -> dict[str, float]:
    """Per-layer metrics this workload does not exercise."""
    from pubsub import LAYER_METRICS

    return {**dict.fromkeys(LAYER_METRICS, 0.0), **BATCH_LAYER_METRICS}
