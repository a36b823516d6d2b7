"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload corpus|pubsub \
        --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer metrics. The line before it, ``perfbench-record: {...}``,
repeats the result with the host (cores, memory, Spark and Python
versions), the code's identity and the seed; the same record is
appended to ``.perfbench/history.jsonl``. See perfbench/NOTES.md.

Everything the run writes (inputs, Spark scratch, event logs, stream
state) lives under ``.perfbench/run-<pid>`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from spans import Tracer  # noqa: E402
from stats import Outcomes  # noqa: E402

WORKLOADS = ("corpus", "pubsub")
STATE_DIR = os.path.join(ROOT, ".perfbench")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A fifth of the host's memory, between 2 and 4 GiB: ample for the
    benchmark's inputs, and a small ceiling keeps the heap's growth,
    and so the peak resident memory, from varying much between runs."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(2, min(4, int(kb / 2**20 * 0.2)))}g"


#: set in /proc/<pid>/stat flags for a process that forked and has not exec'd
PF_FORKNOEXEC = 0x40


def tree_rss_bytes(root_pid: int, by_name: dict | None = None) -> int:
    """Resident memory of root_pid and all its descendants. A child of
    the JVM that has not exec'd yet (its spawn helper, which shares the
    JVM's address space) is skipped, as its pages are the JVM's. Each
    process's share is added to ``by_name[command name]`` if given."""
    stat: dict[int, tuple[str, int, int]] = {}  # pid -> (comm, ppid, flags)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                line = f.read()
        except OSError:
            continue
        fields = line[line.rfind(")") + 2 :].split()
        comm = line[line.index("(") + 1 : line.rfind(")")]
        stat[int(name)] = (comm, int(fields[1]), int(fields[6]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (_, pp, _) in stat.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        comm, ppid, flags = stat[pid]
        if flags & PF_FORKNOEXEC and stat.get(ppid, ("",))[0] == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        if by_name is not None:
            by_name[comm] = by_name.get(comm, 0) + rss
        total += rss
    return total


class RssSampler:
    """Peak resident memory of this process tree, sampled in a thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by_name: dict[str, int] = {}
        rss = tree_rss_bytes(os.getpid(), by_name)
        if rss > self.peak:
            self.peak, self.peak_by_name = rss, by_name

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def code_identity() -> dict[str, str]:
    """The git commit when there is one, and always a digest of the
    program and benchmark sources and the oracle checker, so results
    from different code never pass for the same."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "tools", "check_oracle.py")]
    for top in ("watermill_kinesis_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    out = {"tree": h.hexdigest()[:16]}
    try:
        out["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        out["commit"] = "unknown"
    return out


class Context:
    """What a workload needs: the pinned host settings, its work dir,
    the tracer, the outcome tally and the metric sinks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = args.cores or host_cores()
        self.root = ROOT
        self.work = os.path.join(STATE_DIR, f"run-{os.getpid()}")
        self.tracer = Tracer(enabled=self.trace)
        self.outcomes = Outcomes()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def pin_environment(self) -> None:
        """Cores, memory and scratch space for the host, set before
        the JVM starts. The event log (uncompressed: no zstd codec
        here) is on only in traced runs."""
        tmp = self.path("tmp", "")
        local = self.path("local", "")
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(self.nproc),
                "SPARK_DRIVER_MEMORY": driver_memory(),
                "SPARK_LOCAL_DIRS": local,
                "TMPDIR": tmp,
            }
        )
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
        )
        # every JVM the launcher starts keeps its temp files in the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        conf = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={self.path('warehouse', '')}",
        ]
        if self.trace:
            conf += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.path('eventlog', '')}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])

    def start_session(self):
        from watermill_kinesis_spark.session import get_spark

        with self.tracer.span("session.start", "session"):
            self.spark = get_spark("perfbench", cpus=self.nproc)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """End the JVM the session started and wait for it: stopping the
        session leaves the gateway process running until Python exits."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")


def load_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def untraced_reference(ctx: Context) -> float:
    """Median ``pass_s`` of untraced runs of this workload recorded in
    this checkout at this core count and code; when there is none,
    one untraced run with the same seed is made now."""
    ident = code_identity()["tree"]
    hist = os.path.join(STATE_DIR, "history.jsonl")
    vals = []
    if os.path.exists(hist):
        with open(hist) as f:
            for line in f:
                r = json.loads(line)
                if (r["workload"], r["trace"], r["nproc"], r["tree"]) == (
                    ctx.workload, 0, ctx.nproc, ident,
                ) and r["correct"]:
                    vals.append(r["metrics"]["pass_s"])
    if not vals:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", ctx.workload,
               "--seed", str(ctx.seed), "--seconds", str(ctx.seconds), "--trace", "0",
               "--cores", str(ctx.nproc)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
        if proc.returncode != 0:
            raise RuntimeError(f"untraced reference run failed:\n{proc.stderr[-2000:]}")
        vals.append(json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]["pass_s"]["value"])
    vals.sort()
    return vals[len(vals) // 2]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark cores (default: every core this process may use)")
    args = ap.parse_args(argv)

    listed = load_metrics()
    import watermill_kinesis_spark  # noqa: F401 — fail fast without the program

    ctx = Context(args)
    ctx.pin_environment()
    wall0 = time.perf_counter()
    try:
        with RssSampler() as rss:
            if args.workload == "pubsub":
                import pubsub

                pubsub.run(ctx)
            else:
                import batch

                batch.run(ctx)
            ctx.stop_session()
        ctx.e2e["peak_rss_mb"] = rss.peak / 2**20
        print("perfbench: peak RSS by process (MB): "
              + ", ".join(f"{k} {v / 2**20:.0f}" for k, v in sorted(rss.peak_by_name.items())),
              file=sys.stderr)
        ctx.layers["run.wall_s"] = time.perf_counter() - wall0
        if ctx.trace:
            ctx.layers["trace.overhead_ratio"] = ctx.e2e["pass_s"] / untraced_reference(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop_session()
        ctx.stop_jvm()
        shutil.rmtree(ctx.work, ignore_errors=True)

    oc = ctx.outcomes
    ctx.layers["error_ratio"] = ctx.e2e["error_ratio"] = oc.error_ratio
    wanted = listed["per_layer"] if ctx.trace else listed["end_to_end"]
    source = ctx.layers if ctx.trace else ctx.e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]} for m in wanted}
    for note in oc.notes:
        print(f"perfbench: FAILED {note}", file=sys.stderr)

    record = {
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
        "trace": int(ctx.trace), "nproc": ctx.nproc, "host_cores": host_cores(),
        "driver_memory": driver_memory(),
        "python": platform.python_version(), "spark": spark_version(),
        **code_identity(), "correct": oc.n_failed == 0,
        "attempted": oc.n_attempted, "failed": oc.n_failed,
        "metrics": {k: v["value"] for k, v in metrics.items()},
        "extra": {k: v for k, v in sorted({**ctx.e2e, **ctx.layers}.items())},
    }
    os.makedirs(STATE_DIR, exist_ok=True)
    with open(os.path.join(STATE_DIR, "history.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("perfbench-record: " + json.dumps(record))
    print(json.dumps({"correct": oc.n_failed == 0, "attempted": oc.n_attempted,
                      "failed": oc.n_failed, "metrics": metrics}))
    return 0


def spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    raise SystemExit(main())
