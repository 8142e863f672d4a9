"""Ingestion-first benchmark for quick_stream_spark.

Run from the root of a source checkout::

    python3 perfbench/run.py --workload stream_trickle --seed 1 --seconds 12 --trace 0

Workloads (see workloads.py and README.md): ``stream_trickle`` and
``query_corpus``.  Each run starts its own
``local[<nproc>]`` Spark session, generates its inputs from ``--seed``,
sets up, measures for ``--seconds`` and checks every result against a
DuckDB model.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  The line before it holds the run's details (per-kind
latencies, sample counts, host context).

``--trace 1`` runs the same workload with Spark's event log on and every
layer call under its own job group, keeps spans in memory and writes
them to ``.perfbench_out/`` at exit.

Input generation and the DuckDB models run in one side process (side.py,
started fresh, not forked from the driver), so the driver process holds
only the program and the timing code.

All scratch files live in one temporary directory under
``.perfbench_tmp/`` in the checkout, removed at exit even on failure.
Every process the run starts has ended when it exits: the run adopts
the orphans of its descendants (``PR_SET_CHILD_SUBREAPER``) and waits
for each, killing what is still there after a grace period.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    tmp = os.environ["TMPDIR"]
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        # a fixed heap and young generation, so the peak resident set
        # follows what the program keeps, not when the heap happens to grow
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + log_dir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, jvm_pid: int, timeout_s: float = 60.0) -> None:
    """Stop the session and wait until its JVM has exited: closing the
    gateway's stdin is what ends PySpark's JVM, and it keeps shutting
    down for a few seconds after ``stop()`` returns."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while os.path.exists(f"/proc/{jvm_pid}") and time.time() < deadline:
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Orphans of this process's descendants become its children (Linux
    3.4 and later), so ``reap_children`` can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # it ended while being read
        if ppid == me:
            out.append(int(entry))
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Wait until this process has no child left, killing those still
    running after ``grace_s``."""
    deadline = time.time() + grace_s
    while pids := child_pids():
        for pid in pids:
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # already reaped by the Popen that started it
        time.sleep(0.05)


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # an exported source tree, not a git checkout
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def span_metrics(tracer, counters, outcome) -> dict:
    """Per-layer metrics derived from spans and the event log, both over
    the measured window."""
    from tracing import GroupCounters, median, sum_counters
    from workloads import CORPUS_QUERIES

    timed = [s for s in tracer.spans if s.start >= outcome.window_start]

    def durations(name):
        return [s.end - s.start for s in timed if s.name == name]

    def counted(names):
        return sum_counters(counters.get(tracer.group(s.id), GroupCounters()) for s in timed if s.name in names)

    out = {"merge.upsert_s_p50": median(durations("merge.upsert"))}
    commits = len(durations("merge.upsert"))
    c = counted({"merge.upsert"})
    n = max(commits, 1)
    out.update({
        "merge.commits": commits,
        "merge.jobs": c.jobs / n,
        "merge.stages_run": c.stages_run / n,
        "merge.stages_skipped": c.stages_skipped / n,
        "merge.tasks": c.tasks / n,
        "merge.shuffle_write_bytes": c.shuffle_write_bytes / n,
        "merge.executor_run_s": c.executor_run_s / n,
        "merge.spill_bytes": c.spill_bytes / n,
    })
    for q in CORPUS_QUERIES:
        runs = durations(f"plans.{q}")
        qc = counted({f"plans.{q}"})
        out[f"plans.{q}_s"] = median(runs)
        out[f"plans.{q}_jobs"] = qc.jobs / max(len(runs), 1)
        out[f"plans.{q}_shuffle_write_bytes"] = qc.shuffle_write_bytes / max(len(runs), 1)
    stream = counters.get(outcome.stream_run_id or "")
    out["streaming.jobs"] = stream.jobs if outcome.stream_run_id and stream else 0

    self_s = tracer.self_times(since=outcome.window_start)
    self_s.pop("streaming", None)  # the stream's own time comes from its progress events
    for layer in ("merge", "plans"):
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))  # so the clean-up below runs
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import quick_stream_spark  # noqa: F401  (the program under test, from this checkout)

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (ImportError, OSError) as exc:
        print(f"perfbench: run from the root of a quick_stream_spark checkout ({exc})", file=sys.stderr)
        return 2
    import tracing
    from side import Side
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    become_subreaper()
    side = None
    try:
        # the JVM, Python workers, the side process and Spark scratch all
        # write under the run's directory
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.makedirs(os.environ["TMPDIR"])
        side = Side()  # it starts and imports while the JVM starts
        host = {"nproc": os.cpu_count(), "loadavg_1min_before": tracing.loadavg_1min()}
        spark = build_session(work, trace)
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        try:
            side.ready.result()
            sc = spark.sparkContext
            host.update(spark_version=spark.version, python=platform.python_version(), commit=git_commit())
            tracer = tracing.Tracer(sc, run_id, trace)
            ctx = Ctx(spark=spark, tracer=tracer, work=work, seed=args.seed, seconds=args.seconds, trace=trace,
                      side=side, jvm_pid=jvm_pid)
            t0 = time.perf_counter()
            outcome = WORKLOADS[args.workload](ctx)
            host["run_wall_s"] = time.perf_counter() - t0
            host["capacity_before"] = ctx.capacity_before
            host["capacity_after"] = tracing.capacity_probe(spark)
        finally:
            stop_spark(spark, jvm_pid)
        host["peak_mb"] = ctx.peak_mb
        peak_rss_mb = ctx.peak_mb["jvm"] + ctx.peak_mb["driver"]
        e2e = {"setup_s": outcome.setup_s, "peak_rss_mb": peak_rss_mb, "op_latency_s": outcome.op_latency_s}
        if trace:
            counters = tracing.read_event_log(os.path.join(work, "eventlog"), since_s=outcome.window_epoch)
            layers = span_metrics(tracer, counters, outcome)
            layers.update(outcome.layers)
            layers["trace.op_latency_s"] = outcome.op_latency_s
            layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
            layers["bench.workload_wall_s"] = outcome.wall_s
            layers["bench.unaccounted_s"] = outcome.wall_s - sum(
                v for k, v in layers.items() if k.endswith(".self_s")
            )
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
            names, values = spec["per_layer"], layers
        else:
            names, values = spec["end_to_end"], e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
        detail = {"workload": args.workload, "seed": args.seed, "trace": trace, "host": host, **outcome.detail}
        if trace:
            detail["layers"] = layers
        print(json.dumps(detail, default=str))
        print(json.dumps({"correct": outcome.failed == 0, "attempted": outcome.attempted,
                          "failed": outcome.failed, "metrics": metrics}))
        return 0
    finally:
        if side is not None:
            side.close()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run's directory is still there


if __name__ == "__main__":
    sys.exit(main())
