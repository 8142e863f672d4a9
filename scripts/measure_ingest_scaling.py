"""Ingestion-parallelism demonstration (r14 verdict ask #5): at sf0.1
the three ingestion legs' 8->32-core scaling ratios sit at ~1.0 because
per-trigger/per-commit fixed machinery dominates — this measures the
same three legs at 50x the sf0.1 events volume (sf5-equivalent,
replicated with offset key/arrival spaces so key count scales with
volume) so the data plane is large enough for core count to matter.
50x is the recorded protocol (plans/r15/ingest_scaling_*.jsonl);
``QSS_SCALE_REPLICAS`` overrides it for a quicker pass.

One invocation = one core count (Spark cannot re-master a live JVM):

  SPARK_GRAFT_CPUS=32 python scripts/measure_ingest_scaling.py
  SPARK_GRAFT_CPUS=8  python scripts/measure_ingest_scaling.py

Each prints ONE JSON line with per-leg walls; the 8-vs-32 ratio per leg
is computed offline.  The replicated input is WRITTEN ONCE to a shared
parquet dir (same files for both runs — fairness), and each leg gets an
untimed 1x warmup so JIT/Arrow/merge code paths are off the timed leg.
Every leg run works in its own temp dir, removed when the run ends.

Legs (mirroring the benched queries' operator compositions exactly):
  batch_direct   — r_upsert_endstate:        2 merges, direct layout
  batch_pointer  — r_upsert_endstate_pointer: 4 bounded commits,
                   pointer layout (threshold=0, cadence 3)
  stream_direct  — r_stream_upsert_endstate:  availableNow file-source
                   stream, 2 files/trigger, newer-wins
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repl = int(os.environ.get("QSS_SCALE_REPLICAS", "50"))
    input_dir = os.environ.get(
        "QSS_SCALE_INPUT", f"/tmp/qss_scale_events_x{repl}"
    )
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F  # noqa: E402

    from quick_stream_spark.config import QuickStreamConfig  # noqa: E402
    from quick_stream_spark.operators.merge import KeyedTable  # noqa: E402
    from quick_stream_spark.plans._util import (  # noqa: E402
        rows_sized_parts,
        scoped_shuffle,
    )
    from quick_stream_spark.sources.readers import (  # noqa: E402
        stream_parquet_dir,
        write_split_as_files,
    )
    from quick_stream_spark.streaming.stream import UpsertQuickStream  # noqa: E402

    ev1 = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    # Deterministic replication, materialized ONCE and shared by
    # every run (8 and 32 cores read the identical files).
    marker = os.path.join(input_dir, "_SUCCESS")
    if not os.path.exists(marker):
        max_eid = ev1.agg(F.max("event_id")).collect()[0][0] + 1
        max_uid = ev1.agg(F.max("user_id")).collect()[0][0] + 1
        reps = spark.range(repl).select(F.col("id").alias("__rep"))
        (
            ev1.crossJoin(F.broadcast(reps))
            .withColumn("event_id", F.col("event_id") + F.col("__rep") * max_eid)
            .withColumn("user_id", F.col("user_id") + F.col("__rep") * max_uid)
            .drop("__rep")
            .repartition(16)  # fixed file count independent of cpus
            .write.mode("overwrite")
            .parquet(input_dir)
        )
    ev = spark.read.parquet(input_dir)
    n_rows = ev.count()

    # Parallel-capacity calibration: a fixed pure-CPU aggregate whose
    # wall scales ~linearly with REAL cores.  Sessions at different
    # core counts can only be compared when this probe actually
    # reflects the requested core count — under host CPU steal the
    # sandbox's "32 CPUs" can deliver 8 cores' throughput, flattening
    # every scaling ratio to ~1 regardless of the workload (observed
    # in r15: 200M-row probe 0.256 s at local[32] vs 0.279 s at
    # local[8] during a steal window).
    probe_best = 9e9
    for _ in range(3):
        t0 = time.monotonic()
        spark.range(200_000_000).select(
            F.sum(F.shiftrightunsigned(F.xxhash64("id"), 32))
        ).collect()
        probe_best = min(probe_best, time.monotonic() - t0)

    def table(work, **kw) -> KeyedTable:
        return KeyedTable(
            spark,
            work + "/t",
            keys=("user_id",),
            version_col="ts",
            arrival_col="event_id",
            num_buckets=8,
            **kw,
        )

    def batch_direct(src, work) -> int:
        t = table(work)
        t.upsert(src.filter(F.col("event_id") % 2 == 0))
        t.upsert(src.filter(F.col("event_id") % 2 == 1))
        return t.read(active_only=True).count()

    def batch_pointer(src, work) -> int:
        t = table(
            work,
            commit_protocol="manifest",
            manifest_checkpoint_interval=3,
            manifest_parquet_threshold=0,
        )
        for b in range(4):
            t.upsert(src.filter(F.col("event_id") % 4 == b))
        return t.read(active_only=True).count()

    def stream_direct(src, work) -> int:
        write_split_as_files(src, F.col("event_id") % 4, 4, work + "/in")
        t = table(work)
        stream = stream_parquet_dir(
            spark, work + "/in", src.schema, max_files_per_trigger=2
        )
        cfg = QuickStreamConfig(
            name="scale-stream-upsert", checkpoint_dir=work + "/ckpt"
        )
        UpsertQuickStream(t, config=cfg, newer_wins=True).run(
            stream, available_now=True
        )
        return t.read(active_only=True).count()

    legs = {
        "batch_direct": batch_direct,
        "batch_pointer": batch_pointer,
        "stream_direct": stream_direct,
    }

    def loadavg() -> float:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    def run_leg(fn, src) -> tuple[int, float]:
        """(end rows, wall seconds); the clean-up is outside the clock."""
        work = tempfile.mkdtemp(prefix="qss-scale-")
        try:
            t0 = time.monotonic()
            end_rows = fn(src, work)
            return end_rows, time.monotonic() - t0
        finally:
            shutil.rmtree(work, ignore_errors=True)

    results = {}
    for name, fn in legs.items():
        # untimed 1x warmup: JIT/Arrow/merge paths + page cache for the
        # small source; the timed leg then measures the replicated plane
        with scoped_shuffle(spark, rows_sized_parts(n_rows // repl, 100_000)):
            run_leg(fn, ev1)
        load_before = loadavg()
        with scoped_shuffle(spark, rows_sized_parts(n_rows, 100_000)):
            end_rows, wall = run_leg(fn, ev)
        results[name] = {
            "wall_sec": round(wall, 3),
            "end_rows": end_rows,
            "rows_per_sec": round(n_rows / wall),
            "loadavg_before": load_before,
            "loadavg_after": loadavg(),
        }

    print(
        json.dumps(
            {
                "metric": "ingest_scaling",
                "cpus": int(cpus),
                "replicas": repl,
                "rows": n_rows,
                "sf_dir": sf_dir,
                "parallel_probe_sec": round(probe_best, 3),
                "legs": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
