"""The workloads: ``stream_trickle`` and ``query_corpus``.

Each workload function takes a :class:`Ctx`, sets up ``SETUP_REPS``
times (``setup_s`` is the median), measures for ``ctx.seconds``, reads
the peak resident sets as the window ends (``Ctx.record_peak``), checks
every result against an independent model (oracle.py) and returns an
:class:`Outcome`.  Input generation and the models run in the side
process (``ctx.side``), so their memory and CPU time stay out of the
driver process that is measured.  Layer calls run inside ``ctx.tracer.span``: untraced,
the span only times the call; traced, it also tags the call's Spark jobs
(see tracing.py).

``op_latency_s`` is the geometric mean, over the workload's operation
kinds, of each kind's median latency:

- ``stream_trickle``: one kind, a delivery's freshness (from its due
  landing time to the end of the micro-batch that committed it);
- ``query_corpus``: each of the 13 pinned queries.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
import oracle
import tracing
from tracing import epoch_s, geomean, median, progress_records, source_file_batches, summary

SETUP_REPS = 3
TABLE_ARGS = dict(keys=["pkey"], version_col="modified_date", arrival_col="arrival")

# Pinned by name so flipping a registry ``bench`` flag cannot change the
# workload: the 13 non-ingestion queries bench.py benches.
CORPUS_QUERIES = (
    "dedup_connected_components", "dedup_embedding_cosine", "dedup_minhash_lsh", "emb_cosine_topk",
    "emb_lsh_ann_topk", "pipeline_training_data", "q1_pricing_summary", "q3_top_revenue_orders",
    "q5_local_supplier_volume", "quality_constraint_report", "text_bpe_train", "text_metrics",
    "topk_orders",
)


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    side: object  # side.Side: the child process for generation and the models
    jvm_pid: int
    peak_mb: dict = field(default_factory=dict)
    capacity_before: dict = field(default_factory=dict)

    def start_window(self) -> None:
        """The measured window starts: the host's capacity is probed on
        the warm JVM (a probe on the cold one would time Spark's first
        job, not the host), and the driver's peak restarts from its
        current resident set, so what the benchmark itself held before
        (warm-pass results collected for the check) is not counted."""
        self.capacity_before = tracing.capacity_probe(self.spark)
        self.peak_mb["driver_reset"] = tracing.reset_peak_rss()

    def record_peak(self) -> None:
        """The window ends: ``VmHWM`` of the JVM (its whole life so far)
        and of the driver (since ``start_window``), read before any
        check runs."""
        self.peak_mb.update(jvm=tracing.vm_hwm_mb(self.jvm_pid), driver=tracing.vm_hwm_mb(os.getpid()))


@dataclass
class Outcome:
    setup_s: float
    op_latency_s: float
    attempted: int
    failed: int
    wall_s: float  # the measured window
    window_start: float  # time.perf_counter() at its start; spans before it are set-up or warm-up
    window_epoch: float  # the same instant as time.time(), for Spark's own timestamps
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # layer metrics not derived from spans
    stream_run_id: str | None = None


def _timed_setup(ctx: Ctx, generate, args, build):
    """Set-up: ``generate(*args)`` writes the inputs once, in the side
    process, then ``build(rep, generated)`` sets the program up
    ``SETUP_REPS`` times.  ``setup_s`` is the generation wall plus the
    median build wall; the last build is the one measured."""
    t0 = time.perf_counter()
    generated = ctx.side.submit(generate, *args).result()
    gen_s = time.perf_counter() - t0
    walls, state = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        state = build(rep, generated)
        walls.append(time.perf_counter() - t0)
    return gen_s + median(walls), {"generate_s": round(gen_s, 4), "build_s": [round(w, 4) for w in walls]}, state


def _preloaded_table(ctx: Ctx, path: str, num_buckets: int, preload: str):
    """A KeyedTable holding the pre-load file, written in one commit
    (the warm-up deliveries run the merge path before timing)."""
    from quick_stream_spark import KeyedTable

    table = KeyedTable(ctx.spark, path, num_buckets=num_buckets, **TABLE_ARGS)
    table.upsert(ctx.spark.read.parquet(preload))
    return table


def _file_sizes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.join(d, f)] = os.path.getsize(os.path.join(d, f))
    return out


def _written_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(s for f, s in after.items() if before.get(f) != s)


def write_state(df, path: str) -> str:
    """A KeyedTable frame as parquet of ``oracle.STATE_COLS``, for a
    model in the side process to compare."""
    from pyspark.sql import functions as F

    df.select(
        "pkey", F.unix_micros("modified_date").alias("version_us"), "arrival", "amount", "name",
        "cat", "created_ms", F.col("row_active").cast("boolean").alias("row_active"),
    ).write.parquet(path)
    return path


def layout_metrics(table) -> dict:
    """File layout through the table's own API, plus the largest data
    file count of one bucket directory (``__qss_bucket=<n>``)."""
    per_bucket: dict[str, int] = {}
    for f in _file_sizes(table.path):
        b = next((c for c in f.split(os.sep) if c.startswith("__qss_bucket=")), os.path.dirname(f))
        per_bucket[b] = per_bucket.get(b, 0) + 1
    return {
        "merge.files_total": table.file_count(),
        "merge.files_per_bucket_max": max(per_bucket.values(), default=0),
        "merge.table_bytes": table.total_bytes(),
    }


class TracedTable:
    """Delegates to a KeyedTable, timing every ``upsert`` in a
    ``merge.upsert`` span: how the merge layer is seen inside a streaming
    query, whose batches call ``target.upsert``."""

    def __init__(self, table, tracer, parent: int) -> None:
        self._table = table
        self._tracer = tracer
        self._parent = parent
        self.commits: list[tuple[float, int, int]] = []  # (span start, rows written, data bytes written)

    def upsert(self, updates, **kwargs):
        before = _file_sizes(self._table.path)
        with self._tracer.span("merge.upsert", parent=self._parent) as sp:
            out = self._table.upsert(updates, **kwargs)
        self.commits.append((sp.start, (self._table.last_merge_stats or {}).get("rows_written", 0),
                             _written_bytes(before, _file_sizes(self._table.path))))
        return out

    def __getattr__(self, name):
        return getattr(self._table, name)


# -------------------------------------------------------- stream_trickle

STREAM = inputs.StreamSpec()
STREAM_LAG_MS = 10  # the reference's example lag: 1 cycle x 10 ms
STREAM_WARMUP = 12  # deliveries landed and committed before the schedule starts: checked, not timed
DRAIN_TIMEOUT_S = 60.0


def stream_trickle(ctx: Ctx) -> Outcome:
    from quick_stream_spark.config import QuickStreamConfig
    from quick_stream_spark.sources import stream_parquet_dir
    from quick_stream_spark.streaming.stream import UpsertQuickStream

    spec = STREAM
    n_deliveries = STREAM_WARMUP + max(1, int(ctx.seconds * spec.rate_per_s))

    d = os.path.join(ctx.work, "stream")

    def build(rep, generated):
        pre, staged = generated
        return pre, staged, _preloaded_table(ctx, os.path.join(d, f"table{rep}"), spec.num_buckets, pre)

    setup_s, setup_walls, (pre, staged, table) = _timed_setup(
        ctx, inputs.stream_inputs, (ctx.seed, spec, n_deliveries, d), build
    )
    land, ckpt = os.path.join(d, "landing"), os.path.join(d, "checkpoint")
    os.makedirs(land)
    config = QuickStreamConfig(
        name=f"perfbench-{ctx.seed}", introduced_lag_in_millies=STREAM_LAG_MS, introduced_lag_cycles=1,
        checkpoint_dir=ckpt,
    )
    stream_df = stream_parquet_dir(
        ctx.spark, land, ctx.spark.read.parquet(pre).schema, max_files_per_trigger=config.buffer_size
    )
    landed: dict[str, float] = {}

    def land_files(schedule, t0):  # open loop: each file lands at its due time, never waiting on the query
        for path, due in schedule:
            delay = t0 + due - time.time()
            if delay > 0:
                time.sleep(delay)
            now = time.time()
            os.utime(path, (now, now))
            os.rename(path, os.path.join(land, os.path.basename(path)))
            landed[os.path.basename(path)] = time.time()

    warmup, timed = staged[:STREAM_WARMUP], staged[STREAM_WARMUP:]
    timed = [(p, due - timed[0][1]) for p, due in timed]
    with ctx.tracer.span("streaming.run") as run_span:
        target = TracedTable(table, ctx.tracer, run_span.id) if ctx.trace else table
        query = UpsertQuickStream(target, config, newer_wins=True).run(stream_df)
        try:
            for path, _ in warmup:  # one micro-batch each; the query is warm and idle after them
                land_files([(path, 0.0)], time.time())
                query.processAllAvailable()
            ctx.start_window()
            t0 = time.time() + 0.2
            window_start = time.perf_counter() + 0.2
            gen = threading.Thread(target=land_files, args=(timed, t0), name="perfbench-generator")
            gen.start()
            gen.join()
            deadline = time.time() + DRAIN_TIMEOUT_S
            while len(source_file_batches(ckpt)) < len(staged) and time.time() < deadline:
                time.sleep(0.05)
            query.processAllAvailable()
        finally:
            query.stop()
    ctx.record_peak()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")

    progress = [p for p in progress_records(query) if p.get("numInputRows", 0) > 0]
    start = {p["batchId"]: epoch_s(p["timestamp"]) for p in progress}
    end = {p["batchId"]: start[p["batchId"]] + p["durationMs"]["triggerExecution"] / 1000.0 for p in progress}
    file_batch = source_file_batches(ckpt)
    missing = {os.path.basename(p) for p, _ in staged if file_batch.get(os.path.basename(p)) not in end}
    fresh, wait, late = [], [], []
    for path, due in timed:
        name = os.path.basename(path)
        if name in missing:
            continue
        b = file_batch[name]
        late.append(landed[name] - (t0 + due))
        fresh.append(end[b] - (t0 + due))
        wait.append(start[b] - landed[name])
    # the timed deliveries' batches, by id: a trigger can start just before its file lands
    timed_batches = {file_batch[os.path.basename(p)] for p, _ in timed if os.path.basename(p) not in missing}
    progress = [p for p in progress if p["batchId"] in timed_batches]

    # correctness: newer-wins end state over the pre-load and every
    # delivery.  A delivery fails if it was not committed or carries a
    # wrong key; the end state is one more operation, failed by any wrong
    # key, delivered or not (a pre-loaded row lost or corrupted when its
    # bucket was rewritten is in no delivery).
    landed_files = [os.path.join(land, os.path.basename(p)) for p, _ in staged]
    actual = write_state(table.read(), os.path.join(d, "end_state"))
    bad_keys = set(ctx.side.submit(oracle.newer_wins_bad_keys, [pre, *landed_files], actual).result())
    failed = set(missing)
    for f in landed_files if bad_keys else ():
        if set(pq.read_table(f, columns=["pkey"]).column("pkey").to_pylist()) & bad_keys:
            failed.add(os.path.basename(f))
    if bad_keys:
        failed.add("end_state")

    def ms(p, k):
        return p["durationMs"].get(k, 0) / 1000.0

    sources = [ms(p, "latestOffset") + ms(p, "getBatch") for p in progress]
    overhead = [ms(p, "triggerExecution") - ms(p, "addBatch") - s for p, s in zip(progress, sources)]
    window = max(end.values(), default=t0) - t0
    busy = sum(ms(p, "triggerExecution") for p in progress) / window if window > 0 else 0.0
    detail = {
        "freshness_s": summary(fresh),
        "freshness_samples_s": [round(f, 4) for f in fresh],
        "generator_late_s": summary(late),
        "spec": dataclasses.asdict(spec),
        "deliveries": len(staged),
        "busy_share": busy,
        "wrong_keys": len(bad_keys),
        "setup": setup_walls,
    }
    layers = {}
    if ctx.trace:
        # merge counts over the window's commits only, as every other layer figure
        commits = [c for c in target.commits if c[0] >= window_start]
        timed_bytes = sum(os.path.getsize(os.path.join(land, os.path.basename(p))) for p, _ in timed)
        layers = {
            "sources.latest_offset_s": median([ms(p, "latestOffset") for p in progress]),
            "sources.get_batch_s": median([ms(p, "getBatch") for p in progress]),
            "sources.input_rows": sum(p["numInputRows"] for p in progress),
            "sources.self_s": sum(sources),
            "streaming.trigger_s_p50": median([ms(p, "triggerExecution") for p in progress]),
            "streaming.add_batch_s_p50": median([ms(p, "addBatch") for p in progress]),
            "streaming.overhead_s_p50": median(overhead),
            "streaming.wait_s_p50": median(wait),
            "streaming.batches": len(progress),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in progress]),
            "streaming.busy_share": busy,
            "streaming.self_s": sum(overhead),
            "merge.rows_in": sum(p["numInputRows"] for p in progress),
            "merge.rows_written": sum(c[1] for c in commits),
            "merge.write_amp": sum(c[2] for c in commits) / timed_bytes,
            **layout_metrics(table),
            **_dedup_probe(ctx, landed_files),
        }
    return Outcome(
        setup_s=setup_s, op_latency_s=median(fresh), attempted=len(staged) + 1, failed=len(failed),
        wall_s=window, window_start=window_start, window_epoch=t0, detail=detail, layers=layers,
        stream_run_id=str(query.runId),
    )


def _dedup_probe(ctx: Ctx, files: list[str]) -> dict:
    """``latest_per_key`` alone over each delivered file, after the
    stream: the upsert path folds its dedup into the merge window, so
    the dedup layer is timed by calling it directly."""
    from quick_stream_spark import latest_per_key

    walls, rows_in, rows_out = [], 0, 0
    for f in files:
        t0 = time.perf_counter()
        rows_out += latest_per_key(ctx.spark.read.parquet(f), **TABLE_ARGS).count()
        walls.append(time.perf_counter() - t0)
        rows_in += pq.ParquetFile(f).metadata.num_rows
    return {"dedup.latest_per_key_s": median(walls), "dedup.keep_ratio": rows_out / rows_in}


# ---------------------------------------------------------- query_corpus

CORPUS_WARM_PASSES = 2  # untimed passes before the window: the first is checked, the rest only count


def query_corpus(ctx: Ctx) -> Outcome:
    from quick_stream_spark.plans._util import clear_session_caches
    from quick_stream_spark.plans.registry import REGISTRY, bench_queries
    from quick_stream_spark.sources import load_table

    bench_queries()  # imports the plans modules, which register the corpus

    data = os.path.join(ctx.work, "data")

    def build(rep, schemas):
        return schemas, [t for t, cols in schemas.items() if load_table(ctx.spark, data, t).columns != cols]

    setup_s, setup_walls, (schemas, unreadable) = _timed_setup(ctx, inputs.corpus_tables, (ctx.seed, data), build)

    # Warm-up, untimed: CORPUS_WARM_PASSES passes over the corpus, the
    # first of which collects the full results that are checked, while
    # the oracle SQL runs in DuckDB (one thread) in the side process; it
    # has ended before timing starts.
    oracles = ctx.side.submit(
        oracle.corpus_hashes, data, sorted(schemas), {n: REGISTRY[n].oracle for n in CORPUS_QUERIES}
    )
    t0 = time.perf_counter()
    got = {}
    for name in CORPUS_QUERIES:
        clear_session_caches()
        got[name] = oracle.result_hash(REGISTRY[name].fn(ctx.spark, data).toPandas())
    for _ in range(CORPUS_WARM_PASSES - 1):  # the JIT keeps compiling through the first pass
        for name in CORPUS_QUERIES:
            clear_session_caches()
            REGISTRY[name].fn(ctx.spark, data).count()
    warm_s = time.perf_counter() - t0
    expected = oracles.result()
    oracle_wait_s = time.perf_counter() - t0 - warm_s
    mismatched = [n for n in CORPUS_QUERIES if got[n] != expected.get(n)]

    # Timed: sequential passes over the corpus, one at least, another
    # while it would still end inside the window; every execution's row
    # count is checked.
    times: dict[str, list[float]] = {n: [] for n in CORPUS_QUERIES}
    attempted = len(CORPUS_QUERIES)
    failed = len(unreadable) + len(mismatched)
    ctx.start_window()
    t_epoch, t0 = time.time(), time.perf_counter()
    passes = 0
    while passes == 0 or (time.perf_counter() - t0) * (passes + 1) / passes <= ctx.seconds:
        for name in CORPUS_QUERIES:
            clear_session_caches()
            with ctx.tracer.span(f"plans.{name}") as sp:
                n = REGISTRY[name].fn(ctx.spark, data).count()
            times[name].append(sp.end - sp.start)
            attempted += 1
            failed += n != expected[name][0]
        passes += 1
    wall = time.perf_counter() - t0
    ctx.record_peak()

    per_query = {n: median(v) for n, v in times.items()}
    detail = {
        "corpus_s_geomean": geomean(per_query.values()),
        "query_s_p50": per_query,
        "passes": passes,
        "warm_s": warm_s,
        "oracle_wait_s": oracle_wait_s,
        "mismatched": mismatched,
        "tables": sorted(schemas),
        "setup": setup_walls,
    }
    return Outcome(
        setup_s=setup_s, op_latency_s=geomean(per_query.values()), attempted=attempted, failed=failed,
        wall_s=wall, window_start=t0, window_epoch=t_epoch, detail=detail,
    )


WORKLOADS = {"stream_trickle": stream_trickle, "query_corpus": query_corpus}
