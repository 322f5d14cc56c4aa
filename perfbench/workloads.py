"""The benchmark's two workloads.

Every measurement is taken from outside the engine: around calls to
public functions (registry builders, the ``noop`` write, the streaming
channel starters, ``sources.sinks.read_committed``) and from Spark's
public status and progress APIs.  Each call runs under its own job
group, so jobs, stages and tasks are attributed exactly to the call
that launched them.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from statistics import median

import duckdb

from check import mismatch

#: batch_mix: query -> layer that serves it.  One closed loop over two
#: query families that stress different layers:
#: - short oracle-checked FOREX and reporting queries over the cached
#:   candle silver and ``lineitem``, where driver plan construction and
#:   job latency dominate (never touches ``llm.*``);
#: - the LLM-corpus dedup tail: iterative connected components, the
#:   kNN-graph walk and the Python-worker media codecs over
#:   build-once silvers (never touches ``operators.*``).
BATCH_MIX = {
    "sma": "operators.indicators",
    "atr_native": "operators.ewm",
    "aroon": "operators.advanced",
    "outlier_zscore_iqr": "operators.quality",
    "patterns": "operators.patterns",
    "signals_sma": "operators.backtest",
    "vwap_daily": "operators.market",
    "pricing_summary": "plans.reporting",
    "minhash_near_dups": "llm.dedup",
    "near_dup_clusters": "llm.dedup",
    "knn_graph_topk": "llm.similarity",
    "image_near_dups": "llm.multimodal",
}

#: Job-count layer metrics: metric -> queries whose jobs it counts.
JOB_COUNTS = {
    "llm.dedup.cc_jobs": ("near_dup_clusters",),
    "llm.similarity.walk_jobs": ("knn_graph_topk",),
}

#: Timed passes per run are whole passes, so every run times the same
#: multiset of queries: passes = max(2, round(seconds / NOMINAL_PASS_S)).
NOMINAL_PASS_S = 10.0

#: stream_ingest: seconds of timed drain per file (one micro-batch on
#: each channel), and files per table in the warm-up drain (a prefix of
#: the same cut).
NOMINAL_FILE_S = 3.3
WARM_FILES = 1
CHANNEL_TIMEOUT_S = 150


def stream_files(seconds: int) -> int:
    """Files per table in the stream cut for a ``seconds``-long drain."""
    return max(WARM_FILES, round(seconds / NOMINAL_FILE_S))


class Tracer:
    """In-memory spans: (id, parent, name, start, end, attrs), times in
    seconds since process start."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter() - self.t0,
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> None:
        """A finished span from ``perf_counter`` readings, under ``parent``
        or else the innermost open span; safe to call from any thread."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start - self.t0, "end": end - self.t0, **attrs})


class Ctx:
    """What a workload needs from the launcher."""

    def __init__(self, spark, sf_dir: str, run_dir: str, seed: int,
                 seconds: int, tracer: Tracer, meter, log):
        self.spark = spark
        self.meter = meter
        self.cores = spark.sparkContext.defaultParallelism
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seconds = seconds
        self.tracer = tracer
        self.log = log
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_done_at: float | None = None
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self._cpu0 = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        self.log(f"FAILED {what}")

    @contextmanager
    def pool(self):
        """Untimed set-up and checks only: yields ``submit(fn, item)``,
        which runs ``fn(item)`` on one of ``cores`` threads.  ``fn``
        returns None or a mismatch description; a description or a
        raised exception counts as a failure of that item."""
        futures = []
        with ThreadPoolExecutor(max_workers=self.cores) as ex:
            yield lambda fn, item: futures.append((item, ex.submit(fn, item)))
        for it, f in futures:
            exc = f.exception()
            if exc is not None:
                self.fail(f"{it}: {type(exc).__name__}: {exc}"[:300])
            elif f.result():
                self.fail(f"{it}: {f.result()}"[:300])

    @contextmanager
    def group(self, group: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setJobGroup("bench/untracked", "bench/untracked")

    def settle(self) -> None:
        """End of set-up: collect garbage in both processes, so the timed
        region does not inherit the warm-up's heap, and restart the peak
        resident-memory counters of the driver JVM and this process."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        for pid in self._pids():
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        self._cpu0 = tree_cpu_s(os.getpid())
        self.setup_done_at = time.perf_counter()

    def end_timing(self) -> None:
        """Record the timed region's peak resident memory (MB) and the
        CPU time this process and its descendants (the driver JVM and
        its Python workers) spent in it."""
        kb = []
        for pid in self._pids():
            with open(f"/proc/{pid}/status") as fh:
                kb.append(next(int(x.split()[1]) for x in fh if x.startswith("VmHWM:")))
        self.peak_rss_mb = sum(kb) / 1024
        self.log(f"peak resident MB: driver JVM {kb[0] / 1024:.1f}, Python {kb[1] / 1024:.1f}")
        self.cpu_s = tree_cpu_s(os.getpid()) - self._cpu0
        self.meter.mark()

    def _pids(self) -> tuple[int, int]:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return int(jvm), os.getpid()

    def job_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks) of one job group, from
        the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return len(jobs), stages, tasks


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every process below
    it, including descendants that have already exited and been waited
    for.  The kernel leaves time stolen by the hypervisor out of it."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    keep, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in keep if p in stats) / os.sysconf("SC_CLK_TCK")


def _duck(sf_dir: str):
    from streaming_forex_data_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_batch(ctx: Ctx) -> dict:
    """Closed loop over the ``BATCH_MIX`` queries: the candle-cache fill, one
    untimed warm-up and correctness pass, then whole timed passes in
    seeded order, each query a builder call plus a ``noop`` write."""
    from streaming_forex_data_pipeline_spark import plans
    from streaming_forex_data_pipeline_spark.sources import scratch as SCR
    from streaming_forex_data_pipeline_spark.sources.tables import (
        candles_from_events,
        load_table,
    )

    spark, tr = ctx.spark, ctx.tracer
    builders = plans.spark_queries()
    oracles = plans.oracle_sqls()
    layers = BATCH_MIX
    names = list(layers)
    layer_m: dict[str, float] = {}
    # the first load_table call ships the engine package to the Python
    # workers and is not safe to make concurrently: make it before the
    # set-up threads start
    load_table(spark, ctx.sf_dir, "events")
    silver_mark = len(SCR.SILVER_BUILD_LOG)
    con = _duck(ctx.sf_dir)
    corpus = [n for n in names if layers[n].startswith("llm.")]

    def warm(name: str) -> str | None:
        t0 = time.perf_counter()
        with ctx.group(f"warmup/{name}"):
            got = builders[name](spark, ctx.sf_dir).toPandas()
        want = con.cursor().execute(oracles[name]).fetchdf()
        tr.add("query", t0, time.perf_counter(), parent=ws["id"], query=name, check=True)
        bad = mismatch(got, want)
        return f"oracle mismatch: {bad}" if bad else None

    with tr.span("warmup") as ws, ctx.pool() as submit:
        ctx.attempted += len(names)
        # the corpus queries need no candles and build the slowest
        # silvers: they start first, beside the candle-cache fill
        for name in corpus:
            submit(warm, name)
        with tr.span("sources.tables.candles") as cs, ctx.group("setup/candles"):
            candles_from_events(spark, ctx.sf_dir).count()
        layer_m["sources.tables.candles_s"] = cs["end"] - cs["start"]
        for name in names:
            if name not in corpus:
                submit(warm, name)
    con.close()
    builds = SCR.SILVER_BUILD_LOG[silver_mark:]
    layer_m["sources.scratch.silver_builds"] = len(builds)
    layer_m["sources.scratch.silver_build_s"] = sum(b["sec"] for b in builds)

    passes = max(2, round(ctx.seconds / NOMINAL_PASS_S))
    samples: list[dict] = []
    silver_mark = len(SCR.SILVER_BUILD_LOG)
    ctx.settle()
    t0 = time.perf_counter()
    with tr.span("timed", passes=passes):
        for p in range(passes):
            order = names[:]
            ctx.rng.shuffle(order)
            with tr.span("pass", index=p):
                for name in order:
                    ctx.attempted += 1
                    g = f"timed/p{p}/{name}"
                    with tr.span("query", query=name) as qs:
                        try:
                            with tr.span("build") as bs, ctx.group(g + "/build"):
                                df = builders[name](spark, ctx.sf_dir)
                            with tr.span("exec"), ctx.group(g + "/exec"):
                                df.write.format("noop").mode("overwrite").save()
                        except Exception as exc:  # noqa: BLE001
                            ctx.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                            continue
                    samples.append({
                        "query": name, "group": g,
                        "t0": tr.t0 + qs["start"], "t1": tr.t0 + qs["end"],
                        "build_s": bs["end"] - bs["start"],
                    })
    t1 = time.perf_counter()
    ctx.end_timing()
    for s in samples:
        s["latency_s"] = ctx.meter.adjust(s["t0"], s["t1"])
        s["wall_latency_s"] = s["t1"] - s["t0"]
    layer_m["sources.scratch.timed_rebuilds"] = len(SCR.SILVER_BUILD_LOG) - silver_mark

    # exact job / stage / task counts, read after timing ends
    for s in samples:
        bj, bst, btk = ctx.job_counts(s["group"] + "/build")
        ej, est, etk = ctx.job_counts(s["group"] + "/exec")
        s.update(build_jobs=bj, jobs=bj + ej, stages=bst + est, tasks=btk + etk)

    lat = [s["latency_s"] for s in samples]
    per_query = {
        n: median([s["latency_s"] for s in samples if s["query"] == n])
        for n in names
    }
    for layer in sorted(set(layers.values())):
        layer_m[f"{layer}.s"] = sum(
            v for n, v in per_query.items() if layers[n] == layer
        )
    for metric, qnames in JOB_COUNTS.items():
        layer_m[metric] = median([s["jobs"] for s in samples if s["query"] in qnames])
    n = len(samples)
    layer_m.update({
        "plans.build_s_p50": median([s["build_s"] for s in samples]),
        "plans.build_share": sum(s["build_s"] for s in samples)
        / sum(s["wall_latency_s"] for s in samples),
        "plans.build_jobs": sum(s["build_jobs"] for s in samples) / n,
        "exec.jobs_per_query": sum(s["jobs"] for s in samples) / n,
        "exec.stages_per_query": sum(s["stages"] for s in samples) / n,
        "exec.tasks_per_query": sum(s["tasks"] for s in samples) / n,
    })
    ctx.log(f"timed {n} queries in {passes} passes, {t1 - t0:.3f} s")
    return {
        "unit": "query", "units": n,
        "keys": [s["query"] for s in samples], "latencies_s": lat,
        "wall_latencies_s": [s["wall_latency_s"] for s in samples],
        "regions": [(t0, t1)],
        "layer": layer_m, "samples": samples,
        "timed_groups": [s["group"] + part for s in samples for part in ("/build", "/exec")],
    }


# ---------------------------------------------------------------- streaming


def _stream(spark, src_dir: str, table: str):
    from streaming_forex_data_pipeline_spark.sources.tables import normalize_event_ts

    files = sorted(os.listdir(src_dir))
    schema = spark.read.parquet(os.path.join(src_dir, files[0])).schema
    df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    return normalize_event_ts(df) if table == "events" else df


def _docs_items(d):
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm.corpus import words_array

    return d.select(F.explode(words_array("text")).alias("item"))


def _channels():
    """name -> (input table, keys of the sink or None, start(spark, sf,
    view, sink_dir, stream) -> StreamingQuery, batch reference(spark,
    sf) over the same rows)."""
    from pyspark.sql import functions as F

    from streaming_forex_data_pipeline_spark.llm import vocab as VO
    from streaming_forex_data_pipeline_spark.sources.tables import load_table
    from streaming_forex_data_pipeline_spark.streaming import analytics_stream as AS
    from streaming_forex_data_pipeline_spark.streaming import corpus_stream as CS

    def start_candles(spark, sf, view, sink_dir, stream):
        from streaming_forex_data_pipeline_spark.streaming.channels import candle_channel

        return (
            candle_channel(stream).writeStream.outputMode("append")
            .format("memory").queryName(view)
            .option("checkpointLocation", os.path.join(sink_dir, "_ckpt"))
            .trigger(availableNow=True).start()
        )

    def wau_ref(spark, sf):
        e = load_table(spark, sf, "events")
        return VO.hll_keyed_rhos(
            e.select(F.date_trunc("day", "ts").alias("day"), "user_id"),
            "user_id", ["day"],
        )

    def candles_ref(spark, sf):
        from streaming_forex_data_pipeline_spark.sources.tables import candles_from_events

        return candles_from_events(spark, sf)

    def kw(fn):
        return lambda spark, sf, view, sink_dir, stream: fn(
            spark, sf, sink_table=view, sink_dir=sink_dir, stream=stream
        )

    return {
        "cms": ("documents", ["row", "bucket", "batch"], kw(CS.start_cms_channel),
                lambda s, sf: VO.cms_build(load_table(s, sf, "documents"))),
        "hll": ("documents", ["bucket", "batch"], kw(CS.start_hll_channel),
                lambda s, sf: VO.hll_registers(_docs_items(load_table(s, sf, "documents")))),
        "wau": ("events", ["day", "bucket", "batch"], kw(AS.start_wau_channel), wau_ref),
        "candles": ("events", None, start_candles, candles_ref),
    }


def _check_channel(spark, name: str, view: str, ref) -> str | None:
    got = spark.table(view)
    if name != "candles":
        return mismatch(got.toPandas(), ref.select(*got.columns).toPandas())
    # append mode emits a window once the watermark passes its end, so
    # each symbol's last window(s) may still be open: every emitted
    # window must equal the batch window, and at most two per symbol
    # may be missing
    g = got.toPandas()
    b = ref.toPandas()
    keys = ["symbol", "ts"]
    emitted = b.merge(g[keys], on=keys)
    if len(emitted) != len(g):
        return f"{len(g) - len(emitted)} emitted windows absent from batch"
    if len(g) < len(b) - 2 * b["symbol"].nunique():
        return f"only {len(g)} of {len(b)} windows emitted"
    return mismatch(g, emitted[g.columns])


def _drain(ctx: Ctx, name: str, spec, src: str, tag: str) -> dict:
    """Run one channel to completion over the files in ``src``."""
    table, _keys, start, _ref = spec
    spark = ctx.spark
    view = f"{name}_{tag}"
    sink_dir = os.path.join(ctx.run_dir, "sinks", view)
    stream = _stream(spark, os.path.join(src, table), table)
    t0 = time.perf_counter()
    q = start(spark, ctx.sf_dir, view, sink_dir, stream)
    done = q.awaitTermination(CHANNEL_TIMEOUT_S)
    t1 = time.perf_counter()
    if not done:
        q.stop()
        raise TimeoutError(f"{name} did not drain in {CHANNEL_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(f"{name}: {q.exception()}")
    progress = [p if isinstance(p, dict) else dict(p) for p in q.recentProgress]
    ctx.tracer.add("channel", t0, t1, channel=name, phase=tag, batches=[
        {"batch": int(p["batchId"]), "rows": int(p.get("numInputRows") or 0),
         "duration_ms": p.get("durationMs")} for p in progress])
    return {"view": view, "sink_dir": sink_dir, "t0": t0, "t1": t1,
            "progress": progress, "run_id": str(q.runId)}


def run_stream(ctx: Ctx, stream_dir: str, trace: bool) -> dict:
    """Closed-loop backlog drain: each channel in turn runs
    ``availableNow`` over one file per trigger until the backlog is
    empty; the next channel starts after it finishes.  An untimed
    warm-up drains the first ``WARM_FILES`` files through every channel
    into throw-away sinks; after the timed drain every channel's final
    view is compared with its batch operator over the whole table."""
    from streaming_forex_data_pipeline_spark.sources.sinks import read_committed
    from streaming_forex_data_pipeline_spark.sources.tables import load_table

    spark, tr = ctx.spark, ctx.tracer
    # the first load_table call ships the engine package to the Python
    # workers; it is not safe to make concurrently, so make it here,
    # before the check threads start
    load_table(spark, ctx.sf_dir, "events")
    channels = _channels()
    # a fixed channel order: which channel runs first after the warm-up
    # would otherwise move the medians from seed to seed
    order = list(channels)

    warm_src = os.path.join(ctx.run_dir, "stream_warm")
    for table in ("events", "documents"):
        os.makedirs(os.path.join(warm_src, table))
        for f in sorted(os.listdir(os.path.join(stream_dir, table)))[:WARM_FILES]:
            dst = os.path.join(warm_src, table, f)
            shutil.copy2(os.path.join(stream_dir, table, f), dst)

    # one channel at a time: a warm-up on threads left the runs in states
    # whose micro-batch medians differed by up to 30 % from seed to seed
    with tr.span("warmup"):
        for name in order:
            ctx.attempted += 1
            try:
                _drain(ctx, name, channels[name], warm_src, "warm")
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                ctx.fail(f"{name} warm-up: {type(exc).__name__}: {exc}"[:300])

    ctx.settle()
    runs: dict[str, dict] = {}
    t0 = time.perf_counter()
    with tr.span("timed"):
        for name in order:
            try:
                runs[name] = _drain(ctx, name, channels[name], stream_dir, "timed")
            except Exception as exc:  # noqa: BLE001
                ctx.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
    wall = time.perf_counter() - t0
    ctx.end_timing()
    # progress timestamps are wall-clock: map them to perf_counter time
    clock_off = time.time() - time.perf_counter()

    batches = [(n, p) for n, r in runs.items() for p in r["progress"]]
    ctx.attempted += len(batches)

    def check(name: str) -> str | None:
        with ctx.group(f"check/{name}"):
            ref = channels[name][3](spark, ctx.sf_dir)
            bad = _check_channel(spark, name, runs[name]["view"], ref)
        return f"batch parity: {bad}" if bad else None

    with tr.span("check"), ctx.pool() as submit:
        for name in runs:
            submit(check, name)

    def dur(p, *keys):
        d = p.get("durationMs") or {}
        return float(sum(d.get(k) or 0 for k in keys))

    def window(p) -> tuple[float, float]:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        b0 = start.timestamp() - clock_off
        return b0, b0 + dur(p, "triggerExecution") / 1e3

    lat_ms = [dur(p, "triggerExecution") for _, p in batches]
    adj_s = [ctx.meter.adjust(*window(p)) for _, p in batches]
    rows = sum(int(p.get("numInputRows") or 0) for _, p in batches)
    drain_wall = sum(r["t1"] - r["t0"] for r in runs.values())

    candle = runs.get("candles", {}).get("progress") or [{}]
    state_ops = candle[-1].get("stateOperators") or []
    late = sum(
        int(op.get("numRowsDroppedByWatermark") or 0)
        for p in runs.get("candles", {}).get("progress", [])
        for op in (p.get("stateOperators") or [])
    )

    commits = bytes_written = view_in = view_rows = 0
    growth = []
    for name, r in runs.items():
        ms = [dur(p, "triggerExecution") for p in r["progress"]]
        q = max(1, len(ms) // 4)
        growth.append(median(ms[-q:]) / median(ms[:q]))
        keys = channels[name][1]
        if keys is None:
            continue
        log_dir = os.path.join(r["sink_dir"], "_log")
        commits += len([f for f in os.listdir(log_dir) if f.endswith(".json")])
        for dp, _, fs in os.walk(os.path.join(r["sink_dir"], "_staged")):
            bytes_written += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
        if trace:
            with ctx.group(f"check/{name}/view_input"):
                view_in += read_committed(spark, r["sink_dir"], keys=keys).count()
                view_rows += spark.table(r["view"]).count()

    layer_m = {
        "streaming.add_batch_ms_p50": median([dur(p, "addBatch") for _, p in batches]),
        "streaming.planning_ms_p50": median([dur(p, "queryPlanning") for _, p in batches]),
        "streaming.offsets_ms_p50": median(
            [dur(p, "latestOffset", "walCommit", "commitOffsets") for _, p in batches]
        ),
        "streaming.state_rows": sum(int(op.get("numRowsTotal") or 0) for op in state_ops),
        "streaming.state_bytes": sum(int(op.get("memoryUsedBytes") or 0) for op in state_ops),
        "streaming.late_rows_dropped": late,
        "streaming.rows_per_s": rows / drain_wall,
        "sources.sinks.commits": commits,
        "sources.sinks.bytes_written": bytes_written,
        "sources.sinks.view_input_rows": view_in,
        "sources.sinks.reread_ratio": view_in / view_rows if view_rows else 0.0,
        "sources.sinks.batch_growth": median(growth),
    }
    ctx.log(f"timed {len(lat_ms)} micro-batches over {len(runs)} channels, "
            f"{wall:.3f} s; {rows} input rows")
    return {
        "unit": "micro-batch", "units": len(lat_ms), "rows": rows,
        "keys": [n for n, _ in batches], "latencies_s": adj_s,
        "wall_latencies_s": [x / 1e3 for x in lat_ms],
        "regions": [(r["t0"], r["t1"]) for r in runs.values()],
        "layer": layer_m, "samples": [],
        # a streaming query runs its micro-batch jobs under its run id
        "timed_groups": [r["run_id"] for r in runs.values()],
    }
