"""Benchmark launcher: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 18 --trace 0

Run from the root of a checkout.  Each run owns a fresh directory
under ``perfbench/.runs/`` that holds its generated inputs, ``TMPDIR``,
``SPARK_LOCAL_DIRS``, warehouse, checkpoints, sinks and event log, and
removes it on exit; traced runs keep their spans under
``perfbench/.out/``.  Human-readable lines go to stderr; the last line
of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Every end-to-end time is steal-adjusted (``hostmeter.py``); stderr
carries the plain wall-clock figures beside them.
The exit code is 0 only when every output matched its reference.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_mix", "stream_ingest")
#: The driver JVM's heap, fixed in size, with a fixed young generation.
#: Under G1's defaults the heap and young-generation sizes it settled on
#: varied from run to run, with the stolen CPU time that stretches its
#: pauses, and moved peak_rss_mb by up to 25 % between seeds.
HEAP = "4g"
YOUNG = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def prepare_env(run_dir: str, trace: bool) -> None:
    """Point every writable location of the engine, Spark and the
    Python workers at ``run_dir`` before the JVM starts."""
    sub = {k: os.path.join(run_dir, k) for k in
           ("tmp", "local", "warehouse", "checkpoints", "events")}
    for d in sub.values():
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": sub["tmp"],
        "SPARK_LOCAL_DIRS": sub["local"],
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": HEAP,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    confs = {
        "spark.sql.warehouse.dir": sub["warehouse"],
        "spark.sql.streaming.checkpointLocation": sub["checkpoints"],
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={sub['tmp']} -Xms{HEAP} -Xmn{YOUNG}"
        ),
        # keep every job of the run in the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + sub["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def jvm_children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    workers = jvm_children(jvm_pid)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


def untraced_wall(workload: str, seconds: int, out_dir: str) -> float | None:
    """Timed wall of the last untraced run of ``workload`` with the same
    ``seconds`` in this checkout, or None when there has been none."""
    try:
        with open(os.path.join(out_dir, f"untraced-{workload}.json")) as fh:
            rec = json.load(fh)
    except FileNotFoundError:
        return None
    return float(rec["wall_s"]) if rec.get("seconds") == seconds else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    trace = bool(a.trace)

    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "streaming_forex_data_pipeline_spark")):
        log("engine package streaming_forex_data_pipeline_spark not found next to perfbench/")
        return 2
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    base_wall = untraced_wall(a.workload, a.seconds, out_dir) if trace else None

    load0 = os.getloadavg()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, trace)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from hostmeter import HostMeter

    try:
        with HostMeter() as meter:
            return run(a, spec, run_dir, out_dir, trace, base_wall, load0, meter)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, spec, run_dir, out_dir, trace, base_wall, load0, meter) -> int:
    import inputs
    import workloads as W
    from statistics import median

    from check import gmean, tail

    tracer = W.Tracer(T_START)
    sf_dir = os.path.join(run_dir, "data")
    with tracer.span("inputs"):
        sizes = inputs.generate(sf_dir)
        stream_dir = os.path.join(run_dir, "stream")
        if a.workload == "stream_ingest":
            sizes["stream"] = inputs.cut_stream(sf_dir, stream_dir, a.seed,
                                                W.stream_files(a.seconds))
    nbytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    log(f"workload={a.workload} seed={a.seed} scale={inputs.SCALE} rows={sizes} "
        f"files={len(os.listdir(sf_dir))} bytes={nbytes}")

    from streaming_forex_data_pipeline_spark.session import get_spark

    with tracer.span("session.start") as ss:
        spark = get_spark(f"perfbench-{a.workload}")
    try:
        ctx = W.Ctx(spark, sf_dir, run_dir, a.seed, a.seconds, tracer, meter, log)
        if a.workload == "batch_mix":
            res = W.run_batch(ctx)
        else:
            res = W.run_stream(ctx, stream_dir, trace)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    from bench import calibration_probe

    host = {"nproc": ctx.cores, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "calibration_probe_s": calibration_probe(reps=3)}
    log(f"host {json.dumps(host)}")
    # every time below is wall time less the share the hypervisor stole
    # (hostmeter.py); the raw wall times go to stderr beside them
    setup_wall = ctx.setup_done_at - T_START
    setup_s = meter.adjust(T_START, ctx.setup_done_at)
    wall = sum(t1 - t0 for t0, t1 in res["regions"])
    adj_wall = sum(meter.adjust(t0, t1) for t0, t1 in res["regions"])
    lat = res["latencies_s"]
    t = tail(lat)
    if t is None:
        ctx.fail(f"only {len(lat)} latency samples; the tail needs more")
        t = (0, max(lat, default=0.0))
    p50 = median(lat) if lat else 0.0
    by_key: dict[str, list[float]] = {}
    for k, v in zip(res["keys"], lat):
        by_key.setdefault(k, []).append(v)
    error_rate = ctx.failed / max(1, ctx.attempted)
    e2e = {
        "setup_s": setup_s,
        "latency_ms": gmean([median(v) for v in by_key.values()]) * 1e3 if lat else 0.0,
        "latency_tail_ms": t[1] * 1e3,
        "throughput": res["units"] / adj_wall if adj_wall else 0.0,
        "peak_rss_mb": ctx.peak_rss_mb,
    }
    log("phases " + " ".join(
        f"{sp['name']}={sp['end'] - sp['start']:.2f}s"
        for sp in tracer.spans if sp["parent"] is None))
    if res["unit"] == "query":
        named = (f"query_p50_s={p50:.4f} "
                 f"query_tail_s={t[1]:.4f} queries_per_s={e2e['throughput']:.4f}")
    else:
        named = (f"batch_p50_ms={p50 * 1e3:.1f} "
                 f"batch_tail_ms={t[1] * 1e3:.1f} "
                 f"rows_per_s={res['rows'] / adj_wall:.1f}")
    log(f"{named} (tail = p{t[0]} of {len(lat)} {res['unit']} latencies, "
        f"{len(lat) - math.ceil(t[0] * len(lat) / 100)} beyond it) "
        f"error_rate={error_rate:.4f} peak_rss_mb={ctx.peak_rss_mb:.1f} setup_s={setup_s:.3f}")
    raw = res["wall_latencies_s"]
    raw_tail = (tail(raw) or (0, 0.0))[1]
    log(f"wall time, steal included: setup_s={setup_wall:.3f} timed_s={wall:.3f} "
        f"latency_p50_ms={median(raw or [0.0]) * 1e3:.1f} latency_tail_ms={raw_tail * 1e3:.1f} "
        f"throughput={res['units'] / wall if wall else 0.0:.4f}; stolen share: set-up "
        f"{meter.stolen_share(T_START, ctx.setup_done_at):.3f}, timed "
        f"{1 - adj_wall / wall:.3f}; timed CPU {ctx.cpu_s:.2f} s")
    for e in ctx.errors:
        log(f"error: {e}")

    if trace:
        from eventlog import FIELDS, parse

        groups = parse(os.path.join(run_dir, "events", app_id))
        timed = [groups[g] for g in res["timed_groups"] if g in groups]
        tot = {f: sum(v[f] for v in timed) for f in FIELDS}
        # the Arrow kernels run while the media silvers are built, in set-up
        py = {f: sum(v[f] for v in groups.values())
              for f in ("python_bytes_sent", "python_bytes_received")}
        layer = {
            "session.start_s": ss["end"] - ss["start"],
            "exec.scheduler_delay_s": tot["scheduler_delay_s"],
            "exec.core_busy_frac": tot["task_s"] / (wall * ctx.cores),
            "exec.process_cpu_s": ctx.cpu_s / res["units"],
            "exec.task_s": tot["task_s"],
            "exec.task_cpu_s": tot["task_cpu_s"],
            "exec.gc_s": tot["gc_s"],
            "exec.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "exec.spill_bytes": tot["spill_bytes"],
            "python.bytes_sent": py["python_bytes_sent"],
            "python.bytes_received": py["python_bytes_received"],
            **res["layer"],
        }
        unavailable = {}
        if base_wall is None:
            unavailable["trace.overhead_s"] = "no untraced run of this workload and length on record"
        else:
            layer["trace.overhead_s"] = adj_wall - base_wall
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        absent = sorted(set(names) - set(layer) - set(unavailable))
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in names}
        spans_path = os.path.join(out_dir, f"spans-{a.workload}-s{a.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "host": host,
                       "metrics": metrics, "end_to_end": e2e,
                       "sizes": sizes, "not_exercised": absent,
                       "unavailable": unavailable,
                       "job_groups": groups, "spans": tracer.spans}, fh)
        log(f"spans: {spans_path}; reported as 0: not exercised {absent}, "
            f"unavailable {unavailable}")
    else:
        with open(os.path.join(out_dir, f"untraced-{a.workload}.json"), "w") as fh:
            json.dump({"seed": a.seed, "seconds": a.seconds, "wall_s": adj_wall}, fh)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": float(e2e[n]), "unit": units[n]} for n in units}

    correct = ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
