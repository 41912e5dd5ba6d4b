"""Layered benchmark for the polar_spark topic log.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (``serve_keyed``, ``dedup_stream``, ``curate_batch``;
see README.md) against one engine process: a Spark session plus
``PolarEngine`` and, for the REST workloads, ``PolarRestServer``, driven by a separate load-generator process
(gen.py). It checks the outputs, prints the workload's named figures on
one ``detail`` line, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: engine CPU per operation
and per set-up; wall-clock figures are on the ``detail`` line (see
README.md for why). ``--trace 1`` runs the workload once untraced and
once with spans around the engine modules' public functions, and reports
the per-layer metrics, including each layer's self time and the tracing
overhead.

All scratch data lives under ``.perfbench/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads  # noqa: E402  (needs no engine import)

NCPU = len(os.sched_getaffinity(0))
# host fit for a 4-core, 15 GiB machine (recorded in README.md)
ENV = {
    "POLAR_SPARK_DRIVER_MEM": "4g",
    "SPARK_GRAFT_CPUS": str(NCPU),
}
SETUP_REPEATS = 5
# pause before the timed set-ups, so JIT compilation and garbage
# collection that the preparation left running in the JVM's background
# threads are not counted as set-up CPU
SETTLE_S = 2.0

E2E = {  # name -> unit
    "cpu_ms_per_op": "ms",
    "setup_s": "s",
}
LAYER_UNITS = {  # per-layer metric -> unit; every traced run reports all
    "topics.reserve_ms_p50": "ms", "topics.reserve_ms_p99": "ms",
    "topics.publish_ms_p50": "ms", "topics.publish_ms_p99": "ms",
    "produce.rows_ms_p50": "ms", "produce.rows_ms_p99": "ms",
    "produce.self_ms_p50": "ms", "produce.files_per_request": "count",
    "consume.poll_ms_p50": "ms", "consume.poll_ms_p99": "ms",
    "consume.items_ms_p50": "ms", "consume.local_served_ratio": "ratio",
    "consume.seg_cache_hit_ratio": "ratio", "consume.cold_load_ms_p50": "ms",
    "consume.redelivered_msgs": "count", "consume.lag_end_msgs": "count",
    "rest.produce_self_ms_p50": "ms", "rest.poll_self_ms_p50": "ms",
    "api.poll_self_ms_p50": "ms", "api.commit_ms_p50": "ms",
    "streaming.trigger_s_p50": "s", "streaming.addBatch_s_p50": "s",
    "streaming.source_s_p50": "s", "streaming.jobs_per_trigger": "count",
    "streaming.rows_per_trigger": "count", "streaming.idle_share": "ratio",
    "streaming.store_files": "count", "streaming.store_mb": "MB",
    "streaming.drops": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.driver_share": "ratio",
    "gen.late_ms_p99": "ms", "gen.late_ms_max": "ms",
    "proc.engine_python_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.gen_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_pct": "%", "trace.spans": "count",
}
for _q in workloads.CURATE_QUERIES:
    LAYER_UNITS.update({f"queries.{_q}_s": "s", f"queries.{_q}_jobs": "count",
                        f"queries.{_q}_executor_cpu_s": "s"})
LAYERS = ("rest", "api", "produce", "topics", "consume", "streaming", "queries", "spark")
LAYER_UNITS.update({f"layer.{name}_self_s": "s" for name in LAYERS})


class Ctx:
    """What a workload needs: the session, its seed and run length, a
    scratch dir, the status-store reader, and the tracer (None untraced)."""

    def __init__(self, spark, seed, seconds, tmp):
        from spans import SparkJobs

        self.spark, self.seed, self.seconds, self.tmp = spark, seed, seconds, tmp
        self.jobs = SparkJobs(spark)
        self.tracer = None
        self.phase = "p0"


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM"))
    return hwm / 1024 + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def py_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants (the JVM and its
    Python workers), including children they have reaped."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def engine_cpu_s(jvm: int) -> float:
    """CPU seconds of the engine: this process plus the JVM tree, not the
    load generator."""
    return py_cpu_s() + tree_cpu_s(jvm)


def install_tracer(tr, state) -> None:
    """Spans around the public entry points of each engine module."""
    from polar_spark import api, consume, produce, topics
    from polar_spark.streaming import dedup as sdedup

    def on_poll(t, args, kwargs, res):
        if kwargs.get("max_records") is not None or len(args) > 2:
            t.counts["consume.bounded_polls"] += 1
            t.counts["consume.local_polls"] += res._arrow is not None

    def on_stamp(t, args, kwargs, res):
        t.counts["produce.staged_files"] += sum(len(v) for v in res.values())
        t.counts["produce.stagings"] += 1

    for owner, attr, name, obs in (
        (api.PolarEngine, "produce_rows", "api.produce_rows", None),
        (api.PolarEngine, "poll", "api.poll", None),
        (api.PolarEngine, "commit", "api.commit", None),
        (api.PolarEngine, "register", "api.register", None),
        (produce.Producer, "produce_rows", "produce.rows", None),
        (topics.TopicCatalog, "reserve", "topics.reserve", None),
        (topics.TopicCatalog, "publish", "topics.publish", None),
        (topics.TopicCatalog, "stamp_staged_offsets", "topics.stamp", on_stamp),
        (topics.TopicCatalog, "ensure_topic", "topics.ensure_topic", None),
        (consume.ConsumerGroup, "poll", "consume.poll", on_poll),
        (consume.ConsumerGroup, "commit", "consume.commit", None),
        (consume.PollResult, "items", "consume.items", None),
        (consume._SegmentCache, "load", "consume.seg_load", None),
        (consume._SegmentCache, "_read_direct", "consume.seg_read", None),
        (sdedup.StreamingSemDedupLSH, "apply_batch", "streaming.apply_batch", None),
    ):
        tr.wrap(owner, attr, name, obs)
    srv = state.get("srv") if isinstance(state, dict) else None
    if srv is not None:
        handler = srv._server.RequestHandlerClass
        tr.wrap(handler, "do_POST", "rest.post")
        tr.wrap(handler, "do_PUT", "rest.put")
        tr.wrap(handler, "_produce", "rest.produce")
        tr.wrap(handler, "_poll", "rest.poll")


def layer_metrics(tr, jobs_tot: dict, window_s: float) -> dict[str, float]:
    pct = workloads.pct
    ms = {n: [x * 1e3 for x in tr.durations(n)] for n in (
        "topics.reserve", "topics.publish", "produce.rows", "consume.poll",
        "consume.items", "api.commit")}
    self_t = tr.self_times()
    out = {
        "topics.reserve_ms_p50": pct(ms["topics.reserve"], 50),
        "topics.reserve_ms_p99": pct(ms["topics.reserve"], 99),
        "topics.publish_ms_p50": pct(ms["topics.publish"], 50),
        "topics.publish_ms_p99": pct(ms["topics.publish"], 99),
        "produce.rows_ms_p50": pct(ms["produce.rows"], 50),
        "produce.rows_ms_p99": pct(ms["produce.rows"], 99),
        "produce.self_ms_p50": pct([x * 1e3 for x in self_t.get("produce.rows", [])], 50),
        "produce.files_per_request": tr.counts["produce.staged_files"]
        / max(1, tr.counts["produce.stagings"]),
        "consume.poll_ms_p50": pct(ms["consume.poll"], 50),
        "consume.poll_ms_p99": pct(ms["consume.poll"], 99),
        "consume.items_ms_p50": pct(ms["consume.items"], 50),
        "consume.local_served_ratio": tr.counts["consume.local_polls"]
        / max(1, tr.counts["consume.bounded_polls"]),
        "rest.produce_self_ms_p50": pct([x * 1e3 for x in self_t.get("rest.produce", [])], 50),
        "rest.poll_self_ms_p50": pct([x * 1e3 for x in self_t.get("rest.poll", [])], 50),
        "api.poll_self_ms_p50": pct([x * 1e3 for x in self_t.get("api.poll", [])], 50),
        "api.commit_ms_p50": pct(ms["api.commit"], 50),
        "trace.spans": len(tr.spans),
    }
    # segment cache: a load with no direct-read child was a hit; a direct
    # read under a load is a cold load on the serving path
    loads = {sid for n, _s, _e, sid, _p, _r in tr.spans if n == "consume.seg_load"}
    cold = [(e - s) * 1e3 for n, s, e, _sid, p, _r in tr.spans
            if n == "consume.seg_read" and p in loads]
    out["consume.seg_cache_hit_ratio"] = (len(loads) - len(cold)) / len(loads) if loads else 0.0
    out["consume.cold_load_ms_p50"] = pct(cold, 50)
    for name in LAYERS:
        out[f"layer.{name}_self_s"] = sum(
            sum(v) for k, v in self_t.items() if k.split(".", 1)[0] == name)
    # Spark has no Python spans: its time is the union of job intervals
    out["layer.spark_self_s"] = (1 - jobs_tot.get("driver_share", 1.0)) * window_s
    return out


def run_phase(wl, ctx, state, traced: bool):
    """One measured window over ``state``, which it tears down."""
    from spans import Tracer

    try:
        ctx.tracer = Tracer() if traced else None
        if traced:
            install_tracer(ctx.tracer, state)
        pid = jvm_pid(ctx.spark)
        cpu0, jcpu0, eng0 = py_cpu_s(), jvm_cpu_s(pid), engine_cpu_s(pid)
        try:
            ph = wl.measure(state)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.unwrap_all()
        ph.cpu_ms_per_op = 1e3 * (engine_cpu_s(pid) - eng0) / max(1, ph.ops)
        ph.layer["proc.engine_python_cpu_s"] = py_cpu_s() - cpu0
        ph.layer["proc.jvm_cpu_s"] = jvm_cpu_s(pid) - jcpu0
        ph.layer["proc.peak_rss_mb"] = peak_rss_mb(pid)
        t0, t1 = ph.window
        tot = ctx.jobs.totals(ctx.jobs.jobs_between(t0, t1), t1 - t0)
        for k, v in tot.items():
            ph.layer[f"spark.{k}"] = v
        if traced:
            ph.layer.update(layer_metrics(ctx.tracer, tot, t1 - t0))
        return ph
    finally:
        wl.teardown(state)


def scratch_dir() -> str:
    """A fresh ``.perfbench/run-<pid>`` in the checkout, and the process
    environment that keeps every JVM and temp file inside it."""
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(ENV)
    # every JVM, the spark-submit launcher's too, writes no hsperfdata
    # file to the system temp dir
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       "PYSPARK_PYTHON": sys.executable,
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    # a SIGTERM unwinds through the finally blocks, which stop the load
    # generator and the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return work


def start_spark(app: str, work: str):
    from polar_spark.session import get_spark

    spark = get_spark(app_name=app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the gateway JVM exits when its stdin closes; wait for it
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = scratch_dir()
    tmp = os.path.join(work, "tmp")
    spark = None
    try:
        if a.workload not in workloads.WORKLOADS:
            print(f"unknown workload {a.workload!r}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        spark = start_spark(f"perfbench-{a.workload}", work)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, a.seed, a.seconds, tmp)
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[a.workload](ctx)
        prepare_s = time.perf_counter() - t0
        # set-up time is the engine CPU it takes: on a shared host its
        # wall time moved 2-4x between runs (see README.md)
        setups, setup_walls, state = [], [], None
        time.sleep(SETTLE_S)
        for _ in range(SETUP_REPEATS):
            if state is not None:
                wl.teardown(state)
            s0, c0 = time.perf_counter(), engine_cpu_s(jvm_pid(spark))
            state = wl.setup()
            setups.append(engine_cpu_s(jvm_pid(spark)) - c0)
            setup_walls.append(time.perf_counter() - s0)
        ph = run_phase(wl, ctx, state, traced=False)
        attempted, failed, notes = ph.attempted, ph.failed, list(ph.notes)
        if a.trace:
            ctx.phase = "p1"
            ph_t = run_phase(wl, ctx, wl.setup(), traced=True)
            attempted += ph_t.attempted
            failed += ph_t.failed
            notes += ph_t.notes
            layer = {k: 0.0 for k in LAYER_UNITS}
            layer.update({k: v for k, v in ph_t.layer.items() if k in LAYER_UNITS})
            layer["trace.overhead_pct"] = (
                100 * (ph_t.cpu_ms_per_op - ph.cpu_ms_per_op) / ph.cpu_ms_per_op)
            dump = os.path.join(ROOT, ".perfbench", f"spans-{a.workload}-{a.seed}.jsonl")
            ctx.tracer.dump(dump)
            metrics = {k: {"value": layer[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
        else:
            e2e = {"cpu_ms_per_op": ph.cpu_ms_per_op, "setup_s": statistics.median(setups)}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        detail = dict(ph.detail, setup_s_runs=setups, setup_wall_s_runs=setup_walls,
                      spark_session_s=session_s, prepare_s=prepare_s,
                      peak_rss_mb=ph.layer["proc.peak_rss_mb"],
                      failed_op_ratio=failed / max(1, attempted), checks_failed=notes)
        print("detail " + json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
