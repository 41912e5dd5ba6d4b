"""The three workloads. Each has ``setup`` (timed, repeated, median is
``setup_s``), ``measure`` (the timed window) and ``teardown``.

A ``measure`` returns a ``Phase``: the named per-workload figures
printed beside the end-to-end metrics, the per-layer metrics it can take
from outside without tracing, and its operation/failure counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))

# serve_keyed: open-loop request rate over 2 producer connections, half
# of the single-topic produce capacity (20 requests/s) that capacity.py
# measured on a shared 4-core host (CAPACITY.json)
KEYED_RATE = 10.0
KEYED_BACKLOG_REQUESTS = 40
# dedup_stream: pre-seeded store size, vector rate, records per request,
# and the sink's processingTime trigger. The generator sends for a
# quarter of the run's seconds, which ends before the query's first
# trigger (5-10 s on a 4-core host) does, so every run has the same two
# micro-batches
DEDUP_STORE = 2_000
DEDUP_RATE = 80.0
DEDUP_BATCH = 10
DEDUP_TRIGGER_S = 1.0
# curate_batch: base corpus (10x derived), the pinned corpus variants,
# the queries of one curation pass, and the untimed and timed passes.
# On a 4-core host each query adds 3-5 s to a warm pass and 5-20 s to
# the cold one every run pays, so only knn_pq_adc (timed with its
# training) fits the per-run time budget beside the other workloads;
# dedup_simhash, dedup_minhash_verified, bpe_train_merges and
# semdedup_lsh_prune are left out
CURATE_DOCS = 100
CURATE_VECS = 200
CURATE_VARIANTS = 4
CURATE_QUERIES = ("knn_pq_adc",)
CURATE_WARM_PASSES = 2
CURATE_PASSES = 4


@dataclass
class Phase:
    detail: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    notes: list[str] = field(default_factory=list)
    ops: int = 1  # unit operations the window ran, for cpu_ms_per_op
    cpu_ms_per_op: float = 0.0  # filled in by run.py


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    if not len(xs):
        return 0.0
    s = sorted(xs)
    return float(s[max(0, min(len(s) - 1, int(np.ceil(q / 100 * len(s))) - 1))])


def _gen(args: list[str]) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), *args],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )


def run_generator(args: list[str], timeout: float) -> tuple[dict, float]:
    """Start the generator, wait until it is connected, release it, and
    return its result and the wall time it was released at."""
    p = _gen(args)
    try:
        if p.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")
        t_go = time.time()
        out, _ = p.communicate("go\n", timeout=timeout)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        raise RuntimeError(f"load generator exited with {p.returncode}")
    return json.loads(out.strip().splitlines()[-1]), t_go


def gen_figures(g: dict, interval_s: float) -> tuple[dict[str, float], bool]:
    """The generator's own per-layer figures, and whether it fell behind:
    its p99 send was later than one request interval past the due time,
    so the offered load was not the stated rate."""
    late = g["late_ms"] or [0.0]
    behind = pct(late, 99) > interval_s * 1e3
    if behind:
        print(f"warning: load generator fell behind (late p99 {pct(late, 99):.1f} ms)",
              file=sys.stderr)
    return {"gen.late_ms_p99": pct(late, 99), "gen.late_ms_max": max(late),
            "proc.gen_cpu_s": g["cpu_s"]}, behind


# ---------------------------------------------------------------- serve_keyed
class ServeKeyed:
    name = "serve_keyed"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rate = KEYED_RATE

    def setup(self):
        from polar_spark.api import PolarEngine
        from polar_spark.rest import PolarRestServer

        eng = PolarEngine(self.ctx.spark, tempfile.mkdtemp(dir=self.ctx.tmp))
        srv = PolarRestServer(eng).start()
        eng.catalog.ensure_topic("keyed", 12)
        # a topic with history: consumers register at its tail
        body = [json.dumps({"id": -1, "ts": 0.0, "pad": "x" * 944})] * 64
        for i in range(KEYED_BACKLOG_REQUESTS):
            eng.produce_rows("keyed", body, key=f"user{i}")
        return {"eng": eng, "srv": srv}

    def teardown(self, st):
        st["srv"].stop()
        shutil.rmtree(st["eng"].catalog.root, ignore_errors=True)

    def measure(self, st) -> Phase:
        c = self.ctx
        srv = st["srv"]
        g, t_go = run_generator(
            ["keyed", "--port", str(srv.port), "--seed", str(c.seed),
             "--seconds", str(c.seconds), "--rate", str(self.rate)],
            timeout=c.seconds + 60,
        )
        t_end = time.time()
        jobs = c.jobs.jobs_between(t_go, t_end)
        checks = {
            "every acked message delivered": g["missing_msgs"] == 0,
            "offset order per partition": g["order_errors"] == 0,
            "no Spark job on the request path": len(jobs) == 0,
        }
        detail = {
            "produce_ack_ms_p50": statistics.median(g["ack_ms"]),
            "produce_ack_ms_p90": pct(g["ack_ms"], 90),
            "produce_ack_ms_p99": pct(g["ack_ms"], 99),
            "produce_requests": len(g["ack_ms"]),
            "poll_ms_p50": pct(g["poll_ms"], 50),
            "poll_ms_p99": pct(g["poll_ms"], 99),
            "polls": len(g["poll_ms"]),
            "delivery_ms_p50": pct(g["delivery_ms"], 50),
            "delivery_ms_p99": pct(g["delivery_ms"], 99),
            "delivered_msgs": len(g["delivery_ms"]),
            "delivered_msgs_per_s": g["delivered_msgs_per_s"],
            "lag_end_msgs": g["lag_end_msgs"],
        }
        layer, detail["generator_behind"] = gen_figures(g, 1 / self.rate)
        layer["consume.redelivered_msgs"] = g["duplicate_msgs"]
        layer["consume.lag_end_msgs"] = g["lag_end_msgs"]
        return Phase(
            detail, layer,
            attempted=g["requests"] + g["polls"] + len(checks),
            failed=g["failed_requests"] + g["poll_errors"]
            + sum(not ok for ok in checks.values()),
            window=(t_go, t_end),
            notes=[k for k, ok in checks.items() if not ok],
            ops=len(g["ack_ms"]),
        )


# --------------------------------------------------------------- dedup_stream
def _epoch_of(tag: str) -> int:
    return int(tag.rsplit("x", 1)[1])


def banded_greedy_drops(vectors: np.ndarray, bands: int, r: int, tau_sq_pct: int) -> set[int]:
    """The semdedup-LSH law in id order: drop ``v`` iff some earlier KEPT
    vector shares a band bucket with it and ``d > 0`` and
    ``10^4 d^2 >= tau n_u n_v`` in exact integers."""
    from polar_spark.functions.similarity import hyperplane_weights

    W = np.array(hyperplane_weights(corpus.DIMS, bands * r), dtype=np.int64)
    bits = (vectors @ W.T >= 0).astype(np.int64).reshape(len(vectors), bands, r)
    buckets = bits @ (1 << np.arange(r - 1, -1, -1))
    n2 = [int(x) for x in np.einsum("ij,ij->i", vectors, vectors)]
    table: list[dict[int, list[int]]] = [dict() for _ in range(bands)]
    drops: set[int] = set()
    for i in range(len(vectors)):
        cands = {k for b in range(bands) for k in table[b].get(int(buckets[i, b]), ())}
        dup = False
        for k in sorted(cands):
            d = int(vectors[k] @ vectors[i])
            if d > 0 and 10000 * d * d >= tau_sq_pct * n2[k] * n2[i]:
                dup = True
                break
        if dup:
            drops.add(i)
        else:
            for b in range(bands):
                table[b].setdefault(int(buckets[i, b]), []).append(i)
    return drops


class DedupStream:
    name = "dedup_stream"
    topic = "vecs"

    def __init__(self, ctx):
        from polar_spark.streaming.dedup import StreamingSemDedupLSH

        self.ctx = ctx
        self.send_s = ctx.seconds / 4
        self.n_stream = int(DEDUP_RATE * self.send_s)
        # id DEDUP_STORE is produced during set-up, so the topic holds a
        # file when the stream is defined; the generator sends the rest
        self.vs = corpus.VectorStream(ctx.seed, DEDUP_STORE, self.n_stream + 1)
        self.first = DEDUP_STORE + 1
        # the pre-seeded store, written once through the sink's own
        # apply_batch; each set-up starts from a copy of it
        self.seeded = os.path.join(ctx.tmp, "seeded")
        sd = StreamingSemDedupLSH(ctx.spark, os.path.join(self.seeded, "idx"),
                                  os.path.join(self.seeded, "drops"), dims=corpus.DIMS)
        seed_rows = [(i, self.vs.vectors[i].tolist()) for i in range(DEDUP_STORE)]
        sd.apply_batch(ctx.spark.createDataFrame(seed_rows, "vec_id long, v array<bigint>"),
                       0, "preseed")

    def setup(self):
        from polar_spark.api import PolarEngine
        from polar_spark.rest import PolarRestServer
        from polar_spark.streaming.dedup import StreamingSemDedupLSH
        from polar_spark.streaming.ingest import stream_topic
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        root = tempfile.mkdtemp(dir=self.ctx.tmp)
        for d in ("idx", "drops"):
            shutil.copytree(os.path.join(self.seeded, d), os.path.join(root, d))
        eng = PolarEngine(spark, os.path.join(root, "log"))
        srv = PolarRestServer(eng).start()
        # one partition: each request publishes one file, so a trigger
        # always reads a prefix of the stream
        eng.catalog.ensure_topic(self.topic, 1)
        # the file source infers the partition column when the stream is
        # defined, so the topic must hold a file by then
        warm = {"vec_id": DEDUP_STORE, "v": self.vs.vectors[DEDUP_STORE].tolist()}
        eng.produce_rows(self.topic, [json.dumps(warm)])
        sd = StreamingSemDedupLSH(spark, os.path.join(root, "idx"), os.path.join(root, "drops"),
                                  dims=corpus.DIMS)
        rec = F.from_json("value", "vec_id long, v array<bigint>")
        stream = stream_topic(spark, eng.catalog, self.topic).select(
            rec.getField("vec_id").alias("vec_id"), rec.getField("v").alias("v"))
        commits: dict[int, float] = {}

        def timed_apply(batch_df, epoch, sink_id, **kw):
            # class lookup at call time, so a traced phase's wrapper runs
            out = type(sd).apply_batch(sd, batch_df, epoch, sink_id, **kw)
            commits[epoch] = time.time()
            return out

        sd.apply_batch = timed_apply
        return {"root": root, "eng": eng, "srv": srv, "sd": sd, "stream": stream,
                "q": None, "commits": commits}

    def teardown(self, st):
        if st["q"] is not None and st["q"].isActive:
            st["q"].stop()
        st["srv"].stop()
        shutil.rmtree(st["root"], ignore_errors=True)

    def measure(self, st) -> Phase:
        c = self.ctx
        # the window opens with the query's start: its first trigger
        # decides the set-up record while the generator starts
        t_go = time.time()
        q = st["q"] = st["sd"].start(st["stream"], checkpoint_dir=os.path.join(st["root"], "cp"),
                                     trigger_seconds=DEDUP_TRIGGER_S)
        g, _ = run_generator(
            ["vectors", "--port", str(st["srv"].port), "--seed", str(c.seed),
             "--seconds", str(self.send_s), "--rate", str(DEDUP_RATE),
             "--batch", str(DEDUP_BATCH), "--store", str(DEDUP_STORE)],
            timeout=c.seconds + 60,
        )
        q.processAllAvailable()
        t_end = time.time()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()
        sd = st["sd"]
        decided = {}
        for path, kept in ((sd.vectors_path, True), (sd.drops_path, False)):
            for r in c.spark.read.parquet(path).select("vec_id", "ep").collect():
                decided[r["vec_id"]] = (r["ep"], kept)
        stream_ids = range(self.first, self.first + self.n_stream)
        stamps = {}
        for i, due in g["stamps"].items():
            lo = self.first + int(i) * DEDUP_BATCH
            for k in range(lo, min(lo + DEDUP_BATCH, stream_ids.stop)):
                stamps[k] = due
        lags = []
        commits = st["commits"]
        for k in stream_ids:
            ep, _kept = decided.get(k, (None, None))
            if ep is not None and k in stamps and _epoch_of(ep) in commits:
                lags.append((commits[_epoch_of(ep)] - stamps[k]) * 1e3)
        got_drops = {k for k, (_ep, kept) in decided.items() if not kept}
        ref = banded_greedy_drops(self.vs.vectors, sd.bands, sd.planes_per_band, sd.tau_sq_pct)
        twins = self.vs.kind
        recall = sum(1 for k in twins if k in got_drops) / max(1, len(twins))
        checks = {
            "every record decided once": len(lags) == self.n_stream
            and len(decided) == len(self.vs.vectors),
            "drop set equals the greedy-prefix reference": got_drops == ref,
        }
        detail = {
            "dedup_lag_s_p50": statistics.median(lags) / 1e3,
            "dedup_lag_s_p99": pct(lags, 99) / 1e3,
            "records": len(lags),
            "triggers": len(progress),
            "trigger_s_runs": [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress],
            "window_s": t_end - t_go,
            "planted_twins": len(twins),
            "planted_twin_recall": recall,
            "drops": len(got_drops),
        }
        triggers = len(progress) or 1
        jobs = c.jobs.jobs_between(t_go, t_end)

        def med(key):
            return statistics.median([p["durationMs"].get(key, 0) / 1e3 for p in progress] or [0])

        store_files, store_bytes = 0, 0
        for dp, _dn, fns in os.walk(st["root"]):
            if os.sep + "idx" in dp or os.sep + "drops" in dp:
                for fn in fns:
                    if fn.endswith(".parquet"):
                        store_files += 1
                        store_bytes += os.path.getsize(os.path.join(dp, fn))
        busy = sum(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress)
        layer, detail["generator_behind"] = gen_figures(g, DEDUP_BATCH / DEDUP_RATE)
        layer.update({
            "streaming.trigger_s_p50": med("triggerExecution"),
            "streaming.addBatch_s_p50": med("addBatch"),
            "streaming.source_s_p50": med("getBatch") + med("latestOffset"),
            "streaming.jobs_per_trigger": len(jobs) / triggers,
            "streaming.rows_per_trigger": statistics.median(
                [p["numInputRows"] for p in progress] or [0]),
            "streaming.idle_share": max(0.0, 1 - busy / (t_end - t_go)),
            "streaming.store_files": store_files,
            "streaming.store_mb": store_bytes / 2**20,
            "streaming.drops": len(got_drops - set(range(DEDUP_STORE))),
        })
        return Phase(detail, layer,
                     attempted=g["requests"] + self.n_stream + len(checks),
                     failed=g["failed_requests"] + sum(not ok for ok in checks.values()),
                     window=(t_go, t_end), ops=triggers,
                     notes=[k for k, ok in checks.items() if not ok])


# --------------------------------------------------------------- curate_batch
def rows_digest(cols: list[str], rows: list) -> str:
    """Order-free digest: columns sorted by name, rows sorted, floats
    printed with full precision."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(json.dumps([r[i] for i in order], default=str) for r in rows)
    return hashlib.sha256("\n".join([",".join(sorted(cols))] + canon).encode()).hexdigest()


def reset_query_memos(spark) -> None:
    """Make every curation pass pay its declared work: drop cached plans
    and the PQ/IVF training memos, so ``knn_pq_adc`` is timed including
    training."""
    from polar_spark.queries import similarity

    spark.catalog.clearCache()
    for memo in ("_PQ_TRAIN_MEMO", "_IVF_TRAIN_MEMO", "_IVFPQ_MEMO"):
        getattr(similarity, memo, {}).clear()


class CurateBatch:
    name = "curate_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.variant = ctx.seed % CURATE_VARIANTS
        self.dir = os.path.join(ctx.tmp, "corpus")
        self.sizes = corpus.write_curate_corpus(self.dir, self.variant, CURATE_DOCS, CURATE_VECS)
        with open(os.path.join(HERE, "pins.json")) as f:
            self.pins = json.load(f).get(str(self.variant), {})
        # untimed passes: the Python UDF workers start and JIT warms up
        # before any pass is timed (on a 4-core host a cold pass costs
        # about 7x a warm one, and the next two still about 1.3x)
        for _ in range(CURATE_WARM_PASSES):
            self.run_pass()

    def setup(self):
        from polar_spark.sources.tables import load_table

        for t in ("documents", "embeddings"):
            load_table(self.ctx.spark, self.dir, t).count()
        return None

    def teardown(self, _state):
        pass

    def run_pass(self) -> tuple[dict[str, float], dict[str, str]]:
        from contextlib import nullcontext

        from polar_spark.queries import QUERIES

        tracer = self.ctx.tracer
        spark = self.ctx.spark
        sc = spark.sparkContext
        reset_query_memos(spark)
        times, digests = {}, {}
        for name in CURATE_QUERIES:
            sc.setJobGroup(f"{self.ctx.phase}:q:{name}", name)
            with tracer.span(f"queries.{name}") if tracer else nullcontext():
                t0 = time.perf_counter()
                df = QUERIES[name].fn(spark, self.dir)
                rows = df.collect()
                times[name] = time.perf_counter() - t0
            digests[name] = rows_digest(df.columns, [tuple(r) for r in rows])
        sc.setLocalProperty("spark.jobGroup.id", None)
        return times, digests

    def measure(self, _state) -> Phase:
        c = self.ctx
        t_go = time.time()
        passes, totals, bad = [], [], 0
        # a fixed pass count, not a time window: every run's CPU per pass
        # then covers the same depth of JIT warm-up
        for _ in range(CURATE_PASSES):
            times, digests = self.run_pass()
            passes.append(times)
            totals.append(sum(times.values()))
            bad += sum(self.pins.get(q) != d for q, d in digests.items())
        t_end = time.time()
        detail = {"curate_s": statistics.median(totals), "curate_s_max": max(totals),
                  "passes": len(passes),
                  "corpus_variant": self.variant, **{f"{k}_rows": v for k, v in self.sizes.items()}}
        layer = {}
        for q in CURATE_QUERIES:
            layer[f"queries.{q}_s"] = statistics.median(p[q] for p in passes)
            ids = c.jobs.group_jobs(f"{c.phase}:q:{q}")
            t = c.jobs.totals_for_ids(ids, 1.0)
            layer[f"queries.{q}_jobs"] = len(ids) / len(passes)
            layer[f"queries.{q}_executor_cpu_s"] = t.get("executor_cpu_s", 0.0) / len(passes)
        n = len(passes) * len(CURATE_QUERIES)
        return Phase(detail, layer, attempted=n, failed=bad, window=(t_go, t_end),
                     ops=len(passes),
                     notes=[f"{bad} query outputs differ from the pinned digests"] if bad else [])


WORKLOADS = {w.name: w for w in (ServeKeyed, DedupStream, CurateBatch)}
