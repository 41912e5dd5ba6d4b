"""Per-trigger cost vs store size: IVF-cell streaming semdedup vs the
banded-LSH sink.

The claim under test (streaming/dedup.py): StreamingSemDedup's cogroup
scores each batch against its cells' FULL stored inverted lists, so
per-trigger pairwise work grows linearly with the KEPT corpus — with a
fixed codebook that is linear in stream AGE; StreamingSemDedupLSH's
banded bucket join keeps per-trigger pair work O(batch·bands + true
dups), with the store contributing an IO-linear key scan but no
pairwise scoring growth.

Method: for each store size (signs-derivation corpora at 20×/200×/
1000× → ~40k/400k/2M vectors), SEED both sinks' stores directly in
their own on-disk layout (one narrow assignment/bucket pass — never a
quadratic bulk apply), then time ONE fixed-size probe batch of fresh
ids through apply_batch. Wall time per probe is the figure of merit:
the cell sink should grow ~linearly with the store, the LSH sink stay
near-flat. A small-scale caveat measured honestly on the way: at 40k
vectors the cell sink is FASTER (one numpy matmul against 2.5k-vector
cells beats the LSH sink's multi-job fixed overhead) — the crossover
is a store-size question, which is exactly what this tool measures.

Usage: python tools/measure_semlsh_trigger.py [factors...]
       (merge-resumes into the report: completed factors are kept)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       POLAR_TRIGGER_REPORT (default STREAM_TRIGGER_r10.json)
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FACTORS = [20, 200, 1000]
PROBE = 4000
TAU = 9025  # τ = 0.95


def main() -> None:
    import bench
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import (
        ivf_cell,
        lsh_operating_point,
        quantize,
        sq_norm,
    )
    from polar_spark.session import get_spark
    from polar_spark.sources.tables import load_table
    from polar_spark.streaming.dedup import (
        StreamingSemDedup,
        StreamingSemDedupLSH,
    )

    spark = get_spark()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    report = os.environ.get(
        "POLAR_TRIGGER_REPORT", os.path.join(REPO, "STREAM_TRIGGER_r10.json")
    )
    factors = [int(a) for a in sys.argv[1:]] or FACTORS
    out: dict = {"tau": 0.95, "probe_batch": PROBE, "points": []}
    if os.path.exists(report):  # merge-resume: keep completed factors
        with open(report) as fh:
            out = json.load(fh)
        done = {pt["factor"] for pt in out.get("points", [])}
        factors = [f for f in factors if f not in done]

    for factor in factors:
        corpus = tempfile.mkdtemp(prefix=f"semlsh_c{factor}_")
        work = tempfile.mkdtemp(prefix=f"semlsh_w{factor}_")
        try:
            bench._build_scaled_corpus(
                spark, corpus, factor=factor, tables=("embeddings",),
                emb_mode="signs",
            )
            # the derived corpus lands as ONE parquet file (the build
            # explodes a single-partition source), so without this the
            # store-seeding explode+write below runs as ONE task — at
            # factor 2000 that is a multi-hour single-thread crawl
            qv = (
                load_table(spark, corpus, "embeddings")
                .repartition(32, "vec_id")
                .select("vec_id", quantize("embedding").alias("v"))
                .persist()
            )
            hi = qv.agg(F.max("vec_id")).first()[0] + 1
            seed = qv.filter(F.col("vec_id") < hi - PROBE)
            probe = qv.filter(F.col("vec_id") >= hi - PROBE)
            n_seed = seed.count()
            bands, r = lsh_operating_point(n_seed, 0.95, 0.95)

            cents = [
                (rr["vec_id"], rr["v"])
                for rr in qv.orderBy("vec_id").limit(16).collect()
            ]
            cell_sink = StreamingSemDedup(
                spark, os.path.join(work, "cidx"),
                os.path.join(work, "cdrops"), cents, tau_sq_pct=TAU,
            )
            lsh_sink = StreamingSemDedupLSH(
                spark, os.path.join(work, "lidx"),
                os.path.join(work, "ldrops"), dims=64,
                bands=bands, planes_per_band=r, tau_sq_pct=TAU,
            )
            # seed both stores in their own layout: one narrow
            # assignment / bucket pass, no pairwise work
            seed.withColumn("cell", ivf_cell("v", cents)).select(
                "vec_id", "v", "cell"
            ).write.partitionBy("cell").mode("overwrite").parquet(
                os.path.join(cell_sink.vectors_path, "ep=seed")
            )
            seed.withColumn("n2", sq_norm(F.col("v"))).select(
                "vec_id", "v", "n2"
            ).write.mode("overwrite").parquet(
                os.path.join(lsh_sink.vectors_path, "ep=seed")
            )
            # r13 ids-only layout: band rows are (bucket:int64, vec_id)
            # under (band, bpre) directory partitions — exactly what
            # apply_batch itself writes, via the sink's own helper;
            # vectors live once in the kept-vectors store seeded above
            lsh_sink._band_key_rows(
                seed.select("vec_id", "v")
            ).write.mode("overwrite").option(
                "compression", "zstd"
            ).partitionBy("band", "bpre").parquet(
                os.path.join(lsh_sink.bands_path, "ep=seed")
            )

            def _du(path: str) -> int:
                return sum(
                    os.path.getsize(os.path.join(dp, fn))
                    for dp, _, fns in os.walk(path)
                    for fn in fns
                )

            bands_b, vecs_b = _du(lsh_sink.bands_path), _du(
                lsh_sink.vectors_path
            )

            t0 = time.perf_counter()
            cell_sink.apply_batch(probe, 1, f"probe_cell_{factor}")
            t_cell = time.perf_counter() - t0
            t0 = time.perf_counter()
            lsh_sink.apply_batch(probe, 1, f"probe_lsh_{factor}")
            t_lsh = time.perf_counter() - t0
            cd = cell_sink.dropped().count()
            ld = lsh_sink.dropped().count()
            pt = {
                "factor": factor, "store_n": n_seed,
                "cell_probe_s": round(t_cell, 3),
                "lsh_probe_s": round(t_lsh, 3),
                "lsh_bands": bands, "lsh_planes_per_band": r,
                "cell_probe_drops": cd, "lsh_probe_drops": ld,
                # on-disk store bytes at seed time: the storage-
                # amplification axis the r13 ids-only layout attacks
                # (bands = key rows; vectors = the 1x corpus payload)
                "lsh_bands_store_mb": round(bands_b / 1048576, 1),
                "lsh_vectors_store_mb": round(vecs_b / 1048576, 1),
            }
            out["points"].append(pt)
            out["points"].sort(key=lambda q: q["factor"])
            print(json.dumps(pt), flush=True)
            with open(report, "w") as fh:  # checkpoint per factor
                json.dump(out, fh, indent=1)
            qv.unpersist()
        finally:
            shutil.rmtree(corpus, ignore_errors=True)
            shutil.rmtree(work, ignore_errors=True)

    p = out["points"]
    if len(p) >= 2:
        import math

        # normalize by ACTUAL store-size decades spanned (the point
        # list is no longer one decade per step once 2000x/4000x join)
        decades = math.log10(p[-1]["store_n"] / p[0]["store_n"])
        out["cell_growth_per_decade"] = round(
            (p[-1]["cell_probe_s"] / p[0]["cell_probe_s"]) ** (1 / decades),
            2,
        )
        out["lsh_growth_per_decade"] = round(
            (p[-1]["lsh_probe_s"] / p[0]["lsh_probe_s"]) ** (1 / decades),
            2,
        )
    with open(report, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
