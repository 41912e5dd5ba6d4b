"""ANN scale experiment: ivf_topk (trained codebook) vs brute force at
1x / 10x / 100x corpus — the embedding-stack mirror of the SURVEY §9.1
dedup scale experiment (VERDICT r2 "Next round" #7).

Replicates the sf0.1 embeddings corpus with deterministic integer
jitter (replicas are near-duplicates, not exact copies, so cells stay
meaningfully populated), trains a Lloyd's codebook with nlist ≈ √n, and
reports wall time + recall@5 of the IVF path against the exact
brute-force ground truth for a fixed 50-query probe set.

Usage: python tools/ann_scale_experiment.py [--scales 1,10,100]
Prints one JSON line per scale; paste the table into SURVEY §9.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
K = 5
N_QUERIES = 50


def replicate(base, times: int):
    """times near-duplicate replicas: component i of replica r jitters by
    ((vec_id*37 + r*17 + i) mod 7) - 3 quantized units — deterministic,
    codegen-only, and small vs QUANT=10⁴ so neighborhoods persist."""
    from pyspark.sql import functions as F

    if times == 1:
        return base
    n = base.count()
    rep = base.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(times - 1))))
    return rep.select(
        (F.col("vec_id") + F.col("_r") * n).alias("vec_id"),
        F.transform(
            "qv",
            lambda x, i: x
            + F.pmod(F.col("vec_id") * 37 + F.col("_r") * 17 + i, F.lit(7))
            - 3,
        ).alias("qv"),
    )


def main() -> None:
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        quantize,
        train_ivf_codebook,
    )
    from polar_spark.session import get_spark
    from polar_spark.sources.tables import load_table

    scales = [1, 10, 100]
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]

    spark = get_spark(app_name="ann_scale")
    base = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", quantize("embedding").alias("qv"))
    )
    queries = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("qv"))
        .persist()
    )
    queries.count()

    for s in scales:
        corpus = replicate(base, s).select(
            "vec_id", F.col("qv").alias("cv")
        ).persist()
        n = corpus.count()
        nlist = max(16, int(math.sqrt(n)))

        t0 = time.perf_counter()
        cents = train_ivf_codebook(corpus, "cv", "vec_id", nlist=nlist, iters=3)
        t_train = time.perf_counter() - t0

        t0 = time.perf_counter()
        exact = {
            (r["qid"], r["vec_id"])
            for r in brute_force_topk(queries, corpus, k=K).collect()
        }
        t_bf = time.perf_counter() - t0

        # one-shot IVF: pays the O(n) cell-assignment pass inline
        t0 = time.perf_counter()
        approx = {
            (r["qid"], r["vec_id"])
            for r in ivf_topk(queries, corpus, cents, k=K, nprobe=8).collect()
        }
        t_ivf = time.perf_counter() - t0

        # amortized IVF: inverted lists materialized once (the ingest-time
        # index build), search touches only the probed cells
        from polar_spark.functions.similarity import ivf_cell

        t0 = time.perf_counter()
        indexed = corpus.withColumn("cell", ivf_cell("cv", cents)).persist()
        indexed.count()
        t_index = time.perf_counter() - t0
        t0 = time.perf_counter()
        approx2 = {
            (r["qid"], r["vec_id"])
            for r in ivf_topk(
                queries, indexed, cents, k=K, nprobe=8, cell_col="cell"
            ).collect()
        }
        t_ivf_amort = time.perf_counter() - t0

        recall = len(exact & approx) / len(exact)
        recall2 = len(exact & approx2) / len(exact)
        print(
            json.dumps(
                {
                    "scale": s,
                    "n_vectors": n,
                    "nlist": nlist,
                    "train_sec": round(t_train, 2),
                    "index_build_sec": round(t_index, 2),
                    "brute_force_sec": round(t_bf, 2),
                    "ivf_oneshot_sec": round(t_ivf, 2),
                    "ivf_indexed_sec": round(t_ivf_amort, 2),
                    "recall_at_5": round(recall, 4),
                    "recall_at_5_indexed": round(recall2, 4),
                }
            ),
            flush=True,
        )
        indexed.unpersist()
        corpus.unpersist()


if __name__ == "__main__":
    main()
