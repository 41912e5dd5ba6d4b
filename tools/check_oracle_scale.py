"""Oracle-check the scale-pointed query families on a 10× DERIVED corpus.

The decade sweeps (tools/measure_decades.py) prove the scale families
are FAST at 10×-1000×; until r9 nothing proved they stay CORRECT above
sf0.01 — AQE, broadcast-threshold flips and multi-row-group scans all
engage only at larger inputs (VERDICT r8 "What's missing #2"). This
tool closes that gap for the families the sweeps point at: it builds
the same 10× derived corpus the bench uses (bench._build_scaled_corpus
— every replica a DISTINCT row: rotated text, time-shifted events,
perturbed embeddings), then runs the driver-identical DuckDB compare
(tools/check_oracle.py) over it.

Usage: python tools/check_oracle_scale.py [name ...]
  (default: the decade-swept families — minhash dedup, simhash,
   stored-cell ANN, KMV pair, HLL, LM scoring — and the PQ/IVFADC
   recall laws)

Env: SPARK_GRAFT_SF_DIR   base corpus (default /root/testdata/sf0.1)
     POLAR_SCALE_FACTOR   replication factor (default 10)
     POLAR_SCALE_REPORT   JSON report path
                          (default SCALE_CORRECTNESS_r9.json, committed
                          per-round like LOCAL_CORRECTNESS)
     POLAR_SCALE_TABLES   comma-separated fact tables to replicate
                          (default events,documents,embeddings — trim
                          for targeted runs, e.g. the 100x KMV/LM check
                          only needs events,documents; untrimmed tables
                          link through from the base)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The families whose 10×/100×/1000× timings are cited as scale
# evidence; each gets a value-hash check at 10× so the sweeps prove
# correct-at-scale, not just fast-at-scale.
DEFAULT_QUERIES = [
    "dedup_minhash_verified",
    "dedup_simhash",
    "knn_ivf_stored_cells",
    "sketch_kmv_distinct_users",
    "sketch_kmv_merged_months",
    "sketch_hll_distinct_users",
    "lm_bigram_nll_score",
    "knn_pq_recall_law",
    "knn_ivfpq_recall_law",
]


def main(names: list[str]) -> int:
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("POLAR_SCALE_FACTOR", "10"))
    report = os.environ.get(
        "POLAR_SCALE_REPORT", os.path.join(REPO, "SCALE_CORRECTNESS_r9.json")
    )
    targets = names or DEFAULT_QUERIES

    os.environ["SPARK_GRAFT_SF_DIR"] = base
    import bench  # noqa: E402  (reads SPARK_GRAFT_SF_DIR at import)
    from polar_spark.session import get_spark

    dst = tempfile.mkdtemp(prefix="scale_oracle_")
    try:
        spark = get_spark(app_name="scale_corpus", shuffle_partitions=32)
        # facts the targets touch grow factor×; everything else links
        # through from the base so the oracle views resolve
        scaled = tuple(
            t.strip()
            for t in os.environ.get(
                "POLAR_SCALE_TABLES", "events,documents,embeddings"
            ).split(",")
            if t.strip()
        )
        bench._build_scaled_corpus(spark, dst, factor, tables=scaled)
        # link through every base table the build did NOT scale —
        # including orders/lineitem when a caller scales one of them
        # (a scaled table in the link list would hit FileExistsError;
        # an unstripped name would silently link an UNSCALED copy)
        link = [
            t
            for t in ("events", "documents", "embeddings", "orders", "lineitem")
            if t not in scaled
        ]
        for t in link:
            src = os.path.join(base, f"{t}.parquet")
            if os.path.exists(src):
                os.symlink(src, os.path.join(dst, f"{t}.parquet"))
        spark.stop()

        # run the driver-identical compare in a FRESH process so its
        # Spark session sees the derived dir cold (no cached plans/state
        # from the corpus build)
        env = dict(
            os.environ, POLAR_ORACLE_SF_DIR=dst, POLAR_ORACLE_REPORT=report
        )
        rc = subprocess.call(
            [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
             *targets],
            env=env,
            cwd=REPO,
        )
        if os.path.exists(report):
            with open(report) as fh:
                data = json.load(fh)
            data["base_sf_dir"] = base
            data["factor"] = factor
            data["note"] = (
                "value-hash oracle compare on the bench's 10x derived "
                "corpus (distinct-row replication); same compare as "
                "LOCAL_CORRECTNESS"
            )
            with open(report, "w") as fh:
                json.dump(data, fh, indent=1)
        return rc
    finally:
        shutil.rmtree(dst, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
