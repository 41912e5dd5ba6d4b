"""Rebuild ``pins.json``: the expected output digest of each curate_batch
query on each corpus variant.

    python3 perfbench/pin.py

A query with a DuckDB oracle is pinned only when the Spark result and the
oracle result have the same digest; a query without one (``knn_pq_adc``)
is pinned on its Spark result. Exits non-zero, writing nothing, when any
oracle disagrees.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    import duckdb

    from polar_spark.queries import QUERIES
    from polar_spark.session import get_spark

    spark = get_spark(app_name="perfbench-pin",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    pins: dict[str, dict[str, str]] = {}
    bad = []
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=scratch)
    try:
        for v in range(workloads.CURATE_VARIANTS):
            d = os.path.join(tmp, f"v{v}")
            corpus.write_curate_corpus(d, v, workloads.CURATE_DOCS, workloads.CURATE_VECS)
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.sql(f"create view {t} as select * from '{d}/{t}.parquet'")
            pins[str(v)] = {}
            for q in workloads.CURATE_QUERIES:
                workloads.reset_query_memos(spark)
                df = QUERIES[q].fn(spark, d)
                got = workloads.rows_digest(df.columns, [tuple(r) for r in df.collect()])
                if QUERIES[q].oracle:
                    res = con.sql(QUERIES[q].oracle)
                    want = workloads.rows_digest(res.columns, res.fetchall())
                    if got != want:
                        bad.append(f"variant {v} {q}")
                        continue
                pins[str(v)][q] = got
                print(f"variant {v} {q}: {got[:16]}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print("oracle mismatch: " + ", ".join(bad), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
