"""Materialized IVF index: cell assignment at INGEST, not at query time.

The §9.2 ANN scale experiment's conclusion made durable: assigning every
candidate vector to its nearest coarse cell costs one narrow O(n) pass,
so it belongs in the ingest path — queries then open only the
``nprobe`` inverted lists they probe, and the corpus is never
re-assigned per query batch. This module is that ingest path:

- :func:`write_ivf_index` — batch ingest: quantized vectors + their
  ``cell`` id written as parquet **partitioned by cell** (the inverted
  list IS the directory layout), with the codebook stored alongside in
  ``_codebook.json`` so readers score probes against the exact same
  centroids.
- :func:`stream_ivf_index` — streaming ingest: the same layout fed by a
  Structured Streaming query (parquet sink + checkpoint = exactly-once
  file output), cell derived per micro-batch.
- :func:`read_ivf_index` — read back (cell comes from the directory
  column: NO assignment pass), returning the codebook with it.
- :func:`ivf_topk_stored` — ANN over the stored index via
  :func:`polar_spark.functions.similarity.ivf_topk` with
  ``cell_col="cell"``.

100 TB shape: cell partitioning means a query batch's probe join prunes
to nprobe/nlist of the files (static or dynamic partition pruning — the
probe set is a broadcast build side); the only per-query Python work is
probing the O(nlist) codebook and scoring the pruned candidates. The
reference has no ANN surface — this is part of the beyond-reference
LLM-pipeline operator set (SURVEY §2.3).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from polar_spark.functions.similarity import NPROBE, ivf_cell, ivf_topk
from polar_spark.store import write_json

CODEBOOK_FILE = "_codebook.json"


def _save_codebook(path: str, centroids: list[tuple[int, list[int]]]) -> None:
    os.makedirs(path, exist_ok=True)
    write_json(
        os.path.join(path, CODEBOOK_FILE),
        [[int(cid), [int(x) for x in v]] for cid, v in centroids],
    )


def load_codebook(path: str) -> list[tuple[int, list[int]]]:
    with open(os.path.join(path, CODEBOOK_FILE)) as f:
        return [(int(cid), [int(x) for x in v]) for cid, v in json.load(f)]


TWO_LEVEL_NLIST = 64  # past this, route assignment through super-cells


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    vec_col: str = "v",
    id_col: str = "vec_id",
    extra_cols: list[str] | None = None,
    mode: str = "overwrite",
    two_level: bool | None = None,
) -> None:
    """Batch ingest: one narrow assignment pass (codebook rides the UDF
    closure — zero shuffle), then a cell-partitioned parquet write.
    ``df[vec_col]`` must already be quantized int64 (the
    functions.similarity contract).

    ``two_level`` routes assignment through ~√nlist super-cells
    (functions.similarity.ivf_cell_twolevel — EXACT, triangle-inequality
    pruned), the faiss assign-via-centroid-index move that keeps
    per-vector assignment cost flat when nlist is grown as √n with the
    corpus instead of O(nlist)-per-vector quadratic. Default: automatic
    past TWO_LEVEL_NLIST centroids (results are identical either way —
    tests/test_operators.py pins the law, DECADES_r11_ivf_assign the
    cost curve)."""
    from polar_spark.functions.similarity import ivf_cell_twolevel

    if two_level is None:
        two_level = len(centroids) >= TWO_LEVEL_NLIST
    assign = ivf_cell_twolevel if two_level else ivf_cell
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols or []],
        F.col(vec_col),
        assign(vec_col, centroids).alias("cell"),
    )
    out.write.mode(mode).partitionBy("cell").parquet(path)
    _save_codebook(path, centroids)


def _start_cell_stream(
    out: DataFrame,
    path: str,
    checkpoint_dir: str | None,
    trigger_seconds: float | None,
) -> StreamingQuery:
    """Shared tail of both streaming index writers: checkpointed parquet
    sink partitioned by cell, availableNow unless a trigger is given."""
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(path, "_checkpoint"),
        )
        .partitionBy("cell")
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ivf_index(
    stream_df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    vec_col: str = "v",
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Streaming ingest into the same cell-partitioned layout: the
    parquet sink's checkpoint gives exactly-once file output, and each
    micro-batch pays only its own O(batch) assignment."""
    from polar_spark.functions.similarity import ivf_cell_twolevel

    _save_codebook(path, centroids)
    assign = (
        ivf_cell_twolevel
        if len(centroids) >= TWO_LEVEL_NLIST
        else ivf_cell
    )
    out = stream_df.select(
        F.col(id_col),
        F.col(vec_col),
        assign(vec_col, centroids).alias("cell"),
    )
    return _start_cell_stream(out, path, checkpoint_dir, trigger_seconds)


def read_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """The stored inverted lists: ``cell`` is the parquet partition
    column (directory-derived — reading performs NO assignment pass),
    plus the codebook the index was built with."""
    return spark.read.parquet(path), load_codebook(path)


def ivf_topk_stored(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = NPROBE,
    query_id: str = "qid",
    query_vec: str = "qv",
    cand_id: str = "vec_id",
    cand_vec: str = "v",
) -> DataFrame:
    """ANN over a materialized index: probe-join against the stored
    cells (partition-pruned), exact top-k inside the probed lists. The
    candidate side's plan contains no Python evaluation before the join
    — asserted in tests/test_plans.py."""
    cands, centroids = read_ivf_index(spark, path)
    return ivf_topk(
        queries,
        cands,
        centroids,
        k=k,
        nprobe=nprobe,
        query_id=query_id,
        cand_id=cand_id,
        query_vec=query_vec,
        cand_vec=cand_vec,
        cell_col="cell",
    )


# ---------------------------------------------------------------------------
# IVFADC: PQ codes stored inside the cell-partitioned layout
# ---------------------------------------------------------------------------

PQ_BOOKS_FILE = "_pq_books.json"


def _save_pq_books(path: str, books: list[list[list[int]]]) -> None:
    os.makedirs(path, exist_ok=True)
    write_json(
        os.path.join(path, PQ_BOOKS_FILE),
        [[[int(x) for x in c] for c in b] for b in books],
    )


def load_pq_books(path: str) -> list[list[list[int]]]:
    with open(os.path.join(path, PQ_BOOKS_FILE)) as f:
        return json.load(f)


def _ivfpq_cols(vec_col: str, centroids, books) -> list:
    """The IVFADC derived columns (PQ codes + coarse cell) — one narrow
    pass, shared by the batch and streaming writers."""
    from polar_spark.functions.similarity import ivf_cell_twolevel, pq_encode

    assign = (
        ivf_cell_twolevel
        if len(centroids) >= TWO_LEVEL_NLIST
        else ivf_cell
    )
    return [
        pq_encode(vec_col, books).alias("codes"),
        assign(vec_col, centroids).alias("cell"),
    ]


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    vec_col: str = "v",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """The full Faiss-IVFADC storage shape: each vector gets its coarse
    ``cell`` (directory partition = inverted list) AND its PQ ``codes``
    (nsub byte-codes) in ONE narrow ingest pass; raw vectors are kept as
    a column for shortlist re-ranking. Queries that only ADC-scan read
    (id, codes) and prune the vector column entirely — at 100 TB the
    hot scan is the ~3 TB code stream, not the 100 TB vectors."""
    out = df.select(
        F.col(id_col),
        F.col(vec_col),
        *_ivfpq_cols(vec_col, centroids, books),
    )
    out.write.mode(mode).partitionBy("cell").parquet(path)
    _save_codebook(path, centroids)
    _save_pq_books(path, books)


def stream_ivfpq_index(
    stream_df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[int]]],
    books: list[list[list[int]]],
    vec_col: str = "v",
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Streaming ingest of the FULL IVFADC layout: each arriving
    micro-batch pays its own O(batch) cell assignment + PQ encoding and
    lands in the cell-partitioned parquet sink (checkpointed =
    exactly-once file output). The at-ingest twin of
    :func:`write_ivfpq_index`; ivfpq_topk_stored reads either."""
    _save_codebook(path, centroids)
    _save_pq_books(path, books)
    out = stream_df.select(
        F.col(id_col),
        F.col(vec_col),
        *_ivfpq_cols(vec_col, centroids, books),
    )
    return _start_cell_stream(out, path, checkpoint_dir, trigger_seconds)


def ivfpq_topk_stored(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = NPROBE,
    shortlist: int = 100,
    query_id: str = "qid",
    query_vec: str = "qv",
    cand_id: str = "vec_id",
    cand_vec: str = "v",
) -> DataFrame:
    """IVFADC+R over a materialized index: probe ``nprobe`` cells
    (partition-pruned scan of (id, codes) only), ADC-score the probed
    lists via per-query lookup tables (no decode), keep a
    ``shortlist`` per query, then exact-re-rank ONLY the shortlist
    against the stored raw vectors. Touches nprobe/nlist of the corpus,
    scans codes not vectors, and pays exact dots for
    O(shortlist·|Q|) rows — every term independent of n or sublinear."""
    from pyspark.sql.window import Window

    from polar_spark.functions.similarity import (
        adc_dot_expr,
        collect_query_vectors,
        exact_rerank_topk,
        ivf_probe_cells,
        pq_lut,
    )

    cands, centroids = read_ivf_index(spark, path)
    books = load_pq_books(path)
    qids_py, Q = collect_query_vectors(
        queries, query_id, query_vec, "ivfpq_topk_stored"
    )
    LUT = pq_lut(books, Q)

    probes = queries.withColumn(
        "cell", F.explode(ivf_probe_cells(query_vec, centroids, nprobe))
    ).select(query_id, "cell")
    j = (
        cands.select(cand_id, "codes", "cell")
        .join(F.broadcast(probes), "cell")
        .filter(F.col(cand_id) != F.col(query_id))
    )
    scored = j.select(
        query_id,
        cand_id,
        adc_dot_expr(qids_py, LUT, F.col(query_id), F.col("codes")).alias(
            "adc_dot"
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_dot").desc(), F.col(cand_id)
    )
    short = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= shortlist)
        .select(query_id, cand_id)
    )
    return exact_rerank_topk(
        short, cands, queries, k, query_id, cand_id, query_vec, cand_vec
    )
