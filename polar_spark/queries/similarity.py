"""Embedding similarity-search queries over `embeddings`.

Quantization contract with the oracle: dots are computed on
``floor(double(x)·1e4)`` int64 vectors — exact, order-independent sums
(functions/similarity.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from polar_spark.functions.similarity import (
    MAX_POINTS_PER_CENTROID,
    NLIST,
    NPROBE,
    PQ_MAX_TRAIN,
    brute_force_topk,
    dot,
    ivf_topk,
    lsh_bucket,
    quantize,
    quantized_corpus,
    sq_norm,
)
from polar_spark.queries.registry import query
from polar_spark.sources.tables import load_table, read_small_table
from polar_spark.store import artifact_root, built_once

_QV = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

_KNN_CTE = f"""
WITH q AS (
  SELECT vec_id AS qid, {_QV} AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, label, {_QV} AS cv FROM embeddings
), dots AS (
  SELECT qid, vec_id, label,
    CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS BIGINT) AS dot
  FROM q, c WHERE vec_id <> qid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn
  FROM dots
)
"""


@query(
    "knn_bruteforce_dot",
    oracle=_KNN_CTE + "SELECT qid, vec_id, dot, rn FROM ranked WHERE rn <= 5",
)
def knn_bruteforce_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN baseline: exact top-5 neighbors per query vector
    by quantized dot product (broadcast queries, no candidate shuffle)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), quantize("embedding").alias("qv")
    )
    cands = e.select("vec_id", quantize("embedding").alias("cv"))
    return brute_force_topk(queries, cands, k=5).select("qid", "vec_id", "dot", "rn")


@query(
    "knn_label_vote",
    oracle=_KNN_CTE
    + """
, votes AS (
  SELECT qid, label, COUNT(*) AS c FROM ranked WHERE rn <= 5 GROUP BY qid, label
)
SELECT qid, label AS pred_label FROM (
  SELECT qid, label, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, label) AS r
  FROM votes
) t WHERE r = 1
""",
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: majority label among the top-5 neighbors
    (deterministic tie-break: count desc, label asc)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), quantize("embedding").alias("qv")
    )
    cands = e.select("vec_id", "label", quantize("embedding").alias("cv"))
    topk = brute_force_topk(queries, cands, k=5)
    votes = topk.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("qid", F.col("label").alias("pred_label"))
    )


_BUCKETS_CTE = f"""
WITH c AS (
  SELECT vec_id, {_QV} AS v FROM embeddings
), proj AS (
  SELECT vec_id, p,
    SUM((strpos('0123456789abcdef', substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 9) * v[i]) AS s
  FROM c
  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
  GROUP BY vec_id, p
), b AS (
  SELECT vec_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id
)
"""


_IVF_PROBE_ORACLE = f"""
WITH c AS (SELECT vec_id, {_QV} AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < {NLIST}),
asg AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT a.vec_id, a.v, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        list_sum(list_transform(range(1, 65), i -> (a.v[i] - cent.cv[i]) * (a.v[i] - cent.cv[i]))), cent.cid) AS r
    FROM c a CROSS JOIN cent) t WHERE r = 1
), q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
probe AS (
  SELECT qid, qv, cid AS cell FROM (
    SELECT q.qid, q.qv, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
        list_sum(list_transform(range(1, 65), i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))), cent.cid) AS r
    FROM q CROSS JOIN cent) t WHERE r <= {NPROBE}
), dots AS (
  SELECT probe.qid, asg.vec_id,
    CAST(list_sum(list_transform(range(1, 65), i -> probe.qv[i] * asg.v[i])) AS BIGINT) AS dot
  FROM probe JOIN asg USING (cell) WHERE asg.vec_id <> probe.qid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn FROM dots
)
SELECT qid, vec_id, dot, rn FROM ranked WHERE rn <= 5
"""


@query("knn_ivf_probe", oracle=_IVF_PROBE_ORACLE)
def knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (Faiss-style coarse quantizer, deterministic codebook =
    the first NLIST vectors): candidates assigned to nearest cell in one
    narrow pass, queries probe their NPROBE nearest cells, exact top-5
    inside the probed inverted lists only."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [
        (r["vec_id"], r["v"])
        for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cands = qv.select("vec_id", F.col("v").alias("cv"))
    return ivf_topk(queries, cands, cents, k=5).select("qid", "vec_id", "dot", "rn")


@query("knn_ivf_stored_cells", oracle=_IVF_PROBE_ORACLE)
def knn_ivf_stored_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a MATERIALIZED IVF index: cells are assigned at ingest
    (sources/ivf_index.write_ivf_index — one narrow pass) and stored as
    the parquet partition layout; the query reads them back and probes
    WITHOUT any full-corpus assignment pass (plan-asserted in
    tests/test_plans.py). Same deterministic first-NLIST codebook as
    knn_ivf_probe, so the oracle is identical — proving stored cells ≡
    computed cells end-to-end through the ingest→read→probe path."""
    from polar_spark.sources.ivf_index import ivf_topk_stored, write_ivf_index

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    # ingest step: built once per input fingerprint — cheap one-pass
    # write locally; in production this is done once by the ingest
    # pipeline (batch or stream_ivf_index) and queries only read
    root = artifact_root(spark, sf_dir, "ivf_index", ["embeddings"])
    path = os.path.join(root, "index")
    built_once(
        root, lambda: write_ivf_index(qv, path, cents, vec_col="v", id_col="vec_id")
    )
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return ivf_topk_stored(spark, path, queries, k=5).select(
        "qid", "vec_id", "dot", "rn"
    )


_IVF_TWOLEVEL_ORACLE = f"""
WITH c AS (SELECT vec_id, {_QV} AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 64),
asg AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT a.vec_id, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        list_sum(list_transform(range(1, 65), i -> (a.v[i] - cent.cv[i]) * (a.v[i] - cent.cv[i]))), cent.cid) AS r
    FROM c a CROSS JOIN cent) t WHERE r = 1
)
SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY cell
"""


@query("knn_ivf_twolevel_cells", oracle=_IVF_TWOLEVEL_ORACLE)
def knn_ivf_twolevel_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell population under TWO-LEVEL (super-cell routed) coarse
    assignment (functions/similarity.ivf_cell_twolevel) at a 64-cell
    codebook — the faiss assign-via-centroid-index move that keeps
    per-vector assignment flat when nlist grows as √n with the corpus.
    The oracle is plain flat nearest-centroid SQL: the two-level route
    is triangle-inequality EXACT (every centroid at the true minimum,
    including lowest-cid ties, survives the prune), so the histograms
    must match bit for bit."""
    from polar_spark.functions.similarity import ivf_cell_twolevel

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [
        (r["vec_id"], r["v"])
        for r in qv.filter(F.col("vec_id") < 64).collect()
    ]
    return (
        qv.select(ivf_cell_twolevel("v", cents).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def _small_quantized_corpus(sf_dir: str, max_rows: int):
    """``(ids, V)`` of the quantized ``embeddings`` corpus, read and
    quantized on the driver with no Spark job, when its footers count
    at most ``max_rows`` rows (sources/tables.read_small_table) and
    functions/similarity.quantized_corpus accepts its values; None
    otherwise, and the caller runs its Spark plan."""
    t = read_small_table(sf_dir, "embeddings", ["vec_id", "embedding"], max_rows)
    return None if t is None else quantized_corpus(t, "vec_id", "embedding")


@query("knn_ivf_trained")  # no oracle: iterative k-means is not SQL-expressible
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse codebook (deterministic Lloyd's
    k-means, functions/similarity.train_ivf_codebook) instead of the
    trivial first-NLIST one — the realistic-scale path where the
    codebook is produced by k-means/Faiss and passed in. When the
    footer gate admits the corpus (at most MAX_POINTS_PER_CENTROID·nlist
    rows) the codebook trains on the driver
    (train_ivf_codebook_local, no Spark job); otherwise in Spark, with
    the same codebook. The search (ivf_topk) runs in Spark either way.
    Driver check is rows-only (iterative training has no ANSI-SQL
    equivalent); recall vs brute force is pytest-asserted in
    tests/test_operators.py."""
    from polar_spark.functions.similarity import (
        train_ivf_codebook,
        train_ivf_codebook_local,
    )

    nlist = 32
    corpus = _small_quantized_corpus(sf_dir, MAX_POINTS_PER_CENTROID * nlist)
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    # every call trains: the timed query includes its declared work
    if corpus is None:
        cb = train_ivf_codebook(qv, "v", "vec_id", nlist=nlist, iters=2)
    else:
        cb = train_ivf_codebook_local(*corpus, nlist=nlist, iters=2)
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cands = qv.select("vec_id", F.col("v").alias("cv"))
    return ivf_topk(queries, cands, cb, k=5, nprobe=8).select(
        "qid", "vec_id", "dot", "rn"
    )


@query("knn_pq_adc")  # no oracle: trained PQ codebook is not SQL-expressible
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN: product quantization + asymmetric-distance
    scan + exact re-rank (Faiss IVFADC+R shape), top-5 for the
    ``vec_id < 10`` probes. Two plans, the same rows. When the footer
    gate (sources/tables.read_small_table) shows at most PQ_MAX_TRAIN
    rows, the driver reads the corpus with pyarrow, quantizes it in
    numpy and runs :func:`_pq_adc_local`, with no Spark job. Larger
    tables, and values the driver path declines
    (functions/similarity.quantized_corpus), run :func:`pq_adc_top5`
    over the loaded table. Rows-only driver check
    (iterative training); recall >= 0.8 and re-rank exactness are
    value-checked by ``knn_pq_recall_law`` and pytest-asserted in
    tests/test_operators.py."""
    corpus = _small_quantized_corpus(sf_dir, PQ_MAX_TRAIN)
    if corpus is not None:
        return _pq_adc_local(spark, *corpus)
    e = load_table(spark, sf_dir, "embeddings")
    return pq_adc_top5(e.select("vec_id", quantize("embedding").alias("v")))


def pq_adc_top5(qv: DataFrame) -> DataFrame:
    """``knn_pq_adc`` over a quantized ``(vec_id, v)`` corpus in Spark:
    ``(qid, vec_id, dot, rn)``. Vectors are encoded as 8 byte-codes
    (32x smaller than raw floats). Every call trains its codebook from
    one bounded Arrow collect (functions/similarity.pq_training_sample:
    at most PQ_MAX_TRAIN vectors in id-hash order; pq_lloyd's rounds in
    numpy on the driver), then encodes every vector, ADC-scores it
    against every query, cuts a corpus-proportional shortlist
    (:func:`_pq_shortlist`) and re-ranks it by exact dot: pq_topk_adc's
    fused Spark scan with the collected books, a shortlist count, a
    query collect, one mapInPandas pass and two windows (shuffle
    O(parts·shortlist·|Q|), independent of n). Driver memory stays
    bounded by the training collect."""
    from polar_spark.functions.similarity import (
        pq_lloyd,
        pq_topk_adc,
        pq_training_sample,
    )

    ids, V = pq_training_sample(qv, "v", "vec_id")
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    return pq_topk_adc(
        queries,
        qv.select("vec_id", F.col("v").alias("cv")),
        pq_lloyd(ids, V, iters=2),
        k=5,
        shortlist=_pq_shortlist(qv.count()),
    ).select("qid", "vec_id", "dot", "rn")


def _pq_adc_local(spark: SparkSession, ids, V) -> DataFrame:
    """``knn_pq_adc``'s local plan over a whole corpus in driver memory
    (``ids`` and the quantized (n, dims) int64 matrix ``V``): pq_lloyd's
    books, the ``ids < 10`` probes, the :func:`_pq_shortlist` of ``n``
    and functions/similarity.pq_topk_adc_local, returned as a local
    relation ``qid long, vec_id long, dot long, rn int`` whose collect
    runs no Spark job.

    Row order does not matter for unique ids (the footer gate's
    quantized_corpus requires them): Lloyd initialises from the lowest
    ids, the sums are exact integers, and both cuts (the shortlist and
    the top 5) break ties by id. So the rows are those of
    :func:`pq_adc_top5`, whose training sample is this whole corpus."""
    import pandas as pd

    from polar_spark.functions.similarity import pq_lloyd, pq_topk_adc_local

    probe = ids < 10
    rows = pq_topk_adc_local(
        ids, V, pq_lloyd(ids, V, iters=2), ids[probe].tolist(), V[probe], k=5,
        shortlist=_pq_shortlist(len(ids)),
    )
    # from pandas (Arrow) the rows become a LocalRelation: collecting
    # it runs no Spark job
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["qid", "vec_id", "dot", "rn"]),
        "qid long, vec_id long, dot long, rn int",
    )


def _pq_shortlist(n: int, floor: int = 400, cap: int = 4096) -> int:
    """Corpus-proportional ADC shortlist for an ``n``-vector corpus
    (~2 % of n, floored/capped): a FIXED shortlist makes recall fall as
    the corpus grows — more candidates compete for the same ADC slots,
    so the true top-k slips below the cut (observed on the synthetic
    corpus: shortlist=100 gives recall@5 ≥ 0.9 at 200 vectors but < 0.8
    at 2 000; 400 restores 0.92). Faiss sizes its IVFADC shortlist the
    same way. The floor is high because the synthetic embeddings are
    RANDOM — the hardest case for PQ, whose cells carry no structure to
    exploit; clustered real embeddings rank far better per slot. ``n``
    is the driver plan's corpus size or the Spark plan's one
    ``count()`` job; the Spark plan's shuffle stays
    O(parts·shortlist·|Q|), independent of n past the cap — past which
    the honest recall lever is a better codebook (more
    iters/subspaces), not an unbounded rerank set."""
    return min(cap, max(floor, n // 50))


def _ivfpq_index_and_queries(spark: SparkSession, sf_dir: str):
    """Build (once per input fingerprint) the materialized IVFADC index
    and the standard 10-query probe set; shared by the search query and
    its recall-law twin so both hit the SAME index. The shortlist is the
    build's marker value, so a hit runs neither the centroid collect nor
    the count; every call still runs the SEARCH."""
    from polar_spark.functions.similarity import train_pq_codebook
    from polar_spark.sources.ivf_index import write_ivfpq_index

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", quantize("embedding").alias("v"))
    queries = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    root = artifact_root(spark, sf_dir, "ivfpq_index", ["embeddings"])
    path = os.path.join(root, "index")

    def build() -> int:
        qv = base.persist()
        cents = [
            (r["vec_id"], r["v"])
            for r in qv.filter(F.col("vec_id") < NLIST).collect()
        ]
        books = train_pq_codebook(qv, "v", "vec_id", iters=2)
        write_ivfpq_index(qv, path, cents, books)
        shortlist = _pq_shortlist(qv.count())
        qv.unpersist()
        return shortlist

    return path, queries, built_once(root, build)


@query("knn_ivfpq_stored")  # no oracle: trained PQ codebook (iterative)
def knn_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Faiss-IVFADC+R over a MATERIALIZED index
    (sources/ivf_index.write_ivfpq_index / ivfpq_topk_stored): coarse
    cell + PQ codes assigned once at ingest and stored cell-partitioned;
    queries probe nprobe cells (partition-pruned), ADC-scan the codes
    column only (vector column pruned from the hot scan — plan-asserted
    in tests/test_plans.py), exact-re-rank the shortlist from the stored
    raw vectors. Rows-only driver check on the result rows themselves;
    the recall/exactness LAW is value-hash-checked by its
    ``knn_ivfpq_recall_law`` twin and pytest-asserted in
    tests/test_operators.py."""
    from polar_spark.sources.ivf_index import ivfpq_topk_stored

    path, queries, shortlist = _ivfpq_index_and_queries(spark, sf_dir)
    return ivfpq_topk_stored(spark, path, queries, k=5, shortlist=shortlist).select(
        "qid", "vec_id", "dot", "rn"
    )


def _recall_law(got: DataFrame, exact: DataFrame) -> DataFrame:
    """One-row verdict over an ANN result vs its exact baseline — the
    boundary-law oracle pattern (VERDICT r4 #3): DuckDB cannot reproduce
    a trained quantizer, but the GUARANTEE the pytest suite pins
    (aggregate recall@5 ≥ 0.8; re-ranked dots exactly equal the true
    dots for every hit) is a deterministic boolean the driver CAN
    value-hash. Everything is lazy single-row aggregates crossed
    together (1-row BNLJ, same auditable shape as profile_table_stats)."""
    j = got.join(
        exact.select("qid", "vec_id", F.col("dot").alias("_ed")),
        ["qid", "vec_id"],
    )
    stats = j.agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum((F.col("dot") != F.col("_ed")).cast("long")).alias("n_bad"),
    )
    base = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("qid").alias("nq"),
    )
    npq = got.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        base.crossJoin(npq)
        .crossJoin(stats)
        .select(
            F.col("nq").cast("long").alias("n_queries"),
            F.col("n_rows").cast("long").alias("n_result_rows"),
            # integer form of n_hits / n_exact >= 0.8 — no float compare
            (F.col("n_hits") * 10 >= F.col("n_exact") * 8).alias("recall_ok"),
            (F.coalesce(F.col("n_bad"), F.lit(0)) == 0).alias("rerank_exact_ok"),
        )
    )


_LAW_ORACLE = """
SELECT CAST(q AS BIGINT) AS n_queries, CAST(5 * q AS BIGINT) AS n_result_rows,
       TRUE AS recall_ok, TRUE AS rerank_exact_ok
FROM (SELECT COUNT(*) AS q FROM embeddings WHERE vec_id < 10) t
"""


@query("knn_pq_recall_law", oracle=_LAW_ORACLE)
def knn_pq_recall_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search law, value-hash-checked: the ``knn_pq_adc`` result
    must cover ≥ 80 % of the exact brute-force top-5 (recall@5, the
    bound tests/test_operators.py:753 pins) and every overlapping pair's
    re-ranked dot must equal the exact integer dot. Upgrades the
    rows-only check on the trained-quantizer query to a full oracle on
    its guarantee — training is deterministic (lowest-id init over an
    id-hash-ordered sample, fixed iters), so the booleans are stable."""
    return _recall_law(
        knn_pq_adc(spark, sf_dir), knn_bruteforce_dot(spark, sf_dir)
    )


@query("knn_ivfpq_recall_law", oracle=_LAW_ORACLE)
def knn_ivfpq_recall_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-IVFADC law, value-hash-checked: ``knn_ivfpq_stored`` vs
    the exact search over the SAME probed cells of the SAME materialized
    index (``ivf_topk_stored`` — the baseline
    tests/test_operators.py:857 uses): aggregate recall@5 ≥ 0.8 and
    exact re-ranked dots on every hit."""
    from polar_spark.sources.ivf_index import ivf_topk_stored, ivfpq_topk_stored

    path, queries, shortlist = _ivfpq_index_and_queries(spark, sf_dir)
    got = ivfpq_topk_stored(spark, path, queries, k=5, shortlist=shortlist)
    exact = ivf_topk_stored(spark, path, queries, k=5)
    return _recall_law(got, exact)


# DuckDB oracle for the IVF-cell incremental greedy (r14): the same
# id-stratified recursion that oracle-checked the banded-LSH twin in
# r13 ports to cells because the per-cell cogroup greedy IS global
# greedy-prefix over the same-cell verified-pair graph — cells
# PARTITION the corpus (one cell per vector), so drop decisions never
# cross cells, and the two-batch split respects id order (batch 0 is
# ids ≤ mid, batch 1 ids > mid; a stored kept partner is therefore
# always a lower id). Cell assignment replays ivf_cell exactly:
# nearest of the first-NLIST (=16) vectors' centroids by exact integer
# squared distance, ties → lowest centroid id. The threshold test is
# the exact integer form; the sink evaluates it in float64 (quantized
# dots < 2^53 are exact; the d² product is within half-ulp of the
# integer value at these magnitudes) — agreement is verified
# empirically at sf0.001/sf0.01/sf0.1, the exact corpora the driver
# checks, by the committed oracle sweeps.
_SEMDEDUP_INC_ORACLE = f"""
WITH RECURSIVE c AS (
  SELECT vec_id, {_QV} AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v AS cv FROM c WHERE vec_id < 16
), cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT c.vec_id, ct.cid,
      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        ORDER BY list_sum(list_transform(range(1, 65),
                  i -> (c.v[i] - ct.cv[i]) * (c.v[i] - ct.cv[i]))), ct.cid
      ) AS rn
    FROM c CROSS JOIN cents ct
  ) WHERE rn = 1
), nn AS (
  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM c
), vp AS MATERIALIZED (
  -- MATERIALIZED: the recursion references vp once per iteration (see
  -- the banded-LSH twin's oracle for the measured why)
  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
  FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
  JOIN nn a ON a.vec_id = ca.vec_id JOIN nn b ON b.vec_id = cb.vec_id
  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) > 0
    AND 10000 * (CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS HUGEINT)
         * CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT))
        >= 1600 * (CAST(a.n2 AS HUGEINT) * b.n2)
), dids AS (
  SELECT DISTINCT id FROM (SELECT id_a AS id FROM vp UNION SELECT id_b FROM vp)
), ordered AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM dids
), greedy(rn, kept_ids) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT o.rn,
    CASE WHEN EXISTS (SELECT 1 FROM vp p
                      WHERE p.id_b = o.id AND list_contains(g.kept_ids, p.id_a))
         THEN g.kept_ids
         ELSE list_append(g.kept_ids, CAST(o.id AS BIGINT)) END
  FROM greedy g JOIN ordered o ON o.rn = g.rn + 1
)
SELECT id AS vec_id FROM dids
WHERE NOT list_contains((SELECT kept_ids FROM greedy ORDER BY rn DESC LIMIT 1), id)
"""


def _apply_halves_once(sd, qv: DataFrame, root: str) -> None:
    """Apply ``qv`` to the incremental dedup sink ``sd`` as two
    id-ordered epochs (ids ≤ max/2, then the rest), once per artifact
    root: a re-invocation must NOT re-apply epoch 0 against a store
    already holding epoch 1's keeps (the reset path would dedup early
    ids against later keeps — not the greedy-prefix law)."""

    def build() -> None:
        mid = qv.agg(F.max("vec_id")).first()[0] // 2
        sd.apply_batch(qv.filter(F.col("vec_id") <= mid), 0, root)
        sd.apply_batch(qv.filter(F.col("vec_id") > mid), 1, root)

    built_once(root, build)


@query("semdedup_incremental", oracle=_SEMDEDUP_INC_ORACLE)
def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup at ingest (streaming/dedup.
    StreamingSemDedup): embeddings arrive in two batches; each batch is
    cell-assigned once, compared only against the KEPT vectors already
    stored in its own cells (partition-pruned cogroup) plus
    earlier-in-batch keeps, survivors append to the store. Greedy-prefix
    law (drop v iff cos(v, kept u) ≥ τ, ids ascending) — the incremental
    form of SemDeDup's keep-first policy; per-batch cost is
    cell-density-bound, never corpus². ORACLE-CHECKED since r14 (was
    rows-only): the r13 recursive-CTE greedy oracle of the banded-LSH
    twin ports directly because per-cell greedy ≡ global greedy-prefix
    over the same-cell pair graph (see _SEMDEDUP_INC_ORACLE's note);
    exact equivalence to a python greedy reference + replay idempotency
    remain pytest-proven in tests/test_streaming.py. Returns the
    dropped vec_ids."""
    from polar_spark.streaming.dedup import StreamingSemDedup

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    root = artifact_root(spark, sf_dir, "semdedup_inc", ["embeddings"])
    sd = StreamingSemDedup(
        spark, os.path.join(root, "idx"), os.path.join(root, "drops"),
        cents, tau_sq_pct=1600,
    )
    _apply_halves_once(sd, qv, root)
    out = sd.dropped().orderBy("vec_id")
    qv.unpersist()
    return out


@query(
    "dedup_embedding_cosine",
    oracle=_BUCKETS_CTE
    + """
, j AS (
  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
    CAST(list_sum(list_transform(range(1, 65), i -> ca.v[i] * cb.v[i])) AS DOUBLE)
     / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> ca.v[i] * ca.v[i])) AS DOUBLE))
      * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> cb.v[i] * cb.v[i])) AS DOUBLE))) AS cosine
  FROM b ba JOIN b bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id
  JOIN c ca ON ca.vec_id = ba.vec_id JOIN c cb ON cb.vec_id = bb.vec_id
)
SELECT id_a, id_b, cosine FROM j WHERE cosine >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
    prefilter (only same-bucket pairs ever join — O(n·avg bucket), never
    O(n²)), then exact integer-dot cosine verification ≥ 0.35.

    Norms are computed once per VECTOR before the pair stage (sq_norm),
    not once per pair — at 100 TB a hot bucket of b vectors does b² pair
    dots but only b norm passes. cosine = dot/(√na²·√nb²) in double:
    exact int64 sums + correctly-rounded IEEE sqrt/div, bit-identical
    to the oracle's per-pair formula.

    Physical shape (r13 round, guide §2.3/§4.2): ONE narrow pass
    (id, v, bucket, n2), one hash exchange on ``bucket``, and a chunked
    numpy kernel scoring each bucket's pairs — replacing a self-join
    that scanned the corpus and ran the bucket/norm UDFs once PER SIDE,
    shuffled two 64-int payloads per pair, and evaluated the per-pair
    dot UDF twice (once under the threshold filter, once in the output
    projection — the guide §4.4 duplication)."""
    from polar_spark.functions.similarity import bucketed_cosine_pairs

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    return bucketed_cosine_pairs(qv, dims=64, threshold=0.35)


@query(
    "embedding_lsh_buckets",
    oracle=f"""
WITH c AS (
  SELECT vec_id, {_QV} AS qv FROM embeddings
), proj AS (
  SELECT vec_id, p,
    SUM((strpos('0123456789abcdef', substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 9) * qv[i]) AS s
  FROM c
  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
  GROUP BY vec_id, p
), b AS (
  SELECT vec_id, string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id
)
SELECT bucket, COUNT(*) AS n_vecs FROM b GROUP BY bucket
""",
)
def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane LSH bucketing (8 md5-derived planes → sign bits): the
    scale path that shrinks ANN candidate sets ~256× before scoring."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id", lsh_bucket(quantize("embedding"), dims=64).alias("bucket")
    )
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vecs"))


# Banded sign-LSH cells shared by the two semdedup-LSH queries below:
# 16 bands × 4 planes over one 64-plane md5-derived family (band =
# plane // 4). The τ = 0.4 operating point of this synthetic corpus
# needs shorter bands than the τ = 0.95 default (per-plane agreement
# p₁ ≈ 0.63 at θ ≈ 66°: a 4-plane band fires at 0.63⁴ ≈ 0.16, and 16
# bands give ~94% expected pair recall — measured exactly by the
# recall query, never assumed).
_SEMLSH_BANDS, _SEMLSH_R = 16, 4

_SEMLSH_CTE = f"""
WITH c AS (
  SELECT vec_id, {_QV} AS v FROM embeddings
), proj AS (
  SELECT vec_id, p,
    SUM((strpos('0123456789abcdef', substr(md5(p::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 9) * v[i]) AS s
  FROM c
  CROSS JOIN (SELECT unnest(range(0, {_SEMLSH_BANDS * _SEMLSH_R})) AS p) ps
  CROSS JOIN (SELECT unnest(range(1, 65)) AS i) idx
  GROUP BY vec_id, p
), bb AS (
  SELECT vec_id, CAST(p // {_SEMLSH_R} AS INT) AS band,
    string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM proj GROUP BY vec_id, p // {_SEMLSH_R}
), cand AS (
  SELECT DISTINCT ba.vec_id AS id_a, bd.vec_id AS id_b
  FROM bb ba JOIN bb bd
    ON ba.band = bd.band AND ba.bucket = bd.bucket AND ba.vec_id < bd.vec_id
), nn AS (
  SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM c
)
"""


@query(
    "semdedup_lsh_prune",
    oracle=_SEMLSH_CTE
    + """
, verified AS (
  SELECT cand.id_a, cand.id_b,
    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS d,
    a.n2 AS na2, b.n2 AS nb2
  FROM cand JOIN nn a ON a.vec_id = cand.id_a JOIN nn b ON b.vec_id = cand.id_b
)
SELECT DISTINCT id_b AS drop_id FROM verified
WHERE d > 0 AND 10000 * (CAST(d AS HUGEINT) * d) >= 1600 * (CAST(na2 AS HUGEINT) * nb2)
""",
)
def semdedup_lsh_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with banded sign-LSH cells — the corpus-proportional
    cell-count scale path (functions/similarity.semdedup_lsh_drop_ids).

    The k-means-cell twin (`semdedup_embedding_prune`) is quadratic at
    a FIXED codebook (Σ|cell|² with 16 cells is n²/16) and growing the
    codebook with n makes assignment the n·nlist quadratic instead;
    banded LSH cells grow with data diversity, assignment is one linear
    matmul, and candidate volume follows the n^(1+ρ) LSH bound
    (ρ ≈ 0.15 at the published τ = 0.95). Precision is exact (every
    candidate verified with the same integer threshold test — the drop
    set is a subset of the exact all-pairs one); recall is the banded
    complement measured by `semdedup_recall_lsh_vs_exact`."""
    from polar_spark.functions.similarity import semdedup_lsh_drop_ids

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    return semdedup_lsh_drop_ids(
        qv,
        dims=64,
        bands=_SEMLSH_BANDS,
        planes_per_band=_SEMLSH_R,
        tau_sq_pct=1600,
    )


@query(
    "semdedup_lsh_stored",
    oracle=_SEMLSH_CTE
    + """
, verified AS (
  SELECT cand.id_a, cand.id_b,
    CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS d,
    a.n2 AS na2, b.n2 AS nb2
  FROM cand JOIN nn a ON a.vec_id = cand.id_a JOIN nn b ON b.vec_id = cand.id_b
)
SELECT DISTINCT id_b AS drop_id FROM verified
WHERE d > 0 AND 10000 * (CAST(d AS HUGEINT) * d) >= 1600 * (CAST(na2 AS HUGEINT) * nb2)
""",
)
def semdedup_lsh_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a MATERIALIZED banded-LSH index
    (sources/semlsh_index): vectors are exploded to (band, bucket) rows
    once at ingest and stored as a bucketed catalog table, so the
    verify runs partition-locally with NO vector payload in any
    query-time shuffle (the only Exchange is the final ids-only
    distinct — plan-asserted in tests/test_semlsh_index.py). Same
    bands/planes/τ as `semdedup_lsh_prune`, same oracle: proving
    stored-index verify ≡ shuffle verify end-to-end through the
    ingest→bucketed-read→grouped-verify path. This is the physical
    plan that removes the 4M-vector verify-shuffle wall recorded in
    DECADES_r10_semdedup.json."""
    from polar_spark.sources.semlsh_index import (
        semdedup_lsh_drop_ids_stored,
        write_semlsh_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    # ingest step: built once per input fingerprint — narrow one-pass
    # write locally; in production the ingest pipeline owns this and
    # queries only read (same contract as knn_ivf_stored_cells). The
    # table is named after the root and its data lives under it, so a
    # rebuilt root rebinds the table.
    root = artifact_root(spark, sf_dir, "semlsh_idx", ["embeddings"])
    table = os.path.basename(root)
    built_once(
        root,
        lambda: write_semlsh_index(
            qv,
            table,
            dims=64,
            bands=_SEMLSH_BANDS,
            planes_per_band=_SEMLSH_R,
            path=os.path.join(root, "index"),
        ),
    )
    return semdedup_lsh_drop_ids_stored(spark, table, tau_sq_pct=1600)


@query(
    "semdedup_recall_lsh_vs_exact",
    oracle=_SEMLSH_CTE
    + """
, exact_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM nn a JOIN nn b ON a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) > 0
    AND 10000 * (CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS HUGEINT)
         * CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT))
        >= 1600 * (CAST(a.n2 AS HUGEINT) * b.n2)
), found_pairs AS (
  SELECT e.id_a, e.id_b FROM exact_pairs e
  JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
)
SELECT
  (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
  (SELECT COUNT(*) FROM found_pairs) AS n_found,
  (SELECT COUNT(*) FROM exact_pairs) - (SELECT COUNT(*) FROM found_pairs) AS n_missed,
  CAST((100 * (SELECT COUNT(*) FROM found_pairs))
       // greatest((SELECT COUNT(*) FROM exact_pairs), 1) AS INT) AS recall_pct
""",
)
def semdedup_recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup EVALUATION: pair recall of the banded sign-LSH
    candidate generator against exhaustive exact ground truth at the
    same τ — the embedding twin of `dedup_recall_lsh_vs_exact`.

    Ground truth is the full all-pairs threshold sweep, built as a
    SALTED equi-join (never a CartesianProduct plan): side A keys each
    row by ``id_a % 32``, side B replicates each row to all 32 salts,
    so pair GENERATION itself spreads across 32 tasks instead of one
    constant-key task materializing every pair (ADVICE r10) — an
    EVAL-scale tool by construction (the thing LSH exists to avoid at
    corpus scale)."""
    from polar_spark.functions.similarity import lsh_band_buckets

    _SALT = 32
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    feat = qv.withColumn("n2", sq_norm(F.col("v")))
    fa = feat.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("n2").alias("na2"),
        (F.col("vec_id") % _SALT).alias("s"),
    )
    fb = feat.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n2").alias("nb2"),
        F.explode(F.array([F.lit(i) for i in range(_SALT)])).alias("s"),
    )
    d = F.col("d").cast("decimal(38,0)")
    exact = (
        fa.join(fb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("d", dot(F.col("va"), F.col("vb")))
        .filter(
            (F.col("d") > 0)
            & (
                d * d * F.lit(10000)
                >= F.col("na2").cast("decimal(38,0)")
                * F.col("nb2")
                * F.lit(1600)
            )
        )
        .select("id_a", "id_b")
    )
    k = qv.select(
        "vec_id",
        F.posexplode(
            lsh_band_buckets("v", 64, _SEMLSH_BANDS, _SEMLSH_R)
        ).alias("band", "bucket"),
    )
    ka = k.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    kb = k.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    cands = (
        ka.join(kb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    flags = exact.join(
        cands.withColumn("_hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum(F.coalesce(F.col("_hit"), F.lit(0))), F.lit(0))
        .cast("bigint")
        .alias("n_found"),
    ).select(
        "n_exact",
        "n_found",
        (F.col("n_exact") - F.col("n_found")).alias("n_missed"),
        F.floor(
            (F.lit(100) * F.col("n_found"))
            / F.greatest(F.col("n_exact"), F.lit(1))
        )
        .cast("int")
        .alias("recall_pct"),
    )


@query(
    "semdedup_lsh_incremental",
    oracle=_SEMLSH_CTE.replace("WITH c AS", "WITH RECURSIVE c AS", 1)
    + """
, vp AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the recursive CTE below references
  -- vp once per iteration, and without the hint DuckDB re-inlines the
  -- whole banded pipeline (projections, bucket join, verify) into
  -- every one of the ~|dids| iterations — minutes instead of seconds
  SELECT cand.id_a, cand.id_b
  FROM cand JOIN nn a ON a.vec_id = cand.id_a JOIN nn b ON b.vec_id = cand.id_b
  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) > 0
    AND 10000 * (CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT) AS HUGEINT)
         * CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) AS BIGINT))
        >= 1600 * (CAST(a.n2 AS HUGEINT) * b.n2)
), dids AS (
  SELECT DISTINCT id FROM (SELECT id_a AS id FROM vp UNION SELECT id_b FROM vp)
), ordered AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM dids
), greedy(rn, kept_ids) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT o.rn,
    CASE WHEN EXISTS (SELECT 1 FROM vp p
                      WHERE p.id_b = o.id AND list_contains(g.kept_ids, p.id_a))
         THEN g.kept_ids
         ELSE list_append(g.kept_ids, CAST(o.id AS BIGINT)) END
  FROM greedy g JOIN ordered o ON o.rn = g.rn + 1
)
SELECT id AS vec_id FROM dids
WHERE NOT list_contains((SELECT kept_ids FROM greedy ORDER BY rn DESC LIMIT 1), id)
""",
)
def semdedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup over banded sign-LSH buckets
    (streaming/dedup.StreamingSemDedupLSH): embeddings arrive in two
    id-ordered micro-batches; each batch's candidates come from a
    banded bucket join against the KEPT store (per-trigger pair work
    O(batch·bands + true dups) — the corpus-proportional fix for the
    IVF-cell form's O(batch·corpus/nlist) cogroup), verified with the
    exact integer threshold, survivors append. Returns the dropped
    vec_ids.

    This is the first ORACLE-CHECKED greedy-prefix dedup in the
    registry: the greedy scan was classed "no ANSI-SQL form" for the
    IVF variant (`semdedup_incremental`), but the law IS expressible by
    id-stratified recursion — the DuckDB oracle rebuilds the banded
    candidate pairs, then folds ids in ascending order through a
    recursive CTE carrying the kept set (drop v iff a verified partner
    a < v is itself kept). Stream ≡ batch-greedy equivalence (what
    makes one oracle serve both) is the pytest-pinned law in
    tests/test_streaming.py."""
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    root = artifact_root(spark, sf_dir, "semlsh_inc", ["embeddings"])
    sd = StreamingSemDedupLSH(
        spark, os.path.join(root, "idx"), os.path.join(root, "drops"),
        dims=64, bands=_SEMLSH_BANDS, planes_per_band=_SEMLSH_R,
        tau_sq_pct=1600,
    )
    _apply_halves_once(sd, qv, root)
    out = sd.dropped().orderBy("vec_id")
    qv.unpersist()
    return out


@query(
    "embedding_norm_stats",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
    sqrt(CAST(CAST(list_sum(list_transform({_QV}, x -> x * x)) AS BIGINT) AS DOUBLE))
      AS norm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
  MIN(norm) AS min_norm, MAX(norm) AS max_norm
FROM q GROUP BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus (normalization
    sanity check before cosine/IVF): norms from exact int64 squared sums
    via sq_norm (one Arrow matmul per batch), sqrt correctly rounded —
    bit-identical across engines; min/max aggregation avoids
    order-dependent float sums."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        F.sqrt(sq_norm(quantize("embedding")).cast("double")).alias("norm"),
    )
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("norm").alias("min_norm"),
        F.max("norm").alias("max_norm"),
    )


@query(
    "embedding_outlier_centroid",
    oracle=f"""
WITH c AS (
  SELECT vec_id, label, {_QV} AS v FROM embeddings
), x AS (
  SELECT vec_id, label, i AS dim, v[i] AS x
  FROM c, (SELECT unnest(range(1, 65)) AS i) idx
), cent AS (
  SELECT label, dim,
    CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
  FROM x GROUP BY label, dim
), d2 AS (
  SELECT vec_id, x.label,
    CAST(SUM((x - cx) * (x - cx)) AS BIGINT) AS dist2
  FROM x JOIN cent ON x.label = cent.label AND x.dim = cent.dim
  GROUP BY vec_id, x.label
)
SELECT vec_id, label, dist2 FROM d2 ORDER BY dist2 DESC, vec_id LIMIT 20
""",
)
def embedding_outlier_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality outlier detection: the 20 vectors farthest
    (L2², quantized-exact) from their label's centroid — the standard
    mislabeled/garbage-embedding sweep before training.

    Scale shape (r13 optimization round — the same per-partition
    integer-partials kernel as the Lloyd trainers, change #13; the
    former form posexploded the corpus into corpus×dims rows TWICE and
    pushed one copy through a broadcast join + re-aggregation): one
    narrow Arrow pass accumulates exact per-label integer sums/counts
    per partition (O(parts·labels·dims) partial rows — never
    corpus-sized), a labels·dims-bounded aggregation floors the
    centroids, and the per-vector distance is one Arrow squared-L2
    kernel after a broadcast join of the labels-sized centroid-array
    table → TakeOrdered top-20 (no global sort). Fully lazy — no
    construction-time job. Centroid = floor(sum/count) with the
    division in double: both engines floor the same correctly-rounded
    quotient of exact int64s, so results are bit-identical (null-label
    vectors drop at the join, null-vector rows contribute nothing —
    both exactly as the old join/explode semantics)."""
    import numpy as np
    import pandas as pd

    from polar_spark.functions.similarity import _mat, sq_dist

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", "label", quantize("embedding").alias("v"))

    def _stats(it):
        sums: dict = {}
        counts: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            # null labels are masked out too (ADVICE r13): their rows
            # drop at the centroid join anyway, and NaN dict keys have
            # identity-equality subtleties that could split one
            # null-label group across entries — skip the wasted work
            mask = pdf["v"].notna() & pdf["label"].notna()
            for label, grp in pdf[mask].groupby("label", dropna=False):
                V = _mat(grp["v"])
                key = label
                if key in sums:
                    sums[key] += V.sum(axis=0)
                    counts[key] += len(V)
                else:
                    sums[key] = V.sum(axis=0).astype("int64")
                    counts[key] = len(V)
        if sums:
            yield pd.DataFrame(
                {
                    "label": list(sums),
                    "n": np.array([counts[k] for k in sums], dtype="int64"),
                    "sums": [s.tolist() for s in sums.values()],
                }
            )

    label_t = q.schema["label"].dataType.simpleString()
    partials = q.select("label", "v").mapInPandas(
        _stats, f"label {label_t}, n long, sums array<long>"
    )
    cent = (
        partials.select(
            "label", "n", F.posexplode("sums").alias("dim0", "s")
        )
        .groupBy("label", "dim0")
        .agg(
            # floor(double(Σs) / double(Σn)) — the identical IEEE op
            # sequence the old per-(label, dim) Spark aggregate evaluated
            F.floor(F.sum("s").cast("double") / F.sum("n")).alias("cx")
        )
    )
    cents_arr = cent.groupBy("label").agg(
        # explicit bigint cast (ADVICE r13): keeps sq_dist's int-only
        # contract honest — floored values are integral today, but the
        # kernel's astype(int64) would silently truncate any future
        # non-integral value instead of erroring (mirrors the oracle's
        # CAST(... AS BIGINT))
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim0", "cx"))),
            lambda st: st["cx"],
        ).cast("array<bigint>").alias("cv")
    )
    d2 = (
        q.filter(F.col("v").isNotNull())
        .join(F.broadcast(cents_arr), "label")
        .select("vec_id", "label", sq_dist("v", "cv").alias("dist2"))
    )
    return d2.orderBy(F.col("dist2").desc(), "vec_id").limit(20)


@query(
    "embedding_coverage_by_source",
    oracle="""
SELECT d.source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded,
  CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS coverage,
  MIN(CASE WHEN e.vec_id IS NULL THEN d.doc_id END) AS first_missing_doc
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.source
""",
)
def embedding_coverage_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table pipeline integrity: per source, how much of the
    corpus has an embedding row (docs join embeddings on id), plus the
    first missing doc id — the is-everything-embedded sweep run before
    any training job. Left join with the embedding side broadcast
    (id-only projection): the corpus never shuffles."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(F.broadcast(e), d.doc_id == e.vec_id, "left")
    has = F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(has).cast("bigint").alias("n_embedded"),
        (F.sum(has).cast("double") / F.count(F.lit(1))).alias("coverage"),
        F.min(F.when(F.col("vec_id").isNull(), F.col("doc_id"))).alias(
            "first_missing_doc"
        ),
    )


@query(
    "knn_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, {_QV} AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, label, {_QV} AS cv FROM embeddings
), dots AS (
  SELECT qid, vec_id, label,
    CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS BIGINT) AS dot
  FROM q, c WHERE vec_id <> qid AND label <> qlabel
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn
  FROM dots
)
SELECT qid, vec_id, label, dot, rn FROM ranked WHERE rn <= 5
""",
)
def knn_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each anchor's
    top-5 most-similar vectors with a DIFFERENT label (the
    in-batch-negatives upgrade every embedding-model pipeline runs).
    The label exclusion is applied INSIDE the vectorized brute-force
    scan (one elementwise compare per Arrow batch, never a join), so the
    scale shape is identical to knn_bruteforce_dot: candidates scanned
    once, no shuffle before the O(parts·k·|Q|) top-k merge."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        quantize("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cands = e.select("vec_id", "label", quantize("embedding").alias("cv"))
    return brute_force_topk(
        queries, cands, k=5, exclude_on=("qlabel", "label")
    ).select("qid", "vec_id", "label", "dot", "rn")


_KM_HV = """list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(vec_id::VARCHAR), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> acc * 16 + d)"""

_KM_DIST = (
    "CAST(list_sum(list_transform(range(1, 65),"
    " j -> (q.v[j] - i.c[j]) * (q.v[j] - i.c[j]))) AS BIGINT)"
)


def _km_assign_sql(cent_cte: str) -> str:
    return f"""
  SELECT vec_id, v, cl, d FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn FROM (
      SELECT q.vec_id, q.v, i.cl, {_KM_DIST} AS d
      FROM qv q CROSS JOIN {cent_cte} i))
  WHERE rn = 1"""


@query(
    "kmeans_lloyd_quantized",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, {_QV} AS v, {_KM_HV} AS hv FROM embeddings
), init AS (
  SELECT v AS c, ROW_NUMBER() OVER (ORDER BY hv, vec_id) - 1 AS cl
  FROM qv QUALIFY ROW_NUMBER() OVER (ORDER BY hv, vec_id) <= 8
), a1 AS ({_km_assign_sql("init")}
), sums AS (
  SELECT cl, j, SUM(v[j]) AS s, COUNT(*) AS n
  FROM a1 CROSS JOIN range(1, 65) t(j) GROUP BY cl, j
), cent2 AS (
  SELECT cl, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY j) AS c
  FROM sums GROUP BY cl
), a2 AS ({_km_assign_sql("cent2")}
)
SELECT CAST(cl AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(d) AS BIGINT) AS ssd
FROM a2 GROUP BY cl
""",
)
def kmeans_lloyd_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-arithmetic Lloyd k-means (Lloyd 1982), two fixed
    iterations, k=8, over the quantized int64 embeddings: deterministic
    init (the 8 vectors with the smallest md5(vec_id) hashes), integer
    squared-L2 assignment, floor-of-mean centroid updates — every step
    a pure function of the data, so the FULL iterative algorithm is
    value-hash-checked by a DuckDB oracle (upgrading the evidence class
    of the k-means family: `knn_ivf_trained`'s open-iteration float
    codebook remains rows-only by design; this query pins the same
    Lloyd mechanics exactly).

    Scale (the 100 TB shape for one Lloyd pass): the ASSIGNMENT is a
    zero-shuffle narrow pass — the k×d centroid model rides each task as
    an Arrow-kernel closure (the same ``_d2_matrix``/first-min-argmin
    kernel every ANN operator uses; exact int64 squared-L2, ties →
    lowest cl, identical to the oracle's ``ORDER BY d, cl``), so the
    corpus streams with no join, no window, no expansion; the UPDATE
    and the final per-cluster stats each move only O(parts·k·d) /
    O(parts·k) integer partials — corpus×dims rows never exist at all
    (r13 optimization round: the former interpreted ``F.aggregate`` fold
    re-evaluated a 64-term zip_with TWICE per centroid per row, and the
    update posexploded the corpus — guide §4.1/§4.2); the two
    driver-side actions are bounded (top-8 TakeOrdered init, the k×64
    partial-sum table). Iterations are fixed so the plan stays static
    and oracle-expressible.
    """
    import math

    import numpy as np
    import pandas as pd

    from polar_spark.functions.similarity import (
        _centroid_arrays,
        _d2_matrix,
        _mat,
    )

    K, D = 8, 64
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select(
        "vec_id",
        quantize("embedding").alias("v"),
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    init_rows = qv.orderBy("hv", "vec_id").limit(K).select("v").collect()
    cents = [(cl, [int(x) for x in r["v"]]) for cl, r in enumerate(init_rows)]

    # --- iteration 1: per-cell integer sums/counts in ONE Arrow pass ---
    cids1, C1 = _centroid_arrays(cents)
    k1 = len(cids1)

    def _stats(it):
        S = np.zeros((k1, D), dtype=np.int64)
        N = np.zeros(k1, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            V = _mat(pdf["v"])
            a = np.argmin(_d2_matrix(V, C1), axis=1)
            np.add.at(S, a, V)
            N += np.bincount(a, minlength=k1)
        nz = np.nonzero(N)[0]
        if nz.size:
            yield pd.DataFrame(
                {
                    "i": nz.astype("int64"),
                    "n": N[nz],
                    "sums": [S[j].tolist() for j in nz],
                }
            )

    parts = qv.select("v").mapInPandas(
        _stats, "i long, n long, sums array<long>"
    ).collect()
    by_cl: dict[int, list[int]] = {}
    n_cl: dict[int, int] = {}
    for r in parts:
        cl = int(cids1[int(r["i"])])
        if cl in by_cl:
            acc = by_cl[cl]
            for j, x in enumerate(r["sums"]):
                acc[j] += int(x)
            n_cl[cl] += int(r["n"])
        else:
            by_cl[cl] = [int(x) for x in r["sums"]]
            n_cl[cl] = int(r["n"])
    # floor of IEEE double division — identical in Spark/DuckDB/Python
    # (house precedent: embedding_outlier_centroid's oracle)
    cents2 = [
        (cl, [int(math.floor(by_cl[cl][j] / n_cl[cl])) for j in range(D)])
        for cl in sorted(by_cl)
    ]

    # --- iteration 2 (the returned, LAZY plan): assign + per-cluster
    # (count, Σd) partials per partition, then a k-row aggregation ---
    cids2, C2 = _centroid_arrays(cents2)
    k2 = len(cids2)

    def _final(it):
        n = np.zeros(k2, dtype=np.int64)
        sd = np.zeros(k2, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            V = _mat(pdf["v"])
            d2 = _d2_matrix(V, C2)
            a = np.argmin(d2, axis=1)
            n += np.bincount(a, minlength=k2)
            np.add.at(sd, a, d2[np.arange(len(a)), a])
        nz = np.nonzero(n)[0]
        if nz.size:
            yield pd.DataFrame(
                {
                    "cl": cids2[nz],
                    "n": n[nz],
                    "sd": sd[nz],
                }
            )

    return (
        qv.select("v")
        .mapInPandas(_final, "cl long, n long, sd long")
        .groupBy(F.col("cl").cast("int").alias("cluster"))
        .agg(
            F.sum("n").alias("n_points"),
            F.sum("sd").cast("bigint").alias("ssd"),
        )
    )


_RECALL_ORACLE = f"""
WITH c0 AS (SELECT vec_id, {_QV} AS v FROM embeddings),
qx AS (SELECT vec_id AS qid, v AS qv FROM c0 WHERE vec_id < 10),
exd AS (
  SELECT qid, vec_id,
    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i])) AS BIGINT) AS dot
  FROM qx, c0 WHERE vec_id <> qid
), exr AS (
  SELECT qid, vec_id,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn
  FROM exd
), exact5 AS (SELECT qid, vec_id FROM exr WHERE rn <= 5),
cent AS (SELECT vec_id AS cid, v AS cv FROM c0 WHERE vec_id < {NLIST}),
asg AS (
  SELECT vec_id, v, cid AS cell FROM (
    SELECT a.vec_id, a.v, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        list_sum(list_transform(range(1, 65), i -> (a.v[i] - cent.cv[i]) * (a.v[i] - cent.cv[i]))), cent.cid) AS r
    FROM c0 a CROSS JOIN cent) t WHERE r = 1
), probe AS (
  SELECT qid, qv, cid AS cell FROM (
    SELECT qx.qid, qx.qv, cent.cid,
      ROW_NUMBER() OVER (PARTITION BY qx.qid ORDER BY
        list_sum(list_transform(range(1, 65), i -> (qx.qv[i] - cent.cv[i]) * (qx.qv[i] - cent.cv[i]))), cent.cid) AS r
    FROM qx CROSS JOIN cent) t WHERE r <= {NPROBE}
), ivd AS (
  SELECT probe.qid, asg.vec_id,
    CAST(list_sum(list_transform(range(1, 65), i -> probe.qv[i] * asg.v[i])) AS BIGINT) AS dot
  FROM probe JOIN asg USING (cell) WHERE asg.vec_id <> probe.qid
), ivr AS (
  SELECT qid, vec_id,
    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS rn
  FROM ivd
), ivf5 AS (SELECT qid, vec_id FROM ivr WHERE rn <= 5),
hits AS (
  SELECT i.qid, COUNT(*) AS n
  FROM ivf5 i JOIN exact5 ex ON i.qid = ex.qid AND i.vec_id = ex.vec_id
  GROUP BY i.qid
)
SELECT qx.qid, CAST(coalesce(hits.n, 0) AS INT) AS n_hits,
  CAST(coalesce(hits.n, 0) * 20 AS INT) AS recall_pct
FROM qx LEFT JOIN hits ON qx.qid = hits.qid
"""


@query("ann_recall_ivf_vs_exact", oracle=_RECALL_ORACLE)
def ann_recall_ivf_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION as a first-class exact operator: per-query
    recall@5 of the IVF probe against the brute-force ground truth —
    the measurement every retrieval/dedup pipeline must run before
    trusting an approximate index at 100 TB. Both rankers are
    deterministic integer machines, so the recall itself is
    value-hash-checked (n_hits = |ivf∩exact| per query, recall_pct =
    n_hits·20).

    Scale: ground truth costs one brute-force pass over the EVAL query
    sample only (|Q| small by design — recall is estimated on a sample,
    the standard protocol); the IVF side is the probed-cells plan. The
    set intersection is a |Q|·k-row semi join — nothing corpus-sized
    meets anything corpus-sized except inside the two rankers
    themselves."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cands = qv.select("vec_id", F.col("v").alias("cv"))
    exact5 = brute_force_topk(queries, cands, k=5).select("qid", "vec_id")
    ivf5 = ivf_topk(queries, cands, cents, k=5).select("qid", "vec_id")
    hits = (
        ivf5.join(exact5, ["qid", "vec_id"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        queries.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce(F.col("n"), F.lit(0)) * 20).cast("int").alias("recall_pct"),
        )
    )
