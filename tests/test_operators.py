"""Unit tests for reusable operators and LLM-pipeline functions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polar_spark.functions.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    verified_near_dups,
)
from polar_spark.functions.multimodal import (
    attach_blob,
    decode_image_features,
    frame_sample,
)
from polar_spark.functions.similarity import (
    brute_force_topk,
    cosine,
    lsh_bucket,
    quantize,
)
from polar_spark.operators.asof import asof_join
from polar_spark.operators.sessionize import sessionize
from polar_spark.sources.tables import load_table


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "t1"),
            (1, _ts("2024-01-01T12:00:00"), "t2"),
            (2, _ts("2024-01-01T09:00:00"), "t3"),
        ],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T09:30:00"), 100),
            (1, _ts("2024-01-01T11:00:00"), 200),
            (1, _ts("2024-01-01T12:00:00"), 300),  # equal ts: must match t2
            (2, _ts("2024-01-01T09:30:00"), 400),  # after left: no match
        ],
        "k int, rts timestamp, v int",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                    right_cols=["v"], tiebreak="v").collect()
    by_tag = {r["tag"]: r for r in out}
    assert by_tag["t1"]["right_v"] == 100
    assert by_tag["t2"]["right_v"] == 300  # equal-ts right row matches
    assert by_tag["t3"]["right_v"] is None  # nothing at-or-before


def test_sessionize_gap_boundaries(spark):
    rows = [
        (1, _ts("2024-01-01T10:00:00")),
        (1, _ts("2024-01-01T10:29:59")),  # within 30min gap → same session
        (1, _ts("2024-01-01T11:00:00")),  # 30:01 later → wait, 31:01? no: 10:29:59+30m=10:59:59 <11:00 → new
        (2, _ts("2024-01-01T10:00:00")),
    ]
    df = spark.createDataFrame(rows, "user int, ts timestamp")
    out = sessionize(df, "user", "ts", gap_seconds=1800).collect()
    sess = {(r["user"], r["ts"].isoformat()): r["session_id"] for r in out}
    assert sess[(1, "2024-01-01T10:00:00")] == 1
    assert sess[(1, "2024-01-01T10:29:59")] == 1
    assert sess[(1, "2024-01-01T11:00:00")] == 2
    assert sess[(2, "2024-01-01T10:00:00")] == 1


def test_exact_gap_is_same_session(spark):
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00")), (1, _ts("2024-01-01T10:30:00"))],
        "user int, ts timestamp",
    )
    out = sessionize(df, "user", "ts", gap_seconds=1800).collect()
    assert {r["session_id"] for r in out} == {1}  # gap == threshold: same


def test_lsh_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words with no overlap whatsoever in any shingle"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    verified = verified_near_dups(df, "doc_id", "text", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in verified] == [(1, 2)]


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.99).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0


def test_simhash_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")],
        "doc_id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_pairs(df, "doc_id", "text", max_hamming=64).collect()}
    assert out[(1, 2)] == 0


def test_simhash_replica_corpus_matches_brute_force(spark):
    """Pin the two-stage (signature-collapse → blocked-LSH) pipeline
    against brute-force all-pairs Hamming on a corpus dominated by
    exact-duplicate groups — the shape the collapse stage exists for.
    Rotated texts share a word multiset, so replicas 0-9 of each base
    doc collapse into ONE signature group; cross-group near-dups must
    still surface through the block join."""
    from polar_spark.functions.dedup import simhash_signatures

    bases = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "entirely different subject matter about distributed query engines",
    ]
    rows = []
    for b_idx, text in enumerate(bases):
        words = text.split(" ")
        for rep in range(4):
            rot = words[rep:] + words[:rep]  # same multiset → same signature
            rows.append((b_idx * 10 + rep, " ".join(rot)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    sigs = {r["id"]: r["sim"] for r in
            simhash_signatures(df, "doc_id", "text").collect()}
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
            if h <= 8:
                want[(a, b)] = h
    assert got == want
    # sanity on the shape itself: replicas collapsed (hamming 0 inside
    # each base), and the near-dup base pair (0, 1) crossed groups
    assert got[(0, 1)] == 0 and got[(0, 3)] == 0
    assert any(a < 10 <= b for (a, b) in got), "cross-group pair missing"
    # the disjoint-subject base (docs 20-23) must not pair with the rest
    assert not any(a < 20 <= b for (a, b) in got)


def test_brute_force_topk_query_cap(spark, sf_dir):
    """|Q| beyond the driver-collect cap must raise, not OOM the driver
    (VERDICT r2 "What's wrong" #4)."""
    import pytest

    from polar_spark.functions import similarity as sim

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.select(F.col("vec_id").alias("qid"), quantize("embedding").alias("qv"))
    cands = e.select("vec_id", quantize("embedding").alias("cv"))
    old = sim.MAX_BRUTE_FORCE_QUERIES
    sim.MAX_BRUTE_FORCE_QUERIES = 3  # cap below the testdata query count
    try:
        with pytest.raises(ValueError, match="ivf_topk"):
            brute_force_topk(queries, cands, k=3)
    finally:
        sim.MAX_BRUTE_FORCE_QUERIES = old


def test_quantized_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), quantize("embedding").alias("qv")
    )
    cands = e.select("vec_id", quantize("embedding").alias("cv"))
    got = {
        (r["qid"], r["rn"]): r["vec_id"]
        for r in brute_force_topk(queries, cands, k=3).collect()
    }
    rows = e.collect()
    M = np.floor(np.array([r["embedding"] for r in rows], dtype=np.float64) * 10000)
    ids = np.array([r["vec_id"] for r in rows])
    for q in range(3):
        qi = list(ids).index(q)
        dots = (M @ M[qi]).astype(np.int64)
        order = sorted(
            [(d, i) for d, i in zip(dots, ids) if i != q], key=lambda t: (-t[0], t[1])
        )
        for rank in range(3):
            assert got[(q, rank + 1)] == order[rank][1]


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    out = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert out[0]["c"] == pytest.approx(1.0)
    assert out[1]["c"] == pytest.approx(0.0)


def test_lsh_bucket_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(20)
    b1 = e.select("vec_id", lsh_bucket(quantize("embedding"), 64).alias("b")).collect()
    b2 = e.select("vec_id", lsh_bucket(quantize("embedding"), 64).alias("b")).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
    assert all(len(r["b"]) == 8 and set(r["b"]) <= {"0", "1"} for r in b1)


def test_multimodal_decode_plumbing(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    blobs = attach_blob(d, "doc_id", "text", mime="image/fake")
    feats = decode_image_features(blobs).collect()
    assert len(feats) == 50
    for r in feats:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 0.0 <= r["mean_luma"] <= 1.0
        assert r["nbytes"] > 0 and r["mime"] == "image/fake"
    # determinism: same input → same features
    again = decode_image_features(blobs).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_frame_sample_and_resize_plumbing(spark, sf_dir):
    """Stub codecs, real plumbing: fan-out row counts, schema, and
    determinism of the fake decode must hold batch-shape-independently."""
    from pyspark.sql import functions as F

    from polar_spark.functions.multimodal import resize_images

    d = load_table(spark, sf_dir, "documents").limit(20)
    blobs = attach_blob(d, "doc_id", "text")
    frames = frame_sample(blobs, "doc_id", "blob", every_nth=4)
    rows = frames.collect()
    assert rows and all(r["frame_idx"] % 4 == 0 for r in rows)
    # fan-out count per doc == ceil(n_frames / 4), n_frames = 1 + nbytes % 61
    expected = {
        r["doc_id"]: (1 + r["nbytes"] + 3) // 4
        for r in blobs.select(
            "doc_id", (F.octet_length("blob") % 61).alias("nbytes")
        ).collect()
    }
    got: dict[int, int] = {}
    for r in rows:
        got[r["doc_id"]] = got.get(r["doc_id"], 0) + 1
    assert got == expected

    resized = resize_images(blobs, "doc_id", "blob").collect()
    # text-derived blobs are never decodable images, so BOTH modes (PIL
    # present or absent) take the deterministic md5 fallback
    assert all(r["width"] == 224 and len(r["resized"]) == 16 for r in resized)


@pytest.mark.codec
def test_multimodal_real_image_path(spark):
    """With Pillow importable, genuine image bytes take the real codec
    (true dimensions, real resize); without it, the same call falls back
    deterministically. Runs in both modes (import-guard contract)."""
    import hashlib

    from polar_spark.functions.multimodal import (
        HAS_PIL,
        decode_image_features,
        resize_images,
    )

    if HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (40, 30), color=128).save(buf, format="PNG")
        png = buf.getvalue()
    else:
        png = b"\x89PNG\r\n\x1a\nnot-really-an-image"

    df = spark.createDataFrame(
        [(1, png, "image/png", len(png))], "doc_id long, blob binary, mime string, nbytes int"
    )
    [feat] = decode_image_features(df).collect()
    [res] = resize_images(df, "doc_id", "blob", width=8, height=8).collect()
    if HAS_PIL:
        assert (feat["width"], feat["height"]) == (40, 30)
        assert abs(feat["mean_luma"] - 128 / 255) < 0.01
        assert res["resized"][:8] == b"\x89PNG\r\n\x1a\n"  # real PNG out
    else:
        w, h, _ = (64 + png[0] % 192, 64 + png[-1] % 192, None)
        assert (feat["width"], feat["height"]) == (w, h)
        assert res["resized"] == hashlib.md5(png).digest()


def test_ivf_cells_partition_all_vectors(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import NLIST, ivf_cell, quantize
    from polar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [(r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()]
    cells = qv.select(ivf_cell("v", cents).alias("cell"))
    # every vector lands in exactly one real cell; a centroid is its own cell
    assert cells.filter((F.col("cell") < 0) | (F.col("cell") >= NLIST)).count() == 0
    own = qv.filter(F.col("vec_id") < NLIST).select(
        "vec_id", ivf_cell("v", cents).alias("cell")
    )
    assert own.filter(F.col("vec_id") != F.col("cell")).count() == 0


def test_ivf_topk_subset_of_bruteforce_with_exact_k(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.queries.registry import QUERIES

    ivf = QUERIES["knn_ivf_probe"].fn(spark, sf_dir)
    per_q = ivf.groupBy("qid").agg(F.count(F.lit(1)).alias("n"), F.max("rn").alias("mx"))
    rows = per_q.collect()
    assert len(rows) == 10 and all(r["n"] == 5 and r["mx"] == 5 for r in rows)
    # IVF neighbors are real vectors, never the query itself
    assert ivf.filter(F.col("qid") == F.col("vec_id")).count() == 0


def test_embedding_cosine_pairs_bounded_and_ordered(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.queries.registry import QUERIES

    pairs = QUERIES["dedup_embedding_cosine"].fn(spark, sf_dir)
    rows = pairs.collect()
    assert rows, "bucketed cosine near-dup should find pairs on testdata"
    assert all(r["id_a"] < r["id_b"] and 0.35 <= r["cosine"] <= 1.0 for r in rows)


def test_minhash_and_simhash_exprs_match_python_reference(spark, sf_dir):
    """The codegen signature expressions must be value-identical to the
    Pandas-UDF reference implementations."""
    from pyspark.sql import functions as F

    from polar_spark.functions import dedup as D
    from polar_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    jvm = D.minhash_signatures(docs, "doc_id", "text")
    ref = docs.select(
        "doc_id", D.minhash_signature(F.col("text")).alias("rsig")
    ).filter(F.col("rsig").isNotNull())
    j = jvm.join(ref, "doc_id")
    assert j.count() == jvm.count()
    assert j.filter(F.col("sig") != F.col("rsig")).count() == 0

    sim_jvm = D.simhash_signatures(docs, "doc_id", "text")
    sim_ref = docs.select(
        F.col("doc_id").alias("id"), D.simhash64(F.col("text")).alias("rsim")
    )
    sj = sim_jvm.join(sim_ref, "id")
    assert sj.count() == sim_ref.count()
    assert sj.filter(F.col("sim") != F.col("rsim")).count() == 0


def test_kmv_estimate_close_to_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.functions.sketches import kmv_distinct
    from polar_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_distinct(ev, ["event_type"], "user_id", k=64).collect()
    }
    assert est.keys() == exact.keys()
    for etype, n in exact.items():
        if n < 64:
            assert est[etype] == float(n)  # exact below k
        else:
            assert abs(est[etype] - n) / n < 0.4  # ~1/sqrt(64) error regime


def test_count_min_overestimates_and_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.functions.sketches import cm_counters, cm_estimate
    from polar_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    counters = cm_counters(ev, "event_type")
    est = {
        r["event_type"]: r["est_count"]
        for r in cm_estimate(
            counters, ev.select("event_type").distinct(), "event_type"
        ).collect()
    }
    n_total = sum(exact.values())
    assert est.keys() == exact.keys()
    for k, n in exact.items():
        assert est[k] >= n  # CM never underestimates
        assert est[k] <= n + n_total  # trivially bounded by total mass


def test_ngram_jaccard_hot_shingle_guard(spark):
    """A shingle present in EVERY doc would form an O(n^2) join bucket;
    max_df prunes it without losing true near-dup pairs (winnowed
    semantics: Jaccard over the pruned shingle universe)."""
    from pyspark.sql import functions as F

    boiler = "terms of service apply"
    rows = [(i, f"{boiler} unique words number {i} payload") for i in range(300)]
    # docs 0/1 are true near-dups of each other
    rows[1] = (1, rows[0][1])
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    guarded = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.9, max_df=50)
    pairs = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    assert pairs == {(0, 1)}  # the duplicate pair survives pruning

    # the hot boilerplate shingles are gone from the join input: no
    # bucket bigger than max_df can exist, so candidate row volume is
    # bounded by n*max_df, not n^2
    from polar_spark.functions.dedup import shingle_table
    sh = shingle_table(df, "doc_id", "text")
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    assert freq.filter(F.col("c") > 50).count() > 0  # pathological input is real


def test_ngram_jaccard_guard_identity_when_no_hot_shingles(spark, sf_dir):
    """On the oracle corpus no shingle exceeds the threshold, so the
    guarded operator is result-identical to the exact one."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, max_df=150
        ).collect()
    }
    assert exact == guarded


def test_salted_join_rejects_small_side_preserving_types(spark):
    import pytest

    from polar_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a")], ["k", "x"])
    small = spark.createDataFrame([(1, "b"), (2, "c")], ["k", "y"])
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, ["k"], how=how)
    # left join against a small side with unmatched rows stays exact
    got = sorted(
        (r["k"], r["y"]) for r in salted_join(big, small, ["k"], how="left").collect()
    )
    assert got == [(1, "b")]


def test_trained_ivf_codebook_probe(spark, sf_dir):
    """k-means-trained codebook: still the broadcast-probe plan, exact
    cell partition of the corpus, and better-than-random recall vs
    brute force."""
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import (
        brute_force_topk,
        ivf_cell,
        ivf_topk,
        quantize,
        train_ivf_codebook,
    )
    from polar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cb = train_ivf_codebook(qv, "v", "vec_id", nlist=32, iters=2)
    assert len(cb) == 32 and all(len(v) == 64 for _, v in cb)

    # every vector lands in exactly one in-range cell
    cells = qv.select(ivf_cell("v", cb).alias("cell"))
    assert cells.filter((F.col("cell") < 0) | (F.col("cell") >= 32)).count() == 0

    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cands = qv.select("vec_id", F.col("v").alias("cv"))
    ivf = ivf_topk(queries, cands, cb, k=5, nprobe=8)
    rows = ivf.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], set()).add(r["vec_id"])
    assert len(per_q) == 10 and all(len(s) == 5 for s in per_q.values())

    exact = brute_force_topk(queries, cands, k=5).collect()
    exact_q = {}
    for r in exact:
        exact_q.setdefault(r["qid"], set()).add(r["vec_id"])
    recall = sum(
        len(per_q[q] & exact_q[q]) for q in exact_q
    ) / sum(len(s) for s in exact_q.values())
    assert recall > 0.3  # probing 8/32 cells beats random ≈ 0.25

    # materialized inverted list (cell_col) must return identical results
    indexed = cands.withColumn("cell", ivf_cell("cv", cb))
    via_index = ivf_topk(queries, indexed, cb, k=5, nprobe=8, cell_col="cell")
    got = {(r["qid"], r["vec_id"], r["dot"]) for r in via_index.collect()}
    want = {(r["qid"], r["vec_id"], r["dot"]) for r in rows}
    assert got == want


def test_knn_ivf_trained_trains_on_the_driver(spark, sf_dir, spark_jobs, twin_plans):
    """The footer gate admits the ``sf_dir`` corpus (one file of at most
    MAX_POINTS_PER_CENTROID·nlist rows), so ``knn_ivf_trained`` trains
    with ``train_ivf_codebook_local``: its codebook equals the Spark
    trainer's, whose init collect and 2 Lloyd rounds are 3 Spark jobs,
    a call counted as bench.py counts it runs 4 jobs instead of 7, and
    its rows are the Spark plan's."""
    from polar_spark.functions.similarity import (
        MAX_POINTS_PER_CENTROID,
        quantize,
        train_ivf_codebook,
        train_ivf_codebook_local,
    )
    from polar_spark.queries import QUERIES
    from polar_spark.queries.similarity import _small_quantized_corpus

    corpus = _small_quantized_corpus(sf_dir, MAX_POINTS_PER_CENTROID * 32)
    assert corpus is not None
    qv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )
    cb, train_jobs = spark_jobs(
        lambda: train_ivf_codebook(qv, "v", "vec_id", nlist=32, iters=2)
    )
    assert len(train_jobs) == 3
    assert train_ivf_codebook_local(*corpus, nlist=32, iters=2) == cb
    _, call_jobs = spark_jobs(
        lambda: QUERIES["knn_ivf_trained"].fn(spark, sf_dir).count()  # as bench.py counts
    )
    assert len(call_jobs) == 4
    (rows, _), (want, _) = twin_plans(lambda: QUERIES["knn_ivf_trained"].fn(spark, sf_dir))
    assert rows == want


def test_chunking_covers_every_word_with_overlap(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.functions.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").limit(100)
    chunks = chunk_documents(docs, "doc_id", "text", chunk_words=64, overlap=16)
    rows = chunks.orderBy("doc_id", "chunk_idx").collect()
    orig = {r["doc_id"]: r["text"].split(" ") for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(orig)
    for doc_id, ch in by_doc.items():
        words = orig[doc_id]
        # reconstruction: chunk i starts at i*step; stitching step-sized
        # prefixes plus the last chunk's tail reproduces the document
        step = 64 - 16
        rebuilt: list[str] = []
        for r in ch:
            start = r["chunk_idx"] * step
            assert r["chunk_text"].split(" ") == words[start : start + 64]
            assert r["n_words"] == len(words[start : start + 64])
            rebuilt = rebuilt[: start] + r["chunk_text"].split(" ")
        assert rebuilt == words  # full coverage, no gaps
        # every chunk except the last is full-width
        assert all(r["n_words"] == 64 for r in ch[:-1])


def test_ivf_index_batch_and_stream_ingest_match(spark, sf_dir, tmp_path):
    """Ingest-time cell materialization (sources/ivf_index): the batch
    writer and the streaming writer must produce the same inverted
    lists, read back with cells from the directory layout (no
    assignment pass), and stored-cell ANN must equal query-time-assigned
    ANN exactly."""
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import NLIST, ivf_topk, quantize
    from polar_spark.queries.similarity import knn_ivf_probe
    from polar_spark.sources.ivf_index import (
        ivf_topk_stored,
        read_ivf_index,
        stream_ivf_index,
        write_ivf_index,
    )
    from polar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]

    # batch ingest
    bpath = str(tmp_path / "ivf_batch")
    write_ivf_index(qv, bpath, cents, vec_col="v", id_col="vec_id")
    bidx, loaded = read_ivf_index(spark, bpath)
    assert loaded == [(cid, list(v)) for cid, v in cents]
    assert "cell" in bidx.columns

    # streaming ingest over the same rows (parquet stream source)
    src_dir = str(tmp_path / "stream_src")
    qv.write.parquet(src_dir)
    spath = str(tmp_path / "ivf_stream")
    stream = spark.readStream.schema(qv.schema).parquet(src_dir)
    q = stream_ivf_index(stream, spath, cents, vec_col="v", id_col="vec_id")
    q.awaitTermination(120)
    sidx, _ = read_ivf_index(spark, spath)

    # identical inverted lists from both ingest paths
    b_rows = sorted((r["vec_id"], r["cell"]) for r in bidx.select("vec_id", "cell").collect())
    s_rows = sorted((r["vec_id"], r["cell"]) for r in sidx.select("vec_id", "cell").collect())
    assert b_rows == s_rows and len(b_rows) == qv.count()

    # stored-cell ANN ≡ query-time-assigned ANN
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    stored = sorted(
        (r["qid"], r["rn"], r["vec_id"], r["dot"])
        for r in ivf_topk_stored(spark, bpath, queries, k=5).collect()
    )
    live = sorted(
        (r["qid"], r["rn"], r["vec_id"], r["dot"])
        for r in knn_ivf_probe(spark, sf_dir).collect()
    )
    assert stored == live


def test_connected_components_multi_hop(spark):
    """a-b, b-c, c-d must collapse to ONE cluster labeled min(a) even
    though a-d was never a pair; disjoint pair e-f keeps its own label;
    vertices absent from the pair set are not emitted."""
    from polar_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(20, 10), (10, 30), (30, 40), (50, 60)], ["id_a", "id_b"]
    )
    got = {r["u"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 10, 50: 50, 60: 50}


def test_connected_components_frees_superseded_checkpoints(spark):
    """The iteration loop must not accumulate one localCheckpoint
    generation per round: a 64-vertex chain needs several pointer-
    jumping rounds, and at the end only the RETURNED generation may
    survive in the block manager (superseded labels and the edge
    checkpoint are freed eagerly — the storage leak that broke the
    100x decade corpus)."""
    from polar_spark.functions.dedup import connected_components

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    labels = connected_components(pairs)
    got = {r["u"]: r["comp"] for r in labels.collect()}
    assert got == {i: 0 for i in range(65)}  # one chain, min label 0
    after = jsc.getPersistentRDDs().size()
    assert after - before <= 1, (
        f"leaked {after - before} checkpoint generations "
        "(expected only the returned labels)"
    )


def test_connected_components_string_ids_and_type_guard(spark):
    from polar_spark.functions.dedup import connected_components

    import pytest

    pairs = spark.createDataFrame(
        [("b", "a"), ("a", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {r["u"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    mixed = spark.createDataFrame([(1, "a")], ["id_a", "id_b"])
    with pytest.raises(TypeError, match="integral or"):
        connected_components(mixed)


def test_connected_components_deep_chain_converges(spark):
    """A 60-vertex chain (diameter 59) must converge well inside the
    25-round budget — pointer jumping makes rounds O(log diameter)."""
    from polar_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"]
    )
    got = {r["u"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(60)}


def test_near_dup_index_incremental_equals_one_shot(spark, sf_dir, tmp_path):
    """Two incremental batches against the index must produce exactly
    the one-shot pipeline's pairs that touch those batches — including
    pairs found only because batch 1 was appended before batch 2."""
    from pyspark.sql import functions as F

    from polar_spark.functions.dedup import NearDupIndex, verified_near_dups
    from polar_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    hi = d.agg(F.max("doc_id")).first()[0]
    s1, s2 = hi // 3, 2 * hi // 3
    idx = NearDupIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.build(d.filter(F.col("doc_id") < s1))
    q1 = idx.query_and_update(
        d.filter((F.col("doc_id") >= s1) & (F.col("doc_id") < s2))
    )
    q2 = idx.query_and_update(d.filter(F.col("doc_id") >= s2))
    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in q1.collect() + q2.collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in verified_near_dups(d, "doc_id", "text", threshold=0.7)
        .filter(F.col("id_b") >= s1)
        .collect()
    )
    assert got == want and len(got) > 0


def test_dedup_incremental_index_leaves_no_store(spark, sf_dir):
    """``dedup_incremental_index`` removes its index store once its
    pairs are materialized: the ``polar_ndx_*`` count under the temp
    directory is the same before and after a call, and the rows still
    equal the DuckDB oracle's."""
    import glob
    import os
    import tempfile

    import duckdb

    from polar_spark.queries import QUERIES

    def stores():
        return len(glob.glob(os.path.join(tempfile.gettempdir(), "polar_ndx_*")))

    spec = QUERIES["dedup_incremental_index"]
    before = stores()
    got = sorted(map(tuple, spec.fn(spark, sf_dir).collect()))
    assert stores() == before
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    assert got == sorted(con.sql(spec.oracle).fetchall()) and got


def test_artifact_rebuilds_when_input_table_is_rewritten(spark, sf_dir, tmp_path):
    """A stored artifact is keyed by its input files, not only by the
    application: rewriting ``events.parquet`` with a strict subset of its
    rows inside one session rebuilds ``sketch_cm_stream_vs_batch``'s
    epoch store, and the rows equal the DuckDB oracle on the new file."""
    import os
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from polar_spark.queries import QUERIES

    spec = QUERIES["sketch_cm_stream_vs_batch"]
    events = str(tmp_path / "events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)

    def rows_and_oracle():
        got = sorted(map(tuple, spec.fn(spark, str(tmp_path)).collect()))
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{events}'")
        return got, sorted(con.sql(spec.oracle).fetchall())

    got, want = rows_and_oracle()
    assert got == want and got
    t = pq.read_table(events)
    pq.write_table(t.slice(0, t.num_rows // 2), events)
    got2, want2 = rows_and_oracle()
    assert want2 != want
    assert got2 == want2 and got2


def test_bloom_semi_join_exact_and_prefilter_selective(spark, sf_dir):
    """The bloom-prefiltered semi join must EQUAL the plain semi join
    (false positives scrubbed), and the bloom prefilter alone must pass
    all true matches while rejecting most non-matches."""
    from polar_spark.operators.bloomjoin import (
        bloom_contains,
        bloom_semi_join,
        build_bloom,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    got = {
        r["o_orderkey"]
        for r in bloom_semi_join(o, cust, "o_custkey", "c_custkey").collect()
    }
    want = {
        r["o_orderkey"]
        for r in o.join(
            cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "leftsemi"
        ).collect()
    }
    assert got == want and len(want) > 0

    # no false negatives; FP rate small at 1 Mbit / ~300 keys
    bm = build_bloom(cust, "c_custkey")
    pre = o.filter(bloom_contains(bm, F.col("o_custkey")))
    n_pre, n_match, n_all = pre.count(), len(want), o.count()
    assert n_pre >= n_match
    assert (n_pre - n_match) <= max(5, (n_all - n_match) * 0.01)


def test_bloom_build_handles_empty_partitions(spark):
    from polar_spark.operators.bloomjoin import bloom_contains, build_bloom

    df = spark.range(0, 10).repartition(64).withColumnRenamed("id", "k")
    bm = build_bloom(df, "k", m_bits=1 << 12, k=4)
    probe = spark.range(0, 10).withColumnRenamed("id", "k")
    assert (
        probe.filter(bloom_contains(bm, F.col("k"), m_bits=1 << 12, k=4)).count() == 10
    )


def test_semdedup_drops_planted_near_dup(spark):
    """A planted near-identical pair in the same cell is pruned (higher
    id dropped); an orthogonal vector survives."""
    from polar_spark.functions.similarity import quantize, semdedup_drop_ids

    base = [0.5] * 32 + [0.0] * 32
    near = [0.5] * 31 + [0.49] + [0.0] * 32
    ortho = [0.0] * 32 + [0.5] * 32
    rows = [(0, base), (1, near), (2, ortho)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = df.select("vec_id", quantize("embedding").alias("v"))
    cents = [(r["vec_id"], r["v"]) for r in qv.collect()]  # every vec a centroid
    # all three assigned to own cell -> no pairs; use ONE centroid so
    # they share a cell and the pairwise prune actually runs
    one = [cents[0]]
    got = {
        r["drop_id"]
        for r in semdedup_drop_ids(qv, one, tau_sq_pct=9025).collect()
    }
    assert got == {1}


def test_lsh_band_buckets_consistent_with_single_table(spark):
    """bands=1 banded bucketing is exactly lsh_bucket with the same
    plane count (same md5 hyperplane family, same sign encoding), and
    the banded form returns one r-char bit-string per band."""
    from polar_spark.functions.similarity import (
        lsh_band_buckets,
        lsh_bucket,
        quantize,
    )

    rows = [(i, [((i * 7 + j * 13) % 11 - 5) / 5.0 for j in range(64)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = df.select("vec_id", quantize("embedding").alias("v"))
    got = qv.select(
        "vec_id",
        lsh_bucket("v", dims=64, planes=8).alias("single"),
        lsh_band_buckets("v", dims=64, bands=1, planes_per_band=8).alias("banded"),
        lsh_band_buckets("v", dims=64, bands=4, planes_per_band=4).alias("b4"),
        lsh_band_buckets("v", dims=64, bands=1, planes_per_band=16).alias("b16"),
    ).collect()
    for r in got:
        assert r["banded"] == [r["single"]]
        assert len(r["b4"]) == 4 and all(len(b) == 4 for b in r["b4"])
        # family parity: band t of the 4x4 split covers planes
        # [4t, 4t+4) of ONE shared 16-plane md5 family, so the four
        # band strings concatenate to the unsplit 16-plane bit-string
        assert "".join(r["b4"]) == r["b16"][0]


def test_semdedup_lsh_drops_planted_near_dup(spark):
    """The banded-LSH semdedup finds the planted near-identical pair
    (identical directions share every band bucket) and drops the higher
    id; the orthogonal vector survives. τ = 0.95 defaults."""
    from polar_spark.functions.similarity import (
        quantize,
        semdedup_lsh_drop_ids,
    )

    base = [0.5] * 32 + [0.0] * 32
    near = [0.5] * 31 + [0.49] + [0.0] * 32
    ortho = [0.0] * 32 + [0.5] * 32
    rows = [(0, base), (1, near), (2, ortho)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = df.select("vec_id", quantize("embedding").alias("v"))
    got = {
        r["drop_id"]
        for r in semdedup_lsh_drop_ids(qv, dims=64).collect()
    }
    assert got == {1}


def test_lsh_operating_point_scaling_laws():
    """r grows as log₂ n (random per-band collision pinned at ≤ 1/n),
    bands ≈ n^ρ restores recall, and both are monotone in n; low τ
    degrades honestly (far more bands at the same n)."""
    import math

    import pytest as _pytest

    from polar_spark.functions.similarity import lsh_operating_point

    b2k, r2k = lsh_operating_point(2_000, 0.95, 0.95)
    assert r2k == math.ceil(math.log2(2_000)) == 11
    p1 = 1.0 - math.acos(0.95) / math.pi
    assert b2k == math.ceil(math.log(20.0) / p1**11)
    # miss probability at the chosen point is within target
    assert (1 - p1**r2k) ** b2k <= 0.05 + 1e-12
    prev_b = prev_r = 0
    for n in (1_000, 10_000, 100_000, 1_000_000):
        b, r = lsh_operating_point(n, 0.95, 0.95)
        assert r >= prev_r and b >= prev_b
        prev_b, prev_r = b, r
    b_low, r_low = lsh_operating_point(2_000, 0.4, 0.95)
    assert r_low == r2k and b_low > 40 * b2k  # ρ≈0.66 regime
    with _pytest.raises(ValueError):
        lsh_operating_point(1000, 1.0)
    with _pytest.raises(ValueError):
        lsh_operating_point(1000, 0.95, 1.0)


def test_semdedup_lsh_precision_is_exact(spark, sf_dir):
    """Precision law on the real corpus: the banded-LSH drop set is a
    SUBSET of the exact all-pairs drop set at the same τ (every LSH
    candidate is verified with the identical integer threshold test —
    LSH can only miss pairs, never invent them)."""
    from polar_spark.functions.similarity import (
        quantize,
        semdedup_drop_ids,
        semdedup_lsh_drop_ids,
    )
    from polar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    # one universal centroid => one cell => exact all-pairs ground truth
    exact = {
        r["drop_id"]
        for r in semdedup_drop_ids(
            qv, [(0, [0] * 64)], tau_sq_pct=1600
        ).collect()
    }
    lsh = {
        r["drop_id"]
        for r in semdedup_lsh_drop_ids(
            qv, dims=64, bands=16, planes_per_band=4, tau_sq_pct=1600
        ).collect()
    }
    assert lsh, "operating point should fire on this corpus"
    assert lsh <= exact


def test_gopher_filter_flags_boundaries(spark, sf_dir):
    """keep=1 docs satisfy every rule; at least one doc fails each
    side of the word-count rule on this corpus."""
    from polar_spark.queries.quality import gopher_quality_filter

    rows = gopher_quality_filter(spark, sf_dir).collect()
    kept = [r for r in rows if r["keep"] == 1]
    assert kept, "filter should keep something"
    for r in kept:
        assert 30 <= r["n_words"] <= 90
        assert 3.0 <= r["mean_word_len"] <= 10.0
        assert r["stop_distinct"] >= 2
        assert r["alpha_frac"] >= 0.8
    assert any(r["n_words"] < 30 for r in rows)
    assert any(r["n_words"] > 90 for r in rows)


def test_dup_span_counts_docs_not_occurrences(spark, sf_dir):
    """A span repeated twice INSIDE one doc counts once (distinct
    per-doc spans), and every reported span occurs in >= n_docs docs."""
    from polar_spark.queries.quality import dup_span_detect

    top = dup_span_detect(spark, sf_dir).collect()
    assert len(top) > 0
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for r in top[:3]:
        n = sum(1 for d in docs if r["span"] in (d["text"] or ""))
        assert n >= r["n_docs"] >= 2


def test_pq_adc_recall_and_rerank_exactness(spark, sf_dir):
    """PQ/ADC shortlist + exact re-rank: re-ranked top-5 dots must be
    exact (match brute force for the ids it returns), and recall@5 vs
    exact brute force must clear 0.8 with a 100-deep shortlist (random
    vectors are PQ's hardest case — no cluster structure to exploit)."""
    from polar_spark.functions.similarity import (
        brute_force_topk,
        pq_topk_adc,
        quantize,
        train_pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    books = train_pq_codebook(qv, "v", "vec_id", iters=2)
    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    got = pq_topk_adc(
        queries,
        qv.select("vec_id", F.col("v").alias("cv")),
        books,
        k=5,
        shortlist=100,
    ).collect()
    exact = brute_force_topk(
        queries, qv.select("vec_id", F.col("v").alias("cv")), k=5
    ).collect()
    exact_by_q: dict = {}
    for r in exact:
        exact_by_q.setdefault(r["qid"], {})[r["vec_id"]] = r["dot"]
    hits = 0
    for r in got:
        if r["vec_id"] in exact_by_q[r["qid"]]:
            hits += 1
            assert r["dot"] == exact_by_q[r["qid"]][r["vec_id"]]  # exact re-rank
    assert hits / len(exact) >= 0.8, f"recall {hits}/{len(exact)}"
    qv.unpersist()


def test_ann_train_memo_repeat_invocation_identical(spark, sf_dir):
    """A repeat invocation of the ANN queries returns the exact same
    row multiset as the first: ``knn_pq_adc`` and ``knn_ivf_trained``
    retrain on every call (training is deterministic, so the second
    call's books equal the first's), and ``knn_ivfpq_stored`` reuses
    its stored index and shortlist on the second call (the built and
    the reused artifact are interchangeable by construction; this pins
    it)."""
    from polar_spark.queries import QUERIES

    for name in ("knn_pq_adc", "knn_ivfpq_stored", "knn_ivf_trained"):
        fn = QUERIES[name].fn
        first = sorted(map(tuple, fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert first == second and len(first) > 0, name


@pytest.mark.parametrize(
    "name, kind, table",
    [
        ("knn_ivfpq_stored", "ivfpq_index", "embeddings"),
        ("knn_ivf_stored_cells", "ivf_index", "embeddings"),
        ("semdedup_lsh_stored", "semlsh_idx", "embeddings"),
        ("sketch_cm_stream_vs_batch", "cm", "events"),
    ],
)
def test_artifact_root_rebuilds_when_vanished(spark, sf_dir, name, kind, table):
    """A query whose artifact root was deleted between two calls (a /tmp
    sweep) rebuilds it instead of reading a missing path, and the rows
    are unchanged; ``semdedup_lsh_stored``'s rebuild rebinds its catalog
    table to the rebuilt data under the root."""
    import os
    import shutil

    from polar_spark.queries import QUERIES
    from polar_spark.store import artifact_root

    fn = QUERIES[name].fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    root = artifact_root(spark, sf_dir, kind, [table])
    assert os.path.exists(os.path.join(root, "_built.json"))
    shutil.rmtree(root)
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first == second and len(first) > 0
    assert os.path.exists(os.path.join(root, "_built.json"))
    if name == "semdedup_lsh_stored":
        from polar_spark.sources.semlsh_index import _table_location

        loc = _table_location(spark, os.path.basename(root))
        assert loc == os.path.join(root, "index") and os.listdir(loc)


def _lloyd_pq_reference(rows, nsub=8, ksub=16, iters=2):
    """Plain numpy/Python Lloyd's PQ over ``rows`` = [(id, vector)]:
    init from the ksub lowest ids, nearest code by explicit squared
    distance (ties → lowest code), floor of the double-precision mean,
    an empty code keeps its centroid."""
    import math

    import numpy as np

    rows = sorted(rows)
    V = np.array([list(v) for _, v in rows], dtype=np.int64)
    dsub = V.shape[1] // nsub
    books = [
        [[int(x) for x in V[c, s * dsub : (s + 1) * dsub]] for c in range(ksub)]
        for s in range(nsub)
    ]
    for _ in range(iters):
        for s in range(nsub):
            X = V[:, s * dsub : (s + 1) * dsub]
            Bs = np.array(books[s], dtype=np.int64)
            codes = ((X[:, None, :] - Bs[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(len(Bs)):
                members = X[codes == c]
                if len(members):
                    books[s][c] = [
                        math.floor(float(int(t)) / float(len(members)))
                        for t in members.sum(axis=0)
                    ]
    return books


def test_train_pq_codebook_matches_numpy_lloyd_reference(spark, sf_dir):
    """On a corpus under PQ_MAX_TRAIN the bounded sample is the whole
    corpus, so the driver-side trainer equals full-corpus Lloyd's."""
    from polar_spark.functions.similarity import (
        PQ_MAX_TRAIN,
        quantize,
        train_pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).repartition(3)
    rows = [(r["vec_id"], r["v"]) for r in qv.collect()]
    assert 16 < len(rows) <= PQ_MAX_TRAIN
    assert train_pq_codebook(qv, "v", "vec_id", iters=2) == _lloyd_pq_reference(rows)


def test_train_pq_codebook_trains_on_hash_ordered_sample(spark):
    """Above PQ_MAX_TRAIN vectors the trainer reads exactly the first
    PQ_MAX_TRAIN rows in (xxhash64(id), id) order — not the lowest ids,
    and not the whole corpus."""
    import numpy as np

    from polar_spark.functions.similarity import PQ_MAX_TRAIN, train_pq_codebook

    rng = np.random.default_rng(7)
    V = rng.integers(-50, 51, size=(5000, 16))
    df = spark.createDataFrame(
        [(i, [int(x) for x in V[i]]) for i in range(5000)],
        "vec_id long, v array<bigint>",
    ).repartition(4)
    first = df.orderBy(F.xxhash64("vec_id"), "vec_id").limit(PQ_MAX_TRAIN).collect()
    sample = [(r["vec_id"], r["v"]) for r in first]
    assert len(sample) == PQ_MAX_TRAIN
    assert {i for i, _ in sample} != set(range(PQ_MAX_TRAIN))
    want = _lloyd_pq_reference(sample)
    assert want != _lloyd_pq_reference([(i, V[i]) for i in range(5000)])
    assert train_pq_codebook(df, "v", "vec_id", iters=2) == want


def _plan_and_rows(df):
    """``df``'s plan, taken before the run (AQE adds a final plan), and
    its rows."""
    from polar_spark.plans.explain import explain_str

    return explain_str(df), df.collect()


def test_knn_pq_adc_local_plan_job_budget(spark, sf_dir, spark_jobs):
    """The ``sf_dir`` corpus is one parquet file whose footer counts at
    most PQ_MAX_TRAIN rows, so it is its own training sample: one
    ``knn_pq_adc`` call (training included) reads it with pyarrow,
    quantizes and searches it in numpy, and runs no Spark job. The
    result is a local relation, whose collect runs no job either; its
    plan has no MapInPandas and no Python evaluation node."""
    import re

    from polar_spark.queries import QUERIES

    (plan, rows), jobs = spark_jobs(
        lambda: _plan_and_rows(QUERIES["knn_pq_adc"].fn(spark, sf_dir))
    )
    assert rows
    assert len(jobs) == 0, sorted(jobs)
    assert not re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan), plan


def _write_embeddings(d, ids, vecs) -> str:
    """A one-file ``embeddings.parquet`` (``vec_id`` int64, ``embedding``
    list<float32>, nulls as given) under the new directory ``d``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(ids), pa.int64()),
                "embedding": pa.array(
                    [None if v is None else list(v) for v in vecs],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def test_knn_pq_adc_footer_gate(spark, tmp_path, twin_plans):
    """The parquet footer picks ``knn_pq_adc``'s plan. A one-file corpus
    of PQ_MAX_TRAIN rows, or a Spark-written multi-part directory under
    the bound, runs no Spark job; one more row, or a directory whose
    part files disagree on the ``embedding`` type (float64, then float32,
    which Spark widens to double), takes the Spark plan. Every one gives
    the rows of the Spark plan (``pq_adc_top5`` over ``load_table``, the
    gate declined), also a corpus of exact-duplicate vectors with few
    distinct values, where dots tie often and the id tie-break decides
    both plans' cuts."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polar_spark.functions.similarity import PQ_MAX_TRAIN
    from polar_spark.queries import QUERIES
    from polar_spark.sources.tables import read_small_table

    n = PQ_MAX_TRAIN + 1
    V = (np.random.default_rng(5).standard_normal((n, 64)) * 0.125).astype(np.float32)
    small = _write_embeddings(tmp_path / "small", range(n - 1), V[:-1])
    big = _write_embeddings(tmp_path / "big", range(n), V)
    parts = tmp_path / "dir" / "embeddings.parquet"
    spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(300)], "vec_id long, embedding array<float>"
    ).repartition(3).write.parquet(str(parts))
    assert sum(f.startswith("part-") for f in os.listdir(parts)) == 3
    mixed = tmp_path / "mixed" / "embeddings.parquet"
    mixed.mkdir(parents=True)
    for k, t in enumerate((pa.float64(), pa.float32())):
        ids = range(60 * k, 60 * k + 60)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(V[ids.start : ids.stop, :16].tolist(), pa.list_(t)),
            }),
            str(mixed / f"part-{k}.parquet"),
        )
    D = np.random.default_rng(3).integers(-3, 4, size=(600, 16)) * 0.125
    D[200:400] = D[:200]  # every vector of the first third twice more
    D[400:] = D[:200]
    ties = _write_embeddings(tmp_path / "ties", range(600), D)
    cols = ["vec_id", "embedding"]
    assert read_small_table(small, "embeddings", cols, PQ_MAX_TRAIN).num_rows == n - 1
    assert read_small_table(big, "embeddings", cols, PQ_MAX_TRAIN) is None
    assert read_small_table(str(tmp_path / "dir"), "embeddings", cols, n).num_rows == 300
    assert read_small_table(str(tmp_path / "mixed"), "embeddings", cols, n) is None
    got = {}
    for d, driver in (
        (small, True),
        (big, False),
        (str(tmp_path / "dir"), True),
        (str(tmp_path / "mixed"), False),
        (ties, True),
    ):
        (rows, jobs), (want, spark_plan_jobs) = twin_plans(
            lambda: QUERIES["knn_pq_adc"].fn(spark, d)
        )
        assert (len(jobs) == 0) == driver, (d, sorted(jobs))
        assert spark_plan_jobs
        assert len(rows) == 50
        assert rows == want, d
        got[d] = rows
    # ties decide the cut: some query's top 5 repeats a dot
    assert any(len({r[2] for r in got[ties] if r[0] == q}) < 5 for q in range(10))


def test_quantized_corpus_declines_what_the_plans_could_disagree_on():
    """``quantized_corpus`` answers a clean corpus with the ids and
    ``floor(float64(x)·1e4)`` vectors, and declines (None) a null id,
    a null vector or component, a non-finite component, one with
    ``|x·1e4| ≥ 2^63``, ragged vectors, a repeated id and an empty
    corpus: on those ``knn_pq_adc`` runs its Spark plan."""
    import numpy as np
    import pyarrow as pa

    from polar_spark.functions.similarity import quantized_corpus

    def table(ids, vecs):
        return pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        )

    ok = [[0.5, -0.25], [1e-4, 0.3]]
    ids, V = quantized_corpus(table([3, 1], ok), "vec_id", "embedding")
    assert ids.tolist() == [3, 1]
    want = np.floor(np.array(ok, np.float32).astype(np.float64) * 10000)
    assert V.dtype == np.int64 and V.tolist() == want.astype(np.int64).tolist()
    for bad in (
        table([0, None], ok),
        table([0, 1], [ok[0], None]),
        table([0, 1], [ok[0], [0.1, None]]),
        table([0, 1], [ok[0], [0.1, float("nan")]]),
        table([0, 1], [ok[0], [0.1, 1e15]]),
        table([0, 1], [ok[0], [0.1]]),
        table([0, 0], ok),
        table([], []),
    ):
        assert quantized_corpus(bad, "vec_id", "embedding") is None, bad


@pytest.mark.parametrize(
    "case", ["nan_component", "null_vector", "null_component", "ragged"]
)
def test_knn_pq_adc_declined_corpus_runs_the_spark_plan(spark, tmp_path, twin_plans, case):
    """A one-file corpus under the bound whose values the driver path
    declines gives exactly what ``pq_adc_top5`` over ``load_table``
    gives: rows for a NaN component (Spark quantizes it to 0), the
    null-vector ValueError for a null vector or component, the ragged
    ValueError for a short vector."""
    import numpy as np

    from polar_spark.functions.similarity import quantized_corpus
    from polar_spark.queries import QUERIES
    from polar_spark.sources.tables import read_small_table

    vecs = (np.random.default_rng(9).standard_normal((60, 16)) * 0.125).tolist()
    if case == "nan_component":
        vecs[3][5] = float("nan")
    elif case == "null_vector":
        vecs[7] = None
    elif case == "null_component":
        vecs[7][2] = None
    else:
        vecs[2] = vecs[2][:8]
    d = _write_embeddings(tmp_path / case, range(60), vecs)
    t = read_small_table(d, "embeddings", ["vec_id", "embedding"], 60)
    assert quantized_corpus(t, "vec_id", "embedding") is None
    (got, _), (want, _) = twin_plans(lambda: QUERIES["knn_pq_adc"].fn(spark, d))
    assert got == want
    if case == "nan_component":
        assert len(got) == 50
    else:
        match = "ragged PQ codebook" if case == "ragged" else "null PQ training vectors"
        assert got[0] == "ValueError" and match in got[1], got


def test_knn_pq_adc_job_budget_and_single_python_stage(spark, tmp_path, spark_jobs):
    """Above PQ_MAX_TRAIN vectors ``knn_pq_adc`` runs the Spark plan with
    the books of its bounded sample: one call (training included) over a
    4-file parquet corpus runs at most 7 Spark jobs, its plan has
    exactly one MapInPandas (the fused encode + ADC + exact-dot scan)
    and no Python UDF evaluation node, and its rows are
    ``pq_topk_adc``'s over ``train_pq_codebook``'s books."""
    import re

    import numpy as np

    from polar_spark.functions.similarity import (
        PQ_MAX_TRAIN,
        pq_topk_adc,
        train_pq_codebook,
    )
    from polar_spark.queries.similarity import pq_adc_top5

    V = np.random.default_rng(7).integers(-50, 51, size=(5000, 16))
    assert len(V) > PQ_MAX_TRAIN
    spark.createDataFrame(
        [(i, [int(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, v array<bigint>",
    ).repartition(4).write.parquet(str(tmp_path / "corpus"))
    df = spark.read.parquet(str(tmp_path / "corpus"))
    (plan, rows), jobs = spark_jobs(lambda: _plan_and_rows(pq_adc_top5(df)))
    assert 0 < len(jobs) <= 7, sorted(jobs)
    assert len(re.findall(r"\(\d+\) MapInPandas\b", plan)) == 1, plan
    assert not re.search(r"ArrowEvalPython|BatchEvalPython", plan), plan
    want = pq_topk_adc(
        df.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        ),
        df.select("vec_id", F.col("v").alias("cv")),
        train_pq_codebook(df, "v", "vec_id", iters=2),
        k=5,
        shortlist=400,  # max(400, 5000 // 50)
    ).select("qid", "vec_id", "dot", "rn")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))
    assert len(rows) == 50


def test_pq_topk_adc_plans_return_identical_rows(spark):
    """The driver plan (``pq_topk_adc_local``, one kernel call over the
    whole corpus) and the Spark plan (``pq_topk_adc``, the kernel per
    partition, then two windows) return identical rows for the same
    books, over 4 partitions and a corpus of exact-duplicate vectors
    with few distinct values, so ADC and exact dots tie often and the
    id tie-break decides both cuts."""
    import numpy as np

    from polar_spark.functions.similarity import (
        pq_topk_adc,
        pq_topk_adc_local,
        train_pq_codebook,
    )

    V = np.random.default_rng(3).integers(-3, 4, size=(600, 16))
    V[200:400] = V[:200]  # every vector of the first third twice more
    V[400:] = V[:200]
    df = spark.createDataFrame(
        [(i, [int(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, v array<bigint>",
    ).repartition(4)
    books = train_pq_codebook(df, "v", "vec_id", iters=2)
    qids = list(range(10))
    got_spark = pq_topk_adc(
        df.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv")
        ),
        df.select("vec_id", F.col("v").alias("cv")),
        books,
        k=5,
        shortlist=30,
    ).select("qid", "vec_id", "dot", "rn")
    got_local = pq_topk_adc_local(
        np.arange(len(V)), V, books, qids, V[qids], k=5, shortlist=30
    )
    rows = sorted(map(tuple, got_spark.collect()))
    assert rows == sorted(got_local) and len(rows) == 50
    # ties decide the cut: some query's top 5 repeats a dot
    assert any(len({r[2] for r in rows if r[0] == q}) < 5 for q in qids)


def test_knn_pq_adc_matches_plain_python_reference(spark, sf_dir):
    """``knn_pq_adc``'s rows equal a plain-Python rendering of its
    definition that shares no code with the kernel: the numpy Lloyd
    reference books over the whole corpus (the sample is the corpus),
    then loops for the PQ codes (nearest centroid, ties → lowest code),
    the ADC dot of every non-self candidate, the shortlist by (adc
    desc, id) of min(4096, max(400, n // 50)), and the top 5 of it by
    (exact dot desc, id)."""
    from polar_spark.functions.similarity import quantize
    from polar_spark.queries import QUERIES

    e = load_table(spark, sf_dir, "embeddings")
    corpus = sorted(
        (r["vec_id"], list(r["v"]))
        for r in e.select("vec_id", quantize("embedding").alias("v")).collect()
    )
    books = _lloyd_pq_reference(corpus)
    nsub = len(books)
    dsub = len(books[0][0])

    def sub(v, s):
        return v[s * dsub : (s + 1) * dsub]

    def dotp(a, b):
        return sum(x * y for x, y in zip(a, b))

    def code(v, s):
        d2 = [sum((x - c) ** 2 for x, c in zip(sub(v, s), cent)) for cent in books[s]]
        return d2.index(min(d2))

    codes = {i: [code(v, s) for s in range(nsub)] for i, v in corpus}
    shortlist = min(4096, max(400, len(corpus) // 50))
    want = []
    for qid, qv in corpus:
        if qid >= 10:
            continue
        adc = [
            (-sum(dotp(sub(qv, s), books[s][codes[i][s]]) for s in range(nsub)), i, v)
            for i, v in corpus
            if i != qid
        ]
        short = sorted(adc)[:shortlist]
        top = sorted((-dotp(qv, v), i) for _, i, v in short)[:5]
        want += [(qid, i, -nd, rn) for rn, (nd, i) in enumerate(top, 1)]
    got = QUERIES["knn_pq_adc"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(want) and len(want) == 50


@pytest.mark.parametrize("case", ["null_lowest_id", "null_vector", "null_component"])
def test_train_pq_codebook_rejects_null_vectors(spark, case):
    """A null training vector, at the lowest id or elsewhere, or a null
    component fails with one ValueError naming null training vectors,
    before the ragged check could misread it."""
    from polar_spark.functions.similarity import train_pq_codebook

    rows = [(i, [i + 1] * 64) for i in range(20)]
    if case == "null_lowest_id":
        rows[0] = (0, None)
    elif case == "null_vector":
        rows[5] = (5, None)
    else:
        rows[5] = (5, [6] * 63 + [None])
    qv = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    with pytest.raises(ValueError, match="null PQ training vectors"):
        train_pq_codebook(qv, "v", "vec_id", iters=1)


def test_train_pq_codebook_rejects_ragged_vectors(spark):
    """A ragged training corpus (a low-id vector shorter than the
    first) fails with a ValueError naming the cause — a raise, not an
    assert, so it also holds under ``python -O``."""
    import pytest

    from polar_spark.functions.similarity import train_pq_codebook

    rows = [(i, [i + 1] * 64) for i in range(20)]
    rows[1] = (1, [2] * 60)
    qv = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    with pytest.raises(ValueError, match="ragged PQ codebook"):
        train_pq_codebook(qv, "v", "vec_id", iters=1)


def test_pq_encode_deterministic_and_bounded(spark, sf_dir):
    from polar_spark.functions.similarity import (
        PQ_KSUB,
        PQ_NSUB,
        pq_encode,
        quantize,
        train_pq_codebook,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v"))
    books = train_pq_codebook(qv, "v", "vec_id", iters=1)
    a = {r["vec_id"]: list(r["codes"]) for r in
         qv.select("vec_id", pq_encode("v", books).alias("codes")).collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in
         qv.select("vec_id", pq_encode("v", books).alias("codes")).collect()}
    assert a == b
    assert all(len(c) == PQ_NSUB and max(c) < PQ_KSUB and min(c) >= 0
               for c in a.values())


def test_near_dup_index_compaction_preserves_results(spark, sf_dir, tmp_path):
    """compact() shrinks the stores' file counts without changing what
    the next batch detects."""
    from polar_spark.functions.dedup import NearDupIndex

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.agg(F.max("doc_id")).first()[0]
    s1, s2 = hi // 3, 2 * hi // 3

    def run(compact: bool):
        idx = NearDupIndex(spark, str(tmp_path / f"idx{compact}"), threshold=0.7)
        idx.build(d.filter(F.col("doc_id") < s1))
        # append in 4 sub-batches to fragment the store
        lows = [s1, (s1 + s2) // 2]
        for lo, hic in zip(lows, lows[1:] + [s2]):
            idx.query_and_update(
                d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hic))
            ).count()
        counts = None
        if compact:
            counts = idx.compact()
        pairs = idx.query_and_update(d.filter(F.col("doc_id") >= s2))
        return (
            sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in pairs.collect()
            ),
            counts,
        )

    base, _ = run(compact=False)
    got, counts = run(compact=True)
    assert got == base and len(got) > 0
    for store, (before, after) in counts.items():
        assert after <= before, store
    assert counts["bands"][1] < counts["bands"][0]


def test_ivfpq_stored_recall_and_rerank_exactness(spark, sf_dir, tmp_path):
    """Stored IVFADC: recall@5 vs the exact probed-cell search must be
    >= 0.8, and re-ranked dots must be exact; the ADC scan stage must
    not read the raw vector column."""
    from polar_spark.functions.similarity import (
        NLIST,
        quantize,
        train_pq_codebook,
    )
    from polar_spark.sources.ivf_index import (
        ivf_topk_stored,
        ivfpq_topk_stored,
        write_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    books = train_pq_codebook(qv, "v", "vec_id", iters=2)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(qv, path, cents, books)

    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    got = ivfpq_topk_stored(spark, path, queries, k=5, shortlist=100).collect()
    exact = ivf_topk_stored(spark, path, queries, k=5).collect()
    exact_by_q: dict = {}
    for r in exact:
        exact_by_q.setdefault(r["qid"], {})[r["vec_id"]] = r["dot"]
    hits = 0
    for r in got:
        if r["vec_id"] in exact_by_q.get(r["qid"], {}):
            hits += 1
            assert r["dot"] == exact_by_q[r["qid"]][r["vec_id"]]
    assert hits / len(exact) >= 0.8, f"recall {hits}/{len(exact)}"
    qv.unpersist()


def test_near_dup_index_same_tag_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The crash-between-append-and-record path: re-running a batch with
    the SAME tag must leave the store byte-identical (no doubled
    shingles) and return the same pairs."""
    from polar_spark.functions.dedup import NearDupIndex

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.agg(F.max("doc_id")).first()[0]
    s1 = hi // 2
    idx = NearDupIndex(spark, str(tmp_path / "idx"), threshold=0.7)
    idx.build(d.filter(F.col("doc_id") < s1))
    batch = d.filter(F.col("doc_id") >= s1)

    p1 = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in idx.query_and_update(batch, tag="tepoch7").collect()
    )
    sh_count = spark.read.parquet(idx.shingles_path).count()
    bd_count = spark.read.parquet(idx.bands_path).count()

    # replay (same tag, same content) — e.g. foreachBatch retry after a
    # crash before the epoch record
    p2 = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in idx.query_and_update(batch, tag="tepoch7").collect()
    )
    assert p2 == p1 and len(p1) > 0
    assert spark.read.parquet(idx.shingles_path).count() == sh_count
    assert spark.read.parquet(idx.bands_path).count() == bd_count


def test_near_dup_index_recovers_from_partial_cold_store(spark, sf_dir, tmp_path):
    """Crash window on a COLD store: the bands write landed but the
    shingles write did not. The retry must recover (read what exists,
    rewrite its own partition), not crash-loop — and end state must
    equal a clean single run."""
    import shutil

    from polar_spark.functions.dedup import NearDupIndex

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80)

    idx = NearDupIndex(spark, str(tmp_path / "cold"), threshold=0.7)
    p1 = idx.query_and_update(d, tag="tepoch0")
    p1.count()
    # simulate the crash: shingles write never happened
    shutil.rmtree(idx.shingles_path)
    p2 = sorted(
        (r["id_a"], r["id_b"]) for r in
        idx.query_and_update(d, tag="tepoch0").collect()
    )
    clean = NearDupIndex(spark, str(tmp_path / "clean"), threshold=0.7)
    want = sorted(
        (r["id_a"], r["id_b"]) for r in
        clean.query_and_update(d, tag="tepoch0").collect()
    )
    assert p2 == want


def test_near_dup_index_rejects_reserved_tags(spark, sf_dir, tmp_path):
    import pytest as _pytest

    from polar_spark.functions.dedup import NearDupIndex

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(10)
    idx = NearDupIndex(spark, str(tmp_path / "r"), threshold=0.7)
    # ("" falls back to a generated uuid tag — valid by design)
    for bad in ("base", "compacted", "1abc", "a/b", "a=b"):
        with _pytest.raises(ValueError):
            idx.query_and_update(d, tag=bad)


def test_stream_ivfpq_index_matches_batch(spark, sf_dir, tmp_path):
    """Streaming IVFADC ingest (two micro-batches) must produce a store
    whose search results equal the batch-written one."""
    from polar_spark.functions.similarity import (
        NLIST,
        quantize,
        train_pq_codebook,
    )
    from polar_spark.sources.ivf_index import (
        ivfpq_topk_stored,
        stream_ivfpq_index,
        write_ivfpq_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    books = train_pq_codebook(qv, "v", "vec_id", iters=1)

    batch_path = str(tmp_path / "batch")
    write_ivfpq_index(qv, batch_path, cents, books)

    src = str(tmp_path / "src")
    mid = qv.agg(F.max("vec_id")).first()[0] // 2
    qv.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(src)
    qv.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, v array<bigint>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_path = str(tmp_path / "stream")
    q = stream_ivfpq_index(stream, stream_path, cents, books)
    assert q.awaitTermination(300), "streaming index build timed out"

    queries = qv.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    a = sorted(
        map(tuple, ivfpq_topk_stored(spark, batch_path, queries, k=5).collect())
    )
    b = sorted(
        map(tuple, ivfpq_topk_stored(spark, stream_path, queries, k=5).collect())
    )
    assert a == b and len(a) > 0
    qv.unpersist()


def test_audio_window_energy_exact(spark):
    """Hand-computed windows: 'AB' → samples (65-128, 66-128) = (-63, -62);
    energy 63²+62²=7813, peak 63; a 300-byte payload at window=256 yields
    two windows (256 + 44 samples)."""
    from polar_spark.functions.multimodal import attach_blob, audio_window_energy

    df = spark.createDataFrame(
        [(1, "AB"), (2, "A" * 300)], "doc_id bigint, text string"
    )
    blobs = attach_blob(df, "doc_id", "text", mime="audio/pcm")
    rows = {
        (r["doc_id"], r["window_idx"]): r
        for r in audio_window_energy(blobs, "doc_id", "blob", window=256).collect()
    }
    r1 = rows[(1, 0)]
    assert r1["n_samples"] == 2 and r1["energy"] == 63 * 63 + 62 * 62
    assert r1["peak"] == 63
    assert rows[(2, 0)]["n_samples"] == 256
    assert rows[(2, 1)]["n_samples"] == 44
    assert rows[(2, 1)]["energy"] == 44 * 63 * 63


def test_brute_force_exclude_on_null_semantics(spark):
    """exclude_on must follow SQL <> three-valued logic: a NULL-labeled
    candidate never qualifies as a negative, and a NULL-labeled query
    anchor keeps no candidates at all."""
    from polar_spark.functions.similarity import brute_force_topk

    cands = spark.createDataFrame(
        [(1, 0, [1, 0]), (2, None, [1, 1]), (3, 1, [0, 1])],
        "vec_id bigint, label int, cv array<bigint>",
    )
    queries = spark.createDataFrame(
        [(10, 0, [1, 1]), (11, None, [1, 1])],
        "qid bigint, qlabel int, qv array<bigint>",
    )
    rows = brute_force_topk(
        queries, cands, k=3, exclude_on=("qlabel", "label")
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    # anchor label 0: candidate 1 (label 0) equal → out; 2 (NULL) → out;
    # 3 (label 1) → the only hard negative
    assert by_q.get(10) == {3}
    # NULL anchor: nothing qualifies
    assert 11 not in by_q


def test_kmv_prefilter_bit_identical_to_naive(spark, sf_dir):
    """The threshold-prefilter path must return the exact same k
    smallest distinct hashes as the naive path — including under
    extreme duplication (forces the exact fallback) and null group
    keys (encoding edge of the literal threshold map)."""
    from pyspark.sql import functions as F

    from polar_spark.functions.sketches import kmv_partial
    from polar_spark.sources.tables import load_table

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    ev = load_table(spark, sf_dir, "events")
    assert rows(kmv_partial(ev, ["event_type"], "user_id", 64)) == rows(
        kmv_partial(ev, ["event_type"], "user_id", 64, prefilter=False)
    )
    # 50k rows, 10 distinct values — the dup-heavy regime. With the
    # n_d-keyed threshold (r7) the bound is INACTIVE here (n_d ≤
    # SAFETY·k keeps everything), which is the point: the row-count
    # threshold used to filter this shape to ~0 candidates and push
    # every group through the exact fallback
    dup = spark.range(0, 50_000).select(
        F.lit("g").alias("g"), F.pmod("id", F.lit(10)).cast("string").alias("v")
    )
    assert rows(kmv_partial(dup, ["g"], "v", 64)) == rows(
        kmv_partial(dup, ["g"], "v", 64, prefilter=False)
    )
    # force the deterministic exact fallback: SAFETY=0 makes every
    # active threshold 0 (keeps nothing), so every group with an
    # estimate above 0 is flagged short and must be recomputed exactly
    import polar_spark.functions.sketches as S

    old_safety = S.KMV_PREFILTER_SAFETY
    try:
        S.KMV_PREFILTER_SAFETY = 0
        assert rows(kmv_partial(ev, ["event_type"], "user_id", 64)) == rows(
            kmv_partial(ev, ["event_type"], "user_id", 64, prefilter=False)
        )
    finally:
        S.KMV_PREFILTER_SAFETY = old_safety
    nk = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("x", "a")], "g string, v string"
    )
    assert rows(kmv_partial(nk, ["g"], "v", 64)) == rows(
        kmv_partial(nk, ["g"], "v", 64, prefilter=False)
    )
    # NULL VALUES: both paths must ignore them (COUNT DISTINCT
    # semantics) — the naive path used to keep a NULL hash row that the
    # threshold filter dropped, and a NULL in the sketch state inflates
    # n_kept and displaces a real hash from the k-selection
    nv = spark.createDataFrame(
        [("g", None), ("g", "a"), ("g", "b"), ("h", None), ("h", None)],
        "g string, v string",
    )
    got = rows(kmv_partial(nv, ["g"], "v", 64))
    assert got == rows(kmv_partial(nv, ["g"], "v", 64, prefilter=False))
    assert all(h is not None for _g, h in got)  # no NULL sketch rows
    assert {g for g, _h in got} == {"g"}  # all-NULL group vanishes
    # MULTI-KEY encoding edges: concat_ws SKIPS null components and the
    # map encoding must stay injective — NULL-component groups, groups
    # whose component embeds the separator, and the NULL-vs-"" pair
    # (which used to collide to the same map key) must all stay exact
    # even when thresholds are forced active (SAFETY=0)
    mk = spark.range(0, 3000).selectExpr(
        "'a' as g1",
        "CASE pmod(id, 4) WHEN 0 THEN NULL WHEN 1 THEN '' "
        "WHEN 2 THEN 'b' ELSE 'xy' END as g2",
        "cast(id as string) as v",
    )
    try:
        S.KMV_PREFILTER_SAFETY = 0
        assert rows(kmv_partial(mk, ["g1", "g2"], "v", 16)) == rows(
            kmv_partial(mk, ["g1", "g2"], "v", 16, prefilter=False)
        )
    finally:
        S.KMV_PREFILTER_SAFETY = old_safety
    assert rows(kmv_partial(mk, ["g1", "g2"], "v", 16)) == rows(
        kmv_partial(mk, ["g1", "g2"], "v", 16, prefilter=False)
    )


def test_bigram_lm_matches_python_reference(spark):
    """score_bigram_nll == a transparent pure-Python bigram stupid-backoff
    LM on a tiny corpus (train docs 0-3, score docs 4-5), including the
    backoff branch for unseen bigrams/tokens — exact integer nano-nats
    via the shared ln_nano op sequence."""
    from collections import Counter

    from polar_spark.functions.lm import score_bigram_nll, train_bigram_counts
    from polar_spark.functions.ln_portable import ln_nano_py

    docs = [
        (0, "a b a b c"),
        (1, "a b c d"),
        (2, "b c d a"),
        (3, "c a b"),
        (4, "a b c zebra d"),  # 'c zebra' + 'zebra d' unseen; 'zebra' OOV
        (5, "d a b"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    train = df.filter("doc_id < 4")
    hold = df.filter("doc_id >= 4")
    got = {
        r["doc_id"]: (r["n_scored"], r["sum_nll_nano"], r["nll_bucket"])
        for r in score_bigram_nll(hold, train_bigram_counts(train)).collect()
    }

    c2 = Counter()
    for _, text in docs[:4]:
        w = text.split(" ")
        for i in range(len(w) - 1):
            c2[(w[i], w[i + 1])] += 1
    c1 = Counter()
    cw = Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        cw[w2] += c
    n_big = sum(c2.values())
    v_big = len({w2 for _, w2 in c2})
    for doc_id, text in docs[4:]:
        w = text.split(" ")
        total = 0
        n = 0
        for i in range(len(w) - 1):
            pair = (w[i], w[i + 1])
            if pair in c2:
                nll = ln_nano_py(c1[pair[0]]) - ln_nano_py(c2[pair])
            else:
                nll = ln_nano_py(2 * (n_big + v_big)) - ln_nano_py(
                    cw.get(pair[1], 0) + 1
                )
            total += nll
            n += 1
        n_scored, sum_nano, bucket = got[doc_id]
        assert n_scored == n
        assert sum_nano == total
        assert bucket == total // (n * 10**9)
    # backoff actually exercised: doc 4 must score strictly worse per
    # token than the all-seen doc 5
    assert got[4][1] / got[4][0] > got[5][1] / got[5][0]


def test_bigram_pairs_short_doc_edge(spark):
    """Docs with <2 tokens contribute NOTHING to bigram_pairs — the r13
    index-sequence explode must not emit bogus rows for them (Spark's
    sequence(1, 0) is DESCENDING; the size>=2 filter guards it). Covers
    single-token, empty-string and NULL text, and the 2-token minimum."""
    from polar_spark.functions.lm import bigram_pairs

    docs = [
        (0, "solo"),
        (1, ""),
        (2, None),
        (3, "two words"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = bigram_pairs(df, "text", extra=["doc_id"]).collect()
    assert [(r["doc_id"], r["w1"], r["w2"]) for r in rows] == [
        (3, "two", "words")
    ]


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """The Efraimidis-Spirakis selection equals a NumPy/hashlib replica:
    same md5-uniform, same ln(u)/w key, same per-source top-10."""
    import hashlib

    from polar_spark.functions.dsir import _LN_U_DENOM_NANO
    from polar_spark.functions.ln_portable import ln_nano_py
    from polar_spark.queries.pipeline_ops import weighted_sample_per_source

    got = {
        (r["source"], r["doc_id"], r["weight"], r["rn"])
        for r in weighted_sample_per_source(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    by_src: dict[str, list] = {}
    for r in rows:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        key = float(ln_nano_py(h + 1) - _LN_U_DENOM_NANO) / (r["n_chars"] + 1)
        by_src.setdefault(r["source"], []).append(
            (-key, r["doc_id"], r["n_chars"])
        )
    want = set()
    for src, items in by_src.items():
        for rn, (_, doc_id, n_chars) in enumerate(sorted(items)[:10], 1):
            want.add((src, doc_id, n_chars, rn))
    assert got == want


def test_dsir_matches_python_reference(spark, sf_dir):
    """DSIR log importance weights equal a hashlib/ln_nano replica:
    same hashed unigram+bigram buckets, same add-one-smoothed log
    ratio in exact integer nano-nats (portable ln — no transcendental
    anywhere), same exact-bigint per-doc sum — and the selection key
    adds the same all-integer md5-Gumbel. Also pins the method's
    sanity law: target-language docs must outscore the rest on
    average."""
    import hashlib

    from polar_spark.functions.dsir import gumbel_g_nano_py
    from polar_spark.functions.ln_portable import ln_nano_py
    from polar_spark.queries.pipeline_ops import (
        dsir_importance_scores,
        dsir_resample_select,
    )

    M = 4096

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    docs = {}
    for r in rows:
        w = (r["text"] or "").split(" ")
        grams = list(w) + [f"{a} {b}" for a, b in zip(w, w[1:])]
        docs[r["doc_id"]] = (
            r["lang"],
            [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % M for g in grams],
        )
    cq: dict[int, int] = {}
    cp: dict[int, int] = {}
    for lang, buckets in docs.values():
        for b in buckets:
            cq[b] = cq.get(b, 0) + 1
            if lang == "en":
                cp[b] = cp.get(b, 0) + 1
    lam = {
        b: ln_nano_py(cp.get(b, 0) + 1) - ln_nano_py(c + 1)
        for b, c in cq.items()
    }
    kappa = ln_nano_py(sum(cq.values()) + M) - ln_nano_py(sum(cp.values()) + M)
    want = {}
    for doc_id, (lang, buckets) in docs.items():
        logw = sum(lam[b] + kappa for b in buckets)
        want[doc_id] = (lang, len(buckets), logw)
    got = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["logw_nano"])
        for r in dsir_importance_scores(spark, sf_dir).collect()
    }
    assert got == want
    # sanity law: the target subset must outscore the rest on average
    en = [v[2] for v in got.values() if v[0] == "en"]
    rest = [v[2] for v in got.values() if v[0] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)
    # selection: replica Gumbel-top-50 must pick the identical doc set
    keyed = []
    for doc_id, (lang, n, logw) in want.items():
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        keyed.append((-(logw + gumbel_g_nano_py(h)), doc_id))
    want_sel = {doc_id for _, doc_id in sorted(keyed)[:50]}
    got_sel = {r["doc_id"] for r in dsir_resample_select(spark, sf_dir).collect()}
    assert got_sel == want_sel


def test_dsir_hashed_grams_edges(spark):
    """Tokenisation edges: empty/NULL text yields exactly one
    empty-string unigram (split convention), a single-word doc has no
    bigrams, a two-word doc has exactly one."""
    from polar_spark.functions.dsir import hashed_grams

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha"), (4, "alpha beta")],
        "doc_id int, text string",
    )
    counts = {
        r["doc_id"]: r["n"]
        for r in hashed_grams(df, 64)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {1: 1, 2: 1, 3: 1, 4: 3}
    assert all(
        0 <= r["bucket"] < 64 for r in hashed_grams(df, 64).collect()
    )


def test_qs_prefilter_parity_and_fallback(spark):
    """The quantile sample's threshold prefilter must be bit-identical
    to the naive path when ACTIVE (a corpus big enough to engage it),
    and the deterministic < k recompute must restore exactness when a
    threshold proves too tight (forced via an inflated denominator)."""
    from polar_spark.functions.sketches import (
        _prefiltered_selection,
        qs_partial,
        qs_select,
    )

    n = 400_000
    k = 16  # activates at > SAFETY*k = 1024 rows per group
    df = (
        spark.range(n)
        .selectExpr(
            "id",
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
            "CAST(id % 997 AS DOUBLE) AS value",
        )
    )
    naive = {
        tuple(r) for r in qs_partial(df, ["g"], "id", "value", k, prefilter=False).collect()
    }
    pre = {
        tuple(r) for r in qs_partial(df, ["g"], "id", "value", k, prefilter=True).collect()
    }
    assert pre == naive and len(naive) == 2 * k

    # forced fallback: a denominator 100x the true row count makes the
    # threshold ~100x too tight, so kept-per-group lands far short of k
    # and the recompute path must serve the exact selection anyway
    from pyspark.sql import functions as SF

    hashed = df.select(
        "g",
        SF.conv(SF.substring(SF.md5(SF.col("id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
        SF.col("value").alias("v"),
    )
    forced = _prefiltered_selection(
        hashed,
        ["g"],
        k,
        {("a",): n * 100, ("b",): n * 100},
        qs_select,
        "test.qs.forced",
    )
    assert forced is not None
    assert {tuple(r) for r in forced.collect()} == naive


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """bpe_train == the pure-Python replica on the real corpus AND on a
    crafted corpus exercising overlap counting ('aaa' counts (a,a)
    twice but merges left-to-right non-overlapping), tiebreaks, and
    multi-round merge chains building longer tokens."""
    from polar_spark.functions.bpe import bpe_train, bpe_train_py, word_freq_table
    from polar_spark.sources.tables import load_table

    crafted = spark.createDataFrame(
        [(1, "aaa aaa bb"), (2, "abab abab"), (3, "aaa bb bb cc")],
        "doc_id int, text string",
    )
    wc = {
        r["word"]: r["cnt"] for r in word_freq_table(crafted).collect()
    }
    assert wc == {"aaa": 3, "bb": 3, "abab": 2, "cc": 1}
    got = [tuple(r) for r in bpe_train(word_freq_table(crafted), rounds=6).collect()]
    want = bpe_train_py(wc, rounds=6)
    assert got == want
    # merges chain: some later-round pair must contain a multi-char token
    assert any(len(p.split(" ")[0]) > 1 or len(p.split(" ")[1]) > 1 for _, p, _ in got)

    docs = load_table(spark, sf_dir, "documents")
    wc2 = {
        r["word"]: r["cnt"] for r in word_freq_table(docs).collect()
    }
    got2 = [tuple(r) for r in bpe_train(word_freq_table(docs), rounds=4).collect()]
    assert got2 == bpe_train_py(wc2, rounds=4)


def test_zorder_morton_key_tri_engine(spark):
    """The Morton interleave is bit-identical in Spark, DuckDB and the
    Python twin, and carries the locality property the layout relies on
    (nearby (x,y) cells share z prefixes; an axis range maps to a
    bounded z-bucket set)."""
    import duckdb
    import pandas as pd

    from polar_spark.functions.zorder import z_value_py, z_value_sql

    pts = [(x, y) for x in range(0, 1024, 37) for y in range(0, 1024, 41)]
    sdf = spark.createDataFrame(pts, "x bigint, y bigint")
    got_spark = {
        (r["x"], r["y"]): r["z"]
        for r in sdf.selectExpr("x", "y", f"{z_value_sql('x','y','spark')} AS z").collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(pts, columns=["x", "y"]))
    got_duck = {
        (x, y): z
        for x, y, z in con.sql(
            f"SELECT x, y, {z_value_sql('x','y','duckdb')} AS z FROM t"
        ).fetchall()
    }
    for x, y in pts:
        want = z_value_py(x, y)
        assert got_spark[(x, y)] == want
        assert got_duck[(x, y)] == want
    # interleave is a bijection on the 20-bit grid sample
    assert len(set(got_spark.values())) == len(pts)
    # locality: the top-6-bit bucket of z bounds BOTH coordinates within
    # a 128-wide band (the envelope property zorder_pruning_stats uses)
    from collections import defaultdict
    env = defaultdict(lambda: [1 << 20, -1, 1 << 20, -1])
    for (x, y), z in got_spark.items():
        e = env[z >> 14]
        e[0] = min(e[0], x); e[1] = max(e[1], x)
        e[2] = min(e[2], y); e[3] = max(e[3], y)
    for xmin, xmax, ymin, ymax in env.values():
        assert xmax - xmin <= 128 and ymax - ymin <= 128


def test_hll_m1024_laws_and_accuracy_envelope(spark):
    """r9 VERDICT ask #3: HLL register count is now a parameter. At the
    production size m=1024 (vs the m=64 law-proof default) the sketch
    must still satisfy (a) the split-merge law bit-exactly, (b) max-
    merge idempotency under overlapping re-ingest, and (c) a MUCH
    tighter accuracy envelope: the linear-counting-corrected estimate
    lands within ±5% of truth where the m=64 band is ±40%. Also pins
    the DECIMAL(38,0) exact estimator path (the m=1024 numerator
    alpha·m²·2^25 ≈ 2.6e20 overflows int64)."""
    import math

    from polar_spark.functions.sketches import (
        _hll_params,
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_register_partial,
    )
    from polar_spark.sources.tables import load_table

    import pytest

    # parameter validation: power-of-two window
    for bad in (0, 63, 96, 8, 1 << 21):
        with pytest.raises(ValueError):
            _hll_params(bad)

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    m = 1024

    def rows(df):
        return {
            r["event_type"]: (r["v_zero"], r["s_sum"], r["est_distinct"])
            for r in df.collect()
        }

    direct = rows(hll_distinct(ev, ["event_type"], "user_id", m=m))

    # (a) split-merge law: two disjoint halves' partials, max-merged,
    # estimate bit-identically to the one-shot sketch
    a = hll_register_partial(
        ev.filter("event_id % 2 = 0"), ["event_type"], "user_id", m=m
    )
    b = hll_register_partial(
        ev.filter("event_id % 2 = 1"), ["event_type"], "user_id", m=m
    )
    merged = hll_merge(a.unionByName(b), ["event_type"])
    assert rows(hll_estimate(merged, ["event_type"], m=m)) == direct

    # (b) idempotency: re-merging one half AGAIN (overlap = at-least-once
    # replay) changes nothing
    remerged = hll_merge(a.unionByName(b).unionByName(a), ["event_type"])
    assert rows(hll_estimate(remerged, ["event_type"], m=m)) == direct

    # (c) accuracy envelope: corrected estimate within ±5% at m=1024
    truth = {
        r["event_type"]: r["t"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("t"))
        .collect()
    }
    for et, (v_zero, _, est) in direct.items():
        if est < 2.5 * m and v_zero > 0:
            est = m * math.log(m / v_zero)
        assert abs(est - truth[et]) <= 0.05 * truth[et], (et, est, truth[et])


def test_simhash_block_combination_scheme_output_identical(spark):
    """r9: the pigeonhole candidate scheme is now the generalized
    Manku-Jain-Das Sarma (b, c) form. The scheme decides candidate COST
    only — for any valid n_blocks the exact Hamming filter yields the
    SAME pairs. Pins c=1 (classic, 4 blocks), the n_blocks=6 / C(6,3)
    scale form, and an oversplit n_blocks=8 against each other, plus
    the pigeonhole-violating parameter error."""
    import pytest

    from polar_spark.functions.dedup import simhash_pairs
    from polar_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")

    def rows(nb):
        return sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs(
                d, "doc_id", "text", max_hamming=3, n_blocks=nb
            ).collect()
        )

    classic = rows(None)  # default: 4 blocks, c=1
    assert classic == rows(6) == rows(8)
    assert len(classic) > 0

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(d, "doc_id", "text", max_hamming=3, n_blocks=3)


def test_ivf_twolevel_assignment_exact_law(spark, sf_dir):
    """Two-level (super-cell routed) assignment is EXACT: identical to
    flat nearest-centroid assignment on every vector, including
    duplicate-centroid ties (lowest cid wins on both paths)."""
    from polar_spark.functions.similarity import (
        ivf_cell,
        ivf_cell_twolevel,
        quantize,
    )
    from polar_spark.sources.tables import load_table

    qv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )
    cents = [
        (r["vec_id"], r["v"])
        for r in qv.filter(F.col("vec_id") < 32).collect()
    ]
    both = qv.select(
        ivf_cell("v", cents).alias("flat"),
        ivf_cell_twolevel("v", cents, n_super=6).alias("two"),
    )
    assert both.filter(F.col("flat") != F.col("two")).count() == 0

    # duplicate-centroid tie: cid 15 duplicates cid 3's vector; every
    # vector equidistant to both must resolve to cid 3 on both paths
    dup = [(i, [i * 3 + 1] * 8) for i in range(20)]
    dup[15] = (15, dup[3][1])
    rows = [(100 + i, [i * 3 + 1] * 8) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    got = df.select(
        "vec_id",
        ivf_cell("v", dup).alias("flat"),
        ivf_cell_twolevel("v", dup, n_super=5).alias("two"),
    ).collect()
    for r in got:
        assert r["flat"] == r["two"]
        if r["vec_id"] == 103:
            assert r["two"] == 3  # tie → lowest cid


def test_write_ivf_index_two_level_same_layout(spark, sf_dir, tmp_path):
    """write_ivf_index with two_level routing produces the identical
    cell layout as flat assignment (the auto threshold just swaps the
    assignment implementation, never the result)."""
    from polar_spark.functions.similarity import quantize
    from polar_spark.sources.ivf_index import read_ivf_index, write_ivf_index
    from polar_spark.sources.tables import load_table

    qv = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )
    cents = [
        (r["vec_id"], r["v"])
        for r in qv.filter(F.col("vec_id") < 16).collect()
    ]
    write_ivf_index(qv, str(tmp_path / "flat"), cents, two_level=False)
    write_ivf_index(qv, str(tmp_path / "two"), cents, two_level=True)
    a, _ = read_ivf_index(spark, str(tmp_path / "flat"))
    b, _ = read_ivf_index(spark, str(tmp_path / "two"))
    assert (
        a.select("vec_id", "cell")
        .exceptAll(b.select("vec_id", "cell"))
        .count()
        == 0
    )
    assert a.count() == b.count()


def test_lloyd_trainers_match_posexplode_reference(spark, sf_dir):
    """The Lloyd trainers (IVF: one mapInPandas pass of per-partition
    integer partials; PQ: numpy rounds over a driver-side sample that
    is the whole corpus here) must produce BIT-IDENTICAL codebooks to
    the former corpus×dims posexplode → groupBy → floor(sum/count)
    aggregation — across a forced multi-partition input so the
    cross-partition partial merge is exercised."""
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import (
        ivf_cell,
        pq_encode,
        quantize,
        train_ivf_codebook,
        train_pq_codebook,
    )
    from polar_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    # 7 partitions: vectors of one cell/code split across partitions
    qv = e.select("vec_id", quantize("embedding").alias("v")).repartition(7)
    base = qv.select(F.col("vec_id").alias("_id"), F.col("v").alias("_v"))

    def ref_ivf(nlist, iters):
        init = base.orderBy("_id").limit(nlist).collect()
        cents = [(i, [int(x) for x in r["_v"]]) for i, r in enumerate(init)]
        for _ in range(iters):
            assigned = base.withColumn("cell", ivf_cell("_v", cents))
            means = (
                assigned.select("cell", F.posexplode("_v").alias("dim", "x"))
                .groupBy("cell", "dim")
                .agg(
                    F.floor(F.sum("x") / F.count(F.lit(1)))
                    .cast("bigint")
                    .alias("m")
                )
                .collect()
            )
            by_cell = {}
            for r in means:
                by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = int(r["m"])
            cents = [
                (
                    cid,
                    [by_cell[cid][d] for d in range(len(old))]
                    if cid in by_cell
                    else old,
                )
                for cid, old in cents
            ]
        return cents

    def ref_pq(nsub, ksub, iters):
        init = base.orderBy("_id").limit(ksub).collect()
        dims = len(init[0]["_v"])
        dsub = dims // nsub
        books = [
            [[int(x) for x in r["_v"][s * dsub : (s + 1) * dsub]] for r in init]
            for s in range(nsub)
        ]
        for _ in range(iters):
            enc = base.withColumn("codes", pq_encode("_v", books))
            means = (
                enc.select("codes", F.posexplode("_v").alias("dim", "x"))
                .withColumn("code", F.expr(f"codes[cast(dim / {dsub} as int)]"))
                .groupBy("dim", "code")
                .agg(
                    F.floor(F.sum("x") / F.count(F.lit(1)))
                    .cast("bigint")
                    .alias("m")
                )
                .collect()
            )
            got = {(int(r["dim"]), int(r["code"])): int(r["m"]) for r in means}
            books = [
                [
                    [
                        got.get((s * dsub + d, c), books[s][c][d])
                        for d in range(dsub)
                    ]
                    for c in range(len(books[s]))
                ]
                for s in range(nsub)
            ]
        return books

    assert train_ivf_codebook(qv, "v", "vec_id", nlist=32, iters=2) == ref_ivf(
        32, 2
    )
    assert train_pq_codebook(qv, "v", "vec_id", iters=2) == ref_pq(8, 16, 2)
