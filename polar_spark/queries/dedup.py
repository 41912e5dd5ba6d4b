"""Deduplication queries over `documents` (LLM-pipeline surface).

The Spark side runs the engine's operators from functions/dedup.py
(Pandas-UDF signatures + bucket joins); the DuckDB oracles re-derive the
same md5-based math in pure SQL — interchangeable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polar_spark.functions.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    verified_near_dups,
)
from polar_spark.queries.registry import query
from polar_spark.sources.tables import load_table, parallelize_small_scan


@query(
    "dedup_exact_canonical",
    oracle="""
SELECT doc_id, md5(text) AS digest,
  MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents
""",
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical (min-id) doc per content digest."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


@query(
    "dedup_minhash_lsh",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words WHERE len(w) >= 3
), hp AS (
  SELECT doc_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS a,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(17, 32),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS b
  FROM sh
), hs AS (
  SELECT doc_id, seed, MIN((a + seed * b) % 2147483647) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
), bandkey AS (
  SELECT doc_id, seed // 4 AS band,
    md5((seed // 4)::VARCHAR || '|' || string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS band_key
  FROM hs GROUP BY doc_id, seed // 4
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bandkey a JOIN bandkey b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: 16 seeds, 4 bands × 4 rows —
    catches the generator's injected ~0.98-Jaccard pairs w.h.p. while
    keeping the join bucket-local (functions/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d, "doc_id", "text")


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
                          i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS shingle
  FROM words
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 pairs (shared-shingle equi-join — only
    overlapping pairs materialize)."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5)


# Criterion-based simhash oracle (ALL pairs within the radius) — shared
# by both simhash queries; the Spark side's candidate SCHEME (pigeonhole
# block count) cannot change the output, only its cost, so one oracle
# template serves every (radius, n_blocks) combination.
_SIMHASH_ORACLE = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents
), wc AS (
  SELECT doc_id, wd, COUNT(*) AS cnt FROM words GROUP BY doc_id, wd
), wh AS (
  SELECT doc_id, substr(md5(wd), 1, 16) AS h, cnt FROM wc
), bits AS (
  SELECT doc_id, j,
    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, (j // 4) + 1, 1)) - 1)
                   >> (3 - (j % 4))) & 1 = 1
             THEN cnt ELSE -cnt END) AS score
  FROM wh CROSS JOIN (SELECT unnest(range(0, 64)) AS j) js
  GROUP BY doc_id, j
), sig AS (
  SELECT doc_id,
    string_agg(CASE WHEN score >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sim
  FROM bits GROUP BY doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_filter(range(1, 65), i -> substr(a.sim, i, 1) <> substr(b.sim, i, 1))) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
) t WHERE hamming <= RADIUS
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE.replace("RADIUS", "8"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming ≤ 8); word-frequency-weighted
    signature computed by an Arrow-batched UDF (functions/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=8)


@query("dedup_simhash_radius3", oracle=_SIMHASH_ORACLE.replace("RADIUS", "3"))
def dedup_simhash_radius3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at the web-scale operating point:
    Hamming ≤ 3 (the radius Manku-Jain-Das Sarma run over 8B docs,
    WWW'07) with the candidate scheme at n_blocks=6 — every pair within
    3 bits keeps ≥3 of 6 blocks intact, so the C(6,3)=20 tables of
    ~32-bit keys find all candidates while the wide keys kill the
    birthday-collision quadratic the d=8 query's 7-bit keys develop
    past ~10^5 distinct signatures (r9 decade sweep). Output is
    criterion-exact either way (shared oracle, radius swapped).

    Scale: candidate generation is 20 exploded rows per DISTINCT
    signature (linear; exact-dup collapse runs first), random key
    collisions stay negligible past 10^9 signatures; the exchanges
    carry signature-sized rows, never the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3, n_blocks=6)


@query(
    "dedup_minhash_verified",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words WHERE len(w) >= 3
), hp AS (
  SELECT doc_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS a,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(17, 32),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS b
  FROM sh
), hs AS (
  SELECT doc_id, seed, MIN((a + seed * b) % 2147483647) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
), bandkey AS (
  SELECT doc_id, seed // 4 AS band,
    md5((seed // 4)::VARCHAR || '|' || string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS band_key
  FROM hs GROUP BY doc_id, seed // 4
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkey a JOIN bandkey b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.7
""",
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup pipeline: MinHash-LSH candidate generation
    followed by exact n-gram Jaccard verification restricted to the
    candidate pairs — all-pairs exactness is never paid; verification
    cost is O(|candidates|)."""
    d = load_table(spark, sf_dir, "documents")
    return verified_near_dups(d, "doc_id", "text", threshold=0.7)


# verified near-dup pairs (MinHash-LSH candidates → exact Jaccard ≥ 0.7),
# shared by the keep-list and connected-components oracles
_PAIRS_07_SQL = """WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words WHERE len(w) >= 3
), hp AS (
  SELECT doc_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS a,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(17, 32),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS b
  FROM sh
), hs AS (
  SELECT doc_id, seed, MIN((a + seed * b) % 2147483647) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
), bandkey AS (
  SELECT doc_id, seed // 4 AS band,
    md5((seed // 4)::VARCHAR || '|' || string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS band_key
  FROM hs GROUP BY doc_id, seed // 4
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkey a JOIN bandkey b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.7"""


@query(
    "dedup_keep_list",
    oracle=f"""
WITH pairs AS ({_PAIRS_07_SQL})
SELECT d.doc_id,
  CASE WHEN dr.id_b IS NULL THEN 1 ELSE 0 END AS kept
FROM documents d
LEFT JOIN (SELECT DISTINCT id_b FROM pairs) dr ON dr.id_b = d.doc_id
""",
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DELIVERABLE: a per-doc keep/drop verdict — greedy
    min-id-wins over the verified near-dup pairs (a doc is dropped iff
    some lower-id doc is a verified near-duplicate). Training pipelines
    consume this keep-list, not the pair set; at 100 TB the drop set is
    one broadcast-able distinct projection of the pairs."""
    d = load_table(spark, sf_dir, "documents")
    pairs = verified_near_dups(d, "doc_id", "text", threshold=0.7)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return d.select("doc_id").join(drops.withColumn("_d", F.lit(1)), "doc_id", "left") \
        .select("doc_id", F.when(F.col("_d").isNull(), 1).otherwise(0).alias("kept"))


@query(
    "dedup_clusters_cc",
    oracle=f"""
WITH RECURSIVE pairs AS ({_PAIRS_07_SQL}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
SELECT d.doc_id,
  CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
FROM documents d LEFT JOIN comp c USING (doc_id)
""",
)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: transitive closure over the verified pair set
    (a~b, b~c ⇒ {a,b,c} in one cluster, even when a~c was never a
    candidate pair) — each doc labeled with its cluster's min doc id;
    singletons label themselves. The oracle computes the same closure
    with a recursive CTE; Spark runs min-label propagation
    (functions/dedup.connected_components), whose per-round cost is two
    hash shuffles and whose round count is the cluster diameter."""
    from polar_spark.functions.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = verified_near_dups(d, "doc_id", "text", threshold=0.7)
    comp = connected_components(pairs)
    return (
        d.select("doc_id")
        .join(comp, d.doc_id == comp.u, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).cast("bigint").alias("component"),
        )
    )


@query(
    "dedup_incremental_index",
    oracle=f"""
WITH pairs AS ({_PAIRS_07_SQL})
SELECT id_a, id_b, jaccard FROM pairs
WHERE id_b >= (SELECT MAX(doc_id) // 2 FROM documents)
""",
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection (functions/dedup.NearDupIndex):
    the older half of the corpus is indexed (band keys + shingles in a
    parquet store), then the newer half arrives as a batch and is
    checked against the store — exactly the at-ingest dedup flow a
    production pipeline runs, where each arriving batch pays O(batch)
    instead of a full-corpus recompute. Result = every verified pair
    touching a new doc (any pair's larger id is ≥ the split point, so
    the oracle is the one-shot pair set filtered on id_b)."""
    import shutil
    import tempfile

    from polar_spark.functions.dedup import NearDupIndex

    d = load_table(spark, sf_dir, "documents")
    split = d.agg(F.max("doc_id")).first()[0] // 2
    root = tempfile.mkdtemp(prefix="polar_ndx_")
    try:
        idx = NearDupIndex(spark, root, threshold=0.7)
        idx.build(d.filter(F.col("doc_id") < split))
        # the pairs come back localCheckpointed: severed from the store
        return idx.query_and_update(d.filter(F.col("doc_id") >= split))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "dedup_strip_dup_chunks",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS wd FROM documents
), c AS (
  SELECT doc_id, wd,
    unnest(range(0, CAST(ceil(len(wd) / 20.0) AS INT))) AS ci
  FROM w
), ch AS (
  SELECT doc_id, CAST(ci AS BIGINT) AS ci,
    array_to_string(wd[ci * 20 + 1 : ci * 20 + 20], ' ') AS ct
  FROM c
), f1 AS (
  SELECT doc_id, ci, ct, MIN(doc_id) OVER (PARTITION BY ct) AS fdoc FROM ch
), f2 AS (
  SELECT doc_id, ci, ct, fdoc,
    MIN(CASE WHEN doc_id = fdoc THEN ci END) OVER (PARTITION BY ct) AS fci
  FROM f1
), fl AS (
  SELECT doc_id, ci, ct, (doc_id = fdoc AND ci = fci) AS keep FROM f2
)
SELECT doc_id,
  coalesce(string_agg(ct, ' ' ORDER BY ci) FILTER (WHERE keep), '') AS clean_text,
  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_chunks_kept,
  COUNT(*) AS n_chunks_total
FROM fl GROUP BY doc_id
""",
)
def dedup_strip_dup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-content REMOVAL with text reassembly — the RefinedWeb
    exact-substring step as a transformation, not just a detector
    (chunk_dup_ratio measures; this rewrites): split each doc into
    non-overlapping 20-word chunks, keep only the globally-first
    occurrence of each distinct chunk (lexicographic min (doc_id, idx) —
    deduplicates across docs AND repeated chunks within one doc), and
    reassemble every document from its kept chunks in order.

    Scale: one hash shuffle on chunk text for the first-occurrence
    window (min over a struct — no self-join, no pair blow-up), one
    groupBy doc_id to reassemble; both map-side combinable. The
    reassembly collect_list is bounded by document size, never corpus
    size. Docs reduced to nothing stay in the output with clean_text=''
    — the curation step downstream decides whether to drop them.
    """
    from pyspark.sql.window import Window

    from polar_spark.functions.text import chunk_documents

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    ch = chunk_documents(d, "doc_id", "text", chunk_words=20, overlap=0)
    w = Window.partitionBy("chunk_text")
    flagged = ch.withColumn(
        "_first", F.min(F.struct("doc_id", "chunk_idx")).over(w)
    ).withColumn(
        "_keep",
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("chunk_idx") == F.col("_first.chunk_idx")),
    )
    return flagged.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "case when _keep then struct(chunk_idx, chunk_text) end)), "
            "x -> x.chunk_text), ' ')"
        ).alias("clean_text"),
        F.sum(F.col("_keep").cast("bigint")).alias("n_chunks_kept"),
        F.count(F.lit(1)).alias("n_chunks_total"),
    )


@query(
    "er_fuzzy_name_pairs",
    oracle="""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM part a JOIN part b
  ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
 AND a.p_brand = b.p_brand
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
)
def er_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy string match: candidate part
    pairs whose names agree within Levenshtein distance 2, blocked on
    (product noun, brand) — the classic blocking-key + pairwise-verify
    ER pipeline (Fellegi-Sunter shape), the string-metric member of the
    dedup family (MinHash = set overlap, SimHash = weighted cosine,
    this = edit distance). Both engines' `levenshtein` is the standard
    unit-cost edit distance, so distances compare exactly.

    Scale: the block key makes the candidate join an EQUI-join (hash
    join on (noun, brand)), never a cross join — candidates are bounded
    by O(sum of block sizes squared) like SemDeDup's cell-bounded
    verify, and the quadratic term is per-block, not per-corpus. The
    p_partkey < comparison halves the pair space and canonicalizes
    (a, b) ordering. Levenshtein runs JVM-side (codegen'd builtin, no
    Python) and only on within-block pairs. At 100 TB, block-size
    skew is handled the same way as any skewed join key (salting /
    AQE skew split); a degenerate block (one noun dominating the
    catalog) is the signal to widen the key, exactly as in production
    ER systems.
    """
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    blocked = p.withColumn("_noun", F.split("p_name", " ").getItem(1))
    # probe side split across cores: part scans as ONE row-group task
    # locally, so the ~1M within-block pair generations + banded-DP
    # levenshteins all ran on one core (measured 1.8 s of the query's
    # 2.0 s at sf0.1). The build/broadcast side keeps the bare scan —
    # no exchange under a 20k-row hash build. No-op at real scale
    # (guide §2.5 input skew; see parallelize_small_scan).
    a = parallelize_small_scan(blocked).alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a._noun") == F.col("b._noun"),
                F.col("a.p_brand") == F.col("b.p_brand"),
                F.col("a.p_partkey") < F.col("b.p_partkey"),
                # length band: |len(x)-len(y)| ≤ 2 is NECESSARY for
                # edit distance ≤ 2 and costs two length() reads — the
                # standard ER pre-verify prune, cutting the O(len²) DP
                # off most candidate pairs
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                ) <= 2,
            ],
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            # banded DP: the threshold arg early-exits at distance > 2
            # (O(len·k) instead of O(len²)); pruned pairs return -1 and
            # the filter drops them — survivors carry the exact distance,
            # value-identical to the unbounded form the oracle computes
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2).alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 2))
    )


@query(
    "dedup_recall_lsh_vs_exact",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words WHERE len(w) >= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), inter_all AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), exact_pairs AS (
  SELECT id_a, id_b FROM inter_all i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.7
), hp AS (
  SELECT doc_id,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 16),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS a,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(17, 32),
      i -> CAST(strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1 AS BIGINT))),
      (acc, d) -> (acc * 16 + d) % 2147483647) AS b
  FROM sh
), hs AS (
  SELECT doc_id, seed, MIN((a + seed * b) % 2147483647) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
), bandkey AS (
  SELECT doc_id, seed // 4 AS band,
    md5((seed // 4)::VARCHAR || '|' || string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS band_key
  FROM hs GROUP BY doc_id, seed // 4
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkey a JOIN bandkey b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), found_pairs AS (
  SELECT e.id_a, e.id_b FROM exact_pairs e
  JOIN cands c ON c.id_a = e.id_a AND c.id_b = e.id_b
)
SELECT
  (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
  (SELECT COUNT(*) FROM found_pairs) AS n_found,
  (SELECT COUNT(*) FROM exact_pairs) - (SELECT COUNT(*) FROM found_pairs) AS n_missed,
  CAST((100 * (SELECT COUNT(*) FROM found_pairs))
       // greatest((SELECT COUNT(*) FROM exact_pairs), 1) AS INT) AS recall_pct
""",
)
def dedup_recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality EVALUATION: recall of the MinHash-LSH candidate
    generator against exhaustive exact-Jaccard ground truth at the 0.7
    threshold — the dedup twin of `ann_recall_ivf_vs_exact` (measure the
    approximation before trusting it at 100 TB). Verified LSH pairs are
    a SUBSET of the exact pairs by construction (same strict shingle
    universe, same metric), so precision is 1 and the number that
    matters is the band-miss rate. Both sides are deterministic md5
    machines → the recall itself is value-hash-checked.

    Scale: ground truth is the documented all-pairs verification tool
    (O(Σ df²) — run on a SAMPLE at corpus scale, exactly as here); the
    LSH side is the production banded path. One summary row out."""
    from polar_spark.functions.dedup import (
        shingle_table,
        verified_near_dups,
    )

    d = load_table(spark, sf_dir, "documents")
    sh = (
        shingle_table(d, "doc_id", "text", with_word_count=True)
        .filter(F.col("n_words") >= 3)
        .select("id", "shingle")
    )
    from polar_spark.plans.cache import persist_slot

    sh = persist_slot(sh, "dedup_recall.sh", eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= 0.7
        )
        .select("id_a", "id_b")
    )
    found = verified_near_dups(d, "doc_id", "text", threshold=0.7).select(
        "id_a", "id_b"
    )
    n_exact = exact.count()
    n_found = exact.join(found, ["id_a", "id_b"], "left_semi").count()
    return spark.createDataFrame(
        [(n_exact, n_found, n_exact - n_found,
          (100 * n_found) // max(n_exact, 1))],
        "n_exact bigint, n_found bigint, n_missed bigint, recall_pct int",
    )
