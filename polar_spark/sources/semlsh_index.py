"""Materialized banded sign-LSH vector store: partition-local semantic
dedup verification with ZERO vector payloads in the query-time shuffle.

Closes the one measured scale wall of the banded-LSH SemDeDup family
(DECADES_r10_semdedup.json ``note_2000x``): the query-time form
(functions/similarity.semdedup_lsh_drop_ids) re-joins both quantized
vector payloads onto every candidate pair, so at ~4M vectors the
~60M-pair verify join shuffles ~60-70 GB of vectors and exhausts a
single host's spill disk. The fix is the same physical trade the
ANN path already makes (sources/ivf_index): pay a narrow, shuffle-free
layout write ONCE at ingest, then let every query verify candidates
where the vectors already live.

Layout — one bucketed catalog table (the operators/bucketing machinery):

- ingest explodes each vector into ``bands`` rows ``(band, bpre,
  bucket, id, vq, n2)`` — a narrow map (one shared int64 matmul per
  Arrow batch, ``lsh_band_bucket_ids``), NO shuffle;
- ``vq`` is the vector PACKED as fixed-width little-endian binary
  (functions/similarity.pack_vec, default int16 — lossless under the
  floor(x·1e4) quantize contract for any |x| ≤ 3.27 embedding, and the
  pack raises loudly on overflow rather than rounding). r12's layout
  carried the vector as ``array<bigint>`` in EVERY band row — a
  bands×·8 B/dim duplication that measured 23-35× the corpus bytes at
  real operating points and capped the r12 trigger sweep at 8M vectors
  (~75 GB projected at 20M). The pack cuts the per-row vector payload
  4× (plus parquet's per-element list levels) while keeping the verify
  arithmetic bit-identical: unpack → the SAME int64 dots;
- ``bucket`` is the band's sign pattern as an int64 (8 B; r12 stored a
  ``planes_per_band``-char '0'/'1' string) and ``bpre`` is its leading
  ``prefix_bits`` bits (one shift): the grouping key ``(band, bpre)``
  gives bands·2^prefix_bits groups, so group granularity is tunable
  independently of the (corpus-dependent) full bucket population;
- ``bucketBy(num_buckets, "band", "bpre")`` + ``sortBy`` makes the scan
  report hash partitioning on the grouping key, so the verify's
  ``groupBy("band","bpre").applyInPandas`` needs NO Exchange
  (plan-asserted in tests/test_semlsh_index.py) — each read task opens
  its bucket files, sorts locally, and verifies its groups in place.

Verification inside a group is numpy over sub-buckets: rows are
grouped by full ``bucket``, each sub-bucket's pairwise int64 dot matrix
is computed in id-sorted row chunks (chunk size scales inversely with
the sub-bucket so the matrix stays ~32 MB even under a dup-storm
bucket), and the exact integer threshold test — the SAME
``d·d·10⁴ ≥ n2_a·n2_b·τ²pct`` decimal test the shuffle path applies —
is decided by a float64 pre-classifier with a 1e-9 relative guard band
plus exact Python-int arbitration of the (rare) borderline pairs, so
the drop set is BIT-IDENTICAL to ``semdedup_lsh_drop_ids`` (pytest
law). The only query-time exchange is the final ids-only ``distinct``.

A pair colliding in k>1 bands is verified k times (once per band
partition) instead of deduplicated first — that duplication factor is
small by construction (a random pair collides in ≤ bands/n expected
bands at the operating point) and is the price of never moving a
vector at query time.

Why the batch face keeps vectors CO-LOCATED (packed) while the
streaming face (streaming/dedup.StreamingSemDedupLSH) moved to
ids-only band rows + a 1× vectors table in r13: the two verifies have
different access patterns. The streaming verify touches only the
candidates MATCHED by one micro-batch — an id-join against the
kept-vectors table costs O(candidates), so carrying vectors in band
rows bought little and cost bands× bytes. The batch verify touches
EVERY bucket group of the whole corpus at once; with ids-only rows its
vectors would have to join onto n·bands rows grouped by (band, bpre) —
and since the grouping key (band, bpre) and the join key (id) are
different keys, no bucketing can co-locate both: the join or the
groupBy must Exchange n·bands vector payloads at query time, which is
exactly the shuffle wall this table exists to remove. Co-location is
the only zero-Exchange layout for the full-corpus verify; the int16
pack is the (lossless) version of the storage cut that preserves it.

Pre-r13 tables (``v array<bigint>``, string buckets) stay readable:
the verify branches on the store schema, and ``append_semlsh_index``
emits whichever row shape the table already has.

Maintenance lifecycle (append → compact → swap) is crash-safe since
r13: append/compact serialize on an flock next to the warehouse (the
same discipline as the streaming sink's epoch ledger), and the compact
swap (DROP old name → RENAME tmp) is recoverable — the rewrite lands
fully (with re-pinned properties) under ``<table>_compacting`` BEFORE
the old name is dropped, so a SIGKILL inside the swap window leaves a
complete tmp table that :func:`recover_semlsh_swap` (called from every
read/append/compact entry) renames back on next touch
(tests/test_chaos_kill.py kills a child mid-lifecycle and asserts
drops bit-identical after recovery).

100 TB shape: store size is n·bands rows written once — ~n·bands·
(2·dims + 24) bytes packed, vs n·bands·(8·dims + …) before — with
linear scans thereafter; query-time shuffle volume is O(drop ids). On
a cluster the bucket files spread across executors and every verify
task is local to its bucket — the exact "data lives where the work
happens" placement the reference gets from pinning a key's token range
to one broker (internal/types/token.go ring placement; design
provenance only).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polar_spark.functions.similarity import (
    lsh_band_bucket_ids,
    lsh_band_buckets,
    pack_vec,
    sq_norm,
    unpack_mat,
)
from polar_spark.store import file_lock

# target element count of one pairwise dot-matrix chunk (int64 cells);
# 4M cells = 32 MB — bounds verify memory even for a dup-storm bucket
_CHUNK_CELLS = 4_000_000

# parquet codec for store writes: the band rows are written once and
# scanned many times — zstd buys ~1.5-2× over snappy on this shape for
# negligible scan-side cost
_STORE_CODEC = "zstd"


def semlsh_store_df(
    df: DataFrame,
    dims: int,
    bands: int,
    planes_per_band: int,
    prefix_bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "v",
    vbytes: int = 2,
    packed: bool = True,
) -> DataFrame:
    """The exploded store rows — a narrow map over ``df`` (no shuffle).
    ``df[vec_col]`` must already be quantized int64 (the
    functions.similarity contract).

    ``packed=True`` (the r13 layout): ``(band, bpre, bucket:long,
    id, vq:binary, n2)`` with ``vq = pack_vec(v, vbytes)``.
    ``packed=False`` reproduces the pre-r13 rows ``(band, bpre,
    bucket:string, id, v:array<bigint>, n2)`` so appends into legacy
    tables keep their schema."""
    r = int(planes_per_band)
    k = min(int(prefix_bits), r)
    if packed:
        t = df.select(
            F.col(id_col).alias("id"),
            pack_vec(F.col(vec_col), vbytes).alias("vq"),
            sq_norm(F.col(vec_col)).alias("n2"),
            F.posexplode(
                lsh_band_bucket_ids(vec_col, dims, bands, r)
            ).alias("band", "bucket"),
        )
        return t.select(
            "band",
            F.shiftright("bucket", r - k).cast("int").alias("bpre"),
            "bucket",
            "id",
            "vq",
            "n2",
        )
    t = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sq_norm(F.col(vec_col)).alias("n2"),
        F.posexplode(
            lsh_band_buckets(vec_col, dims, bands, r)
        ).alias("band", "bucket"),
    )
    # leading k bucket bits as an int: '1'/'0' strings → binary parse
    return t.select(
        "band",
        F.conv(F.substring("bucket", 1, k), 2, 10).cast("int").alias("bpre"),
        "bucket",
        "id",
        "v",
        "n2",
    )


def _lock_path(spark: SparkSession, table: str) -> str:
    """Stable per-table maintenance lock location: next to the Spark
    warehouse (the table's own location moves on every compact swap,
    so the lock cannot live inside it). Single-host scope — the same
    contract as every store.file_lock; a multi-node deployment
    serializes maintenance through its catalog instead."""
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    os.makedirs(wh, exist_ok=True)
    safe = table.replace("/", "_").replace(".", "_")
    return os.path.join(wh, f"_semlsh_{safe}.lock")


def _store_lock(spark: SparkSession, table: str):
    """Exclusive flock serializing append/compact on one store — the
    "serialize against concurrent appends" contract enforced instead
    of documented (VERDICT r12 ask #2)."""
    return file_lock(_lock_path(spark, table), f"semlsh({table})", timeout=None)


def _tmp_name(table: str) -> str:
    return f"{table}_compacting"


def recover_semlsh_swap(spark: SparkSession, table: str) -> bool:
    """Complete a compact swap a crash interrupted. The swap window is
    DROP(table) → RENAME(tmp, table); a kill inside it leaves the data
    fully written and property-pinned under ``<table>_compacting`` with
    the canonical name unbound. Called from every read/append/compact
    entry: if the canonical name is missing but the tmp table exists,
    finish the rename. If BOTH exist, the crash happened before the
    drop — the tmp is a dead rewrite the next compact overwrites; it is
    left alone. Returns True if a recovery rename happened."""
    tmp = _tmp_name(table)
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(tmp):
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        return True
    return False


def _table_location(spark: SparkSession, table: str) -> str | None:
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (r["col_name"] or "").strip() == "Location":
            return (r["data_type"] or "").strip().removeprefix("file:")
    return None


def write_semlsh_index(
    df: DataFrame,
    table: str,
    dims: int,
    bands: int,
    planes_per_band: int,
    path: str | None = None,
    prefix_bits: int = 10,
    num_buckets: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "v",
    vbytes: int = 2,
) -> None:
    """Ingest: explode to band rows (narrow) and persist as a bucketed
    catalog table on ``(band, bpre)``. ``bucketBy`` writes without a
    shuffle — each input task emits one file per (band,bpre) hash
    bucket it touches — and the bucketed read is what lets every
    subsequent verify run Exchange-free.

    The LSH operating point (dims/bands/planes/prefix_bits) is pinned
    in table properties so :func:`append_semlsh_index` can grow the
    corpus with the SAME deterministic hyperplane family — a growing
    store never re-pays full ingest (VERDICT r11 ask #3). ``vbytes``
    (the pack width) is pinned with them so appends and the verify
    decode with the width the store was written at.

    Layout story (one artifact, two physical faces): this bucketed
    catalog table is the BATCH face — hash-bucketed on (band, bpre) so
    the verify's groupBy rides the reported partitioning with zero
    Exchange. The streaming sink (streaming/dedup.StreamingSemDedupLSH)
    writes the same exploded rows as (band, bpre) DIRECTORY partitions
    instead, because a per-trigger append must be a cheap new ``ep=``
    partition and the per-batch read wants PartitionFilters pruning to
    the batch's bucket neighborhoods. Same rows, same verify math; the
    bucketed form optimizes full-corpus verify, the directory form
    optimizes incremental trigger reads."""
    rows = semlsh_store_df(
        df, dims, bands, planes_per_band, prefix_bits, id_col, vec_col,
        vbytes=vbytes,
    )
    w = (
        rows.write.mode("overwrite")
        .option("compression", _STORE_CODEC)
        .bucketBy(num_buckets, "band", "bpre")
        .sortBy("band", "bpre")
    )
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
    props = ", ".join(
        f"'polar.semlsh.{k}' = '{int(v)}'"
        for k, v in {
            "dims": dims,
            "bands": bands,
            "planes_per_band": planes_per_band,
            "prefix_bits": min(int(prefix_bits), int(planes_per_band)),
            "num_buckets": num_buckets,
            "vbytes": vbytes,
        }.items()
    )
    df.sparkSession.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def semlsh_index_params(spark: SparkSession, table: str) -> dict[str, int]:
    """The operating point pinned by :func:`write_semlsh_index`.
    Completes an interrupted compact swap first, so every read path
    self-heals (the canonical name is re-bound before any lookup can
    fail). ``vbytes`` defaults to 2 for packed tables written before
    the prop existed; legacy (array-vector) tables carry no pack."""
    recover_semlsh_swap(spark, table)
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    props = {
        r["key"].removeprefix("polar.semlsh."): int(r["value"])
        for r in rows
        if r["key"].startswith("polar.semlsh.")
    }
    required = {"dims", "bands", "planes_per_band", "prefix_bits", "num_buckets"}
    missing = required - set(props)
    if missing:
        raise ValueError(
            f"table {table} is missing semlsh properties {sorted(missing)} "
            "— was it written by write_semlsh_index?"
        )
    props.setdefault("vbytes", 2)
    return props


def append_semlsh_index(
    df: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> None:
    """Incremental ingest: explode NEW vectors with the table's pinned
    operating point and append into the same bucket layout. The
    hyperplane family is md5-derived from (dims, bands·planes) alone,
    so appended rows land in exactly the buckets a full rebuild would
    put them in — append ≡ rebuild, bit-identical drops (law test in
    tests/test_semlsh_index.py). Appends add one file per (task,
    touched bucket); the bucketed scan still reports hash partitioning
    with multiple files per bucket (each read task opens all its
    bucket's files), so the verify stays Exchange-free. Only the
    per-file sortBy guarantee degrades, which the verify never relied
    on (it groups by full bucket in pandas).

    Serialized against concurrent appends/compacts by the store flock
    (a retried append after a crash is the CALLER's idempotency to
    manage — the catalog append itself is atomic at file granularity,
    and the chaos matrix covers the kill-mid-append window)."""
    spark = df.sparkSession
    with _store_lock(spark, table):
        p = semlsh_index_params(spark, table)
        legacy = "vq" not in spark.table(table).columns
        rows = semlsh_store_df(
            df,
            p["dims"],
            p["bands"],
            p["planes_per_band"],
            p["prefix_bits"],
            id_col,
            vec_col,
            vbytes=p["vbytes"],
            packed=not legacy,
        )
        (
            rows.write.mode("append")
            .option("compression", _STORE_CODEC)
            .bucketBy(p["num_buckets"], "band", "bpre")
            .sortBy("band", "bpre")
            .format("parquet")
            .saveAsTable(table)
        )


def compact_semlsh_index(
    spark: SparkSession, table: str, path: str
) -> dict[str, int]:
    """Re-roll an appended store into ~one file per bucket — ONE IO
    pass over the already-exploded rows (no re-explode, no matmul: the
    cost :func:`append_semlsh_index` avoids stays avoided). Each
    append adds one file per (task, touched bucket); after many small
    appends the bucketed read opens many files per bucket. The rewrite
    reads bucket-aligned (no Exchange — the scan satisfies the write's
    bucketing) into a NEW path, re-pins the operating-point
    properties, then swaps the catalog name. The old path is the
    caller's to delete once nothing reads it.

    Crash-safe (VERDICT r12 ask #2): the tmp table is complete and
    property-pinned BEFORE the old name is dropped, so the only
    at-risk window (DROP → RENAME) is repaired by
    :func:`recover_semlsh_swap` on the next touch of the store; and
    the whole operation holds the store flock, so a concurrent append
    can neither write into the table mid-rewrite nor land between the
    read and the swap. ``path`` must be a NEW location — passing the
    table's current location would have mode('overwrite') clobber the
    files the rewrite is still reading (guarded, ADVICE r12)."""
    with _store_lock(spark, table):
        p = semlsh_index_params(spark, table)
        cur = _table_location(spark, table)
        if cur and os.path.realpath(cur) == os.path.realpath(path):
            raise ValueError(
                f"compact target path {path!r} is the table's current "
                "location — the rewrite would overwrite its own input; "
                "pass a fresh path and delete the old one after the swap"
            )
        files_before = spark.table(table).inputFiles()
        tmp = _tmp_name(table)
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        # force the BUCKETED scan for the rewrite: auto-bucketed-scan
        # de-buckets this read (a bare write "doesn't benefit" from
        # clustering in the optimizer's eyes, and an explicit repartition
        # gets removed as redundant against the bucketed scan's reported
        # partitioning) — leaving one write task per INPUT FILE, i.e. no
        # compaction at all. With the bucketed scan on, one task owns each
        # bucket's whole file set and emits exactly one output file.
        conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        old = spark.conf.get(conf_key, "true")
        spark.conf.set(conf_key, "false")
        try:
            (
                spark.table(table)
                .write.mode("overwrite")
                .option("compression", _STORE_CODEC)
                .bucketBy(p["num_buckets"], "band", "bpre")
                .sortBy("band", "bpre")
                .option("path", path)
                .format("parquet")
                .saveAsTable(tmp)
            )
        finally:
            spark.conf.set(conf_key, old)
        props = ", ".join(
            f"'polar.semlsh.{k}' = '{int(v)}'" for k, v in p.items()
        )
        spark.sql(f"ALTER TABLE {tmp} SET TBLPROPERTIES ({props})")
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        files_after = spark.table(table).inputFiles()
        return {
            "files_before": len(files_before),
            "files_after": len(files_after),
        }


def _verify_group_fn(tau_sq_pct: int, vbytes: int | None):
    """Per-(band,bpre)-group verifier: numpy pairwise dots per full
    bucket, exact integer threshold, emits drop ids (higher id of every
    verified pair — the keep-lowest policy of semdedup_lsh_drop_ids).
    ``vbytes`` set → packed store rows (decode ``vq``); None → legacy
    ``array<bigint>`` rows. Both decode to the same int64 matrix, so
    the drop arithmetic is shared and bit-identical across layouts."""
    tau = int(tau_sq_pct)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        drops: set[int] = set()
        for _, g in pdf.groupby("bucket", sort=False):
            m = len(g)
            if m < 2:
                continue
            g = g.sort_values("id")
            ids = g["id"].to_numpy()
            if vbytes is not None:
                V = unpack_mat(g["vq"], vbytes)
            else:
                V = np.stack(g["v"].to_numpy()).astype(np.int64, copy=False)
            n2 = g["n2"].to_numpy().astype(np.float64)
            n2i = g["n2"].tolist()
            chunk = max(1, _CHUNK_CELLS // m)
            for s in range(0, m, chunk):
                e = min(s + chunk, m)
                D = V[s:e] @ V.T  # exact int64 (quantize contract)
                Df = D.astype(np.float64)
                lhs = Df * Df * 10000.0
                rhs = (n2[s:e, None] * n2[None, :]) * float(tau)
                # strict upper triangle relative to the full matrix:
                # row i (global s+li) vs columns j > s+li, d > 0 only
                cols = np.arange(m)[None, :]
                rows_g = np.arange(s, e)[:, None]
                upper = (cols > rows_g) & (D > 0)
                clear_pass = upper & (lhs > rhs * (1.0 + 1e-9))
                border = (
                    upper & (lhs >= rhs * (1.0 - 1e-9)) & ~clear_pass
                )
                for j in np.unique(np.nonzero(clear_pass)[1]):
                    drops.add(int(ids[j]))
                if border.any():
                    bi, bj = np.nonzero(border)
                    for li, j in zip(bi.tolist(), bj.tolist()):
                        i = s + li
                        d = int(D[li, j])
                        if d * d * 10000 >= int(n2i[i]) * int(n2i[j]) * tau:
                            drops.add(int(ids[j]))
        return pd.DataFrame({"drop_id": sorted(drops)}, dtype="int64")

    return verify


def semdedup_lsh_drop_ids_stored(
    spark: SparkSession,
    table: str,
    tau_sq_pct: int = 9025,
) -> DataFrame:
    """Distinct ids to DROP, verified partition-locally over the stored
    index — bit-identical to ``semdedup_lsh_drop_ids`` on the same
    corpus/bands/planes (tests/test_semlsh_index.py law), with the only
    query-time Exchange being the final ids-only ``distinct``. Reads
    both the packed (r13) and the legacy array-vector layout."""
    recover_semlsh_swap(spark, table)
    store = spark.table(table)
    if "vq" in store.columns:
        vbytes = semlsh_index_params(spark, table)["vbytes"]
    else:
        vbytes = None  # pre-r13 layout: v array<bigint>
    verified = store.groupBy("band", "bpre").applyInPandas(
        _verify_group_fn(tau_sq_pct, vbytes), schema="drop_id long"
    )
    return verified.distinct()
