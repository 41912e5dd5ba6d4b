"""Stored banded-LSH index (sources/semlsh_index): the partition-local
verify law — stored-index drops ≡ query-time shuffle drops, bit for bit
— plus the plan guarantee (no Exchange before the grouped verify) and
the dup-storm memory bound (chunked pairwise matrices)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from polar_spark.functions.similarity import (
    quantize,
    semdedup_lsh_drop_ids,
)
from polar_spark.sources import semlsh_index as SL
from polar_spark.sources.semlsh_index import (
    semdedup_lsh_drop_ids_stored,
    write_semlsh_index,
)
from polar_spark.sources.tables import load_table


@pytest.fixture()
def qv(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", quantize("embedding").alias("v")
    )


def _drops(df):
    return sorted(r["drop_id"] for r in df.collect())


def _with_table(spark, tmp_path, name, qv, bands, r, **kw):
    write_semlsh_index(
        qv, name, dims=64, bands=bands, planes_per_band=r,
        path=str(tmp_path / name), **kw,
    )
    return name


def test_stored_verify_law_bit_identical(spark, tmp_path, qv):
    """The headline law: stored-index partition-local verify produces
    the EXACT drop set of the vector-shuffling query-time form, at the
    registry's (16 bands × 4 planes, τ² = 0.16) operating point."""
    t = _with_table(spark, tmp_path, "semlsh_law", qv, 16, 4)
    try:
        stored = _drops(semdedup_lsh_drop_ids_stored(spark, t, 1600))
        shuffled = _drops(
            semdedup_lsh_drop_ids(
                qv, 64, bands=16, planes_per_band=4, tau_sq_pct=1600
            )
        )
        assert stored == shuffled
        assert len(stored) > 0  # non-vacuous at this τ on this corpus
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stored_verify_plan_no_vector_shuffle(spark, tmp_path, qv):
    """Physical-plan guarantee: the bucketed scan satisfies the grouped
    verify's clustering, so NO Exchange feeds FlatMapGroupsInPandas —
    the only Exchange in the whole plan is the final ids-only distinct
    (vectors never cross a shuffle at query time)."""
    t = _with_table(spark, tmp_path, "semlsh_plan", qv, 8, 6)
    try:
        df = semdedup_lsh_drop_ids_stored(spark, t, 1600)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan
        assert "Bucketed: true" in plan
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange" in ln
        ]
        assert len(exchanges) == 1, plan
        assert "drop_id" in exchanges[0]  # ids-only
        # and the verify subtree is scan → sort → group (no exchange
        # between the FileScan and the pandas group map)
        verify_at = plan.index("FlatMapGroupsInPandas")
        assert "Exchange" not in plan[verify_at:]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dup_storm_bucket_chunked(spark, tmp_path, monkeypatch):
    """Adversarial dup storm: one bucket holds the entire corpus (all
    vectors identical up to one quantum). With _CHUNK_CELLS forced tiny
    the pairwise matrix is built in many row chunks — the drop set must
    still be every id but the minimum, identical to the shuffle path."""
    monkeypatch.setattr(SL, "_CHUNK_CELLS", 64)
    n = 40
    base = [100 + (i % 7) for i in range(64)]
    rows = [
        (i, [x + (1 if i % 2 else 0) for x in base]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    write_semlsh_index(
        df, "semlsh_storm", dims=64, bands=4, planes_per_band=4,
        path=str(tmp_path / "storm"),
    )
    try:
        stored = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_storm", 9025)
        )
        shuffled = _drops(
            semdedup_lsh_drop_ids(
                df, 64, bands=4, planes_per_band=4, tau_sq_pct=9025
            )
        )
        assert stored == shuffled == list(range(1, n))
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_storm")


def test_exact_tie_arbitration(spark, tmp_path):
    """Borderline pairs take the exact integer path: identical vectors
    at τ² = 1.0 sit EXACTLY on the threshold (d²·10⁴ == n2²·10⁴) —
    float scoring alone cannot decide ≥ here; the law still holds."""
    v = [int(x) for x in range(1, 65)]
    df = spark.createDataFrame(
        [(0, v), (1, v), (2, [-x for x in v])],
        "vec_id long, v array<bigint>",
    )
    write_semlsh_index(
        df, "semlsh_tie", dims=64, bands=3, planes_per_band=3,
        path=str(tmp_path / "tie"),
    )
    try:
        stored = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_tie", 10000)
        )
        shuffled = _drops(
            semdedup_lsh_drop_ids(
                df, 64, bands=3, planes_per_band=3, tau_sq_pct=10000
            )
        )
        assert stored == shuffled == [1]  # tie included (>=), opposite kept
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_tie")


def test_append_equals_rebuild(spark, tmp_path, qv):
    """Incremental-ingest law (VERDICT r11 ask #3): write half the
    corpus, append the other half, and the stored verify must produce
    the BIT-IDENTICAL drop set of a full rebuild over the union — the
    md5-derived hyperplane family pinned in table properties puts
    appended rows in exactly the buckets a rebuild would. The appended
    table (multiple files per bucket) must ALSO keep the zero-Exchange
    verify plan: bucketed scans report hash partitioning regardless of
    files-per-bucket; only the sortBy guarantee degrades, which the
    verify never relied on."""
    from polar_spark.sources.semlsh_index import (
        append_semlsh_index,
        semlsh_index_params,
    )

    half_a = qv.filter(F.col("vec_id") % 2 == 0)
    half_b = qv.filter(F.col("vec_id") % 2 == 1)
    _with_table(spark, tmp_path, "semlsh_appended", half_a, 16, 4)
    _with_table(spark, tmp_path, "semlsh_rebuilt", qv, 16, 4)
    try:
        p = semlsh_index_params(spark, "semlsh_appended")
        assert p == {
            "dims": 64, "bands": 16, "planes_per_band": 4,
            "prefix_bits": 4, "num_buckets": 32, "vbytes": 2,
        }
        append_semlsh_index(half_b, "semlsh_appended")
        appended = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_appended", 1600)
        )
        rebuilt = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_rebuilt", 1600)
        )
        assert appended == rebuilt
        assert len(appended) > 0  # non-vacuous at this τ on this corpus
        # row accounting: union ingested exactly once
        assert (
            spark.table("semlsh_appended").count()
            == spark.table("semlsh_rebuilt").count()
        )
        # zero-Exchange plan survives the append
        df = semdedup_lsh_drop_ids_stored(spark, "semlsh_appended", 1600)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan and "Bucketed: true" in plan
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1 and "drop_id" in exchanges[0], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_appended")
        spark.sql("DROP TABLE IF EXISTS semlsh_rebuilt")


def test_compact_after_appends(spark, tmp_path, qv):
    """compact_semlsh_index re-rolls per-append bucket files in one IO
    pass (no re-explode): drops bit-identical before/after, files per
    bucket reduced, operating-point properties re-pinned, and the
    zero-Exchange verify plan intact on the compacted table."""
    from polar_spark.sources.semlsh_index import (
        append_semlsh_index,
        compact_semlsh_index,
        semlsh_index_params,
    )

    thirds = [qv.filter(F.col("vec_id") % 3 == k) for k in range(3)]
    _with_table(spark, tmp_path, "semlsh_cmp", thirds[0], 16, 4)
    try:
        append_semlsh_index(thirds[1], "semlsh_cmp")
        append_semlsh_index(thirds[2], "semlsh_cmp")
        before = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_cmp", 1600)
        )
        p_before = semlsh_index_params(spark, "semlsh_cmp")
        stats = compact_semlsh_index(
            spark, "semlsh_cmp", str(tmp_path / "semlsh_cmp_v2")
        )
        # one file per bucket exactly: the rewrite rides the forced
        # bucketed scan, one task owning each bucket's whole file set
        assert stats["files_after"] == p_before["num_buckets"]
        assert stats["files_after"] < stats["files_before"]
        assert semlsh_index_params(spark, "semlsh_cmp") == p_before
        after = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_cmp", 1600)
        )
        assert after == before and len(after) > 0
        plan = (
            semdedup_lsh_drop_ids_stored(spark, "semlsh_cmp", 1600)
            ._jdf.queryExecution().executedPlan().toString()
        )
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert len(exchanges) == 1 and "drop_id" in exchanges[0], plan
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_cmp")
        spark.sql("DROP TABLE IF EXISTS semlsh_cmp_compacting")


def test_append_requires_pinned_params(spark, tmp_path, qv):
    """append_semlsh_index must refuse a table without the pinned
    operating point rather than explode with mismatched planes."""
    from polar_spark.sources.semlsh_index import append_semlsh_index

    qv.limit(5).write.mode("overwrite").option(
        "path", str(tmp_path / "plain_tbl")
    ).saveAsTable("semlsh_plain")
    # an index table whose pack width is not pinned
    t = _with_table(spark, tmp_path, "semlsh_novbytes", qv.limit(5), 4, 4)
    spark.sql(f"ALTER TABLE {t} UNSET TBLPROPERTIES ('polar.semlsh.vbytes')")
    try:
        for name in ("semlsh_plain", t):
            with pytest.raises(ValueError, match="missing semlsh properties"):
                append_semlsh_index(qv.limit(5), name)
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_plain")
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_rows_shape(spark, tmp_path, qv):
    """Store contract (r13 packed layout): n·bands rows, int64 bucket,
    bpre = leading prefix-bit int of the bucket (one shift), vq the
    lossless int16 pack of the quantized vector, n2 the exact
    self-dot."""
    import numpy as np

    t = _with_table(
        spark, tmp_path, "semlsh_shape", qv, 8, 6, prefix_bits=3
    )
    try:
        store = spark.table(t)
        n = qv.count()
        assert store.count() == n * 8
        assert dict(store.dtypes)["vq"] == "binary"
        assert dict(store.dtypes)["bucket"] == "bigint"
        bad = store.filter(
            F.shiftright("bucket", 6 - 3).cast("int") != F.col("bpre")
        ).count()
        assert bad == 0
        assert store.filter(~F.col("bpre").between(0, 7)).count() == 0
        one = store.limit(1).collect()[0]
        v = np.frombuffer(one["vq"], dtype="<i2").astype(int)
        assert len(v) == 64
        assert one["n2"] == int((v * v).sum())
        # packed payload is 4x the raw cut: 2 bytes/dim vs 8
        assert len(one["vq"]) == 64 * 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pack_overflow_raises(spark):
    """pack_vec must fail LOUDLY on a component beyond the pack width —
    a silent wrap would corrupt every downstream dot."""
    from polar_spark.functions.similarity import pack_vec

    df = spark.createDataFrame(
        [(0, [40000] * 4)], "vec_id long, v array<bigint>"
    )
    with pytest.raises(Exception, match="pack width"):
        df.select(pack_vec("v", 2)).collect()
    # the wide pack takes it
    assert df.select(pack_vec("v", 4).alias("b")).first()["b"] is not None


def test_compact_rejects_inplace_path(spark, tmp_path, qv):
    """compact_semlsh_index must refuse the table's CURRENT location as
    the rewrite target (overwrite would clobber its own input,
    ADVICE r12)."""
    from polar_spark.sources.semlsh_index import compact_semlsh_index

    _with_table(spark, tmp_path, "semlsh_guard", qv.limit(50), 4, 4)
    try:
        with pytest.raises(ValueError, match="current location"):
            compact_semlsh_index(
                spark, "semlsh_guard", str(tmp_path / "semlsh_guard")
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_guard")


def test_swap_recovery_mid_compact(spark, tmp_path, qv):
    """The DROP→RENAME crash window: simulate a kill after DROP by
    hand-constructing the half-swapped state (tmp table complete and
    property-pinned, canonical name unbound). The next touch of the
    store — params lookup or verify — must rename tmp back, and drops
    must be bit-identical to pre-crash."""
    from polar_spark.sources.semlsh_index import (
        recover_semlsh_swap,
        semlsh_index_params,
    )

    _with_table(spark, tmp_path, "semlsh_swap", qv, 16, 4)
    try:
        before = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_swap", 1600)
        )
        p = semlsh_index_params(spark, "semlsh_swap")
        # the compact body up to (and including) DROP, minus the RENAME
        spark.table("semlsh_swap").write.mode("overwrite").bucketBy(
            32, "band", "bpre"
        ).sortBy("band", "bpre").option(
            "path", str(tmp_path / "swap_v2")
        ).format("parquet").saveAsTable("semlsh_swap_compacting")
        props = ", ".join(
            f"'polar.semlsh.{k}' = '{int(v)}'" for k, v in p.items()
        )
        spark.sql(
            f"ALTER TABLE semlsh_swap_compacting SET TBLPROPERTIES ({props})"
        )
        spark.sql("DROP TABLE semlsh_swap")
        assert not spark.catalog.tableExists("semlsh_swap")
        # any entry self-heals; params is the common one
        assert semlsh_index_params(spark, "semlsh_swap") == p
        assert spark.catalog.tableExists("semlsh_swap")
        assert not spark.catalog.tableExists("semlsh_swap_compacting")
        after = _drops(
            semdedup_lsh_drop_ids_stored(spark, "semlsh_swap", 1600)
        )
        assert after == before and len(after) > 0
        # and recovery is a no-op when nothing is half-swapped
        assert recover_semlsh_swap(spark, "semlsh_swap") is False
    finally:
        spark.sql("DROP TABLE IF EXISTS semlsh_swap")
        spark.sql("DROP TABLE IF EXISTS semlsh_swap_compacting")
