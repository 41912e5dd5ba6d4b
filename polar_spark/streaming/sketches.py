"""Continuously-maintained sketches: count-min and KMV as foreachBatch
sinks over an epoch-partitioned partial store.

Both sketches are linear/mergeable (count-min: counter addition, Cormode
& Muthukrishnan 2005; KMV: k-smallest-of-union, Bar-Yossef et al. 2002),
so a stream can maintain them incrementally: each micro-batch computes
its own O(sketch)-sized partial and writes it under a stable
``ep=<tag>`` partition of the store — a foreachBatch RETRY replaces
exactly its own partition by rename (the exactly-once protocol of
polar_spark/store.py), and the live sketch is just the merge of all
stored partials. Merging happens at READ time over O(epochs · sketch)
rows — never the raw stream.

One store belongs to ONE sink lineage: unlike the dedup stores (where a
duplicate partition is idempotent), sketch partials ADD — a partition
surviving from an earlier lineage would silently inflate every estimate.
So the store is purged whenever a new lineage starts: a checkpoint reset
(epoch 0 arriving after later epochs of the same checkpoint) or a fresh
checkpoint over a non-empty store.

This is the 100 TB shape for continuous cardinality / heavy-hitter
monitoring: the broker ingests at full rate while per-epoch partials
land beside the topic, and any consumer can materialize the current
estimate without a stateful streaming aggregation (no state store, no
watermark coupling — reading the store IS the query).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polar_spark.functions.sketches import (
    CM_ROWS,
    CM_WIDTH,
    DEFAULT_K,
    QS_K,
    QS_PCTS,
    _k_smallest_hashes,
    _kmv_estimate,
    HLL_M,
    cm_counters,
    cm_estimate,
    hll_estimate,
    hll_merge,
    hll_register_partial,
    kmv_partial,
    qs_partial,
    qs_quantiles,
    qs_select,
)
from polar_spark.store import (
    Claim,
    EpochSink,
    compact_epochs,
    epoch_dirs,
    publish_epoch,
    purge_epochs,
    read_json,
    read_live,
    write_json,
)


class _EpochPartialSink(EpochSink):
    """One partial per epoch over the store.EpochSink protocol, plus
    what only additive partials need: the lineage purge, the pinned
    partial schema and the fold-law compaction.

    Store longevity (r10): without maintenance the store accumulates one
    ``ep=`` partition per trigger forever, so every read merges
    O(epochs · state) rows — merge cost degrades with stream AGE, not
    data size (the reference continuously rolls its segments and
    compacts offsets instead, internal/data/segment_writer.go:172-246).
    :meth:`compact` folds all COMMITTED partials into a single
    ``ep=base<gen>`` partition via the sink's own merge law
    (:meth:`_fold` — the same expression the read path uses, so
    fold-then-read ≡ read by construction), after which reads touch
    O(1 + epochs-since-compact) partitions."""

    def __init__(self, spark: SparkSession, store_path: str):
        super().__init__(spark, store_path)
        self.store_path = store_path

    def _partial(self, batch_df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def _fold(self, stored: DataFrame) -> DataFrame:  # pragma: no cover
        """Merge a union of partials down to ONE equivalent partial of
        the same schema — each sink's merge law (sum / k-smallest /
        register-max). Shared by the live read and compaction."""
        raise NotImplementedError

    # -- store maintenance -------------------------------------------------
    def _partition_dirs(self) -> list[os.DirEntry]:
        return epoch_dirs(self.store_path)

    def _cast_to_partial_schema(self, df: DataFrame) -> DataFrame:
        """Pin the fold output to the lineage's recorded partial schema
        (merge aggregates widen types — e.g. SUM(int) → bigint — and a
        retyped base partition would break the multi-path read)."""
        schema = self._saved_schema()
        if schema is None:
            return df
        return df.select(
            *[F.col(fld.name).cast(fld.dataType) for fld in schema.fields]
        )

    def compact(self) -> tuple[int, int]:
        """Fold every COMMITTED partial (and the previous base) into one
        ``ep=base<gen>`` partition through the sink's merge law, by the
        crash-safe store.compact_epochs. Returns (n_folded,
        n_live_after)."""

        def rewrite(stored: DataFrame, out: str) -> None:
            merged = self._cast_to_partial_schema(self._fold(stored))
            merged.coalesce(1).write.mode("overwrite").parquet(out)

        folded, live = compact_epochs(
            self.spark, self.store_path, self._epochs, rewrite
        )
        return (len(folded), len(live))

    def _purge(self) -> None:
        """Drop every stored partial. Sketch partials ADD when merged, so
        partitions from an earlier lineage (pre-reset epochs, or a prior
        checkpoint) must not survive into a reprocessing run — they would
        silently inflate every estimate (store.purge_epochs: never
        mid-fold).

        The saved partial schema SURVIVES the purge (empty-store
        estimates stay schema-stable within a lineage), but is marked
        stale: the first write of the NEW lineage overwrites it, so a
        retyped lineage never serves the old key/value types past its
        first batch (reconciles ADVICE r4's stale-type hole with the
        schema-stability contract in tests/test_streaming.py)."""
        purge_epochs(self.store_path)
        if os.path.exists(self._schema_path()):
            with open(self._stale_marker_path(), "w"):
                pass

    def _apply(self, batch_df: DataFrame, c: Claim) -> None:
        # a FRESH checkpoint (key never recorded) over a non-empty store
        # is also a new lineage: the old lineage's partials must go
        new_lineage = c.epoch == 0 and c.last < 0 and bool(self._partition_dirs())
        if c.reset or new_lineage:
            self._purge()
        if not batch_df.isEmpty():
            partial = self._partial(batch_df)
            self._save_schema(partial)
            publish_epoch(
                self.store_path, c.tag, partial.write.mode("overwrite").parquet
            )

    # -- reads -------------------------------------------------------------
    def _schema_path(self) -> str:
        return os.path.join(self.store_path, "_partial_schema.json")

    def _stale_marker_path(self) -> str:
        return os.path.join(self.store_path, "_partial_schema.stale")

    def _save_schema(self, partial: DataFrame) -> None:
        """Write-if-absent-or-purged: within a lineage the first write
        pins the partial schema; a purge marks it stale so the next
        lineage's first write re-pins (possibly retyped) instead of
        inheriting the purged lineage's types."""
        stale = os.path.exists(self._stale_marker_path())
        if stale or not os.path.exists(self._schema_path()):
            write_json(self._schema_path(), partial.schema.jsonValue())
            if stale:
                os.remove(self._stale_marker_path())

    def _saved_schema(self) -> T.StructType | None:
        js = read_json(self._schema_path())
        return None if js is None else T.StructType.fromJson(js)

    def _empty_partial(self) -> DataFrame | None:
        schema = self._saved_schema()
        return None if schema is None else self.spark.createDataFrame([], schema)

    def _stored(self) -> DataFrame | None:
        """All LIVE stored partials; None = cold store. The live listing
        (store.read_live) leaves out the partials a compaction already
        folded into the base, which would double-count every additive
        estimate."""
        return read_live(self.spark, self.store_path)


class StreamingCountMin(_EpochPartialSink):
    """Count-min sketch maintained per micro-batch: the store holds one
    (cm_row, cm_bucket, cnt) partial per epoch; counters add, so the
    live sketch is a sum over partials (O(epochs · rows · width) read)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        value_col: str,
        rows: int = CM_ROWS,
        width: int = CM_WIDTH,
    ):
        super().__init__(spark, store_path)
        self.value_col = value_col
        self.rows = rows
        self.width = width

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        return cm_counters(batch_df, self.value_col, self.rows, self.width)

    def _fold(self, stored: DataFrame) -> DataFrame:
        return stored.groupBy("cm_row", "cm_bucket").agg(
            F.sum("cnt").alias("cnt")
        )

    def counters(self) -> DataFrame:
        stored = self._stored()
        if stored is None:
            return self.spark.createDataFrame(
                [], "cm_row int, cm_bucket bigint, cnt bigint"
            )
        return self._fold(stored)

    def estimate(self, keys: DataFrame, key_col: str) -> DataFrame:
        """Point-query the LIVE sketch — identical to the one-shot batch
        sketch over everything ingested so far (counter linearity)."""
        return cm_estimate(self.counters(), keys, key_col, self.rows, self.width)


class StreamingKMV(_EpochPartialSink):
    """Per-group KMV distinct sketch maintained per micro-batch: each
    epoch stores its groups' ≤ k smallest distinct hashes; the live
    estimate re-selects the k smallest over the union — bit-identical
    to the one-shot sketch (k-smallest-of-union law)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        keys: list[str],
        value_col: str,
        k: int = DEFAULT_K,
    ):
        super().__init__(spark, store_path)
        self.keys = keys
        self.value_col = value_col
        self.k = k

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        # micro-batches are small: the threshold prefilter's extra count
        # pass + broadcast would cost more than the dedupe it avoids
        return kmv_partial(
            batch_df, self.keys, self.value_col, self.k, prefilter=False
        )

    def _fold(self, stored: DataFrame) -> DataFrame:
        # k-smallest-of-union law: re-selecting over folded partials is
        # bit-identical to re-selecting over the originals
        return _k_smallest_hashes(stored, self.keys, self.k)

    def estimate(self) -> DataFrame:
        stored = self._stored()
        if stored is None:
            # schema-stable empty result: key types come from the saved
            # partial schema (first write records it), so the empty→
            # populated transition never changes column types
            stored = self._empty_partial()
            if stored is None:
                schema = ", ".join(f"{c} string" for c in self.keys)
                return self.spark.createDataFrame(
                    [], f"{schema}, n_kept bigint, est_distinct double"
                )
        return _kmv_estimate(self._fold(stored), self.keys, self.k)


class StreamingQuantile(_EpochPartialSink):
    """Per-group bottom-k quantile sample maintained per micro-batch:
    each epoch stores its groups' ≤ k smallest-id-hash rows (with
    values); the live estimate re-selects the bottom-k over the union —
    the k-smallest-of-union law makes the streamed sample, and hence
    every nearest-rank quantile read from it, bit-identical to the
    one-shot batch sketch. Completes the mergeable trio: KMV
    (distinct), count-min (frequency), bottom-k sample (quantiles)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        keys: list[str],
        id_col: str,
        value_col: str,
        k: int = QS_K,
    ):
        super().__init__(spark, store_path)
        self.keys = keys
        self.id_col = id_col
        self.value_col = value_col
        self.k = k

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        # prefilter=False per qs_partial's contract for micro-batch
        # callers: the threshold prefilter's sampled collect() + eager
        # localCheckpoint is a corpus-scale optimization, pure per-batch
        # overhead (and leaked checkpoint blocks) inside foreachBatch
        return qs_partial(
            batch_df, self.keys, self.id_col, self.value_col, self.k,
            prefilter=False,
        )

    def _fold(self, stored: DataFrame) -> DataFrame:
        return qs_select(stored, self.keys, self.k)

    def sample(self) -> DataFrame | None:
        stored = self._stored()
        if stored is None:
            stored = self._empty_partial()
            if stored is None:
                return None
        return self._fold(stored)

    def estimate(self, pcts: tuple[int, ...] = QS_PCTS) -> DataFrame:
        sample = self.sample()
        if sample is None:
            schema = ", ".join(f"{c} string" for c in self.keys)
            pcols = ", ".join(f"p{p} double" for p in pcts)
            return self.spark.createDataFrame(
                [], f"{schema}, n_sample bigint, {pcols}"
            )
        return qs_quantiles(sample, self.keys, pcts)


class StreamingHLL(_EpochPartialSink):
    """Per-group HLL register table maintained per micro-batch: each
    epoch stores O(groups · m) register partials; the live estimate
    max-merges them (hll_merge). Max is associative, commutative and
    IDEMPOTENT — alone in this module's family, a replayed or
    overlapping batch cannot change any register, so the sketch is
    correct even under at-least-once delivery; the epoch ledger here
    only buys write hygiene (purge-on-reset, bounded store size)."""

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        keys: list[str],
        value_col: str,
        m: int = HLL_M,
    ):
        super().__init__(spark, store_path)
        self.keys = keys
        self.value_col = value_col
        self.m = m

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        return hll_register_partial(
            batch_df, self.keys, self.value_col, self.m
        )

    def _fold(self, stored: DataFrame) -> DataFrame:
        return hll_merge(stored, self.keys)

    def registers(self) -> DataFrame | None:
        stored = self._stored()
        if stored is None:
            stored = self._empty_partial()
            if stored is None:
                return None
        return self._fold(stored)

    def estimate(self) -> DataFrame:
        regs = self.registers()
        if regs is None:
            schema = ", ".join(f"{c} string" for c in self.keys)
            return self.spark.createDataFrame(
                [],
                f"{schema}, v_zero bigint, s_sum bigint, est_distinct bigint",
            )
        return hll_estimate(regs, self.keys, self.m)
