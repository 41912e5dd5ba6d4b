"""Continuously-maintained sketches: count-min and KMV as foreachBatch
sinks over an epoch-partitioned partial store.

Both sketches are linear/mergeable (count-min: counter addition, Cormode
& Muthukrishnan 2005; KMV: k-smallest-of-union, Bar-Yossef et al. 2002),
so a stream can maintain them incrementally: each micro-batch computes
its own O(sketch)-sized partial and writes it under a stable
``ep=<tag>`` partition of the store — a foreachBatch RETRY overwrites
exactly its own partition (the exactly-once protocol of
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
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

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
    STORE_LEDGER,
    EpochLedger,
    epoch_dirs,
    file_lock,
    read_json,
    read_live,
    write_json,
)
from polar_spark.streaming.ingest import start_epoch_sink


# base partitions are compaction output (`ep=base<gen>`); epoch
# partitions carry the sink-key hash + epoch number in their tag
# (store.epoch_tag), which the ledger parses to tell what is foldable
_BASE_DIR_RE = re.compile(r"^ep=base\d{8}$")


class _EpochPartialSink:
    """Shared machinery: write one partial per epoch, idempotently.

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
        self.spark = spark
        self.store_path = store_path
        os.makedirs(store_path, exist_ok=True)
        self._epochs = EpochLedger(os.path.join(store_path, STORE_LEDGER))

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

    # -- compaction manifest -------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.store_path, "_compact.json")

    def _read_manifest(self) -> dict:
        return read_json(
            self._manifest_path(), {"gen": 0, "base": None, "folded": []}
        )

    def _write_manifest(self, man: dict) -> None:
        write_json(self._manifest_path(), man)

    def _live_partition_dirs(self) -> list[os.DirEntry]:
        """Partitions a read may merge: excludes partials already folded
        into the current base (pending deletion after a compaction
        commit) and base dirs from a compaction that died before its
        manifest commit — both would double-count additive state."""
        man = self._read_manifest()
        folded = set(man.get("folded", []))
        base = man.get("base")
        out = []
        for e in self._partition_dirs():
            if e.name in folded:
                continue
            if _BASE_DIR_RE.match(e.name) and e.name != base:
                continue
            out.append(e)
        return out

    def _gc_folded(self) -> None:
        """Delete partitions superseded by the committed base: the
        manifest's folded list plus any orphaned base dir from a
        crashed compaction. Names stay in the manifest until their dir
        is verifiably gone — clearing first and failing the rmtree
        would resurrect them into reads."""
        man = self._read_manifest()
        folded = set(man.get("folded", []))
        for e in self._partition_dirs():
            if e.name in folded or (
                _BASE_DIR_RE.match(e.name) and e.name != man.get("base")
            ):
                shutil.rmtree(e.path, ignore_errors=True)
        remaining = [
            n
            for n in man.get("folded", [])
            if os.path.isdir(os.path.join(self.store_path, n))
        ]
        if len(remaining) != len(man.get("folded", [])):
            self._write_manifest({**man, "folded": remaining})

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
        ``ep=base<gen>`` partition. Returns (n_folded, n_live_after).

        Crash-safe at every step: the new base only becomes visible via
        the manifest's atomic replace (store.write_json; before it,
        readers ignore the unreferenced base dir; after it, they ignore
        the folded source dirs until GC removes them), so a SIGKILL
        anywhere leaves reads correct and the next compact/GC finishes
        the cleanup — the same write-aside-then-swap discipline as
        topics.compact.

        Only epochs at or below the ledger's recorded high-water mark
        fold (store.EpochLedger.recorded): a partition written by a
        crash BETWEEN the partial write and the epoch record still
        belongs to its replay (which will overwrite it); folding it
        would double-count the replay."""
        with self._compact_lock():
            self._gc_folded()
            man = self._read_manifest()
            parts = self._partition_dirs()
            recorded = self._epochs.recorded(e.name for e in parts)
            srcs = []
            for e in parts:
                if not os.path.exists(os.path.join(e.path, "_SUCCESS")):
                    continue  # incomplete write — not committed state
                if e.name in recorded:
                    if recorded[e.name]:  # unrecorded: the replay owns it
                        srcs.append(e)
                elif _BASE_DIR_RE.match(e.name) and e.name == man.get("base"):
                    srcs.append(e)
            if len(srcs) <= 1:
                return (0, len(self._live_partition_dirs()))
            stored = self.spark.read.parquet(*[e.path for e in srcs])
            folded = self._cast_to_partial_schema(self._fold(stored))
            gen = int(man.get("gen", 0)) + 1
            base_name = f"ep=base{gen:08d}"
            folded.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.store_path, base_name)
            )
            self._write_manifest({
                "gen": gen,
                "base": base_name,
                "folded": sorted(e.name for e in srcs),
            })
            # DEFERRED GC (review r10): the just-superseded sources stay
            # on disk until the NEXT compact's entry _gc_folded. Reads
            # exclude them via the manifest the moment it commits, and a
            # reader still holding a pre-commit listing keeps resolving
            # its paths for a full compaction cycle — closing the
            # action-time window where an immediate GC yanked files out
            # from under an in-flight scan. Disk cost: one superseded
            # generation, bounded by epochs-since-previous-compact.
            return (len(srcs), len(self._live_partition_dirs()))

    def _compact_lock(self):
        return file_lock(
            os.path.join(self.store_path, "_compact.lock"),
            f"compact({self.store_path})", timeout=None,
        )

    def _purge(self) -> None:
        """Drop every stored partial. Sketch partials ADD when merged, so
        partitions from an earlier lineage (pre-reset epochs, or a prior
        checkpoint) must not survive into a reprocessing run — they would
        silently inflate every estimate.

        The saved partial schema SURVIVES the purge (empty-store
        estimates stay schema-stable within a lineage), but is marked
        stale: the first write of the NEW lineage overwrites it, so a
        retyped lineage never serves the old key/value types past its
        first batch (reconciles ADVICE r4's stale-type hole with the
        schema-stability contract in tests/test_streaming.py).

        Serialized against compact() by the same _compact.lock flock: a
        purge landing MID-fold would otherwise let the compaction commit
        a base holding the purged lineage's state, with a folded list
        that swallows the new lineage's first partial (same sink-key
        hash) — permanently losing its committed batch and resurrecting
        dead state. Under the lock, a purge runs entirely before or
        entirely after any compaction."""
        with self._compact_lock():
            for e in self._partition_dirs():
                shutil.rmtree(e.path, ignore_errors=True)
            # the compaction manifest indexes the purged lineage's dirs —
            # a stale one would hide the NEW lineage's base after its
            # first compact (gen collision) or resurrect nothing; reset
            if os.path.exists(self._manifest_path()):
                os.remove(self._manifest_path())
            if os.path.exists(self._schema_path()):
                with open(self._stale_marker_path(), "w"):
                    pass

    def apply_batch(self, batch_df: DataFrame, epoch: int, sink_id: str) -> bool:
        """Apply one micro-batch idempotently; False = already applied
        (foreachBatch retry — store untouched)."""
        c = self._epochs.claim(sink_id, epoch)
        if c is None:
            return False
        # a FRESH checkpoint (key never recorded) over a non-empty store
        # is also a new lineage: the old lineage's partials must go
        new_lineage = epoch == 0 and c.last < 0 and bool(self._partition_dirs())
        if c.reset or new_lineage:
            self._purge()
        if not batch_df.isEmpty():
            partial = self._partial(batch_df)
            self._save_schema(partial)
            partial.write.mode("overwrite").parquet(
                os.path.join(self.store_path, f"ep={c.tag}")
            )
        self._epochs.commit(c)
        return True

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str | None = None,
        trigger_seconds: float | None = None,
    ) -> StreamingQuery:
        return start_epoch_sink(
            stream_df,
            self.apply_batch,
            os.path.join(self.store_path, "_checkpoint"),
            checkpoint_dir=checkpoint_dir,
            trigger_seconds=trigger_seconds,
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
        """All LIVE stored partials; None = cold store. Reads the
        manifest-filtered partition list by explicit paths (never the
        store root): during a compaction swap the superseded source
        dirs coexist with the new base, and a root read would merge
        both and double-count every additive estimate. A concurrent
        compact() commits its manifest BEFORE it GCs the listed source
        dirs, so a read that lost that race re-lists and serves the
        new base (store.read_live)."""
        return read_live(
            self.spark, self.store_path,
            live=lambda: [e.path for e in self._live_partition_dirs()],
        )


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
