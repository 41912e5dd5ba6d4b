"""Epoch-store compaction: `_EpochPartialSink.compact()` folds committed
``ep=`` partials into one ``ep=base<gen>`` partition under every sink's
own merge law, so merge-read cost is O(1 + epochs-since-compact) instead
of O(stream age). The reference keeps its state bounded the same way —
segments roll and offsets compact continuously
(internal/data/segment_writer.go:172-246); without this the one-store
analog would degrade linearly in stream AGE (VERDICT r9 next #1).

Laws proven here, per sink family:
  1. bit-identity: every estimate/read is unchanged by compact();
  2. convergence: live partitions collapse to exactly 1;
  3. idempotency: a second compact() is a no-op;
  4. continuity: epochs applied AFTER a compact merge with the base
     exactly as they would have with the raw partials;
  5. crash-safety: a compaction killed before its manifest commit
     leaves reads untouched (orphan base ignored); killed after the
     commit but before GC, reads exclude the folded sources (no double
     count) and the next compact finishes the cleanup;
  6. replay-safety: a partition written but NOT recorded in the epoch
     ledger (crash inside apply_batch) is never folded — its replay
     still owns it;
  7. soak: after 100+ epochs, one compact returns the read path to a
     single partition and the estimate to the one-shot batch value.
"""

from __future__ import annotations

import os
import shutil

import pytest

import polar_spark.store as store
from polar_spark.sources.tables import load_table


def _rows(df):
    # None-safe total order (the corpus-stats table carries a NULL term)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _live_names(sink) -> list[str]:
    return sorted(e.name for e in store.live_dirs(sink.store_path))


def _all_names(sink) -> list[str]:
    return sorted(e.name for e in sink._partition_dirs())


# one (name → sink factory) per additive sink family; each factory
# returns (sink, batches, read) where `read()` is the user-facing
# estimate the compaction must not move
def _mk_cm(spark, sf_dir, root):
    from polar_spark.streaming.sketches import StreamingCountMin

    ev = load_table(spark, sf_dir, "events")
    sink = StreamingCountMin(spark, os.path.join(root, "store"), "event_type")
    batches = [ev.filter(f"user_id % 4 = {i}") for i in range(4)]
    keys = ev.select("event_type").distinct()
    return sink, batches, lambda: sink.estimate(keys, "event_type")


def _mk_kmv(spark, sf_dir, root):
    from polar_spark.streaming.sketches import StreamingKMV

    ev = load_table(spark, sf_dir, "events")
    sink = StreamingKMV(
        spark, os.path.join(root, "store"), ["event_type"], "user_id", k=64
    )
    batches = [ev.filter(f"user_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.estimate


def _mk_qs(spark, sf_dir, root):
    from polar_spark.streaming.sketches import StreamingQuantile

    ev = load_table(spark, sf_dir, "events")
    sink = StreamingQuantile(
        spark,
        os.path.join(root, "store"),
        ["event_type"],
        id_col="event_id",
        value_col="value",
        k=64,
    )
    batches = [ev.filter(f"user_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.estimate


def _mk_hll(spark, sf_dir, root):
    from polar_spark.streaming.sketches import StreamingHLL

    ev = load_table(spark, sf_dir, "events")
    sink = StreamingHLL(
        spark, os.path.join(root, "store"), ["event_type"], "user_id"
    )
    batches = [ev.filter(f"user_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.estimate


def _mk_lm(spark, sf_dir, root):
    from polar_spark.streaming.lm import StreamingBigramLM

    d = load_table(spark, sf_dir, "documents")
    sink = StreamingBigramLM(spark, os.path.join(root, "store"))
    batches = [d.filter(f"doc_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.counts


def _mk_dsir(spark, sf_dir, root):
    from polar_spark.streaming.dsir import StreamingDSIR

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sink = StreamingDSIR(
        spark, os.path.join(root, "store"), target="lang = 'en'", m=4096
    )
    batches = [d.filter(f"doc_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.counts


def _mk_drift(spark, sf_dir, root):
    from polar_spark.streaming.drift import StreamingDrift

    d = load_table(spark, sf_dir, "documents")
    sink = StreamingDrift(spark, os.path.join(root, "store"))
    batches = [d.filter(f"doc_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.psi


def _mk_stats(spark, sf_dir, root):
    from polar_spark.streaming.retrieval import StreamingCorpusStats

    d = load_table(spark, sf_dir, "documents")
    sink = StreamingCorpusStats(spark, os.path.join(root, "store"))
    batches = [d.filter(f"doc_id % 4 = {i}") for i in range(4)]
    return sink, batches, sink.stats


_FAMILIES = {
    "countmin": _mk_cm,
    "kmv": _mk_kmv,
    "quantile": _mk_qs,
    "hll": _mk_hll,
    "bigram_lm": _mk_lm,
    "dsir": _mk_dsir,
    "drift": _mk_drift,
    "corpus_stats": _mk_stats,
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_compact_bit_identical_and_continues(spark, sf_dir, tmp_path, family):
    """Laws 1-4 for every additive sink family: compact moves no
    estimate, collapses the store to one partition, is idempotent, and
    post-compact epochs merge exactly as pre-compact ones would."""
    root = str(tmp_path / family)
    sink, batches, read = _FAMILIES[family](spark, sf_dir, root)
    cp = os.path.join(root, "cp")

    # three epochs committed, then compact; 4th epoch lands AFTER
    for ep in range(3):
        assert sink.apply_batch(batches[ep], ep, cp) is True
    before = _rows(read())
    assert len(_live_names(sink)) == 3

    folded, live_after = sink.compact()
    assert folded == 3 and live_after == 1
    assert _live_names(sink) == ["ep=base00000001"]
    assert _rows(read()) == before  # law 1: fold-then-read ≡ read

    assert sink.compact() == (0, 1)  # law 3: idempotent no-op

    # law 4: continuity — a later epoch merges with the base exactly
    assert sink.apply_batch(batches[3], 3, cp) is True
    got_after = _rows(read())
    assert len(_live_names(sink)) == 2

    # oracle: a twin store fed the same four epochs with NO compaction
    twin_root = str(tmp_path / f"{family}_twin")
    twin, tb, tread = _FAMILIES[family](spark, sf_dir, twin_root)
    for ep in range(4):
        twin.apply_batch(tb[ep], ep, os.path.join(twin_root, "cp"))
    assert got_after == _rows(tread())

    # and folding the 4-epoch state again still changes nothing
    folded2, live2 = sink.compact()
    assert (folded2, live2) == (2, 1)
    assert _rows(read()) == got_after


def test_compact_crash_before_manifest_is_invisible(spark, sf_dir, tmp_path):
    """Law 5a: a compaction SIGKILLed after writing its base dir but
    BEFORE the manifest commit leaves an orphan ``ep=base`` dir that
    reads must ignore and the next compact must GC."""
    root = str(tmp_path / "crash_pre")
    sink, batches, read = _mk_kmv(spark, sf_dir, root)
    cp = os.path.join(root, "cp")
    for ep in range(3):
        sink.apply_batch(batches[ep], ep, cp)
    before = _rows(read())

    # simulate the crash: materialize the fold under an UNREFERENCED
    # base name (no manifest write — exactly the pre-commit state)
    stored = spark.read.parquet(
        *[e.path for e in store.live_dirs(sink.store_path)]
    )
    sink._cast_to_partial_schema(sink._fold(stored)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sink.store_path, "ep=base00000007"))

    assert "ep=base00000007" in _all_names(sink)
    assert "ep=base00000007" not in _live_names(sink)  # reads ignore it
    assert _rows(read()) == before  # no double count

    folded, live = sink.compact()  # recovery: GC orphan, fold for real
    assert folded == 3 and live == 1
    assert "ep=base00000007" not in _all_names(sink)  # orphan GC'd
    # deferred GC: the fold's own sources persist one generation; the
    # next compact's entry GC converges the disk to just the base
    assert sink.compact() == (0, 1)
    assert _all_names(sink) == ["ep=base00000001"]
    assert _rows(read()) == before


def test_compact_crash_after_manifest_excludes_folded(spark, sf_dir, tmp_path):
    """Law 5b: killed AFTER the manifest commit but before GC — the
    folded source dirs still exist on disk, but reads exclude them (the
    base already carries their state) and the next compact deletes
    them."""
    root = str(tmp_path / "crash_post")
    sink, batches, read = _mk_cm(spark, sf_dir, root)
    cp = os.path.join(root, "cp")
    for ep in range(3):
        sink.apply_batch(batches[ep], ep, cp)
    before = _rows(read())
    srcs = _all_names(sink)

    # real fold + manifest commit: with GC deferred one generation this
    # IS the post-commit pre-GC crash state — the folded sources remain
    # on disk with the manifest excluding them
    sink.compact()

    assert set(srcs) <= set(_all_names(sink))  # sources present on disk
    assert _live_names(sink) == ["ep=base00000001"]  # but not readable
    assert _rows(read()) == before  # no double count

    assert sink.compact() == (0, 1)  # GC-only pass
    assert _all_names(sink) == ["ep=base00000001"]
    assert _rows(read()) == before


def test_compact_skips_unrecorded_epoch(spark, sf_dir, tmp_path):
    """Law 6: a partition written by a crash BETWEEN the partial write
    and the epoch record is NOT folded — the replay still owns it and
    will overwrite it; folding it would double-count the replay."""
    from polar_spark.store import _sink_instance_key, epoch_tag

    root = str(tmp_path / "unrecorded")
    sink, batches, read = _mk_lm(spark, sf_dir, root)
    cp = os.path.join(root, "cp")
    for ep in range(2):
        sink.apply_batch(batches[ep], ep, cp)

    # crash inside apply_batch for epoch 2: partial lands, ledger not
    # updated (replicate the write path without the record)
    key = _sink_instance_key(cp)
    tag = epoch_tag(key, 2)
    sink._partial(batches[2]).write.mode("overwrite").parquet(
        os.path.join(sink.store_path, f"ep={tag}")
    )

    folded, live = sink.compact()
    assert folded == 2 and live == 2  # base + the in-flight partition
    assert f"ep={tag}" in _all_names(sink)

    # the replay arrives, overwrites its own partition, records — and
    # the final state equals the no-crash twin
    assert sink.apply_batch(batches[2], 2, cp) is True
    twin_root = str(tmp_path / "unrecorded_twin")
    twin, tb, tread = _mk_lm(spark, sf_dir, twin_root)
    for ep in range(3):
        twin.apply_batch(tb[ep], ep, os.path.join(twin_root, "cp"))
    assert _rows(read()) == _rows(tread())


def test_compact_purged_on_lineage_reset(spark, sf_dir, tmp_path):
    """A checkpoint reset (epoch 0 after later epochs) purges the base
    partition and the manifest along with the raw partials — state from
    the dead lineage must not leak into the new one."""
    root = str(tmp_path / "reset")
    sink, batches, read = _mk_drift(spark, sf_dir, root)
    cp = os.path.join(root, "cp")
    for ep in range(3):
        sink.apply_batch(batches[ep], ep, cp)
    sink.compact()
    assert _live_names(sink) == ["ep=base00000001"]

    # new lineage reprocesses only batch 0
    assert sink.apply_batch(batches[0], 0, cp) is True
    assert not os.path.exists(
        os.path.join(sink.store_path, store.COMPACT_MANIFEST)
    )
    assert len(_all_names(sink)) == 1 and not _all_names(sink)[0].startswith(
        "ep=base"
    )

    twin_root = str(tmp_path / "reset_twin")
    twin, tb, tread = _mk_drift(spark, sf_dir, twin_root)
    twin.apply_batch(tb[0], 0, os.path.join(twin_root, "cp"))
    assert _rows(read()) == _rows(tread())

    # and the new lineage can itself compact from gen 1 again (a second
    # GC-only pass converges the disk under deferred GC)
    sink.apply_batch(batches[1], 1, cp)
    assert sink.compact() == (2, 1)
    assert sink.compact() == (0, 1)
    assert _all_names(sink) == ["ep=base00000001"]


def test_soak_100_epochs_merge_cost_flat(spark, sf_dir, tmp_path):
    """Law 7 — the soak: 100 epochs accumulate 100 partitions; one
    compact returns the read path to ONE partition whose estimate is
    bit-identical to the one-shot batch sketch over everything
    ingested, and the post-compact merge-read file count is independent
    of how many epochs ever happened (the O(stream-age) term is gone).

    Uses the drift sink (cheapest partial) so 100 real apply_batch
    round-trips stay test-suite-fast; the fold law is the same shared
    `_EpochPartialSink` code path every family goes through."""
    from polar_spark.streaming.drift import StreamingDrift

    root = str(tmp_path / "soak")
    d = load_table(spark, sf_dir, "documents")
    sink = StreamingDrift(spark, os.path.join(root, "store"))
    cp = os.path.join(root, "cp")

    n_epochs = 100
    for ep in range(n_epochs):
        sink.apply_batch(d.filter(f"doc_id % {n_epochs} = {ep}"), ep, cp)
    assert len(_live_names(sink)) == n_epochs
    before = _rows(sink.psi())

    folded, live = sink.compact()
    assert folded == n_epochs and live == 1

    def _n_files(paths):
        return sum(
            1
            for p in paths
            for fn in os.listdir(p)
            if fn.endswith(".parquet")
        )

    live_dirs = [e.path for e in store.live_dirs(sink.store_path)]
    assert len(live_dirs) == 1
    assert _n_files(live_dirs) == 1  # coalesce(1): one file regardless of age
    assert _rows(sink.psi()) == before

    # one-shot batch twin over the full corpus — the absolute oracle
    twin = StreamingDrift(spark, os.path.join(str(tmp_path), "soak_twin"))
    twin.apply_batch(d, 0, str(tmp_path / "soak_twin_cp"))
    assert _rows(sink.psi()) == _rows(twin.psi())


def test_read_racing_gc_retries_never_serves_empty(spark, sf_dir, tmp_path):
    """Law 8 (review r10): compaction GC is DEFERRED one generation — a
    reader holding a pre-commit listing keeps resolving its paths for a
    full compaction cycle — and a listing stale by MORE than one cycle
    makes _stored() re-list and serve the current base, never misread
    the store as cold and silently return an empty estimate."""
    sink, batches, est = _mk_kmv(spark, sf_dir, str(tmp_path))
    for i, b in enumerate(batches[:3]):
        sink.apply_batch(b, i, str(tmp_path / "cp"))
    before = _rows(est())

    stale = [e.path for e in store.live_dirs(sink.store_path)]
    assert len(stale) == 3
    sink.compact()  # gen 1
    # deferred GC: the superseded sources are still on disk, so a
    # reader holding `stale` keeps reading them correctly
    assert all(os.path.isdir(p) for p in stale)
    assert len(store.live_dirs(sink.store_path)) == 1

    sink.apply_batch(batches[3], 3, str(tmp_path / "cp"))
    after4 = _rows(est())
    sink.compact()  # gen 2: entry GC removes gen 1's folded sources
    assert not any(os.path.isdir(p) for p in stale)
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(*stale).collect()  # a 2-cycle-stale read fails...
    fresh = [e.path for e in store.live_dirs(sink.store_path)]
    assert fresh != stale  # ...which is _stored()'s re-list condition
    assert _rows(est()) == after4  # and the served estimate is intact


def test_purge_serialized_against_compact(spark, sf_dir, tmp_path):
    """Law 9 (review r10): a lineage-reset purge takes the compaction
    lock, so it cannot land mid-fold (where the committed base would
    resurrect purged state and the folded list would swallow the new
    lineage's first partial). With the lock held by a fake compactor,
    the purge blocks; after release it completes and the new lineage's
    batch survives a subsequent compact."""
    import fcntl
    import threading
    import time

    sink, batches, est = _mk_kmv(spark, sf_dir, str(tmp_path))
    for i, b in enumerate(batches[:2]):
        sink.apply_batch(b, i, str(tmp_path / "cp"))

    lock = os.path.join(sink.store_path, "_compact.lock")
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    done = threading.Event()
    t = threading.Thread(target=lambda: (sink._purge(), done.set()))
    t.start()
    time.sleep(0.5)
    assert not done.is_set()  # purge waits behind the compaction lock
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)
    t.join(timeout=30)
    assert done.is_set()
    assert sink._partition_dirs() == []

    # new lineage after the purge: applies, compacts, reads correctly
    sink.apply_batch(batches[0], 0, str(tmp_path / "cp2"))
    sink.apply_batch(batches[1], 1, str(tmp_path / "cp2"))
    fresh = _rows(est())
    sink.compact()
    assert _rows(est()) == fresh
