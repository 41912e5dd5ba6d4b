"""The epoch-idempotent sink protocol lives in one module
(polar_spark/store.py): its lock, atomic JSON write, epoch ledger and
live-store read, and the guard that keeps it the only copy."""

from __future__ import annotations

import os
import re
import threading
from pathlib import Path

import pytest

import polar_spark
from polar_spark.store import (
    STORE_LEDGER,
    EpochLedger,
    epoch_tag,
    file_lock,
    is_base_dir,
    live_dirs,
    read_json,
    read_live,
    write_json,
)


def test_store_is_the_only_lock_and_json_writer():
    """No module under polar_spark/ other than store.py takes an flock,
    writes JSON itself, names the compaction manifest or builds a
    compaction base name; and no module but topics.py (whose
    ``partition=`` layout keeps its own directory swap) swaps a store
    root through ``.compact_tmp``/``.compact_old``: a second copy of
    the protocol is how one copy came to differ from the others."""
    root = Path(polar_spark.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        src = p.read_text()
        if p != root / "topics.py" and re.search(r"\.compact_(tmp|old)", src):
            offenders.append(f"{p.relative_to(root)}: swaps a root by rename")
        if p == root / "store.py":
            continue
        if re.search(r"^\s*(import fcntl|from fcntl import)", src, re.M):
            offenders.append(f"{p.relative_to(root)}: imports fcntl")
        if "json.dump(" in src:
            offenders.append(f"{p.relative_to(root)}: calls json.dump(")
        if "_compact.json" in src:
            offenders.append(f"{p.relative_to(root)}: names the manifest")
        if re.search(r"ep=base(\\d|\{)", src):
            offenders.append(f"{p.relative_to(root)}: builds a base name")
    assert offenders == []


def test_publish_epoch_is_the_only_ep_partition_writer():
    """No module under polar_spark/ other than store.py hands an
    ``ep=`` path to a parquet write (Spark's ``.parquet(``, pyarrow's
    ``write_table``/``write_dataset``): every epoch partition goes live
    through store.publish_epoch, by one rename after its ``_SUCCESS``,
    so a write that fails part-way is never listed."""
    root = Path(polar_spark.__file__).parent
    call = re.compile(
        r"(\.parquet|\bwrite_table|\bwrite_dataset)\([^()]*(\([^()]*)?ep=", re.S
    )
    offenders = [
        f"{p.relative_to(root)}: {m.group(0)[:60]!r}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "store.py"
        for m in call.finditer(p.read_text())
    ]
    assert offenders == []


def test_footer_gate_is_the_only_pyarrow_parquet_reader_of_queries():
    """No module under polar_spark/queries/ or polar_spark/functions/
    reads parquet with pyarrow: a driver plan over a table reads it
    through sources/tables.read_small_table, the one gate whose decline
    the twin-plan tests (the ``twin_plans`` fixture) check against the
    Spark plan."""
    root = Path(polar_spark.__file__).parent
    offenders = [
        f"{p.relative_to(root)}: {m.group(0)}"
        for sub in ("queries", "functions")
        for p in sorted((root / sub).rglob("*.py"))
        for m in re.finditer(
            r"\bpq\.(ParquetFile|read_table|read_schema)\b|\bpads\.dataset\b"
            r"|\bpyarrow\.(parquet|dataset)\b",
            p.read_text(),
        )
    ]
    assert offenders == []


def test_artifact_protocol_is_the_only_build_once_of_queries():
    """No module under polar_spark/queries/ keys a derived artifact by
    the application itself, picks a root under the temp dir or names a
    build marker: a stored index or sketch store goes through
    store.artifact_root + store.built_once, the one root whose tag
    covers the input files and whose directory is removed at exit."""
    root = Path(polar_spark.__file__).parent
    offenders = [
        f"{p.relative_to(root)}: {m.group(0)}"
        for p in sorted((root / "queries").rglob("*.py"))
        for m in re.finditer(
            r"\bapplicationId\b|\bgettempdir\(|\b_DONE\b|_built\.json",
            p.read_text(),
        )
    ]
    assert offenders == []


def test_built_once_builds_once_and_returns_the_stored_value(spark, tmp_path):
    """``built_once`` calls ``build`` only while the marker is missing
    and returns its JSON value on every call; ``artifact_root`` changes
    when an input file is rewritten and stays put otherwise."""
    from polar_spark.store import artifact_root, built_once

    calls = []

    def build():
        calls.append(1)
        return {"shortlist": 400}

    root = str(tmp_path / "art")
    assert built_once(root, build) == built_once(root, build) == {"shortlist": 400}
    assert len(calls) == 1
    (tmp_path / "sf").mkdir()
    t = tmp_path / "sf" / "t.parquet"
    t.write_bytes(b"a")
    a = artifact_root(spark, str(tmp_path / "sf"), "k", ["t"])
    assert artifact_root(spark, str(tmp_path / "sf"), "k", ["t"]) == a
    assert os.path.basename(os.path.dirname(a)) == f"polar_artifacts_{os.getpid()}"
    t.write_bytes(b"ab")
    assert artifact_root(spark, str(tmp_path / "sf"), "k", ["t"]) != a


def test_write_json_replaces_atomically_and_leaves_no_tmp(tmp_path):
    p = str(tmp_path / "_ledger.json")
    assert read_json(p, {"cold": True}) == {"cold": True}
    write_json(p, {"a": 1})
    write_json(p, {"a": 2, "b": [1, 2]})
    assert read_json(p) == {"a": 2, "b": [1, 2]}
    assert os.listdir(tmp_path) == ["_ledger.json"]


def test_epoch_ledger_claim_is_the_replay_gate(tmp_path):
    led = EpochLedger(str(tmp_path / "store" / STORE_LEDGER))
    c = led.claim("sink", 0)
    assert c is not None and not c.reset and c.last == -1
    assert c.tag == epoch_tag("sink", 0)
    led.commit(c)
    assert led.claim("sink", 0) is None  # the foreachBatch retry
    led.commit(led.claim("sink", 1))
    led.commit(led.claim("sink", 2))
    # a plain-string sink restarting from epoch 0 overwrites
    c = led.claim("sink", 0)
    assert c is not None and c.reset and c.last == 2
    led.commit(c)
    assert led.last("sink") == 0
    # a checkpoint directory is namespaced by the token inside it
    cp = tmp_path / "cp"
    cp.mkdir()
    c = led.claim(str(cp), 0)
    assert c.key.startswith(f"{cp}@") and c.key == led.claim(str(cp), 0).key


def test_epoch_ledger_recorded_splits_committed_from_pending(tmp_path):
    led = EpochLedger(str(tmp_path / STORE_LEDGER))
    led.record("k", 1)
    names = [f"ep={epoch_tag('k', e)}" for e in range(3)]
    names += ["ep=base", "ep=compacted", f"ep={epoch_tag('other', 0)}"]
    assert led.recorded(names) == {
        names[0]: True, names[1]: True, names[2]: False, names[5]: False,
    }


def test_file_lock_excludes_and_times_out(tmp_path):
    path = str(tmp_path / "x.lock")
    held, release = threading.Event(), threading.Event()

    def holder():
        with file_lock(path, "holder", timeout=None):
            held.set()
            release.wait(10.0)

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(5.0)
    with pytest.raises(TimeoutError, match="not released"):
        with file_lock(path, "waiter", timeout=0.2):
            pass
    release.set()
    t.join()
    with file_lock(path, "waiter", timeout=0.2):
        pass
    assert os.path.getsize(path) == 0  # payload-free


def test_read_live_cold_store_reads_none(spark, tmp_path):
    root = str(tmp_path / "store")
    assert read_live(spark, root) is None
    # an epoch partition with no data and no _SUCCESS: a crashed first
    # write on a cold store
    os.makedirs(os.path.join(root, "ep=t0000000000x0"))
    assert read_live(spark, root) is None


def _truncate_parquet(part_dir: str) -> int:
    n = 0
    for dp, _dn, fns in os.walk(part_dir):
        for fn in fns:
            if fn.endswith(".parquet"):
                with open(os.path.join(dp, fn), "r+b") as f:
                    f.truncate(16)
                n += 1
    return n


def test_near_dup_index_committed_store_read_failure_raises(spark, tmp_path):
    """A store whose committed partition fails to read must raise, not
    read as cold: a cold read silently misses every cross-batch
    near-dup."""
    from polar_spark.functions.dedup import NearDupIndex

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    idx.build(spark.createDataFrame([(1, text)], "doc_id long, text string"))
    base = os.path.join(idx.bands_path, "ep=base")
    assert os.path.exists(os.path.join(base, "_SUCCESS"))
    assert _truncate_parquet(base) > 0
    batch = spark.createDataFrame([(2, text)], "doc_id long, text string")
    with pytest.raises(Exception) as ei:
        idx.query_and_update(batch, tag="probe").collect()
    assert "parquet" in str(ei.value).lower()
    assert not os.path.exists(os.path.join(idx.shingles_path, "ep=probe"))


def test_near_dup_index_compact_refuses_pending_replay(spark, tmp_path):
    """compact() raises, naming the tag, while an epoch partition is
    above the store ledger's high-water mark (its micro-batch failed
    before the record), and compacts once the epoch is recorded."""
    from polar_spark.functions.dedup import NearDupIndex

    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    docs = spark.createDataFrame(
        [(i, f"doc {i} shares these few words with every other doc")
         for i in range(4)],
        "doc_id long, text string",
    )
    idx.build(docs)
    tag = epoch_tag("sink", 0)
    idx.query_and_update(
        docs.selectExpr("doc_id + 10 as doc_id", "text"), tag=tag
    ).collect()
    with pytest.raises(RuntimeError, match=tag):
        idx.compact()
    EpochLedger(os.path.join(idx.path, STORE_LEDGER)).record("sink", 0)
    idx.compact()
    assert [e for e in os.listdir(idx.bands_path) if e.startswith("ep=")] == [
        "ep=base00000001"
    ]


def test_near_dup_index_rejects_base_name_tags(spark, tmp_path):
    """A batch tag shaped like a compaction base (``base`` + 8 digits)
    is refused: its partition would read as an orphan base, hidden from
    reads and deleted by the next compaction's GC."""
    from polar_spark.functions.dedup import NearDupIndex

    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for bad in ("base00000002", "base12345678"):
        with pytest.raises(ValueError, match="compaction bases"):
            idx.query_and_update(docs, tag=bad)
    for ok in ("base0000002", "base000000021", "baseline"):
        assert NearDupIndex._check_tag(ok) == ok


def _crash_at_manifest_commit(monkeypatch, when: str) -> None:
    """Make the next compaction die at its manifest commit: ``before``
    it (the base is written but unnamed) or ``after`` it (the base is
    live, the folded sources not yet GC'd). Later commits pass."""
    import polar_spark.store as store

    write = store._write_manifest
    armed = [True]

    def crashing(root, man):
        if armed[0] and man["folded"]:
            armed[0] = False
            if when == "after":
                write(root, man)
            raise RuntimeError("crash at the manifest commit")
        write(root, man)

    monkeypatch.setattr(store, "_write_manifest", crashing)


def _assert_one_live_base(*roots: str) -> None:
    for root in roots:
        names = [e.name for e in live_dirs(root)]
        assert len(names) == 1 and is_base_dir(names[0]), (root, names)


def _near_dup_docs(spark, lo: int, hi: int):
    """Docs ``lo..hi-1`` of a fixed corpus in which every fourth doc is
    a one-word edit of doc ``k // 2`` (a near-dup across batches)."""
    import numpy as np

    rng = np.random.default_rng(11)
    words = [f"w{i}" for i in range(400)]
    texts = [list(rng.choice(words, 40)) for _ in range(hi)]
    for k in range(3, hi, 4):
        texts[k] = texts[k // 2][:-1] + ["edited"]
    return spark.createDataFrame(
        [(k, " ".join(texts[k])) for k in range(lo, hi)],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("when", ["before", "after"])
def test_near_dup_index_compaction_crash_reads_like_uncompacted(
    spark, tmp_path, monkeypatch, when
):
    """A NearDupIndex compaction that dies at its manifest commit leaves
    the index reading exactly what an uncompacted twin reads: the next
    batch finds the twin's pairs. The next compact() heals the stores
    down to one live base each."""
    from polar_spark.functions.dedup import NearDupIndex

    def pairs(idx, lo, hi, tag):
        got = idx.query_and_update(_near_dup_docs(spark, lo, hi), tag=tag)
        return sorted((r[0], r[1], round(r[2], 9)) for r in got.collect())

    idx = NearDupIndex(spark, str(tmp_path / "idx"))
    twin = NearDupIndex(spark, str(tmp_path / "twin"))
    for ix in (idx, twin):
        ix.build(_near_dup_docs(spark, 0, 24))
        pairs(ix, 24, 36, "b1")
    _crash_at_manifest_commit(monkeypatch, when)
    with pytest.raises(RuntimeError, match="manifest commit"):
        idx.compact()
    want = pairs(twin, 36, 48, "b2")
    assert want, "the batch must near-dup the stored corpus"
    assert pairs(idx, 36, 48, "b2") == want
    idx.compact()
    _assert_one_live_base(idx.bands_path, idx.shingles_path)
    assert pairs(idx, 48, 60, "b3") == pairs(twin, 48, 60, "b3")


def _lsh_rows(lo: int, hi: int) -> list[tuple[int, list[int]]]:
    """Rows ``lo..hi-1`` of a fixed corpus in which every fifth vector
    is a near copy of vector ``k // 2``."""
    import numpy as np

    rng = np.random.default_rng(7)
    V = rng.integers(-3000, 3000, size=(hi, 64))
    for k in range(3, hi, 5):
        V[k] = V[k // 2] + rng.integers(-20, 20, size=64)
    return [(i, V[i].tolist()) for i in range(lo, hi)]


@pytest.mark.parametrize("when", ["before", "after"])
def test_lsh_sink_compaction_crash_drops_like_uncompacted(
    spark, tmp_path, monkeypatch, when
):
    """A StreamingSemDedupLSH compaction that dies at its manifest
    commit leaves the sink deciding exactly as an uncompacted twin: the
    next driver-plan trigger drops the twin's drops. The next compact()
    heals every store — bands, kept vectors and drops — down to one
    live base, and dropped() is unchanged by it."""
    import polar_spark.streaming.dedup as D

    monkeypatch.setattr(D, "DRIVER_BATCH_BYTES", 1 << 40)  # driver plan

    def sink(name):
        return D.StreamingSemDedupLSH(
            spark, str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_drops"),
            dims=64, bands=8, planes_per_band=8, tau_sq_pct=9025,
        )

    def trigger(sd, epoch, lo, hi):
        b = spark.createDataFrame(_lsh_rows(lo, hi), "vec_id long, v array<bigint>")
        assert sd.apply_batch(b, epoch, "crash") is True

    def state(sd):
        return (
            sorted(r["vec_id"] for r in sd.kept().collect()),
            sorted(r["vec_id"] for r in sd.dropped().collect()),
        )

    sd, twin = sink("sd"), sink("twin")
    for s in (sd, twin):
        trigger(s, 0, 0, 60)
        trigger(s, 1, 60, 80)
    _crash_at_manifest_commit(monkeypatch, when)
    with pytest.raises(RuntimeError, match="manifest commit"):
        sd.compact()
    for s in (sd, twin):
        trigger(s, 2, 80, 100)
    want = state(twin)
    assert [i for i in want[1] if i >= 80], "the trigger must drop a stored twin"
    assert state(sd) == want
    sd.compact()
    _assert_one_live_base(sd.bands_path, sd.vectors_path, sd.drops_path)
    assert state(sd) == want


def test_streaming_near_dup_compact_keeps_pairs_and_decisions(spark, tmp_path):
    """StreamingNearDup.compact() folds the index stores and the pairs
    store to one live base each: pairs() is unchanged, the next
    micro-batch emits what an uncompacted twin emits, and compact()
    refuses while an epoch awaits replay."""
    from polar_spark.streaming.dedup import StreamingNearDup

    def sink(name):
        return StreamingNearDup(
            spark, str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_pairs")
        )

    def pairs(s):
        return sorted((r[0], r[1], round(r[2], 9)) for r in s.pairs().collect())

    snd, twin = sink("snd"), sink("twin")
    for s in (snd, twin):
        for epoch, lo in enumerate((0, 20, 40)):
            assert s.apply_batch(_near_dup_docs(spark, lo, lo + 20), epoch, "nd")
    before = pairs(snd)
    assert [p for p in before if p[0] < 20 <= p[1]], "pairs must cross batches"
    snd.compact()
    _assert_one_live_base(
        snd.index.bands_path, snd.index.shingles_path, snd.pairs_path
    )
    assert pairs(snd) == before
    for s in (snd, twin):
        assert s.apply_batch(_near_dup_docs(spark, 60, 80), 3, "nd")
    assert pairs(snd) == pairs(twin) and len(pairs(twin)) > len(before)
    tag = epoch_tag("nd", 4)
    snd.index.query_and_update(_near_dup_docs(spark, 80, 84), tag=tag).collect()
    with pytest.raises(RuntimeError, match=tag):
        snd.compact()


def test_streaming_semdedup_compact_keeps_kept_drops_and_decisions(spark, tmp_path):
    """StreamingSemDedup.compact() folds the kept-vectors store (in its
    cell= directories) and the drops store to one live base each:
    kept() and dropped() are unchanged, and the next micro-batch decides
    as an uncompacted twin does."""
    from polar_spark.streaming.dedup import StreamingSemDedup

    cents = _lsh_rows(0, 4)

    def sink(name):
        return StreamingSemDedup(
            spark, str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_drops"),
            cents,
        )

    def trigger(s, epoch, lo, hi):
        b = spark.createDataFrame(_lsh_rows(lo, hi), "vec_id long, v array<bigint>")
        assert s.apply_batch(b, epoch, "sem")

    def state(s):
        return (
            sorted(r["vec_id"] for r in s.kept().collect()),
            sorted(r["vec_id"] for r in s.dropped().collect()),
        )

    sd, twin = sink("sd"), sink("twin")
    for s in (sd, twin):
        for epoch, lo in enumerate((0, 30, 60)):
            trigger(s, epoch, lo, lo + 30)
    before = state(sd)
    assert [i for i in before[1] if i >= 30], "drops must cross batches"
    sd.compact()
    _assert_one_live_base(sd.vectors_path, sd.drops_path)
    base = live_dirs(sd.vectors_path)[0].path
    assert any(n.startswith("cell=") for n in os.listdir(base))
    assert state(sd) == before
    for s in (sd, twin):
        trigger(s, 3, 90, 120)
    want = state(twin)
    assert [i for i in want[1] if i >= 90], "the trigger must drop a stored twin"
    assert state(sd) == want


def _sink_family(spark, tmp_path, monkeypatch, family: str):
    """(make(name), the batches of epochs 0 and 1, the sink's store
    roots, its read state) of one epoch-sink family."""
    import polar_spark.streaming.dedup as D
    from polar_spark.streaming.sketches import StreamingCountMin

    def vectors(lo, hi):
        return spark.createDataFrame(_lsh_rows(lo, hi), "vec_id long, v array<bigint>")

    def kept_dropped(s):
        return (
            sorted(r["vec_id"] for r in s.kept().collect()),
            sorted(r["vec_id"] for r in s.dropped().collect()),
        )

    if family == "near_dup":
        return (
            lambda n: D.StreamingNearDup(
                spark, str(tmp_path / f"{n}_idx"), str(tmp_path / f"{n}_pairs")
            ),
            [_near_dup_docs(spark, 0, 20), _near_dup_docs(spark, 20, 40)],
            lambda s: [s.index.bands_path, s.index.shingles_path, s.pairs_path],
            lambda s: sorted((r[0], r[1], round(r[2], 9)) for r in s.pairs().collect()),
        )
    if family == "semdedup":
        return (
            lambda n: D.StreamingSemDedup(
                spark, str(tmp_path / f"{n}_idx"), str(tmp_path / f"{n}_drops"),
                _lsh_rows(0, 4),
            ),
            [vectors(0, 30), vectors(30, 60)],
            lambda s: [s.vectors_path, s.drops_path],
            kept_dropped,
        )
    if family == "semdedup_lsh_bulk":
        # the bulk plan, as test_streaming._pin_lsh_plan pins it
        monkeypatch.setattr(D, "DRIVER_BATCH_BYTES", -1)
        return (
            lambda n: D.StreamingSemDedupLSH(
                spark, str(tmp_path / f"{n}_idx"), str(tmp_path / f"{n}_drops"),
                dims=64, bands=8, planes_per_band=8, tau_sq_pct=9025,
            ),
            [vectors(0, 60), vectors(60, 80)],
            lambda s: [s.bands_path, s.vectors_path, s.drops_path],
            kept_dropped,
        )
    events = spark.range(0, 400).selectExpr("cast(id % 37 as string) as v", "id")
    return (
        lambda n: StreamingCountMin(spark, str(tmp_path / f"{n}_cm"), "v"),
        [events.filter("id < 200"), events.filter("id >= 200")],
        lambda s: [s.store_path],
        lambda s: sorted(tuple(r) for r in s.counters().collect()),
    )


@pytest.mark.parametrize(
    "family", ["near_dup", "semdedup", "semdedup_lsh_bulk", "count_min"]
)
def test_torn_epoch_write_is_never_listed(spark, tmp_path, monkeypatch, family):
    """An epoch whose first parquet write fails after its files land
    leaves nothing a read lists: apply_batch raises, no store lists the
    epoch's ``ep=<tag>``, and the sink reads as it did after epoch 0.
    Its replay then leaves the sink equal to a clean twin's, with no
    staging directory behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    make, batches, roots, state = _sink_family(spark, tmp_path, monkeypatch, family)
    sink, twin = make("torn"), make("twin")
    for s in (sink, twin):
        assert s.apply_batch(batches[0], 0, "torn")
    after_0 = state(sink)
    assert after_0, "epoch 0 must leave state to compare"

    write = DataFrameWriter.parquet
    armed = [True]

    def torn(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if armed[0]:
            armed[0] = False
            raise RuntimeError("torn after its files landed")

    monkeypatch.setattr(DataFrameWriter, "parquet", torn)
    with pytest.raises(RuntimeError, match="torn after"):
        sink.apply_batch(batches[1], 1, "torn")
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    assert not armed[0]
    tag = f"ep={epoch_tag('torn', 1)}"
    for root in roots(sink):
        assert tag not in [e.name for e in live_dirs(root)], root
    assert state(sink) == after_0

    assert sink.apply_batch(batches[1], 1, "torn") is True  # the replay
    assert twin.apply_batch(batches[1], 1, "torn") is True
    assert state(sink) == state(twin) != after_0
    for root in roots(sink):
        assert not [n for n in os.listdir(root) if n.startswith(("_tmp-", "_old-"))]
