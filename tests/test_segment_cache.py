"""_SegmentCache steal-or-join: the stolen-prefetch tombstone.

A serving read that steals a merely-QUEUED prefetch must leave the
inflight entry in place (marked STOLEN) until its own read completes,
so that (a) a concurrent prefetch() cannot re-register the path and
submit the duplicate background parse the cache exists to kill, (b) a
concurrent load() joins the server's read via the event instead of
parsing again, and (c) the stolen entry's event IS eventually set."""

from __future__ import annotations

import threading

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@pytest.fixture()
def seg_file(tmp_path):
    p = str(tmp_path / "seg.parquet")
    pq.write_table(pa.Table.from_pandas(pd.DataFrame({"a": [1, 2, 3]})), p)
    return p


def _cache():
    from polar_spark.consume import _SegmentCache

    return _SegmentCache(cap_bytes=1 << 20)


def test_steal_tombstone_blocks_duplicate_prefetch(seg_file):
    c = _cache()
    reads = []
    gate = threading.Event()
    real = c._read_direct

    def slow_read(path, cols):
        reads.append(path)
        gate.wait(timeout=5.0)
        return real(path, cols)

    c._read_direct = slow_read
    # a queued (not yet started) prefetch entry, as prefetch() creates
    ev = threading.Event()
    c._inflight[seg_file] = [c._QUEUED, ev]

    out = {}
    t = threading.Thread(
        target=lambda: out.setdefault("t", c.load(seg_file, ["a"]))
    )
    t.start()
    # wait until the serving read has stolen the entry and is parsing
    for _ in range(500):
        if reads:
            break
        threading.Event().wait(0.01)
    assert reads == [seg_file]
    with c._lock:
        assert c._inflight[seg_file][0] == c._STOLEN

    # the race from ADVICE r10: a concurrent prefetch() mid-steal must
    # see the tombstone and register nothing
    c.prefetch([seg_file], ["a"])
    with c._lock:
        assert c._inflight[seg_file][0] == c._STOLEN  # not re-queued

    # a second load() must JOIN (no second parse), not steal/read again
    t2 = threading.Thread(
        target=lambda: out.setdefault("t2", c.load(seg_file, ["a"]))
    )
    t2.start()
    threading.Event().wait(0.05)
    assert reads == [seg_file]  # still exactly one parse in flight

    gate.set()
    t.join(timeout=5.0)
    t2.join(timeout=5.0)
    assert out["t"].num_rows == 3 and out["t2"].num_rows == 3
    assert reads == [seg_file]  # one parse total
    assert ev.is_set()  # stolen entry's event was set on completion
    assert seg_file not in c._inflight  # tombstone cleared


def test_steal_event_set_even_when_read_fails(seg_file, tmp_path):
    c = _cache()
    ev = threading.Event()
    c._inflight[seg_file] = [c._QUEUED, ev]

    def boom(path, cols):
        raise OSError("disk gone")

    c._read_direct = boom
    with pytest.raises(OSError):
        c.load(seg_file, ["a"])
    assert ev.is_set()
    assert seg_file not in c._inflight


def _published(cat, topic):
    import os

    ddir = cat.data_dir(topic)
    return sorted(
        os.path.join(dp, fn)
        for dp, _dn, fns in os.walk(ddir)
        for fn in fns
        if fn.endswith(".parquet")
    )


def test_write_through_equals_cold_read_and_serves_tail_poll(
    spark, tmp_path, monkeypatch
):
    """A driver-side produce caches each published table under its data
    path, equal to a cold read of the file; the tail-following poll
    that follows makes no file read and serves what a cold poll
    serves."""
    from polar_spark.consume import (
        _SEG_CACHE, LATEST, SEG_COLUMNS, ConsumerGroup,
    )
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    _SEG_CACHE.clear()
    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("wt", num_partitions=3)
    g = ConsumerGroup(cat, "tail")
    g.register("wt", LATEST)  # tail-follower: registered before data
    prod = Producer(cat)
    prod.produce_rows("wt", [f"k{i}" for i in range(7)], key="a")
    prod.produce_rows("wt", ["x", None, "é" * 3, "y"])  # keyless: 3 files

    paths = _published(cat, "wt")
    assert len(paths) == 4
    for path in paths:
        cached = _SEG_CACHE.get(path)
        assert cached is not None, path
        cold = pq.ParquetFile(path).read(columns=SEG_COLUMNS)
        assert cached.schema == cold.schema
        assert cached.equals(cold)

    reads = []
    real = _SEG_CACHE._read_direct

    def counting(path, cols):
        reads.append(path)
        return real(path, cols)

    monkeypatch.setattr(_SEG_CACHE, "_read_direct", counting)
    warm = g.poll("wt", max_records=100)
    assert warm._arrow is not None and warm._arrow.num_rows == 11
    assert reads == []
    _SEG_CACHE.clear()
    cold = g.poll("wt", max_records=100)  # nothing committed: same window
    assert sorted(reads) == paths
    assert warm.items() == cold.items()
    assert warm.positions == cold.positions


def test_write_through_skips_files_over_the_per_file_cap(
    spark, tmp_path, monkeypatch
):
    """The per-file size rule of a cold read applies to write-through."""
    import polar_spark.consume as C
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    C._SEG_CACHE.clear()
    monkeypatch.setattr(C, "SEG_CACHE_FILE_MAX_BYTES", 64)
    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("cap", num_partitions=1)
    Producer(cat).produce_rows("cap", ["v"] * 5, key="k")
    (path,) = _published(cat, "cap")
    assert C._SEG_CACHE.get(path) is None


def test_write_through_dropped_when_publish_fails(spark, tmp_path, monkeypatch):
    """Tables are cached before the publish makes their files visible;
    a batch whose publish fails leaves no cache entry behind."""
    import polar_spark.consume as C
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    C._SEG_CACHE.clear()
    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("pf", num_partitions=2)
    seen = []

    def failing_publish(name, seq, staging, timeout=300.0):
        seen.extend(p for p in C._SEG_CACHE._d if p.startswith(cat.data_dir(name)))
        raise OSError("publish failed")

    monkeypatch.setattr(cat, "publish", failing_publish)
    with pytest.raises(OSError):
        Producer(cat).produce_rows("pf", ["a", "b", "c"])
    assert len(seen) == 2  # keyless: one cached table per partition file
    assert not [p for p in C._SEG_CACHE._d if p.startswith(cat.data_dir("pf"))]
    assert C._SEG_CACHE._bytes == 0
