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
    read_json,
    read_live,
    write_json,
)


def test_store_is_the_only_lock_and_json_writer():
    """No module under polar_spark/ other than store.py takes an flock
    or writes JSON itself: a second copy of the protocol is how one
    copy came to differ from the others."""
    root = Path(polar_spark.__file__).parent
    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p == root / "store.py":
            continue
        src = p.read_text()
        if re.search(r"^\s*(import fcntl|from fcntl import)", src, re.M):
            offenders.append(f"{p.relative_to(root)}: imports fcntl")
        if "json.dump(" in src:
            offenders.append(f"{p.relative_to(root)}: calls json.dump(")
    assert offenders == []


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
        "ep=compacted"
    ]
