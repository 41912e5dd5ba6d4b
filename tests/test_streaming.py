"""Structured Streaming + custom source tests (memory sink, synchronous
processAllAvailable — the reference's integration round-trips in
streaming form)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polar_spark.consume import EARLIEST, ConsumerGroup
from polar_spark.produce import Producer
from polar_spark.sources.polar_source import PolarDataSource
from polar_spark.sources.tables import load_table
from polar_spark.streaming.aggregates import session_aggregate, windowed_counts
from polar_spark.streaming.ingest import StreamingProducer
from polar_spark.topics import TopicCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return TopicCatalog(spark, str(tmp_path))


def _seed_topic(spark, sf_dir, catalog, topic="st", n=500):
    ev = load_table(spark, sf_dir, "events").limit(n)
    Producer(catalog).produce(ev, topic, key_col="user_id", value_col="props", ts_col="ts")
    return ev


def test_polar_source_batch_read(spark, sf_dir, catalog):
    _seed_topic(spark, sf_dir, catalog)
    spark.dataSource.register(PolarDataSource)
    df = (
        spark.read.format("polar")
        .option("root", catalog.root)
        .option("topic", "st")
        .load()
    )
    assert df.count() == 500
    assert df.columns == ["topic", "partition", "offset", "timestamp", "key", "value"]
    # startingOffsets pushdown: explicit offsets skip served records
    committed = {str(p): 5 for p in catalog.tails("st")}
    df2 = (
        spark.read.format("polar")
        .option("root", catalog.root)
        .option("topic", "st")
        .option("startingOffsets", __import__("json").dumps(committed))
        .load()
    )
    assert df2.count() == df.filter(F.col("offset") > 5).count()


def test_polar_source_stream_tails_new_data(spark, sf_dir, catalog, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    _seed_topic(spark, sf_dir, catalog, n=300)
    spark.dataSource.register(PolarDataSource)
    stream = (
        spark.readStream.format("polar")
        .option("root", catalog.root)
        .option("topic", "st")
        .load()
    )
    out_dir = str(tmp_path / "out")

    def _run_batch():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run_batch()
    assert spark.read.parquet(out_dir).count() == 300

    # produce more, resume from the checkpoint — only the delta arrives
    Producer(catalog).produce(
        ev.filter(F.col("event_id").between(300, 399)),
        "st",
        key_col="user_id",
        value_col="props",
        ts_col="ts",
    )
    _run_batch()
    sunk = spark.read.parquet(out_dir)
    assert sunk.count() == 400  # 300 + the 100-row delta, no re-delivery
    assert sunk.select("offset", "partition").distinct().count() == 400


def test_topic_to_topic_streaming_processor(spark, sf_dir, catalog, tmp_path):
    """The stream-processor loop (consume topic A → transform → produce
    topic B) as one running pipeline: the downstream topic is itself a
    first-class topic (pollable, offset-ordered), and a second run
    re-delivers nothing (checkpoint + epoch ledger compose across the
    chain)."""
    _seed_topic(spark, sf_dir, catalog, topic="raw", n=400)
    sp = StreamingProducer(catalog)

    def run():
        src = catalog.read_stream("raw")
        enriched = src.filter(F.col("key").isNotNull()).withColumn(
            "value", F.concat(F.lit('{"enriched":'), "value", F.lit("}"))
        )
        q = sp.start(
            enriched, "derived",
            key_col="key", value_col="value", ts_col="timestamp",
            checkpoint_dir=str(tmp_path / "cp_proc"),
        )
        q.awaitTermination(120)

    run()
    n_src = catalog.read("raw").count()
    out = catalog.read("derived")
    assert out.count() == n_src == 400
    assert out.filter(~F.col("value").startswith('{"enriched":')).count() == 0
    # same key → same partition in BOTH topics (hash law is topic-independent)
    src_parts = {
        (r["key"], r["partition"]) for r in catalog.read("raw").collect()
    }
    dst_parts = {(r["key"], r["partition"]) for r in out.collect()}
    assert {k for k, _ in src_parts} == {k for k, _ in dst_parts}
    assert src_parts == dst_parts
    # re-running the processor from its checkpoint re-delivers nothing
    run()
    assert catalog.read("derived").count() == 400


def test_binary_socket_control_protocol(spark, tmp_path):
    """Reference connection protocol (binary_server.go): startup →
    ready handshake, heartbeat echo, fixed-size unsupported ack for
    foreign opcodes (so a produce ack loop never desynchronizes) — all
    on one connection that then produces successfully, with only
    produce frames reaching the spool. Oversized body_len headers are
    refused before the body is read."""
    import os
    import socket as _socket

    from polar_spark.sources.binary_server import (
        ACK_OK,
        ACK_TOO_LARGE,
        ACK_UNSUPPORTED,
        MAX_FRAME_BODY_BYTES,
        _ACK,
        _read_control,
        _read_exact,
        BinaryIngestServer,
        send_frames,
    )
    from polar_spark.sources.frames import (
        _HEADER,
        FRAME_VERSION,
        OP_HEARTBEAT,
        OP_READY,
        OP_STARTUP,
        encode_control_frame,
        encode_frame,
    )

    spool = str(tmp_path / "spool")
    srv = BinaryIngestServer(spool).start()
    try:
        with _socket.create_connection((srv.host, srv.port)) as conn:
            conn.sendall(encode_control_frame(OP_STARTUP))
            assert _read_control(conn) == OP_READY
            conn.sendall(encode_control_frame(OP_HEARTBEAT))
            assert _read_control(conn) == OP_HEARTBEAT
            # foreign opcode → fixed-size ack (distinct status), NOT a
            # control frame: the ack loop stays in sync
            conn.sendall(encode_control_frame(99))
            raw = _read_exact(conn, _ACK.size)
            assert _ACK.unpack(raw) == (1, 0, ACK_UNSUPPORTED)
            conn.sendall(encode_frame(3, "k", [(0, "v")]))
            raw = _read_exact(conn, _ACK.size)
            assert _ACK.unpack(raw) == (1, 3, ACK_OK)
        # untrusted u32 body_len beyond the bound: refused without
        # reading the body, connection closed
        with _socket.create_connection((srv.host, srv.port)) as conn:
            conn.sendall(
                _HEADER.pack(FRAME_VERSION, 0, 5, 4, MAX_FRAME_BODY_BYTES + 1)
            )
            raw = _read_exact(conn, _ACK.size)
            assert _ACK.unpack(raw) == (1, 5, ACK_TOO_LARGE)
            assert conn.recv(1) == b""  # server closed the connection
        # the handshake variant of the client helper works end-to-end
        acks = send_frames(
            srv.host, srv.port, [encode_frame(4, "k", [(0, "w")])], handshake=True
        )
        assert acks == [(4, ACK_OK)]
        # only the two produce frames were spooled
        assert len([f for f in os.listdir(spool) if f.endswith(".frame")]) == 2
    finally:
        srv.stop()


def test_binary_socket_ingest_end_to_end(spark, sf_dir, catalog, tmp_path):
    """The reference's binary-protocol round-trip as a live flow
    (internal/test/integration/roundtrip_test.go:506 — socket produce →
    consume): frames sent over a real TCP connection, acked by the edge
    listener, ingested by a RUNNING streaming query
    (binaryFile spool → decode_produce_frames → Producer.produce), then
    consumed via the normal poll path. A corrupt-CRC frame is spooled
    but must be dropped by executor-side validation."""
    from polar_spark.sources.binary_server import (
        ACK_OK,
        BinaryIngestServer,
        send_frames,
        start_binary_ingest,
    )
    from polar_spark.sources.frames import encode_frame

    spool = str(tmp_path / "spool")
    srv = BinaryIngestServer(spool).start()
    try:
        frames = [
            encode_frame(7, f"user{i % 3}", [
                (1_700_000_000_000_000 + i * 1_000_000, f'{{"n": {i}}}'),
                (1_700_000_000_500_000 + i * 1_000_000, f'{{"n": {i}, "dup": true}}'),
            ])
            for i in range(10)
        ]
        # one frame with a flipped CRC byte: accepted at the edge (header
        # is valid), dropped at decode
        bad = bytearray(encode_frame(9, "evil", [(0, "corrupt")]))
        bad[-1] ^= 0xFF
        acks = send_frames(srv.host, srv.port, [*frames, bytes(bad)])
        assert len(acks) == 11 and all(s == ACK_OK for _sid, s in acks)

        q = start_binary_ingest(catalog, spool, "bin_topic")
        q.awaitTermination(120)

        g = ConsumerGroup(catalog, "bin_g")
        g.register("bin_topic", EARLIEST)
        rows = g.poll("bin_topic").df.collect()
        assert len(rows) == 20  # 10 frames × 2 records, corrupt one dropped
        assert {r["key"] for r in rows} == {"user0", "user1", "user2"}
        assert all("corrupt" not in r["value"] for r in rows)
        # per-key order: same key → same partition → offsets follow ts
        by_key: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: r["offset"]):
            by_key.setdefault(r["key"], []).append(r["timestamp"])
        for tss in by_key.values():
            assert tss == sorted(tss)

        # second wave through the SAME spool + fresh query run: epoch
        # checkpoint means no re-delivery of the first wave
        more = [encode_frame(8, "late", [(1_700_100_000_000_000, '{"n": 99}')])]
        assert send_frames(srv.host, srv.port, more) == [(8, ACK_OK)]
        q2 = start_binary_ingest(catalog, spool, "bin_topic")
        q2.awaitTermination(120)
        assert catalog.read("bin_topic").count() == 21
    finally:
        srv.stop()


def test_streaming_ingest_foreachbatch(spark, sf_dir, catalog, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(400)
    src_dir = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    q = StreamingProducer(catalog).start(
        stream,
        "ingested",
        key_col="user_id",
        value_col="props",
        ts_col="ts",
        checkpoint_dir=str(tmp_path / "cp2"),
    )
    q.awaitTermination(120)
    g = ConsumerGroup(catalog, "g")
    g.register("ingested", EARLIEST)
    assert g.poll("ingested").df.count() == 400


def test_windowed_counts_streaming(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(1000)
    src = str(tmp_path / "wsrc")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_counts(stream, "ts", window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wc_out")
        .option("checkpointLocation", str(tmp_path / "wcp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-finalized windows; check subset law
    got = {
        (r["window_start"], r["n"])
        for r in spark.sql("select * from wc_out").collect()
    }
    expect = {
        (r["hour"], r["n"])
        for r in ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got.issubset(expect)


def test_session_aggregate_streaming(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(1000)
    src = str(tmp_path / "ssrc")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = session_aggregate(stream, "user_id", "ts", gap="30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "scp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_out").collect()
    for r in rows:
        assert r["n_events"] >= 1
        assert r["session_end"] >= r["session_start"]


def test_stateful_dedup_and_offsets_across_batches(spark, tmp_path):
    """State must carry across micro-batches: redelivered ids are dropped
    in later batches, and per-partition offsets stay gapless."""
    import time as _t

    from pyspark.sql import functions as F

    from polar_spark.streaming.stateful import assign_offsets_stream, dedup_stream

    src = str(tmp_path / "replay")
    cols = ("event_id", "ts", "part")
    batch_a = [(1, 10, 0), (2, 20, 0), (3, 30, 0)]
    batch_b = [(3, 99, 0), (4, 40, 0)]  # id 3 redelivered with a later ts
    spark.createDataFrame(batch_a, cols).coalesce(1).write.parquet(src)
    _t.sleep(1.1)  # distinct mod-times → deterministic file order
    spark.createDataFrame(batch_b, cols).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, ts long, part long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    deduped = dedup_stream(stream, "event_id", ["ts", "event_id"])
    q1 = (
        deduped.writeStream.format("memory").queryName("sf_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()
    got = {r["event_id"]: r["ts"] for r in spark.table("sf_dedup").collect()}
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}  # id 3 kept from FIRST delivery

    offsets = assign_offsets_stream(stream, "part", ["ts", "event_id"])
    q2 = (
        offsets.writeStream.format("memory").queryName("sf_offsets")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    rows = spark.table("sf_offsets").select("part", "offset").collect()
    per_part = sorted(r["offset"] for r in rows if r["part"] == 0)
    assert per_part == [0, 1, 2, 3, 4]  # gapless across both batches


def test_polar_source_max_offsets_per_trigger(spark, sf_dir, catalog, tmp_path):
    """Backpressure: no micro-batch may exceed maxOffsetsPerTrigger, and
    the stream still drains the full topic across batches."""
    from polar_spark.produce import Producer
    from polar_spark.sources.polar_source import register
    from polar_spark.sources.tables import load_table

    register(spark)
    prod = Producer(catalog)
    ev = load_table(spark, sf_dir, "events").limit(1000)
    prod.produce(ev, "bp_topic", key_col="user_id", value_col="props", ts_col="ts")

    sizes: list[int] = []

    def sink(batch_df, _epoch):
        sizes.append(batch_df.count())

    q = (
        spark.readStream.format("polar")
        .option("root", catalog.root)
        .option("topic", "bp_topic")
        .option("maxOffsetsPerTrigger", 300)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "bp_ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()  # keeps triggering capped batches until drained
    finally:
        q.stop()
    nonzero = [s for s in sizes if s]
    assert sum(nonzero) == 1000
    assert len(nonzero) >= 3  # rate limit forced multiple batches
    assert all(s <= 310 for s in nonzero)  # cap honored (+rounding slack)


def test_stream_stream_join_time_bound(spark, sf_dir):
    """Watermarked stream-stream join: every matched pair must respect
    the [click_ts, click_ts + 1h] bound, and equal the batch join."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from polar_spark.queries.registry import QUERIES
    from polar_spark.sources.tables import load_table

    out = QUERIES["stream_join_click_purchase"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        delta = r["purchase_ts"] - r["click_ts"]
        assert _dt.timedelta(0) <= delta <= _dt.timedelta(hours=1)
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click")
    p = ev.filter(F.col("event_type") == "purchase")
    batch = c.alias("c").join(
        p.alias("p"),
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert len(rows) == batch


def test_stream_stream_left_outer_emits_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: an unmatched click must emit (with
    null purchase columns) only after the watermark passes its join
    window — driven across two availableNow runs sharing a checkpoint,
    the second advancing the watermark."""
    import datetime as dt

    from polar_spark.streaming.joins import stream_stream_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    cschema = "user_id long, cts timestamp, click_id long"
    pschema = "user_id long, pts timestamp, purchase_id long"
    spark.createDataFrame(
        [(1, t0, 100), (2, t0, 200)], cschema
    ).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=30), 900)], pschema
    ).write.mode("append").parquet(pdir)

    emitted: list[tuple] = []

    def run():
        clicks = spark.readStream.schema(cschema).parquet(cdir)
        purch = spark.readStream.schema(pschema).parquet(pdir)
        j = stream_stream_join(
            clicks, purch, "user_id", "cts", "pts",
            within="1 hour", watermark="10 minutes", how="leftOuter",
        ).select("click_id", "purchase_id")
        q = (
            j.writeStream.foreachBatch(
                lambda df, _e: emitted.extend(
                    (r["click_id"], r["purchase_id"]) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert (100, 900) in emitted       # matched pair emits promptly
    assert (200, None) not in emitted  # outer row must WAIT for the watermark
    # late-arriving far-future rows push both watermarks past the window
    spark.createDataFrame(
        [(9, t0 + dt.timedelta(hours=10), 999)], cschema
    ).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(9, t0 + dt.timedelta(hours=10), 998)], pschema
    ).write.mode("append").parquet(pdir)
    run()
    run()  # one more cycle: outer emission happens on the batch AFTER advance
    assert (200, None) in emitted      # unmatched click flushed with nulls


def test_continuous_rollup_end_to_end(spark, sf_dir, catalog, tmp_path):
    """The continuous-aggregate loop entirely through engine surfaces:
    batch produce into a raw topic → readStream format('polar') →
    hourly counts per event_type → foreachBatch upsert-produce into a
    rollup TOPIC → rollup contents equal the batch aggregation.

    Update-mode aggregation emits refinements per micro-batch; the sink
    keeps the LAST value per (hour, event_type) — the standard
    continuous-aggregate materialization."""
    from polar_spark.produce import Producer
    from polar_spark.sources.polar_source import register

    ev = load_table(spark, sf_dir, "events").limit(800)
    prod = Producer(catalog)
    prod.produce(ev, "raw_ev", key_col="user_id", value_col="event_type", ts_col="ts")

    register(spark)
    stream = (
        spark.readStream.format("polar")
        .option("root", catalog.root)
        .option("topic", "raw_ev")
        .load()
    )
    agg = (
        stream.groupBy(
            F.date_trunc("hour", "timestamp").alias("hour"),
            F.col("value").alias("event_type"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )

    latest: dict = {}

    def upsert(batch_df, _epoch):
        for r in batch_df.collect():
            latest[(r["hour"], r["event_type"])] = r["n"]

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "rollup_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # materialize the final state as a rollup topic (the continuous
    # aggregate's storage), then read it back through the engine
    rollup_rows = [
        (h.isoformat(), t, int(n)) for (h, t), n in sorted(latest.items())
    ]
    rdf = spark.createDataFrame(rollup_rows, "hour string, event_type string, n bigint")
    prod.produce(
        rdf.select(
            F.col("event_type").alias("k"),
            F.to_json(F.struct("hour", "event_type", "n")).alias("v"),
        ),
        "rollup_hourly",
        key_col="k",
        value_col="v",
    )
    stored = catalog.read("rollup_hourly").count()
    assert stored == len(rollup_rows) > 0

    expect = {
        (r["hour"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("event_type"),
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert latest == expect  # streaming rollup state == batch aggregation


def test_streaming_near_dup_index_matches_one_shot(spark, sf_dir, tmp_path):
    """Docs streamed through StreamingNearDup (one parquet file per
    micro-batch) must emit exactly the one-shot verified_near_dups pairs
    that touch the streamed batches, and a retried epoch must NOT
    double-append the store."""
    from pyspark.sql import functions as F

    from polar_spark.functions.dedup import verified_near_dups
    from polar_spark.sources.tables import load_table
    from polar_spark.streaming.dedup import StreamingNearDup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.agg(F.max("doc_id")).first()[0]
    s1, s2 = hi // 3, 2 * hi // 3

    snd = StreamingNearDup(
        spark, str(tmp_path / "idx"), str(tmp_path / "pairs"), threshold=0.7
    )
    snd.index.build(d.filter(F.col("doc_id") < s1))

    src = str(tmp_path / "src")
    d.filter((F.col("doc_id") >= s1) & (F.col("doc_id") < s2)).coalesce(
        1
    ).write.mode("append").parquet(src)
    d.filter(F.col("doc_id") >= s2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = snd.start(stream)
    q.awaitTermination(300)

    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in snd.pairs().collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in verified_near_dups(d, "doc_id", "text", threshold=0.7)
        .filter(F.col("id_b") >= s1)
        .collect()
    )
    assert got == want and len(got) > 0

    # retry path: re-applying an already-recorded epoch is a no-op
    bands_before = spark.read.parquet(snd.index.bands_path).count()
    replay = d.filter(F.col("doc_id") >= s2)
    cp = str(tmp_path / "idx" / "_checkpoint")
    assert snd.apply_batch(replay, 1, cp) is False
    assert spark.read.parquet(snd.index.bands_path).count() == bands_before


def test_streaming_semdedup_matches_greedy_reference(spark, sf_dir, tmp_path):
    """Embeddings streamed in two micro-batches through StreamingSemDedup
    must reproduce the greedy-prefix dedup law exactly (python reference
    over the full id-ordered corpus), and a same-epoch replay must not
    change the store."""
    import numpy as np
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import NLIST, quantize
    from polar_spark.sources.tables import load_table
    from polar_spark.streaming.dedup import StreamingSemDedup

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    cents = [
        (r["vec_id"], r["v"]) for r in qv.filter(F.col("vec_id") < NLIST).collect()
    ]
    TAU = 1600  # cosine >= 0.40 — exercises drops on this corpus

    sd = StreamingSemDedup(
        spark, str(tmp_path / "idx"), str(tmp_path / "drops"), cents,
        tau_sq_pct=TAU,
    )
    src = str(tmp_path / "src")
    mid = qv.agg(F.max("vec_id")).first()[0] // 2
    qv.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(src)
    qv.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, v array<bigint>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sd.start(stream)
    assert q.awaitTermination(300)

    got_drops = sorted(r["vec_id"] for r in sd.dropped().collect())
    got_kept = sorted(r["vec_id"] for r in sd.kept().collect())

    # python greedy-prefix reference over the whole corpus in id order,
    # same cells, same arithmetic
    rows = sorted(qv.collect(), key=lambda r: r["vec_id"])
    C = np.array([cv for _, cv in sorted(cents)], dtype=np.float64)
    cids = np.array([cid for cid, _ in sorted(cents)])
    kept_by_cell: dict = {}
    ref_drops = []
    for r in rows:
        v = np.array(r["v"], dtype=np.float64)
        d2 = ((C - v) ** 2).sum(axis=1)
        cell = int(cids[int(np.argmin(d2))])
        n2 = (v * v).sum()
        dup = False
        for u, nu in kept_by_cell.get(cell, []):
            d = float(u @ v)
            if d > 0 and d * d * 10000 >= TAU * nu * n2:
                dup = True
                break
        if dup:
            ref_drops.append(r["vec_id"])
        else:
            kept_by_cell.setdefault(cell, []).append((v, n2))
    ref_kept = sorted(set(r["vec_id"] for r in rows) - set(ref_drops))

    assert got_drops == sorted(ref_drops) and len(got_drops) > 0
    assert got_kept == ref_kept

    # replay idempotency: re-apply the last epoch with the same content
    n_store = sd.kept().count()
    replay = qv.filter(F.col("vec_id") > mid)
    cp = str(tmp_path / "idx" / "_checkpoint")
    assert sd.apply_batch(replay, 1, cp) is False
    assert sd.kept().count() == n_store
    qv.unpersist()


# DRIVER_BATCH_BYTES settings that force each side of the LSH sink's
# size selection: every plan-size estimate (Long.MaxValue for a frame
# without statistics) is at most 2⁶⁴ and none is at most -1
_LSH_PLANS = {"driver": 1 << 64, "bulk": -1}


def _pin_lsh_plan(monkeypatch, plan: str) -> None:
    import polar_spark.streaming.dedup as D

    monkeypatch.setattr(D, "DRIVER_BATCH_BYTES", _LSH_PLANS[plan])


# the driver plan's stored-corpus lookups: the resident index, or the
# Spark lookup (any non-empty store is past a 0-byte index cap)
_LSH_LOOKUPS = ["resident", "spark"]


def _pin_lsh_lookup(monkeypatch, lookup: str) -> list[str]:
    """Pin the driver plan's lookup; the plans whose result depends on
    it (the bulk plan always looks up in Spark)."""
    import polar_spark.streaming.dedup as D

    if lookup == "spark":
        monkeypatch.setattr(D, "DRIVER_INDEX_BYTES", 0)
        return ["driver"]
    return list(_LSH_PLANS)


def _banded_greedy_drops(rows, bands: int, r: int, tau: int) -> list[int]:
    """Python reference of the LSH sink's law: greedy in id order, a
    vector drops iff it verifies against an earlier KEPT vector that
    shares one of its band buckets (same md5 hyperplanes, same exact
    integer threshold test)."""
    import numpy as np

    from polar_spark.functions.similarity import hyperplane_weights

    W = np.array(hyperplane_weights(64, bands * r), dtype=np.int64)
    kept: list = []  # (band buckets, vector, n2)
    drops = []
    for vid, v in sorted(rows):
        v = np.array(v, dtype=np.int64)
        bits = tuple(bool(x >= 0) for x in W @ v)
        bks = tuple(bits[t * r:(t + 1) * r] for t in range(bands))
        n2 = int(v @ v)
        if any(
            any(a == b for a, b in zip(ubks, bks))
            and int(u @ v) > 0
            and 10000 * int(u @ v) ** 2 >= tau * nu * n2
            for ubks, u, nu in kept
        ):
            drops.append(vid)
        else:
            kept.append((bks, v, n2))
    return drops


@pytest.mark.parametrize("lookup", _LSH_LOOKUPS)
def test_streaming_semdedup_lsh_matches_banded_greedy_reference(
    spark, sf_dir, tmp_path, monkeypatch, lookup
):
    """Embeddings streamed in two micro-batches through
    StreamingSemDedupLSH must reproduce the banded greedy-prefix law
    exactly (python reference: greedy in id order, restricted to pairs
    sharing at least one band bucket, same integer threshold test), a
    same-epoch replay must not change the store, and the store must
    hold exactly the kept corpus — on both sides of the sink's
    driver/bulk size selection, and with the driver plan's stored-corpus
    lookup in the resident index or in Spark."""
    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import quantize
    from polar_spark.sources.tables import load_table
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    TAU, BANDS, R = 1600, 16, 4  # the τ=0.4 gate operating point
    src = str(tmp_path / "src")
    mid = qv.agg(F.max("vec_id")).first()[0] // 2
    qv.filter(F.col("vec_id") <= mid).coalesce(1).write.mode("append").parquet(src)
    qv.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(src)

    # python reference: same md5 hyperplane family, same band split,
    # same exact integer threshold — greedy over id order with the
    # banded candidate restriction
    rows = [(r["vec_id"], r["v"]) for r in qv.collect()]
    ref_drops = _banded_greedy_drops(rows, BANDS, R, TAU)
    ref_kept = sorted(set(i for i, _v in rows) - set(ref_drops))
    assert ref_drops

    for plan in _pin_lsh_lookup(monkeypatch, lookup):
        _pin_lsh_plan(monkeypatch, plan)
        sd = StreamingSemDedupLSH(
            spark, str(tmp_path / f"{plan}_idx"),
            str(tmp_path / f"{plan}_drops"),
            dims=64, bands=BANDS, planes_per_band=R, tau_sq_pct=TAU,
        )
        stream = (
            spark.readStream.schema("vec_id long, v array<bigint>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sd.start(stream)
        assert q.awaitTermination(300)

        got_drops = sorted(r["vec_id"] for r in sd.dropped().collect())
        got_kept = sorted(r["vec_id"] for r in sd.kept().collect())
        assert got_drops == sorted(ref_drops), plan
        assert got_kept == ref_kept, plan

        # replay idempotency
        n_store = sd.kept().count()
        cp = str(tmp_path / f"{plan}_idx" / "_checkpoint")
        assert sd.apply_batch(qv.filter(F.col("vec_id") > mid), 1, cp) is False
        assert sd.kept().count() == n_store

        # compact folds the per-epoch files; kept/dropped are unchanged
        # and a post-compact epoch still dedups against the folded store
        sd.compact()
        assert sorted(r["vec_id"] for r in sd.kept().collect()) == got_kept
        k0 = got_kept[0]
        probe = qv.filter(F.col("vec_id") == k0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
        )
        assert sd.apply_batch(probe, 2, cp) is True
        assert (k0 + 1_000_000) in {
            r["vec_id"] for r in sd.dropped().collect()
        }, "an exact copy of a kept vector must drop against the compacted store"
    qv.unpersist()


@pytest.mark.parametrize("lookup", _LSH_LOOKUPS)
def test_streaming_semdedup_lsh_greedy_chain_law(
    spark, tmp_path, monkeypatch, lookup
):
    """The greedy-prefix chain case: a~b and b~c over τ but a~c under τ
    ⇒ only b drops (a pair-based rule would also drop c); and a later
    epoch's copy of a KEPT vector drops against the store while a copy
    similar only to the DROPPED one still drops via its kept partner.
    Both sides of the driver/bulk size selection, and both lookups of
    the driver plan."""
    import math

    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    def vec(theta_deg: float) -> list[int]:
        t = math.radians(theta_deg)
        v = [math.cos(t), math.sin(t)] + [0.0] * 62
        return [int(math.floor(x * 10000)) for x in v]

    rows1 = [(0, vec(0.0)), (1, vec(15.0)), (2, vec(30.0))]
    for plan in _pin_lsh_lookup(monkeypatch, lookup):
        _pin_lsh_plan(monkeypatch, plan)
        sd = StreamingSemDedupLSH(
            spark, str(tmp_path / f"{plan}_idx"), str(tmp_path / f"{plan}_drops"),
            dims=64, bands=16, planes_per_band=4, tau_sq_pct=9025,
        )
        cp = str(tmp_path / f"{plan}_cp")
        b1 = spark.createDataFrame(rows1, "vec_id long, v array<bigint>")
        assert sd.apply_batch(b1, 0, cp) is True
        assert sorted(r["vec_id"] for r in sd.dropped().collect()) == [1]
        assert sorted(r["vec_id"] for r in sd.kept().collect()) == [0, 2]

        # epoch 2: id 10 ≈ kept 2 → drops; id 11 ≈ dropped 1, but 1's
        # kept partner 0 is within τ of it too (15°) → drops via the store
        rows2 = [(10, vec(30.5)), (11, vec(14.5))]
        b2 = spark.createDataFrame(rows2, "vec_id long, v array<bigint>")
        assert sd.apply_batch(b2, 1, cp) is True
        assert sorted(r["vec_id"] for r in sd.dropped().collect()) == [1, 10, 11]
        assert sorted(r["vec_id"] for r in sd.kept().collect()) == [0, 2]


def test_streaming_semdedup_lsh_soak_compact_bounds_store(
    spark, sf_dir, tmp_path
):
    """Soak the LSH sink over 8 micro-epochs with a mid-life and
    end-of-life compact(): the store must collapse to one file set per
    side, post-compact results must be identical to a single-process
    clean run over the same id order, and a post-compact epoch must
    still dedup against the folded store (the NearDupIndex compaction
    law, ported to the embedding sink). (r14: 20 → 8 epochs — the law
    needs a mid-life compact with follow-on epochs and an end-of-life
    compact, which 8 epochs with compacts at 3 and 7 exercise exactly
    as 20 did; the extra 12 epochs bought ~3.5 min of per-trigger
    fixed overhead per suite run and no additional assertion.)"""
    import os as _os

    from pyspark.sql import functions as F

    from polar_spark.functions.similarity import quantize
    from polar_spark.sources.tables import load_table
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.select("vec_id", quantize("embedding").alias("v")).persist()
    hi = qv.agg(F.max("vec_id")).first()[0] + 1
    n_epochs = 8
    step = (hi + n_epochs - 1) // n_epochs

    def run(prefix: str, compact_at: tuple[int, ...]) -> "StreamingSemDedupLSH":
        sd = StreamingSemDedupLSH(
            spark, str(tmp_path / f"{prefix}idx"),
            str(tmp_path / f"{prefix}drops"),
            dims=64, bands=16, planes_per_band=4, tau_sq_pct=1600,
        )
        for ep in range(n_epochs):
            b = qv.filter(
                (F.col("vec_id") >= ep * step)
                & (F.col("vec_id") < (ep + 1) * step)
            )
            sd.apply_batch(b, ep, f"{prefix}soak")
            if ep in compact_at:
                sd.compact()
        return sd

    soaked = run("s_", (3, 7))
    clean = run("c_", ())

    def files(p: str) -> int:
        return sum(
            1 for dp, _d, fns in _os.walk(p)
            for f in fns if f.endswith(".parquet")
        )

    # folded: one file set per store side vs one per surviving epoch
    assert files(soaked.bands_path) < files(clean.bands_path)
    assert files(soaked.vectors_path) <= 4

    got = sorted(r["vec_id"] for r in soaked.dropped().collect())
    want = sorted(r["vec_id"] for r in clean.dropped().collect())
    assert got == want and len(got) > 0
    assert sorted(r["vec_id"] for r in soaked.kept().collect()) == sorted(
        r["vec_id"] for r in clean.kept().collect()
    )
    qv.unpersist()


def test_stream_static_broadcast_join_enrichment(spark, sf_dir, tmp_path):
    """Stream-static join: a micro-batched event stream enriched against
    a static dimension (the Structured Streaming surface the curation
    pipeline uses to tag arriving documents with source metadata). The
    static side re-broadcasts per micro-batch, needs no watermark, and
    the streamed total must equal the batch join exactly."""
    load_table(spark, sf_dir, "events").limit(2000).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stsrc"))
    src = str(tmp_path / "stsrc")
    # re-read the snapshot: limit() is not row-stable across jobs, so the
    # stream, the dim, and the expectation must share ONE materialized set
    ev = spark.read.parquet(src)
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "user_id").groupBy("cohort").count()
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ss_enrich")
        .option("checkpointLocation", str(tmp_path / "sscp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["cohort"], r["count"])
        for r in spark.sql("select * from ss_enrich").collect()
    }
    expect = {
        (r["cohort"], r["count"])
        for r in ev.join(dim, "user_id").groupBy("cohort").count().collect()
    }
    assert got == expect


def test_streaming_sketches_match_batch(spark, sf_dir, tmp_path):
    """Continuously-maintained sketches must equal the one-shot batch
    sketch over everything ingested: count-min by counter linearity,
    KMV by the k-smallest-of-union law (bit-identical estimates). Also
    proves replay idempotency: re-applying an epoch leaves the store
    unchanged."""
    from polar_spark.functions.sketches import cm_counters, cm_estimate, kmv_distinct
    from polar_spark.streaming.sketches import StreamingCountMin, StreamingKMV

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "sk_src")
    # several files -> several micro-batches under maxFilesPerTrigger
    ev.repartition(4).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    cm = StreamingCountMin(spark, str(tmp_path / "cm_store"), value_col="event_type")
    kmv = StreamingKMV(
        spark, str(tmp_path / "kmv_store"), keys=["event_type"], value_col="user_id"
    )
    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q1 = cm.start(stream, checkpoint_dir=str(tmp_path / "cm_cp"))
    q1.awaitTermination(180)
    q2 = kmv.start(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "kmv_cp"),
    )
    q2.awaitTermination(180)

    keys = snap.select("event_type").distinct()
    got_cm = {
        r["event_type"]: r["est_count"]
        for r in cm.estimate(keys, "event_type").collect()
    }
    want_cm = {
        r["event_type"]: r["est_count"]
        for r in cm_estimate(cm_counters(snap, "event_type"), keys, "event_type").collect()
    }
    assert got_cm == want_cm and len(got_cm) == 5

    got_kmv = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in kmv.estimate().collect()
    }
    want_kmv = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in kmv_distinct(snap, ["event_type"], "user_id").collect()
    }
    assert got_kmv == want_kmv  # bit-identical merge law

    # replay idempotency: re-applying an already-recorded MID-STREAM
    # epoch is a no-op (epoch 0 after later epochs is the deliberate
    # checkpoint-reset path and does re-apply)
    assert cm.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "cm_cp")) is False
    assert got_cm == {
        r["event_type"]: r["est_count"]
        for r in cm.estimate(keys, "event_type").collect()
    }


def test_streaming_hll_matches_batch_and_tolerates_overlap(spark, sf_dir, tmp_path):
    """StreamingHLL through a real file-stream equals the one-shot batch
    sketch (register-wise max-merge law), AND — the property that sets
    HLL apart from every other sketch in the family — re-ingesting
    OVERLAPPING data as a new epoch leaves every register unchanged
    (max is idempotent), so at-least-once delivery cannot inflate the
    estimate. Plus replay idempotency of a recorded epoch."""
    from polar_spark.functions.sketches import hll_distinct
    from polar_spark.streaming.sketches import StreamingHLL

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "hll_src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    hll = StreamingHLL(
        spark, str(tmp_path / "hll_store"), keys=["event_type"], value_col="user_id"
    )
    q = hll.start(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "hll_cp"),
    )
    q.awaitTermination(180)

    def rows(df):
        return {
            r["event_type"]: (r["v_zero"], r["s_sum"], r["est_distinct"])
            for r in df.collect()
        }

    got = rows(hll.estimate())
    want = rows(hll_distinct(snap, ["event_type"], "user_id"))
    assert got == want and len(got) == 5  # bit-identical merge law

    # the at-least-once law: a FRESH epoch carrying data already
    # ingested (half the corpus, overlapping everything) is accepted
    # into the store — and changes nothing
    n_epochs = len(hll._partition_dirs())
    assert (
        hll.apply_batch(
            snap.filter("event_id % 2 = 0"), epoch=n_epochs + 10,
            sink_id=str(tmp_path / "hll_cp"),
        )
        is True
    )
    assert rows(hll.estimate()) == got

    # replay of a RECORDED epoch: rejected, store untouched
    assert (
        hll.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "hll_cp"))
        is False
    )
    assert rows(hll.estimate()) == got

    # estimate sanity: the exported v_zero is exactly what a consumer
    # needs for the standard small-range linear-counting correction
    # (est < 2.5m with empty registers -> m·ln(m/v_zero)); corrected,
    # the estimate lands within the m=64 error band of the truth
    import math

    truth = {
        r["event_type"]: r["t"]
        for r in snap.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("t"))
        .collect()
    }
    for et, (v_zero, _, est) in got.items():
        if est < 2.5 * 64 and v_zero > 0:
            est = 64 * math.log(64 / v_zero)
        assert abs(est - truth[et]) <= 0.4 * truth[et]


def test_streaming_sketch_new_lineage_purges_store(spark, sf_dir, tmp_path):
    """Sketch partials ADD when merged, so a NEW lineage (fresh
    checkpoint over a non-empty store, or a checkpoint reset) must purge
    the old partials — otherwise every estimate silently doubles after a
    reprocess. Also: estimate() stays schema-stable on an empty store
    (key types come from the saved partial schema)."""
    from polar_spark.functions.sketches import cm_counters, cm_estimate
    from polar_spark.streaming.sketches import StreamingCountMin, StreamingKMV

    ev = load_table(spark, sf_dir, "events").limit(1000)
    snap_dir = str(tmp_path / "lin_src")
    ev.write.mode("overwrite").parquet(snap_dir)
    snap = spark.read.parquet(snap_dir)
    keys = snap.select("event_type").distinct()

    cm = StreamingCountMin(spark, str(tmp_path / "lin_cm"), value_col="event_type")
    # first lineage: two epochs
    half = snap.filter(F.col("event_id") % 2 == 0)
    assert cm.apply_batch(half, epoch=0, sink_id="cpA") is True
    assert cm.apply_batch(snap.subtract(half), epoch=1, sink_id="cpA") is True
    want = {
        r["event_type"]: r["est_count"]
        for r in cm_estimate(cm_counters(snap, "event_type"), keys, "event_type").collect()
    }
    got1 = {
        r["event_type"]: r["est_count"]
        for r in cm.estimate(keys, "event_type").collect()
    }
    assert got1 == want
    # NEW lineage (different checkpoint) reprocesses everything: the old
    # lineage's partials must be purged, not added to
    assert cm.apply_batch(snap, epoch=0, sink_id="cpB") is True
    got2 = {
        r["event_type"]: r["est_count"]
        for r in cm.estimate(keys, "event_type").collect()
    }
    assert got2 == want  # NOT doubled

    # reset within the SAME checkpoint (epoch 0 after epoch > 0) purges too
    assert cm.apply_batch(half, epoch=1, sink_id="cpB") is True
    assert cm.apply_batch(snap, epoch=0, sink_id="cpB") is True
    got3 = {
        r["event_type"]: r["est_count"]
        for r in cm.estimate(keys, "event_type").collect()
    }
    assert got3 == want

    # KMV: schema-stable empty estimate after first write recorded types
    kmv = StreamingKMV(
        spark, str(tmp_path / "lin_kmv"), keys=["user_id"], value_col="event_id"
    )
    assert kmv.apply_batch(snap, epoch=0, sink_id="cpK") is True
    populated_schema = dict(kmv.estimate().dtypes)
    kmv._purge()
    empty_schema = dict(kmv.estimate().dtypes)
    assert empty_schema == populated_schema  # bigint keys, not string

    # RETYPED lineage (ADVICE r4): after a purge, the first write of the
    # next lineage must overwrite the saved schema — a string-keyed
    # lineage over the same store must not inherit the bigint key type
    retyped = snap.withColumn("user_id", F.col("user_id").cast("string"))
    assert kmv.apply_batch(retyped, epoch=0, sink_id="cpK2") is True
    assert dict(kmv.estimate().dtypes)["user_id"] == "string"
    # ...and the retyped schema is now the stable one for empty reads
    kmv._purge()
    assert dict(kmv.estimate().dtypes)["user_id"] == "string"


def test_streaming_lm_matches_one_shot_training(spark, sf_dir, tmp_path):
    """StreamingBigramLM trained over file-per-trigger micro-batches
    equals one-shot training (count additivity: merged partials are the
    exact corpus counts), the scored output equals the batch scorer, and
    replay of a recorded epoch is a no-op."""
    from polar_spark.functions.lm import score_bigram_nll, train_bigram_counts
    from polar_spark.streaming.lm import StreamingBigramLM

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter("doc_id % 10 < 8")
    hold = docs.filter("doc_id % 10 >= 8")
    src = str(tmp_path / "lm_src")
    train.repartition(3).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    sink = StreamingBigramLM(spark, str(tmp_path / "lm_store"))
    q = sink.start(
        spark.readStream.schema(snap.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "lm_cp"),
    )
    q.awaitTermination(180)

    got_counts = {
        (r["w1"], r["w2"]): r["c2"] for r in sink.counts().collect()
    }
    want_counts = {
        (r["w1"], r["w2"]): r["c2"]
        for r in train_bigram_counts(snap).collect()
    }
    assert got_counts == want_counts and len(got_counts) > 0

    got = {
        r["doc_id"]: (r["n_scored"], r["sum_nll_nano"], r["nll_bucket"])
        for r in sink.score(hold).collect()
    }
    want = {
        r["doc_id"]: (r["n_scored"], r["sum_nll_nano"], r["nll_bucket"])
        for r in score_bigram_nll(hold, train_bigram_counts(snap)).collect()
    }
    assert got == want  # bit-identical: exact-decimal sums, same counts

    # replay idempotency (mid-stream epoch): store unchanged
    assert sink.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "lm_cp")) is False
    assert got_counts == {
        (r["w1"], r["w2"]): r["c2"] for r in sink.counts().collect()
    }


def test_streaming_quantile_matches_batch(spark, sf_dir, tmp_path):
    """The bottom-k quantile sample maintained through a real
    file-stream (one file per micro-batch) must read back bit-identical
    to the one-shot batch sketch — sample AND nearest-rank estimates —
    plus replay idempotency and NULL-value semantics."""
    from polar_spark.functions.sketches import qs_partial, qs_quantiles
    from polar_spark.streaming.sketches import StreamingQuantile

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "qs_src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    qs = StreamingQuantile(
        spark,
        str(tmp_path / "qs_store"),
        keys=["event_type"],
        id_col="event_id",
        value_col="value",
        k=64,
    )
    q = qs.start(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "qs_cp"),
    )
    q.awaitTermination(180)

    got_sample = {
        (r["event_type"], r["h"], r["v"]) for r in qs.sample().collect()
    }
    want_sample = {
        (r["event_type"], r["h"], r["v"])
        for r in qs_partial(snap, ["event_type"], "event_id", "value", k=64).collect()
    }
    assert got_sample == want_sample  # k-smallest-of-union, bit-identical

    got = {tuple(r) for r in qs.estimate().collect()}
    want = {
        tuple(r)
        for r in qs_quantiles(
            qs_partial(snap, ["event_type"], "event_id", "value", k=64),
            ["event_type"],
        ).collect()
    }
    assert got == want and len(got) == 5

    # replay idempotency: re-applying a recorded mid-stream epoch is a no-op
    assert qs.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "qs_cp")) is False
    assert got == {tuple(r) for r in qs.estimate().collect()}


def test_qs_quantiles_python_reference(spark):
    """Nearest-rank estimates equal a pure-Python replica on a corpus
    with duplicated values and NULLs: NULL values are excluded, the
    sample is the k smallest md5(id) hashes, and each p-quantile is the
    value at integer rank ceil(p%·n) in value order."""
    import hashlib
    import math

    from polar_spark.functions.sketches import qs_partial, qs_quantiles

    rows = [(i, "g", float(i % 7) if i % 11 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, g string, value double")
    k = 32
    hashed = sorted(
        (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), v)
        for i, _, v in rows
        if v is not None
    )
    sample = sorted(v for _, v in hashed[:k])
    n = len(sample)
    want = {
        p: sample[math.ceil(p * n / 100) - 1] for p in (50, 90, 99)
    }
    got = qs_quantiles(
        qs_partial(df, ["g"], "id", "value", k=k), ["g"]
    ).collect()[0]
    assert got["n_sample"] == n == k
    assert (got["p50"], got["p90"], got["p99"]) == (want[50], want[90], want[99])


def test_streaming_dsir_matches_batch(spark, sf_dir, tmp_path):
    """The DSIR bucket-count model maintained through a real file-stream
    must score bit-identically to the one-shot model (count additivity),
    stay replay-idempotent, and handle scoring docs whose grams the
    model never saw (unseen buckets contribute 0, the add-one-smoothing
    limit)."""
    from pyspark.sql import functions as SF

    from polar_spark.functions.dsir import dsir_log_weights
    from polar_spark.streaming.dsir import StreamingDSIR

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    src = str(tmp_path / "dsir_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    sink = StreamingDSIR(
        spark, str(tmp_path / "dsir_store"), target="lang = 'en'", m=512
    )
    q = sink.start(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "dsir_cp"),
    )
    q.awaitTermination(180)

    got = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["logw_nano"])
        for r in sink.score(snap).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["n_grams"], r["logw_nano"])
        for r in dsir_log_weights(snap, SF.col("lang") == "en", m=512).collect()
    }
    assert got == want and len(got) == snap.count()

    # replay idempotency: re-applying a recorded mid-stream epoch is a no-op
    assert sink.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "dsir_cp")) is False

    # cross-corpus scoring: a model trained on a TINY corpus leaves most
    # buckets empty, so scoring a foreign doc exercises the left-join
    # path — unseen buckets contribute exactly 0 (+kappa). Pinned by a
    # full hashlib/Decimal replica.
    import hashlib

    from polar_spark.functions.dsir import bucket_counts, score_against_counts
    from polar_spark.functions.ln_portable import ln_nano_py

    def buckets_of(text, m=4096):
        w = text.split(" ")
        grams = list(w) + [f"{a} {b}" for a, b in zip(w, w[1:])]
        return [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % m for g in grams]

    tiny = [(1, "en", "the cat sat"), (2, "de", "der hund lief schnell")]
    model = bucket_counts(
        spark.createDataFrame(tiny, "doc_id long, lang string, text string"),
        SF.col("lang") == "en",
    )
    cq: dict[int, int] = {}
    cp: dict[int, int] = {}
    for _, lang, text in tiny:
        for b in buckets_of(text):
            cq[b] = cq.get(b, 0) + 1
            if lang == "en":
                cp[b] = cp.get(b, 0) + 1
    kappa = ln_nano_py(sum(cq.values()) + 4096) - ln_nano_py(
        sum(cp.values()) + 4096
    )
    alien = spark.createDataFrame(
        [(99, "xx", "zzqqy wwvvk the")], "doc_id long, lang string, text string"
    )
    want_logw = sum(
        (
            (ln_nano_py(cp.get(b, 0) + 1) - ln_nano_py(cq[b] + 1))
            if b in cq
            else 0
        )
        + kappa
        for b in buckets_of("zzqqy wwvvk the")
    )
    row = score_against_counts(alien, model).collect()[0]
    assert row["n_grams"] == 5  # 3 unigrams + 2 bigrams
    assert row["logw_nano"] == want_logw


def test_streaming_corpus_stats_matches_one_shot(spark, sf_dir, tmp_path):
    """StreamingCorpusStats built over file-per-trigger micro-batches
    equals a one-shot corpus_term_stats build (df/doc/token additivity
    over disjoint doc batches), BM25 served from the streamed table
    equals the batch scorer, and replay of a recorded epoch is a no-op."""
    from polar_spark.functions.retrieval import (
        bm25_topk_from_stats,
        corpus_term_stats,
    )
    from polar_spark.streaming.retrieval import StreamingCorpusStats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "bm_src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    sink = StreamingCorpusStats(spark, str(tmp_path / "bm_store"))
    q = sink.start(
        spark.readStream.schema(snap.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "bm_cp"),
    )
    q.awaitTermination(180)

    def as_map(stats_df):
        return {
            r["term"]: (r["df"], r["n_docs"], r["total_tok"])
            for r in stats_df.collect()
        }

    got = as_map(sink.stats())
    want = as_map(
        corpus_term_stats(snap).groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tok").alias("total_tok"),
        )
    )
    assert got == want and len(got) > 1 and None in got

    terms = ("dup", "vector", "nosuchterm")  # includes a zero-df term
    got_rank = [
        (r["doc_id"], r["tf1"], r["tf2"], r["tf3"], r["score"])
        for r in bm25_topk_from_stats(snap, sink.stats(), terms).collect()
    ]
    want_rank = [
        (r["doc_id"], r["tf1"], r["tf2"], r["tf3"], r["score"])
        for r in bm25_topk_from_stats(
            snap, corpus_term_stats(snap), terms
        ).collect()
    ]
    assert got_rank == want_rank and len(got_rank) == 10

    # replay idempotency (mid-stream epoch): store unchanged
    assert sink.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "bm_cp")) is False
    assert got == as_map(sink.stats())


def test_streaming_drift_matches_batch(spark, sf_dir, tmp_path):
    """StreamingDrift through a real file-stream reports PSI terms
    bit-identically to the one-shot batch computation (bucket-count
    additivity), stays replay-idempotent, and its terms carry the PSI
    sign law: a bucket over-represented in the current slice vs the
    reference contributes a positive term (both factors flip together)."""
    from polar_spark.functions.ln_portable import ln_nano_py
    from polar_spark.streaming.drift import StreamingDrift

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    src = str(tmp_path / "dr_src")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    sink = StreamingDrift(spark, str(tmp_path / "dr_store"))
    q = sink.start(
        spark.readStream.schema(snap.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        checkpoint_dir=str(tmp_path / "dr_cp"),
    )
    q.awaitTermination(180)

    got = {r["bucket"]: (r["cp"], r["cq"], r["psi_term_scaled"]) for r in sink.psi().collect()}

    # python replica from the raw rows
    rows = snap.collect()
    cp: dict[int, int] = {}
    cq: dict[int, int] = {}
    for r in rows:
        b = r["n_chars"] // 50
        if r["doc_id"] % 2 == 0:
            cp[b] = cp.get(b, 0) + 1
        else:
            cq[b] = cq.get(b, 0) + 1
    buckets = set(cp) | set(cq)
    scp = {b: cp.get(b, 0) + 1 for b in buckets}
    scq = {b: cq.get(b, 0) + 1 for b in buckets}
    np_, nq = sum(scp.values()), sum(scq.values())
    want = {}
    for b in buckets:
        term = (scp[b] * nq - scq[b] * np_) * (
            ln_nano_py(scp[b] * nq) - ln_nano_py(scq[b] * np_)
        )
        want[b] = (scp[b], scq[b], term)
    assert got == want and len(got) > 3
    # sign law: every term is >= 0 (both factors share sign)
    assert all(t >= 0 for _, _, t in got.values())

    # replay idempotency: re-applying a recorded epoch is a no-op
    assert sink.apply_batch(snap, epoch=1, sink_id=str(tmp_path / "dr_cp")) is False
    assert got == {
        r["bucket"]: (r["cp"], r["cq"], r["psi_term_scaled"])
        for r in sink.psi().collect()
    }


def test_streaming_zordered_layout_equals_batch(spark, sf_dir, tmp_path):
    """stream_zordered lands the SAME Morton-partitioned layout as the
    batch writer (bucket-for-bucket identical row sets), and box reads
    over the streamed layout prune partitions exactly like the batch
    one."""
    from polar_spark.sources.zorder_layout import (
        read_z_box,
        stream_zordered,
        write_zordered,
        z_box_buckets,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("user_id & 1023").alias("x"),
        F.expr("CAST(FLOOR(value) AS BIGINT) & 1023").alias("y"),
    )
    src = str(tmp_path / "zsrc")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    snap = spark.read.parquet(src)

    bpath = str(tmp_path / "zbatch")
    write_zordered(snap, bpath, "x", "y")
    spath = str(tmp_path / "zstream")
    q = stream_zordered(
        spark.readStream.schema(snap.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        spath, "x", "y", checkpoint_dir=str(tmp_path / "zcp"),
    )
    q.awaitTermination(180)

    def by_bucket(path):
        d = spark.read.parquet(path)
        return {
            r["zbucket"]: r["ids"]
            for r in d.groupBy("zbucket")
            .agg(F.sort_array(F.collect_list("event_id")).alias("ids"))
            .collect()
        }

    assert by_bucket(spath) == by_bucket(bpath)

    box = (0, 1023, 100, 140)
    got = sorted(r["event_id"] for r in read_z_box(spark, spath, "x", "y", *box).collect())
    want = sorted(
        r["event_id"]
        for r in snap.filter(
            (F.col("y") >= box[2]) & (F.col("y") <= box[3])
        ).collect()
    )
    assert got == want and len(z_box_buckets(*box)) > 0


@pytest.mark.parametrize("lookup", _LSH_LOOKUPS)
def test_streaming_semdedup_lsh_dup_storm_bounded_greedy(
    spark, tmp_path, monkeypatch, lookup
):
    """Adversarial dup storm: EVERY row of the micro-batch is one
    near-dup cluster, so the verified-pair list is quadratic in the
    batch. With greedy_pair_cap forced far below the pair count the
    bulk plan must (a) never materialize more than ~cap pairs
    driver-side (the chunked path) and (b) produce drops identical to
    the unbounded greedy — all ids but the cluster minimum; the driver
    plan (kept bucket-mate tables, no pair list) must agree, and a
    second storm against the stored cluster must drop whole through
    either of its lookups."""
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    n = 120  # 7140 mutual pairs
    base = [100 + (i % 7) for i in range(64)]
    rows = [
        (i, [x + (1 if i % 2 else 0) for x in base]) for i in range(n)
    ]
    batch = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    plans = _pin_lsh_lookup(monkeypatch, lookup)

    def run(prefix: str, cap: int, plan: str = "bulk") -> list[int]:
        _pin_lsh_plan(monkeypatch, plan)
        sd = StreamingSemDedupLSH(
            spark, str(tmp_path / f"{prefix}_idx"),
            str(tmp_path / f"{prefix}_drops"),
            dims=64, bands=4, planes_per_band=4, tau_sq_pct=9025,
            greedy_pair_cap=cap,
        )
        assert sd.apply_batch(batch, 0, f"storm_{prefix}") is True
        if plan == "driver":
            again = spark.createDataFrame(
                [(i + n, v) for i, v in rows], "vec_id long, v array<bigint>"
            )
            assert sd.apply_batch(again, 1, f"storm_{prefix}") is True
        return sorted(r["vec_id"] for r in sd.dropped().collect())

    if "bulk" in plans:
        bounded = run("capped", cap=500)  # ~15 id-ordered ranges
        unbounded = run("uncapped", cap=2_000_000)
        assert bounded == unbounded == list(range(1, n))
    driver = run("driver", cap=500, plan="driver")
    assert driver == list(range(1, 2 * n))


def test_streaming_semdedup_lsh_chain_law_survives_cap(
    spark, tmp_path, monkeypatch
):
    """The chunked greedy must preserve CHAIN semantics across range
    boundaries: a~b and b~c over τ, a~c under τ ⇒ only b drops. With
    cap=1 the (b,c) pair lands in a later range where b is already
    resolved-DROPPED — the server-side anti-join must discard it so c
    survives (a naive 'any resolved partner' rule would drop c)."""
    import math

    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    def vec(theta_deg: float) -> list[int]:
        t = math.radians(theta_deg)
        v = [math.cos(t), math.sin(t)] + [0.0] * 62
        return [int(math.floor(x * 10000)) for x in v]

    rows = [(0, vec(0.0)), (1, vec(15.0)), (2, vec(30.0))]
    _pin_lsh_plan(monkeypatch, "bulk")  # the pair cap is a bulk-plan bound
    sd = StreamingSemDedupLSH(
        spark, str(tmp_path / "chain_idx"), str(tmp_path / "chain_drops"),
        dims=64, bands=16, planes_per_band=4, tau_sq_pct=9025,
        greedy_pair_cap=1,
    )
    b = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    assert sd.apply_batch(b, 0, "storm_chain") is True
    assert sorted(r["vec_id"] for r in sd.dropped().collect()) == [1]
    assert sorted(r["vec_id"] for r in sd.kept().collect()) == [0, 2]


def test_bounded_greedy_matches_unbounded_on_random_pairs(spark):
    """_greedy_drops law on an arbitrary pair graph: chunked (tiny cap)
    ≡ unbounded, including pre-dropped seeds that must never justify a
    drop."""
    import random

    from polar_spark.streaming.dedup import _greedy_drops

    rng = random.Random(11)
    ids = list(range(60))
    pairs = sorted(
        {
            (a, b)
            for _ in range(400)
            for a, b in [sorted(rng.sample(ids, 2))]
        }
    )
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    pre = {3, 17, 41}
    unbounded = _greedy_drops(spark, pdf, pre, cap=10_000)
    chunked = _greedy_drops(spark, pdf, pre, cap=37)
    assert chunked == unbounded
    # reference loop
    dropped = set(pre)
    partners: dict[int, list[int]] = {}
    for a, b in pairs:
        partners.setdefault(b, []).append(a)
    for b in sorted(partners):
        if b in dropped:
            continue
        if any(a not in dropped for a in partners[b]):
            dropped.add(b)
    assert unbounded == dropped


def test_streaming_semdedup_lsh_store_prunes_partitions(spark, tmp_path):
    """The r11 prunable store law: kept band rows land in (band, bpre)
    directory partitions with vectors co-located, and a batch-shaped
    predicate reaches the scan as PartitionFilters — the external-dup
    read touches only the batch's bucket neighborhoods, never the
    whole store."""
    import re

    from polar_spark.store import read_live
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    def vec(seed: int) -> list[int]:
        return [((seed * 7 + j * 13) % 11 - 5) * 1000 for j in range(64)]

    sd = StreamingSemDedupLSH(
        spark, str(tmp_path / "idx"), str(tmp_path / "drops"),
        dims=64, bands=8, planes_per_band=8, tau_sq_pct=9025,
    )
    b1 = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, v array<bigint>"
    )
    assert sd.apply_batch(b1, 0, "prune_law") is True
    sk = read_live(spark, sd.bands_path, "zzz")
    # r13 ids-only layout: int64 buckets, NO vector payload in any
    # band row (vectors live once in the kept-vectors table)
    assert {"band", "bpre", "bucket", "vec_id"} <= set(sk.columns)
    assert not ({"v", "vq", "n2"} & set(sk.columns))
    assert dict(sk.dtypes)["bucket"] == "bigint"
    pred = (F.col("band") == 3) & F.col("bpre").isin([0, 1, 2])
    plan = sk.filter(pred)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "band" in m.group(1) and "bpre" in m.group(1), plan
    # and a second epoch still drops against the pruned store: an exact
    # copy of a kept id must be caught as an external dup
    kept_one = sd.kept().limit(1).collect()[0]
    b2 = spark.createDataFrame(
        [(1000, list(kept_one["v"]))], "vec_id long, v array<bigint>"
    )
    assert sd.apply_batch(b2, 1, "prune_law") is True
    assert 1000 in {r["vec_id"] for r in sd.dropped().collect()}


def test_streaming_semdedup_lsh_empty_epoch_advances_ledger(spark, tmp_path):
    """Focused pin for the r14 apply_batch rework (the isEmpty probe
    folded into the persisted batch count): an EMPTY micro-batch must
    still return True, advance the epoch ledger (so a replay of that
    epoch is recognized as already applied), and leave both store sides
    untouched; a later non-empty epoch must keep deduping against the
    pre-gap store."""
    import math

    from pyspark.sql import functions as F

    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    def vec(theta_deg: float) -> list[int]:
        t = math.radians(theta_deg)
        v = [math.cos(t), math.sin(t)] + [0.0] * 62
        return [int(math.floor(x * 10000)) for x in v]

    sd = StreamingSemDedupLSH(
        spark, str(tmp_path / "idx"), str(tmp_path / "drops"),
        dims=64, bands=16, planes_per_band=4, tau_sq_pct=9025,
    )
    cp = str(tmp_path / "cp")
    b1 = spark.createDataFrame(
        [(0, vec(0.0)), (1, vec(45.0))], "vec_id long, v array<bigint>"
    )
    assert sd.apply_batch(b1, 0, cp) is True
    kept_before = sorted(r["vec_id"] for r in sd.kept().collect())
    assert kept_before == [0, 1]

    empty = b1.filter(F.lit(False))
    assert sd.apply_batch(empty, 1, cp) is True  # empty epoch: applied
    assert sd.apply_batch(empty, 1, cp) is False  # ledger advanced: replay no-ops
    assert sorted(r["vec_id"] for r in sd.kept().collect()) == kept_before
    assert sd.dropped().count() == 0  # stores untouched by the empty epoch

    # a later epoch still dedups against the pre-gap store
    b3 = spark.createDataFrame([(10, vec(0.2))], "vec_id long, v array<bigint>")
    assert sd.apply_batch(b3, 2, cp) is True
    assert sorted(r["vec_id"] for r in sd.dropped().collect()) == [10]


def _mk_lsh_sink(spark, tmp_path, name):
    from polar_spark.streaming.dedup import StreamingSemDedupLSH

    return StreamingSemDedupLSH(
        spark, str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_drops"),
        dims=64, bands=8, planes_per_band=8, tau_sq_pct=9025,
    )


def _lsh_vec(seed: int) -> list[int]:
    return [((seed * 7 + j * 13) % 11 - 5) * 1000 for j in range(64)]


def test_semdedup_sink_auto_crossover(spark, tmp_path):
    """semdedup_sink_auto picks the physical plan by expected store
    size (VERDICT r11 ask #5): IVF-cell below the measured crossover
    (given a codebook), banded-LSH at/after it — with the LSH operating
    point sized for the EXPECTED corpus, not the seed."""
    from polar_spark.functions.similarity import lsh_operating_point
    from polar_spark.streaming.dedup import (
        SEMDEDUP_SINK_CROSSOVER_N,
        StreamingSemDedup,
        StreamingSemDedupLSH,
        semdedup_sink_auto,
    )

    cents = [(0, [1000] * 64)]
    small = semdedup_sink_auto(
        spark, str(tmp_path / "a"), str(tmp_path / "ad"), 64,
        expected_store_n=40_000, centroids=cents,
    )
    assert isinstance(small, StreamingSemDedup)
    big = semdedup_sink_auto(
        spark, str(tmp_path / "b"), str(tmp_path / "bd"), 64,
        expected_store_n=10 * SEMDEDUP_SINK_CROSSOVER_N,
    )
    assert isinstance(big, StreamingSemDedupLSH)
    b, r = lsh_operating_point(10 * SEMDEDUP_SINK_CROSSOVER_N, 0.95, 0.95)
    assert (big.bands, big.planes_per_band) == (b, r)
    # no codebook to cell-assign against → LSH regardless of size
    nc = semdedup_sink_auto(
        spark, str(tmp_path / "c"), str(tmp_path / "cd"), 64,
        expected_store_n=40_000,
    )
    assert isinstance(nc, StreamingSemDedupLSH)


def _twin_rows(lo: int, hi: int) -> list[tuple[int, list[int]]]:
    """Rows ``lo..hi-1`` of a fixed corpus in which every fifth vector
    is a near copy (±20 per component) of an earlier one — the twin of
    id ``k`` is ``k // 2``, so twins land in the same or an earlier
    epoch."""
    import numpy as np

    rng = np.random.default_rng(7)
    V = rng.integers(-3000, 3000, size=(hi, 64))
    for k in range(3, hi, 5):
        V[k] = V[k // 2] + rng.integers(-20, 20, size=64)
    return [(i, V[i].tolist()) for i in range(lo, hi)]


def _lsh_store_state(spark, sd) -> tuple:
    """(kept ids, dropped ids, band rows) of an LSH sink's store."""
    bands = spark.read.parquet(sd.bands_path).select(
        "band", "bpre", "bucket", "vec_id"
    )
    return (
        sorted(r["vec_id"] for r in sd.kept().collect()),
        sorted(r["vec_id"] for r in sd.dropped().collect()),
        sorted(tuple(r) for r in bands.collect()),
    )


def _lsh_epochs(spark, sd, plans, sink_id: str, monkeypatch) -> None:
    """Epoch 0 = ids 0-59 (the pre-seed), epochs 1.. = 20 ids each."""
    spans = [(0, 60)] + [(60 + 20 * i, 80 + 20 * i) for i in range(len(plans) - 1)]
    for ep, (plan, (lo, hi)) in enumerate(zip(plans, spans)):
        _pin_lsh_plan(monkeypatch, plan)
        b = spark.createDataFrame(_twin_rows(lo, hi), "vec_id long, v array<bigint>")
        assert sd.apply_batch(b, ep, sink_id) is True


def test_streaming_semdedup_lsh_mixed_plan_store_reads_back_and_compacts(
    spark, tmp_path, monkeypatch
):
    """A store pre-seeded by the bulk plan and then grown by driver-plan
    epochs (pyarrow-written partitions) reads back exactly what an
    all-bulk run writes — kept, dropped and band rows, with the same
    column types and a _SUCCESS per epoch partition — and survives
    compact(): the fold keeps every row, and a later driver epoch still
    drops an exact copy of a kept vector against the folded store."""
    import os

    mixed = _mk_lsh_sink(spark, tmp_path, "mixplan")
    ref = _mk_lsh_sink(spark, tmp_path, "allbulk")
    _lsh_epochs(spark, mixed, ["bulk", "driver", "driver"], "mixplan", monkeypatch)
    _lsh_epochs(spark, ref, ["bulk", "bulk", "bulk"], "allbulk", monkeypatch)

    state = _lsh_store_state(spark, mixed)
    assert state == _lsh_store_state(spark, ref)
    assert state[1], "the planted twins must drop"
    for path in (mixed.vectors_path, mixed.bands_path, mixed.drops_path):
        other = path.replace("mixplan", "allbulk")
        assert spark.read.parquet(path).dtypes == spark.read.parquet(other).dtypes
        names = sorted(os.listdir(path))
        assert len(names) == 3 and all(n.startswith("ep=") for n in names), names
        for n in names:
            assert os.path.exists(os.path.join(path, n, "_SUCCESS"))

    mixed.compact()
    assert _lsh_store_state(spark, mixed) == state
    _pin_lsh_plan(monkeypatch, "driver")
    kept_one = mixed.kept().orderBy("vec_id").first()
    b = spark.createDataFrame(
        [(10_000, list(kept_one["v"]))], "vec_id long, v array<bigint>"
    )
    assert mixed.apply_batch(b, 3, "mixplan") is True
    assert 10_000 in {r["vec_id"] for r in mixed.dropped().collect()}


def test_streaming_semdedup_lsh_driver_plan_replay_after_publish(
    spark, tmp_path, monkeypatch
):
    """A failure after a driver-plan epoch publishes its partitions but
    before EpochLedger.record leaves the epoch unrecorded; replaying it
    overwrites exactly its own partitions, so the stores equal a clean
    run's and no hidden staging directory is left behind."""
    import os

    import polar_spark.store as store
    import polar_spark.streaming.dedup as D

    clean = _mk_lsh_sink(spark, tmp_path, "clean")
    _lsh_epochs(spark, clean, ["driver", "driver"], "clean", monkeypatch)

    sd = _mk_lsh_sink(spark, tmp_path, "torn")
    _lsh_epochs(spark, sd, ["driver"], "torn", monkeypatch)
    record = D.EpochLedger.record

    def failing_record(self, key, epoch, force=False):
        raise RuntimeError("crash before the epoch is recorded")

    monkeypatch.setattr(D.EpochLedger, "record", failing_record)
    b1 = spark.createDataFrame(_twin_rows(60, 80), "vec_id long, v array<bigint>")
    with pytest.raises(RuntimeError, match="before the epoch is recorded"):
        sd.apply_batch(b1, 1, "torn")
    tag = store.epoch_tag(store._sink_instance_key("torn"), 1)
    for path in (sd.drops_path, sd.vectors_path, sd.bands_path):
        assert os.path.exists(os.path.join(path, f"ep={tag}", "_SUCCESS"))
    monkeypatch.setattr(D.EpochLedger, "record", record)
    assert sd._epochs.last(store._sink_instance_key("torn")) == 0

    assert sd.apply_batch(b1, 1, "torn") is True  # the replay
    assert sd.apply_batch(b1, 1, "torn") is False
    assert _lsh_store_state(spark, sd) == _lsh_store_state(spark, clean)
    for path in (sd.drops_path, sd.vectors_path, sd.bands_path):
        assert all(n.startswith("ep=") for n in os.listdir(path))


def test_streaming_semdedup_lsh_compact_refuses_pending_replay(
    spark, tmp_path, monkeypatch
):
    """While a failed micro-batch's partitions await replay, compact()
    raises naming their tag: folding them would hide the replay's own
    first attempt from its self-exclusion, and the replay would drop
    its own vectors. After the replay it compacts, and the store holds
    the banded-greedy law."""
    import polar_spark.store as store
    import polar_spark.streaming.dedup as D

    sd = _mk_lsh_sink(spark, tmp_path, "pending")
    _lsh_epochs(spark, sd, ["driver"], "pending", monkeypatch)
    record = D.EpochLedger.record

    def failing_record(self, key, epoch, force=False):
        raise RuntimeError("crash before the epoch is recorded")

    monkeypatch.setattr(D.EpochLedger, "record", failing_record)
    b1 = spark.createDataFrame(_twin_rows(60, 80), "vec_id long, v array<bigint>")
    with pytest.raises(RuntimeError, match="before the epoch is recorded"):
        sd.apply_batch(b1, 1, "pending")
    monkeypatch.setattr(D.EpochLedger, "record", record)
    tag = store.epoch_tag("pending", 1)
    with pytest.raises(RuntimeError, match=tag):
        sd.compact()

    assert sd.apply_batch(b1, 1, "pending") is True  # the replay
    sd.compact()
    kept = {r["vec_id"] for r in sd.kept().collect()}
    dropped = sorted(r["vec_id"] for r in sd.dropped().collect())
    assert not kept & set(dropped)
    assert dropped == _banded_greedy_drops(_twin_rows(0, 80), 8, 8, 9025)
    assert dropped and kept | set(dropped) == set(range(80))


def _count_index_loads(monkeypatch) -> list[str]:
    """Record every partition the resident index loads from disk."""
    import polar_spark.streaming.dedup as D

    loads: list[str] = []
    load = D._ResidentStore._load

    def counting(self, root, path, rows):
        loads.append(path)
        return load(self, root, path, rows)

    monkeypatch.setattr(D._ResidentStore, "_load", counting)
    return loads


def test_streaming_semdedup_lsh_resident_index_warm_equals_cold(
    spark, tmp_path, monkeypatch
):
    """After several driver-plan triggers the sink's index is warm: its
    own partitions were written through, so the next trigger loads
    nothing from disk. A fresh sink over a copy of the same store
    (a cold index, every partition loaded with pyarrow) decides that
    trigger identically, and both equal the banded-greedy law."""
    import shutil

    warm = _mk_lsh_sink(spark, tmp_path, "warm")
    applied = _twin_rows(0, 60) + [
        r for i in range(3) for r in _twin_rows(60 + 20 * i, 80 + 20 * i)
    ] + _twin_rows(120, 160)
    _lsh_epochs(spark, warm, ["driver"] * 4, "wc", monkeypatch)
    for d in ("idx", "drops"):
        shutil.copytree(str(tmp_path / f"warm_{d}"), str(tmp_path / f"cold_{d}"))
    cold = _mk_lsh_sink(spark, tmp_path, "cold")
    loads = _count_index_loads(monkeypatch)
    b = spark.createDataFrame(_twin_rows(120, 160), "vec_id long, v array<bigint>")
    assert warm.apply_batch(b, 4, "wc") is True
    assert loads == []
    assert cold.apply_batch(b, 4, "wc") is True
    assert len(loads) == 8  # 4 epochs × (bands, vectors)

    ref = _banded_greedy_drops(applied, 8, 8, 9025)
    assert [i for i in ref if i >= 120], "the next batch must drop something"
    assert _lsh_store_state(spark, warm) == _lsh_store_state(spark, cold)
    assert _lsh_store_state(spark, warm)[1] == ref


def test_streaming_semdedup_lsh_resident_index_reloads_after_compact(
    spark, tmp_path, monkeypatch
):
    """compact() between two driver-plan triggers replaces every
    partition with ``ep=base00000001``: the next trigger drops the vanished
    partitions from the index, loads the compacted ones, and still
    drops the cross-epoch twins by the banded-greedy law."""
    import os

    from polar_spark.store import epoch_tag

    sd = _mk_lsh_sink(spark, tmp_path, "cmp")
    _lsh_epochs(spark, sd, ["driver", "driver"], "cmp", monkeypatch)
    sd.compact()
    loads = _count_index_loads(monkeypatch)
    b = spark.createDataFrame(_twin_rows(80, 100), "vec_id long, v array<bigint>")
    assert sd.apply_batch(b, 2, "cmp") is True

    assert sorted(os.path.basename(p) for p in loads) == ["ep=base00000001"] * 2
    names = {name for _root, name in sd._resident._parts}
    assert names == {"ep=base00000001", f"ep={epoch_tag('cmp', 2)}"}
    applied = _twin_rows(0, 60) + _twin_rows(60, 80) + _twin_rows(80, 100)
    dropped = _lsh_store_state(spark, sd)[1]
    assert dropped == _banded_greedy_drops(applied, 8, 8, 9025)
    assert [i for i in dropped if i >= 80 and i // 2 < 80]


def test_streaming_semdedup_lsh_resident_index_loads_bulk_partition(
    spark, tmp_path, monkeypatch
):
    """A partition the bulk plan wrote through Spark (hive band=/bpre=
    directories, Spark file names) is loaded into the index with
    pyarrow, and a driver-plan trigger drops an exact copy of one of
    its kept vectors as an external dup against it."""
    import os

    from polar_spark.store import epoch_tag

    sd = _mk_lsh_sink(spark, tmp_path, "blk")
    _lsh_epochs(spark, sd, ["bulk"], "blk", monkeypatch)
    kept = sd.kept().orderBy("vec_id").collect()
    _pin_lsh_plan(monkeypatch, "driver")
    loads = _count_index_loads(monkeypatch)
    rows = [(10_000 + r["vec_id"], list(r["v"])) for r in kept[:5]]
    b = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
    assert sd.apply_batch(b, 1, "blk") is True

    bulk = f"ep={epoch_tag('blk', 0)}"
    assert sorted(os.path.basename(p) for p in loads) == [bulk, bulk]
    dropped = set(_lsh_store_state(spark, sd)[1])
    assert {i for i, _v in rows} <= dropped


def test_streaming_semdedup_lsh_driver_plan_job_budget(
    spark, tmp_path, monkeypatch
):
    """A small trigger decided on the driver runs one Spark job, the
    batch's own collect (the bulk plan ran ~29; the Spark lookup of
    the stored corpus, ~8), and no pandas UDF: no SQL execution of the
    trigger's job group has a Python UDF node in its plan."""
    import re

    sd = _mk_lsh_sink(spark, tmp_path, "budget")
    _lsh_epochs(spark, sd, ["bulk"], "budget", monkeypatch)
    _pin_lsh_plan(monkeypatch, "driver")
    b = spark.createDataFrame(_twin_rows(60, 80), "vec_id long, v array<bigint>")
    sc = spark.sparkContext
    sc.setJobGroup("lsh_driver_budget", "driver-plan trigger")
    try:
        assert sd.apply_batch(b, 1, "budget") is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup("lsh_driver_budget"))
    assert 0 < len(jobs) <= 1, sorted(jobs)
    assert len(_lsh_store_state(spark, sd)[1]) > 0

    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if any(execs.apply(i).jobs().contains(j) for j in jobs)
    ]
    assert plans
    for plan in plans:
        assert not re.search(r"EvalPython|InPandas|InArrow|PythonUDF", plan), plan


def test_streaming_semdedup_lsh_pack_width_error_on_both_plans(
    spark, tmp_path, monkeypatch
):
    """A component past the vbytes pack width fails the micro-batch
    loudly on both sides of the size selection, before any write."""
    import os

    rows = [(0, [40_000] + [0] * 63)]  # |x| > 32767 = the 2-byte limit
    for plan in _LSH_PLANS:
        _pin_lsh_plan(monkeypatch, plan)
        sd = _mk_lsh_sink(spark, tmp_path, f"pack_{plan}")
        b = spark.createDataFrame(rows, "vec_id long, v array<bigint>")
        with pytest.raises(Exception, match="exceeds pack width 2"):
            sd.apply_batch(b, 0, f"pack_{plan}")
        assert not os.path.exists(sd.vectors_path)


def test_stream_topic_defined_before_first_file(spark, catalog, tmp_path):
    """A topic stream defined while the topic holds no data file (no
    partition= directory to infer the partition column from) must read
    every column in place once records arrive."""
    from polar_spark.streaming.ingest import stream_topic

    catalog.ensure_topic("t", 1)
    stream = stream_topic(spark, catalog, "t")
    Producer(catalog).produce_rows("t", ['{"a": 1}', '{"a": 2}'])
    got = []
    q = (
        stream.writeStream.foreachBatch(lambda df, _ep: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [(r["topic"], r["partition"], r["offset"], r["value"]) for r in got] == [
        ("t", 0, 0, '{"a": 1}'),
        ("t", 0, 1, '{"a": 2}'),
    ]
    assert all(r["timestamp"] is not None and r["key"] is None for r in got)


def test_streaming_semdedup_exact_tau_boundary(spark, tmp_path):
    """StreamingSemDedup decides τ with exact integers: an exact copy
    at τ = 1 (tau_sq_pct 10000) sits ON the threshold, where the float64
    form d·d·10⁴ ≥ τ·|u|²·|v|² rounds the two sides apart and keeps it.
    The copy must drop in-batch and against the stored corpus."""
    from polar_spark.streaming.dedup import StreamingSemDedup

    v = [(j * 7919) % 20001 - 10000 for j in range(64)]
    n = float(sum(x * x for x in v))
    assert not (n * n * 10000 >= 10000 * n * n)  # float64 decides wrongly
    sd = StreamingSemDedup(
        spark, str(tmp_path / "idx"), str(tmp_path / "drops"), [(0, v)],
        tau_sq_pct=10000,
    )
    schema = "vec_id long, v array<bigint>"
    assert sd.apply_batch(spark.createDataFrame([(0, v), (1, v)], schema), 0, "b")
    assert sd.apply_batch(spark.createDataFrame([(2, v)], schema), 1, "b")
    assert sorted(r["vec_id"] for r in sd.dropped().collect()) == [1, 2]
    assert [r["vec_id"] for r in sd.kept().collect()] == [0]
