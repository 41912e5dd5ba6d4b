"""HTTP round-trip over the REST facade, mirroring the reference's
integration flow (internal/test/integration/roundtrip_test.go:68-119:
produce via HTTP → register → poll until data → values match → commit
via goodbye; plus the documented status codes)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from polar_spark.api import PolarEngine
from polar_spark.rest import PolarRestServer


@pytest.fixture()
def server(spark, tmp_path):
    eng = PolarEngine(spark, str(tmp_path))
    srv = PolarRestServer(eng).start()
    yield srv
    srv.stop()


def _req(method: str, url: str, body: bytes | None = None, ctype: str = "application/json"):
    req = urllib.request.Request(url, data=body, method=method)
    if body is not None:
        req.add_header("Content-Type", ctype)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_http_roundtrip(server):
    u = server.url
    # status + discovery
    assert _req("GET", f"{u}/status")[0] == 200
    code, body = _req("GET", f"{u}/v1/brokers")
    assert code == 200
    topo = json.loads(body)
    assert topo["length"] == 1 and "producerPort" in topo

    # produce three JSON events on one key (ordering guarantee)
    for units in (-5, 10, 20):
        code, _ = _req(
            "POST",
            f"{u}/v1/topic/product-stock/messages?partitionKey=123",
            json.dumps({"productId": 123, "units": units}).encode(),
        )
        assert code == 200

    # register (idempotent) then poll until the data arrives
    code, _ = _req(
        "PUT",
        f"{u}/v1/consumer/register?consumerId=c1&group=g&topic=product-stock"
        "&onNewGroup=startFromEarliest",
    )
    assert code == 200
    code, body = _req("POST", f"{u}/v1/consumer/poll?consumerId=c1")
    assert code == 200
    items = json.loads(body)
    values = [v for it in items for v in it["values"]]
    assert [v["units"] for v in values] == [-5, 10, 20]  # per-key order
    assert all(
        set(it) >= {"topic", "token", "rangeIndex", "version", "startOffset", "values"}
        for it in items
    )
    assert items[0]["startOffset"] == "0"

    # nothing new → 204; the empty poll auto-committed the served batch
    assert _req("POST", f"{u}/v1/consumer/poll?consumerId=c1")[0] == 204

    # explicit commit → 204; goodbye → 200
    assert _req("POST", f"{u}/v1/consumer/commit?consumerId=c1")[0] == 204
    assert _req("POST", f"{u}/v1/consumer/goodbye?consumerId=c1")[0] == 200

    # a NEW consumer in the SAME group resumes after the committed tail
    _req(
        "PUT",
        f"{u}/v1/consumer/register?consumerId=c2&group=g&topic=product-stock"
        "&onNewGroup=startFromEarliest",
    )
    assert _req("POST", f"{u}/v1/consumer/poll?consumerId=c2")[0] == 204


def test_http_ndjson_and_errors(server):
    u = server.url
    nd = b'{"n": 1}\n{"n": 2}\n{"n": 3}\n'
    code, _ = _req(
        "POST",
        f"{u}/v1/topic/t/messages?partitionKey=k",
        nd,
        ctype="application/x-ndjson",
    )
    assert code == 200

    _req("PUT", f"{u}/v1/consumer/register?consumerId=x&group=g2&topic=t"
                "&onNewGroup=startFromEarliest")
    code, body = _req("POST", f"{u}/v1/consumer/poll?consumerId=x")
    assert code == 200
    values = [v for it in json.loads(body) for v in it["values"]]
    assert [v["n"] for v in values] == [1, 2, 3]  # NDJSON split into records

    # unregistered consumer → 409 Conflict (reference contract)
    assert _req("POST", f"{u}/v1/consumer/poll?consumerId=ghost")[0] == 409
    assert _req("POST", f"{u}/v1/consumer/commit?consumerId=ghost")[0] == 409

    # oversized produce → 400
    big = b"x" * (1024 * 1024 + 1)
    assert _req("POST", f"{u}/v1/topic/t/messages", big)[0] == 400

    # the limit is PER MESSAGE: a >1 MiB NDJSON batch of small messages
    # is accepted; one oversized line inside a batch is rejected
    small_lines = b"\n".join(b'{"n": %d}' % i for i in range(100000))
    assert len(small_lines) > 1024 * 1024
    assert _req(
        "POST", f"{u}/v1/topic/t2/messages?partitionKey=k",
        small_lines, ctype="application/x-ndjson",
    )[0] == 200
    bad_batch = b'{"ok": 1}\n' + b"x" * (1024 * 1024 + 1) + b"\n"
    assert _req(
        "POST", f"{u}/v1/topic/t2/messages?partitionKey=k",
        bad_batch, ctype="application/x-ndjson",
    )[0] == 400


def test_poll_response_bounded_over_deep_backlog(spark, tmp_path):
    """A consumer registered startFromEarliest against a deep topic must
    drain it across MANY bounded responses (reference
    ConsumerReadThreshold ~2 MiB, internal/consuming/group_read_queue.go:
    115-138) — never the whole backlog in one facade collect."""
    from pyspark.sql import functions as F

    eng = PolarEngine(spark, str(tmp_path))
    # ~40k records × ~60 B ≈ 2.4 MB backlog, budget 256 KiB → ≥9 polls
    src = (
        spark.range(40_000)
        .select(
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit('{"pad": "' + "x" * 40 + '", "i": '),
                     F.col("id"), F.lit("}")).alias("value"),
        )
    )
    eng.produce("deep", src, key_col="key", value_col="value")
    srv = PolarRestServer(eng, max_poll_bytes=256 * 1024).start()
    try:
        u = srv.url
        _req("PUT", f"{u}/v1/consumer/register?consumerId=d1&group=gd&topic=deep"
                    "&onNewGroup=startFromEarliest")
        total, polls = 0, 0
        while True:
            code, body = _req("POST", f"{u}/v1/consumer/poll?consumerId=d1")
            if code == 204:
                break
            assert code == 200
            polls += 1
            items = json.loads(body)
            batch_vals = [v for it in items for v in it["values"]]
            batch_bytes = sum(len(json.dumps(v)) for v in batch_vals)
            # bounded response: budget + one record of slack
            assert batch_bytes <= 256 * 1024 + 1024, batch_bytes
            total += len(batch_vals)
            assert polls < 1000, "poll loop not making progress"
        assert polls >= 5  # genuinely chunked, not one mega-response
        assert total == 40_000  # every record served exactly once (clean run)
    finally:
        srv.stop()


def test_metrics_counters_advance(server):
    """GET /metrics serves Prometheus text (reference main.go:85,
    internal/metrics/metrics.go:13-71) and the produce/consume counters
    advance across a produce → poll round-trip."""
    u = server.url

    def scrape() -> dict[str, float]:
        code, body = _req("GET", f"{u}/metrics")
        assert code == 200
        out = {}
        for ln in body.decode().splitlines():
            if ln.startswith("#") or not ln.strip():
                continue
            name, val = ln.rsplit(" ", 1)
            out[name] = float(val)
        return out

    before = scrape()
    for i in range(5):
        assert _req(
            "POST", f"{u}/v1/topic/mt/messages?partitionKey=k",
            json.dumps({"i": i}).encode(),
        )[0] == 200
    _req("PUT", f"{u}/v1/consumer/register?consumerId=m1&group=gm&topic=mt"
                "&onNewGroup=startFromEarliest")
    lag_key = 'polar_consumer_group_lag{group="gm",topic="mt"}'
    assert scrape()[lag_key] == 5.0  # registered earliest, nothing polled
    assert _req("POST", f"{u}/v1/consumer/poll?consumerId=m1")[0] == 200
    assert _req("POST", f"{u}/v1/consumer/commit?consumerId=m1")[0] == 204
    after = scrape()
    assert after[lag_key] == 0.0  # drained and committed

    prod_key = 'polar_coalescer_messages_total{topic="mt"}'
    cons_key = 'polar_consumer_messages_served_total{group="gm",topic="mt"}'
    assert after[prod_key] - before.get(prod_key, 0.0) == 5.0
    assert after[cons_key] - before.get(cons_key, 0.0) == 5.0
    assert after['polar_producer_requests_body_bytes_total{topic="mt"}'] > 0
    assert after["polar_consumer_poll_seconds_count"] >= 1.0
    assert after["polar_consumer_active"] >= 1.0
    # produce latency summary, one observation per acked request
    pc_key = 'polar_producer_produce_seconds_count{topic="mt"}'
    assert after[pc_key] - before.get(pc_key, 0.0) == 5.0
    assert after['polar_producer_produce_seconds_sum{topic="mt"}'] > 0


def test_bytes_served_count_utf8_bytes(server):
    """Consumer bytes served count UTF-8 bytes, like the producer byte
    counter and the poll byte budget: a non-ASCII round trip serves
    exactly the bytes it produced."""
    u = server.url
    msg = "é" * 100  # 100 characters, 200 UTF-8 bytes
    for _ in range(3):
        assert _req(
            "POST", f"{u}/v1/topic/utf/messages?partitionKey=k",
            msg.encode(), ctype="text/plain",
        )[0] == 200
    _req("PUT", f"{u}/v1/consumer/register?consumerId=b1&group=gb&topic=utf"
                "&onNewGroup=startFromEarliest")
    code, body = _req("POST", f"{u}/v1/consumer/poll?consumerId=b1")
    assert code == 200
    assert [v for it in json.loads(body) for v in it["values"]] == [msg] * 3
    m = server.engine.metrics
    produced = m.get(
        "polar_producer_requests_body_bytes_total", {"topic": "utf"}
    )
    served = m.get(
        "polar_consumer_bytes_served_total", {"group": "gb", "topic": "utf"}
    )
    assert produced == 600.0
    assert served == produced


def test_parallel_produce_and_poll_distinct_keys(server):
    """Per-topic/per-consumer facade locks: produce to two topics and a
    poll loop on a third proceed concurrently from multiple client
    threads without deadlock or data loss (the old global facade lock
    serialized every request; reference serves concurrent connections,
    internal/consuming/server.go:115-178)."""
    import threading

    u = server.url
    errors: list[Exception] = []

    def producer(topic: str, n: int):
        try:
            for i in range(n):
                code, _ = _req(
                    "POST", f"{u}/v1/topic/{topic}/messages?partitionKey=p{i % 3}",
                    json.dumps({"t": topic, "i": i}).encode(),
                )
                assert code == 200
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    _req("PUT", f"{u}/v1/consumer/register?consumerId=pp1&group=gp&topic=ta"
                "&onNewGroup=startFromEarliest")
    got: list[dict] = []

    def consumer():
        import time as _time

        try:
            for _ in range(100):
                code, body = _req("POST", f"{u}/v1/consumer/poll?consumerId=pp1")
                if code == 200:
                    got.extend(
                        v for it in json.loads(body) for v in it["values"]
                    )
                else:
                    # empty polls are near-instant now (the record-capped
                    # serve path schedules no Spark job when there is no
                    # backlog), so pace the loop like a real client —
                    # without this the 100 attempts burn out before the
                    # first concurrent produce publishes
                    _time.sleep(0.1)
                if len(got) >= 6:
                    return
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=producer, args=("ta", 6)),
        threading.Thread(target=producer, args=("tb", 6)),
        threading.Thread(target=consumer),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors
    assert not any(t.is_alive() for t in threads), "facade deadlocked"
    assert sorted(v["i"] for v in got if v["t"] == "ta") == list(range(6))


def test_http_binary_poll(server):
    """Binary consumer response (NETWORK_FORMATS.md:5-32 shape): poll
    with Accept: application/octet-stream returns compressed record
    chunks that decode back to the produced payloads in offset order."""
    from polar_spark.sources.frames import decode_poll_response

    u = server.url
    for i in range(3):
        code, _ = _req(
            "POST",
            f"{u}/v1/topic/bt/messages?partitionKey=k1",
            json.dumps({"i": i}).encode(),
        )
        assert code == 200
    _req("PUT", f"{u}/v1/consumer/register?consumerId=b1&group=gb&topic=bt"
                "&onNewGroup=startFromEarliest")
    req = urllib.request.Request(f"{u}/v1/consumer/poll?consumerId=b1", method="POST")
    req.add_header("Accept", "application/octet-stream")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"] == "application/octet-stream"
        items = decode_poll_response(resp.read())
    assert len(items) == 1
    it = items[0]
    assert it["topic"] == "bt" and it["start_offset"] == 0 and it["version"] == 1
    bodies = [json.loads(b.decode()) for _, b in it["records"]]
    assert [b["i"] for b in bodies] == [0, 1, 2]  # per-key offset order
    assert all(ts > 0 for ts, _ in it["records"])
    # drained → 204 on the binary path too
    req2 = urllib.request.Request(f"{u}/v1/consumer/poll?consumerId=b1", method="POST")
    req2.add_header("Accept", "application/octet-stream")
    try:
        with urllib.request.urlopen(req2) as resp2:
            assert resp2.status == 204
    except urllib.error.HTTPError as e:
        raise AssertionError(f"binary empty poll: {e.code}") from e


def test_key_lock_eviction_never_drops_fetched_lock(spark, tmp_path):
    """Refcounted registry: an entry a thread has fetched (refcount>0)
    must survive the 4096-key eviction sweep, so two threads can never
    hold DIFFERENT lock objects for the same key."""
    import threading

    from polar_spark.api import PolarEngine
    from polar_spark.rest import PolarRestServer

    eng = PolarEngine(spark, str(tmp_path), num_partitions=2)
    srv = PolarRestServer(eng)

    entered = threading.Event()
    release = threading.Event()

    def holder():
        with srv._key_lock("consumer", "hot"):
            entered.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(timeout=10)
    ent_before = srv._locks[("consumer", "hot")]
    # force an eviction sweep: fill past the bound with idle keys
    for i in range(4100):
        with srv._key_lock("topic", f"filler{i}"):
            pass
    assert srv._locks[("consumer", "hot")] is ent_before  # survived
    # a second taker must serialize on the SAME lock object
    blocked = threading.Event()

    def taker():
        with srv._key_lock("consumer", "hot"):
            blocked.set()

    t2 = threading.Thread(target=taker)
    t2.start()
    assert not blocked.wait(timeout=0.3)  # still excluded by holder
    release.set()
    assert blocked.wait(timeout=10)
    t.join(timeout=5)
    t2.join(timeout=5)


def test_connection_scoped_consumer_identity(server):
    """Reference parity (internal/consuming/server.go:115-178): consumer
    identity is CONNECTION-scoped — registering on a keep-alive
    connection binds it, so poll/commit/goodbye on the SAME connection
    may omit consumerId; a different connection without consumerId is
    not registered (409), and an explicit consumerId always wins."""
    import http.client
    import json as _json
    from urllib.parse import urlparse

    u = urlparse(server.url)
    _req(
        "POST",
        f"{server.url}/v1/topic/conn-topic/messages?partitionKey=7",
        _json.dumps({"v": 1}).encode(),
    )

    c1 = http.client.HTTPConnection(u.hostname, u.port)
    try:
        c1.request(
            "PUT",
            "/v1/consumer/register?consumerId=cc1&group=gc&topic=conn-topic"
            "&onNewGroup=startFromEarliest",
        )
        assert c1.getresponse().read() == b"OK"
        # poll/commit/goodbye WITHOUT consumerId on the bound connection
        got = None
        for _ in range(10):
            c1.request("POST", "/v1/consumer/poll")
            r = c1.getresponse()
            body = r.read()
            assert r.status in (200, 204)
            if r.status == 200:
                got = _json.loads(body)
                break
        assert got and got[0]["values"] == [{"v": 1}]
        c1.request("POST", "/v1/consumer/commit")
        r = c1.getresponse()
        r.read()
        assert r.status == 204
    finally:
        c1.close()

    # a FRESH connection with no consumerId has no binding → 409
    c2 = http.client.HTTPConnection(u.hostname, u.port)
    try:
        c2.request("POST", "/v1/consumer/poll")
        assert c2.getresponse().status == 409
    finally:
        c2.close()
