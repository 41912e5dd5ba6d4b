"""Load generator for the REST workloads: a process of its own, separate
from the engine under test, using at most four threads and connections.

    python3 gen.py keyed   --port P --seed S --seconds T --rate R
    python3 gen.py vectors --port P --seed S --seconds T --rate R --batch B --store N

Prints ``ready`` once connected, waits for ``go`` on stdin, runs, and
prints one JSON result line. Producers are open loops: request ``i`` is
due at ``t0 + i / rate`` whether or not earlier ones were answered, every
latency is timed from the due time, and the generator reports how late
it sent. Every record carries its creation (due) time as ``ts``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import resource
import sys
import threading
import time

import numpy as np

MSG_BYTES = 1024
KEYED_BATCH = 64
TOPIC_KEYED = "keyed"
TOPIC_VECS = "vecs"
POLL_BACKOFF_S = 0.1


def _conn(port: int) -> http.client.HTTPConnection:
    return http.client.HTTPConnection("127.0.0.1", port, timeout=30)


def _request(conn, method: str, path: str, body: bytes | None = None,
             ctype: str | None = None) -> tuple[int, bytes]:
    headers = {"Content-Type": ctype} if ctype else {}
    conn.request(method, path, body=body, headers=headers)
    r = conn.getresponse()
    return r.status, r.read()


# Request bodies are built before the run with ``"ts": @TS@`` in every
# record, so stamping one at send time is a single ``bytes.replace``: the
# generator's threads share one interpreter lock, and JSON work in the
# timed loop would delay the other threads' sends and receipts.
TS_MARK = b"@TS@"


def _open_loop(port, due_times, bodies, path, out, ctype):
    """Send one request per due time on one connection."""
    conn = _conn(port)
    for i, due in due_times:
        now = time.time()
        if due > now:
            time.sleep(due - now)
        sent = time.time()
        try:
            body = bodies[i].replace(TS_MARK, b"%.6f" % due)
            status, _ = _request(conn, "POST", path(i), body, ctype)
        except (OSError, http.client.HTTPException):
            status = -1
            conn.close()
            conn = _conn(port)
        out.append((i, due, sent, time.time(), status))
    conn.close()


def run_keyed(a) -> dict:
    from corpus import zipf_keys

    rng = np.random.default_rng([17, a.seed])
    n_req = int(a.rate * a.seconds)
    keys = zipf_keys(rng, n_req, 1000)
    pad = "x" * (MSG_BYTES - 80)
    bodies = [
        "\n".join(f'{{"id": {i * KEYED_BATCH + j}, "ts": @TS@, "k": {int(keys[i])}, '
                  f'"pad": "{pad}"}}' for j in range(KEYED_BATCH)).encode()
        for i in range(n_req)
    ]

    def path(i):
        return f"/v1/topic/{TOPIC_KEYED}/messages?partitionKey=user{keys[i]}"

    consumers = [f"c{j}" for j in range(2)]
    conns = {}
    for c in consumers:
        conns[c] = _conn(a.port)
        st, _ = _request(conns[c], "PUT", f"/v1/consumer/register?consumerId={c}"
                         f"&group=g&topic={TOPIC_KEYED}&onNewGroup=startFromLatest")
        if st != 200:
            raise SystemExit(f"register {c}: HTTP {st}")
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.time()
    sends: list[list] = [[], []]
    prods = [
        threading.Thread(target=_open_loop, args=(
            a.port, [(i, t0 + i / a.rate) for i in range(j, n_req, 2)],
            bodies, path, sends[j], "application/x-ndjson"))
        for j in range(2)
    ]
    done = threading.Event()
    polls: dict[str, list] = {c: [] for c in consumers}
    # raw poll responses and their receipt times; parsed after the run,
    # for the same reason bodies are built before it
    raws: dict[str, list[tuple[bytes, float]]] = {c: [] for c in consumers}
    errors = {c: 0 for c in consumers}

    def consume(c):
        conn = conns[c]
        deadline = t0 + a.seconds + 20
        while time.time() < deadline:
            s = time.time()
            try:
                st, raw = _request(conn, "POST", f"/v1/consumer/poll?consumerId={c}")
            except (OSError, http.client.HTTPException):
                errors[c] += 1
                conn.close()
                conn = _conn(a.port)
                continue
            now = time.time()
            polls[c].append(now - s)
            if st == 200:
                raws[c].append((raw, now))
                try:
                    st2, _ = _request(conn, "POST", f"/v1/consumer/commit?consumerId={c}")
                except (OSError, http.client.HTTPException):
                    st2 = -1
                if st2 != 204:
                    errors[c] += 1
            elif st == 204:
                if done.is_set():
                    break
                # back off on an empty poll, so idle consumers do not
                # crowd the engine process's interpreter lock
                time.sleep(POLL_BACKOFF_S)
            else:
                errors[c] += 1
        conn.close()

    cons = [threading.Thread(target=consume, args=(c,)) for c in consumers]
    for t in prods + cons:
        t.start()
    for t in prods:
        t.join()
    # a consumer stops at its first empty poll after the last ack
    done.set()
    for t in cons:
        t.join()

    recv: dict[str, list] = {c: [] for c in consumers}
    for c in consumers:
        for raw, now in raws[c]:
            for it in json.loads(raw):
                p, off = int(it["token"]), int(it["startOffset"])
                for k, v in enumerate(it["values"]):
                    recv[c].append((p, off + k, v["id"], now - v["ts"], now))
    all_sends = sorted(sends[0] + sends[1])
    acked = {i for i, _d, _s, _a, st in all_sends if st == 200}
    seen: dict[int, int] = {}
    order_errors = 0
    for c in consumers:
        last: dict[int, int] = {}
        for p, off, mid, _lat, _t in recv[c]:
            if off <= last.get(p, -1):
                order_errors += 1
            last[p] = off
            seen[mid] = seen.get(mid, 0) + 1
    acked_msgs = {i * KEYED_BATCH + j for i in acked for j in range(KEYED_BATCH)}
    end = t0 + a.seconds
    delivered_in_window = sum(1 for c in consumers for r in recv[c] if r[4] <= end)
    last_recv = max((r[4] for c in consumers for r in recv[c]), default=end)
    acked_by_end = sum(KEYED_BATCH for _i, _d, _s, ack, st in all_sends if st == 200 and ack <= end)
    return {
        "t0": t0,
        "requests": len(all_sends),
        "failed_requests": sum(1 for *_x, st in all_sends if st != 200),
        "ack_ms": [(ack - due) * 1e3 for _i, due, _s, ack, st in all_sends if st == 200],
        "late_ms": [(s - due) * 1e3 for _i, due, s, _a, _st in all_sends],
        "poll_ms": [x * 1e3 for c in consumers for x in polls[c]],
        "delivery_ms": [r[3] * 1e3 for c in consumers for r in recv[c]],
        "polls": sum(len(polls[c]) for c in consumers),
        "poll_errors": sum(errors.values()),
        "acked_msgs": len(acked_msgs),
        "missing_msgs": len(acked_msgs - set(seen)),
        "duplicate_msgs": sum(n - 1 for n in seen.values()),
        "order_errors": order_errors,
        "delivered_msgs_per_s": sum(map(len, recv.values())) / max(1e-9, last_recv - t0),
        "lag_end_msgs": max(0, acked_by_end - delivered_in_window),
    }


def run_vectors(a) -> dict:
    from corpus import VectorStream

    n_stream = int(a.rate * a.seconds)
    # id ``store`` was produced by the engine's setup; send the rest
    vs = VectorStream(a.seed, a.store, n_stream + 1)
    first = a.store + 1
    n_req = -(-n_stream // a.batch)

    bodies = []
    for i in range(n_req):
        lo = first + i * a.batch
        hi = min(lo + a.batch, first + n_stream)
        bodies.append("\n".join(
            f'{{"vec_id": {k}, "v": {json.dumps(vs.vectors[k].tolist())}, "ts": @TS@}}'
            for k in range(lo, hi)).encode())

    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.time()
    sends: list = []
    # one connection: requests publish in id order, so every micro-batch
    # holds a contiguous id range and the greedy-prefix law is id order
    _open_loop(a.port, [(i, t0 + i * a.batch / a.rate) for i in range(n_req)],
               bodies, lambda i: f"/v1/topic/{TOPIC_VECS}/messages", sends,
               "application/x-ndjson")
    return {
        "t0": t0,
        "requests": len(sends),
        "failed_requests": sum(1 for *_x, st in sends if st != 200),
        "late_ms": [(s - due) * 1e3 for _i, due, s, _a, _st in sends],
        "ack_ms": [(ack - due) * 1e3 for _i, due, _s, ack, st in sends if st == 200],
        "stamps": {str(i): due for i, due, *_r in sends},
        "n_stream": n_stream,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["keyed", "vectors"])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--batch", type=int, default=KEYED_BATCH)
    ap.add_argument("--store", type=int, default=0)
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    res = run_keyed(a) if a.mode == "keyed" else run_vectors(a)
    ru = resource.getrusage(resource.RUSAGE_SELF)
    res["cpu_s"] = ru.ru_utime + ru.ru_stime
    res["maxrss_mb"] = ru.ru_maxrss / 1024
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
