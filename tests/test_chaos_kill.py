"""Mid-epoch SIGKILL chaos test (r9 VERDICT ask #6).

The epoch ledger's idempotency was proven via in-process REPLAY; this
test proves the harder property: a driver process SIGKILLed in the
middle of a foreachBatch epoch — in BOTH halves of the commit window —
restarts from the checkpoint with no loss and no double-count.

The two kill points bracket the exactly-once protocol:
  before-ledger  the epoch's count partial is on disk but the ledger
                 never recorded it (torn write). Restart must re-run
                 the epoch and OVERWRITE the same ``ep=`` partition —
                 counting it once, not twice.
  after-ledger   the ledger recorded the epoch but the stream's commit
                 log did not (the WAL-saw-it window — exactly what a
                 graceful stop can never produce). Restart replays the
                 epoch; apply_batch must return False and leave the
                 store untouched.

Either failure mode, if mishandled, shows up as a bigram-count diff
against the one-shot batch twin — counts are additive, so a single
double-applied epoch is visible.

Execution shape (r14 optimization round): every pipeline below is a
sequence of CHILD PROCESSES over its own private root — fully isolated
from every other pipeline (own topic catalog / checkpoint / Derby
metastore). The pipelines used to run one-at-a-time inside their test
bodies, which made this file the single largest wall-clock item in the
suite (~75 s × 16 tests, nearly all of it child-JVM boot + streaming
waits at <5% host CPU). They now run CONCURRENTLY on a session-scoped
thread pool; each test function asserts on its own pipeline's captured
results. The children, their phases, their kill points, and every
assertion are UNCHANGED — this parallelizes wall-clock waiting, not the
laws. Only the pipelines the selected tests read run, so ``-k`` on one
case boots only that case's children. ``POLAR_CHAOS_WORKERS`` overrides
the pool size (default 8)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(REPO, "tests", "chaos_lm_child.py")

SINK_CASES = [
    ("lm", "before"),
    ("lm", "after"),
    ("neardup", "before"),
    ("neardup", "after"),
    ("semdedup", "before"),
    ("semdedup", "after"),
    ("semlsh", "before"),
    ("semlsh", "after"),
]


def _run_child(child: str, root: str, *args: str, timeout: int = 900):
    return subprocess.run(
        [sys.executable, child, root, *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=REPO,
    )


def _read_verdict(root: str) -> dict:
    with open(os.path.join(root, "verdict.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# pipelines: run the child-process sequences and CAPTURE everything the
# test assertions need; no asserts in here (a broken pipeline surfaces
# as captured returncodes/output in its own test, exactly as before)


def _pipe_sink(root: str, sink: str, when: str) -> dict:
    prep = _run_child(CHILD, root, "prep", sink, timeout=600)
    out = {"prep": prep}
    if prep.returncode != 0:
        return out
    # phase 1: stream with a SIGKILL landing inside epoch 2's commit
    # window (5 single-file micro-batches, so the kill is mid-stream)
    crashed = _run_child(CHILD, root, "run", sink, "2", when, timeout=600)
    out["crashed"] = crashed
    out["verdict_after_crash"] = os.path.exists(
        os.path.join(root, "verdict.json")
    )
    if crashed.returncode != -signal.SIGKILL:
        return out
    # phase 2: fresh process, same checkpoint — runs the remainder and
    # writes the verdict
    done = _run_child(CHILD, root, "run", sink, "-1", timeout=600)
    out["done"] = done
    if done.returncode == 0:
        out["verdict"] = _read_verdict(root)
    return out


def _pipe_compact(root: str, when: str) -> dict:
    child = os.path.join(REPO, "tests", "chaos_compact_child.py")
    out = {"prep": _run_child(child, root, "prep", timeout=600)}
    if out["prep"].returncode != 0:
        return out
    out["crashed"] = _run_child(child, root, "compact", when, timeout=600)
    if out["crashed"].returncode != -signal.SIGKILL:
        return out
    out["done"] = _run_child(child, root, "finish", timeout=600)
    if out["done"].returncode == 0:
        out["verdict"] = _read_verdict(root)
    return out


def _pipe_consume(root: str, when: str) -> dict:
    child = os.path.join(REPO, "tests", "chaos_consume_child.py")
    out = {"prep": _run_child(child, root, "prep", timeout=600)}
    if out["prep"].returncode != 0:
        return out
    out["crashed"] = _run_child(
        child, root, "consume", "served_1.log", "3", when, timeout=600
    )
    if out["crashed"].returncode != -signal.SIGKILL:
        return out
    out["done"] = _run_child(
        child, root, "consume", "served_2.log", "-1", timeout=600
    )
    return out


def _pipe_semlsh_swap(root: str, when: str) -> dict:
    child = os.path.join(REPO, "tests", "chaos_semlsh_child.py")
    out = {"prep": _run_child(child, root, "prep")}
    if out["prep"].returncode != 0:
        return out
    out["crashed"] = _run_child(child, root, "compact", when)
    if out["crashed"].returncode != -signal.SIGKILL:
        return out
    out["done"] = _run_child(child, root, "finish")
    if out["done"].returncode == 0:
        out["verdict"] = _read_verdict(root)
    return out


def _pipe_semlsh_append(root: str) -> dict:
    child = os.path.join(REPO, "tests", "chaos_semlsh_child.py")
    out = {"prep": _run_child(child, root, "prep")}
    if out["prep"].returncode != 0:
        return out
    out["crashed"] = _run_child(child, root, "append_kill")
    if out["crashed"].returncode != -signal.SIGKILL:
        return out
    out["done"] = _run_child(child, root, "finish", "with_extra")
    if out["done"].returncode == 0:
        out["verdict"] = _read_verdict(root)
    return out


def _pipe_produce(root: str) -> dict:
    """Start the producer child, wait for ≥5 acked batches, SIGKILL it.
    The post-crash engine-side checks need the session Spark fixture and
    stay in the test body."""
    import time

    child = subprocess.Popen(
        [
            sys.executable,
            os.path.join(REPO, "tests", "chaos_produce_child.py"),
            root,
            "40",
            "500",
        ],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
    )
    acks_path = os.path.join(root, "acks.log")
    deadline = time.time() + 300
    timed_out = True
    while time.time() < deadline:
        try:
            with open(acks_path) as f:
                n = sum(1 for _ in f)
        except FileNotFoundError:
            n = 0
        if n >= 5:
            timed_out = False
            break
        time.sleep(0.05)
    if timed_out:
        child.kill()
        return {"timed_out": True}
    child.send_signal(signal.SIGKILL)
    child.wait(30)
    with open(acks_path) as f:
        acked = [int(line.split()[1]) for line in f if line.startswith("ACK")]
    return {
        "timed_out": False,
        "returncode": child.returncode,
        "acked": acked,
    }


_PIPELINES: dict[str, tuple] = {}
for _sink, _when in SINK_CASES:
    _PIPELINES[f"sink:{_sink}:{_when}"] = (_pipe_sink, (_sink, _when))
for _when in ("before", "after"):
    _PIPELINES[f"compact:{_when}"] = (_pipe_compact, (_when,))
    _PIPELINES[f"consume:{_when}"] = (_pipe_consume, (_when,))
for _when in ("before_drop", "after_drop"):
    _PIPELINES[f"semlsh_swap:{_when}"] = (_pipe_semlsh_swap, (_when,))
_PIPELINES["semlsh_append"] = (_pipe_semlsh_append, ())
_PIPELINES["produce"] = (_pipe_produce, ())

# the _PIPELINES key each test reads, from its parameters
_PIPELINE_OF = {
    "test_sigkill_mid_epoch_restart_no_loss_no_double":
        lambda p: f"sink:{p['sink']}:{p['when']}",
    "test_sigkill_mid_compaction_recovers": lambda p: f"compact:{p['when']}",
    "test_sigkill_consumer_between_serve_and_commit":
        lambda p: f"consume:{p['when']}",
    "test_sigkill_mid_semlsh_compact_swap_recovers":
        lambda p: f"semlsh_swap:{p['when']}",
    "test_sigkill_mid_semlsh_append_store_stays_consistent":
        lambda p: "semlsh_append",
    "test_sigkill_mid_produce_no_dup_no_wedge": lambda p: "produce",
}


def _selected_pipelines(items) -> list[str]:
    """The pipelines the session's selected tests of this module read."""
    keys = set()
    for it in items:
        key_of = _PIPELINE_OF.get(getattr(it, "originalname", None))
        if key_of is not None and it.module.__name__ == __name__:
            callspec = getattr(it, "callspec", None)
            keys.add(key_of(callspec.params if callspec else {}))
    return [k for k in _PIPELINES if k in keys]


@pytest.fixture(scope="session")
def chaos_results(request, tmp_path_factory):
    """Run the chaos pipelines the selected tests read, each once and
    concurrently; tests assert on the captured results. A pipeline that
    raises surfaces its exception in exactly the tests that consume it."""
    base = tmp_path_factory.mktemp("chaos")
    # default scales with the host: 8 pipelines in flight on a 32-core
    # box (measured sweet spot — 16 workers was no faster, the longest
    # pipeline's sequential child chain is the floor), down to 2 on a
    # small CI host so concurrent child JVMs never thrash it
    default = min(8, max(2, (os.cpu_count() or 8) // 4))
    workers = int(os.environ.get("POLAR_CHAOS_WORKERS", str(default)) or default)
    futures = {}
    roots = {}
    with ThreadPoolExecutor(max_workers=workers) as ex:
        for key in _selected_pipelines(request.session.items):
            fn, args = _PIPELINES[key]
            root = str(base / key.replace(":", "_"))
            os.makedirs(root, exist_ok=True)
            roots[key] = root
            futures[key] = ex.submit(fn, root, *args)
        results = {}
        for key, fut in futures.items():
            try:
                r = fut.result()
                if isinstance(r, dict):
                    r["root"] = roots[key]
                results[key] = r
            except Exception as exc:  # surfaced by the consuming test
                results[key] = exc
    return results


def _get(results: dict, key: str) -> dict:
    r = results[key]
    if isinstance(r, Exception):
        raise r
    return r


@pytest.mark.parametrize("sink,when", SINK_CASES)
def test_sigkill_mid_epoch_restart_no_loss_no_double(chaos_results, sink, when):
    r = _get(chaos_results, f"sink:{sink}:{when}")
    prep = r["prep"]
    assert prep.returncode == 0, prep.stderr[-2000:]

    crashed = r["crashed"]
    assert crashed.returncode == -signal.SIGKILL, (
        crashed.returncode,
        crashed.stderr[-2000:],
    )
    assert not r["verdict_after_crash"]

    done = r["done"]
    assert done.returncode == 0, done.stderr[-2000:]
    v = r["verdict"]
    assert v["want"] > 0
    assert v["got"] == v["want"]
    assert v["diff"] == 0, v  # no loss, no double-count — bit-identical


@pytest.mark.parametrize("when", ["before", "after"])
def test_sigkill_mid_compaction_recovers(chaos_results, when):
    """Epoch-store compaction SIGKILLed at the commit point (r10): the
    folding process dies ``before`` the manifest write (new base fully
    on disk but unreferenced) or ``after`` it (manifest committed, the
    superseded source partitions not yet GC'd). Either way a fresh
    process must read the SAME estimate as the one-shot batch sketch —
    an orphan base is invisible, committed-but-unGC'd sources are
    excluded — and its own compact() completes the recovery down to a
    single live partition. The real-kill twin of the hand-simulated
    crash states in test_compaction.py (laws 5a/5b)."""
    r = _get(chaos_results, f"compact:{when}")
    assert r["prep"].returncode == 0
    assert r["crashed"].returncode == -signal.SIGKILL, r["crashed"].stderr[-2000:]

    done = r["done"]
    assert done.returncode == 0, done.stderr[-2000:]
    v = r["verdict"]
    assert v["want"] > 0
    assert v["diff_before_recovery"] == 0, v  # torn compact never visible
    assert v["diff_after_recovery"] == 0, v
    assert v["live_after"] == 1
    # after the deferred-GC pass (one extra compact in the child),
    # exactly one base partition remains on disk, nothing torn
    assert len(v["dirs_after"]) == 1 and v["dirs_after"][0].startswith(
        "ep=base"
    ), v


@pytest.mark.parametrize("when", ["before", "after"])
def test_sigkill_consumer_between_serve_and_commit(chaos_results, when):
    """Consumer-side crash (r9 VERDICT ask #2): a consumer PROCESS is
    SIGKILLed between serving a poll and/or committing it — on both
    sides of the offset-ledger write — and a fresh process re-registers
    (no goodbye ever ran) and resumes from the COMMITTED offsets.

    The at-least-once law under crash, checked record-by-record from
    the incarnations' serve logs:
      before-commit  the killed poll's records were served but never
                     committed → the restart re-delivers EXACTLY them
                     (each exactly twice, everything else exactly once);
      after-commit   the ledger advanced before the kill → the restart
                     re-delivers NOTHING (every record exactly once) —
                     committed offsets survive a crash.
    Either way the union covers the full corpus: no loss, no skip
    (reference's failover consume,
    internal/test/integration/roundtrip_test.go:121-213)."""
    from collections import Counter

    r = _get(chaos_results, f"consume:{when}")
    assert r["prep"].returncode == 0
    assert r["crashed"].returncode == -signal.SIGKILL, r["crashed"].stderr[-2000:]
    done = r["done"]
    assert done.returncode == 0, done.stderr[-2000:]

    root = r["root"]

    def parse(name: str) -> tuple[list[list[str]], int]:
        """(polls as record-value lists, number of COMMIT markers)."""
        polls: list[list[str]] = []
        cur: list[str] = []
        commits = 0
        with open(os.path.join(root, name)) as f:
            for line in f:
                kind, _, val = line.strip().partition(" ")
                if kind == "SERVED":
                    cur.append(val)
                elif kind == "COMMIT":
                    polls.append(cur)
                    cur = []
                    commits += 1
        if cur:
            polls.append(cur)  # the killed poll (no COMMIT marker)
        return polls, commits

    p1, c1 = parse("served_1.log")
    p2, _ = parse("served_2.log")
    served: Counter = Counter(v for poll in p1 + p2 for v in poll)

    want = {f"b{b}:{i}" for b in range(8) for i in range(250)}
    assert set(served) == want  # no loss, no skip, nothing invented

    if when == "before":
        # the killed poll was served but never committed
        assert c1 == 2 and len(p1) == 3
        uncommitted = set(p1[-1])
        assert uncommitted  # the kill landed on a non-empty poll
        dup = {v for v, c in served.items() if c > 1}
        assert dup == uncommitted  # redelivered EXACTLY the lost poll
        assert all(c == 2 for v, c in served.items() if v in uncommitted)
    else:
        # ledger write beat the kill: nothing may be re-delivered
        assert c1 == 2 and len(p1) == 3  # 3rd poll committed, marker lost
        assert all(c == 1 for c in served.values()), Counter(
            {v: c for v, c in served.items() if c > 1}
        )


@pytest.mark.parametrize("when", ["before_drop", "after_drop"])
def test_sigkill_mid_semlsh_compact_swap_recovers(chaos_results, when):
    """Stored-LSH batch-table compact SIGKILLed around the catalog swap
    (VERDICT r12 ask #2): ``before_drop`` leaves the rewrite complete
    under <table>_compacting with the original still bound (the tmp is
    dead weight the next compact overwrites); ``after_drop`` is the
    r12-unrecoverable window — canonical name unbound, data alive only
    under the tmp name. A fresh process (persistent hive catalog, so
    the torn state survives the kill) must self-heal on first touch
    (recover_semlsh_swap rides every verify/params/append/compact
    entry), produce the bit-identical drop set, and complete a full
    compact to one file per bucket."""
    r = _get(chaos_results, f"semlsh_swap:{when}")
    assert r["prep"].returncode == 0
    assert r["crashed"].returncode == -signal.SIGKILL, r["crashed"].stderr[-2000:]

    done = r["done"]
    assert done.returncode == 0, done.stderr[-2000:]
    v = r["verdict"]
    assert v["want"] > 0
    assert v["diff_before_recovery_compact"] == 0, v
    assert v["diff_after_recovery_compact"] == 0, v
    assert v["files_after"] == 32  # one file per bucket post-compact


def test_sigkill_mid_semlsh_append_store_stays_consistent(chaos_results):
    """Stored-LSH batch-table append SIGKILLed MID-WRITE (a watcher
    kills the process the moment the commit protocol's _temporary dir
    appears): the table must stay readable — staged files are invisible
    to the bucketed scan — and the caller's at-least-once retry of the
    same append must land the store on the exact expected drop set
    regardless of how much of the torn write committed (duplicate band
    rows only duplicate candidate pairs; the drop set is distinct)."""
    r = _get(chaos_results, "semlsh_append")
    assert r["prep"].returncode == 0
    assert r["crashed"].returncode == -signal.SIGKILL, r["crashed"].stderr[-2000:]

    done = r["done"]
    assert done.returncode == 0, done.stderr[-2000:]
    v = r["verdict"]
    assert v["want"] > 0
    assert v["diff_before_recovery_compact"] == 0, v
    assert v["diff_after_recovery_compact"] == 0, v


def test_sigkill_mid_produce_no_dup_no_wedge(spark, chaos_results):
    """Produce-path chaos (beyond the simulated dead-pid tests): a real
    producer PROCESS is SIGKILLed somewhere inside a batch's
    reserve→write→validate→publish window. Afterwards:

    - every ACKED batch is served exactly once (produce() returning is
      the durability ack);
    - the killed in-flight batch may be absent or partially present
      (at-least-once, never acked) but NO record is served twice;
    - the reservation queue is not wedged: a fresh producer publishes
      past the dead reservation (pid-liveness skip) and its batch is
      served."""
    from polar_spark.consume import EARLIEST, ConsumerGroup
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    r = _get(chaos_results, "produce")
    assert not r["timed_out"], "child never produced 5 batches"
    assert r["returncode"] == -signal.SIGKILL
    acked = r["acked"]
    assert len(acked) >= 5
    root = r["root"]

    # fresh "producer process" (this test's session): must publish past
    # the dead producer's in-flight reservation, not wedge behind it
    cat = TopicCatalog(spark, os.path.join(root, "cat"))
    prod = Producer(cat)
    after = spark.createDataFrame(
        [(f"k{i % 7}", f"post:{i}") for i in range(100)], "k string, v string"
    )
    prod.produce(after, "chaos", key_col="k", value_col="v")

    g = ConsumerGroup(cat, "chaos_g")
    g.register("chaos", EARLIEST)
    from collections import Counter

    seen: Counter = Counter()
    for _ in range(200):
        res = g.poll("chaos")
        rows = res.df.collect()
        if not rows:
            break
        seen.update(r2["value"] for r2 in rows)
        g.commit("chaos", res.positions)

    # acked batches: exactly once, complete
    for b in acked:
        vals = [v for v in seen if v.startswith(f"b{b}:")]
        assert len(vals) == 500, (b, len(vals))
        assert all(seen[v] == 1 for v in vals)
    # NOTHING is served twice — including any torn in-flight batch
    dup = {v: c for v, c in seen.items() if c > 1}
    assert not dup, dict(list(dup.items())[:5])
    # the post-crash batch made it through
    assert sum(1 for v in seen if v.startswith("post:")) == 100
