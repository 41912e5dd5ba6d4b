"""Longevity: a year of production in miniature.

The reference keeps its store bounded over time by rolling segments at a
configured max size (internal/conf/config.go:320-322) and deleting whole
expired segments on the 5-minute cleaner loop
(internal/data/datalog_cleaner.go:16-41). Our analog: `compact()` rolls
micro-batch files into offset-sorted segments capped at
``target_records_per_file``; `vacuum()` drops a file only when its
NEWEST record is past retention. The law those two must jointly uphold —
the thing a year of uptime would otherwise find — is that steady-state
disk is **O(retention window + one rolled segment per partition),
independent of stream AGE**: a segment stops absorbing new rows once it
is full (output is offset-sorted and later compactions re-chunk at the
same cap), so its newest record eventually ages past the window and the
whole file becomes deletable. If compaction instead merged old rows with
ever-newer ones without a cap, the newest record would pin the file
forever and retained data would grow with uptime.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from polar_spark.produce import Producer
from polar_spark.retention import RetentionScheduler
from polar_spark.store import file_lock
from polar_spark.topics import TopicCatalog


def _store_stats(cat: TopicCatalog, topic: str) -> tuple[int, int]:
    files = 0
    nbytes = 0
    for dp, _dn, fns in os.walk(cat.data_dir(topic)):
        for fn in fns:
            if fn.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dp, fn))
    return files, nbytes


def test_longevity_store_size_independent_of_stream_age(spark, tmp_path):
    """48 logical hours of keyed request-path batches with the retention
    sweeper (vacuum-then-compact, exactly sweep_once's order) running
    after every batch: retention window 6 h, segment roll 600 records,
    4 partitions, 200 records per batch → 9,600 records produced. If
    retained data grew with age it would approach 9,600; the law bounds
    it near window (1,200) + pinned segments (≤ 600/partition)."""
    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("soak", num_partitions=4)
    sched = RetentionScheduler(
        cat,
        period_seconds=3600.0,  # driven manually via sweep_once
        retention_hours=6.0,
        compact_min_files=4,
        compact_target_records=600,
    )
    vals = [f'{{"n": {i}}}' for i in range(200)]
    now = datetime.now(timezone.utc)
    base = now - timedelta(hours=48)

    produced = 0
    steady: list[tuple[int, int, int]] = []  # (retained, files, bytes)
    for h in range(48):
        # batch h carries event-time base+(h+1)h; the whole run executes
        # in wall-seconds, so LOGICAL time must advance via the sweeper's
        # retention setting: each cycle the cutoff tracks base+(h-4.5)h,
        # i.e. "now" in the miniature is batch h's timestamp and the
        # window keeps the last ~6 logical hours — exactly a year-long
        # deployment's steady state, fast-forwarded
        import time as _time

        prod.produce_rows(
            "soak", vals, key=f"k{h % 7}", ts=base + timedelta(hours=h + 1)
        )
        produced += len(vals)
        cutoff_ts = (base + timedelta(hours=h - 4.5)).timestamp()
        sched.retention_hours = (_time.time() - cutoff_ts) / 3600.0
        sched.sweep_once()
        if h >= 16:  # past warm-up: the window is saturated
            retained = cat.read("soak").count()
            files, nbytes = _store_stats(cat, "soak")
            steady.append((retained, files, nbytes))

    # 1) bounded, not O(age): window holds 6 batches (1,200 rows); each
    # of 4 partitions may pin at most one rolled segment (≤600 rows) plus
    # sub-file granularity slop. produced=9,600 — an age-proportional
    # store would blow straight through this bound by mid-run.
    bound = 1200 + 4 * 600 + 400
    worst = max(r for r, _f, _b in steady)
    assert worst <= bound, (worst, bound, steady[-5:])

    # 2) no growth trend across steady state: the max over the last
    # third exceeds the max over the first third only within one batch
    # of slop (file-granular expiry wobbles batch-sized, never trends)
    third = len(steady) // 3
    early = max(r for r, _f, _b in steady[:third])
    late = max(r for r, _f, _b in steady[-third:])
    assert late <= early + 200, (early, late)

    # 3) file count / bytes bounded too (compaction keeps fragmentation
    # flat; bytes follow rows)
    assert max(f for _r, f, _b in steady) <= 4 * 4 + 8
    bytes_early = max(b for _r, _f, b in steady[:third])
    bytes_late = max(b for _r, _f, b in steady[-third:])
    assert bytes_late <= bytes_early * 2, (bytes_early, bytes_late)

    # 4) offsets survive a lifetime of sweeps: tails advanced to exactly
    # the produced count (vacuum/compact never touch ledgers)...
    tails = cat.tails("soak")
    assert sum(t + 1 for t in tails.values()) == produced

    # ...and a fresh earliest-consumer drains exactly the retained rows,
    # each offset once, despite 40+ directory swaps and file deletions
    from polar_spark.consume import EARLIEST, ConsumerGroup

    g = ConsumerGroup(cat, "soak_reader")
    g.register("soak", EARLIEST)
    seen: set[tuple[int, int]] = set()
    drained = 0
    while True:
        res = g.poll("soak", max_records=1000)
        n = 0
        for it in res.items():
            for i in range(len(it["records"])):
                key = (it["partition"], it["startOffset"] + i)
                assert key not in seen
                seen.add(key)
                n += 1
        g.commit("soak", res.positions)
        res.release()
        if n == 0:
            break
        drained += n
    assert drained == cat.read("soak").count()


def test_poll_jumps_vacuumed_head_in_one_poll(spark, tmp_path):
    """The log-start clamp (Kafka logStartOffset analog): a consumer
    whose position is behind a vacuumed head reaches the retained data
    on its FIRST poll — not after gap/max_records empty polls — and the
    heads ledger is monotone and reset by repartition."""
    from datetime import datetime, timedelta, timezone

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    now = datetime.now(timezone.utc)
    # 5,000 old records then 100 fresh ones, all on one key → partition
    for b in range(10):
        prod.produce_rows(
            "t", [f'"old{b}_{i}"' for i in range(500)], key="k1",
            ts=now - timedelta(hours=30),
        )
    prod.produce_rows("t", [f'"new{i}"' for i in range(100)], key="k1", ts=now)
    assert cat.vacuum("t", retention_hours=6.0) == 10
    heads = cat.heads("t")
    q = next(iter(heads))
    assert heads[q] == 5000  # first retained offset

    g = ConsumerGroup(cat, "g")
    g.register("t", EARLIEST)
    res = g.poll("t", max_records=50)  # window ≪ gap: the clamp must jump
    assert sum(len(it["records"]) for it in res.items()) == 50
    assert res.positions[q] == 5049  # landed inside the retained log
    res.release()

    # monotone: a stale writer cannot move the log start backwards
    cat._raise_heads("t", {q: 10})
    assert cat.heads("t")[q] == 5000

    # repartition rebuilds offsets from zero → ledger is dropped
    from polar_spark.topics import repartition_topic

    repartition_topic(cat, "t", 4)
    assert cat.heads("t") == {}
    g2 = ConsumerGroup(cat, "g2")
    g2.register("t", EARLIEST)
    res2 = g2.poll("t", max_records=200)
    assert sum(len(it["records"]) for it in res2.items()) == 100
    res2.release()


def test_offsets_retention_gc_expired_group_ledgers(spark, tmp_path):
    """Kafka offsets.retention analog: ledgers of long-idle groups are
    deleted by the sweeper (opt-in), active groups survive, and an
    expired group that returns must re-register and restarts from its
    reset policy. The GC runs under the same flock commit() takes and
    removes the lock file too (safe: _file_lock revalidates inodes)."""
    import os
    import time

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    prod.produce_rows("t", [f'"v{i}"' for i in range(50)], key="k")

    stale = ConsumerGroup(cat, "ephemeral_job_42")
    stale.register("t", EARLIEST)
    live = ConsumerGroup(cat, "dashboard")
    live.register("t", EARLIEST)

    gdir = os.path.join(str(tmp_path), "groups")
    n_json = lambda: sum(1 for f in os.listdir(gdir) if f.endswith(".json"))
    assert n_json() == 2
    # age the stale group's ledger a simulated week; keep the live fresh
    old = time.time() - 8 * 24 * 3600
    os.utime(stale._ledger_path("t"), (old, old))

    sched = RetentionScheduler(
        cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0
    )
    assert sched.sweep_once() == 1
    assert n_json() == 1
    assert not os.path.exists(stale._ledger_path("t") + ".lock")

    # the live group is untouched and keeps committing
    res = live.poll("t", max_records=10)
    live.commit("t", res.positions)
    res.release()

    # the expired group is gone: commit/poll demand re-registration...
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not registered"):
        stale.poll("t", max_records=10)
    # ...and re-registering restarts from the reset policy (earliest)
    stale.register("t", EARLIEST)
    res = stale.poll("t", max_records=50)
    assert sum(len(it["records"]) for it in res.items()) == 50
    res.release()

    # default (None) keeps ledgers forever — the r7 resume contract
    os.utime(live._ledger_path("t"), (old, old))
    assert RetentionScheduler(cat, period_seconds=3600.0).sweep_once() == 0
    assert n_json() == 2


def test_stale_low_heads_after_vacuum_crash_still_drains(spark, tmp_path):
    """Crash-state law: vacuum dying BETWEEN its unlinks and the heads
    write leaves the ledger stale-low. Polls must then fall back to
    waterfilling empty windows through the gap — slower, never wrong:
    the consumer still drains exactly the retained multiset, and the
    next completed vacuum re-raises the ledger."""
    from datetime import datetime, timedelta, timezone

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    now = datetime.now(timezone.utc)
    for b in range(4):
        prod.produce_rows(
            "t", [f'"old{b}_{i}"' for i in range(250)], key="k1",
            ts=now - timedelta(hours=30),
        )
    prod.produce_rows("t", [f'"new{i}"' for i in range(80)], key="k1", ts=now)

    # simulate the torn vacuum: unlink expired files by hand, write no heads
    from polar_spark.topics import filename_offset_range

    removed = 0
    for dp, _dn, fns in os.walk(cat.data_dir("t")):
        for fn in fns:
            rng = filename_offset_range(fn)
            if fn.endswith(".parquet") and rng and rng[1] < 1000:
                os.remove(os.path.join(dp, fn))
                removed += 1
    assert removed == 4 and cat.heads("t") == {}

    g = ConsumerGroup(cat, "g")
    g.register("t", EARLIEST)
    drained, polls = 0, 0
    while True:
        res = g.poll("t", max_records=100)
        n = sum(len(it["records"]) for it in res.items())
        g.commit("t", res.positions)
        res.release()
        polls += 1
        assert polls < 50
        if n == 0 and drained > 0:
            break
        drained += n
    assert drained == 80  # every retained record, none lost, none doubled

    # a completed vacuum afterwards raises the ledger for future readers
    assert cat.vacuum("t", retention_hours=6.0) == 0  # nothing left to unlink
    # (no-op unlink → no heads update; produce+expire one more file to
    # exercise the repair path end-to-end)
    prod.produce_rows("t", ['"x"'], key="k1", ts=now - timedelta(hours=30))
    assert cat.vacuum("t", retention_hours=6.0) == 1
    assert cat.heads("t")[next(iter(cat.heads("t")))] >= 1000


def test_heads_with_unstamped_file_uses_footer_min(spark, tmp_path):
    """An unstamped segment (foreign writer / pre-stamp crash) holding
    the LOWEST retained offsets must anchor the head via its footer min
    — a name-only scan would raise the head past live records and the
    monotone ledger would make the skip permanent."""
    from datetime import datetime, timedelta, timezone

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    now = datetime.now(timezone.utc)
    prod.produce_rows("t", [f'"old{i}"' for i in range(100)], key="k1",
                      ts=now - timedelta(hours=30))
    prod.produce_rows("t", [f'"mid{i}"' for i in range(100)], key="k1", ts=now)
    prod.produce_rows("t", [f'"new{i}"' for i in range(100)], key="k1", ts=now)

    # strip the offset stamp from the MIDDLE file (offsets 100-199)
    stripped = 0
    for dp, _dn, fns in os.walk(cat.data_dir("t")):
        for fn in fns:
            from polar_spark.topics import filename_offset_range

            rng = filename_offset_range(fn)
            if rng and rng[0] == 100:
                os.rename(os.path.join(dp, fn),
                          os.path.join(dp, fn.split("-", 3)[3]))
                stripped += 1
    assert stripped == 1
    assert cat.vacuum("t", retention_hours=6.0) == 1  # only the old file
    q = next(iter(cat.heads("t")))
    assert cat.heads("t")[q] == 100  # footer min of the unstamped file

    g = ConsumerGroup(cat, "g")
    g.register("t", EARLIEST)
    drained = 0
    while True:
        res = g.poll("t", max_records=100)
        n = sum(len(it["records"]) for it in res.items())
        g.commit("t", res.positions)
        res.release()
        if n == 0:
            break
        drained += n
    assert drained == 200  # mid + new, nothing skipped


def test_register_refreshes_ledger_mtime_against_gc(spark, tmp_path):
    """A returning group's register() is a liveness signal: it must
    refresh the ledger mtime so the offsets GC cannot reap an actively
    re-attached (but not-yet-committing) group mid-session."""
    import time

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    prod.produce_rows("t", ['"x"'] * 20, key="k")
    g = ConsumerGroup(cat, "weekly_job")
    g.register("t", EARLIEST)
    old = time.time() - 8 * 24 * 3600
    os.utime(g._ledger_path("t"), (old, old))

    # the group returns: registers (no commit yet), then the GC sweeps
    g2 = ConsumerGroup(cat, "weekly_job")
    g2.register("t", EARLIEST)
    sched = RetentionScheduler(
        cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0
    )
    assert sched.sweep_once() == 0  # mtime refreshed → not expired
    res = g2.poll("t", max_records=50)  # still registered, still serving
    assert sum(len(it["records"]) for it in res.items()) == 20
    res.release()


def test_offsets_gc_survives_filesystem_errors(spark, tmp_path, monkeypatch):
    """sweep_once's 'never raises' contract extends to the offsets GC:
    a PermissionError from the unlink must not kill the daemon loop."""
    import time

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    prod.produce_rows("t", ['"x"'] * 5, key="k")
    g = ConsumerGroup(cat, "stuck")
    g.register("t", EARLIEST)
    old = time.time() - 8 * 24 * 3600
    os.utime(g._ledger_path("t"), (old, old))

    real_remove = os.remove

    def deny_json(path, *a, **kw):
        if path.endswith(".json") and "groups" in path:
            raise PermissionError(path)
        return real_remove(path, *a, **kw)

    monkeypatch.setattr(os, "remove", deny_json)
    sched = RetentionScheduler(
        cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0
    )
    assert sched.sweep_once() == 0  # swallowed, loop alive
    monkeypatch.undo()
    assert sched.sweep_once() == 1  # next sweep succeeds


def test_retention_metrics_observable(spark, tmp_path):
    """The cleaner loop is scrapeable: sweeps, files removed, sweeper
    compactions and expired offset ledgers land in the engine's Metrics
    registry (served at GET /metrics — reference exposes its broker
    loops the same way, internal/metrics/metrics.go:13-71)."""
    import time

    from datetime import datetime, timedelta, timezone

    from polar_spark.api import PolarEngine

    eng = PolarEngine(spark, str(tmp_path), num_partitions=2)
    now = datetime.now(timezone.utc)
    old_ts = now - timedelta(hours=30)
    eng.producer.produce_rows("t", ['"x"'] * 50, key="k", ts=old_ts)
    eng.producer.produce_rows("t", ['"y"'] * 50, key="k", ts=now)
    eng.register("c1", "dead_group", ["t"], on_new_group="startFromEarliest")
    eng.goodbye("c1")
    from polar_spark.consume import ledger_name_enc

    gdir = os.path.join(str(tmp_path), "groups")
    aged = time.time() - 8 * 24 * 3600
    for fn in os.listdir(gdir):
        if fn.startswith(ledger_name_enc("dead_group")) and fn.endswith(".json"):
            os.utime(os.path.join(gdir, fn), (aged, aged))

    sched = eng.start_retention(
        period_seconds=3600.0,
        retention_hours=6.0,
        compact_min_files=None,
        offsets_retention_hours=7 * 24.0,
    )
    sched.sweep_once()
    eng.stop_retention()

    assert eng.metrics.get("polar_retention_sweeps_total") >= 1
    assert eng.metrics.get("polar_retention_files_removed_total") >= 1
    assert eng.metrics.get("polar_offsets_ledgers_expired_total") == 1
    text = eng.metrics.render()
    assert "polar_retention_sweeps_total" in text


def test_offsets_gc_reaps_orphan_lock_files(spark, tmp_path):
    """A straggler that waited on a GC'd ledger's lock recreates the
    0-byte lock file via its own O_CREAT open; the sweep's orphan pass
    must reap it (aged, sibling absent) while leaving fresh locks and
    locks with live ledgers alone."""
    import time

    from polar_spark.consume import EARLIEST, ConsumerGroup

    cat = TopicCatalog(spark, str(tmp_path))
    prod = Producer(cat)
    cat.ensure_topic("t", num_partitions=2)
    prod.produce_rows("t", ['"x"'] * 5, key="k")
    g = ConsumerGroup(cat, "live")
    g.register("t", EARLIEST)

    gdir = os.path.join(str(tmp_path), "groups")
    old = time.time() - 8 * 24 * 3600
    # orphan lock (straggler residue): aged, no .json sibling
    orphan = os.path.join(gdir, "ghost__t.json.lock")
    open(orphan, "w").close()
    os.utime(orphan, (old, old))
    # fresh orphan (in-flight creation): must survive
    fresh = os.path.join(gdir, "newborn__t.json.lock")
    open(fresh, "w").close()

    sched = RetentionScheduler(
        cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0
    )
    sched.sweep_once()
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)
    # the live group's ledger AND lock survive
    assert os.path.exists(g._ledger_path("t"))
    res = g.poll("t", max_records=10)
    assert sum(len(it["records"]) for it in res.items()) == 5
    res.release()


def test_offsets_gc_keeps_aged_orphan_lock_while_held(spark, tmp_path):
    """An aged ``.json.lock`` with no ``.json`` sibling that a live
    holder has flocked — a register() creating its ledger under an old
    orphan's lock — survives the sweep. Acquiring a flock never rewrites
    the file, so its mtime stays old: the sweep's own flock is the
    guard. Once released, the next sweep reaps it."""
    import threading
    import time

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("t", num_partitions=1)
    gdir = os.path.join(str(tmp_path), "groups")
    held = os.path.join(gdir, "joining__t.json.lock")
    open(held, "w").close()
    # aged BEFORE the holder acquires: a flock that wrote into the file
    # would refresh its mtime and fail the no-payload check below
    old = time.time() - 8 * 24 * 3600
    os.utime(held, (old, old))
    acquired, release = threading.Event(), threading.Event()

    def holder():
        with file_lock(held, "test-holder", timeout=5.0):
            acquired.set()
            release.wait(timeout=30.0)

    th = threading.Thread(target=holder)
    th.start()
    try:
        assert acquired.wait(timeout=5.0)
        sched = RetentionScheduler(
            cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0
        )
        sched.sweep_once()
        assert os.path.exists(held)
    finally:
        release.set()
        th.join(timeout=10.0)
    assert os.path.getmtime(held) < time.time() - 7 * 24 * 3600  # no payload
    sched.sweep_once()
    assert not os.path.exists(held)


def test_retention_reaps_orphaned_write_json_tmp_files(spark, tmp_path):
    """A writer killed between ``write_json``'s tmp write and its rename
    leaves ``<file>.<pid>.<thread>.tmp`` beside the JSON it was
    replacing. The orphan sweep removes such a file once its pid is dead
    and it is past the orphan age, and counts it; a live writer's tmp
    and a fresh one stay, and the JSON they sit beside is untouched."""
    import subprocess
    import sys
    import time

    from polar_spark.metrics import Metrics

    cat = TopicCatalog(spark, str(tmp_path))
    cat.ensure_topic("t", num_partitions=1)
    Producer(cat).produce_rows("t", ['"x"'] * 3, key="k")
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    old = time.time() - 8 * 24 * 3600
    tdir = cat.topic_dir("t")
    gdir = os.path.join(str(tmp_path), "groups")

    def plant(d: str, name: str, aged: bool = True) -> str:
        p = os.path.join(d, name)
        with open(p, "w") as f:
            f.write('{"0": ')  # torn mid-write
        if aged:
            os.utime(p, (old, old))
        return p

    orphans = [
        plant(tdir, f"tails.json.{dead.pid}.140.tmp"),
        plant(tdir, f"epochs.json.{dead.pid}.141.tmp"),
        plant(gdir, f"g__t.json.{dead.pid}.142.tmp"),
    ]
    live = plant(tdir, f"tails.json.{os.getpid()}.143.tmp")
    fresh = plant(tdir, f"reservations.json.{dead.pid}.144.tmp", aged=False)
    tails = cat.tails("t")

    m = Metrics()
    sched = RetentionScheduler(
        cat, period_seconds=3600.0, offsets_retention_hours=7 * 24.0, metrics=m
    )
    assert sched.sweep_once() == len(orphans)
    assert not any(os.path.exists(p) for p in orphans)
    assert os.path.exists(live) and os.path.exists(fresh)
    assert m.get("polar_offsets_lock_orphans_reaped_total") == len(orphans)
    assert cat.tails("t") == tails and tails


def test_session_package_zip_removed_at_exit(tmp_path, sf_dir):
    """What a process leaves in the temp dir is gone once it exits: the
    package zip it ships to its executors
    (``polar_spark_pkg_<pid>.zip``) and the root of a stored artifact
    (``polar_artifacts_<pid>/...``, here ``sketch_cm_stream_vs_batch``'s
    epoch store) both exist while the session runs, and no ``polar_*``
    entry is left after the process exits."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = (
        "import os, tempfile\n"
        "from polar_spark.queries import QUERIES\n"
        "from polar_spark.session import ensure_driver_session, get_spark\n"
        "from polar_spark.store import artifact_root\n"
        "spark = ensure_driver_session(get_spark(shuffle_partitions=1))\n"
        "zpath = os.path.join(tempfile.gettempdir(),"
        " f'polar_spark_pkg_{os.getpid()}.zip')\n"
        "print(zpath, os.path.exists(zpath))\n"
        f"QUERIES['sketch_cm_stream_vs_batch'].fn(spark, {sf_dir!r}).collect()\n"
        f"root = artifact_root(spark, {sf_dir!r}, 'cm', ['events'])\n"
        "print(root, os.path.isdir(root))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), POLAR_SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True,
        cwd=repo, env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    zpath, zexisted, root, rexisted = out.stdout.split()[-4:]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert os.path.commonpath([root, str(tmp_path)]) == str(tmp_path)
    assert zexisted == "True" and rexisted == "True"
    assert not os.path.exists(zpath) and not os.path.exists(root)
    assert not [f for f in os.listdir(tmp_path) if f.startswith("polar_")]
