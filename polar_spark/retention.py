"""Background retention: the reference's datalog cleaner loop.

The reference deletes expired segments every 5 minutes on a background
goroutine (internal/data/datalog_cleaner.go:16-41, default period 5 min,
retention from config). :class:`RetentionScheduler` is the driver-side
analog: a daemon thread that periodically invokes
:meth:`polar_spark.topics.TopicCatalog.vacuum` on every topic (and
optionally :meth:`~polar_spark.topics.TopicCatalog.compact` when a topic
has accumulated enough small files), so retention needs no caller
involvement.

Scale shape: vacuum is footer-stats + unlink — O(files) metadata work,
no Spark job; compact is one Spark job per compacted topic, serialized
against produce by the topic's publish lock. On a real cluster this
thread runs wherever the catalog's coordination view lives (the driver),
exactly like the reference's cleaner runs on each broker.
"""

from __future__ import annotations

import os
import re
import threading
import time

from polar_spark.store import file_lock
from polar_spark.topics import TopicCatalog, _pid_alive

# store.write_json's per-writer tmp file: ``<file>.<pid>.<thread>.tmp``
_WRITE_JSON_TMP = re.compile(r"\.(\d+)\.\d+\.tmp$")


class RetentionScheduler:
    """Periodic vacuum (and optional compaction) over a catalog's topics.

    ``period_seconds`` mirrors the reference's 5-minute cleaner interval;
    ``compact_min_files`` (None = never compact) triggers a compaction
    when any PARTITION of a topic accumulates that many parquet files —
    the operational analog of segment rolling keeping scans healthy
    under many small micro-batch appends. (Per-partition, because a
    compacted topic still holds one file per non-empty partition — a
    total-count trigger would re-fire a full rewrite every sweep.)
    """

    def __init__(
        self,
        catalog: TopicCatalog,
        period_seconds: float = 300.0,
        retention_hours: float | None = None,
        compact_min_files: int | None = None,
        compact_target_records: int = 1_000_000,
        offsets_retention_hours: float | None = None,
        gate=None,
        metrics=None,
    ) -> None:
        self.catalog = catalog
        self.period_seconds = period_seconds
        self.retention_hours = retention_hours
        self.compact_min_files = compact_min_files
        # segment-roll size for sweeper-triggered compactions — the
        # reference's configurable segment max size
        # (internal/conf/config.go:320-322). Retention is file-granular
        # (vacuum drops a file only when its NEWEST record expired), so
        # this bounds how much not-yet-expired history one rolled
        # segment can pin: steady-state disk is O(retention window +
        # one segment per partition), independent of stream age.
        self.compact_target_records = compact_target_records
        # Kafka's offsets.retention.minutes analog: group offset ledgers
        # whose last commit is older than this are deleted, so a year of
        # ephemeral (UUID-named) groups cannot grow the groups/ dir
        # without bound. None (default) keeps ledgers forever — the
        # current "re-registered group resumes" contract is unchanged
        # unless the operator opts in. An expired group that returns
        # must re-register and restarts from its reset policy, exactly
        # Kafka's post-expiry semantics.
        self.offsets_retention_hours = offsets_retention_hours
        # optional polar_spark.metrics.Metrics: a production cleaner must
        # be observable (the reference scrapes its broker loops through
        # the same /metrics endpoint this feeds). Counters pre-register
        # at 0 (Prometheus convention) so a healthy deployment that has
        # not removed anything yet still exports every series — absent-
        # metric alerts must distinguish "nothing expired" from "never
        # wired".
        self.metrics = metrics
        if metrics is not None:
            for name in (
                "polar_retention_sweeps_total",
                "polar_retention_files_removed_total",
                "polar_retention_compactions_total",
                "polar_offsets_ledgers_expired_total",
                "polar_offsets_lock_orphans_reaped_total",
            ):
                metrics.inc(name, v=0.0)
        # write side of the engine's compaction gate: vacuum unlinks and
        # compaction's directory swap must not interleave with an
        # in-flight poll's file listing (PolarEngine passes its gate via
        # start_retention; a bare-catalog scheduler runs ungated and the
        # operator owns reader quiescence — compact/vacuum only mutate
        # files, never ledgers, so producers are unaffected either way)
        self.gate = gate
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.cycles = 0  # completed sweeps (observability/tests)
        self.removed_files = 0

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "RetentionScheduler":
        if self._thread is not None:
            return self
        self._thread = threading.Thread(
            target=self._run, name="polar-retention", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, timeout: float = 10.0) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=timeout)
            self._thread = None

    def __enter__(self) -> "RetentionScheduler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- sweep -------------------------------------------------------------
    def sweep_once(self) -> int:
        """One pass over all topics; returns files removed. Never raises:
        a topic whose vacuum/compact fails (e.g. concurrently deleted)
        is skipped this cycle, like the reference's per-segment error
        handling keeps its cleaner loop alive."""
        removed = 0
        compactions = 0
        gate = self.gate.write if self.gate is not None else None
        for topic in self.catalog.list_topics():
            try:
                # the gate is passed DOWN so only the mutation windows
                # (vacuum's unlinks, compact's dir swap) exclude polls —
                # footer scans and the compaction rewrite job run gate-free
                removed += self.catalog.vacuum(
                    topic, self.retention_hours, unlink_gate=gate
                )
                if self.compact_min_files is not None:
                    # trigger on files per PARTITION, not total files: a
                    # compacted topic still has >= 1 file per non-empty
                    # partition, so a flat total would re-fire a full
                    # rewrite every sweep forever
                    per_part: dict[str, int] = {}
                    for dp, _dn, fns in os.walk(self.catalog.data_dir(topic)):
                        n = sum(1 for fn in fns if fn.endswith(".parquet"))
                        if n:
                            per_part[dp] = n
                    if per_part and max(per_part.values()) >= self.compact_min_files:
                        self.catalog.compact(
                            topic,
                            target_records_per_file=self.compact_target_records,
                            swap_gate=gate,
                        )
                        compactions += 1
            except Exception:  # noqa: BLE001 — keep the loop alive
                continue
        segment_files = removed
        if self.offsets_retention_hours is not None:
            cutoff = time.time() - self.offsets_retention_hours * 3600.0
            try:
                # increments its own two counters (expired ledgers /
                # reaped orphans) so the series stay distinct
                removed += self._sweep_group_offsets(cutoff)
                removed += self._reap_orphan_tmp(cutoff)
            except Exception:  # noqa: BLE001 — sweep_once never raises
                pass
        self.removed_files += removed
        self.cycles += 1
        if self.metrics is not None:
            self.metrics.inc("polar_retention_sweeps_total")
            if segment_files:
                self.metrics.inc(
                    "polar_retention_files_removed_total", v=segment_files
                )
            if compactions:
                self.metrics.inc(
                    "polar_retention_compactions_total", v=compactions
                )
        return removed

    def _sweep_group_offsets(self, cutoff: float) -> int:
        """Delete group offset ledgers idle past offsets_retention_hours.

        A ledger's mtime is its last commit OR register (commit's atomic
        replace refreshes it; register() utimes an existing ledger so a
        returning group is live from the moment it re-attaches). Deletion
        happens under the SAME flock commit() takes, with the mtime
        re-checked inside, so a just-now commit is never lost: either it
        lands first (mtime fresh → skipped) or it waits on the flock,
        revalidates the lock inode (store.file_lock), and then fails with
        "not registered" — the group re-registers and restarts from its
        reset policy, Kafka's post-expiry semantics. The lock file is
        removed too — safe since file_lock revalidates inodes — so the
        GC leaves NOTHING behind per expired group."""
        import contextlib

        gdir = os.path.join(self.catalog.root, "groups")
        removed = 0
        try:
            entries = [fn for fn in os.listdir(gdir) if fn.endswith(".json")]
        except FileNotFoundError:
            return 0
        for fn in entries:
            p = os.path.join(gdir, fn)
            try:
                if os.path.getmtime(p) >= cutoff:
                    continue
                with file_lock(p + ".lock", f"offsets-gc({fn})", timeout=5.0):
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                        removed += 1
                        if self.metrics is not None:
                            self.metrics.inc(
                                "polar_offsets_ledgers_expired_total"
                            )
                        with contextlib.suppress(OSError):
                            os.remove(p + ".lock")
            except OSError:
                # committed/vanished meanwhile, or a transient FS error
                # (permissions, NFS hiccup) — OSError also covers the
                # TimeoutError a held flock raises: skip, next sweep
                # retries. The daemon loop must survive any single entry.
                continue
        # orphan lock files: a straggler commit()/register() that was
        # waiting on a GC'd ledger's lock recreates the lock file via its
        # own O_CREAT open, then fails with "not registered" and never
        # cleans it up — without this pass a year of racing ephemeral
        # groups re-grows groups/ with 0-byte locks. Only locks whose
        # .json sibling is ABSENT and whose own mtime is past the cutoff
        # are touched. Acquiring a flock never writes the file, so the
        # mtime is its CREATION time and an aged lock can still be held:
        # a register() creating its ledger under an old orphan's lock.
        # The guard is the sweep's own flock — a held lock makes it time
        # out and skip — plus the sibling re-check under that flock; a
        # waiter on an unlinked lock re-opens the path (file_lock's
        # inode revalidation).
        try:
            locks = [fn for fn in os.listdir(gdir) if fn.endswith(".json.lock")]
        except FileNotFoundError:
            return removed
        for fn in locks:
            lp = os.path.join(gdir, fn)
            try:
                if os.path.exists(lp[: -len(".lock")]):
                    continue
                if os.path.getmtime(lp) >= cutoff:
                    continue
                with file_lock(lp, f"lock-gc({fn})", timeout=5.0):
                    if not os.path.exists(lp[: -len(".lock")]):
                        os.remove(lp)
                        # orphan reaps are accounted: the sweep's return,
                        # removed_files, and their own counter all move —
                        # an operator can alert on a misfiring lock GC
                        removed += 1
                        if self.metrics is not None:
                            self.metrics.inc(
                                "polar_offsets_lock_orphans_reaped_total"
                            )
            except OSError:
                continue
        return removed

    def _reap_orphan_tmp(self, cutoff: float) -> int:
        """Remove ``write_json`` tmp files (``<file>.<pid>.<thread>.tmp``)
        that a killed writer left beside the offsets ledgers and the
        topics' JSON state (tails, epochs, reservations, meta). A file is
        reaped only when its writer's pid is not alive AND it is older
        than ``cutoff``: a live writer renames its tmp over the target
        within moments, and the age check spares a writer whose pid this
        host cannot see (another machine on a shared root). Counted with
        the orphan locks."""
        dirs = [os.path.join(self.catalog.root, "groups")] + [
            self.catalog.topic_dir(t) for t in self.catalog.list_topics()
        ]
        removed = 0
        for d in dirs:
            try:
                entries = list(os.scandir(d))
            except FileNotFoundError:
                continue
            for e in entries:
                m = _WRITE_JSON_TMP.search(e.name)
                try:
                    if (
                        m is None
                        or e.stat().st_mtime >= cutoff
                        or _pid_alive(int(m.group(1)))
                    ):
                        continue
                    os.remove(e.path)
                except OSError:
                    continue
                removed += 1
                if self.metrics is not None:
                    self.metrics.inc("polar_offsets_lock_orphans_reaped_total")
        return removed

    def _run(self) -> None:
        while not self._stop.wait(self.period_seconds):
            self.sweep_once()
