"""The epoch-idempotent sink protocol, in one place.

Exactly-once in this engine is the Structured Streaming contract: a
replayable source plus a sink that is idempotent per epoch. Every sink
(the topic producer, the dedup stores, the sketch partial stores) runs
the same protocol, and this module is the only code that knows it:

- :func:`file_lock` — the one exclusive lock (``flock`` on a persistent
  file, inode-revalidated, optional timeout);
- :func:`write_json` — the one atomic JSON write (tmp file per writer,
  then ``os.replace``), and :func:`read_json`, its reader;
- :func:`artifact_root` and :func:`built_once` — the one build-once
  protocol for derived artifacts: a per-process root keyed by the
  input files' stat fingerprint, closed by a ``_built.json`` marker;
- :class:`EpochLedger` — the applied-epoch ledger and the replay gate
  (:meth:`EpochLedger.claim`);
- :func:`epoch_tag` — the stable per-(sink, epoch) partition tag, and
  the ``ep=<tag>`` layout: :func:`publish_epoch` writes a partition
  aside and renames it in, :func:`read_live` reads the live partitions;
- :func:`compact_epochs` — the one compaction of an ``ep=`` store: fold
  the committed partitions into ``ep=base<gen>`` and commit it by a
  manifest swap; :func:`live_dirs` is the listing every read goes
  through, :func:`gc_folded` deletes what a commit superseded;
- :class:`EpochSink` — the generic half of every store-backed streaming
  sink: the ledger at ``<root>/_epochs.json``, the claim → apply →
  commit step (:meth:`EpochLedger.apply_once`), the ``foreachBatch``
  wiring (:func:`start_epoch_sink`), the live read that raises while a
  store is cold and the spec-driven compaction of its stores
  (:func:`compact_stores`).

Every ``ep=`` partition, Spark-written or pyarrow-written, goes live
through :func:`publish_epoch`: written aside, closed by ``_SUCCESS``,
then renamed in, so a write that fails part-way leaves nothing a read
lists.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from typing import NamedTuple

from polar_spark.session import _remove_own_file

# the applied-epoch ledger of a sink store, beside its partitions
STORE_LEDGER = "_epochs.json"


# -- lock --------------------------------------------------------------------
@contextlib.contextmanager
def file_lock(path: str, what: str, timeout: float | None = 30.0):
    """Exclusive advisory lock via ``flock`` on a persistent file.

    The lock-FILE protocols tried first (O_EXCL create + mtime-based
    stale break, then rename-tombstone breaking) all retain some
    check-then-act window in which a live holder's lock can be broken.
    ``flock`` removes the entire class: the kernel owns the lock state,
    a crashed holder's lock vanishes with its process (no staleness
    heuristic at all), and two acquisitions — across processes OR
    across threads, each with its own open file description — genuinely
    exclude each other. The file persists between uses and carries no
    payload: acquiring never writes it, so its mtime is its creation
    time. To find a holder, read ``/proc/locks`` (or ``lslocks``), which
    lists the pid of every flock by inode. A live-but-slow holder makes
    waiters raise ``TimeoutError`` after ``timeout`` seconds instead of
    being broken; ``timeout=None`` waits as long as it takes."""
    deadline = None if timeout is None else time.time() + timeout
    mode = fcntl.LOCK_EX if timeout is None else fcntl.LOCK_EX | fcntl.LOCK_NB
    fd = -1
    acquired = False
    try:
        while True:
            fd = os.open(path, os.O_CREAT | os.O_WRONLY)
            try:
                fcntl.flock(fd, mode)
            except OSError:
                os.close(fd)
                fd = -1
                if deadline is None:
                    raise
                if time.time() > deadline:
                    raise TimeoutError(
                        f"{what} lock {path!r} not released"
                    ) from None
                time.sleep(0.05)
                continue
            # revalidate: a GC (e.g. the offsets-retention sweep) may
            # have unlinked the lock file while we waited on its old
            # inode — holding a lock on an unlinked inode excludes
            # nobody who opens the path fresh. Only an flock on the
            # inode the PATH currently names counts; otherwise retry.
            try:
                if os.stat(path).st_ino == os.fstat(fd).st_ino:
                    acquired = True
                    break
            except FileNotFoundError:
                pass
            with contextlib.suppress(OSError):
                fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
            fd = -1
            if deadline is not None and time.time() > deadline:
                raise TimeoutError(
                    f"{what} lock {path!r} kept vanishing"
                ) from None
        yield
    finally:
        if acquired:
            with contextlib.suppress(OSError):
                fcntl.flock(fd, fcntl.LOCK_UN)
        if fd >= 0:
            os.close(fd)


# -- atomic JSON -------------------------------------------------------------
def write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON, atomically: readers see
    the old file or the new one, never a partial write. The tmp file is
    named per writer (pid and thread), so two writers never share one,
    and it keeps the target's name as a prefix (a ``_``-hidden file
    stays hidden from Spark listings while it is written)."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    data = json.dumps(obj)  # the C encoder; json.dump to a file is not
    with open(tmp, "w") as f:
        f.write(data)
    os.replace(tmp, path)


def read_json(path: str, missing=None):
    """The JSON value at ``path``, or ``missing`` when there is no file."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return missing


# -- build-once derived artifacts ----------------------------------------------
# the marker of a finished build, beside the artifact it closes
_BUILT = "_built.json"
_UNBUILT = object()


def artifact_root(spark, sf_dir: str, kind: str, tables) -> str:
    """The directory of one derived artifact (a stored index, a sketch
    store): ``<tempdir>/polar_artifacts_<pid>/<kind>_<tag>``.

    The tag hashes ``sf_dir``, the Spark application and, for every file
    under each ``sf_dir/<table>.parquet``, its relative name, size and
    ``mtime_ns``: a rewritten input or a new application gets a new
    root, so nothing built from other inputs is ever served. The
    per-process directory is removed at interpreter exit."""
    h = hashlib.md5(f"{sf_dir}:{spark.sparkContext.applicationId}".encode())
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            if os.path.isdir(path) else [path]
        )
        for p in files:
            st = os.stat(p)
            h.update(
                f"{os.path.relpath(p, sf_dir)}:{st.st_size}:{st.st_mtime_ns};".encode()
            )
    pid = os.getpid()
    proc = os.path.join(tempfile.gettempdir(), f"polar_artifacts_{pid}")
    if not os.path.isdir(proc):
        os.makedirs(proc, exist_ok=True)
        atexit.register(_remove_own_file, proc, pid)
    return os.path.join(proc, f"{kind}_{h.hexdigest()[:12]}")


def built_once(root: str, build):
    """``build()``'s JSON value, built into ``root`` at most once.

    When ``root/_built.json`` is missing (never built, a build that
    raised, or a directory removed under the process) ``build()`` runs
    and its value is written there; every later call returns the stored
    value without building. A build must be safe to re-run over what a
    failed attempt left: the epoch stores' ledgers skip the epochs it
    applied, and the index writes overwrite."""
    marker = os.path.join(root, _BUILT)
    value = read_json(marker, _UNBUILT)
    if value is _UNBUILT:
        os.makedirs(root, exist_ok=True)
        value = build()
        write_json(marker, value)
    return value


# -- epoch tags ----------------------------------------------------------------
_EPOCH_DIR_RE = re.compile(r"^ep=t([0-9a-f]{10})x(\d+)$")


def _key_hash(key: str) -> str:
    return hashlib.sha1(key.encode()).hexdigest()[:10]


def epoch_tag(key: str, epoch: int) -> str:
    """Stable per-(sink, epoch) store-partition tag: a replay replaces
    exactly its own ``ep=<tag>`` partition."""
    return f"t{_key_hash(key)}x{epoch}"


def _parse_epoch_dir(name: str) -> tuple[str, int] | None:
    """(sink-key hash, epoch) of an ``ep=<epoch_tag>`` directory name;
    None for any other name (a compaction base, a bulk-built partition,
    a user's batch tag)."""
    m = _EPOCH_DIR_RE.match(name)
    return (m.group(1), int(m.group(2))) if m else None


def _sink_instance_key(sink_id: str) -> str:
    """Namespace an epoch-ledger key with a per-checkpoint-instance token.

    The ledger outlives the checkpoint: if a user deletes and recreates
    the streaming checkpoint to reprocess, epochs restart at 0, and a
    ledger keyed by path alone would silently skip every replayed batch
    until the epoch passed the old high-water mark. A token stored
    INSIDE the checkpoint dir dies with the checkpoint, so a recreated
    checkpoint gets a fresh ledger namespace and replays apply."""
    if not os.path.isdir(sink_id):
        return sink_id
    tok_path = os.path.join(sink_id, "polar_sink_token")
    try:
        with open(tok_path) as f:
            tok = f.read().strip()
    except FileNotFoundError:
        tok = uuid.uuid4().hex
        tmp = f"{tok_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(tok)
        try:
            # O_EXCL-like: if a concurrent sink won, use its token
            os.link(tmp, tok_path)
        except FileExistsError:
            with open(tok_path) as f:
                tok = f.read().strip()
        finally:
            os.unlink(tmp)
    return f"{sink_id}@{tok}"


# -- epoch ledger --------------------------------------------------------------
class Claim(NamedTuple):
    """An epoch a sink is about to apply: ``key`` is the sink-instance
    ledger key, ``last`` its recorded high-water mark before this
    epoch, and ``reset`` marks a restarted stream (epoch 0 after later
    epochs), whose record overwrites instead of taking the max."""

    key: str
    epoch: int
    last: int
    reset: bool

    @property
    def tag(self) -> str:
        return epoch_tag(self.key, self.epoch)


class EpochLedger:
    """The applied-epoch ledger of one sink store or topic: a JSON map
    of sink key → highest applied epoch, read-modify-written under its
    own :func:`file_lock` so concurrent sinks never lose each other's
    entries (a lost update would re-apply a retried micro-batch)."""

    def __init__(self, ledger_file: str) -> None:
        os.makedirs(os.path.dirname(ledger_file), exist_ok=True)
        self.path = ledger_file

    def all(self) -> dict[str, int]:
        """Every (sink key → last applied epoch) pair."""
        return {k: int(v) for k, v in read_json(self.path, {}).items()}

    def last(self, key: str) -> int:
        return self.all().get(key, -1)

    def claim(self, sink_id: str, epoch: int) -> Claim | None:
        """The replay gate: None when ``sink_id`` already applied
        ``epoch`` (the foreachBatch retry path — leave the store
        untouched), else the :class:`Claim` to apply it under and then
        :meth:`commit`. ``sink_id`` naming a checkpoint directory is
        namespaced with a token inside it; for plain-string ids an
        epoch REGRESSION to 0 while the ledger is ahead means the
        stream restarted from scratch — apply and overwrite rather than
        silently skip."""
        key = _sink_instance_key(sink_id)
        last = self.last(key)
        reset = epoch == 0 and last > 0
        if last >= epoch and not reset:
            return None
        return Claim(key, epoch, last, reset)

    def commit(self, claim: Claim) -> None:
        self.record(claim.key, claim.epoch, force=claim.reset)

    def apply_once(self, sink_id: str, epoch: int, apply) -> bool:
        """The claim → apply → commit step of every epoch sink: False
        when ``sink_id`` already applied ``epoch`` (the store is left
        untouched), else ``apply(claim)`` and then the epoch's record.
        A raise in ``apply`` leaves the epoch unrecorded, so its replay
        applies it again."""
        c = self.claim(sink_id, epoch)
        if c is None:
            return False
        apply(c)
        self.commit(c)
        return True

    def record(self, key: str, epoch: int, force: bool = False) -> None:
        """Record ``epoch`` as applied by ``key`` (max-merge; ``force``
        overwrites)."""
        with file_lock(self.path + ".lock", "epoch ledger", timeout=30.0):
            d = read_json(self.path, {})
            cur = int(d.get(key, -1))
            d[key] = int(epoch) if force else max(cur, int(epoch))
            write_json(self.path, d)

    def recorded(self, names) -> dict[str, bool]:
        """For each ``ep=<epoch_tag>`` name among ``names`` (others are
        left out): True when its epoch is at or below its sink's
        recorded high-water mark (committed state), False when above
        it — written by an attempt whose epoch record never landed, so
        its replay still owns the partition."""
        high = {_key_hash(k): v for k, v in self.all().items()}
        out = {}
        for n in names:
            p = _parse_epoch_dir(n)
            if p is not None:
                out[n] = p[1] <= high.get(p[0], -1)
        return out

    def check_settled(self, *roots: str) -> None:
        """Raise when a store under ``roots`` holds a partition a replay
        still owns. Compaction folds every ``ep=`` partition into one,
        so after it the replay's self-exclusion tag would no longer
        match its first attempt: the replay would read its own rows
        back as stored and drop them."""
        names = sorted({e.name for r in roots for e in epoch_dirs(r)})
        pending = [n for n, ok in self.recorded(names).items() if not ok]
        if pending:
            raise RuntimeError(
                f"store holds unrecorded epoch partitions {pending} (a "
                "failed micro-batch awaits replay): replay it before "
                "compacting"
            )


# -- ep=<tag> partitions -------------------------------------------------------
def epoch_dirs(root: str) -> list[os.DirEntry]:
    """The ``ep=`` partition directories under ``root``, by name."""
    if not os.path.isdir(root):
        return []
    return sorted(
        (e for e in os.scandir(root) if e.is_dir() and e.name.startswith("ep=")),
        key=lambda e: e.name,
    )


def publish_epoch(root: str, tag: str, write) -> None:
    """Write one ``ep=<tag>`` partition aside and publish it by rename:
    ``write(tmp)`` fills a hidden ``_tmp-<tag>`` directory (Spark's
    listing skips a leading ``_`` when the name holds no ``=``), a
    ``_SUCCESS`` marker closes it, then it is renamed over the epoch's
    partition. A replay's earlier partition for the same tag is moved
    aside first and removed after, so readers never see it half
    deleted."""
    tmp = os.path.join(root, f"_tmp-{tag}")
    old = os.path.join(root, f"_old-{tag}")
    dst = os.path.join(root, f"ep={tag}")
    for d in (tmp, old):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    if os.path.isdir(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old, ignore_errors=True)


def _read_paths(spark, root: str, paths: list[str]):
    """Partitions of ``root`` as one DataFrame. Partition discovery runs
    from ``root``: Spark refuses ``band=``/``bpre=`` directories under
    more than one base path. No reader keys on the ``ep`` column."""
    return spark.read.option("basePath", root).parquet(*paths).drop("ep")


def read_live(spark, root: str, exclude_tag: str | None = None):
    """The live partitions of a store as one DataFrame; None = cold.

    Reads the :func:`live_dirs` listing by explicit paths, never the
    root: between a compaction's manifest commit and its GC the folded
    partitions coexist with the new base, and a root read would read
    their rows twice. ``exclude_tag``'s partition (a replay's own first
    attempt) is left out of the listing.

    A cold or partial store — nothing listed, or a read failure while no
    listed partition holds ``_SUCCESS`` — reads as None. A read failure
    over a store with a COMPLETED partition re-raises: swallowing it
    would silently drop every cross-batch match (dedup) or serve a wrong
    estimate (sketches). A failure while the listing changed under the
    read (a concurrent compaction swapped partitions) re-lists and
    retries."""
    skip = None if exclude_tag is None else f"ep={exclude_tag}"

    def listing() -> list[str]:
        return [e.path for e in live_dirs(root) if e.name != skip]

    for _ in range(4):
        paths = listing()
        if not paths:
            return None
        try:
            return _read_paths(spark, root, paths)
        except Exception:
            if listing() != paths:
                continue  # retry over the post-swap listing
            if any(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths):
                raise
            return None
    raise RuntimeError(f"store {root!r} kept changing under read")


# -- compaction ----------------------------------------------------------------
# the manifest of a store's compactions, beside its partitions
COMPACT_MANIFEST = "_compact.json"
# a compaction's output partition, ``ep=base<gen>``
_BASE_DIR_RE = re.compile(r"^ep=base\d{8}$")


def is_base_dir(name: str) -> bool:
    return _BASE_DIR_RE.match(name) is not None


def _read_manifest(root: str) -> dict:
    return read_json(
        os.path.join(root, COMPACT_MANIFEST), {"gen": 0, "base": None, "folded": []}
    )


def _write_manifest(root: str, man: dict) -> None:
    write_json(os.path.join(root, COMPACT_MANIFEST), man)


def _compact_lock(root: str):
    return file_lock(
        os.path.join(root, "_compact.lock"), f"compact({root})", timeout=None
    )


def _superseded(man: dict, name: str) -> bool:
    """A partition the manifest lists as folded into the current base
    (awaiting GC after the commit), or a base it does not name (written
    by a compaction that died before its commit): reading either would
    read the folded rows twice."""
    return name in man["folded"] or (is_base_dir(name) and name != man["base"])


def live_dirs(root: str) -> list[os.DirEntry]:
    """The partitions a read may see: :func:`epoch_dirs` minus the
    superseded ones."""
    man = _read_manifest(root)
    return [e for e in epoch_dirs(root) if not _superseded(man, e.name)]


def _gc(root: str) -> None:
    man = _read_manifest(root)
    for e in epoch_dirs(root):
        if _superseded(man, e.name):
            shutil.rmtree(e.path, ignore_errors=True)
    # names stay in the manifest until their directory is verifiably
    # gone: clearing first and failing the rmtree would bring them back
    # into reads
    remaining = [n for n in man["folded"] if os.path.isdir(os.path.join(root, n))]
    if remaining != man["folded"]:
        _write_manifest(root, {**man, "folded": remaining})


def gc_folded(root: str) -> None:
    """Delete the superseded partitions of a store."""
    with _compact_lock(root):
        _gc(root)


def purge_epochs(root: str) -> None:
    """Delete every partition of a store and its manifest, serialized
    against compaction: a purge landing mid-fold would let the fold
    commit a base holding the purged state."""
    with _compact_lock(root):
        for e in epoch_dirs(root):
            shutil.rmtree(e.path, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(root, COMPACT_MANIFEST))


def compact_epochs(
    spark, root: str, ledger: EpochLedger, rewrite
) -> tuple[list[str], list[str]]:
    """Fold a store's committed partitions into one ``ep=base<gen>``;
    returns (the names folded, the live partition paths after).

    Under the store's compaction lock: GC what the previous generation
    superseded, read every live partition that holds ``_SUCCESS`` and
    that ``ledger`` does not mark pending (its epoch record never
    landed, so its replay still owns it), the current base included,
    and let ``rewrite(df, out)`` write their rows to the next base. The
    base goes live with the one atomic write of the manifest that names
    it and its folded sources, so a crash at any step leaves reads
    correct and the next compaction GCs what it left. The folded
    sources stay on disk until the next GC, so a reader holding a
    listing from before the commit keeps resolving its paths."""
    if not os.path.isdir(root):
        return [], []
    with _compact_lock(root):
        _gc(root)
        man = _read_manifest(root)
        live = live_dirs(root)
        committed = ledger.recorded(e.name for e in live)
        srcs = [
            e.path for e in live
            if committed.get(e.name, True)
            and os.path.exists(os.path.join(e.path, "_SUCCESS"))
        ]
        if len(srcs) <= 1:
            return [], [e.path for e in live]
        gen = int(man["gen"]) + 1
        base = f"ep=base{gen:08d}"
        rewrite(_read_paths(spark, root, srcs), os.path.join(root, base))
        folded = sorted(os.path.basename(p) for p in srcs)
        _write_manifest(root, {"gen": gen, "base": base, "folded": folded})
        return folded, [e.path for e in live_dirs(root)]


def compact_store(
    spark, root: str, ledger: EpochLedger, partition_col: str,
    sort_col: str, partition_by: tuple[str, ...] = (),
) -> tuple[int, int]:
    """Compact a dedup store (:func:`compact_epochs`) into few
    ``partition_col``-bucketed files sorted by ``sort_col``; returns its
    live parquet files (before, after). ``partition_by`` keeps a
    directory-partitioned layout (the LSH bands store prunes on
    band/bpre dirs). The store's one writer is serialized against the
    compaction, so no reader holds a listing from before the commit:
    the folded partitions are deleted at once."""

    def rewrite(df, out: str) -> None:
        (
            df.repartition(partition_col)
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(out)
        )

    def files(paths) -> int:
        return sum(
            fn.endswith(".parquet")
            for p in paths
            for _dp, _dn, fns in os.walk(p)
            for fn in fns
        )

    before = files(e.path for e in live_dirs(root))
    folded, after = compact_epochs(spark, root, ledger, rewrite)
    if folded:
        gc_folded(root)
    return before, files(after)


def compact_stores(spark, ledger: EpochLedger, stores: dict) -> dict:
    """Compact every store of one sink: ``stores`` maps a name to
    ``(root, partition_col, sort_col[, partition_by])``, the arguments
    of :func:`compact_store`. Raises, compacting nothing, while any of
    them holds a partition a replay still owns
    (:meth:`EpochLedger.check_settled`). Returns {name: (files_before,
    live_files_after)}."""
    ledger.check_settled(*(spec[0] for spec in stores.values()))
    return {
        name: compact_store(spark, spec[0], ledger, *spec[1:])
        for name, spec in stores.items()
    }


# -- epoch sinks ---------------------------------------------------------------
def start_epoch_sink(
    stream_df,
    apply,
    default_checkpoint: str,
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
):
    """The one ``foreachBatch`` wiring of the epoch-idempotent sinks
    (:class:`EpochSink`, StreamingProducer): resolve the checkpoint
    (whose path doubles as the sink instance key), wire
    ``apply(batch_df, epoch, checkpoint)``, and trigger availableNow
    unless a processingTime cadence is given."""
    cp = checkpoint_dir or default_checkpoint

    def _sink(batch_df, epoch: int) -> None:
        apply(batch_df, epoch, cp)

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", cp
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class EpochSink:
    """A streaming sink over ``ep=<tag>`` stores, applied once per epoch.

    The ledger lives at ``<root>/_epochs.json``. :meth:`apply_batch`
    runs the ledger's claim → apply → commit step around the
    subclass's ``_apply(batch_df, claim, **cols)``, which publishes each
    of its partitions with :func:`publish_epoch` under ``claim.tag``.
    :meth:`start` wires the sink into ``foreachBatch`` with a default
    checkpoint of ``<root>/_checkpoint``; it looks ``apply_batch`` up
    on each micro-batch, so an instance attribute set before the query
    starts is the one that runs. :meth:`compact` folds the stores that
    ``_stores()`` names, by :func:`compact_stores`."""

    def __init__(self, spark, root: str) -> None:
        self.spark = spark
        self._root = root
        self._epochs = EpochLedger(os.path.join(root, STORE_LEDGER))

    def _apply(self, batch_df, claim: Claim, **cols) -> None:  # pragma: no cover
        raise NotImplementedError

    def _stores(self) -> dict:  # pragma: no cover
        """name → (root, partition_col, sort_col[, partition_by]) of
        each store :meth:`compact` folds."""
        raise NotImplementedError

    def apply_batch(self, batch_df, epoch: int, sink_id: str, **cols) -> bool:
        """Apply one micro-batch idempotently; False = already applied
        (the foreachBatch retry path — store untouched)."""
        return self._epochs.apply_once(
            sink_id, epoch, lambda c: self._apply(batch_df, c, **cols)
        )

    def start(
        self,
        stream_df,
        checkpoint_dir: str | None = None,
        trigger_seconds: float | None = None,
        **cols,
    ):
        """Run the sink over ``stream_df``; ``cols`` (the column names,
        e.g. ``id_col``) pass through to every :meth:`apply_batch`."""
        return start_epoch_sink(
            stream_df,
            lambda batch_df, epoch, cp: self.apply_batch(batch_df, epoch, cp, **cols),
            os.path.join(self._root, "_checkpoint"),
            checkpoint_dir=checkpoint_dir,
            trigger_seconds=trigger_seconds,
        )

    def compact(self) -> dict[str, tuple[int, int]]:
        """Fold each store's committed partitions into one base
        (:func:`compact_stores`). Serialize against apply_batch. Raises
        while a failed micro-batch awaits replay."""
        return compact_stores(self.spark, self._epochs, self._stores())

    def _read_store(self, root: str):
        """Every live row of a store; raises while it has none."""
        df = read_live(self.spark, root)
        if df is None:
            raise FileNotFoundError(f"store {root!r} holds no partition")
        return df
