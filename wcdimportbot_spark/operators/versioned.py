"""Atomic snapshot publication for the parquet store tables.

Dynamic partition overwrite deletes-then-writes files in place, so a
concurrent reader listing the store directory can observe partial state
(some partitions old, some new, some missing). The reference's sink gives
per-write atomicity — an item write either lands or the existing item is
adopted, never a torn record (``crud/create.py:25-45``). This module adds
the table-level equivalent for the local parquet stores:

    items/_CURRENT                  -> "v00000003"
    items/v00000003/instance_of=.../hb=.../part-*.parquet

- **Writers** stage the next version directory, hardlink every unchanged
  file from the current version (a metadata operation — no data copy,
  same inode), write the changed partitions into it, then atomically flip
  ``_CURRENT`` (write-temp + ``os.replace``).
- **Readers** resolve ``_CURRENT`` once and then read an immutable tree:
  they see the snapshot taken at resolution time — old or new, never a
  mix. Files of superseded versions are never modified, only pruned after
  ``KEEP_VERSIONS`` newer snapshots exist.

At cluster scale this contract is a transactional table format (Delta /
Iceberg: manifest-listed immutable files + atomic pointer swap — jars not
present in this image, SURVEY §7.4); the layout here is the plain-parquet
emulation with local-FS hardlinks standing in for manifest reuse of
unchanged files. A store written before versioning existed (no
``_CURRENT``) keeps reading from the root; its first versioned write
migrates it.

**Concurrency contract.** Every store engine in ``operators/sinks.py``
(and every store built on it) commits through :func:`commit`, or
:func:`commit_full` for full rewrites — the one place that picks the
write protocol. Under the default LOCK protocol,
one writer per table at a time: the sinks' whole MERGE sequence
(resolve current snapshot → anti-join → stage → publish) runs under
:func:`writer_lock` (an O_EXCL pid lock file; a
lock whose owner pid is dead is stolen, so a crashed writer never
wedges the store). Holding the lock across the read as well as the
write makes concurrent ``merge_write_*`` calls SERIALIZABLE — each
merges against the snapshot the previous writer published, so no
writer's rows are lost (pinned by the multi-process stress test in
``tests/test_versioned.py``). Readers take no lock — they resolve
``_CURRENT`` once and read an immutable tree. Staleness bound: a resolved snapshot survives at least
``KEEP_VERSIONS - 1`` subsequent publishes before pruning can delete it;
a reader must re-resolve rather than hold one snapshot across many
writes. Pid liveness is local, so the LOCK protocol is cross-process on
one host only — the cluster-scale answer is the optimistic commit
protocol at the bottom of this module (the Delta-on-HDFS put-if-absent
discipline over plain directories), selected per deployment via
``WCD_STORE_PROTOCOL=optimistic``.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time
import uuid

from wcdimportbot_spark.operators import hooks

CURRENT_FILE = "_CURRENT"
LOCK_FILE = "_WRITER.lock"

#: versions kept after a publish (current + history for in-flight readers)
KEEP_VERSIONS = 2

#: minimum AGE (seconds) a superseded version must reach before pruning
#: may delete it, regardless of how many newer publishes exist. The
#: count-based bound alone is hostile to EXTERNAL readers under rapid
#: commit trains (a probe that resolved a snapshot loses its tree after
#: just KEEP_VERSIONS micro-batch merges — seconds apart in the
#: streaming gates); the age floor gives every reader a wall-clock
#: window to finish its scan, exactly Delta/Iceberg's time-based
#: snapshot retention. Hardlinked layouts make retained history cheap:
#: an old version costs only the files a later commit REPLACED.
RETAIN_SECS = float(os.environ.get("WCD_STORE_RETAIN_SECS", "600"))


def epoch_read(base_path: str, fname: str) -> str:
    """Raw bytes of an epoch/marker sidecar ('' when absent) — the
    fingerprint :func:`epoch_bracket` compares across a writer's
    window."""
    try:
        with open(os.path.join(base_path, fname), encoding="ascii") as f:
            return f.read()
    except OSError:
        return ""


def race_backoff(attempt: int, scale: float = 1.0) -> None:
    """Desynchronizing pause before a race-repair RE-attempt (never the
    first attempt — the no-race path costs nothing). Without it,
    :func:`epoch_bracket` retries back-to-back, so two live writers whose
    windows keep overlapping re-run in LOCKSTEP: each side's epoch
    bumps always land inside the other's next window and both exhaust
    their 5 attempts — a livelock the loud failure was designed for
    adversarial schedules, not for two innocent writers on a starved
    host (observed: the threaded merge-vs-delete stress exhausting both
    sides when CPU contention stretched every engine window to
    seconds). An exponentially growing pause creates bump-free gaps in
    which the OTHER side's window can complete clean; callers pass
    different ``scale`` values per side (e.g. merge 1.0, delete 1.6) so
    the two sides' gaps interleave instead of re-aligning."""
    if attempt <= 0:
        return
    # the gap must eventually exceed the OTHER side's whole re-run
    # window (seconds under CPU starvation) or the lockstep never
    # breaks — grow fast, cap high; this sleeps only when a repair is
    # already re-running, never on the first attempt
    time.sleep(min(8.0 * scale, 0.05 * scale * (4 ** attempt)))


def run_publish_ordered(arms: list) -> list:
    """Run store-mutation arms CONCURRENTLY while their publishes land
    in list order (guide §2.6 overlap + the store crash-order
    contracts, r16).

    Each arm is a callable taking one ``publish_gate`` argument — a
    zero-arg callable (or ``None`` for the first arm) the arm must pass
    through to its engine call (``_merge_write``/``delete_from_store``
    ``publish_gate=``). :func:`commit` invokes the gate BEFORE
    acquiring the store's writer lock (lock-free commits: before their
    rename), which gives two properties:

    - **publish order**: arm ``i``'s gate returns only after arm
      ``i-1`` has fully completed (its publish included), so the
      crash-window ordering every serial caller relied on is
      preserved byte-for-byte; what overlaps is only the arms'
      batch-side evaluation (materialization + touched-partition
      collects), which reads no mutable state.
    - **no deadlock**: an arm waiting on a gate holds NO lock, so every
      lock in the system is held only by arms already past their gates,
      which run to completion without waiting on anything — lock-wait
      chains terminate even when concurrent chains order the same
      stores oppositely (merge bands→hashes vs delete hashes→bands).

    An arm that fails makes every later arm's gate raise (their
    engines then abort BEFORE mutating; :func:`commit` removes a
    lock-free arm's already-staged snapshot dir), and the
    first failure in publish order is re-raised here. Returns the arm
    results in order."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    done = [threading.Event() for _ in arms]
    ok = [False] * len(arms)

    def _gate_for(i: int):
        if i == 0:
            return None

        def gate() -> None:
            done[i - 1].wait()
            if not ok[i - 1]:
                raise RuntimeError(
                    "upstream arm failed — publish aborted to preserve "
                    "the store crash-ordering contract"
                )

        return gate

    def _run(i: int):
        try:
            r = arms[i](_gate_for(i))
            ok[i] = True
            return r
        finally:
            done[i].set()

    with ThreadPoolExecutor(max_workers=len(arms)) as pool:
        futures = [pool.submit(_run, i) for i in range(len(arms))]
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except BaseException as exc:  # noqa: BLE001 - re-raised below
                if first_err is None:
                    first_err = exc
                results.append(None)
        if first_err is not None:
            raise first_err
    return results


def epoch_bump(base_path: str, fname: str) -> None:
    """Rewrite an epoch sidecar with fresh bytes — a FINGERPRINT, not a
    sequence number. The read-increment-replace below is deliberately
    lock-free, so two concurrent bumpers can both observe ``n`` and both
    write ``n+1`` (a lost update): the ``epoch`` field therefore carries
    NO ordering guarantee and nothing may be built on comparing it
    numerically. What the protocol actually relies on — and what this
    function guarantees — is that every bump changes the file's BYTES
    (the ``nonce`` is a fresh uuid per write, so even same-``n``
    same-``ts`` collisions produce distinct content), which is exactly
    what the :func:`epoch_read` fingerprint comparisons consume. The
    counter and timestamp are kept for human forensics only.

    Concurrency-safe on the filesystem level too: each writer stages to
    a UNIQUE temp name (pid + uuid suffix) before the atomic
    ``os.replace`` — a shared ``.tmp`` sibling would let one bumper's
    replace rename the temp out from under another, failing an innocent
    merge/delete with FileNotFoundError."""
    import json
    import time
    import uuid

    try:
        with open(os.path.join(base_path, fname), encoding="ascii") as f:
            n = int(json.load(f).get("epoch", 0))
    except (OSError, ValueError):
        n = 0
    os.makedirs(base_path, exist_ok=True)
    p = os.path.join(base_path, fname)
    tmp = f"{p}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="ascii") as f:
        json.dump(
            {"epoch": n + 1, "ts": time.time(), "nonce": uuid.uuid4().hex}, f
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)


#: attempts of one :func:`epoch_bracket` before it fails loudly
#: (adversarial scheduling only — the no-race path runs one attempt)
REPAIR_ATTEMPTS = 5

#: commit-race rebase budget of one optimistic :func:`commit`: each
#: retry re-stages against the winner's tree, so this bounds
#: pathological contention, not normal operation (N writers racing
#: resolve in at most N rounds — every round commits someone)
MAX_OPTIMISTIC_ATTEMPTS = 12


def epoch_bracket(
    root: str, own: str | None, read_other, scale: float, fn, name: str
) -> list:
    """Run ``fn`` — one writer's multi-store window — under the
    cross-writer race bracket, re-running it until no opposing writer
    landed inside it. Returns every attempt's ``fn()`` result in order
    (delete sides sum them, merge sides take the last).

    Each attempt: :func:`race_backoff`; ``before = read_other()``;
    :func:`epoch_bump` of the writer's OWN sidecar ``own`` under
    ``root``; ``fn()``; bump ``own`` again; done when ``read_other()``
    still equals ``before``. The two sides of a racing pair each bracket
    their window this way with their own sidecar and read the other's.
    Each side's READ window contains its own SIGNAL-WRITE window, so an
    overlap goes undetected only if both bump pairs fall strictly
    outside the other side's reads — which forces the windows disjoint
    (a serial order). One side's window sitting strictly inside the
    other's is caught by the OUTER side, hence a bracket on both sides
    of every pair. ``fn`` must be idempotent (insert-if-absent merges,
    swallowed deletes): a re-run is a no-op unless the two writers
    really contested the same keys, in which case it converges the
    stores onto a serial order of the pair. ``own=None`` is a writer
    whose signal writes happen inside ``fn`` (the purge marker's
    heartbeats); ``read_other`` is usually an :func:`epoch_read` of the
    other side's sidecar but may be any fingerprint. An exception from
    ``fn`` propagates at once. After :data:`REPAIR_ATTEMPTS` attempts
    it raises a ``RuntimeError`` naming ``name`` (the opposing writer)
    and ``root``. No-race cost: two fingerprint reads and two tiny
    sidecar writes.

    Schedule points (:mod:`hooks`), one set per call site:
    ``bracket:<own>:<name>:read`` before each fingerprint read,
    ``…:bump`` before each own-sidecar bump, ``…:body`` before ``fn``
    and ``…:done`` once the closing read matched.

    :func:`race_backoff`, :func:`epoch_read` and :func:`epoch_bump` are
    looked up as module globals at call time, so a tracer wrapping this
    module's functions from outside the package (perfbench) sees the
    bracket's calls."""
    p_read, p_bump, p_body, p_done = (
        f"bracket:{own}:{name}:{step}"
        for step in ("read", "bump", "body", "done")
    )
    results = []
    for attempt in range(REPAIR_ATTEMPTS):
        race_backoff(attempt, scale)
        hooks.point(p_read)
        before = read_other()
        if own is not None:
            hooks.point(p_bump)
            epoch_bump(root, own)
        hooks.point(p_body)
        results.append(fn())
        if own is not None:
            hooks.point(p_bump)
            epoch_bump(root, own)
        hooks.point(p_read)
        if read_other() == before:
            hooks.point(p_done)
            return results
    raise RuntimeError(
        f"{name} kept landing inside one bracketed window on {root} "
        f"({REPAIR_ATTEMPTS} repair attempts) — quiesce {name} and "
        f"replay"
    )


def is_transient_read_race(e: Exception) -> bool:
    """True when ``e`` looks like the pruned-base / swept-tree READ race
    the snapshot protocols document (a competitor's publish aged our
    resolved tree out mid-scan) — the only failure class the optimistic
    rebase loops and the read-retry wrapper may swallow. Anything else
    (schema mismatch, analysis errors, misconfigured partitions) is a
    genuine defect and must surface immediately, not after burning every
    retry (r9 ADVICE)."""
    if isinstance(e, FileNotFoundError):
        return True
    s = f"{type(e).__name__}: {e}"
    markers = (
        "FileNotFoundException",
        "PATH_NOT_FOUND",
        "Path does not exist",
        # NOT the bare "does not exist": it also matches permanent
        # misconfiguration ("Table does not exist", a wrong store path),
        # which must fail fast instead of burning the whole retry /
        # rebase budget before surfacing (r10 ADVICE). The specific
        # path-shaped markers above cover the real pruned-base race.
        "No such file",
        "UNABLE_TO_INFER_SCHEMA",  # tree emptied between list and read
        "FileStreamSink",
    )
    return any(m in s for m in markers)


@contextlib.contextmanager
def writer_lock(path: str, timeout: float = 120.0, poll: float = 0.1):
    """Advisory single-writer lock for one store table.

    The lock file is created WITH its pid content in one atomic step —
    ``os.link`` from a pre-written unique temp (link fails EEXIST when
    the lock exists; exactly one linker wins). The old
    open(O_EXCL)-then-write form had a takeover hole: a contender
    reading the file in the gap between the holder's create and its pid
    write saw empty bytes, parsed pid 0, declared the holder dead and
    STOLE a live lock — observed as a staging-dir collision when a CPU-
    starved full-suite run stretched that gap (two writers staging the
    same version number). The holder's pid lets a contender distinguish
    a live writer (wait, then ``TimeoutError``) from a crashed one
    (lock stolen by unlink + retry; the link race between multiple
    stealers again has exactly one winner). A lock with UNPARSEABLE
    content (only writable by pre-fix code crashing mid-write, or
    manual damage) is stolen only after a grace age, never instantly."""
    import uuid as _uuid

    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, LOCK_FILE)
    deadline = time.monotonic() + timeout
    while True:
        tmp = f"{lock}.tmp.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="ascii") as f:
            f.write(str(os.getpid()))
        try:
            os.link(tmp, lock)
            os.unlink(tmp)
            break
        except FileExistsError:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            try:
                with open(lock, encoding="ascii") as f:
                    pid = int(f.read().strip() or "0")
            except ValueError:
                pid = 0  # unparseable: legacy crash mid-write, or damage
            except OSError:
                continue  # released between link and read: re-race
            alive = False
            if pid:
                try:
                    os.kill(pid, 0)
                    alive = True
                except OSError:
                    alive = False
            else:
                # no pid to probe — steal only once the file is old
                # enough that no live pre-fix holder could still be
                # between its create and its pid write
                try:
                    alive = (time.time() - os.path.getmtime(lock)) < 5.0
                except OSError:
                    continue  # vanished: re-race
            if not alive:
                with contextlib.suppress(OSError):
                    os.unlink(lock)
                continue
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"store writer lock held by live pid {pid}: {lock}"
                )
            time.sleep(poll)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.unlink(lock)

_VERSION_RE = re.compile(r"^v\d{8}$")

#: in-progress stage directories: ``vNNNNNNNN.staging``, renamed to the
#: bare version name at publish time. Never matched by ``_VERSION_RE``,
#: so a crashed writer's partial tree is invisible to ``list_versions``
#: / ``rollback`` / ``data_dir`` — only COMPLETE trees are ever listed.
STAGING_SUFFIX = ".staging"
_STAGING_RE = re.compile(r"^v\d{8}\.staging$")


def is_version_name(name: str) -> bool:
    return bool(_VERSION_RE.match(name))


def current_version(path: str) -> str | None:
    try:
        with open(os.path.join(path, CURRENT_FILE), encoding="ascii") as f:
            return f.read().strip() or None
    except OSError:
        return None


def data_dir(path: str) -> str:
    """Directory holding the readable snapshot: the published version, or
    ``path`` itself for pre-versioning (legacy) stores."""
    cur = current_version(path)
    return os.path.join(path, cur) if cur else path


def tree_has_data(base: str) -> bool:
    """True when the resolved snapshot directory ``base`` holds at least
    one parquet data file. A legacy root's unpublished (crashed or
    in-flight) version and staging trees do not count."""
    for root, dirs, files in os.walk(base):
        if root == base:
            dirs[:] = [
                d
                for d in dirs
                if not _VERSION_RE.match(d) and not d.endswith(".staging")
            ]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def stage_new(path: str) -> tuple[str, str]:
    """Create (but do not publish) the next version's STAGING directory
    (``vNNNNNNNN.staging`` — renamed to the bare version name inside
    :func:`publish`, so a name listed by :func:`list_versions` always
    denotes a complete immutable tree, never a crashed writer's partial
    one).

    Numbering is ``max(published versions ∪ current) + 1``, NOT
    ``current + 1``: after a :func:`rollback` the rolled-back-over
    snapshots are still retained for time-travel readers, and reusing
    their version numbers would rewrite a tree a reader may hold open —
    numbering past them keeps every retained name immutable forever
    (they rejoin the normal prune lifecycle as newer versions publish).

    A writer that crashed mid-stage leaves an orphan ``*.staging``
    directory; orphans are swept here (under the caller's writer lock)
    so partial files never leak into a later attempt."""
    os.makedirs(path, exist_ok=True)
    nums = [int(v[1:]) for v in list_versions(path)]
    cur = current_version(path)
    if cur:
        nums.append(int(cur[1:]))
    n = (max(nums) if nums else 0) + 1
    version = f"v{n:08d}"
    for d in os.listdir(path):
        if _STAGING_RE.match(d):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    vdir = os.path.join(path, version + STAGING_SUFFIX)
    os.makedirs(vdir)
    return version, vdir


def publish(path: str, version: str) -> None:
    """Rename the staging directory to its final version name, then
    atomically flip ``_CURRENT`` to ``version`` and prune old snapshots.
    ``os.replace`` is atomic on POSIX: a concurrent reader sees either
    the previous pointer or the new one, never a torn file. (The
    staging→final rename is atomic too, but readers never resolve a
    version before the pointer flip anyway.)"""
    staging = os.path.join(path, version + STAGING_SUFFIX)
    if os.path.isdir(staging):
        os.replace(staging, os.path.join(path, version))
    tmp = os.path.join(path, CURRENT_FILE + ".tmp")
    with open(tmp, "w", encoding="ascii") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, CURRENT_FILE))
    _prune(path, version)


def _prune(path: str, current: str) -> None:
    """Delete superseded snapshots that are BOTH beyond the
    ``KEEP_VERSIONS`` count bound AND older than ``RETAIN_SECS`` — the
    age floor is what lets an external reader (a probe mid-scan, a bench
    query) survive a rapid commit train without re-resolving (r9 verdict
    #3). A version dir's mtime is its staging-write time ≈ publish time."""
    versions = sorted(
        d for d in os.listdir(path) if _VERSION_RE.match(d) and d <= current
    )
    now = time.time()
    for stale in versions[:-KEEP_VERSIONS]:
        p = os.path.join(path, stale)
        try:
            if now - os.path.getmtime(p) < RETAIN_SECS:
                continue
        except OSError:
            continue  # already being removed by a competitor's prune
        shutil.rmtree(p, ignore_errors=True)


def list_versions(path: str) -> list[str]:
    """Retained snapshot versions of a store table, oldest first.
    At most ``KEEP_VERSIONS`` survive pruning; anything listed here is a
    complete immutable tree readable via ``read_snapshot(version=...)``."""
    try:
        return sorted(d for d in os.listdir(path) if _VERSION_RE.match(d))
    except OSError:
        return []


def rollback(path: str, version: str) -> None:
    """Atomically repoint the table at a RETAINED older snapshot — the
    operational undo for a bad merge (Delta's RESTORE). Takes the writer
    lock (a rollback racing a merge would otherwise lose one of them),
    flips ``_CURRENT`` with the same write-temp + ``os.replace`` as a
    forward publish, and prunes nothing: the rolled-back-from version
    stays on disk as a retained snapshot for time-travel readers.
    ``stage_new`` numbers past it (max + 1, never current + 1), so its
    name is never reused and its tree stays immutable until it ages out
    of the normal ``KEEP_VERSIONS`` prune window under later publishes.

    :raises ValueError: when ``version`` is not a retained snapshot
        (already pruned, or never published)."""
    with writer_lock(path):
        if version not in list_versions(path):
            raise ValueError(
                f"cannot roll back {path} to {version!r}: retained "
                f"versions are {list_versions(path)}"
            )
        tmp = os.path.join(path, CURRENT_FILE + ".tmp")
        with open(tmp, "w", encoding="ascii") as f:
            f.write(version)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(path, CURRENT_FILE))


def link_tree(
    src: str, dst: str, exclude_rel_dirs: set[str] | None = None
) -> None:
    """Populate ``dst`` with hardlinks to every data file under ``src``
    (version bookkeeping entries are skipped, so a legacy store root is a
    valid source). Hardlinks share the inode: no data is copied, and the
    original version's files are untouched when a later dynamic overwrite
    replaces links in ``dst``. Falls back to a copy when the filesystem
    refuses to link (e.g. cross-device).

    ``exclude_rel_dirs``: src-relative directory paths (e.g. partition
    leaf dirs ``instance_of=X/hb=3``) whose ENTIRE subtrees are skipped —
    the pruned copy-on-write DELETE links every untouched partition and
    rewrites only the excluded ones (operators/sinks.delete_from_store)."""
    src = os.path.abspath(src)
    exclude = exclude_rel_dirs or set()
    for root, dirs, files in os.walk(src):
        rel_root = os.path.relpath(root, src)
        if rel_root in exclude:
            dirs[:] = []  # prune the walk: nothing under it is linked
            continue
        if root == src:
            dirs[:] = [
                d
                for d in dirs
                if not _VERSION_RE.match(d)
                and not _STAGING_RE.match(d)
                and not _OPT_STAGING_RE.match(d)
            ]
            files = [
                f
                for f in files
                if not f.startswith(CURRENT_FILE)
                and f not in (LOCK_FILE, POINTER_LOCK_FILE)
            ]
        rel = os.path.relpath(root, src)
        out = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f.startswith("_") and ".tmp." in f:
                # in-flight metadata-sidecar temp (e.g. _SCHEMA.json.tmp.<pid>
                # staged by a repairer that crashed mid-rename): never valid
                # content; carrying it forward would hardlink the stray into
                # every later version forever
                continue
            target = os.path.join(out, f)
            try:
                os.link(os.path.join(root, f), target)
            except OSError:
                try:
                    shutil.copy2(os.path.join(root, f), target)
                except OSError:
                    # the file vanished between the os.walk listing and the
                    # link/copy — only regenerable metadata sidecars can do
                    # that (a concurrent reader's read-repair replacing a
                    # torn _SCHEMA.json); data files never vanish under a
                    # held lock, so skipping is safe and the sidecar is
                    # rebuilt by the next reader
                    if os.path.exists(os.path.join(root, f)):
                        raise



# ---------------------------------------------------------------------------
# Optimistic (lock-free) commit protocol
#
# The writer-lock protocol above serializes writers with a pid-liveness
# lock — correct, but single-host by construction (a pid means nothing on
# another machine). This section is the cluster-shaped alternative: the
# Delta-on-HDFS commit discipline re-expressed over plain directories.
#
#   - The version LOG — the set of complete ``vNNNNNNNN`` trees — is the
#     authority. A commit is the atomic ``rename(2)`` of a uniquely-named
#     staging tree onto the next version number; rename onto an existing
#     non-empty directory fails (ENOTEMPTY), so each number has exactly
#     ONE winner. This is Delta's put-if-absent log append with the
#     directory rename standing in for the log-file create (HDFS rename
#     has the same put-if-absent property; S3 needs an external
#     coordinator — the same caveat Delta itself carries there).
#   - A writer binds its target number to the base it merged against
#     (target = base + 1) at RESOLVE time. A concurrent commit therefore
#     necessarily contends for the same number; the loser's staging is
#     discarded and it REBASES: re-resolve, re-merge against the winner's
#     tree, retry with the next number. Lost updates are structurally
#     impossible — there is no window in which a writer can publish
#     without having read every earlier committed tree.
#   - ``_CURRENT`` degrades to a read hint. It advances monotonically
#     (winners can be scheduled out of order) under a microsecond-held
#     mtime lease — never across data work, so the lease is not a lock in
#     the throughput sense. Readers keep the exact contract they had:
#     resolve once, read an immutable tree.
#   - RESTORE is a new commit (``restore_as_commit``) that republishes an
#     old tree's content as the next version — Delta's RESTORE semantics.
#     The locked protocol's pointer-regressing ``rollback`` is correct
#     only under the writer lock and must not be mixed with lock-free
#     committers (their base resolution would not see the regression).
#
# A table's writers must all use ONE protocol (lock or optimistic), like
# any log-structured table format; readers need no coordination either
# way. The protocol is resolved in one place, :func:`store_protocol`,
# and only :func:`commit` (base-dependent writes) and
# :func:`commit_full` (full rewrites) act on it — every store engine
# commits through one of the two, so an engine is written once, as a
# stage body, for both protocols. Pinned by tests/test_versioned.py
# (rename-arbiter unit race, in-process rebase, multi-process stress
# with no lock file present) and tests/test_publish_order.py.
# ---------------------------------------------------------------------------

#: optimistic stagings: ``vNNNNNNNN.<nonce>.opt.staging`` — disjoint from
#: the locked protocol's ``vNNNNNNNN.staging`` so neither protocol's
#: orphan sweep can delete the other's live work.
OPT_STAGING_SUFFIX = ".opt.staging"
_OPT_STAGING_RE = re.compile(r"^v\d{8}\.[0-9a-f]{8,}\.opt\.staging$")
POINTER_LOCK_FILE = "_POINTER.lock"
#: optimistic staging orphans older than this are presumed crashed and
#: swept by a later writer's stage_optimistic call
STALE_STAGING_SECS = 3600.0
#: a pointer lease older than this is presumed crashed and stolen
POINTER_LEASE_STALE_SECS = 10.0


def resolve_latest(path: str) -> tuple[str | None, str, str]:
    """Resolve ``(base_version, base_dir, target_version)`` for one
    optimistic attempt.

    The log, not the pointer, is the authority: a concurrent winner's
    rename lands its complete tree atomically BEFORE it advances
    ``_CURRENT``, so a merge based on the pointer could miss the newest
    commit entirely — and, having claimed a later number, publish over
    it (a silent lost update). Resolving ``max(complete trees ∪
    pointer)`` closes that window: any commit this writer failed to read
    holds the exact number this writer will try to take, and the rename
    arbiter hands the number to exactly one of them.

    ``base_version`` is ``None`` for an empty or legacy (pre-versioning)
    store, where ``base_dir`` is the table root."""
    os.makedirs(path, exist_ok=True)
    nums = [int(v[1:]) for v in list_versions(path)]
    cur = current_version(path)
    if cur:
        nums.append(int(cur[1:]))
    base_n = max(nums) if nums else 0
    base = f"v{base_n:08d}" if base_n else None
    if base and os.path.isdir(os.path.join(path, base)):
        base_dir = os.path.join(path, base)
    else:
        # empty store, legacy root data, or (defensively) a pointer whose
        # tree is gone — read the root
        base_dir = path
    return base, base_dir, f"v{base_n + 1:08d}"


def _tree_newest_mtime(p: str) -> float:
    """Newest mtime anywhere under ``p`` (dirs and files). A live
    distributed write lands part files in partition SUBDIRS without
    refreshing the top-level dir's mtime, so staleness keyed on the root
    alone would sweep a >STALE_STAGING_SECS write mid-flight (r9 ADVICE):
    any file activity in the tree counts as a heartbeat."""
    newest = 0.0
    for root, _dirs, files in os.walk(p):
        for name in (None, *files):
            try:
                newest = max(
                    newest,
                    os.path.getmtime(
                        root if name is None else os.path.join(root, name)
                    ),
                )
            except OSError:
                continue  # racing a competitor's sweep of the same orphan
    return newest


def stage_optimistic(path: str, target: str) -> str:
    """Create this writer's UNIQUELY-NAMED staging directory for
    ``target``. Concurrent writers each get their own tree (nonce in the
    name), so staging needs no coordination at all; the contention point
    is deferred entirely to :func:`try_publish`'s rename. Stale orphans
    (a crashed writer's leftovers — NEWEST mtime in the tree older than
    ``STALE_STAGING_SECS``, i.e. no file activity for an hour) are
    swept; a live competitor's staging, however long its write has been
    running, keeps landing files and is never touched."""
    now = time.time()
    for d in os.listdir(path):
        if _OPT_STAGING_RE.match(d):
            p = os.path.join(path, d)
            newest = _tree_newest_mtime(p)
            if newest and now - newest > STALE_STAGING_SECS:
                shutil.rmtree(p, ignore_errors=True)
    nonce = uuid.uuid4().hex[:12]
    vdir = os.path.join(path, f"{target}.{nonce}{OPT_STAGING_SUFFIX}")
    os.makedirs(vdir)
    return vdir


def try_publish(
    path: str, target: str, staged_dir: str, discard_on_loss: bool = True
) -> bool:
    """Attempt to commit ``staged_dir`` as version ``target`` — the
    put-if-absent arbiter. ``os.rename`` onto an existing non-empty
    directory fails, so exactly one writer wins each version number; a
    staged tree always holds at least Spark's ``_SUCCESS`` marker, so a
    committed version can never be clobbered as an "empty dst".

    Win: the tree is live in the log the instant the rename returns
    (readers listing versions see it complete or not at all); the
    pointer then advances and superseded snapshots are pruned. Loss: the
    staging is discarded and the caller must rebase — re-resolve,
    re-merge, retry with the next number. ``discard_on_loss=False``
    keeps the staging for FULL-REWRITE commits, whose content does not
    depend on the base: the caller re-targets the SAME tree at the next
    number instead of re-populating it."""
    final = os.path.join(path, target)
    try:
        os.rename(staged_dir, final)
    except OSError:
        if discard_on_loss:
            shutil.rmtree(staged_dir, ignore_errors=True)
        return False
    _advance_current(path, target)
    _prune(path, target)
    return True


@contextlib.contextmanager
def _pointer_lock(path: str, timeout: float = 30.0, poll: float = 0.01):
    """Micro-lease serializing ``_CURRENT`` writes ONLY — held for the
    microseconds of a pointer compare-and-write, never across data work,
    so it bounds no writer's throughput. Liveness is mtime-based rather
    than pid-based precisely so it stays valid across hosts on a shared
    filesystem: a lease older than ``POINTER_LEASE_STALE_SECS`` is
    presumed crashed and stolen. The steal is rename-then-unlink, NOT
    check-then-unlink: two stealers both observing age>stale would each
    unlink, and the second unlink could hit the FIRST stealer's freshly
    created lock — two holders at once (r9 ADVICE). ``os.rename`` of the
    same stale source to two different nonce names has exactly one
    winner (the loser gets ENOENT), so exactly one stealer removes the
    stale lease and both re-race the O_EXCL create.

    Residual (documented, accepted): a HOLDER paused longer than the
    stale threshold inside the microsecond critical section (GC/NFS
    stall) can have its lease stolen and briefly share the section with
    a newer winner; the pointer compare keeps the effect to a bounded
    stale read — writers are immune (resolve_latest takes max(trees
    and pointer)) and the pointer self-heals on the next advance."""
    lock = os.path.join(path, POINTER_LOCK_FILE)
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                continue  # holder released between open and stat
            if age > POINTER_LEASE_STALE_SECS:
                grave = f"{lock}.{uuid.uuid4().hex[:8]}.stale"
                try:
                    os.rename(lock, grave)
                except OSError:
                    continue  # another stealer won the rename; re-race
                with contextlib.suppress(OSError):
                    os.unlink(grave)
                continue
            if time.monotonic() >= deadline:
                raise TimeoutError(f"pointer lease wedged: {lock}")
            time.sleep(poll)
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.unlink(lock)


def _advance_current(path: str, version: str) -> None:
    """Monotone pointer advance: ``_CURRENT`` moves to ``version`` only
    from behind it. Winners of successive numbers can be SCHEDULED out
    of order (the v6 winner may flip before the v5 winner runs again);
    the compare under the lease makes the pointer converge to the max
    committed version instead of regressing to a late-arriving older
    one."""
    with _pointer_lock(path):
        cur = current_version(path)
        if cur is not None and cur >= version:
            return
        tmp = os.path.join(path, CURRENT_FILE + ".opt.tmp")
        with open(tmp, "w", encoding="ascii") as f:
            f.write(version)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(path, CURRENT_FILE))


def publish_full_optimistic(
    path: str, populate_fn, max_attempts: int = 32
) -> str:
    """Lock-free FULL-REWRITE commit (last-writer-wins semantics — the
    bootstrap / flush / retrain paths): populate a writer-unique staging
    ONCE via ``populate_fn(staged_dir)``, then race the rename. A full
    snapshot's content does not depend on the base, so a lost race costs
    only a re-target of the SAME staged tree at the next number — never
    a rewrite (the asymmetry vs MERGE commits, which must rebase their
    content). Racing full writers therefore all commit, in log order,
    and the highest number wins the readers — exactly the last-writer-
    wins contract of the locked ``write_*`` twins."""
    _base, _base_dir, target = resolve_latest(path)
    vdir = stage_optimistic(path, target)
    populate_fn(vdir)
    for attempt in range(max_attempts):
        if attempt:
            time.sleep(0.01 * attempt)
            _base, _base_dir, target = resolve_latest(path)
        if try_publish(path, target, vdir, discard_on_loss=False):
            return target
    shutil.rmtree(vdir, ignore_errors=True)
    raise TimeoutError(
        f"full publish into {path} lost {max_attempts} commit races"
    )


def store_protocol(protocol: str | None) -> str:
    """The write protocol of one store write: per-call override >
    ``WCD_STORE_PROTOCOL`` env > ``lock``. One table must be written
    under ONE protocol (see §optimistic above) — the switch exists per
    deployment, not per call site."""
    p = protocol or os.environ.get("WCD_STORE_PROTOCOL", "lock")
    if p not in ("lock", "optimistic"):
        raise ValueError(f"unknown store write protocol {p!r}")
    return p


def is_locked_stage(staged_dir: str) -> bool:
    """True when ``staged_dir`` was staged by a LOCKED :func:`commit`:
    its base snapshot cannot change or be pruned before the stage
    returns. An optimistic stage's base can be pruned by competitors'
    commits mid-stage, so a stage that would read its base lazily while
    writing must materialize it first."""
    return not staged_dir.endswith(OPT_STAGING_SUFFIX)


def _run_stage(stage, base_dir: str, vdir: str, publish_gate=None):
    """``stage(base_dir, vdir) -> (result, changed)``, then the publish
    gate when there is something to publish. ``vdir`` is removed when
    the stage or the gate fails or nothing changed."""
    try:
        result, changed = stage(base_dir, vdir)
        if changed and publish_gate is not None:
            publish_gate()
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    if not changed:
        shutil.rmtree(vdir, ignore_errors=True)
    return result, changed


def commit(path: str, protocol: str | None, stage, publish_gate=None):
    """Commit one base-dependent write (merge, delete, upsert, split,
    compaction) to the store table ``path`` under its write protocol
    (:func:`store_protocol`) and return the stage's result.

    ``stage(base_dir, staged_dir) -> (result, changed)`` is the engine:
    it reads the resolved base snapshot ``base_dir`` (the table root for
    an empty store, whose first commit is born versioned), writes the
    next snapshot into the fresh, empty ``staged_dir`` and says whether
    anything changed; an unchanged stage publishes nothing. The stage
    must not resolve the store itself.

    - **lock**: ``publish_gate`` runs first (never hold a lock while
      waiting — see :func:`run_publish_ordered`); then, under
      :func:`writer_lock`, :func:`stage_new`, the stage against the
      current snapshot, :func:`publish`.
    - **optimistic**: per attempt, :func:`resolve_latest`,
      :func:`stage_optimistic`, the stage, ``publish_gate`` (the gate
      orders only the commit), :func:`try_publish`. A lost rename
      rebases: the next attempt re-stages against the winner's tree, so
      the stage is re-run from scratch. A stage failure rebases only
      when :func:`is_transient_read_race` (a competitor pruned the base
      mid-read); any other error surfaces at once. A legacy
      (pre-versioning) root with data is refused: it mixes data files
      with in-flight stagings in one directory, so a lock-free read of
      it could list a competitor's half-written files — migration is
      one locked write.

    :func:`publish` and :func:`try_publish` are looked up as module
    globals at call time, so tests and tracers may replace them."""
    if store_protocol(protocol) == "lock":
        if publish_gate is not None:
            publish_gate()
        with writer_lock(path):
            version, vdir = stage_new(path)
            result, changed = _run_stage(stage, data_dir(path), vdir)
            if changed:
                publish(path, version)
            return result
    last_err: Exception | None = None
    for attempt in range(MAX_OPTIMISTIC_ATTEMPTS):
        if attempt:
            time.sleep(0.05 * attempt)
        base, base_dir, target = resolve_latest(path)
        if base is None and tree_has_data(path):
            raise ValueError(
                f"optimistic writes need a versioned store; migrate the "
                f"legacy root {path} with one locked write first"
            )
        vdir = stage_optimistic(path, target)
        try:
            result, changed = _run_stage(stage, base_dir, vdir, publish_gate)
        except Exception as e:
            if not is_transient_read_race(e):
                raise
            last_err = e
            continue
        if not changed or try_publish(path, target, vdir):
            return result
    raise TimeoutError(
        f"optimistic commit into {path} lost {MAX_OPTIMISTIC_ATTEMPTS} "
        f"commit races"
    ) from last_err


def commit_full(path: str, protocol: str | None, populate) -> str:
    """Commit a FULL rewrite of the store table ``path`` (content
    independent of the base: bootstrap, flush, rebuild):
    ``populate(staged_dir)`` writes the whole next snapshot. Locked, it
    runs under :func:`writer_lock` between :func:`stage_new` and
    :func:`publish`; optimistic, it is :func:`publish_full_optimistic`
    (a lost race re-targets the same staged tree). Returns the published
    version."""
    if store_protocol(protocol) == "optimistic":
        return publish_full_optimistic(path, populate)
    with writer_lock(path):
        version, vdir = stage_new(path)
        populate(vdir)
        publish(path, version)
    return version


def expire_history(path: str) -> list[str]:
    """Force-expire every retained snapshot BEHIND the current one,
    regardless of the ``KEEP_VERSIONS`` / ``RETAIN_SECS`` floors — the
    privacy half of a purge (Delta's ``VACUUM`` with the retention-
    duration check disabled, run for the same reason Delta documents:
    a copy-on-write DELETE rewrites doomed rows out of the NEW snapshot
    only; the superseded snapshot keeps them readable — time travel /
    ``rollback`` resurrects purged content — and their bytes stay on
    disk until age-based pruning). A GDPR-style purge is not complete
    until that history is gone; hardlinked layouts make this exact:
    removing the old version dirs drops the LAST link of every file a
    purge rewrote (the bytes are gone), while files untouched by any
    later commit stay alive through the current tree's links.

    Safety under the two write protocols:

    - the WRITER LOCK is held, so no locked writer is mid-publish and
      any bare ``vNNNNNNNN.staging`` tree is a CRASHED locked writer's
      leftover — swept too (a crashed pre-purge merge staged hardlinks
      to doomed files, which would otherwise pin their bytes);
    - optimistic writers never need the lock: their staged trees are
      writer-unique, and one staged from a pre-purge base either LOSES
      its rename (tree discarded) or rebases onto the post-purge log —
      only trees with no file activity for ``STALE_STAGING_SECS`` (a
      crashed optimistic writer) are swept, same rule as
      :func:`stage_optimistic`;
    - complete trees NUMBERED ABOVE the pointer are never touched: a
      just-committed optimistic winner's ``_advance_current`` may not
      have run yet (``resolve_latest`` reads max(trees, pointer) for
      exactly this reason) — expiring it would lose a committed write.

    In-flight READERS of an expired snapshot hit the documented
    pruned-base race and re-resolve (:func:`is_transient_read_race`) —
    the same contract normal pruning already imposes, minus the age
    grace (acceptable for a purge: the grace exists for reader comfort,
    and a privacy scrub outranks it).

    Returns the removed directory names (empty for an unversioned or
    already-vacuumed store)."""
    if not os.path.isdir(path):
        return []
    removed: list[str] = []
    with writer_lock(path):
        cur = current_version(path)
        now = time.time()
        for d in sorted(os.listdir(path)):
            p = os.path.join(path, d)
            if _VERSION_RE.match(d):
                if cur is not None and d < cur:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(d)
            elif _STAGING_RE.match(d):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(d)
            elif _OPT_STAGING_RE.match(d):
                newest = _tree_newest_mtime(p)
                if newest and now - newest > STALE_STAGING_SECS:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(d)
    return removed


def restore_as_commit(path: str, version: str, max_attempts: int = 16) -> str:
    """Optimistic-protocol RESTORE: republish a retained older snapshot's
    CONTENT as a new version — Delta's RESTORE is itself a commit, and
    for the same reason: lock-free committers resolve their base from
    the log's max, so a pointer regression (the locked protocol's
    :func:`rollback`) would simply not be seen by them. Publishing the
    restore through the log preserves the one rule every optimistic
    writer relies on — newest state == highest complete tree. The
    restored-FROM version's files live on as hardlinks inside the new
    commit, so it may prune normally afterwards.

    :raises ValueError: when ``version`` is not a retained snapshot."""
    if version not in list_versions(path):
        raise ValueError(
            f"cannot restore {path} to {version!r}: retained "
            f"versions are {list_versions(path)}"
        )
    for attempt in range(max_attempts):
        if attempt:
            time.sleep(0.01 * attempt)
        _base, _base_dir, target = resolve_latest(path)
        vdir = stage_optimistic(path, target)
        link_tree(os.path.join(path, version), vdir)
        if try_publish(path, target, vdir):
            return target
    raise TimeoutError(
        f"restore of {path} to {version} lost {max_attempts} commit races"
    )
