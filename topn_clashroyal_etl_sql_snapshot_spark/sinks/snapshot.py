"""Snapshot sink: overwrite-mode parquet (and optional JDBC) writer.

The reference loads with TRUNCATE + RELOAD in one transaction
(``scripts/etl_snapshot_topn.py:162-182, 363-527``) — the ETL computes
full snapshots, so ``mode("overwrite")`` is semantically identical and the
upsert logic vanishes (SURVEY.md §2.A5). ``deck_type_overrides`` is manual
config and is never rewritten (scripts:167-179 exclude it).

Two reference properties the plain per-table overwrite does NOT give and
this module restores:

- **DDL preservation** — the reference TRUNCATEs, so the serving
  database keeps its PKs, CHECKs, and the 7 B-tree indexes its dashboard
  relies on (``db/schema.sql:159-180``). Spark's bare overwrite DROPs
  and re-creates the table from the DataFrame schema, silently stripping
  them; ``truncate=True`` (the default here) sets Spark's JDBC
  ``truncate`` option so the target's DDL survives every publish.
- **Atomicity** — the reference loads all tables in ONE transaction
  (``engine.begin()``, scripts:363-364): a reader never sees a
  half-refreshed warehouse. ``write_snapshot_atomic`` (parquet:
  stage directory + swap) and ``publish_snapshot_jdbc_atomic``
  (JDBC: ``__stage`` tables + one rename transaction) restore that.

Scale notes: rollup tables are partitioned by their leading dimension key
where the cardinality warrants it; the big per-player fact is written with
sensible file sizing left to AQE's coalesced shuffle output.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


# Dashboard reads filter these by archetype — partition pruning replaces
# the reference's B-tree indexes.
PARTITION_KEYS = {
    "meta_type_cards": ["deck_type"],
    "meta_type_deck_ids": ["deck_type"],
}


def write_snapshot(tables: dict[str, DataFrame], warehouse_dir: str) -> None:
    """Write every table under ``warehouse_dir/<name>/`` in overwrite
    mode, partitioned per :data:`PARTITION_KEYS`."""
    for name, df in tables.items():
        writer = df.write.mode("overwrite")
        if name in PARTITION_KEYS:
            writer = writer.partitionBy(*PARTITION_KEYS[name])
        writer.parquet(os.path.join(warehouse_dir, name))


def write_snapshot_atomic(tables: dict[str, DataFrame], warehouse_dir: str) -> None:
    """All-or-nothing parquet snapshot — the one-transaction load of the
    reference (``scripts/etl_snapshot_topn.py:363-364``) as a
    stage-and-swap: every table is written under
    ``<warehouse_dir>__staging`` first, and only after ALL writes
    succeed is the staging directory swapped into place (current →
    ``__old``, staging → current, ``__old`` removed). A failure while
    staging table k leaves the serving directory byte-for-byte the
    complete OLD snapshot; a reader resolving paths under
    ``warehouse_dir`` sees either the full old set or the full new one.

    The swap is two LOCAL-filesystem directory renames — atomic
    individually on POSIX, with only the instant between them exposed
    (a missing dir, never a mixed one). A crash between the two
    renames leaves the snapshot parked at ``__old``; the next run
    restores it to serving BEFORE re-staging, so the rollback copy is
    never destroyed while it is the only complete snapshot. The
    driver-local rename cannot operate on distributed/object-store
    URIs, so non-local ``warehouse_dir`` schemes are rejected up
    front — on HDFS use the Hadoop FileSystem rename; on object
    stores point readers through a catalog/manifest and publish by
    updating the pointer.

    Every staged file is fsynced before the swap, so the published
    snapshot also survives power loss."""
    atomic_dir_publish(
        warehouse_dir,
        lambda staging: write_snapshot(tables, staging),
        caller="write_snapshot_atomic",
    )


def link_state_files(src_dir: str, dst_dir: str) -> int:
    """Hardlink a previous generation's parquet data files into a new
    generation's state directory — the APPEND form for append-only
    states (r12): the day's publish then writes only the DELTA part
    files into the same directory instead of rewriting the
    corpus-sized state (measured on the composed funnel: the
    fingerprint-index rewrite dominated the publish delta, +45.8 s at
    the 10x point). Hardlinks keep every generation SELF-CONTAINED —
    pruning the old generation unlinks names, never shared inodes —
    and cost no data IO or extra disk. Falls back to copies on
    filesystems without hardlink support. Returns the number of files
    carried over."""
    os.makedirs(dst_dir, exist_ok=True)
    n = 0
    for fname in os.listdir(src_dir):
        # data + their Hadoop-LocalFS checksum twins; skip _SUCCESS
        # (the new write emits its own markers)
        if not (fname.startswith("part-") or fname.startswith(".part-")):
            continue
        src, dst = os.path.join(src_dir, fname), os.path.join(dst_dir, fname)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
        n += 1
    return n


def publish_append_state(
    spark,
    prev_dir: str,
    dst_dir: str,
    delta_df,
    max_files: int = 64,
    target_file_bytes: int = 128 << 20,
    compact_fn=None,
) -> str:
    """Append-form state publish with BOUNDED file count — the delta
    compaction the r12 append-only generation store lacked (r12
    verdict, missing #1): each ingest day hardlinked the previous part
    files and appended a delta fileset, so after ~365 days an index
    was hundreds of small part-file groups and every open paid the
    small-files penalty the shard sink explicitly engineered against.

    Two modes, chosen from the previous generation's data-file count:

    - **link** (the common day): hardlink the previous generation's
      part files into ``dst_dir`` (:func:`link_state_files`) and
      append only the day's delta — O(delta) IO, the r12 measured 5.3x
      publish-step win.
    - **compact** (when the accumulated count reaches ``max_files``):
      rewrite ``prev ∪ delta`` as one fileset sized to
      ``target_file_bytes`` per file (coalesce — no shuffle: the
      parquet scan's partitioning is already ~target-sized via
      maxPartitionBytes) — O(state) IO paid once per ``max_files``
      days, amortized O(state/max_files) per day, and the hardlink
      chain resets. The reference point is the reference's own mode:
      its snapshot loop is a periodic full rewrite
      (``/root/reference/scripts/etl_snapshot_topn.py:363-364``); the
      generation store does that every K days instead of every day.

    Generations stay SELF-CONTAINED in both modes (links share
    inodes; compaction writes fresh files), so pruning old
    generations never invalidates the current one. Returns
    ``"linked"`` or ``"compacted"`` (callers/report surfaces can
    expose which mode the day took).

    ``compact_fn`` (r16): an optional ``DataFrame -> DataFrame``
    transform applied to ``prev ∪ delta`` at COMPACTION time only —
    the hook that lets row-mergeable states (the Bloom bitmap's
    word-keyed ``bit_or``) ride the append form: their daily rows
    accumulate as duplicates the probe tolerates, and compaction
    re-aggregates them back to the canonical one-row form instead of
    copying the duplicates forward. When it changes the row count the
    file sizing still targets ``target_file_bytes`` via the PRE-merge
    byte total — an upper bound, so compacted files err small, never
    oversized. Identity (None) keeps the historical behavior."""
    data = [f for f in os.listdir(prev_dir) if f.startswith("part-")]
    if len(data) < max_files:
        link_state_files(prev_dir, dst_dir)
        delta_df.write.mode("append").parquet(dst_dir)
        return "linked"
    total = sum(os.path.getsize(os.path.join(prev_dir, f)) for f in data)
    k = max(1, -(-total // int(target_file_bytes)))
    prev = spark.read.parquet(prev_dir)
    merged = prev.unionByName(delta_df)
    if compact_fn is not None:
        merged = compact_fn(merged)
    merged.coalesce(k).write.parquet(dst_dir)
    return "compacted"


def recover_parked_dir(base_dir: str) -> None:
    """Crash recovery for :func:`atomic_dir_publish`'s one exposed
    window: a crash between its two renames leaves the ONLY complete
    generation parked at ``<base>__old`` with ``<base>`` missing.
    atomic_dir_publish itself restores that before re-staging, but a
    READER that runs before the next publish (e.g. the streaming
    mixture gate opening its ledger) must perform the same restore or
    it would mistake the parked state for day 0 (r12 review finding:
    the gate re-ran against an empty ledger and then overwrote the
    restored history). Idempotent and cheap — one existence check in
    the common case."""
    base = base_dir.rstrip("/")
    old = base + _OLD_SUFFIX
    if os.path.exists(old) and not os.path.exists(base):
        os.rename(old, base)


def atomic_dir_publish(
    base_dir: str,
    write_fn,
    caller: str = "atomic publish",
) -> None:
    """Stage-and-swap a directory-valued artifact: ``write_fn(staging)``
    writes the full new generation to ``<base>__staging``; only after
    it returns is the serving directory swapped (current → ``__old``,
    staging → current, ``__old`` removed), with the crash-recovery
    discipline a publish needs (a run parked at ``__old`` is restored
    BEFORE re-staging, so the rollback copy is never destroyed while it
    is the only complete generation). Shared by
    :func:`write_snapshot_atomic` and the training-shard sink's atomic
    writer — one implementation, so the two sinks' publish semantics
    cannot drift (r11)."""
    base = base_dir.rstrip("/")
    if "://" in base:
        raise ValueError(
            f"{caller} swaps directories with driver-local "
            f"renames; non-local path {base_dir!r} is not "
            "supported (use a catalog pointer or Hadoop FileSystem rename)"
        )
    staging, old = base + "__staging", base + "__old"
    shutil.rmtree(staging, ignore_errors=True)  # leftover from a crash
    if os.path.exists(old):
        if os.path.exists(base):
            # old generation from a completed swap — safe to clear
            shutil.rmtree(old)
        else:
            # crashed between the two renames: __old holds the ONLY
            # complete snapshot — restore it to serving first
            os.rename(old, base)
    write_fn(staging)
    # durability before the swap (r14, extending the generation
    # publish's discipline to the dir-swap form): Spark writes land in
    # the page cache, and a power loss after the renames' dirents
    # flush but before the data does would serve a truncated snapshot
    # as current — fsync the staged tree first, then the parent dirent
    # after the swap so the renames themselves survive. Cost: one
    # open+fsync per staged file, once per publish.
    fsync_dir_tree(staging)
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(staging, base)
    fsync_path(os.path.dirname(os.path.abspath(base)))
    shutil.rmtree(old, ignore_errors=True)


_GEN_PREFIX = "gen-"
_CURRENT_FILE = "_CURRENT"
_LOCK_FILE = "_LOCK"

# The streaming gates' applied-batch marker, written INSIDE a
# generation so it moves atomically with the states it describes.
# Shared constant (r14 review finding): plans/ingest.py carries it
# through manual batch days and streaming/incremental.py writes and
# guards on it — a drifted literal would silently stop the carry.
APPLIED_MARKER = "_applied"


class ConcurrentPublishError(RuntimeError):
    """A second writer attempted to publish into a generation root
    while another publish was in flight (or the ``_CURRENT`` pointer
    moved under a publish). Raised LOUDLY instead of letting the
    writers race: without exclusion, two publishers both read the same
    current generation, the second's staging ``rmtree`` destroys the
    first's half-written files, and the surviving flip silently drops
    the loser's delta — lost updates with no error anywhere."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user
    return True


def _acquire_publish_lock(root: str, caller: str) -> str:
    """Take ``<root>/_LOCK`` atomically WITH its content: the pid is
    written to a per-process temp file first and ``os.link`` publishes
    it under the lock name — link is create-exclusive AND atomic on
    local filesystems (the module's contract; see
    :func:`publish_generation`), so no contender can ever observe an
    empty or half-written lock (an ``O_EXCL``-create-then-write
    protocol has exactly that window, and a contender reading it would
    mis-diagnose a healthy lock as corrupt — r13 review finding).

    The recorded pid lets a holder that CRASHED without releasing be
    broken without wedging the store: on contention the pid is
    liveness-probed (``kill(pid, 0)`` — publishers share the host
    under the local-FS contract), and a dead holder's lock is taken
    over by ``os.rename``-ing it to a per-process name — rename is
    atomic and consumes the source, so when several contenders detect
    the same stale lock EXACTLY ONE wins the rename (the losers see
    ``FileNotFoundError`` and retry against whatever lock the winner
    re-creates); an unlink-then-create protocol would let a second
    breaker delete the first breaker's fresh lock and admit two
    publishers (r13 review finding). Pid-reuse can false-positive a
    dead holder as live — the failure mode is then a spurious
    :class:`ConcurrentPublishError` naming the lock file, never a
    silent lost update. A lock with unparseable content (manual touch,
    pre-protocol leftovers) is refused loudly rather than
    auto-deleted."""
    path = os.path.join(root, _LOCK_FILE)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{os.getpid()} {caller}")
        f.flush()
        os.fsync(f.fileno())
    try:
        for _attempt in range(3):
            try:
                os.link(tmp, path)
                return path
            except FileExistsError:
                pass
            try:
                with open(path, encoding="utf-8") as f:
                    holder = f.read().split()
            except FileNotFoundError:
                continue  # released between link and read — retry
            if not holder or not holder[0].isdigit():
                raise ConcurrentPublishError(
                    f"{caller}: lock file {path!r} has unparseable "
                    f"content {holder!r}; if no publisher is running, "
                    "remove it manually"
                )
            pid = int(holder[0])
            if not _pid_alive(pid):
                # stale: take it over via atomic rename — exactly one
                # contender wins; our own next link() attempt then
                # races fairly for the vacated name
                stale = f"{path}.stale.{os.getpid()}"
                try:
                    os.rename(path, stale)
                except FileNotFoundError:
                    continue  # another breaker won the takeover
                os.unlink(stale)
                continue
            raise ConcurrentPublishError(
                f"{caller}: generation root {root!r} is locked by a "
                f"live publisher (pid {pid}); concurrent publishes "
                "would race the staging cleanup and lose one writer's "
                f"delta — wait for it, or remove {path!r} if the pid "
                "is a reused one"
            )
        raise ConcurrentPublishError(
            f"{caller}: could not acquire {path!r} after repeated "
            "contention — another publisher kept winning the lock"
        )
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def fsync_path(path: str) -> None:
    """fsync one file or directory by path — the shared primitive for
    every durability site (the generation walk, the funnel gate's
    out-dirent syncs), so a future durability fix lands in ONE place
    (r14 review finding: the fd-fsync idiom had grown three inline
    copies)."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def fsync_dir_tree(root_dir: str) -> None:
    """fsync every file and directory under ``root_dir`` — the
    durability walk the generation publish runs before its pointer
    flip, exposed for writers whose durability is GATED by that flip
    but whose files live OUTSIDE the generation directory (r14 review
    finding: the streaming funnel gate's admitted-docs partition must
    be durable before the ``_applied`` marker that suppresses its
    replay is — otherwise power loss can durably record a batch as
    applied while its output is lost). Covers ``root_dir`` itself and
    below; the caller owns the dirent in root_dir's PARENT."""
    for dirpath, _dirnames, filenames in os.walk(root_dir):
        for fname in filenames:
            fsync_path(os.path.join(dirpath, fname))
        fsync_path(dirpath)


def _gen_number(name: str) -> int | None:
    if not name.startswith(_GEN_PREFIX):
        return None
    tail = name[len(_GEN_PREFIX):]
    return int(tail) if tail.isdigit() else None


def current_generation(root: str) -> str | None:
    """Absolute path of the generation directory the ``_CURRENT``
    pointer names, or ``None`` before the first
    :func:`publish_generation`. Readers resolve state through this —
    one ``open()`` + path join, never a directory listing race."""
    ptr = os.path.join(root, _CURRENT_FILE)
    try:
        with open(ptr, encoding="utf-8") as f:
            name = f.read().strip()
    except FileNotFoundError:
        return None
    if _gen_number(name) is None:
        raise ValueError(
            f"corrupt generation pointer {ptr!r}: {name!r} is not a "
            f"{_GEN_PREFIX}N name"
        )
    return os.path.join(root, name)


# Sentinel distinguishing "caller did not pass expected_parent" from
# "caller staged against no generation" (expected_parent=None).
_PARENT_UNSET = object()


def publish_generation(
    root: str,
    write_fn,
    keep: int = 1,
    caller: str = "publish_generation",
    expected_parent=_PARENT_UNSET,
) -> str:
    """Joint-atomic publish for a SET of coupled state directories —
    the daily-ingest loop persists four-plus states that must move
    together (fingerprint index + Bloom bitmap, MinHash index,
    component labels, mixture ledger, the day's shards), and a crash
    between per-directory swaps would desynchronize them silently
    (ledger counting docs the shard write never committed). N
    directory renames cannot be made atomic, so the commit point is
    ONE pointer: ``write_fn(gen_dir)`` writes every state directory
    under a fresh ``<root>/gen-N/``, and only after it returns is
    ``<root>/_CURRENT`` atomically replaced (tmp file + ``os.replace``
    — POSIX rename atomicity) to name the new generation. Readers go
    through :func:`current_generation`: they see the complete old
    state set or the complete new one, never a mix — the reference's
    one-transaction refresh semantics
    (``scripts/etl_snapshot_topn.py:363-364``, ``db/schema.sql:3``)
    applied to the incremental loop's file states.

    Crash recovery needs no special cases: a failure anywhere inside
    ``write_fn`` (or between it and the flip) leaves an ORPHAN gen
    directory the pointer never named — the old generation is intact
    and still current, and the next publish removes orphans (any gen
    newer than the pointer's target) before staging. ``keep`` previous
    generations are retained after a successful flip (readers mid-scan
    on the old generation keep their files); older ones are pruned.

    Single-writer contract — enforced at two scopes (r13/r14):

    - **The publish window** (always): concurrent publishers would
      race the staging cleanup and the orphan pruning, and the
      surviving flip would silently drop the losing writer's delta.
      The whole publish runs under an exclusive ``<root>/_LOCK``
      (:func:`_acquire_publish_lock` — create-exclusive with
      pid-liveness stale-lock breaking, released in ``finally`` on
      any failure), and the pointer flip is additionally guarded by a
      compare-and-swap re-read: if ``_CURRENT`` moved since the
      publish began (a lock broken on a reused pid, an operator's
      manual flip), the flip is ABORTED with
      :class:`ConcurrentPublishError` and the staged generation is
      left as an orphan.
    - **The caller's read-compute-publish cycle** (``expected_parent``
      — r14 advisor finding): the lock alone cannot see that a
      caller's delta was COMPUTED against a generation that is no
      longer current. Two overlapping ingest runs both read gen N;
      A publishes N+1 and releases the lock; B then acquires it
      cleanly, stages N+2 from B's stale prev=N — and A's delta is
      silently dropped, with the window-scope CAS never firing (it
      compares two reads that both see N+1). Callers that stage
      hardlinks or deltas derived from a previously-read generation
      MUST pass that generation (the :func:`current_generation` value
      they computed against — ``None`` for "no generation existed")
      as ``expected_parent``; the publish then refuses — BEFORE
      staging — when the current generation is no longer that parent,
      raising :class:`ConcurrentPublishError` instead of losing the
      other writer's update. Every state-publishing caller in this
      package passes it.

    Local filesystems only, like :func:`atomic_dir_publish` — on
    object stores the SAME pointer pattern applies through the
    store's conditional-put (whose precondition IS this CAS). Returns
    the new generation directory."""
    if "://" in root:
        raise ValueError(
            f"{caller} writes a driver-local pointer file; non-local "
            f"path {root!r} is not supported (use the store's "
            "conditional-put to flip the pointer there)"
        )
    if keep < 0:
        raise ValueError(f"keep must be ≥ 0, got {keep}")
    # expected_parent must actually name a generation OF THIS ROOT
    # (r15 advisor finding): a same-numbered gen-N path from a
    # DIFFERENT root would satisfy the number-compare CAS, and a
    # non-canonical basename would parse to None and surface as a
    # confusing "staged against generation None" refusal — both are
    # caller bugs, raised as clear ValueErrors before the lock.
    if expected_parent is not _PARENT_UNSET and expected_parent:
        # normalize ONCE and pass the normalized path down — the
        # locked CAS parses the same string, and a legitimate parent
        # spelled '<gen>/.' would pass these checks yet re-parse to
        # gen None at the flip (r15 review finding)
        exp = expected_parent = os.path.normpath(str(expected_parent))
        if not os.path.isabs(exp) and not os.path.dirname(exp):
            # a BARE generation name ('gen-000001') means a generation
            # of THIS root, not of the cwd — without this, dirname('')
            # realpaths to the cwd and the root check below falsely
            # rejects a valid parent whenever cwd != root (r15 advisor
            # finding). Relative paths WITH a directory part are left
            # alone: current_generation() under a relative root
            # returns root-prefixed paths that already realpath
            # correctly against the same cwd.
            exp = expected_parent = os.path.normpath(
                os.path.join(root, exp)
            )
        if _gen_number(os.path.basename(exp)) is None:
            raise ValueError(
                f"{caller}: expected_parent {expected_parent!r} does "
                f"not name a {_GEN_PREFIX}N generation directory — "
                "pass the current_generation() value this publish was "
                "computed against (or None for 'no generation')"
            )
        # resolve only the PARENT directory: realpath on the full path
        # would resolve a symlinked generation directory itself (an
        # operator relocating gen dirs to another volume behind
        # symlinks) and falsely reject its legitimate root (r15
        # review finding)
        if os.path.realpath(os.path.dirname(exp)) != os.path.realpath(
            root
        ):
            raise ValueError(
                f"{caller}: expected_parent {expected_parent!r} is not "
                f"a generation of {root!r} — a same-numbered "
                "generation from a different root must not satisfy "
                "the publish CAS"
            )
    os.makedirs(root, exist_ok=True)
    lock = _acquire_publish_lock(root, caller)
    try:
        return _publish_generation_locked(
            root, write_fn, keep, caller, expected_parent
        )
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _publish_generation_locked(
    root: str, write_fn, keep: int, caller: str, expected_parent
) -> str:
    cur = current_generation(root)
    cur_n = _gen_number(os.path.basename(cur)) if cur else 0
    if expected_parent is not _PARENT_UNSET:
        exp_n = (
            _gen_number(os.path.basename(expected_parent.rstrip("/")))
            if expected_parent
            else 0
        )
        if exp_n != cur_n:
            # refuse BEFORE staging: the caller's delta was computed
            # against a generation another writer already replaced —
            # flipping would silently drop that writer's update (r14
            # advisor finding: the window-scope CAS cannot see this)
            raise ConcurrentPublishError(
                f"{caller}: this publish was staged against generation "
                f"{exp_n} of {root!r} but the current generation is "
                f"{cur_n} — another writer published in between; "
                "re-read the current generation, recompute the delta "
                "against it, and publish again"
            )
    # (number, LISTED name) pairs: cleanup must remove the directory
    # by the name it actually has — rebuilding gen-%06d from the
    # parsed number silently no-ops on non-canonically padded names
    # like 'gen-07' (review finding), leaving them behind forever
    gens = sorted(
        (n, name)
        for name in os.listdir(root)
        if (n := _gen_number(name)) is not None
    )
    # orphans: staged by a crashed run, never flipped to — the pointer
    # is the source of truth, so anything newer than it is dead weight
    for n, name in gens:
        if n > cur_n:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    new_n = cur_n + 1
    gen_dir = os.path.join(root, f"{_GEN_PREFIX}{new_n:06d}")
    shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(gen_dir)
    write_fn(gen_dir)
    # fsync the generation's CONTENTS before the flip: Spark's parquet
    # writes land in the page cache, and a pointer that durably names a
    # generation whose files were lost to power loss would break the
    # complete-old-or-complete-new guarantee (review finding). One
    # open+fsync per file — state publishes are file-count bounded.
    fsync_dir_tree(gen_dir)
    # Compare-and-swap: re-read the pointer and refuse to flip if it
    # no longer names the parent this publish staged against. Under
    # the lock this only fires on the documented escape hatches (a
    # stale lock broken against a pid-reused live holder, an
    # operator's manual pointer edit) — but when it fires, the
    # alternative is silently replacing a generation this writer never
    # saw. The staged directory stays behind as an orphan; the serving
    # pointer is untouched.
    recheck = current_generation(root)
    recheck_n = _gen_number(os.path.basename(recheck)) if recheck else 0
    if recheck_n != cur_n:
        raise ConcurrentPublishError(
            f"{caller}: _CURRENT moved from gen {cur_n} to "
            f"{recheck_n} while this publish was staging gen {new_n} "
            "— another writer flipped the pointer; this publish's "
            "staged generation was NOT committed"
        )
    tmp = os.path.join(root, _CURRENT_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{_GEN_PREFIX}{new_n:06d}")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, _CURRENT_FILE))  # THE commit
    # fsync the DIRECTORY so the rename itself survives power loss —
    # the tmp file's content was fsynced above, but the directory
    # entry swap is a separate durability unit on POSIX
    fsync_path(root)
    for n, name in gens:
        if n <= cur_n - keep:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return gen_dir


def write_snapshot_jdbc(
    tables: dict[str, DataFrame],
    url: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    truncate: bool = True,
) -> None:
    """Optional JDBC sink mirroring the reference's Postgres load (A5).

    ``truncate=True`` (default) makes ``mode("overwrite")`` ≡ the
    reference's TRUNCATE + INSERT (``scripts/etl_snapshot_topn.py:
    162-182``): Spark issues TRUNCATE TABLE and reuses the existing
    table, so the serving database's primary keys, constraints, and
    B-tree indexes (``db/schema.sql:159-180``) survive the publish.
    With ``truncate=False`` Spark DROPs and re-creates the table from
    the DataFrame schema — use only when the target's DDL should be
    replaced (e.g. staging tables). Batched like the reference's
    executemany batches."""
    props = {
        "batchsize": str(batchsize),
        "truncate": "true" if truncate else "false",
        **(properties or {}),
    }
    for name, df in tables.items():
        df.write.mode("overwrite").options(**props).jdbc(url, name)


def publish_snapshot_jdbc(
    spark,
    source_url: str,
    target_url: str,
    tables: list[str],
    source_properties: dict[str, str] | None = None,
    target_properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    truncate: bool = True,
) -> dict[str, int]:
    """A7: publish the local snapshot to a second database — the
    engine-side equivalent of the reference's ``make publish``
    (``Makefile:89-94``: ``pg_dump`` the snapshot tables locally,
    pipe into ``psql $CLOUD_URL``). Spark replaces the dump/restore
    pipe with a read → overwrite write per table: rows stream through
    executors (never the driver); ``truncate=True`` keeps the target's
    DDL (see :func:`write_snapshot_jdbc` — the dump's DROP+CREATE+COPY
    is ``truncate=False``). By default the source read is ONE JDBC
    connection per table (the same single-pipe shape as pg_dump, with
    the write side still batched); to parallelize the read across
    executors, pass Spark's JDBC partitioning options through
    ``source_properties`` (``partitionColumn``/``lowerBound``/
    ``upperBound``/``numPartitions``, plus ``fetchsize``) — snapshot
    tables with an integer leading key take this directly.

    Raises ``ValueError`` if source and target URLs name the same
    database — byte-equal, or equal after normalizing network URLs on
    (scheme, host, port, database): the JDBC read is lazy, so the
    overwrite would truncate/drop the target before the source frame
    materializes — destroying the very rows being published and
    "succeeding" with 0 rows. Residual risk: the guard cannot see
    through a host ALIAS or proxy to the same server — that publish
    still self-clobbers; conversely two same-host URLs selecting
    different namespaces via parameters (``currentSchema``) are
    refused even though they'd be safe — use distinct databases for
    that topology.

    Returns {table: row_count} counted from the TARGET after each
    write — the accounting reflects what was actually published, and
    the source is read exactly once (counting the lazy source frame
    instead would re-scan it and could disagree with the write under
    concurrent source mutation). Tables are published one by one; a
    mid-list failure leaves earlier tables fully replaced and later
    ones untouched (the reference's shell pipe had the same per-dump
    granularity) — for all-or-nothing serving, use
    :func:`publish_snapshot_jdbc_atomic`."""
    if _same_jdbc_target(source_url, target_url):
        raise ValueError(
            "source and target JDBC URLs name the same database: the "
            "lazy JDBC read would be truncated by its own overwrite "
            "before materializing"
        )
    sprops = dict(source_properties or {})
    tprops = dict(target_properties or {})
    counts: dict[str, int] = {}
    for name in tables:
        df = (
            spark.read.format("jdbc")
            .options(url=source_url, dbtable=name, **sprops)
            .load()
        )
        write_snapshot_jdbc(
            {name: df},
            target_url,
            properties=tprops,
            batchsize=batchsize,
            truncate=truncate,
        )
        counts[name] = (
            spark.read.format("jdbc")
            .options(url=target_url, dbtable=name, **tprops)
            .load()
            .count()
        )
    return counts


def publish_warehouse_jdbc(
    spark,
    warehouse_dir: str,
    target_url: str,
    tables: list[str],
    target_properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    truncate: bool = True,
) -> dict[str, int]:
    """Publish parquet warehouse tables (``write_snapshot`` output) to
    a serving database — the publish shape when the local snapshot
    store is the lake, not a database; the parquet read parallelizes
    over file splits with no extra options. Same overwrite semantics
    (DDL-preserving by default) and target-counted row accounting as
    :func:`publish_snapshot_jdbc`."""
    tprops = dict(target_properties or {})
    counts: dict[str, int] = {}
    for name in tables:
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
        write_snapshot_jdbc(
            {name: df},
            target_url,
            properties=tprops,
            batchsize=batchsize,
            truncate=truncate,
        )
        counts[name] = (
            spark.read.format("jdbc")
            .options(url=target_url, dbtable=name, **tprops)
            .load()
            .count()
        )
    return counts


_STAGE_SUFFIX = "__stage"
_OLD_SUFFIX = "__old"

# Default ports for the network JDBC subprotocols the publish paths
# are likely to meet — used only to equate host:5432 with host.
_DEFAULT_PORTS = {
    "postgresql": 5432,
    "mysql": 3306,
    "mariadb": 3306,
    "sqlserver": 1433,
    "oracle": 1521,
}


def _jdbc_url_key(url: str):
    """Best-effort canonical identity (scheme, host, port, database)
    of a NETWORK JDBC URL — ``None`` when the URL doesn't parse as
    ``jdbc:<sub>://host[:port]/db[?params]`` (embedded URLs like
    ``jdbc:derby:/path`` have no netloc; their path IS the identity
    and byte comparison is the right check). Scheme and host fold to
    lower case, a missing port fills from the subprotocol default, and
    query parameters are IGNORED: two URLs for the same database that
    differ only in user/sslmode/param order still name the same
    tables."""
    from urllib.parse import urlsplit

    if not url.lower().startswith("jdbc:"):
        return None
    parts = urlsplit(url[len("jdbc:"):])
    if not parts.netloc or not parts.hostname:
        return None
    scheme = parts.scheme.lower()
    try:
        port = parts.port
    except ValueError:
        # semicolon-property URLs (SQL Server's
        # 'jdbc:sqlserver://host:1433;databaseName=x') put non-integer
        # text after the colon; unparseable here means byte comparison
        # is the only safe identity
        return None
    return (scheme, parts.hostname.lower(),
            port or _DEFAULT_PORTS.get(scheme), parts.path)


def _same_jdbc_target(a: str, b: str) -> bool:
    """True when two JDBC URLs are knowably the SAME database: byte
    equality, or equal normalized (scheme, host, port, database) for
    network URLs (r10 advisor finding: the byte-equal guard missed
    case/port/param-order variants, and the lazy source read would be
    truncated by its own overwrite). Residual risks are documented at
    the call sites: a host alias or proxy for the same server cannot
    be detected here, and two URLs that differ only in a
    namespace-selecting parameter (e.g. ``currentSchema``) compare
    equal — the guard prefers a loud false refusal over silent
    self-clobber."""
    if a == b:
        return True
    ka = _jdbc_url_key(a)
    return ka is not None and ka == _jdbc_url_key(b)


def _check_publish_identifier(name: str) -> None:
    """The swap interpolates table names into DDL unquoted (quoting
    would CHANGE which table unquoted-identifier engines resolve —
    Derby folds unquoted to upper, Postgres to lower, and the staging
    tables were created unquoted by Spark's writer). Restricting names
    to simple SQL identifiers keeps the interpolation injection-free
    and the unquoted semantics unambiguous."""
    import re

    if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", name):
        raise ValueError(
            f"table name {name!r} is not a simple SQL identifier "
            "([A-Za-z][A-Za-z0-9_]*); the atomic swap interpolates "
            "names into unquoted DDL and refuses anything else"
        )


def _rename_fmt_for(url: str) -> str:
    """Dialect preset for the swap's rename DDL, keyed on the JDBC
    subprotocol:

    ========== ====================================== ================
    dialect    rename statement                       DDL transactional
    ========== ====================================== ================
    postgresql ``ALTER TABLE {src} RENAME TO {dst}``  yes — swap atomic
    derby      ``RENAME TABLE {src} TO {dst}``        yes — swap atomic
    mysql      ``RENAME TABLE {src} TO {dst}``        no — implicit
                                                      commit per DDL
    (other)    ``RENAME TABLE {src} TO {dst}``        engine-specific
    ========== ====================================== ================

    On engines with auto-committing DDL the exposure window shrinks to
    the rename statements themselves rather than being zero."""
    sub = url.split(":", 2)[1].lower() if url.count(":") >= 2 else ""
    if sub == "postgresql":
        return "ALTER TABLE {src} RENAME TO {dst}"
    return "RENAME TABLE {src} TO {dst}"


def _jdbc_connect(spark, url: str, properties: dict[str, str]):
    """A driver-side JVM JDBC connection (java.sql) for the DDL the
    DataFrame writer cannot express (rename transactions). Model-free
    metadata work only — never row data."""
    jvm = spark._jvm
    jprops = jvm.java.util.Properties()
    for k, v in properties.items():
        if k != "driver":
            jprops.setProperty(k, v)
    if "driver" in properties:
        # make sure the driver class is registered with DriverManager
        jvm.java.lang.Class.forName(properties["driver"])
    return jvm.java.sql.DriverManager.getConnection(url, jprops)


def _table_exists(conn, name: str) -> bool:
    """True if ``name`` exists (unquoted-identifier casing: checks the
    name as-given plus upper/lower — Derby/Postgres fold differently).
    The JDBC metadata table-name argument is a LIKE pattern where
    ``_`` matches any character — and snapshot names are full of
    underscores — so they are escaped with the driver's escape string
    when the driver HAS one (Postgres: ``\\``); an unescaped
    ``player_summary`` would also match a 14-char lookalike and a
    phantom ``__old`` hit would send the swap a DROP of a table that
    isn't there. Embedded Derby reports an EMPTY escape string (its
    metadata patterns can't escape at all — injecting a backslash
    anyway turns every name into a non-match), so there the pattern
    stays lax and the returned TABLE_NAMEs are compared for EXACT
    equality instead (r10 advisor finding: accepting any pattern hit
    let a lookalike produce a phantom existence verdict and a
    mid-flight DROP/RENAME failure). The equality filter runs on
    escaping drivers too — belt and braces at one string compare."""
    meta = conn.getMetaData()
    esc = meta.getSearchStringEscape()
    for candidate in {name, name.upper(), name.lower()}:
        pattern = candidate
        if esc:
            pattern = pattern.replace(esc, esc + esc)
            pattern = pattern.replace("_", esc + "_").replace("%", esc + "%")
        rs = meta.getTables(None, None, pattern, None)
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") == candidate:
                    return True
        finally:
            rs.close()
    return False


def publish_snapshot_jdbc_atomic(
    spark,
    source_url: str,
    target_url: str,
    tables: list[str],
    source_properties: dict[str, str] | None = None,
    target_properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    rename_fmt: str | None = None,
) -> dict[str, int]:
    """All-or-nothing JDBC publish — the reference's one-transaction
    load (``engine.begin()``, ``scripts/etl_snapshot_topn.py:363-364``)
    re-expressed as stage-and-swap, since Spark's JDBC writer commits
    per table:

    1. every table is written to ``<name>__stage`` (DROP+CREATE —
       staging tables carry no DDL worth preserving);
    2. ONE driver-side transaction renames ``<name>`` → ``<name>__old``
       and ``<name>__stage`` → ``<name>`` for ALL tables, then commits;
    3. the ``__old`` tables are dropped outside the transaction.

    A failure while staging table k (step 1) leaves the serving tables
    untouched; a failure inside the rename transaction (step 2) rolls
    the whole swap back — a reader never sees a mixed snapshot. The
    rename DDL is dialect-specific and defaults by the target URL's
    subprotocol (see :func:`_rename_fmt_for` for the dialect table —
    Postgres, the engine the reference actually serves
    (``docker-compose.yml:3``), gets ``ALTER TABLE {src} RENAME TO
    {dst}`` and transactional DDL makes the swap genuinely atomic
    there; pass ``rename_fmt`` explicitly to override). Table names
    must be simple SQL identifiers — they are interpolated into the
    DDL unquoted, matching how the staging writer created them.

    Same lazy-read hazard (and same normalized same-database guard)
    as :func:`publish_snapshot_jdbc`. Returns {table: row_count}
    counted from the TARGET after the swap."""
    if _same_jdbc_target(source_url, target_url):
        raise ValueError(
            "source and target JDBC URLs name the same database: the "
            "lazy JDBC read would be clobbered by its own staging "
            "overwrite"
        )
    for name in tables:
        # refuse BEFORE any name reaches either database's SQL layer
        # (the staging writes interpolate dbtable verbatim), not just
        # before the swap DDL
        _check_publish_identifier(name)
    sprops = dict(source_properties or {})
    tprops = dict(target_properties or {})

    # 1. stage: serving tables untouched until every write succeeded
    for name in tables:
        df = (
            spark.read.format("jdbc")
            .options(url=source_url, dbtable=name, **sprops)
            .load()
        )
        write_snapshot_jdbc(
            {name + _STAGE_SUFFIX: df},
            target_url,
            properties=tprops,
            batchsize=batchsize,
            truncate=False,
        )

    return _swap_staged_tables(spark, target_url, tables, tprops, rename_fmt)


def publish_warehouse_jdbc_atomic(
    spark,
    warehouse_dir: str,
    target_url: str,
    tables: list[str],
    target_properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
    rename_fmt: str | None = None,
) -> dict[str, int]:
    """All-or-nothing parquet-lake → serving-DB publish: the
    :func:`publish_warehouse_jdbc` read shape with
    :func:`publish_snapshot_jdbc_atomic`'s stage-and-swap guarantee
    (same ``__stage`` tables, same single rename transaction with the
    same by-subprotocol dialect default, same rollback semantics)."""
    for name in tables:
        _check_publish_identifier(name)  # before any staging DDL
    tprops = dict(target_properties or {})
    for name in tables:
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
        write_snapshot_jdbc(
            {name + _STAGE_SUFFIX: df},
            target_url,
            properties=tprops,
            batchsize=batchsize,
            truncate=False,
        )
    return _swap_staged_tables(spark, target_url, tables, tprops, rename_fmt)


def _swap_staged_tables(
    spark,
    target_url: str,
    tables: list[str],
    tprops: dict[str, str],
    rename_fmt: str | None,
) -> dict[str, int]:
    """Steps 2-3 of the atomic publish: one transaction renames every
    ``<name>`` → ``<name>__old`` and ``<name>__stage`` → ``<name>``,
    commits, then drops the old generation; returns target-counted
    rows per table. ``rename_fmt=None`` picks the target dialect's
    statement by subprotocol; names are validated as simple
    identifiers before any DDL interpolation."""
    for name in tables:
        _check_publish_identifier(name)
    if rename_fmt is None:
        rename_fmt = _rename_fmt_for(target_url)
    conn = _jdbc_connect(spark, target_url, tprops)
    try:
        stmt = conn.createStatement()
        try:
            # clear leftovers from a crashed previous swap, pre-transaction
            for name in tables:
                if _table_exists(conn, name + _OLD_SUFFIX):
                    stmt.executeUpdate(f"DROP TABLE {name}{_OLD_SUFFIX}")
            conn.setAutoCommit(False)
            try:
                for name in tables:
                    if _table_exists(conn, name):
                        stmt.executeUpdate(
                            rename_fmt.format(
                                src=name, dst=name + _OLD_SUFFIX
                            )
                        )
                    stmt.executeUpdate(
                        rename_fmt.format(src=name + _STAGE_SUFFIX, dst=name)
                    )
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                conn.setAutoCommit(True)
            for name in tables:
                if _table_exists(conn, name + _OLD_SUFFIX):
                    stmt.executeUpdate(f"DROP TABLE {name}{_OLD_SUFFIX}")
        finally:
            stmt.close()
    finally:
        conn.close()

    counts: dict[str, int] = {}
    for name in tables:
        counts[name] = (
            spark.read.format("jdbc")
            .options(url=target_url, dbtable=name, **tprops)
            .load()
            .count()
        )
    return counts
