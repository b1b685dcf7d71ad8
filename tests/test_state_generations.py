"""Joint-atomic generation publish (sinks/snapshot.py::publish_generation):
the daily-ingest loop's coupled persisted states (fingerprint index +
Bloom bitmap, MinHash index, component labels, mixture ledger, shards)
must move together — failure injection at every boundary proves the old
generation survives intact, and the persisted-state round-trip pins the
on-disk schemas as the de-facto contract (r11 verdict, Next #1 and #7).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as sink


def _write_states(spark, gen_dir, tag):
    for name in ("fingerprints", "bloom", "minhash", "labels", "ledger"):
        spark.createDataFrame(
            [(tag, name)], "gen string, state string"
        ).write.parquet(os.path.join(gen_dir, name))


def _read_tags(spark, gen_dir):
    return {
        name: spark.read.parquet(os.path.join(gen_dir, name)).collect()[0]["gen"]
        for name in ("fingerprints", "bloom", "minhash", "labels", "ledger")
    }


def test_generation_publish_all_or_nothing(spark, tmp_path):
    root = str(tmp_path / "state")
    assert sink.current_generation(root) is None

    g1 = sink.publish_generation(root, lambda d: _write_states(spark, d, "day0"))
    assert sink.current_generation(root) == g1
    assert _read_tags(spark, g1) == {k: "day0" for k in _read_tags(spark, g1)}

    # failure injection at EVERY boundary: after writing k of the 5
    # states, the writer dies — the pointer must still name gen 1 and
    # every day0 state must read back byte-intact
    for boundary in range(5):
        names = ("fingerprints", "bloom", "minhash", "labels", "ledger")

        def failing(d, stop=boundary):
            for i, name in enumerate(names):
                if i == stop:
                    raise RuntimeError(f"injected crash before {name}")
                spark.createDataFrame(
                    [("dayX", name)], "gen string, state string"
                ).write.parquet(os.path.join(d, name))

        with pytest.raises(RuntimeError, match="injected crash"):
            sink.publish_generation(root, failing)
        assert sink.current_generation(root) == g1, boundary
        assert all(v == "day0" for v in _read_tags(spark, g1).values())

    # next successful publish cleans the orphan and flips atomically;
    # keep=1 retains the previous generation for in-flight readers
    g2 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day1")
    )
    assert sink.current_generation(root) == g2 and g2 != g1
    assert all(v == "day1" for v in _read_tags(spark, g2).values())
    assert os.path.exists(g1)  # keep=1
    gens = sorted(n for n in os.listdir(root) if n.startswith("gen-"))
    assert gens == [os.path.basename(g1), os.path.basename(g2)]

    g3 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day2")
    )
    assert not os.path.exists(g1)  # pruned past keep
    assert os.path.exists(g2) and sink.current_generation(root) == g3


def test_generation_publish_guards(tmp_path):
    with pytest.raises(ValueError, match="non-local"):
        sink.publish_generation("s3://bucket/state", lambda d: None)
    with pytest.raises(ValueError, match="keep"):
        sink.publish_generation(str(tmp_path / "x"), lambda d: None, keep=-1)
    # corrupt pointer refuses loudly rather than resolving a bogus path
    root = str(tmp_path / "bad")
    os.makedirs(root)
    with open(os.path.join(root, "_CURRENT"), "w") as f:
        f.write("not-a-generation")
    with pytest.raises(ValueError, match="corrupt generation pointer"):
        sink.current_generation(root)


def test_persisted_state_round_trip_schemas(spark, tmp_path):
    """The incremental loop's real states, written through the
    generation publish on day 0 and REOPENED from the pointer in a
    fresh Spark session for day 1 — pins the on-disk schemas (the
    de-facto contract) and that every incremental operator accepts its
    own persisted output."""
    from topn_clashroyal_etl_sql_snapshot_spark.functions import text as tx
    from topn_clashroyal_etl_sql_snapshot_spark.operators import dedup, sampling

    docs = spark.createDataFrame(
        [
            (i, f"some document text number {i} " * 3 + ("dup" if i % 4 else ""),
             "web" if i % 2 else "books")
            for i in range(40)
        ],
        "doc_id long, text string, source string",
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    root = str(tmp_path / "state")

    def day0(gen):
        corpus.select(
            tx.content_fingerprint(F.col("text")).alias("fingerprint")
        ).write.parquet(os.path.join(gen, "fingerprints"))
        dedup.bloom_bitmap(
            corpus.select(
                tx.content_fingerprint(F.col("text")).alias("fingerprint")
            )
        ).write.parquet(os.path.join(gen, "bloom"))
        dedup.minhash_signatures(corpus).write.parquet(
            os.path.join(gen, "minhash")
        )
        pairs0 = dedup.minhash_lsh_verified_pairs(corpus, threshold=0.5)
        labels0 = dedup.connected_components(pairs0)
        labels0.write.parquet(os.path.join(gen, "labels"))
        dedup.component_keepers(
            labels0,
            corpus.select(
                F.col("doc_id").alias("id"),
                F.length("text").cast("double").alias("score"),
            ),
        ).write.parquet(os.path.join(gen, "keepers"))
        corpus.groupBy("source").agg(
            F.count(F.lit(1)).cast("double").alias("kept_w")
        ).write.parquet(os.path.join(gen, "ledger"))

    sink.publish_generation(root, day0)

    # fresh session state: reads must not lean on this session's temp
    # views/caches
    s2 = spark.newSession()
    gen = sink.current_generation(root)
    fp = s2.read.parquet(os.path.join(gen, "fingerprints"))
    bloom = s2.read.parquet(os.path.join(gen, "bloom"))
    mh = s2.read.parquet(os.path.join(gen, "minhash"))
    labels = s2.read.parquet(os.path.join(gen, "labels"))
    keepers = s2.read.parquet(os.path.join(gen, "keepers"))
    ledger = s2.read.parquet(os.path.join(gen, "ledger"))

    # the on-disk schemas ARE the contract — exact, not just readable
    assert [(f.name, f.dataType.simpleString()) for f in fp.schema] == [
        ("fingerprint", "string")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in bloom.schema] == [
        ("word", "bigint"), ("bits", "bigint")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in mh.schema] == [
        ("id", "bigint"), ("sig", "array<bigint>")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in labels.schema] == [
        ("id", "bigint"), ("comp", "bigint")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in keepers.schema] == [
        ("id", "bigint"), ("comp", "bigint"), ("keep", "boolean")
    ]
    assert [(f.name, f.dataType.simpleString()) for f in ledger.schema] == [
        ("source", "string"), ("kept_w", "double")
    ]

    # day 1 consumes the reopened states end to end
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    surv, fp1, bloom1 = dedup.dedup_exact_incremental_bloom(batch, fp, bloom)
    pairs, mh1 = dedup.minhash_lsh_incremental(surv, mh, threshold=0.5)
    pairs = pairs.localCheckpoint(eager=True)
    labels1 = dedup.connected_components_incremental(labels, pairs)
    keepers1 = dedup.component_keepers_incremental(
        labels1,
        keepers,
        pairs,
        docs.select(
            F.col("doc_id").alias("id"),
            F.length("text").cast("double").alias("score"),
        ),
    )
    kept, ledger1 = sampling.mixture_sample_incremental(
        surv, ledger, "source", {"web": 0.5, "books": 0.5}
    )
    # every updated state keeps its schema — gen-2 is schema-stable
    for new, old in (
        (fp1, fp), (bloom1, bloom), (mh1, mh),
        (labels1, labels), (keepers1, keepers), (ledger1, ledger),
    ):
        assert [(f.name, f.dataType.simpleString()) for f in new.schema] == [
            (f.name, f.dataType.simpleString()) for f in old.schema
        ]
    assert labels1.count() >= labels.count()
    assert kept.count() <= batch.count()


def test_noncanonical_generation_names_are_cleaned(spark, tmp_path):
    """Cleanup removes gen directories by their LISTED name: a
    non-canonically padded orphan ('gen-07') and an old generation
    ('gen-02') must actually disappear, not be no-op'd by a rebuilt
    gen-%06d path (review finding)."""
    root = str(tmp_path / "state")
    sink.publish_generation(root, lambda d: _write_states(spark, d, "day0"))

    os.makedirs(os.path.join(root, "gen-07"))     # orphan, n > current
    g2 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day1")
    )
    assert not os.path.exists(os.path.join(root, "gen-07"))
    assert sink.current_generation(root) == g2

    os.makedirs(os.path.join(root, "gen-0"))      # stale, n < keep line
    sink.publish_generation(root, lambda d: _write_states(spark, d, "day2"))
    assert not os.path.exists(os.path.join(root, "gen-0"))


def test_publish_append_state_bounds_file_count_over_many_days(
    spark, tmp_path
):
    """publish_append_state (r13, r12 verdict missing #1): a simulated
    multi-day link-chain stays O(delta) on ordinary days, compacts when
    the accumulated fileset count reaches max_files — so the data-file
    count stays BOUNDED across arbitrarily many days instead of growing
    one fileset per day — and every generation remains self-contained
    (reads survive pruning the whole chain behind it). Contents equal
    the cumulative union at every step."""
    root = tmp_path / "chain"
    day0 = root / "day-000"
    spark.createDataFrame(
        [(i,) for i in range(5)], "v long"
    ).coalesce(1).write.parquet(str(day0))
    prev = day0
    want = set(range(5))
    max_files, seen_modes, counts = 4, [], []
    for d in range(1, 16):
        delta = spark.createDataFrame(
            [(100 * d + j,) for j in range(2)], "v long"
        ).coalesce(1)
        want |= {100 * d + j for j in range(2)}
        cur = root / f"day-{d:03d}"
        mode = sink.publish_append_state(
            spark, str(prev), str(cur), delta, max_files=max_files
        )
        seen_modes.append(mode)
        got = {r["v"] for r in spark.read.parquet(str(cur)).collect()}
        assert got == want, f"day {d} content drift ({mode})"
        n_files = len(
            [f for f in os.listdir(cur) if f.startswith("part-")]
        )
        counts.append(n_files)
        prev = cur
    # both modes exercised, and compaction recurs as the chain regrows
    assert "compacted" in seen_modes and "linked" in seen_modes
    assert seen_modes.count("compacted") >= 2
    # the bound: a day never serves more than max_files + the day's
    # delta worth of data files
    assert max(counts) <= max_files + 1, counts
    # self-containment across the WHOLE chain: prune every older day
    import shutil

    for d in ("day-000", *(f"day-{i:03d}" for i in range(1, 15))):
        shutil.rmtree(root / d)
    assert {
        r["v"] for r in spark.read.parquet(str(root / "day-015")).collect()
    } == want


def test_publish_lock_excludes_live_concurrent_writer(spark, tmp_path):
    """r13: the single-writer contract is enforced — a second publish
    against a root whose _LOCK names a LIVE pid refuses loudly (no
    staging, no pointer movement) instead of racing the first writer's
    staging cleanup."""
    root = str(tmp_path / "state")
    g1 = sink.publish_generation(root, lambda d: _write_states(spark, d, "day0"))
    assert not os.path.exists(os.path.join(root, "_LOCK"))  # released
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write(f"{os.getpid()} test-holder")  # this process: alive
    with pytest.raises(sink.ConcurrentPublishError, match="live publisher"):
        sink.publish_generation(
            root, lambda d: _write_states(spark, d, "day1")
        )
    # nothing staged, pointer untouched, the holder's lock intact
    assert sink.current_generation(root) == g1
    assert sorted(
        n for n in os.listdir(root) if n.startswith("gen-")
    ) == [os.path.basename(g1)]
    assert os.path.exists(os.path.join(root, "_LOCK"))
    os.unlink(os.path.join(root, "_LOCK"))


def test_publish_lock_breaks_stale_holder_and_proceeds(spark, tmp_path):
    """A holder that CRASHED (pid no longer alive) must not wedge the
    store: the stale lock is broken, the publish succeeds, and the
    lock is released afterwards."""
    import subprocess

    root = str(tmp_path / "state")
    sink.publish_generation(root, lambda d: _write_states(spark, d, "day0"))
    child = subprocess.Popen(["sleep", "0"])
    child.wait()  # reaped: kill(pid, 0) now raises ProcessLookupError
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write(f"{child.pid} crashed-holder")
    g2 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day1")
    )
    assert sink.current_generation(root) == g2
    assert all(v == "day1" for v in _read_tags(spark, g2).values())
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_publish_lock_refuses_unparseable_lock(spark, tmp_path):
    """Corrupt lock content is never auto-deleted — refuse and point
    the operator at the file (same posture as the corrupt-pointer
    guard)."""
    root = str(tmp_path / "state")
    os.makedirs(root)
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write("not-a-pid")
    with pytest.raises(sink.ConcurrentPublishError, match="unparseable"):
        sink.publish_generation(
            root, lambda d: _write_states(spark, d, "day0")
        )


def test_publish_cas_refuses_moved_pointer(spark, tmp_path):
    """The flip re-reads _CURRENT and aborts if it moved during
    staging (lock broken on a pid-reused holder, manual operator
    flip): the established pointer is never overwritten by a publish
    staged against a stale parent, and the lock is still released."""
    root = str(tmp_path / "state")
    sink.publish_generation(root, lambda d: _write_states(spark, d, "day0"))

    def hostile(gen_dir):
        _write_states(spark, gen_dir, "day1")
        # a racing writer flips the pointer mid-publish
        with open(os.path.join(root, "_CURRENT"), "w") as f:
            f.write("gen-000777")

    with pytest.raises(sink.ConcurrentPublishError, match="_CURRENT moved"):
        sink.publish_generation(root, hostile)
    # the hostile flip wins (this publish must NOT overwrite it) and
    # the lock is released so the store is not wedged
    with open(os.path.join(root, "_CURRENT")) as f:
        assert f.read().strip() == "gen-000777"
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_publish_cas_expected_parent_refuses_lost_update(spark, tmp_path):
    """r14 advisor (medium): the lock serializes the publish WINDOW,
    not the caller's read-compute-publish cycle. Two overlapping runs
    both read gen 1; A publishes gen 2 and releases the lock; B then
    acquires the lock cleanly and would stage gen 3 from its stale
    prev=1 — silently dropping A's delta, with the window-scope CAS
    never firing. expected_parent closes that: B's publish refuses
    BEFORE staging."""
    root = str(tmp_path / "state")
    g1 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day0")
    )

    # writers A and B both capture the same parent (gen 1)
    parent_a = sink.current_generation(root)
    parent_b = sink.current_generation(root)
    assert parent_a == parent_b == g1

    g2 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "dayA"),
        expected_parent=parent_a,
    )
    assert sink.current_generation(root) == g2

    staged = []

    def write_b(d):
        staged.append(d)
        _write_states(spark, d, "dayB")

    with pytest.raises(
        sink.ConcurrentPublishError, match="staged against generation 1"
    ):
        sink.publish_generation(
            root, write_b, expected_parent=parent_b
        )
    # refused BEFORE staging (no wasted write), pointer untouched,
    # lock released — A's delta survives
    assert staged == []
    assert sink.current_generation(root) == g2
    assert all(v == "dayA" for v in _read_tags(spark, g2).values())
    assert not os.path.exists(os.path.join(root, "_LOCK"))

    # B re-reads, recomputes against gen 2, and the publish goes through
    g3 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "dayB2"),
        expected_parent=sink.current_generation(root),
    )
    assert sink.current_generation(root) == g3


def test_publish_expected_parent_none_requires_fresh_root(spark, tmp_path):
    """expected_parent=None asserts 'no generation existed when I
    staged' — a bootstrap against a root that concurrently gained one
    refuses instead of replacing it; on a genuinely fresh root it
    publishes gen 1."""
    root = str(tmp_path / "state")
    g1 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day0"), expected_parent=None
    )
    assert sink.current_generation(root) == g1
    with pytest.raises(sink.ConcurrentPublishError, match="current generation is 1"):
        sink.publish_generation(
            root,
            lambda d: _write_states(spark, d, "rebootstrap"),
            expected_parent=None,
        )
    assert sink.current_generation(root) == g1


def test_publish_expected_parent_must_name_a_gen_of_this_root(
    spark, tmp_path
):
    """r15 advisor finding: expected_parent was validated only by the
    generation NUMBER parsed from its basename — a same-numbered gen-N
    path from a DIFFERENT root satisfied the CAS, and a non-canonical
    name parsed to None and surfaced as a confusing 'staged against
    generation None' refusal. Both are caller bugs → clear ValueError
    before the lock; neither stages nor flips anything."""
    root = str(tmp_path / "state")
    other = str(tmp_path / "other")
    g1 = sink.publish_generation(
        root, lambda d: _write_states(spark, d, "day0")
    )
    og1 = sink.publish_generation(
        other, lambda d: _write_states(spark, d, "other0")
    )

    # same generation NUMBER, different root: must NOT satisfy the CAS
    with pytest.raises(ValueError, match="not a generation of"):
        sink.publish_generation(
            root,
            lambda d: _write_states(spark, d, "bad"),
            expected_parent=og1,
        )
    # non-canonical basename: clear error, not 'generation None'
    with pytest.raises(ValueError, match="does not name a gen-N"):
        sink.publish_generation(
            root,
            lambda d: _write_states(spark, d, "bad"),
            expected_parent=os.path.join(root, "not-a-gen"),
        )
    # pointer untouched, lock released by both refusals
    assert sink.current_generation(root) == g1
    assert sink.current_generation(other) == og1
    assert not os.path.exists(os.path.join(root, "_LOCK"))

    # the legitimate parent (possibly spelled with a trailing slash /
    # relative segments) still publishes
    g2 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "day1"),
        expected_parent=g1 + "/",
    )
    assert sink.current_generation(root) == g2
    # '/.'-spelled parent: validation and the locked CAS must agree on
    # the SAME normalized path (r15 review finding: the raw string
    # re-parsed to gen None at the flip and falsely refused)
    g3 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "day2"),
        expected_parent=g2 + "/.",
    )
    assert sink.current_generation(root) == g3
    # a SYMLINKED generation directory (operator relocated gen dirs to
    # another volume) is still a generation of this root — only the
    # PARENT may be resolved, not the leaf (r15 review finding)
    relocated = str(tmp_path / "bigdisk-gen")
    os.rename(g3, relocated)
    os.symlink(relocated, g3)
    g4 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "day3"),
        expected_parent=g3,
    )
    assert sink.current_generation(root) == g4
    # a BARE generation name means a generation of THIS root — it must
    # publish regardless of the process cwd (r16, r15 advisor finding:
    # dirname('') realpathed to the cwd and falsely failed the root
    # check whenever cwd != root)
    assert os.path.realpath(os.getcwd()) != os.path.realpath(root)
    g5 = sink.publish_generation(
        root,
        lambda d: _write_states(spark, d, "day4"),
        expected_parent=os.path.basename(g4),
    )
    assert sink.current_generation(root) == g5
    # and a bare name from the WRONG root's sequence still refuses via
    # the number CAS (it names a generation of this root by contract)
    with pytest.raises(sink.ConcurrentPublishError):
        sink.publish_generation(
            root,
            lambda d: _write_states(spark, d, "bad"),
            expected_parent=os.path.basename(g1),
        )
    assert sink.current_generation(root) == g5


def test_atomic_dir_publish_swap_and_restore(tmp_path):
    """The dir-swap publish: each publish serves the new contents,
    leaves no ``__staging``/``__old`` behind, and a generation parked
    at ``__old`` (crash between the two renames) is restored before
    re-staging."""
    base = str(tmp_path / "snap")

    def write_v(tag):
        def _w(staging):
            os.makedirs(staging, exist_ok=True)
            with open(os.path.join(staging, "data.txt"), "w") as f:
                f.write(tag)
        return _w

    sink.atomic_dir_publish(base, write_v("v1"))
    with open(os.path.join(base, "data.txt")) as f:
        assert f.read() == "v1"
    # overwrite publish still swaps completely and cleans up
    sink.atomic_dir_publish(base, write_v("v2"))
    with open(os.path.join(base, "data.txt")) as f:
        assert f.read() == "v2"
    assert not os.path.exists(base + "__staging")
    assert not os.path.exists(base + "__old")
    # a run parked at __old (crash between the two renames) is still
    # restored before re-staging
    os.rename(base, base + "__old")
    sink.atomic_dir_publish(base, write_v("v3"))
    with open(os.path.join(base, "data.txt")) as f:
        assert f.read() == "v3"


def test_readers_never_see_torn_state_across_writer_crashes(tmp_path):
    """r14 verdict next #5 (r15): the writer path has failure
    injection at every boundary and real writer-vs-writer contention;
    this fuzzes the READER contract against hard crashes — two reader
    processes resolve ``_CURRENT`` continuously while a writer is
    SIGKILLed at randomized points across the stage/fsync/flip/prune
    window, 25 rounds, seeded. Every read must land on a COMPLETE
    generation (all five state files, one consistent tag); a reader
    that trips an incomplete read re-checks the pointer and fails the
    test ONLY if the generation it read is still current — a vanished
    OLDER generation is the documented ``keep`` pruning window, not a
    torn state. Spark-free (plain-file write_fn), bounded runtime."""
    import multiprocessing as mp
    import random
    import signal
    import time as _t

    root = str(tmp_path / "state")
    stop_flag = str(tmp_path / "stop")
    fail_log = str(tmp_path / "failures")

    def writer_loop():
        from topn_clashroyal_etl_sql_snapshot_spark.sinks import (
            snapshot as s,
        )

        i = 0
        while True:
            i += 1

            def write(d, i=i):
                tag = f"w{os.getpid()}-{i}"
                for k in range(5):
                    with open(os.path.join(d, f"s{k}"), "w") as f:
                        f.write(tag)
                    _t.sleep(0.001)  # widen the kill window mid-stage

            try:
                # keep=3: readers mid-scan get a three-publish grace —
                # the documented retention contract this fuzz asserts
                s.publish_generation(root, write, keep=3, caller="fuzz")
            except s.ConcurrentPublishError:
                _t.sleep(0.002)

    def reader_loop(rid):
        from topn_clashroyal_etl_sql_snapshot_spark.sinks import (
            snapshot as s,
        )

        reads = 0
        while not os.path.exists(stop_flag):
            try:
                gen = s.current_generation(root)
            except ValueError as exc:  # corrupt pointer = torn state
                with open(fail_log, "a") as f:
                    f.write(f"r{rid}: pointer {exc}\n")
                return
            if gen is None:
                continue
            vals = []
            try:
                for k in range(5):
                    with open(os.path.join(gen, f"s{k}")) as f:
                        vals.append(f.read())
            except FileNotFoundError:
                # only acceptable when the generation was PRUNED out
                # from under us — i.e. the pointer has moved on
                if s.current_generation(root) == gen:
                    with open(fail_log, "a") as f:
                        f.write(f"r{rid}: missing file in current {gen}\n")
                    return
                continue
            if len(set(vals)) != 1:
                # mixed tags inside one generation: torn, regardless
                # of pruning (files of one gen are written atomically
                # before the flip)
                with open(fail_log, "a") as f:
                    f.write(f"r{rid}: mixed tags {set(vals)} in {gen}\n")
                return
            reads += 1
        with open(f"{stop_flag}_reads_{rid}", "w") as f:
            f.write(str(reads))

    ctx = mp.get_context("fork")
    readers = [
        ctx.Process(target=reader_loop, args=(rid,)) for rid in range(2)
    ]
    for p in readers:
        p.start()

    rng = random.Random(0xC0FFEE)
    try:
        for _ in range(25):
            w = ctx.Process(target=writer_loop)
            w.start()
            # randomized kill point: spans first-publish staging,
            # fsync, flip, pruning, and multi-publish steady state
            _t.sleep(rng.uniform(0.003, 0.15))
            os.kill(w.pid, signal.SIGKILL)
            w.join(timeout=30)
    finally:
        with open(stop_flag, "w") as f:
            f.write("stop")
        for p in readers:
            p.join(timeout=60)

    assert not os.path.exists(fail_log), open(fail_log).read()
    for p in readers:
        assert p.exitcode == 0
    # the fuzz exercised real reads (at least one generation published
    # and both readers resolved it repeatedly)
    totals = [
        int(open(f"{stop_flag}_reads_{rid}").read()) for rid in range(2)
    ]
    assert all(t > 0 for t in totals), totals
    # and the store is still advanceable after the last hard kill: a
    # fresh publish breaks any stale lock and lands complete
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as s

    def final(d):
        for k in range(5):
            with open(os.path.join(d, f"s{k}"), "w") as f:
                f.write("final")

    g = s.publish_generation(root, final, keep=3, caller="fuzz-final")
    assert s.current_generation(root) == g
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_publish_lock_under_real_contention(tmp_path):
    """Four processes each retry-publishing five deltas into ONE root
    concurrently (plain-file write_fn — the lock protocol is
    Spark-free). The contract under contention: every publish that
    RETURNED is serialized — its generation is complete and was built
    on the then-current parent — and the final pointer names the last
    committed generation with no interleaved/lost writes. Writers see
    ConcurrentPublishError and retry; none ever observes a torn
    state."""
    import multiprocessing as mp

    root = str(tmp_path / "state")

    def worker(wid, out):
        import time as _t

        from topn_clashroyal_etl_sql_snapshot_spark.sinks import (
            snapshot as s,
        )

        committed = []
        for i in range(5):
            while True:
                def write(d, wid=wid, i=i):
                    # simulate a slow multi-file state write
                    for part in range(3):
                        with open(
                            os.path.join(d, f"w{wid}-d{i}-p{part}"), "w"
                        ) as f:
                            f.write("x")
                        _t.sleep(0.002)

                try:
                    g = s.publish_generation(root, write, keep=100)
                except s.ConcurrentPublishError:
                    _t.sleep(0.005)
                    continue
                committed.append(os.path.basename(g))
                break
        out.put((wid, committed))

    # plant a STALE lock (dead pid) before the stampede: the workers
    # race the takeover too — exactly one may win each break, and no
    # break may delete another worker's live lock (the r13 rename
    # protocol; an unlink-then-create break admitted two publishers)
    import subprocess

    os.makedirs(root, exist_ok=True)
    dead = subprocess.Popen(["sleep", "0"])
    dead.wait()
    with open(os.path.join(root, "_LOCK"), "w") as f:
        f.write(f"{dead.pid} crashed-publisher")

    q = mp.get_context("fork").Queue()
    procs = [
        mp.get_context("fork").Process(target=worker, args=(w, q))
        for w in range(4)
    ]
    for p in procs:
        p.start()
    results = [q.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0
    committed = [g for _, gs in results for g in gs]
    # 20 publishes returned success: 20 DISTINCT generations — no two
    # writers ever think they committed the same generation number
    assert len(committed) == 20 and len(set(committed)) == 20
    # every committed generation that survived pruning is COMPLETE
    # (all 3 parts of exactly one (writer, delta)) — no interleaving
    for gen in sorted(set(committed)):
        gd = os.path.join(root, gen)
        if not os.path.exists(gd):
            continue  # pruned by a later publish's keep window
        files = sorted(os.listdir(gd))
        stems = {f.rsplit("-p", 1)[0] for f in files}
        assert len(stems) == 1 and len(files) == 3, (gen, files)
    # the pointer names the highest committed generation and no lock
    # is left behind
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as s

    cur = s.current_generation(root)
    assert os.path.basename(cur) == max(committed)
    assert not os.path.exists(os.path.join(root, "_LOCK"))
