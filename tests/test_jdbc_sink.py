"""JDBC sink round-trip against embedded Derby (ships with Spark).

Exercises ``write_snapshot_jdbc`` — the mirror of the reference's
Postgres load (scripts/etl_snapshot_topn.py:363-527) — end-to-end:
write, read back, overwrite again (TRUNCATE+RELOAD semantics), read
back again.
"""

from __future__ import annotations

from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as sink

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _read(spark, url, table):
    return (
        spark.read.format("jdbc")
        .options(url=url, dbtable=table, driver=DRIVER)
        .load()
    )


def test_jdbc_roundtrip_and_overwrite(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/snapdb;create=true"
    props = {"driver": DRIVER}

    v1 = spark.createDataFrame(
        [("Siege", 10, 4), ("Bait", 7, 5)],
        "deck_type string, uses long, wins long",
    )
    sink.write_snapshot_jdbc({"meta_deck_types": v1}, url, properties=props)
    back = _read(spark, url, "meta_deck_types")
    assert sorted(tuple(r) for r in back.collect()) == [
        ("Bait", 7, 5),
        ("Siege", 10, 4),
    ]

    # overwrite ≡ TRUNCATE + RELOAD: second snapshot fully replaces the
    # first (no residue rows, new values visible)
    v2 = spark.createDataFrame(
        [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
    )
    sink.write_snapshot_jdbc({"meta_deck_types": v2}, url, properties=props)
    back2 = _read(spark, url, "meta_deck_types")
    assert [tuple(r) for r in back2.collect()] == [("Cycle", 3, 1)]


def test_publish_snapshot_to_second_database(spark, tmp_path):
    """A7 cloud publish: local DB → second DB (Derby → Derby stands in
    for local Postgres → cloud Postgres). Every table arrives intact,
    re-publish overwrites (the dump's DROP+CREATE+COPY semantics), and
    the returned row accounting matches."""
    local = f"jdbc:derby:{tmp_path}/localdb;create=true"
    cloud = f"jdbc:derby:{tmp_path}/clouddb;create=true"
    props = {"driver": DRIVER}

    t1 = spark.createDataFrame(
        [("Siege", 10, 4), ("Bait", 7, 5)],
        "deck_type string, uses long, wins long",
    )
    t2 = spark.createDataFrame(
        [("p1", 3), ("p2", 9)], "player_tag string, battles long"
    )
    sink.write_snapshot_jdbc(
        {"meta_deck_types": t1, "player_summary": t2}, local, properties=props
    )

    counts = sink.publish_snapshot_jdbc(
        spark,
        local,
        cloud,
        ["meta_deck_types", "player_summary"],
        source_properties=props,
        target_properties=props,
    )
    assert counts == {"meta_deck_types": 2, "player_summary": 2}
    got = _read(spark, cloud, "meta_deck_types")
    assert sorted(tuple(r) for r in got.collect()) == [
        ("Bait", 7, 5),
        ("Siege", 10, 4),
    ]

    # re-publish after the local snapshot changed: target fully replaced
    sink.write_snapshot_jdbc(
        {"meta_deck_types": spark.createDataFrame(
            [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
        )},
        local,
        properties=props,
    )
    sink.publish_snapshot_jdbc(
        spark, local, cloud, ["meta_deck_types"],
        source_properties=props, target_properties=props,
    )
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Cycle", 3, 1)
    ]


def test_publish_warehouse_to_database(spark, tmp_path):
    """Parquet warehouse → serving DB publish (the lake-resident
    snapshot shape)."""
    wh = str(tmp_path / "wh")
    df = spark.createDataFrame(
        [("Siege", 10, 4)], "deck_type string, uses long, wins long"
    )
    sink.write_snapshot({"meta_deck_types": df}, wh)
    cloud = f"jdbc:derby:{tmp_path}/clouddb2;create=true"
    counts = sink.publish_warehouse_jdbc(
        spark, wh, cloud, ["meta_deck_types"],
        target_properties={"driver": DRIVER},
    )
    assert counts == {"meta_deck_types": 1}
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Siege", 10, 4)
    ]


def test_publish_with_partitioned_source_read(spark, tmp_path):
    """The documented parallel-read path: Spark JDBC partitioning
    options passed through source_properties produce a multi-partition
    source read and an identical published result."""
    local = f"jdbc:derby:{tmp_path}/plocal;create=true"
    cloud = f"jdbc:derby:{tmp_path}/pcloud;create=true"
    props = {"driver": DRIVER}

    rows = [(i, f"p{i % 7}", i * 10) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, tag string, v long")
    sink.write_snapshot_jdbc({"wide_table": df}, local, properties=props)

    # partitioned read reaches the executors in 4 slices
    part_props = {
        **props,
        "partitionColumn": "id",
        "lowerBound": "0",
        "upperBound": "50",
        "numPartitions": "4",
    }
    src = (
        spark.read.format("jdbc")
        .options(url=local, dbtable="wide_table", **part_props)
        .load()
    )
    assert src.rdd.getNumPartitions() == 4

    counts = sink.publish_snapshot_jdbc(
        spark, local, cloud, ["wide_table"],
        source_properties=part_props, target_properties=props,
    )
    assert counts == {"wide_table": 50}
    got = sorted(tuple(r) for r in _read(spark, cloud, "wide_table").collect())
    assert got == sorted(rows)


def _index_names(spark, url, table):
    conn = sink._jdbc_connect(spark, url, {"driver": DRIVER})
    try:
        rs = conn.getMetaData().getIndexInfo(None, None, table.upper(), False, False)
        names = set()
        while rs.next():
            n = rs.getString("INDEX_NAME")
            if n:
                names.add(n)
        rs.close()
        return names
    finally:
        conn.close()


def test_truncate_publish_preserves_target_ddl(spark, tmp_path):
    """The r9-verdict gap: bare overwrite DROPs the serving table and
    re-creates it from the DataFrame schema, stripping the indexes the
    reference's dashboard relies on (db/schema.sql:159-180). With the
    default truncate=True the publish is TRUNCATE + INSERT (the
    reference's scripts/etl_snapshot_topn.py:162-182 semantics) and a
    target-side index survives two consecutive publishes."""
    local = f"jdbc:derby:{tmp_path}/tlocal;create=true"
    cloud = f"jdbc:derby:{tmp_path}/tcloud;create=true"
    props = {"driver": DRIVER}

    v1 = spark.createDataFrame(
        [("Siege", 10, 4), ("Bait", 7, 5)],
        "deck_type string, uses long, wins long",
    )
    sink.write_snapshot_jdbc({"meta_deck_types": v1}, local, properties=props)
    # first publish creates the target table; then DBA adds an index
    sink.publish_snapshot_jdbc(
        spark, local, cloud, ["meta_deck_types"],
        source_properties=props, target_properties=props,
    )
    conn = sink._jdbc_connect(spark, cloud, props)
    try:
        st = conn.createStatement()
        # Spark's JDBC writer quotes column identifiers (case-sensitive)
        # and maps strings to CLOB (unindexable in Derby) — index "uses"
        st.executeUpdate(
            'CREATE INDEX idx_mdt_uses ON meta_deck_types ("uses")'
        )
        st.close()
    finally:
        conn.close()
    assert "IDX_MDT_USES" in _index_names(spark, cloud, "meta_deck_types")

    # two more publishes (changed data) — index must survive both
    sink.write_snapshot_jdbc(
        {"meta_deck_types": spark.createDataFrame(
            [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
        )},
        local, properties=props,
    )
    for _ in range(2):
        counts = sink.publish_snapshot_jdbc(
            spark, local, cloud, ["meta_deck_types"],
            source_properties=props, target_properties=props,
        )
    assert counts == {"meta_deck_types": 1}
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Cycle", 3, 1)
    ]
    assert "IDX_MDT_USES" in _index_names(spark, cloud, "meta_deck_types")


def test_publish_rejects_same_source_and_target(spark, tmp_path):
    """source_url == target_url would truncate the lazily-read source
    before it materializes — publishing the table into oblivion. Must
    refuse up front (advisor finding, r9)."""
    import pytest

    url = f"jdbc:derby:{tmp_path}/samedb;create=true"
    with pytest.raises(ValueError, match="same database"):
        sink.publish_snapshot_jdbc(spark, url, url, ["t"])
    with pytest.raises(ValueError, match="same database"):
        sink.publish_snapshot_jdbc_atomic(spark, url, url, ["t"])
    # r11: the guard also catches non-byte-equal spellings of the same
    # network database (case / default port / parameter order)
    with pytest.raises(ValueError, match="same database"):
        sink.publish_snapshot_jdbc(
            spark,
            "jdbc:postgresql://db.example.com:5432/snap?user=a",
            "jdbc:POSTGRESQL://DB.EXAMPLE.COM/snap?user=b",
            ["t"],
        )


def test_atomic_publish_swaps_all_or_nothing(spark, tmp_path):
    """Stage-and-swap publish: (a) happy path lands both tables and
    drops the staging/old generations; (b) a failure after table 1 has
    staged (table 2 missing at the source) leaves the serving set the
    complete OLD snapshot — the reference's one-transaction guarantee
    (scripts/etl_snapshot_topn.py:363-364)."""
    import pytest

    local = f"jdbc:derby:{tmp_path}/alocal;create=true"
    cloud = f"jdbc:derby:{tmp_path}/acloud;create=true"
    props = {"driver": DRIVER}

    t1 = spark.createDataFrame(
        [("Siege", 10, 4)], "deck_type string, uses long, wins long"
    )
    t2 = spark.createDataFrame([("p1", 3)], "player_tag string, battles long")
    sink.write_snapshot_jdbc(
        {"meta_deck_types": t1, "player_summary": t2}, local, properties=props
    )

    counts = sink.publish_snapshot_jdbc_atomic(
        spark, local, cloud, ["meta_deck_types", "player_summary"],
        source_properties=props, target_properties=props,
    )
    assert counts == {"meta_deck_types": 1, "player_summary": 1}
    # no staging/old residue
    conn = sink._jdbc_connect(spark, cloud, props)
    try:
        for leftover in (
            "meta_deck_types__stage", "meta_deck_types__old",
            "player_summary__stage", "player_summary__old",
        ):
            assert not sink._table_exists(conn, leftover), leftover
    finally:
        conn.close()

    # now mutate the source AND publish with a missing second table:
    # the staging read for table 2 fails, so the swap never runs and
    # the serving tables still hold the complete OLD snapshot
    sink.write_snapshot_jdbc(
        {"meta_deck_types": spark.createDataFrame(
            [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
        )},
        local, properties=props,
    )
    with pytest.raises(Exception):
        sink.publish_snapshot_jdbc_atomic(
            spark, local, cloud, ["meta_deck_types", "no_such_table"],
            source_properties=props, target_properties=props,
        )
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Siege", 10, 4)
    ]
    assert [tuple(r) for r in _read(spark, cloud, "player_summary").collect()] == [
        ("p1", 3)
    ]

    # a later successful publish recovers cleanly despite the leftover
    # __stage table from the aborted attempt
    counts = sink.publish_snapshot_jdbc_atomic(
        spark, local, cloud, ["meta_deck_types", "player_summary"],
        source_properties=props, target_properties=props,
    )
    assert counts == {"meta_deck_types": 1, "player_summary": 1}
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Cycle", 3, 1)
    ]


def test_write_snapshot_atomic_parquet_swap_and_failure(spark, tmp_path):
    """Parquet stage-and-swap: a failure while staging table 2 leaves
    the serving directory the complete OLD snapshot (both tables, old
    values); a successful publish replaces everything and clears the
    staging/old directories. The tables stage concurrently, so a
    failure in the FIRST table while a larger sibling still writes
    must wait for that sibling before raising."""
    import os

    import pytest
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    old_tables = {
        "meta_deck_types": spark.createDataFrame(
            [("Siege", 10, 4)], "deck_type string, uses long, wins long"
        ),
        "player_summary": spark.createDataFrame(
            [("p1", 3)], "player_tag string, battles long"
        ),
    }
    sink.write_snapshot_atomic(old_tables, wh)
    assert sorted(os.listdir(wh)) == ["meta_deck_types", "player_summary"]

    # table 2 explodes at write time (assert_true fails per-row) —
    # serving dir must remain byte-identical to the old snapshot
    boom = spark.range(1).select(
        F.col("id").alias("battles"),
        F.assert_true(F.col("id") < 0).cast("string").alias("player_tag"),
    )
    with pytest.raises(Exception):
        sink.write_snapshot_atomic(
            {
                "meta_deck_types": spark.createDataFrame(
                    [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
                ),
                "player_summary": boom,
            },
            wh,
        )
    assert [
        tuple(r)
        for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Siege", 10, 4)]
    assert [
        tuple(r) for r in spark.read.parquet(f"{wh}/player_summary").collect()
    ] == [("p1", 3)]

    # successful publish (recovers over the leftover staging dir)
    sink.write_snapshot_atomic(
        {
            "meta_deck_types": spark.createDataFrame(
                [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
            ),
            "player_summary": spark.createDataFrame(
                [("p2", 9)], "player_tag string, battles long"
            ),
        },
        wh,
    )
    assert [
        tuple(r)
        for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Cycle", 3, 1)]
    assert not os.path.exists(wh + "__staging")
    assert not os.path.exists(wh + "__old")

    # concurrent staging: the failing table comes FIRST and a larger
    # sibling is still writing when it fails (each of its two tasks
    # sleeps 1 s before writing 100k rows). The publish must raise only
    # once no job is active, with the sibling's staged table complete,
    # and leave the serving directory on the previous snapshot.
    import time

    nap = F.udf(lambda x: (time.sleep(1.0) if x % 100_000 == 0 else None) or x,
                "long")
    sibling = spark.range(0, 200_000, 1, 2).select(
        F.lit("p3").alias("player_tag"), nap("id").alias("battles")
    )
    boom_first = spark.range(1).select(
        F.assert_true(F.col("id") < 0).cast("string").alias("deck_type"),
        F.col("id").alias("uses"),
        F.col("id").alias("wins"),
    )
    sc = spark.sparkContext
    with pytest.raises(Exception):
        sink.write_snapshot_atomic(
            {"meta_deck_types": boom_first, "player_summary": sibling}, wh
        )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getActiveJobsIds() == []
    assert os.path.exists(f"{wh}__staging/player_summary/_SUCCESS")
    assert [
        tuple(r)
        for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Cycle", 3, 1)]
    assert [
        tuple(r) for r in spark.read.parquet(f"{wh}/player_summary").collect()
    ] == [("p2", 9)]

    # the next publish stages over the leftover staging directory
    sink.write_snapshot_atomic(
        {
            "meta_deck_types": spark.createDataFrame(
                [("Hog", 5, 2)], "deck_type string, uses long, wins long"
            ),
            "player_summary": spark.createDataFrame(
                [("p4", 1)], "player_tag string, battles long"
            ),
        },
        wh,
    )
    assert [
        tuple(r)
        for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Hog", 5, 2)]
    assert [
        tuple(r) for r in spark.read.parquet(f"{wh}/player_summary").collect()
    ] == [("p4", 1)]
    assert not os.path.exists(wh + "__staging")
    assert not os.path.exists(wh + "__old")


def _all_job_ids(spark) -> set[int]:
    """Every job id the status store holds, after draining the listener
    bus that fills it."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


def test_write_snapshot_jobs_inherit_caller_job_group(spark, tmp_path):
    """The concurrent publish runs each table's write on a pool thread;
    every job it starts must still carry the CALLER's job group (the
    handle for cancelJobGroup and for per-span job attribution), which
    a plain thread pool loses."""
    tables = {
        name: spark.createDataFrame(
            [(name, i)], "deck_type string, uses long"
        )
        for i, name in enumerate(("deck_types", "decks", "cards"))
    }
    sc = spark.sparkContext
    before = _all_job_ids(spark)
    sc.setJobGroup("publish-attribution", "write_snapshot_atomic")
    try:
        sink.write_snapshot_atomic(tables, str(tmp_path / "wh"))
    finally:
        sc.setJobGroup(None, None)
    started = _all_job_ids(spark) - before
    in_group = set(sc.statusTracker().getJobIdsForGroup("publish-attribution"))
    assert len(started) > 1, started
    assert started <= in_group, started - in_group


def test_atomic_publish_rolls_back_mid_transaction(spark, tmp_path):
    """Failure INSIDE the rename transaction (not just while staging):
    Derby refuses to rename a table referenced by a view, so with a
    view pinned on the SECOND table the first table's rename succeeds
    and the second's throws — the rollback must restore the first
    table too, leaving the serving set the complete old snapshot."""
    import pytest

    local = f"jdbc:derby:{tmp_path}/rlocal;create=true"
    cloud = f"jdbc:derby:{tmp_path}/rcloud;create=true"
    props = {"driver": DRIVER}

    t1 = spark.createDataFrame(
        [("Siege", 10, 4)], "deck_type string, uses long, wins long"
    )
    t2 = spark.createDataFrame([("p1", 3)], "player_tag string, battles long")
    sink.write_snapshot_jdbc(
        {"meta_deck_types": t1, "player_summary": t2}, local, properties=props
    )
    sink.publish_snapshot_jdbc_atomic(
        spark, local, cloud, ["meta_deck_types", "player_summary"],
        source_properties=props, target_properties=props,
    )

    # pin player_summary with a view → its rename will fail mid-txn
    conn = sink._jdbc_connect(spark, cloud, props)
    try:
        st = conn.createStatement()
        st.executeUpdate(
            'CREATE VIEW ps_view AS SELECT "player_tag" FROM player_summary'
        )
        st.close()
    finally:
        conn.close()

    # change the source so a half-applied swap would be visible
    sink.write_snapshot_jdbc(
        {"meta_deck_types": spark.createDataFrame(
            [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
        ), "player_summary": spark.createDataFrame(
            [("p2", 9)], "player_tag string, battles long"
        )},
        local, properties=props,
    )
    with pytest.raises(Exception):
        sink.publish_snapshot_jdbc_atomic(
            spark, local, cloud, ["meta_deck_types", "player_summary"],
            source_properties=props, target_properties=props,
        )
    # BOTH serving tables still hold the old snapshot — including
    # meta_deck_types, whose rename had succeeded before the rollback
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Siege", 10, 4)
    ]
    assert [tuple(r) for r in _read(spark, cloud, "player_summary").collect()] == [
        ("p1", 3)
    ]


def test_atomic_warehouse_publish(spark, tmp_path):
    """Parquet-lake → serving DB with the one-transaction swap: both
    tables land, a staging failure (missing warehouse table) leaves
    the full old snapshot serving."""
    import pytest

    wh = str(tmp_path / "awh")
    cloud = f"jdbc:derby:{tmp_path}/awcloud;create=true"
    props = {"driver": DRIVER}
    sink.write_snapshot(
        {
            "meta_deck_types": spark.createDataFrame(
                [("Siege", 10, 4)], "deck_type string, uses long, wins long"
            ),
            "player_summary": spark.createDataFrame(
                [("p1", 3)], "player_tag string, battles long"
            ),
        },
        wh,
    )
    counts = sink.publish_warehouse_jdbc_atomic(
        spark, wh, cloud, ["meta_deck_types", "player_summary"],
        target_properties=props,
    )
    assert counts == {"meta_deck_types": 1, "player_summary": 1}

    with pytest.raises(Exception):
        sink.publish_warehouse_jdbc_atomic(
            spark, wh, cloud, ["meta_deck_types", "no_such_table"],
            target_properties=props,
        )
    assert [tuple(r) for r in _read(spark, cloud, "meta_deck_types").collect()] == [
        ("Siege", 10, 4)
    ]
    assert [tuple(r) for r in _read(spark, cloud, "player_summary").collect()] == [
        ("p1", 3)
    ]


def test_table_exists_escapes_like_wildcards():
    """JDBC metadata table patterns treat _ as a single-char wildcard.
    On drivers WITH a search-string escape (Postgres), _table_exists
    must escape the name so player_summary doesn't match a 14-char
    lookalike; on drivers with an EMPTY escape string (embedded
    Derby), injecting an escape would turn every name into a
    non-match, so the raw pattern passes through and the returned
    TABLE_NAMEs are compared exactly instead (r10 advisor finding: a
    lookalike pattern hit used to produce a phantom existence
    verdict). Pinned with a fake connection that implements LIKE
    semantics over real table names and captures the patterns
    issued."""
    import re

    def _like_rx(pattern, esc):
        out, i = [], 0
        while i < len(pattern):
            c = pattern[i]
            if esc and c == esc and i + 1 < len(pattern):
                out.append(re.escape(pattern[i + 1]))
                i += 2
                continue
            out.append("." if c == "_" else ".*" if c == "%" else re.escape(c))
            i += 1
        return re.compile("".join(out))

    class _FakeRS:
        def __init__(self, names):
            self._names = list(names)
            self._cur = None

        def next(self):
            if self._names:
                self._cur = self._names.pop(0)
                return True
            return False

        def getString(self, col):
            assert col == "TABLE_NAME"
            return self._cur

        def close(self):
            pass

    class _FakeMeta:
        def __init__(self, esc, existing):
            self._esc = esc
            self._existing = existing
            self.patterns = []

        def getSearchStringEscape(self):
            return self._esc

        def getTables(self, cat, schema, pattern, types):
            self.patterns.append(pattern)
            rx = _like_rx(pattern, self._esc)
            return _FakeRS(
                n for n in self._existing if rx.fullmatch(n)
            )

    class _FakeConn:
        def __init__(self, meta):
            self._meta = meta

        def getMetaData(self):
            return self._meta

    # escaping driver: the issued pattern carries escaped underscores;
    # the real table matches, the same-length lookalike cannot
    meta = _FakeMeta("\\", {"META_DECK_TYPES", "METAXDECKXTYPES"})
    assert sink._table_exists(_FakeConn(meta), "meta_deck_types")
    assert all("\\_" in p for p in meta.patterns)
    meta2 = _FakeMeta("\\", {"METAXDECKXTYPES"})
    assert not sink._table_exists(_FakeConn(meta2), "meta_deck_types")

    # empty-escape driver (Derby): raw pattern passes through, and the
    # exact-name comparison rejects the lookalike the lax pattern hits
    meta3 = _FakeMeta("", {"META_DECK_TYPES"})
    assert sink._table_exists(_FakeConn(meta3), "meta_deck_types")
    assert all("\\" not in p for p in meta3.patterns)
    meta4 = _FakeMeta("", {"PLAYERXSUMMARYXXOLD"})
    assert not sink._table_exists(_FakeConn(meta4), "player_summary__old")


def test_table_exists_rejects_lookalike_on_real_derby(spark, tmp_path):
    """Live-Derby twin of the fake-connection pin: with only the
    lookalike PLAYERXSUMMARYXXOLD present, _table_exists must say
    player_summary__old does NOT exist (before the r11 fix, Derby's
    empty LIKE escape left _ a wildcard and the phantom hit sent the
    swap a DROP/RENAME of a missing table); creating the real table
    flips the verdict."""
    url = f"jdbc:derby:{tmp_path}/lookdb;create=true"
    props = {"driver": DRIVER}
    conn = sink._jdbc_connect(spark, url, props)
    try:
        stmt = conn.createStatement()
        stmt.executeUpdate("CREATE TABLE playerXsummaryXXold (i INT)")
        assert not sink._table_exists(conn, "player_summary__old")
        stmt.executeUpdate("CREATE TABLE player_summary__old (i INT)")
        assert sink._table_exists(conn, "player_summary__old")
        stmt.close()
    finally:
        conn.close()


def test_same_jdbc_target_normalization():
    """The self-clobber guard catches same-database URLs that are not
    byte-equal: case, default-port elision, and parameter order all
    normalize for network URLs; embedded Derby URLs compare by bytes;
    genuinely different hosts/databases/engines stay allowed."""
    same = sink._same_jdbc_target
    base = "jdbc:postgresql://db.example.com:5432/snap"
    assert same(base, base)
    assert same(base, "jdbc:POSTGRESQL://DB.EXAMPLE.COM:5432/snap")
    assert same(base, "jdbc:postgresql://db.example.com/snap")  # default port
    assert same(
        "jdbc:postgresql://h/snap?user=a&sslmode=require",
        "jdbc:postgresql://h/snap?sslmode=disable&user=b",
    )  # params never make two same-db URLs distinct
    assert not same(base, "jdbc:postgresql://db.example.com:5432/other")
    assert not same(base, "jdbc:postgresql://db2.example.com:5432/snap")
    assert not same(base, "jdbc:postgresql://db.example.com:5433/snap")
    assert not same(base, "jdbc:mysql://db.example.com:5432/snap")
    # embedded URLs: byte comparison only (path IS the identity)
    assert same("jdbc:derby:/tmp/a", "jdbc:derby:/tmp/a")
    assert not same("jdbc:derby:/tmp/a", "jdbc:derby:/tmp/A")
    # semicolon-property URLs (SQL Server form): the port segment does
    # not parse as an integer — must fall back to byte comparison, not
    # crash the guard (r11 review finding)
    ss = "jdbc:sqlserver://host:1433;databaseName=src"
    assert same(ss, ss)
    assert not same(ss, "jdbc:sqlserver://host:1433;databaseName=dst")


def test_atomic_publish_validates_names_before_staging(spark, tmp_path):
    """The identifier guard must refuse BEFORE step 1 stages anything:
    a bad name in the table list leaves the target database completely
    untouched (r11 review finding — validation used to run only inside
    the swap, after every table had already been copied and the raw
    name interpolated into staging DDL)."""
    import pytest

    local = f"jdbc:derby:{tmp_path}/vlocal;create=true"
    cloud = f"jdbc:derby:{tmp_path}/vcloud;create=true"
    props = {"driver": DRIVER}
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    sink.write_snapshot_jdbc({"t_good": df}, local, properties=props)

    with pytest.raises(ValueError, match="simple SQL identifier"):
        sink.publish_snapshot_jdbc_atomic(
            spark, local, cloud,
            ["t_good", 'bad"; DROP TABLE x'],
            source_properties=props, target_properties=props,
        )
    # nothing staged: not even the good table's __stage exists
    conn = sink._jdbc_connect(spark, cloud, props)
    try:
        assert not sink._table_exists(conn, "t_good__stage")
        assert not sink._table_exists(conn, "t_good")
    finally:
        conn.close()


def test_atomic_publish_dialect_default_and_identifier_guard(spark, tmp_path):
    """rename_fmt=None resolves per target subprotocol (Postgres gets
    transactional ALTER TABLE ... RENAME TO, Derby/MySQL the RENAME
    TABLE form), and the swap refuses non-identifier table names
    BEFORE touching the target (they are interpolated into DDL
    unquoted)."""
    assert (
        sink._rename_fmt_for("jdbc:postgresql://h:5432/db")
        == "ALTER TABLE {src} RENAME TO {dst}"
    )
    for u in ("jdbc:derby:/tmp/x", "jdbc:mysql://h/db"):
        assert sink._rename_fmt_for(u) == "RENAME TABLE {src} TO {dst}"

    import pytest

    with pytest.raises(ValueError, match="simple SQL identifier"):
        sink._swap_staged_tables(
            spark,
            f"jdbc:derby:{tmp_path}/never;create=true",
            ["ok_name", "bad-name; DROP TABLE x"],
            {"driver": DRIVER},
            None,
        )


def test_atomic_publish_against_postgres_if_available(spark):
    """Env-gated full stage-swap-rollback cycle against a REAL
    Postgres (the engine the reference's publish actually targets —
    docker-compose.yml:3): set POSTGRES_TEST_URL to a reachable
    ``jdbc:postgresql://...`` URL (plus POSTGRES_TEST_USER/PASSWORD if
    needed) to run; skips otherwise — this container ships no
    Postgres. Covers: transactional ALTER TABLE rename (the dialect
    default), DDL survival through a truncate publish, and the
    all-or-nothing swap with a planted failure."""
    import os

    import pytest

    url = os.environ.get("POSTGRES_TEST_URL")
    if not url:
        pytest.skip("POSTGRES_TEST_URL not set — no Postgres reachable")
    props = {"driver": "org.postgresql.Driver"}
    if os.environ.get("POSTGRES_TEST_USER"):
        props["user"] = os.environ["POSTGRES_TEST_USER"]
    if os.environ.get("POSTGRES_TEST_PASSWORD"):
        props["password"] = os.environ["POSTGRES_TEST_PASSWORD"]

    conn = sink._jdbc_connect(spark, url, props)
    try:
        stmt = conn.createStatement()
        for t in (
            "pgt_a", "pgt_a__stage", "pgt_a__old",
            "pgt_b", "pgt_b__stage", "pgt_b__old",
        ):
            stmt.executeUpdate(f"DROP TABLE IF EXISTS {t}")
        stmt.close()
    finally:
        conn.close()

    v1a = spark.createDataFrame([(1, "x")], "id long, v string")
    v1b = spark.createDataFrame([(2, "y")], "id long, v string")
    sink.write_snapshot_jdbc({"pgt_a": v1a, "pgt_b": v1b}, url, properties=props)

    # stage + swap through the dialect default (ALTER TABLE RENAME)
    v2a = spark.createDataFrame([(10, "xx")], "id long, v string")
    v2b = spark.createDataFrame([(20, "yy")], "id long, v string")
    sink.write_snapshot_jdbc(
        {"pgt_a__stage": v2a, "pgt_b__stage": v2b},
        url,
        properties=props,
        truncate=False,
    )
    counts = sink._swap_staged_tables(
        spark, url, ["pgt_a", "pgt_b"], props, None
    )
    assert counts == {"pgt_a": 1, "pgt_b": 1}
    got = _read(spark, url, "pgt_a").collect()
    assert [tuple(r) for r in got] == [(10, "xx")]

    # rollback: stage only pgt_a, ask to swap both — the missing
    # pgt_b__stage fails the transaction and pgt_a must stay v2
    v3a = spark.createDataFrame([(100, "z")], "id long, v string")
    sink.write_snapshot_jdbc(
        {"pgt_a__stage": v3a}, url, properties=props, truncate=False
    )
    import pytest as _p

    with _p.raises(Exception):
        sink._swap_staged_tables(
            spark, url, ["pgt_a", "pgt_b"], props, None
        )
    got2 = _read(spark, url, "pgt_a").collect()
    assert [tuple(r) for r in got2] == [(10, "xx")]  # rolled back


def test_write_snapshot_atomic_recovers_parked_old_snapshot(spark, tmp_path):
    """Crash-between-renames recovery (r10 review finding): if a prior
    run died after current→__old but before staging→current, __old
    holds the ONLY complete snapshot. The next run must restore it to
    serving BEFORE re-staging (never delete it), and a non-local
    warehouse_dir must be rejected up front rather than failing after
    the full staging write."""
    import os

    import pytest

    wh = str(tmp_path / "recwh")
    v1 = {
        "meta_deck_types": spark.createDataFrame(
            [("Siege", 10, 4)], "deck_type string, uses long, wins long"
        ),
    }
    sink.write_snapshot_atomic(v1, wh)
    # simulate the crash window: serving dir renamed away, no staging
    os.rename(wh, wh + "__old")
    assert not os.path.exists(wh)

    v2 = {
        "meta_deck_types": spark.createDataFrame(
            [("Cycle", 3, 1)], "deck_type string, uses long, wins long"
        ),
    }
    sink.write_snapshot_atomic(v2, wh)
    assert [
        tuple(r) for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Cycle", 3, 1)]
    assert not os.path.exists(wh + "__old")

    # and the parked snapshot survives a FAILED re-staging: park again,
    # then stage a table that explodes — __old must still be restored
    # to serving (the restore happens before staging)
    from pyspark.sql import functions as F

    os.rename(wh, wh + "__old")
    boom = spark.range(1).select(
        F.col("id").alias("uses"),
        F.assert_true(F.col("id") < 0).cast("string").alias("deck_type"),
    )
    with pytest.raises(Exception):
        sink.write_snapshot_atomic({"meta_deck_types": boom}, wh)
    assert [
        tuple(r) for r in spark.read.parquet(f"{wh}/meta_deck_types").collect()
    ] == [("Cycle", 3, 1)]

    with pytest.raises(ValueError, match="non-local"):
        sink.write_snapshot_atomic(v2, "hdfs://nn/wh")
