"""End-to-end pipeline test: Spark snapshot ETL vs the pure-Python oracle,
table-for-table, plus the G1-G6 invariant suite."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline, validate
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
    BATTLE_SCHEMA,
    CARD_METADATA_SCHEMA,
    LEADERBOARD_SCHEMA,
    OVERRIDES_SCHEMA,
)

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
    CATALOG_ROWS,
    generate_fixture,
    make_battle,
    make_deck,
    oracle_etl,
    py_deck_hash_from_cards,
)

TOP_N = 5


def _build(spark, leaderboard, battles, overrides, top_n=TOP_N):
    if not isinstance(leaderboard, DataFrame):
        leaderboard = spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA)
    return pipeline.build_snapshot(
        spark,
        battles=spark.createDataFrame(battles, BATTLE_SCHEMA),
        leaderboard=leaderboard,
        catalog=spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA),
        overrides=spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
        top_n=top_n,
    )


@pytest.fixture(scope="module")
def snapshot(spark):
    leaderboard, battles, overrides = generate_fixture()
    result = _build(spark, leaderboard, battles, overrides)
    oracle = oracle_etl(leaderboard, battles, overrides, TOP_N)
    return result, oracle


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_counters(spark, snapshot):
    """All five E7 counters equal the oracle's and are plain values
    observed during the build: reading them starts no Spark job."""
    result, oracle = snapshot
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("read_counters", "reading result.counters")
    try:
        got = dict(result.counters)
        assert tracker.getJobIdsForGroup("read_counters") == []
        # the probe does see a job started in its group
        spark.range(1).count()
        assert tracker.getJobIdsForGroup("read_counters")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == oracle["counters"]
    assert got["scanned_entries"] >= got["ranked_1v1"] >= got["deduped_matches"]
    assert got["deduped_matches"] >= got["valid_battles"]
    # the streaming-visible subset (parseable battleTime) can't exceed
    # the batch dedup count
    assert got["deduped_matches"] >= got["stream_deduped_matches"]


def test_player_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["player"], ["player_tag", "player_name", "trophies", "rank_global"])
    want = sorted(
        (p["player_tag"], p["player_name"], p["trophies"], p["rank_global"])
        for p in oracle["player"]
    )
    assert got == want


def test_deck_types_dim(snapshot):
    result, oracle = snapshot
    got = sorted(r[0] for r in result.tables["deck_types"].collect())
    assert got == oracle["deck_types"]


def test_cards_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["cards"], ["card_id", "card_name"])
    assert got == sorted(oracle["cards"].items())


def test_decks_dim(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["decks"], ["deck_hash", "deck_type"])
    assert got == sorted(oracle["decks"].items())


def test_deck_cards(snapshot):
    result, oracle = snapshot
    got = _rows(result.tables["deck_cards"], ["deck_hash", "card_id", "card_variant", "slot"])
    want = sorted(
        (dh, cid, var, slot)
        for dh, obs in oracle["deck_cards"].items()
        for (cid, _, var, slot) in obs
    )
    assert got == want


def test_overrides_beat_classifier(snapshot):
    result, oracle = snapshot
    types = dict(_rows(result.tables["decks"], ["deck_hash", "deck_type"]))
    assert "OverriddenSiege" in types.values()


@pytest.mark.parametrize(
    "table,keys",
    [
        ("player_decks", ("player_tag", "deck_hash")),
        ("meta_deck_types", ("deck_type",)),
        ("meta_type_deck_ids", ("deck_type", "deck_hash")),
        ("meta_type_cards", ("deck_type", "card_id", "card_variant")),
        ("player_type_cards", ("player_tag", "deck_type", "card_id", "card_variant")),
        ("meta_type_matchups", ("deck_type", "opp_deck_type")),
    ],
)
def test_rollups_match_oracle(snapshot, table, keys):
    result, oracle = snapshot
    cols = list(keys) + ["uses", "wins"]
    got = _rows(result.tables[table], cols)
    want = sorted(
        (k if isinstance(k, tuple) else (k,)) + (u, w)
        for k, (u, w) in oracle[table].items()
    )
    assert got == want, f"{table}: {len(got)} vs {len(want)} rows"


def test_top_players_edge_semantics(spark):
    """Reference edge behavior (scripts:203-216): the positional top_n
    cut applies to RAW rows before tag validation (a bad row inside the
    cut shrinks the dim, not pulls a replacement), and rank 0 is falsy
    (→ positional fallback, like Python's ``rank or i``)."""
    rows = [
        ("#A", "a", 0, None, 10),   # rank 0 → rank_global = position 1
        ("", "b", 2, None, 9),      # empty tag INSIDE the cut → dropped
        ("#C", "c", 3, None, 8),
        ("#D", "d", 4, None, 7),    # outside top_n=3 → cut
    ]
    df = spark.createDataFrame(rows, LEADERBOARD_SCHEMA)
    got = pipeline.top_players_df(df, top_n=3).orderBy("rank_global").collect()
    assert [(r.player_tag, r.rank_global) for r in got] == [("#A", 1), ("#C", 3)]


def test_top_players_rejects_table_scale_input(spark):
    """The single-partition ranking window is sized for one API page;
    anything larger must be refused, not silently serialized."""
    import pytest

    big = spark.range(20).selectExpr(
        "concat('#P', id) AS tag",
        "'n' AS name",
        "CAST(id AS INT) AS rank",
        "CAST(NULL AS INT) AS eloRating",
        "CAST(1000 - id AS INT) AS trophies",
    )
    with pytest.raises(ValueError, match="single-partition window"):
        pipeline.top_players_df(big, top_n=5, max_rows=10)


def test_player_battles_fact(snapshot):
    """Boolean-grain fact matches the oracle row-for-row, and
    player_decks is exactly its groupBy(count, sum(win)) rollup."""
    from pyspark.sql import functions as F

    result, oracle = snapshot
    cols = ["match_hash", "battle_time", "side", "player_tag", "deck_hash", "win"]
    got = _rows(result.tables["player_battles"], cols)
    want = sorted(tuple(r[c] for c in cols) for r in oracle["player_battles"])
    assert got == want

    rolled = (
        result.tables["player_battles"]
        .groupBy("player_tag", "deck_hash")
        .agg(
            F.count(F.lit(1)).alias("uses"),
            F.sum(F.col("win").cast("long")).alias("wins"),
        )
    )
    assert _rows(rolled, ["player_tag", "deck_hash", "uses", "wins"]) == _rows(
        result.tables["player_decks"], ["player_tag", "deck_hash", "uses", "wins"]
    )


def test_matchup_double_insert_invariant(snapshot):
    # SUM(matchups.uses) == 2 × battles surviving extraction (FIXTURES.md §2)
    result, oracle = snapshot
    total = sum(u for (u, _) in oracle["meta_type_matchups"].values())
    got = result.tables["meta_type_matchups"].groupBy().sum("uses").first()[0]
    assert got == total
    assert got % 2 == 0


def test_dedup_pick_among_non_identical_copies(spark):
    """D2 picks the same copy of a match as the oracle when its copies
    differ, and dedups BEFORE B6 validation (scripts:257-261, :279-282).

    Match 1 has three copies that differ only in one card's
    evolutionLevel, so each copy has its own deck hash; the pick is the
    copy whose serialized sides sort first (evolutionLevel 0). Match 2
    has a valid copy and a copy whose deck repeats a card: the invalid
    copy sorts first (its second card id 103 < 104), so it is picked
    and the whole match is discarded — validating first would keep the
    valid copy instead."""
    leaderboard = [
        {"tag": t, "name": t, "rank": i, "eloRating": 2000 - i}
        for i, t in enumerate(("#A", "#B", "#C", "#D"), start=1)
    ]

    def evo_copy(level):
        cards = make_deck(0)
        cards[2] = dict(cards[2], evolutionLevel=level)
        return make_battle(
            "20260110T100000.000Z", 72000006,
            "#A", 2, cards, "#B", 1, make_deck(5),
        )

    dup = make_deck(2)
    dup[1] = dict(dup[0])
    match2 = [
        make_battle("20260110T110000.000Z", 72000464,
                    "#C", 1, cards, "#D", 0, make_deck(3))
        for cards in (make_deck(2), dup)
    ]
    battles = [evo_copy(2), match2[0], evo_copy(1), match2[1], evo_copy(0)]

    oracle = oracle_etl(leaderboard, battles, [], 4)
    # the planted shape: 2 matches survive dedup, only match 1 validates,
    # and its pick is the evolutionLevel-0 copy
    assert oracle["counters"]["deduped_matches"] == 2
    assert oracle["counters"]["valid_battles"] == 1
    picked = py_deck_hash_from_cards(evo_copy(0)["team"][0]["cards"])
    assert picked in oracle["decks"]

    result = _build(spark, leaderboard, battles, [], top_n=4)
    assert result.counters == oracle["counters"]
    cols = ["match_hash", "battle_time", "side", "player_tag", "deck_hash", "win"]
    got = _rows(result.tables["player_battles"], cols)
    want = sorted(tuple(r[c] for c in cols) for r in oracle["player_battles"])
    assert got == want
    assert _rows(result.tables["decks"], ["deck_hash", "deck_type"]) == sorted(
        oracle["decks"].items()
    )
    got = _rows(
        result.tables["deck_cards"], ["deck_hash", "card_id", "card_variant", "slot"]
    )
    want = sorted(
        (dh, cid, var, slot)
        for dh, obs in oracle["deck_cards"].items()
        for (cid, _, var, slot) in obs
    )
    assert got == want


def test_build_jobs_run_in_callers_job_group(spark):
    """Every job ``build_snapshot`` starts — also those its concurrent
    materializations submit from worker threads — carries the caller's
    job group, so tracing by group (and cancelling by group) sees the
    whole build. A worker thread without the caller's local properties
    would submit group-less jobs."""
    leaderboard, battles, overrides = generate_fixture()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("build-attribution", "build_snapshot")
    try:
        _build(spark, leaderboard, battles, overrides)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stray = set(tracker.getJobIdsForGroup(None)) - before
    assert not stray, stray
    # catalog collect, leaderboard guard, core checkpoint, three grains
    assert len(tracker.getJobIdsForGroup("build-attribution")) >= 6


def test_build_raises_after_its_jobs_finish(spark):
    """An oversized leaderboard fails the guard that runs beside the
    core's checkpoint job. ``build_snapshot`` raises the guard's error,
    and only once none of its jobs is still running and none of its
    worker threads could start another."""
    import threading

    leaderboard_rows, battles, overrides = generate_fixture()
    big = spark.range(pipeline.MAX_LEADERBOARD_ROWS + 1).selectExpr(
        "concat('#P', id) AS tag",
        "'n' AS name",
        "CAST(id + 1 AS INT) AS rank",
        "CAST(NULL AS BIGINT) AS trophies",
        "CAST(2000 - id AS BIGINT) AS eloRating",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    threads_before = set(threading.enumerate())
    sc.setJobGroup("build-failure", "build_snapshot with an oversized leaderboard")
    try:
        with pytest.raises(ValueError, match="single-partition window"):
            _build(spark, big, battles, overrides)
        left_running = set(threading.enumerate()) - threads_before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not left_running, left_running
    # every job event posted before the raise is now in the status store
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup("build-failure")]
    assert jobs
    running = [j.jobId for j in jobs if j.status not in ("SUCCEEDED", "FAILED")]
    assert not running, running


def test_validation_suite_green(snapshot):
    result, _ = snapshot
    checks = validate.run_all(result.tables, expected_top_n=TOP_N)
    failures = [c for c in checks if not c.passed]
    assert not failures, failures


def _healthy_warehouse() -> dict[str, list[tuple]]:
    """A minimal warehouse that passes every G check with
    ``expected_top_n=2``: top-N uses 60, meta uses 100 (60 ≤ 100 ≤ 120),
    no 'unknown' type, every FK resolved, 8 cards per deck."""
    cards = range(26000000, 26000008)
    return {
        "deck_types": [("Cycle",), ("Beatdown",)],
        "player": [("#P1", "a", 7000, 1), ("#P2", "b", 6900, 2)],
        "decks": [("d1", "Cycle"), ("d2", "Beatdown")],
        "deck_cards": [
            (dh, cid, "normal", slot)
            for dh in ("d1", "d2")
            for slot, cid in enumerate(cards)
        ],
        "player_decks": [("#P1", "d1", 30, 15), ("#P2", "d2", 30, 10)],
        "meta_deck_types": [("Cycle", 50, 25), ("Beatdown", 50, 20)],
        "meta_type_deck_ids": [("Cycle", "d1", 50, 25), ("Beatdown", "d2", 50, 20)],
        "meta_type_cards": [("Cycle", 26000000, "normal", 50, 25)],
        "player_type_cards": [("#P1", "Cycle", 26000000, "normal", 30, 15)],
        "meta_type_matchups": [
            ("Cycle", "Beatdown", 50, 25),
            ("Beatdown", "Cycle", 50, 20),
        ],
    }


def _wins_above_uses(table):
    def plant(wh):
        *keys, uses, _ = wh[table][0]
        wh[table][0] = (*keys, uses, uses + 1)

    return plant


def _add_row(table, row):
    return lambda wh: wh[table].append(row)


def _zero_topn(wh):
    wh["player_decks"] = [(t, dh, 0, 0) for t, dh, _, _ in wh["player_decks"]]


def _empty_meta(wh):
    # a positive top-N sum over an empty meta would also break G5, so
    # the top-N uses go to 0 as well (0 ≤ 0 ≤ 0 holds)
    wh["meta_deck_types"] = []
    _zero_topn(wh)


# (case id, the one check the plant must flip, plant)
_PLANTED = [
    ("g1_7_card_deck", "deck_cards_8_rows", lambda wh: wh["deck_cards"].pop()),
    *[
        (f"g2_{t}", f"wins_uses_sanity:{t}", _wins_above_uses(t))
        for t in validate.STATS_TABLES
    ],
    ("g3_empty_meta", "non_empty_meta", _empty_meta),
    (
        "g4_unknown_31pct",
        "unknown_ratio",
        lambda wh: wh.update(
            meta_deck_types=[("Cycle", 69, 30), ("unknown", 31, 10)]
        ),
    ),
    ("g5_zero_topn_uses", "topn_meta_bound", _zero_topn),
    (
        "g6_player_count_off_by_one",
        "player_count",
        _add_row("player", ("#P3", "c", 6800, 3)),
    ),
    *[
        (
            f"fk_{child}_{ck}",
            f"fk:{child}.{ck}->{parent}.{pk}",
            plant,
        )
        for (child, ck, parent, pk), plant in zip(
            validate.FK_EDGES,
            [
                lambda wh: wh["deck_cards"].extend(
                    ("dX", 26000000 + i, "normal", i) for i in range(8)
                ),
                _add_row("player_decks", ("#P1", "dX", 1, 0)),
                _add_row("player_decks", ("#PX", "d1", 1, 0)),
                _add_row("decks", ("d3", "Siege")),
                _add_row("meta_type_deck_ids", ("Cycle", "dX", 1, 0)),
            ],
        )
    ],
]


def _tables(spark, wh, memo=None):
    """The warehouse ``wh`` as DataFrames, built from pandas (Arrow) as
    local relations: the suite runs in fewer jobs than over
    parallelized Python rows. ``memo`` shares one DataFrame per
    (table, rows) across calls, so planted cases reuse the untouched
    tables instead of rebuilding them."""
    import pandas as pd

    from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
        WAREHOUSE_SCHEMAS,
    )

    memo = {} if memo is None else memo
    for name, rows in wh.items():
        key = (name, tuple(rows))
        if key not in memo:
            memo[key] = spark.createDataFrame(
                pd.DataFrame(rows, columns=WAREHOUSE_SCHEMAS[name].names),
                WAREHOUSE_SCHEMAS[name],
            )
    return {name: memo[(name, tuple(rows))] for name, rows in wh.items()}


def test_validation_suite_healthy_baseline(spark):
    """The planting base passes every check, and every check of the
    suite has exactly one planted case below."""
    results = validate.run_all(_tables(spark, _healthy_warehouse()), expected_top_n=2)
    assert [c for c in results if not c.passed] == []
    assert sorted(c.name for c in results) == sorted(c for _, c, _ in _PLANTED)
    assert all(c.detail == "0 violations" for c in results)


def test_validation_suite_flags_planted_violation(spark):
    """One planted violation flips exactly its own check. The cases'
    reports are tagged with their case id and collected as one union,
    so the whole table of cases costs one suite's worth of jobs."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    reports, memo = [], {}
    for case, _, plant in _PLANTED:
        wh = _healthy_warehouse()
        plant(wh)
        report = validate.validation_report(
            _tables(spark, wh, memo), expected_top_n=2
        )
        reports.append(report.select(F.lit(case).alias("case"), "*"))
    failed: dict[str, list[str]] = {}
    for r in reduce(DataFrame.unionAll, reports).filter(~F.col("passed")).collect():
        failed.setdefault(r["case"], []).append(r["check_name"])
    assert failed == {case: [check] for case, check, _ in _PLANTED}


def test_catalog_smoke(spark):
    from topn_clashroyal_etl_sql_snapshot_spark.plans.validate import check_catalog_smoke

    c = check_catalog_smoke(spark)
    assert c.passed, c
