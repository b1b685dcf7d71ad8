"""Ingest landing-zone tests with an injected fetcher (no network)."""

from __future__ import annotations

import json

from topn_clashroyal_etl_sql_snapshot_spark.sources import ingest, readers


def _fake_fetch(path: str):
    if "pathoflegend/players" in path:
        return {"items": [{"tag": "#AAA", "name": "a", "rank": 1, "eloRating": 2000},
                          {"tag": "bbb", "name": "b", "rank": 2, "eloRating": 1999}]}
    if "/battlelog" in path:
        tag = path.split("/players/")[1].split("/")[0].replace("%23", "#")
        return [  # bare-list variant (battles.py:27-40 handles both)
            {"battleTime": "20260109T181530.000Z", "type": "pathOfLegend",
             "gameMode": {"id": 72000006, "name": "Ladder"},
             "team": [{"tag": tag, "crowns": 1, "cards": []}],
             "opponent": [{"tag": "#OPP", "crowns": 0, "cards": []}]}
        ]
    raise AssertionError(path)


def test_fetch_leaderboard_and_battlelogs(tmp_path, spark):
    out = str(tmp_path)
    lb_path = ingest.fetch_leaderboard(out, limit=2, fetch_fn=_fake_fetch)
    rows = [json.loads(l) for l in open(lb_path)]
    assert [r["tag"] for r in rows] == ["#AAA", "bbb"]

    paths = ingest.fetch_battlelogs(["#AAA", "bbb"], out, fetch_fn=_fake_fetch)
    assert sorted(p.split("/")[-1] for p in paths) == ["AAA.jsonl", "BBB.jsonl"]

    # the landing zone is directly scannable by the Spark reader
    df = readers.read_battles_json(spark, f"{out}/battles/*.jsonl")
    assert df.count() == 2
    assert df.select("gameMode.id").distinct().first()[0] == 72000006


def test_unwrap_and_tag_normalization():
    assert ingest._unwrap_items([1, 2]) == [1, 2]
    assert ingest._unwrap_items({"items": [3]}) == [3]
    assert ingest._unwrap_items({"nope": 1}) == []
    assert ingest.normalize_tag_str(" abc ") == "#ABC"


def test_read_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """Quarantining corpus reader (sources/readers.py): good rows parse
    against DOCUMENT_SCHEMA, malformed lines land in the quarantine
    frame with their raw bytes, the split conserves the line count, and
    gzip landing files read transparently."""
    import gzip
    import json as _json

    from topn_clashroyal_etl_sql_snapshot_spark.sources.readers import (
        read_jsonl_corpus,
    )

    d = tmp_path / "landing"
    d.mkdir()
    rows = [
        {"doc_id": 1, "text": "hello world", "lang": "en", "source": "a",
         "ingest_time": "2026-01-01T00:00:00"},
        {"doc_id": 3, "text": "ok", "lang": "en", "source": "b",
         "ingest_time": "2026-01-01T00:00:01"},
    ]
    with open(d / "p0.jsonl", "w") as f:
        f.write(_json.dumps(rows[0]) + "\n")
        f.write('{"doc_id": 2, "text": "trunca\n')  # truncated record
        f.write("not json at all\n")
    with gzip.open(d / "p1.jsonl.gz", "wt") as f:
        f.write(_json.dumps(rows[1]) + "\n")

    good, bad = read_jsonl_corpus(spark, str(d))
    good_rows = {r["doc_id"]: r["text"] for r in good.collect()}
    assert good_rows == {1: "hello world", 3: "ok"}
    assert "_corrupt_record" not in good.columns
    bad_lines = sorted(r["raw_line"] for r in bad.collect())
    assert bad_lines == sorted(
        ['{"doc_id": 2, "text": "trunca', "not json at all"]
    )
    assert good.count() + bad.count() == 4


def test_every_snapshot_table_is_read_table_readable():
    """Regression (r10): the CLI validates by re-reading EVERY
    SNAPSHOT_TABLES entry through read_table, which requires a
    WAREHOUSE_SCHEMAS entry — player_battles was missing, so the
    validate step of tools/run_snapshot.py crashed after a successful
    write. Pin the containment so a future table addition can't
    silently break the read-back path again."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans.pipeline import (
        SNAPSHOT_TABLES,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
        WAREHOUSE_SCHEMAS,
    )

    missing = set(SNAPSHOT_TABLES) - set(WAREHOUSE_SCHEMAS)
    assert not missing, missing


def test_snapshot_roundtrips_through_read_table(spark, tmp_path):
    """Write a full snapshot (atomic path) and read every table back
    via read_table with its declared schema — the CLI's validate-side
    read, end-to-end. Every read-back column has its declared type,
    and building the twelve readers starts no Spark job (no
    footer-inference job per table)."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import (
        write_snapshot_atomic,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.sources import readers
    from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
        WAREHOUSE_SCHEMAS,
    )

    res = pipeline.build_snapshot(
        spark,
        battles=readers.read_battles_json(spark, "fixtures/battles.jsonl"),
        leaderboard=readers.read_leaderboard_json(
            spark, "fixtures/leaderboard.jsonl"
        ),
        catalog=readers.read_card_catalog(spark, "fixtures/card_catalog.json"),
        overrides=readers.read_overrides(spark, "fixtures/overrides.parquet"),
        top_n=8,
    )
    wh = str(tmp_path / "wh")
    write_snapshot_atomic(res.tables, wh)
    sc = spark.sparkContext
    sc.setJobGroup("read-table-probe", "read_table starts no job")
    try:
        back = {
            name: readers.read_table(spark, wh, name)
            for name in pipeline.SNAPSHOT_TABLES
        }
    finally:
        sc.setJobGroup(None, None)
    # the status tracker fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    started = sc.statusTracker().getJobIdsForGroup("read-table-probe")
    assert started == [], f"read_table started Spark jobs {started}"
    for name, df in back.items():
        declared = WAREHOUSE_SCHEMAS[name]
        for col in df.schema:
            assert col.dataType == declared[col.name].dataType, (name, col)
        assert df.count() > 0, name


def test_read_testdata_relation_cache(spark, tmp_path):
    """r16 (guide §6) + r17 advisor fixes: read_testdata hands back the
    SAME analyzed relation for an unchanged table (no repeated
    footer-inference jobs); a REWRITTEN table is re-read through the
    REAL (mtime_ns, size) signature path — no artificial utime nudges,
    the previous test's sleep+utime masked coarse-mtime staleness —
    and the rewrite REPLACES the entry instead of accumulating stale
    live DataFrames per rewrite."""
    import os

    from pyspark.sql import Row

    from topn_clashroyal_etl_sql_snapshot_spark.sources import readers

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    spark.createDataFrame([Row(doc_id=1, text="a")]).write.parquet(path)

    d1 = readers.read_testdata(spark, sf_dir, "documents")
    d2 = readers.read_testdata(spark, sf_dir, "documents")
    assert d1 is d2  # cached relation, zero extra reads
    assert [r.doc_id for r in d1.collect()] == [1]

    # rewrite with different content AND schema: the cache must miss
    # on the real stat signature (size differs even when a coarse
    # filesystem clock leaves mtime in the same tick)
    spark.createDataFrame(
        [Row(doc_id=7, text="bbbb", extra=3)]
    ).write.mode("overwrite").parquet(path)
    d3 = readers.read_testdata(spark, sf_dir, "documents")
    assert d3 is not d1
    rows = d3.collect()
    assert [r.doc_id for r in rows] == [7]
    assert "extra" in d3.columns

    # eviction: one live entry per realpath — the rewrite REPLACED the
    # stale relation instead of adding a second key
    per_session = readers._TESTDATA_CACHE[spark]
    rp = os.path.realpath(path)
    assert rp in per_session
    assert per_session[rp][1] is d3
    assert sum(1 for k in per_session if k == rp) == 1
