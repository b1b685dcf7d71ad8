"""Streaming extension tests: file-source stream → windowed agg and the
foreachBatch incremental snapshot (availableNow trigger, real files)."""

from __future__ import annotations

import json

import pytest

from topn_clashroyal_etl_sql_snapshot_spark import streaming
from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
    CARD_METADATA_SCHEMA,
    LEADERBOARD_SCHEMA,
    OVERRIDES_SCHEMA,
)

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import CATALOG_ROWS, generate_fixture


def _write_landing(tmpdir, battles, n_files=3):
    per = max(1, len(battles) // n_files)
    for i in range(0, len(battles), per):
        with open(f"{tmpdir}/chunk{i}.jsonl", "w") as f:
            for b in battles[i : i + per]:
                f.write(json.dumps(b) + "\n")


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    leaderboard, battles, overrides = generate_fixture()
    d = tmp_path_factory.mktemp("landing")
    _write_landing(str(d), battles)
    return str(d), leaderboard, battles, overrides


def test_windowed_match_counts(spark, landing):
    landing_dir, _, battles, _ = landing
    stream = streaming.stream_battles(spark, landing_dir)
    assert stream.isStreaming
    agg = streaming.windowed_match_counts(stream, window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("match_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from match_counts").collect()
    assert rows, "windowed aggregate produced no rows"
    total = sum(r["battles"] for r in rows)
    parseable = [b for b in battles if b.get("battleTime") and "T" in str(b["battleTime"])]
    assert total == len(parseable)
    assert {r["mode_id"] for r in rows} <= {72000006, 72000464, 99999999}


def test_incremental_snapshot_foreachbatch(spark, landing, tmp_path):
    landing_dir, leaderboard, battles, overrides = landing
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "warehouse")

    lb_df = spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA)
    cat_df = spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    ov_df = spark.createDataFrame(overrides, OVERRIDES_SCHEMA)

    calls = []

    def refresh(sess, bronze_dir):
        bronze_df = sess.read.schema(
            streaming.stream_battles(sess, landing_dir).schema
        ).parquet(bronze_dir)
        result = pipeline.build_snapshot(
            sess, bronze_df, lb_df, cat_df, ov_df, top_n=5
        )
        result.tables["meta_deck_types"].write.mode("overwrite").parquet(
            f"{out}/meta_deck_types"
        )
        result.unpersist()
        calls.append(bronze_dir)

    stream = streaming.stream_battles(spark, landing_dir)
    q = streaming.incremental_snapshot_query(stream, bronze, refresh, ckpt).start()
    q.awaitTermination(240)

    assert calls, "foreachBatch refresh never ran"
    meta = spark.read.parquet(f"{out}/meta_deck_types").collect()
    assert meta and all(r["wins"] <= r["uses"] for r in meta)
    # restart with no new files → no further refreshes (checkpoint works)
    n = len(calls)
    q2 = streaming.incremental_snapshot_query(
        streaming.stream_battles(spark, landing_dir), bronze, refresh, ckpt
    ).start()
    q2.awaitTermination(120)
    assert len(calls) == n


def test_streaming_dedup_matches(spark, landing):
    landing_dir, _, battles, _ = landing
    stream = streaming.stream_battles(spark, landing_dir)
    deduped = streaming.streaming_dedup_matches(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select match_hash from dedup_stream").collect()
    hashes = [r["match_hash"] for r in rows]
    # exact-duplicate battlelog entries collapse to one row per match
    assert len(hashes) == len(set(hashes))
    from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import py_match_hash

    parseable = {
        py_match_hash(b)
        for b in battles
        if b.get("battleTime") and "T" in str(b["battleTime"])
    }
    assert set(hashes) <= parseable
    assert len(hashes) >= len(parseable) - 10  # edge battles lack timestamps


def _expected_running_totals(battles):
    """Python truth for BOTH stateful-API tests (r11: it existed twice
    and the pair could silently disagree about the oracle): both sides
    of every ranked 1v1, NOT deduped — the ops consume the raw
    stream."""
    from collections import defaultdict

    want = defaultdict(lambda: [0, 0])
    for b in battles:
        team, opp = b.get("team") or [], b.get("opponent") or []
        if len(team) != 1 or len(opp) != 1:
            continue
        if (b.get("gameMode") or {}).get("id") not in (72000006, 72000464):
            continue
        tt = (team[0].get("tag") or "").strip().upper()
        ot = (opp[0].get("tag") or "").strip().upper()
        tt = tt if tt.startswith("#") or not tt else "#" + tt
        ot = ot if ot.startswith("#") or not ot else "#" + ot
        tc, oc = int(team[0].get("crowns") or 0), int(opp[0].get("crowns") or 0)
        if tt:
            want[tt][0] += 1
            want[tt][1] += 1 if tc > oc else 0
        if ot:
            want[ot][0] += 1
            want[ot][1] += 1 if oc > tc else 0
    return {k: tuple(v) for k, v in want.items()}


def test_stateful_running_player_stats(spark, landing):
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import stateful

    landing_dir, _, battles, _ = landing
    stream = streaming.stream_battles(spark, landing_dir)
    running = stateful.running_player_stats(stateful.participants_stream(stream))
    q = (
        running.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    # last emitted row per player = final running totals; with multiple
    # micro-batches a player may appear several times — take max uses
    rows = spark.sql(
        "select player_tag, max(uses) uses, max(wins) wins"
        " from running_stats group by player_tag"
    ).collect()
    got = {r["player_tag"]: (r["uses"], r["wins"]) for r in rows}

    # batch truth: both sides of every ranked battle, NOT deduped (the
    # stateful op consumes the raw stream)
    assert got == _expected_running_totals(battles)


def test_stateful_running_player_stats_tws(spark, landing):
    """The transformWithStateInPandas twin (Spark 4 StatefulProcessor,
    named ValueState, RocksDB store) emits the SAME final running
    totals as the applyInPandasWithState form on the same landing
    stream — the two stateful APIs are interchangeable here, and the
    new one is what TTL'd / timer-driven operators should build on.
    importorskip: the TWS driver worker speaks a protobuf state
    protocol; without google.protobuf (this container) the query
    crashes at init, so the wiring runs only where the dependency
    ships — the processor's own logic is covered everywhere by
    test_tws_processor_logic_matches_old_api below."""
    pytest.importorskip("google.protobuf")
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import stateful

    landing_dir, _, battles, _ = landing
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = streaming.stream_battles(spark, landing_dir)
        running = stateful.running_player_stats_tws(
            stateful.participants_stream(stream)
        )
        q = (
            running.writeStream.format("memory")
            .queryName("running_stats_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    rows = spark.sql(
        "select player_tag, max(uses) uses, max(wins) wins"
        " from running_stats_tws group by player_tag"
    ).collect()
    got = {r["player_tag"]: (r["uses"], r["wins"]) for r in rows}

    assert got == _expected_running_totals(battles)


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """The session_window streaming twin produces the same sessions as
    the batch gap-sessionization (operators/sessionize.py) over the same
    events — including an exactly-at-gap boundary, which batch keeps
    (gap > g breaks); the operator absorbs session_window's half-open
    semantics internally, so the SAME gap_ms matches by default."""
    from datetime import datetime, timedelta

    from topn_clashroyal_etl_sql_snapshot_spark.operators import sessionize
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_session_stats,
    )

    gap_ms = 30 * 60 * 1000

    def ts(minutes):
        return datetime(2026, 1, 1) + timedelta(minutes=minutes)

    rows = [
        (100, ts(0), 1),
        (101, ts(10), 1),
        (102, ts(40), 1),   # exactly 30min after prev -> SAME session
        (103, ts(75), 1),   # 35min -> new session
        (200, ts(5), 2),
        (201, ts(90), 2),
    ]
    events = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)

    batch = {
        (r["user_id"], r["n_events"], r["duration_ms"])
        for r in sessionize.session_stats(events, gap_ms=gap_ms).collect()
    }

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .parquet(src)
    )
    q = (
        streaming_session_stats(stream, gap_ms=gap_ms)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"], r["duration_ms"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got == batch
    assert (1, 3, 40 * 60 * 1000) in got  # boundary event stayed merged


def test_streaming_corpus_gates_match_batch(spark, tmp_path):
    """The corpus-ingest gate stack (hygiene → scrub → lang → quality)
    is stateless column algebra, so running it on a file stream must
    keep exactly the rows the same function keeps on a batch frame;
    the watermarked fingerprint dedup must keep one row per distinct
    normalized content across micro-batch files."""
    import json as _json
    from datetime import datetime

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    good = "the quick brown fox jumps over the lazy dog and runs on " * 4
    docs = [
        # survives every gate
        {"doc_id": 1, "text": good, "lang": "en", "source": "a"},
        # control chars + PII, still good text under the gates
        {"doc_id": 2, "text": "\x07" + good + " mail bob@x.io", "lang": "en", "source": "a"},
        # fails language gate
        {"doc_id": 3, "text": "xyzzy plugh foobar qux " * 10, "lang": "und", "source": "b"},
        # fails quality gate (punctuation soup)
        {"doc_id": 4, "text": "!!! ??? ;;; ### " * 20, "lang": "en", "source": "b"},
        # exact duplicate of doc 1 modulo case/punct (same fingerprint),
        # landing in a LATER file
        {"doc_id": 5, "text": good.upper(), "lang": "en", "source": "c"},
        # another survivor, distinct content
        {"doc_id": 6, "text": "a completely different sentence about the sea " * 5, "lang": "en", "source": "c"},
    ]
    d = tmp_path / "docs_landing"
    d.mkdir()
    for i, chunk in enumerate((docs[:3], docs[3:])):  # two micro-batch files
        with open(d / f"part{i}.jsonl", "w") as f:
            for doc in chunk:
                row = dict(doc)
                row["ingest_time"] = datetime(2026, 1, 1, 0, 0, i).isoformat()
                f.write(_json.dumps(row) + "\n")

    batch_docs = spark.read.schema(corpus.DOCUMENT_SCHEMA).json(str(d))
    batch_kept = corpus.curate_stream(batch_docs)  # same fn, batch frame
    batch_ids = {r["doc_id"] for r in batch_kept.select("doc_id").collect()}
    assert batch_ids == {1, 2, 5, 6}
    # scrub actually rewrote doc 2's text
    t2 = batch_kept.filter(F.col("doc_id") == 2).first()["text"]
    assert "<EMAIL>" in t2 and "\x07" not in t2

    stream = corpus.stream_documents(spark, str(d))
    q = (
        corpus.streaming_dedup_documents(corpus.curate_stream(stream))
        .writeStream.format("memory")
        .queryName("corpus_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM corpus_out").collect()
    # gate parity: kept fingerprint set equals the batch dedup's
    batch_fps = {
        r["fp"]
        for r in batch_kept.select(
            F.md5(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9 ]", " "))).alias("fp")
        ).collect()
    }
    assert {r["fingerprint"] for r in got} == batch_fps
    # docs 1 and 5 share a fingerprint: exactly one survived
    assert len(got) == 3
    kept_ids = {r["doc_id"] for r in got}
    assert len(kept_ids & {1, 5}) == 1 and {2, 6} <= kept_ids


def test_streaming_lm_gate_matches_batch(spark, tmp_path):
    """The optional LM perplexity gate is part of the stateless stack:
    stream and batch keep identical doc sets, gibberish is dropped by
    the MODEL (it passes the heuristic gates), and short docs pass."""
    import json as _json
    from datetime import datetime

    from topn_clashroyal_etl_sql_snapshot_spark.operators import lm_score
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    ref = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain stays mainly in the plain and the cat sat on the mat "
    ) * 5
    model = lm_score.fit_char_lm_counts([ref], n=3)

    good = "the rain in spain falls mainly on the plain and the dog runs " * 4
    # letters-and-spaces gibberish with marker words threaded through
    # so it sails past the lang/quality heuristics — only the LM's
    # character statistics can tell it is noise
    gib = "the qzx jvk and wpq ghz of mnb is tkd rlw " * 8
    docs = [
        {"doc_id": 1, "text": good, "lang": "en", "source": "a"},
        {"doc_id": 2, "text": gib, "lang": "en", "source": "a"},
        {"doc_id": 3, "text": good + " and the fox", "lang": "en", "source": "b"},
    ]
    d = tmp_path / "lm_landing"
    d.mkdir()
    with open(d / "part0.jsonl", "w") as f:
        for doc in docs:
            row = dict(doc)
            row["ingest_time"] = datetime(2026, 1, 1).isoformat()
            f.write(_json.dumps(row) + "\n")

    # pick the cut between good and gibberish from the batch scores
    batch_docs = spark.read.schema(corpus.DOCUMENT_SCHEMA).json(str(d))
    no_gate = corpus.curate_stream(batch_docs)
    assert {r["doc_id"] for r in no_gate.collect()} == {1, 2, 3}
    ppls = {
        r["doc_id"]: r["ppl"]
        for r in corpus.curate_stream(batch_docs, lm_model=model).collect()
    }
    assert ppls[2] > 3 * max(ppls[1], ppls[3])  # model separates
    cut = (max(ppls[1], ppls[3]) + ppls[2]) / 2

    batch_kept = {
        r["doc_id"]
        for r in corpus.curate_stream(
            batch_docs, lm_model=model, max_ppl=cut
        ).collect()
    }
    assert batch_kept == {1, 3}

    stream = corpus.stream_documents(spark, str(d))
    q = (
        corpus.curate_stream(stream, lm_model=model, max_ppl=cut)
        .writeStream.format("memory")
        .queryName("lm_gate_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM lm_gate_out").collect()}
    assert got == batch_kept


def test_stream_stream_annotation_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream enrichment join: document feed ⋈
    annotation feed within max_delay. The SAME function on batch frames
    is the oracle (the condition is plain column algebra); the stream
    run must produce the identical inner-join row set, including
    annotations landing in a LATER micro-batch file than their
    document (cross-batch buffering) and annotations outside the delay
    bound (dropped on both sides)."""
    import json as _json
    from datetime import datetime

    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    t0 = datetime(2026, 1, 1, 12, 0, 0)

    def iso(minutes):
        return datetime(2026, 1, 1, 12, minutes, 0).isoformat()

    docs = [
        {"doc_id": 1, "text": "alpha", "lang": "en", "source": "a",
         "ingest_time": iso(0)},
        {"doc_id": 2, "text": "beta", "lang": "en", "source": "a",
         "ingest_time": iso(1)},
        {"doc_id": 3, "text": "gamma", "lang": "en", "source": "b",
         "ingest_time": iso(2)},
    ]
    anns = [
        # in-bound annotation, same batch as its doc
        {"doc_id": 1, "score": 0.9, "ann_time": iso(3)},
        # in-bound annotation landing in a LATER file than doc 2
        {"doc_id": 2, "score": 0.7, "ann_time": iso(5)},
        # OUT of the 10-minute bound for doc 3 — must not join
        {"doc_id": 3, "score": 0.1, "ann_time": iso(20)},
        # BEFORE doc 1's ingest — must not join
        {"doc_id": 1, "score": 0.2, "ann_time": datetime(2026, 1, 1, 11, 0).isoformat()},
        # second in-bound annotation for doc 1 (both rows join)
        {"doc_id": 1, "score": 0.95, "ann_time": iso(8)},
    ]
    ddir, adir = tmp_path / "docs_l", tmp_path / "anns_l"
    ddir.mkdir(), adir.mkdir()
    with open(ddir / "d0.jsonl", "w") as f:
        for r in docs:
            f.write(_json.dumps(r) + "\n")
    with open(adir / "a0.jsonl", "w") as f:
        for r in anns[:1]:
            f.write(_json.dumps(r) + "\n")
    with open(adir / "a1.jsonl", "w") as f:
        for r in anns[1:]:
            f.write(_json.dumps(r) + "\n")

    batch_docs = spark.read.schema(corpus.DOCUMENT_SCHEMA).json(str(ddir))
    batch_anns = spark.read.schema(corpus.ANNOTATION_SCHEMA).json(str(adir))
    expected = sorted(
        (r["doc_id"], r["score"])
        for r in corpus.join_stream_annotations(batch_docs, batch_anns).collect()
    )
    assert expected == [(1, 0.9), (1, 0.95), (2, 0.7)]

    q = (
        corpus.join_stream_annotations(
            corpus.stream_documents(spark, str(ddir)),
            corpus.stream_annotations(spark, str(adir)),
        )
        .writeStream.format("memory")
        .queryName("ann_join_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["score"])
        for r in spark.sql("SELECT * FROM ann_join_out").collect()
    )
    assert got == expected


def test_stream_stream_join_rejects_unsupported_how(spark, tmp_path):
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    d = spark.createDataFrame([], corpus.DOCUMENT_SCHEMA)
    a = spark.createDataFrame([], corpus.ANNOTATION_SCHEMA)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.join_stream_annotations(d, a, how="full_outer")


def test_streaming_dsir_gate_matches_batch(spark, tmp_path):
    """The DSIR importance gate inside curate_stream: the stateless
    logweight_expr keeps exactly the documents the batch broadcast-join
    scorer would keep at the same threshold — stream run ≡ batch
    function ≡ operator-level scoring."""
    import json as _json
    from datetime import datetime

    from topn_clashroyal_etl_sql_snapshot_spark.operators import dsir
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    model = dsir.fit_term_importance(
        ["the quick brown fox jumps over the lazy dog and runs on grass",
         "the rain in spain stays mainly in the plain with the sun"],
        ["click here to buy cheap deals and subscribe for offers now",
         "winner winner limited offer subscribe today click buy"],
    )
    docs = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog "
                              "and runs across the green grass all day long",
         "lang": "en", "source": "a"},
        {"doc_id": 2, "text": "click here to buy cheap deals and subscribe "
                              "for the best offers now and win the prize",
         "lang": "en", "source": "b"},
    ]
    d = tmp_path / "dsir_landing"
    d.mkdir()
    with open(d / "p0.jsonl", "w") as f:
        for i, doc in enumerate(docs):
            row = dict(doc, ingest_time=datetime(2026, 1, 1, 0, 0, i).isoformat())
            f.write(_json.dumps(row) + "\n")

    batch_docs = spark.read.schema(corpus.DOCUMENT_SCHEMA).json(str(d))
    # threshold between the two docs' batch scores
    scores = {
        r["doc_id"]: r["logw"]
        for r in dsir.importance_logweights(batch_docs, model).collect()
    }
    assert scores[1] > scores[2]
    cut = (scores[1] + scores[2]) / 2

    batch_kept = corpus.curate_stream(
        batch_docs, dsir_model=model, min_logw=cut
    )
    assert {r["doc_id"] for r in batch_kept.collect()} == {1}
    # expr scoring equals the operator's scoring exactly (scrub/clean
    # rewrote nothing in these texts)
    assert {
        r["doc_id"]: r["dsir_logw"]
        for r in corpus.curate_stream(batch_docs, dsir_model=model).collect()
    } == scores

    q = (
        corpus.curate_stream(
            corpus.stream_documents(spark, str(d)), dsir_model=model, min_logw=cut
        )
        .writeStream.format("memory")
        .queryName("dsir_gate_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id FROM dsir_gate_out").collect()
    assert {r["doc_id"] for r in got} == {1}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.curate_stream(batch_docs, min_logw=0.0)


def test_streaming_neardup_gate_against_static_index(spark, tmp_path):
    """Streaming near-dup annotation at ingest: each streamed doc is
    signed with the stateless minhash_sig_expr, exploded to its LSH
    band keys, and stream-static joined against the BANDED corpus
    index — flagging docs whose near-duplicate already lives in the
    corpus, with no stateful operator. The flagged set must equal the
    batch incremental path's index-hit set on the same data (both
    sides are bit-exact signature twins, test-pinned in test_dedup)."""
    import json as _json
    from datetime import datetime

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.operators import dedup
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank every single morning without fail"
    )
    corpus_docs = [
        (1, base),
        (2, "a completely different article about columnar execution engines"),
    ]
    batch = [
        {"doc_id": 101, "text": base + " indeed"},       # near-dup of 1
        {"doc_id": 102, "text": "novel content about watermark handling"},
    ]
    cdf = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    k, bands, rpb = 32, 8, 4
    index = dedup.minhash_signatures(cdf, k=k)
    banded_index = dedup._banded(index, bands, rpb).withColumnRenamed(
        "id", "corpus_id"
    )

    d = tmp_path / "neardup_landing"
    d.mkdir()
    with open(d / "part0.jsonl", "w") as f:
        for doc in batch:
            row = dict(doc, lang="en", source="s",
                       ingest_time=datetime(2026, 1, 1).isoformat())
            f.write(_json.dumps(row) + "\n")

    stream = corpus.stream_documents(spark, str(d))
    annotated = (
        stream.withColumn(
            "sig", dedup.minhash_sig_expr(F.col("text"), k=k, hashed=False)
        )
        .select(
            "doc_id",
            F.explode(dedup.lsh_buckets_expr(F.col("sig"), bands, rpb)).alias("b"),
        )
        .select("doc_id", "b.band", "b.bucket")
        .join(banded_index, ["band", "bucket"])  # stream-static join
        .select("doc_id", "corpus_id")
    )
    q = (
        annotated.writeStream.format("memory")
        .queryName("neardup_hits")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    hits = {
        (r["doc_id"], r["corpus_id"])
        for r in spark.sql("SELECT DISTINCT * FROM neardup_hits").collect()
    }
    assert hits == {(101, 1)}, hits


def test_streaming_exact_gate_against_static_index(spark, tmp_path):
    """The exact-family ingest gate the dedup_exact_incremental
    docstring names: content_fingerprint is a stateless per-row
    expression, so a stream projects it and stream-static LEFT-ANTI
    joins the persisted fingerprint index — corpus-known docs drop at
    ingest with no stateful operator, and the admitted set equals the
    batch incremental path's on the same data."""
    import json as _json
    from datetime import datetime

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.functions import text as tx
    from topn_clashroyal_etl_sql_snapshot_spark.operators import dedup
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import corpus

    corpus_docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "some other corpus document entirely"),
    ]
    batch = [
        {"doc_id": 101, "text": "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"},
        {"doc_id": 102, "text": "genuinely novel streamed content"},
    ]
    cdf = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    index = cdf.select(
        tx.content_fingerprint(F.col("text")).alias("fingerprint")
    )

    d = tmp_path / "exact_landing"
    d.mkdir()
    with open(d / "part0.jsonl", "w") as f:
        for doc in batch:
            row = dict(doc, lang="en", source="s",
                       ingest_time=datetime(2026, 1, 1).isoformat())
            f.write(_json.dumps(row) + "\n")

    admitted_stream = (
        corpus.stream_documents(spark, str(d))
        .withColumn("fingerprint", tx.content_fingerprint(F.col("text")))
        .join(index, "fingerprint", "left_anti")  # stream-static anti
        .select("doc_id")
    )
    q = (
        admitted_stream.writeStream.format("memory")
        .queryName("exact_gate_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM exact_gate_out").collect()}
    assert got == {102}

    # batch twin agrees
    bdf = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in batch], "doc_id long, text string"
    )
    admitted, _ = dedup.dedup_exact_incremental(bdf, index)
    assert {r["doc_id"] for r in admitted.collect()} == got


def test_tws_processor_logic_matches_old_api():
    """Driver-side unit twin for the container gap: feed the SAME
    micro-batch sequence through _RunningStatsProcessor (stub handle +
    ValueState) and the applyInPandasWithState _update (stub
    GroupState); the emitted rows must be identical, including
    state carry-over across batches and multi-frame batches."""
    import pandas as pd

    from topn_clashroyal_etl_sql_snapshot_spark.streaming import stateful

    class _StubValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class _StubHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema, ttl=None):
            self.states[name] = _StubValueState()
            return self.states[name]

    class _StubGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    batches = [
        [pd.DataFrame({"won": [True, False, True]})],
        [pd.DataFrame({"won": [False]}), pd.DataFrame({"won": [True, True]})],
        [pd.DataFrame({"won": []})],
    ]

    proc = stateful._RunningStatsProcessor(state_ttl_ms=None)
    proc.init(_StubHandle())
    gs = _StubGroupState()
    for frames in batches:
        new_rows = list(
            proc.handleInputRows(("#TAG",), iter(frames), None)
        )
        old_rows = list(stateful._update(("#TAG",), iter(frames), gs))
        assert len(new_rows) == len(old_rows) == 1
        assert new_rows[0].to_dict("records") == old_rows[0].to_dict(
            "records"
        )
    # final totals: 6 uses, 4 wins carried across all three batches
    assert new_rows[0].to_dict("records") == [
        {"player_tag": "#TAG", "uses": 6, "wins": 4}
    ]


def test_streaming_mixture_gate_matches_sequential_replay(spark, tmp_path):
    """The foreachBatch mixture gate (r12) ≡ replaying the same
    micro-batches through mixture_sample_incremental by hand: same
    admitted key set, same final ledger — and the persisted ledger's
    total equals exactly what was admitted (the accounting-from-actuals
    contract). File mtimes are staggered so the file source's
    oldest-first ordering pins the batch sequence."""
    import json as _json
    import os
    import time as _time

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_mixture_gate,
    )

    recipe = {"a": 0.5, "b": 0.25, "c": 0.25}
    # skewed supply per batch: b floods day 0, a floods day 1, c day 2
    batches = [
        [(i, "b") for i in range(40)] + [(100 + i, "a") for i in range(5)],
        [(200 + i, "a") for i in range(40)] + [(300 + i, "c") for i in range(10)],
        [(400 + i, "c") for i in range(30)] + [(500 + i, "b") for i in range(10)],
    ]
    land = tmp_path / "landing"
    land.mkdir()
    for k, rows in enumerate(batches):
        with open(land / f"batch{k}.jsonl", "w") as f:
            for doc_id, source in rows:
                f.write(_json.dumps({"doc_id": doc_id, "source": source}) + "\n")
        os.utime(land / f"batch{k}.jsonl", (1_000_000 + k, 1_000_000 + k))

    schema = "doc_id long, source string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(land))
    )
    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    q = (
        streaming_mixture_gate(stream, state_dir, out_dir, "source", recipe)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "stream did not finish in time"

    admitted = spark.read.parquet(out_dir)
    assert "batch_id" in admitted.columns  # per-batch provenance dirs
    got_ids = {r["doc_id"] for r in admitted.collect()}
    ledger = spark.read.parquet(os.path.join(state_dir, "ledger"))
    got_ledger = {r["source"]: r["kept_w"] for r in ledger.collect()}

    # sequential replay twin
    from topn_clashroyal_etl_sql_snapshot_spark.operators import sampling

    led = None
    want_ids: set[int] = set()
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        kept, led = sampling.mixture_sample_incremental(
            bdf, led, "source", recipe
        )
        want_ids |= {r["doc_id"] for r in kept.collect()}
        led = spark.createDataFrame(led.collect(), led.schema)
    want_ledger = {r["source"]: r["kept_w"] for r in led.collect()}

    assert got_ids == want_ids and got_ids
    assert got_ledger == want_ledger
    # accounting from actuals: ledger total == admitted count (unit w)
    assert sum(got_ledger.values()) == float(len(got_ids))
    # the gate did real work: the flooded day-0 'b' supply was capped
    per_src = {
        r["source"]: r["n"]
        for r in admitted.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_src.get("b", 0) < 50  # 50 offered across batches

    # replay idempotence (foreachBatch is at-least-once): simulate a
    # crash AFTER the ledger swap but BEFORE the checkpoint commit by
    # deleting the last batch's commit marker, then restart the SAME
    # checkpoint — Spark redelivers batch 2 under the same query
    # lineage, the ledger's recorded batch marker skips it, and both
    # the admitted output and the ledger stay byte-identical
    os.remove(os.path.join(state_dir, "_checkpoint", "commits", "2"))
    # the local checksum FS keeps a .crc sidecar; a real crash loses both
    crc = os.path.join(state_dir, "_checkpoint", "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = (
        streaming_mixture_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir,
            out_dir,
            "source",
            recipe,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(180)
    again_ids = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    again_ledger = {
        r["source"]: r["kept_w"]
        for r in spark.read.parquet(os.path.join(state_dir, "ledger")).collect()
    }
    assert again_ids == got_ids and again_ledger == got_ledger

    # lineage guard (r13, advisor finding): a FRESH checkpoint against
    # the same state_dir restarts batch ids at 0 — under the pre-r13
    # marker those batches were silently skipped even when they carried
    # NEW data; now the gate raises loudly instead of dropping it
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    q3 = (
        streaming_mixture_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir,
            out_dir,
            "source",
            recipe,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_reset"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q3.awaitTermination(180)
    # the guard fired BEFORE any state mutation: output + ledger intact
    assert {r["doc_id"] for r in spark.read.parquet(out_dir).collect()} == got_ids

    # pre-r13 markers carry no lineage: bare-int markers keep the
    # legacy same-lineage skip semantics (no retroactive hard-fail on
    # states written by older code)
    marker_path = os.path.join(state_dir, "ledger", "_last_batch")
    with open(marker_path, encoding="utf-8") as f:
        rec = _json.load(f)
    with open(marker_path, "w", encoding="utf-8") as f:
        f.write(str(rec["last_batch"]))
    q4 = (
        streaming_mixture_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir,
            out_dir,
            "source",
            recipe,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_legacy"))
        .trigger(availableNow=True)
        .start()
    )
    assert q4.awaitTermination(180)
    assert {r["doc_id"] for r in spark.read.parquet(out_dir).collect()} == got_ids


def test_streaming_semantic_gate_end_to_end(spark, tmp_path):
    """r13 streaming twin of the ingest loop's semantic leg: per
    micro-batch embedding near-dup admission against a persisted
    sketch/vector index committed one atomic generation per batch.
    Covers: within-batch dedup (min-id keeps), index-dup drops, the
    index ADVANCING (day-2 catches a near-dup of a day-1 admission),
    exactly-once replay after a simulated crash, and the reset-
    checkpoint lineage guard."""
    import json as _json
    import os
    import random as _r

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_semantic_gate,
    )

    DIM = 8

    def vec(seed, like=None):
        rng = _r.Random(seed)
        if like is None:
            return [rng.gauss(0, 1) for _ in range(DIM)]
        return [x + rng.gauss(0, 1e-3) for x in like]

    v = {i: vec(i) for i in (1, 2, 3, 4, 5, 11)}
    batches = [
        # batch 0: five new docs + a within-batch near-dup of doc 1
        [(i, v[i]) for i in (1, 2, 3, 4, 5)] + [(6, vec(906, v[1]))],
        # batch 1: an index near-dup of doc 2, and a genuinely new doc
        [(10, vec(910, v[2])), (11, v[11])],
        # batch 2: near-dup of the REJECTED 10 (≈ doc 2 transitively —
        # only the index copy exists) and of the ADMITTED 11
        [(20, vec(920, v[2])), (21, vec(921, v[11]))],
    ]
    land = tmp_path / "landing"
    land.mkdir()
    for k, rows in enumerate(batches):
        with open(land / f"b{k}.jsonl", "w") as f:
            for doc_id, emb in rows:
                f.write(_json.dumps({"doc_id": doc_id, "embedding": emb}) + "\n")
        os.utime(land / f"b{k}.jsonl", (1_000_000 + k, 1_000_000 + k))

    schema = "doc_id long, embedding array<float>"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land))
        )

    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    q = (
        streaming_semantic_gate(
            stream(), state_dir, out_dir,
            threshold=0.95, planes=8, rotations=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240), "stream did not finish in time"

    admitted = spark.read.parquet(out_dir)
    got = {r["doc_id"] for r in admitted.collect()}
    assert got == {1, 2, 3, 4, 5, 11}

    # the persisted states hold exactly the admitted docs
    cur = snap.current_generation(state_dir)
    vec_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(cur, "vectors")).collect()
    }
    sk_ids = {
        r["id"]
        for r in spark.read.parquet(os.path.join(cur, "sketches"))
        .select("id").distinct().collect()
    }
    assert vec_ids == got and sk_ids == got
    n_gens_before = len(
        [d for d in os.listdir(state_dir) if d.startswith("gen-")]
    )

    # exactly-once: crash after the batch-2 publish but before the
    # checkpoint commit — redelivery must skip (marker), not re-append
    os.remove(os.path.join(state_dir, "_checkpoint", "commits", "2"))
    crc = os.path.join(state_dir, "_checkpoint", "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = (
        streaming_semantic_gate(
            stream(), state_dir, out_dir,
            threshold=0.95, planes=8, rotations=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(240)
    cur2 = snap.current_generation(state_dir)
    assert cur2 == cur  # no new generation: the replay was skipped
    assert {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    } == got
    vec_rows = spark.read.parquet(os.path.join(cur2, "vectors")).count()
    assert vec_rows == len(got)  # no doubled state rows
    assert len(
        [d for d in os.listdir(state_dir) if d.startswith("gen-")]
    ) == n_gens_before

    # lineage guard: a FRESH checkpoint against the same state_dir
    # restarts batch ids at 0 — raise, never silently skip new data
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    q3 = (
        streaming_semantic_gate(
            stream(), state_dir, out_dir,
            threshold=0.95, planes=8, rotations=2,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_reset"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q3.awaitTermination(240)


def test_streaming_semantic_gate_guards(spark, tmp_path):
    """r13 review fixes: (a) a batch doc whose id ALREADY exists in
    the index is a recrawl — dropped before the probe, never appended
    as duplicate state rows; (b) the gate refuses a generation root
    carrying states it does not manage (publishing there would drop
    and then delete the ingest loop's text-dedup states)."""
    import json as _json
    import os
    import random as _r

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_semantic_gate,
    )

    def vec(seed):
        rng = _r.Random(seed)
        return [rng.gauss(0, 1) for _ in range(8)]

    land = tmp_path / "landing"
    land.mkdir()
    batches = [
        [(1, vec(1)), (2, vec(2))],
        [(1, vec(1)), (3, vec(3))],  # id 1 is a RECRAWL of batch 0's
    ]
    for k, rows in enumerate(batches):
        with open(land / f"b{k}.jsonl", "w") as f:
            for doc_id, emb in rows:
                f.write(_json.dumps({"doc_id": doc_id, "embedding": emb}) + "\n")
        os.utime(land / f"b{k}.jsonl", (1_000_000 + k, 1_000_000 + k))

    schema = "doc_id long, embedding array<float>"
    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    q = (
        streaming_semantic_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir, out_dir, threshold=0.95, planes=8,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    cur = snap.current_generation(state_dir)
    vec_ids = [
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(cur, "vectors")).collect()
    ]
    # the recrawl of id 1 was dropped: states stay UNIQUE per id
    assert sorted(vec_ids) == [1, 2, 3]
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {1, 2, 3}

    # (b) sibling-state refusal: an ingest-loop root is not a gate root
    loop_root = str(tmp_path / "loop_state")
    corpus = spark.createDataFrame(
        [(i, f"seed{i} " * 20, "web", vec(100 + i)) for i in range(1, 6)],
        "doc_id long, text string, source string, embedding array<float>",
    )
    ingest.bootstrap_state(spark, corpus, loop_root, vec_col="embedding")
    q2 = (
        streaming_semantic_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            loop_root, str(tmp_path / "out2"), threshold=0.95, planes=8,
        )
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="does not manage"):
        q2.awaitTermination(240)


def test_streaming_semantic_gate_seeded_from_corpus(spark, tmp_path):
    """seed_semantic_state publishes generation 1 with exactly the two
    gate-managed states; the first streamed batch then dedups against
    the SEEDED corpus — embedding near-dups and id-recrawls of corpus
    docs both drop, genuinely new docs found generation 2."""
    import json as _json
    import os
    import random as _r

    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        seed_semantic_state,
        streaming_semantic_gate,
    )

    def vec(seed, like=None):
        rng = _r.Random(seed)
        if like is None:
            return [rng.gauss(0, 1) for _ in range(8)]
        return [x + rng.gauss(0, 1e-3) for x in like]

    corpus_vecs = {i: vec(i) for i in range(1, 6)}
    corpus = spark.createDataFrame(
        [(i, v) for i, v in corpus_vecs.items()],
        "doc_id long, embedding array<float>",
    )
    state_dir = str(tmp_path / "state")
    g1 = seed_semantic_state(
        spark, corpus, state_dir, planes=8, rotations=2
    )
    assert snap.current_generation(state_dir) == g1
    assert sorted(os.listdir(g1)) == ["sketches", "vectors"]

    land = tmp_path / "landing"
    land.mkdir()
    rows = [
        (100, vec(9100, corpus_vecs[3])),  # embedding near-dup of corpus 3
        (3, vec(903)),                     # id-recrawl of corpus id 3
        (101, vec(101)),                   # genuinely new
    ]
    with open(land / "b0.jsonl", "w") as f:
        for doc_id, emb in rows:
            f.write(_json.dumps({"doc_id": doc_id, "embedding": emb}) + "\n")

    out_dir = str(tmp_path / "out")
    q = (
        streaming_semantic_gate(
            spark.readStream.schema("doc_id long, embedding array<float>")
            .json(str(land)),
            state_dir, out_dir, threshold=0.95, planes=8, rotations=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {101}
    cur = snap.current_generation(state_dir)
    assert cur != g1
    vec_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(cur, "vectors")).collect()
    )
    assert vec_ids == [1, 2, 3, 4, 5, 101]


def test_seed_guards_fresh_root_and_layout(spark, tmp_path):
    """r13 third-pass fixes: re-seeding an existing root refuses
    (would replace and then delete the current state set), and a
    planes/rotations mismatch between the seeded layout and the gate
    raises instead of silently zeroing recall."""
    import json as _json
    import os
    import random as _r

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        seed_semantic_state,
        streaming_semantic_gate,
    )

    rng = _r.Random(5)
    corpus = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(1, 6)],
        "doc_id long, embedding array<float>",
    )
    state_dir = str(tmp_path / "state")
    seed_semantic_state(spark, corpus, state_dir, planes=8, rotations=2)
    with _pytest.raises(ValueError, match="already has a published"):
        seed_semantic_state(spark, corpus, state_dir, planes=8, rotations=2)

    land = tmp_path / "landing"
    land.mkdir()
    with open(land / "b0.jsonl", "w") as f:
        f.write(_json.dumps(
            {"doc_id": 100, "embedding": [0.1] * 8}) + "\n")
    q = (
        streaming_semantic_gate(
            spark.readStream.schema("doc_id long, embedding array<float>")
            .json(str(land)),
            state_dir, str(tmp_path / "out"),
            planes=16, rotations=1,  # NOT the seeded 8/2
        )
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="was built with layout"):
        q.awaitTermination(240)

def test_streaming_gates_skip_empty_batches_without_churn(spark, tmp_path):
    """r14 advisor: an empty micro-batch (restarts/recovery) must not
    publish a generation — the semantic gate would hardlink the ENTIRE
    sketch/vector state and write an empty out partition, and repeated
    empty triggers would accelerate pruning of useful generations; the
    mixture gate would republish an unchanged ledger. Both now
    early-return; replays of the unrecorded empty batch are no-ops."""
    import json as _json
    import os
    import random as _r

    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_mixture_gate,
        streaming_semantic_gate,
    )

    def vec(seed):
        rng = _r.Random(seed)
        return [rng.gauss(0, 1) for _ in range(8)]

    # batch 0: EMPTY file; batch 1: real rows — both delivered in order
    land = tmp_path / "landing"
    land.mkdir()
    (land / "b0.jsonl").write_text("")
    with open(land / "b1.jsonl", "w") as f:
        for i in (1, 2):
            f.write(_json.dumps({"doc_id": i, "embedding": vec(i)}) + "\n")
    os.utime(land / "b0.jsonl", (1_000_000, 1_000_000))
    os.utime(land / "b1.jsonl", (1_000_001, 1_000_001))

    schema = "doc_id long, embedding array<float>"
    state_dir, out_dir = str(tmp_path / "state"), str(tmp_path / "out")
    q = (
        streaming_semantic_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir, out_dir, threshold=0.95, planes=8,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    # exactly ONE generation: the empty batch 0 published nothing
    gens = [d for d in os.listdir(state_dir) if d.startswith("gen-")]
    assert len(gens) == 1
    assert {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    } == {1, 2}
    # no empty out partition for the skipped batch
    assert not os.path.exists(os.path.join(out_dir, "batch_id=0"))

    # all-recrawl batch: same rows again under a NEW file — the
    # (recrawl-filtered) batch is empty, so again no publish
    cur_before = snap.current_generation(state_dir)
    with open(land / "b2.jsonl", "w") as f:
        for i in (1, 2):
            f.write(_json.dumps({"doc_id": i, "embedding": vec(i)}) + "\n")
    os.utime(land / "b2.jsonl", (1_000_002, 1_000_002))
    q2 = (
        streaming_semantic_gate(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(land)),
            state_dir, out_dir, threshold=0.95, planes=8,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(240)
    assert snap.current_generation(state_dir) == cur_before
    assert len(
        [d for d in os.listdir(state_dir) if d.startswith("gen-")]
    ) == 1

    # mixture gate: an empty first batch creates no ledger at all
    mland = tmp_path / "mlanding"
    mland.mkdir()
    (mland / "b0.jsonl").write_text("")
    mstate = str(tmp_path / "mstate")
    qm = (
        streaming_mixture_gate(
            spark.readStream.schema("doc_id long, source string")
            .json(str(mland)),
            mstate, str(tmp_path / "mout"), "source", {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    assert qm.awaitTermination(240)
    assert not os.path.exists(os.path.join(mstate, "ledger"))


def test_corrupt_markers_raise_contextual_errors(tmp_path):
    """r14 advisor: truncated/corrupt _applied//_LAYOUT JSON surfaces
    as a contextual ValueError naming the file and the remedy — the
    publish lock's posture — never a bare JSONDecodeError/KeyError
    traceback."""
    import pytest as _pytest

    from topn_clashroyal_etl_sql_snapshot_spark.operators.similarity import (
        check_sketch_layout,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        _replay_guard,
    )

    # truncated JSON in an applied-batch marker
    marker = tmp_path / "_applied"
    marker.write_text('{"last_batch": 3, "lin')
    with _pytest.raises(ValueError, match="unparseable content"):
        _replay_guard(str(marker), 1, "qid", "test_gate")
    # well-formed JSON missing the required key
    marker.write_text('{"batch": 3}')
    with _pytest.raises(ValueError, match="unparseable content"):
        _replay_guard(str(marker), 1, "qid", "test_gate")
    # well-formed JSON with a non-numeric value (null) — must be the
    # contextual error, not a bare TypeError at the comparison
    marker.write_text('{"last_batch": null}')
    with _pytest.raises(ValueError, match="unparseable content"):
        _replay_guard(str(marker), 1, "qid", "test_gate")

    # truncated layout marker
    sk = tmp_path / "sketches"
    sk.mkdir()
    (sk / "_LAYOUT").write_text('{"planes": 8, "rot')
    with _pytest.raises(ValueError, match="unparseable content"):
        check_sketch_layout(str(sk), 8, 2)
    # JSON of the wrong shape
    (sk / "_LAYOUT").write_text("[8, 2]")
    with _pytest.raises(ValueError, match="does not hold"):
        check_sketch_layout(str(sk), 8, 2)

def test_empty_batch_still_recovers_and_guards_lineage(spark, tmp_path):
    """r15 advisor finding: the gates' empty-batch early return ran
    BEFORE the parked-dir recovery and the replay/lineage guard — a
    crash between the mixture publish's two renames left the ledger
    parked (readers failing) across any run of empty batches, and a
    reset-checkpoint lineage mismatch surfaced only at the first
    non-empty batch. The shared scaffold now orders recovery + guard
    first; empty batches skip only after both."""
    import json as _json
    import os

    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_mixture_gate,
    )

    land = tmp_path / "landing"
    land.mkdir()
    with open(land / "b0.jsonl", "w") as f:
        for i in range(4):
            f.write(_json.dumps({"doc_id": i, "source": "web"}) + "\n")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    schema = "doc_id long, source string"
    q = (
        streaming_mixture_gate(
            spark.readStream.schema(schema).json(str(land)),
            state, out, "source", {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    ledger = os.path.join(state, "ledger")
    assert os.path.exists(ledger)

    # crash between the publish's two renames: ledger parked at __old
    os.rename(ledger, ledger + "__old")
    # the next trigger delivers ONLY an empty batch — recovery must
    # run anyway (the r14 order skipped it and left readers failing)
    (land / "b1.jsonl").write_text("")
    q2 = (
        streaming_mixture_gate(
            spark.readStream.schema(schema).json(str(land)),
            state, out, "source", {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(240)
    assert os.path.exists(ledger), "empty batch must restore the parked ledger"
    assert not os.path.exists(ledger + "__old")

    # reset-checkpoint lineage mismatch now raises at the FIRST batch
    # EVEN WHEN IT IS EMPTY: fresh checkpoint (batch ids restart at 0)
    # against the live ledger whose marker records a prior lineage —
    # only empty files remain in landing, so the r14 order would have
    # returned silently and deferred detection indefinitely
    import shutil as _shutil

    _shutil.rmtree(os.path.join(state, "_checkpoint"))
    os.remove(land / "b0.jsonl")
    (land / "b2.jsonl").write_text("")
    q3 = (
        streaming_mixture_gate(
            spark.readStream.schema(schema).json(str(land)),
            state, out, "source", {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="checkpoint was reset"):
        q3.awaitTermination(240)


def _funnel_vec(seed, like=None):
    import random as _r

    rng = _r.Random(seed)
    if like is None:
        return [rng.gauss(0, 1) for _ in range(8)]
    return [x + rng.gauss(0, 1e-3) for x in like]


def _funnel_days():
    """Three daily batches exercising every funnel stage: genuinely
    new docs, a byte recrawl, a text near-dup, a SEMANTIC near-dup
    (novel text, duplicate embedding), and enough volume per source
    for the mixture gate to bite."""
    seed_text = {i: f"seed{i} " + " ".join(f"s{i}w{j}" for j in range(25))
                 for i in range(1, 11)}
    seed = [
        (i, seed_text[i], "web" if i % 2 else "books", _funnel_vec(i))
        for i in range(1, 11)
    ]
    days = [
        # day 1: two new docs, a byte recrawl of seed 1, a text
        # near-dup of seed 2, a semantic near-dup of seed 3
        [
            (101, "new101 " + " ".join(f"a{j}" for j in range(25)), "web",
             _funnel_vec(101)),
            (102, "new102 " + " ".join(f"b{j}" for j in range(25)), "books",
             _funnel_vec(102)),
            (103, seed_text[1], "web", _funnel_vec(103)),
            (104, seed_text[2] + " banner", "books", _funnel_vec(104)),
            (105, "novel105 " + " ".join(f"c{j}" for j in range(25)), "web",
             _funnel_vec(9105, like=_funnel_vec(3))),
        ],
        # day 2: near-dup of day-1-admitted 101 (index must have
        # advanced), plus three new web docs to skew the mixture
        [
            (201, "fresh201 " + " ".join(f"d{j}" for j in range(25)), "web",
             _funnel_vec(9201, like=_funnel_vec(101))),
            (202, "new202 " + " ".join(f"e{j}" for j in range(25)), "web",
             _funnel_vec(202)),
            (203, "new203 " + " ".join(f"f{j}" for j in range(25)), "web",
             _funnel_vec(203)),
            (204, "new204 " + " ".join(f"g{j}" for j in range(25)), "web",
             _funnel_vec(204)),
        ],
        # day 3: books-side supply + a recrawl of rejected day-1 104
        [
            (301, "new301 " + " ".join(f"h{j}" for j in range(25)), "books",
             _funnel_vec(301)),
            (302, "new302 " + " ".join(f"i{j}" for j in range(25)), "books",
             _funnel_vec(302)),
            (303, seed_text[2] + " banner", "books", _funnel_vec(104)),
        ],
    ]
    return seed, days


_FUNNEL_SCHEMA = (
    "doc_id long, text string, source string, embedding array<float>"
)
_FUNNEL_KW = dict(
    vec_col="embedding", semantic_threshold=0.95,
    semantic_planes=8, semantic_rotations=2,
)


def _state_fingerprint(spark, gen):
    """Order-insensitive content snapshot of a generation's states."""
    import os

    out = {}
    for name in ("fingerprints", "minhash", "labels", "keepers",
                 "ledger", "vectors", "sketches"):
        p = os.path.join(gen, name)
        if not os.path.isdir(p):
            continue
        df = spark.read.parquet(p)
        if name == "minhash":
            df = df.select("id")  # signatures compare by membership
        if name == "sketches":
            df = df.select("id").distinct()
        if name == "vectors":
            df = df.select("doc_id")
        out[name] = sorted(map(tuple, df.collect()))
    return out


def test_streaming_ingest_gate_matches_batch_loop_day_for_day(
    spark, tmp_path
):
    """r14 (r13 verdict next #1): the unified streaming funnel gate ≡
    run_daily_ingest day-for-day — same admitted ids per batch, same
    final states — with the full state set committing as ONE generation
    per micro-batch. Also: exactly-once crash replay and the
    reset-checkpoint lineage guard carry over."""
    import json as _json
    import os

    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_ingest_gate,
    )

    seed, days = _funnel_days()
    recipe = {"web": 0.5, "books": 0.5}
    corpus = spark.createDataFrame(seed, _FUNNEL_SCHEMA)

    # BATCH arm
    broot = str(tmp_path / "batch_state")
    ingest.bootstrap_state(spark, corpus, broot, **_FUNNEL_KW)
    batch_admitted = []
    for rows in days:
        rep = ingest.run_daily_ingest(
            spark, spark.createDataFrame(rows, _FUNNEL_SCHEMA),
            broot, recipe, **_FUNNEL_KW,
        )
        batch_admitted.append(
            sorted(r["doc_id"] for r in rep["mixed"].collect())
        )

    # STREAMING arm: same seed bootstrap, one micro-batch per day
    sroot = str(tmp_path / "stream_state")
    ingest.bootstrap_state(spark, corpus, sroot, **_FUNNEL_KW)
    land = tmp_path / "landing"
    land.mkdir()
    for k, rows in enumerate(days):
        with open(land / f"day{k}.jsonl", "w") as f:
            for doc_id, text, source, emb in rows:
                f.write(_json.dumps({
                    "doc_id": doc_id, "text": text,
                    "source": source, "embedding": emb,
                }) + "\n")
        os.utime(land / f"day{k}.jsonl", (1_000_000 + k, 1_000_000 + k))

    out_dir = str(tmp_path / "out")

    def stream():
        return (
            spark.readStream.schema(_FUNNEL_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(land))
        )

    q = (
        streaming_ingest_gate(stream(), sroot, out_dir, recipe, **_FUNNEL_KW)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(420), "stream did not finish in time"

    # day-for-day admitted ids match the batch loop exactly
    for k in range(len(days)):
        got = sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(out_dir, f"batch_id={k}")
            ).collect()
        )
        assert got == batch_admitted[k], f"day {k}: {got} vs batch arm"
    # the funnel actually exercised its stages (not all-admitted)
    assert sum(map(len, batch_admitted)) < sum(map(len, days))

    # final states identical across the two arms
    bgen = snap.current_generation(broot)
    sgen = snap.current_generation(sroot)
    bstate = _state_fingerprint(spark, bgen)
    sstate = _state_fingerprint(spark, sgen)
    assert set(bstate) == set(sstate)
    for name in bstate:
        assert bstate[name] == sstate[name], f"state {name} diverged"
    # joint atomicity: ONE generation root carries the WHOLE state set
    assert {"fingerprints", "minhash", "labels", "keepers", "ledger",
            "vectors", "sketches"} <= set(os.listdir(sgen))

    # exactly-once: crash after the last publish but before the
    # checkpoint commit — redelivery must skip via the _applied marker
    n_gens = len([d for d in os.listdir(sroot) if d.startswith("gen-")])
    last = str(len(days) - 1)
    os.remove(os.path.join(sroot, "_checkpoint", "commits", last))
    crc = os.path.join(sroot, "_checkpoint", "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = (
        streaming_ingest_gate(stream(), sroot, out_dir, recipe, **_FUNNEL_KW)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(420)
    assert snap.current_generation(sroot) == sgen  # no replay publish
    assert len(
        [d for d in os.listdir(sroot) if d.startswith("gen-")]
    ) == n_gens
    assert _state_fingerprint(spark, sgen) == sstate

    # reset-lineage guard: fresh checkpoint against live state raises
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    q3 = (
        streaming_ingest_gate(stream(), sroot, out_dir, recipe, **_FUNNEL_KW)
        .option("checkpointLocation", str(tmp_path / "ckpt_reset"))
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q3.awaitTermination(420)


def test_streaming_ingest_gate_cold_start_and_guards(spark, tmp_path):
    """Cold start: bootstrap_state with an EMPTY seed corpus, then the
    first micro-batches found the corpus through the full funnel; an
    un-bootstrapped root raises with the remedy named."""
    import json as _json
    import os

    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_ingest_gate,
    )

    land = tmp_path / "landing"
    land.mkdir()
    rows = [
        (1, "alpha " + " ".join(f"a{j}" for j in range(25)), "web"),
        (2, "beta " + " ".join(f"b{j}" for j in range(25)), "web"),
        (3, "alpha " + " ".join(f"a{j}" for j in range(25)), "web"),  # dup of 1
    ]
    with open(land / "b0.jsonl", "w") as f:
        for doc_id, text, source in rows:
            f.write(_json.dumps(
                {"doc_id": doc_id, "text": text, "source": source}) + "\n")

    schema = "doc_id long, text string, source string"
    root = str(tmp_path / "state")

    # un-bootstrapped root: loud error naming bootstrap_state
    q0 = (
        streaming_ingest_gate(
            spark.readStream.schema(schema).json(str(land)),
            root, str(tmp_path / "out0"), {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(StreamingQueryException, match="bootstrap_state"):
        q0.awaitTermination(240)

    # cold start from an EMPTY seed corpus
    ingest.bootstrap_state(
        spark,
        spark.createDataFrame([], schema),
        root2 := str(tmp_path / "state2"),
    )
    out = str(tmp_path / "out")
    q = (
        streaming_ingest_gate(
            spark.readStream.schema(schema).json(str(land)),
            root2, out, {"web": 1.0},
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2]  # 3 deduped within the batch
    cur = snap.current_generation(root2)
    fp = spark.read.parquet(os.path.join(cur, "fingerprints"))
    assert fp.count() == 2

def test_streaming_ingest_gate_with_gates_and_shards(spark, tmp_path):
    """The gate passes the full run_daily_ingest signature through:
    a stateless gates= transform (hygiene-style drop) runs before the
    stateful funnel, and n_shards>0 writes the batch's admitted shard
    set INSIDE the same generation (verified against its manifest)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import shards as shard_sink
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_ingest_gate,
    )

    land = tmp_path / "landing"
    land.mkdir()
    rows = [
        (1, "short", "web"),  # gate-dropped (too short)
        (2, "kept document " + " ".join(f"a{j}" for j in range(25)), "web"),
        (3, "kept document " + " ".join(f"b{j}" for j in range(25)), "web"),
    ]
    with open(land / "b0.jsonl", "w") as f:
        for doc_id, text, source in rows:
            f.write(_json.dumps(
                {"doc_id": doc_id, "text": text, "source": source}) + "\n")

    schema = "doc_id long, text string, source string"
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, spark.createDataFrame([], schema), root)

    def hygiene(df):
        return df.filter(F.length("text") > 20)

    out = str(tmp_path / "out")
    q = (
        streaming_ingest_gate(
            spark.readStream.schema(schema).json(str(land)),
            root, out, {"web": 1.0}, gates=hygiene, n_shards=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [2, 3]  # 1 died at the stateless gate
    gen = snap.current_generation(root)
    # the shard set committed INSIDE the generation and verifies
    ver = shard_sink.verify_shards(spark, os.path.join(gen, "shards"))
    assert all(r["ok"] for r in ver.collect())
    # gate-dropped docs are NOT indexed (stateless gates re-fail free)
    fp = spark.read.parquet(os.path.join(gen, "fingerprints"))
    assert fp.count() == 2

def test_gates_refuse_non_local_out_dir(spark, tmp_path):
    """r14 fourth review pass: the gates fsync their admitted out
    partitions, which needs os-level access — a non-local out_dir is
    refused LOUDLY at gate construction instead of crashing every
    micro-batch with a mangled-path traceback."""
    import pytest as _pytest

    from topn_clashroyal_etl_sql_snapshot_spark.streaming.incremental import (
        streaming_ingest_gate,
        streaming_mixture_gate,
        streaming_semantic_gate,
    )

    stream = spark.readStream.schema("doc_id long, source string").json(
        str(tmp_path)
    )
    with _pytest.raises(ValueError, match="not a local path"):
        streaming_mixture_gate(
            stream, str(tmp_path / "s"), "hdfs://nn/out", "source", {"w": 1.0}
        )
    with _pytest.raises(ValueError, match="not a local path"):
        streaming_semantic_gate(
            stream, str(tmp_path / "s2"), "s3://bucket/out"
        )
    with _pytest.raises(ValueError, match="not a local path"):
        streaming_ingest_gate(
            stream, str(tmp_path / "s3"), "file://x/out", {"w": 1.0}
        )


# ---------------------------------------------------------------------------
# r16 (r15 verdict next #4): mid-trigger SIGKILL fuzz for the funnel gate.
# The child must be a module-level function (spawn-context pickling).

_FUZZ_SCHEMA = "doc_id long, text string, source string"
_FUZZ_RECIPE = {"web": 0.5, "books": 0.5}


def _gate_fuzz_child(landing, sroot, out_dir, stage, kill_at):
    """Run streaming_ingest_gate over the landing dir with a SIGKILL
    hook armed at one of the trigger's durability boundaries:

    - ``out_written``: after the admitted out partition is written,
      BEFORE its fsync — page-cache-only output, no marker, no flip;
    - ``out_fsynced``: after the fsync, BEFORE the applied-batch
      marker is stamped into the staged generation;
    - ``marker_staged_preflip``: marker stamped and the staged
      generation fully fsynced, BEFORE the ``_CURRENT`` pointer flip;
    - ``none``: no hook (the finisher run).

    The kill is the child killing ITSELF (deterministic placement —
    no parent-side timing roulette)."""
    import os
    import signal

    from pyspark.sql import SparkSession

    from topn_clashroyal_etl_sql_snapshot_spark.sinks import (
        snapshot as snap,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.streaming import (
        incremental as inc,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"gate-fuzz-{stage}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    def boom():
        os.kill(os.getpid(), signal.SIGKILL)

    seen = {"n": 0}
    if stage in ("out_written", "out_fsynced"):
        real_fsync = inc._fsync_out_partition

        def hook(part):
            if stage == "out_written":
                if seen["n"] == kill_at:
                    boom()
                seen["n"] += 1
                real_fsync(part)
            else:
                real_fsync(part)
                if seen["n"] == kill_at:
                    boom()
                seen["n"] += 1

        inc._fsync_out_partition = hook
    elif stage == "marker_staged_preflip":
        real_tree = snap.fsync_dir_tree

        def hook(path):
            real_tree(path)
            # only the publish-level call on the staged generation
            # directory itself — per-state and out-partition fsyncs
            # pass through
            if os.path.basename(path).startswith("gen-"):
                if seen["n"] == kill_at:
                    boom()
                seen["n"] += 1

        snap.fsync_dir_tree = hook
    elif stage != "none":
        raise ValueError(stage)

    stream = (
        spark.readStream.schema(_FUZZ_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(landing)
    )
    q = (
        inc.streaming_ingest_gate(
            stream, sroot, out_dir, _FUZZ_RECIPE
        )
        .trigger(availableNow=True)
        .start()
    )
    ok = q.awaitTermination(300)
    spark.stop()
    raise SystemExit(0 if ok else 3)


def test_streaming_ingest_gate_mid_trigger_sigkill_fuzz(spark, tmp_path):
    """r16 (r15 verdict next #4): REAL SIGKILLs mid-trigger — a child
    process runs the full funnel gate and kills itself at a seeded,
    randomized batch inside each durability window (out written / out
    fsynced / marker staged pre-flip); a clean child then restarts
    from the streaming checkpoint. After every crash-and-restart the
    gate must deliver exactly the batch-loop reference: same admitted
    ids per batch partition, same final states, marker at the last
    batch — exactly-once under hard crashes, not just simulated
    ones."""
    import json as _json
    import multiprocessing as mp
    import os
    import random
    import signal

    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as snap

    seed, days = _funnel_days()
    seed = [(i, t, s) for i, t, s, _ in seed]  # text-only: the crash
    days = [[(i, t, s) for i, t, s, _ in d] for d in days]  # windows
    # under test are identical with/without the semantic leg

    # batch-loop reference arm (in THIS session)
    broot = str(tmp_path / "batch_state")
    corpus = spark.createDataFrame(seed, _FUZZ_SCHEMA)
    ingest.bootstrap_state(spark, corpus, broot)
    ref_admitted = []
    for rows in days:
        rep = ingest.run_daily_ingest(
            spark, spark.createDataFrame(rows, _FUZZ_SCHEMA),
            broot, _FUZZ_RECIPE,
        )
        ref_admitted.append(sorted(r["doc_id"] for r in rep["mixed"].collect()))
    ref_state = _state_fingerprint(spark, snap.current_generation(broot))

    land = tmp_path / "landing"
    land.mkdir()
    for k, rows in enumerate(days):
        with open(land / f"day{k}.jsonl", "w") as f:
            for doc_id, text, source in rows:
                f.write(_json.dumps(
                    {"doc_id": doc_id, "text": text, "source": source}
                ) + "\n")
        os.utime(land / f"day{k}.jsonl", (1_000_000 + k, 1_000_000 + k))

    rng = random.Random(0x516B16)  # seeded: reproducible kill points
    ctx = mp.get_context("spawn")
    for stage in ("out_written", "out_fsynced", "marker_staged_preflip"):
        kill_at = rng.randrange(len(days))
        sroot = str(tmp_path / f"stream_{stage}")
        out_dir = str(tmp_path / f"out_{stage}")
        ingest.bootstrap_state(spark, corpus, sroot)

        crasher = ctx.Process(
            target=_gate_fuzz_child,
            args=(str(land), sroot, out_dir, stage, kill_at),
        )
        crasher.start()
        crasher.join(420)
        assert not crasher.is_alive(), f"{stage}: crasher hung"
        assert crasher.exitcode == -signal.SIGKILL, (
            f"{stage}: expected SIGKILL death, got {crasher.exitcode}"
        )

        finisher = ctx.Process(
            target=_gate_fuzz_child,
            args=(str(land), sroot, out_dir, "none", -1),
        )
        finisher.start()
        finisher.join(420)
        assert finisher.exitcode == 0, (
            f"{stage}: finisher exit {finisher.exitcode}"
        )

        # exactly-once: per-batch admitted output equals the batch arm
        for k in range(len(days)):
            got = sorted(
                r["doc_id"]
                for r in spark.read.parquet(
                    os.path.join(out_dir, f"batch_id={k}")
                ).collect()
            )
            assert got == ref_admitted[k], (
                f"{stage} kill@{kill_at}: batch {k}: {got} "
                f"vs {ref_admitted[k]}"
            )
        # final states equal the batch arm's; marker is at the last
        # batch from a resolvable, complete generation
        sgen = snap.current_generation(sroot)
        assert sgen is not None
        got_state = _state_fingerprint(spark, sgen)
        assert got_state == ref_state, f"{stage}: states diverged"
        with open(os.path.join(sgen, snap.APPLIED_MARKER)) as f:
            assert _json.load(f)["last_batch"] == len(days) - 1
