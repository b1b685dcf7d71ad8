"""Physical-plan assertions (SURVEY.md §4 "Physical plan expectations"):
the snapshot pipeline must stay entirely JVM-side (no BatchEvalPython /
ArrowEvalPython nodes anywhere) and the small dims — overrides on both
sides, the TopN player gate — must come in as broadcast joins, not
shuffles. Catching a regression here is cheaper than finding it as a
10× slowdown at 100 TB."""

from __future__ import annotations

import io
import contextlib

import pytest

from pyspark.sql import functions as F

from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
    BATTLE_SCHEMA,
    CARD_METADATA_SCHEMA,
    LEADERBOARD_SCHEMA,
    OVERRIDES_SCHEMA,
)
from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
    CATALOG_ROWS,
    generate_fixture,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def snapshot(spark):
    leaderboard, battles, overrides = generate_fixture()
    result = pipeline.build_snapshot(
        spark,
        battles=spark.createDataFrame(battles, BATTLE_SCHEMA),
        leaderboard=spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA),
        catalog=spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA),
        overrides=spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
        top_n=5,
    )
    return result


def test_no_python_eval_anywhere(snapshot):
    """Zero Python UDF nodes in any warehouse table's plan — the whole
    ETL is built-in column algebra and runs in the JVM. (Not all of it
    in whole-stage codegen: a ``Project`` holding a lambda, and every
    ``CollectMetrics``, runs interpreted.)"""
    for name, df in snapshot.tables.items():
        plan = _plan(df)
        assert "BatchEvalPython" not in plan, f"{name}: Python UDF in plan"
        assert "ArrowEvalPython" not in plan, f"{name}: Arrow UDF in plan"
        assert "mapInPandas" not in plan, f"{name}: pandas map in plan"


def test_dim_joins_broadcast(spark, snapshot):
    """The override applications (team + opp side, now inside the
    pre-checkpoint lineage) and the TopN player gate are
    BroadcastHashJoins; no SortMergeJoin sneaks into the core or the
    fan-out."""
    from topn_clashroyal_etl_sql_snapshot_spark.operators import deck as deck_ops

    leaderboard, battles, overrides = generate_fixture()
    maps = deck_ops.catalog_maps(
        spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    )
    core, _ = pipeline.participant_rows(
        spark.createDataFrame(battles, BATTLE_SCHEMA),
        maps,
        spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
    )
    core_plan = _plan(core)
    assert core_plan.count("BroadcastHashJoin") >= 2, core_plan  # overrides ×2
    assert "SortMergeJoin" not in core_plan, "override join fell back to shuffle"

    plan = _plan(snapshot.tables["player_decks"])
    assert plan.count("BroadcastHashJoin") >= 1, plan  # TopN semi gate
    assert "SortMergeJoin" not in plan, "dim join fell back to shuffle join"


def test_matchups_no_join_at_all(snapshot):
    """E6 is one aggregate over the participant core (each row carries
    its opponent's deck type) — the override broadcasts sit upstream of
    the checkpoint; no fact-to-fact join anywhere."""
    plan = _plan(snapshot.tables["meta_type_matchups"])
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_fanout_reads_persisted_cores(spark, snapshot, tmp_path):
    """Every warehouse table except the leaderboard-derived player dim
    reads through a materialization boundary — the checkpointed
    participant core or a checkpointed grain/dim (Scan ExistingRDD),
    never a persist() cache (InMemoryTableScan) — and never re-derives
    the parse/dedup/classify upstream (witnessed by the match-dedup
    Window, which only exists in that lineage). A table that
    re-derived the raw input would repeat the most expensive stage of
    the pipeline once per write job at corpus scale.

    Layout: a checkpoint keeps the AQE-coalesced partitioning of its
    grain's final shuffle, so the tables read from ``deck_first``
    publish fewer files than ``spark.sql.shuffle.partitions`` (an
    InMemoryRelation kept every shuffle partition, one file each)."""
    import os

    from topn_clashroyal_etl_sql_snapshot_spark.sinks import snapshot as sink

    for name, df in snapshot.tables.items():
        if name == "player":
            continue
        plan = _plan(df)
        assert "Scan ExistingRDD" in plan, (
            f"{name}: no checkpoint boundary in plan\n{plan}"
        )
        assert "InMemoryTableScan" not in plan, (
            f"{name}: reads a persist() cache\n{plan}"
        )
        # the match-hash dedup window only exists in the raw parse
        # lineage (deck_first's first-seen window over the checkpointed
        # core partitions by deck_hash and is expected)
        assert "windowspecdefinition(match_hash" not in plan, (
            f"{name}: match-dedup window in plan — re-derives the raw "
            f"input\n{plan}"
        )

    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wh = str(tmp_path / "wh")
    sink.write_snapshot(
        {n: snapshot.tables[n] for n in ("decks", "deck_cards")}, wh
    )
    for name in ("decks", "deck_cards"):
        files = [
            f for f in os.listdir(os.path.join(wh, name))
            if f.startswith("part-")
        ]
        assert 0 < len(files) < partitions, (name, files)


def test_case_mapping_takes_jvm_path(spark):
    """``get_spark`` turns ICU case mapping off, so ``upper``/``lower``
    compile to the ``UTF8_BINARY`` JVM path (ASCII fast path, else
    ``String.toUpperCase()``/``toLowerCase()``). The ICU path's first
    call in a JVM builds a title-case table over every code point, a
    fixed cost each cold refresh would pay in its match-hash stage. The
    input is a column, not a literal, so constant folding keeps the call."""
    df = spark.range(1).select(F.col("id").cast("string").alias("s"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.select(F.upper("s"), F.lower("s")).explain("codegen")
    code = buf.getvalue()
    assert "CollationSupport.Upper.execBinary(" in code, code
    assert "CollationSupport.Lower.execBinary(" in code, code
    assert "execBinaryICU" not in code, code


def test_participants_single_shuffle_lineage(spark):
    """The participant construction (pre-checkpoint lineage, exposed as
    ``participant_rows``) contains exactly ONE shuffle Exchange — the
    match-hash dedup window — between the scan and the unpivot
    (content-hash keys: uniform distribution, no skew). The override
    dims enter via BroadcastExchange, which moves no fact data. The
    checkpointed core ``build_snapshot`` hands out is a bare block scan
    (zero Exchanges) — the fan-out never repeats this lineage."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators import deck as deck_ops

    leaderboard, battles, overrides = generate_fixture()
    bdf = spark.createDataFrame(battles, BATTLE_SCHEMA)
    odf = spark.createDataFrame(overrides, OVERRIDES_SCHEMA)
    maps = deck_ops.catalog_maps(
        spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    )
    core, _ = pipeline.participant_rows(bdf, maps, odf)
    plan = _plan(core)
    shuffles = re.findall(r"[+:]- Exchange", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle in participant core:\n{plan}"


def test_core_builds_each_lambda_once(spark):
    """The participant lineage holds each higher-order function once:
    at most 40 lambda nodes (118 when a filter on the extracted decks
    was pushed below their projection, substituting the extraction into
    it, and each classifier rule re-derived the card names), and exactly
    one extraction ``transform`` per side. Lambdas run interpreted, per
    row, so a copy in the plan is a copy of the work."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators import deck as deck_ops

    leaderboard, battles, overrides = generate_fixture()
    maps = deck_ops.catalog_maps(
        spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    )
    core, _ = pipeline.participant_rows(
        spark.createDataFrame(battles, BATTLE_SCHEMA),
        maps,
        spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
    )
    plan = _plan(core)
    assert plan.count("lambdafunction(") <= 40, plan
    for side in ("team", "opponent"):
        extractions = re.findall(
            rf"transform\(slice\({side}#\d+\[0\]\.cards, 1, 8\), "
            r"lambdafunction\((?:named_)?struct\(card_id,",
            plan,
        )
        assert len(extractions) == 1, (side, plan)


def test_checkpointed_core_is_bare_scan(snapshot):
    """The materialized core is a lineage-truncated block scan: no
    Exchange, no Window — downstream tables analyze one node instead of
    the whole parse/dedup/classify tree (the r17 build-cost fix)."""
    plan = _plan(snapshot.participants)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_scan_counters_report_is_relational(spark):
    """E7 counters: the participant lineage ``build_snapshot``
    checkpoints carries one CollectMetrics node per counter, and no
    Python nodes, so the counters ride the checkpoint job."""
    from topn_clashroyal_etl_sql_snapshot_spark.operators import deck as deck_ops

    leaderboard, battles, overrides = generate_fixture()
    maps = deck_ops.catalog_maps(
        spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    )
    core, observed = pipeline.participant_rows(
        spark.createDataFrame(battles, BATTLE_SCHEMA),
        maps,
        spark.createDataFrame(overrides, OVERRIDES_SCHEMA),
    )
    assert tuple(observed) == pipeline.E7_COUNTERS
    plan = _plan(core)
    assert plan.count("CollectMetrics (") == len(pipeline.E7_COUNTERS), plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_asof_join_single_exchange(spark):
    """The union-window as-of composition shuffles exactly once (on the
    by-key) and keeps Python out of the plan — the property that makes
    it viable at 100 TB where a theta-join or pandas merge would not
    be."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators.asof import asof_join

    left = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 10).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    right = spark.range(30).select(
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 33).alias("ts"),
        F.lit(2.0).alias("value"),
    )
    out = asof_join(left, right, ts_col="ts", by_cols=["user_id"])
    plan = _plan(out)
    shuffles = re.findall(r"[+:]- Exchange", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle in as-of join:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pack_greedy_single_exchange_no_python(spark):
    """Greedy packing is window algebra: one shuffle on the shard key,
    codegen throughout."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators.packing import pack_greedy

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"),
        (F.col("id") % 977 + 17).alias("n_tokens"),
    )
    out = pack_greedy(docs, ["source"], [F.asc("doc_id")], "n_tokens", budget=4096)
    plan = _plan(out)
    shuffles = re.findall(r"[+:]- Exchange", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle in greedy packing:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_per_group_cap_single_exchange_no_python(spark):
    """The per-group cap is a rank-only window: one shuffle on the group
    key, filter inside the same stage."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators.sampling import per_group_cap

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"),
        (F.col("id") % 977).alias("n_chars"),
    )
    out = per_group_cap(docs, ["source"], [F.desc("n_chars"), F.asc("doc_id")], 5)
    plan = _plan(out)
    shuffles = re.findall(r"[+:]- Exchange", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle in per-group cap:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r7_registered_rows_plan_pins(spark):
    """Registered-query-level plan audit for the r7 rows: no cartesian
    anywhere, no Python eval nodes in any row path, the LM row's model
    joins broadcast, and the quantile gate is a one-exchange window."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries as q

    sf = "/root/testdata/sf0.001"
    for fn in (
        q.semantic_neardup_pairs,
        q.lm_perplexity,
        q.chunk_by_chars,
        q.docs_dedup_lines,
    ):
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
        if fn is q.lm_perplexity:
            assert "BroadcastHashJoin" in plan


def test_r8_registered_rows_plan_pins(spark):
    """Registered-query-level plan audit for the r8 rows: no cartesian,
    no Python eval nodes; the wordlist scorer's weight table broadcasts;
    bm25's only nested-loop join is the 1-row stats cross."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries as q

    sf = "/root/testdata/sf0.001"
    for fn in (
        q.docs_containment,
        q.docs_term_quality,
        q.docs_corpus_profile,
        q.docs_bm25_topk,
    ):
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
        if fn is q.docs_term_quality:
            assert "BroadcastHashJoin" in plan
        if fn is q.docs_bm25_topk:
            # formatted explain lists each node twice (tree + detail
            # section) — one physical BNLJ node = the 1-row stats cross
            import re

            nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
            assert len(nodes) <= 1, plan
        else:
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_r9_registered_rows_plan_pins(spark):
    """Registered-query-level plan audit for the r9 rotation crop: no
    cartesian, no Python eval nodes anywhere; the hashed classifier's
    weight table broadcasts (model-bounded, zero corpus shuffle)."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries as q

    sf = "/root/testdata/sf0.001"
    for fn in (
        q.docs_exact_substring,
        q.docs_classifier_margin,
        q.text_ngram_repetition,
        q.embedding_pq_adc,
    ):
        plan = _plan(fn(spark, sf))
        assert "CartesianProduct" not in plan, fn.__name__
        if fn is q.embedding_pq_adc:
            # r9 full-probe shortcut: the ADC-contract row (nprobe =
            # n_coarse, filtered batch) deliberately plans codes ×
            # broadcast(query table) as a BroadcastNestedLoopJoin —
            # the broadcast side is the BOUNDED query batch, and the
            # pair count equals what the coarse bucket join emitted
            # before, minus its two centroid passes and cidx shuffle.
            assert "BroadcastNestedLoopJoin" in plan, fn.__name__
        else:
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
        if fn is q.docs_classifier_margin:
            assert "BroadcastHashJoin" in plan


def test_per_group_quantile_cap_single_exchange_no_python(spark):
    """The fractional gate computes rank AND group size in ONE window
    exchange — adding the count must not buy a second shuffle."""
    import re

    from topn_clashroyal_etl_sql_snapshot_spark.operators.sampling import (
        per_group_quantile_cap,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("source"),
        (F.col("id") % 977).alias("score"),
    )
    out = per_group_quantile_cap(
        docs, ["source"], [F.desc("score"), F.asc("doc_id")], 0.3
    )
    plan = _plan(out)
    shuffles = re.findall(r"[+:]- Exchange", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle in quantile cap:\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r14_registered_row_plan_pins(spark):
    """Registered-query-level plan audit for the r14 row
    (embedding_neardup_incremental at its permissive driver
    configuration): no cartesian, no Python eval nodes — the candidate
    join shuffles on (rot, bucket) keys and verification is two
    id-keyed joins, never an all-pairs plan."""
    from topn_clashroyal_etl_sql_snapshot_spark.plans import llm_queries as q

    plan = _plan(q.embedding_neardup_incremental(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
