"""The snapshot ETL pipeline as one declarative DataFrame DAG.

Re-expresses the reference's single-threaded accumulator loop
(``/root/reference/scripts/etl_snapshot_topn.py:189-345``) as:

    read landing JSON
      → ranked-1v1 filter (B1)
      → match-hash dedup (B9 + D2, deterministic first-pick)
      → deck validation (B6) on the raw cards, then extraction
      → deck hash (B8) + classification (C1-C3, override-aware)
      → unpivot to participant grain (D1) + win flag (B7)
      → materialize participants (localCheckpoint), beside the
        leaderboard guard
      → materialize the shared grains (localCheckpoint), at once
      → dims (D3-D6) + rollups (E1-E5) + matchup matrix (E6)

Scale notes (the 100 TB story):
- The battle→participant core is ONE pass; ``participants`` is
  materialized before fanning out to the rollup writes, mirroring the
  reference's single-pass multi-aggregate structure (SURVEY.md §4).
- The three shared grains are materialized the same way, so AQE
  coalesces each one's final shuffle and every table write downstream
  runs a few right-sized tasks, not ``spark.sql.shuffle.partitions``.
- Materializations that do not depend on each other are submitted at
  once (:func:`~..session.run_concurrently`): the leaderboard guard
  with the core's checkpoint job, then the three grain checkpoints. A
  job's tasks fill the cores another's stage tail leaves idle, and the
  driver-side planning of one overlaps the others' execution.
- The card catalog and overrides are tiny dimensions → map literals /
  broadcast joins; nothing here shuffles except the groupBys themselves
  and the two first-seen windows (match dedup, deck dim), both keyed on
  high-cardinality content hashes → near-uniform shuffle distribution, no
  skew. AQE handles residual skew.
- All expressions are built-in Catalyst expressions — zero Python UDFs,
  so the plan runs in the JVM. Not all of it in whole-stage codegen: a
  ``Project`` holding a lambda (the deck extraction, hash and
  classifier, the match hash) runs interpreted, as do the E7
  ``CollectMetrics`` nodes. So the core builds each lambda once: the
  derived arrays several rules read (a deck's card names, their elixir
  costs) are staged as columns, and each derived column is one parsed
  SQL expression, which also keeps plan construction to a few py4j
  round trips per column.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exprs
from ..operators import deck as deck_ops
from ..session import run_concurrently

# Tables produced by one snapshot refresh (+ deck_type_overrides preserved
# separately — scripts/etl_snapshot_topn.py:162-182 excludes it from truncate).
SNAPSHOT_TABLES = (
    "deck_types",
    "player",
    "cards",
    "decks",
    "deck_cards",
    "player_battles",
    "player_decks",
    "meta_deck_types",
    "meta_type_deck_ids",
    "meta_type_cards",
    "player_type_cards",
    "meta_type_matchups",
)


@dataclass
class SnapshotResult:
    tables: dict[str, DataFrame]
    participants: DataFrame  # materialized core (localCheckpoint)
    counters: dict[str, int] = field(default_factory=dict)

    def unpersist(self) -> None:
        """No-op. Nothing the build makes is persisted: the core and the
        shared grains are localCheckpoint blocks, which ContextCleaner
        releases once the result is dropped. Kept only because
        ``perfbench/workloads.py`` calls it."""


def _uses_wins():
    """groupBy(keys).agg(uses, wins) — the E-family accumulator pattern
    (scripts/etl_snapshot_topn.py:230-345): count observations, sum wins."""
    return [
        F.count(F.lit(1)).alias("uses"),
        F.sum(F.col("won").cast("long")).alias("wins"),
    ]


# E7 scan counters, in pipeline order (see :func:`participant_rows`).
E7_COUNTERS = (
    "scanned_entries",
    "ranked_1v1",
    "deduped_matches",
    "valid_battles",
    "stream_deduped_matches",
)

MAX_LEADERBOARD_ROWS = 1000  # one API page — the REST source's hard cap


def top_players_df(
    leaderboard: DataFrame, top_n: int, max_rows: int = MAX_LEADERBOARD_ROWS
) -> DataFrame:
    """Leaderboard → player dim (scripts/etl_snapshot_topn.py:203-216).

    Mirrors the reference's two edge behaviors exactly: the positional
    top_n cut applies to the RAW rows first (``raw[: args.top_n]``), so
    an empty-tag row inside the cut shrinks the player dim rather than
    pulling in a replacement; and ``rank_global = int(rank or i)``
    treats rank 0 as falsy (Python ``or``), falling back to 1-based
    position. The API returns rank order, so position ≡ rank ordering
    (Spark has no scan order to lean on).

    The ranking window below is a SINGLE partition — sound only because
    a leaderboard is one API page (≤1000 rows) by construction. That
    contract is now ENFORCED, not assumed: a table-scale input would
    silently serialize the whole dataset through one task, so we scan at
    most max_rows+1 rows (cheap — limit pushes into the scan) and refuse
    anything larger. Pass a bigger ``max_rows`` deliberately if a future
    source genuinely pages beyond 1000.
    """
    if leaderboard.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"leaderboard exceeds {max_rows} rows; top_players_df ranks in a "
            "single-partition window sized for one API page — raise max_rows "
            "explicitly if this input is intentional"
        )
    w = Window.orderBy(F.col("rank").asc_nulls_last(), F.col("tag"))
    return (
        leaderboard.withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= top_n)
        .withColumn("player_tag", exprs.normalize_tag(F.col("tag")))
        .filter(F.col("player_tag") != "")
        .select(
            "player_tag",
            F.trim(F.coalesce(F.col("name"), F.lit(""))).alias("player_name"),
            exprs.ladder_value(F.col("trophies"), F.col("eloRating")).alias("trophies"),
            F.when(F.col("rank").isNotNull() & (F.col("rank") != 0), F.col("rank"))
            .otherwise(F.col("_pos"))
            .cast("int")
            .alias("rank_global"),
        )
    )


def ranked_battles(battles: DataFrame) -> DataFrame:
    """B1 ranked-1v1 filter."""
    return battles.filter(
        exprs.is_ranked_1v1(F.col("team"), F.col("opponent"), F.col("gameMode.id"))
    )


def deduped_battles(ranked: DataFrame) -> DataFrame:
    """B9 match hash + D2 dedup of :func:`ranked_battles` rows.

    Reference keeps the first-in-scan-order copy (scripts:257-261).
    Spark has no scan order; we make the pick deterministic by ordering
    copies on their full serialized content. One shuffle on match_hash
    (high-cardinality content hash → uniform distribution).
    """
    hashed = ranked.withColumn(
        "match_hash",
        exprs.match_hash(
            F.col("battleTime"),
            F.col("gameMode.id"),
            F.col("gameMode.name"),
            F.col("type"),
            F.col("team"),
            F.col("opponent"),
        ),
    )
    dedup_w = Window.partitionBy("match_hash").orderBy(
        F.to_json(F.struct("team", "opponent"))
    )
    return (
        hashed.withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def extracted_battles(deduped: DataFrame, maps: dict) -> DataFrame:
    """Structural validation + B6 deck extraction (scripts:263-282):
    both tags non-empty, both decks valid, else the whole battle is
    discarded. Validity is tested on the raw cards, so each side's
    observation array is built once, by the projection, for the battles
    that pass."""
    team, opp = "team[0].cards", "opponent[0].cards"
    return (
        deduped.filter(
            F.expr(f"{deck_ops.valid_deck(team)} AND {deck_ops.valid_deck(opp)}")
        )
        .select(
            "match_hash",
            "battleTime",
            exprs.normalize_tag(F.col("team")[0]["tag"]).alias("team_tag"),
            exprs.normalize_tag(F.col("opponent")[0]["tag"]).alias("opp_tag"),
            F.expr("coalesce(team[0].crowns, 0) AS team_crowns"),
            F.expr("coalesce(opponent[0].crowns, 0) AS opp_crowns"),
            F.expr(deck_ops.deck_obs(team, maps["name_by_id"])).alias("team_obs"),
            F.expr(deck_ops.deck_obs(opp, maps["name_by_id"])).alias("opp_obs"),
        )
        .filter((F.col("team_tag") != "") & (F.col("opp_tag") != ""))
    )


def participant_rows(
    battles: DataFrame, maps: dict, overrides: DataFrame
) -> tuple[DataFrame, dict[str, Observation]]:
    """The LAZY participant-grain construction: ranked filter → match
    dedup → extraction/validation → B8 hash + C1-C3 classify (override
    beats classifier, broadcast left joins) → D1 unpivot (each deduped
    battle → 2 participant observations, scripts:304-310; side index
    keeps first-seen ordering deterministic downstream; each row also
    carries the OPPONENT's deck type so every table — including the E6
    matchup matrix — derives from this one frame).

    Also returns the E7 scan counters (scripts:249,261 accounting) as
    one ``Observation`` per name in :data:`E7_COUNTERS`, filled by the
    first action that runs the frame: ``scanned_entries``,
    ``ranked_1v1`` (B1 survivors), ``deduped_matches`` (counted BEFORE
    deck validation, as the reference does: dedup at scripts:257-261,
    discards at :279-282), ``valid_battles`` and
    ``stream_deduped_matches`` (deduped matches whose battleTime parses
    as the watermark event time — what the Structured Streaming dedup
    twin must reproduce). The stages form one linear lineage (the
    override joins broadcast the overrides, not the battles), so each
    observe sees every row of its stage exactly once.

    ``build_snapshot`` materializes the frame once (localCheckpoint)
    before the table fan-out; exposed separately so plan pins can assert
    the lineage shape (one content-hash shuffle, dims via
    BroadcastExchange only)."""
    from ..streaming.incremental import parse_battle_time

    observed = {k: Observation() for k in E7_COUNTERS}

    def counted(df: DataFrame, counter: str, n=None) -> DataFrame:
        n = F.count(F.lit(1)) if n is None else n
        return df.observe(observed[counter], n.alias("n"))

    ranked = counted(
        ranked_battles(counted(battles, "scanned_entries")), "ranked_1v1"
    )
    deduped = counted(
        counted(deduped_battles(ranked), "deduped_matches"),
        "stream_deduped_matches",
        F.count_if(parse_battle_time(F.col("battleTime")).isNotNull()),
    )
    extracted = counted(extracted_battles(deduped, maps), "valid_battles")

    # --- B8 hash + C1-C3 classify (override beats classifier) -----------
    classified = deck_ops.classify_cards(
        extracted.withColumns({
            "team_dh": F.expr(deck_ops.deck_hash_from_obs("team_obs")),
            "opp_dh": F.expr(deck_ops.deck_hash_from_obs("opp_obs")),
        }),
        {"team_cls": "team_obs.card_name", "opp_cls": "opp_obs.card_name"},
        maps,
    )

    # Override application (C3, scripts:290-291) — broadcast left joins.
    ov = overrides.select(
        F.col("deck_hash").alias("_ov_dh"), F.col("deck_type").alias("_ov_type")
    )
    battles_core = (
        classified.join(
            F.broadcast(ov), F.col("team_dh") == F.col("_ov_dh"), "left"
        )
        .withColumn("team_dtype", F.coalesce(F.col("_ov_type"), F.col("team_cls")))
        .drop("_ov_dh", "_ov_type")
        .join(F.broadcast(ov), F.col("opp_dh") == F.col("_ov_dh"), "left")
        .withColumn("opp_dtype", F.coalesce(F.col("_ov_type"), F.col("opp_cls")))
        .drop("_ov_dh", "_ov_type")
    )

    # D1 unpivot: each battle → one row per side, with B7's win flag
    def side(i: int, me: str, them: str) -> str:
        return (
            f"named_struct('side', {i}, 'player_tag', {me}_tag, "
            f"'deck_hash', {me}_dh, 'deck_type', {me}_dtype, "
            f"'opp_deck_type', {them}_dtype, 'obs', {me}_obs, "
            f"'won', {me}_crowns > {them}_crowns)"
        )

    participants = battles_core.select(
        "match_hash",
        "battleTime",
        F.expr(f"inline(array({side(0, 'team', 'opp')}, {side(1, 'opp', 'team')}))"),
    )
    return participants, observed


def build_snapshot(
    spark: SparkSession,
    battles: DataFrame,
    leaderboard: DataFrame,
    catalog: DataFrame,
    overrides: DataFrame,
    top_n: int = 20,
    collect_counters: bool = True,
) -> SnapshotResult:
    """Run the full snapshot ETL; returns all 11 warehouse tables as
    (lazy) DataFrames sharing one materialized participant core, and the
    E7 scan counters of :func:`participant_rows`. The counters are read
    from the core's checkpoint job: no extra action, and reading them
    starts no job. ``collect_counters`` therefore has no effect; it is
    kept only because ``perfbench/workloads.py`` passes it."""
    # --- D1 unpivot to participant grain + materialize -------------------
    # localCheckpoint, not persist (r17, guide §3.3 "materialising an
    # intermediate truncates the plan"): the parse/dedup/classify
    # lineage embeds the catalog maps as ~10³ literal nodes, and under
    # persist() every one of the 12 downstream table constructions
    # re-analyzed that whole tree — profiled at 4.0 s of per-op JVM
    # analysis (6,990 py4j round trips) per build, as much as the
    # compute. The checkpoint truncates the plan to a block scan, so
    # downstream analysis walks one node; the materialization job is
    # the same first-action job persist() paid, just moved into the
    # build. Storage/reuse behavior is identical (stored blocks, every
    # table reads them once); blocks release via ContextCleaner when
    # the result drops, same as the dedup family's checkpoint caches.
    # The lazy construction lives in :func:`participant_rows` so the
    # physical-plan pins (single shuffle, broadcast dims) can still see
    # the pre-checkpoint lineage.
    #
    # The leaderboard guard's count() (top_players_df) needs nothing
    # from the core, so it runs beside the core's construction and
    # checkpoint job instead of ahead of them.
    def materialized_core():
        maps = deck_ops.catalog_maps(catalog)
        core, observed = participant_rows(battles, maps, overrides)
        return core.localCheckpoint(eager=True), observed

    player, (participants, observed) = run_concurrently(
        spark, [lambda: top_players_df(leaderboard, top_n), materialized_core]
    )
    counters = {k: int(o.get["n"]) for k, o in observed.items()}

    # --- shared rollup grains (r17, guide §2.3/§2.4) ----------------------
    # The E-family rollups all group by subsets of two grains, and each
    # previously re-scanned the persisted core and paid its OWN
    # corpus-sized exchange (plus its own ×8 obs explode for the card
    # tables). One aggregation per grain — cardinality ~ unique
    # (type, opp_type, deck) / (type, card) combinations, model-sized,
    # never corpus-sized — now feeds the siblings; the downstream
    # groupBys re-aggregate pre-aggregated partials (sum of counts =
    # count, sum of sums = sum — exact, order-free). Corpus-sized
    # exchanges across these five tables: 5 → 2; obs explodes: 2 → 1.
    #
    # ``type_grain`` serves meta_type_matchups / meta_deck_types /
    # meta_type_deck_ids; ``card_grain`` serves meta_type_cards / cards
    # (card_name rides as a grain key so the cards dim's max-per-id is
    # a regroup of the same frame).
    #
    # Both grains (and ``deck_first`` below) are materialized with the
    # core's primitive, localCheckpoint, not persist(): the checkpoint
    # job runs the AQE plan, so the stored blocks keep the COALESCED
    # partitioning of the grain's final shuffle (a handful of
    # partitions at snapshot scale), whereas an InMemoryRelation keeps
    # all ``spark.sql.shuffle.partitions`` and every write stage
    # reading it ran that many tasks (and wrote that many files).
    type_grain = participants.groupBy(
        "deck_type", "opp_deck_type", "deck_hash"
    ).agg(*_uses_wins())
    card_grain = (
        participants.select("deck_type", "won", F.explode("obs").alias("c"))
        .groupBy(
            "deck_type",
            F.col("c.card_id").alias("card_id"),
            F.col("c.card_variant").alias("card_variant"),
            F.col("c.card_name").alias("card_name"),
        )
        .agg(*_uses_wins())
    )

    # First-seen-wins deck dim (D4, scripts:312-314): deterministic pick =
    # min over (battleTime, match_hash, side). Classifier+overrides are
    # hash-deterministic so deck_type is identical across observations;
    # only slot order can differ between copies of the same deck.
    first_seen = Window.partitionBy("deck_hash").orderBy(
        "battleTime", "match_hash", "side"
    )
    # Materialized: three tables (decks, deck_cards, player_type_cards)
    # consume this, and the window behind it re-shuffles the ENTIRE
    # participant core by deck_hash — without the checkpoint each
    # table's write job would repeat that corpus-sized shuffle. The
    # output itself is small (one row per unique deck).
    deck_first = (
        participants.withColumn("_rn", F.row_number().over(first_seen))
        .filter(F.col("_rn") == 1)
        .select("deck_hash", "deck_type", "obs")
    )

    # The three checkpoints each scan the materialized core and none
    # needs another, so their jobs run at once.
    type_grain, card_grain, deck_first = run_concurrently(
        spark,
        [
            functools.partial(df.localCheckpoint, eager=True)
            for df in (type_grain, card_grain, deck_first)
        ],
    )

    def _sum_uses_wins():
        return [F.sum("uses").alias("uses"), F.sum("wins").alias("wins")]

    # --- E6 matchup matrix (both perspectives) ---------------------------
    # Each deduped match inserts TWO directional rows (scripts:296-302);
    # G5's `meta == 2×matches` invariant depends on it. The participant
    # grain IS that double-insert (side 0 = team perspective, side 1 =
    # opponent perspective), so the matrix is one aggregate over the
    # shared type grain — no second pass over the battle grain.
    meta_type_matchups = type_grain.groupBy("deck_type", "opp_deck_type").agg(
        *_sum_uses_wins()
    )

    # --- dims -------------------------------------------------------------
    decks = deck_first.select("deck_hash", "deck_type")
    deck_cards = deck_first.select(
        "deck_hash", F.explode("obs").alias("c")
    ).select(
        "deck_hash",
        F.col("c.card_id").alias("card_id"),
        F.col("c.card_variant").alias("card_variant"),
        F.col("c.slot").alias("slot"),
    )

    # cards dim (D4, scripts:317-319): reference is last-write-wins over a
    # nondeterministic scan; we take max(card_name) per id — deterministic,
    # equivalent whenever a card_id maps to one name (always, in practice).
    # Regroups the shared card grain (max of per-group maxes = max; NULL
    # and '' names form their own grain groups and are filtered exactly
    # as the raw-row filter did).
    cards = (
        card_grain.filter(F.col("card_name") != "")
        .groupBy("card_id")
        .agg(F.max("card_name").alias("card_name"))
    )

    # deck_types labels (D3, scripts:367-372)
    deck_types = decks.select("deck_type").distinct()

    # --- E1-E4 rollups (re-aggregations of the shared grains) -------------
    meta_deck_types = type_grain.groupBy("deck_type").agg(*_sum_uses_wins())
    meta_type_deck_ids = type_grain.groupBy("deck_type", "deck_hash").agg(
        *_sum_uses_wins()
    )
    # E3: each deck observation fans out ×8 card observations
    # (scripts:328-330) — the explode is paid once, in card_grain.
    meta_type_cards = card_grain.groupBy(
        "deck_type", "card_id", "card_variant"
    ).agg(*_sum_uses_wins())

    # E4: player facts gated to TopN tags (D5 semi join, scripts:332-335).
    # player is ≤ top_n rows → broadcast semi join, no shuffle on the fact.
    topn_participants = participants.join(
        F.broadcast(player.select("player_tag")), "player_tag", "left_semi"
    )

    # Per-battle boolean-grain fact honoring queries/top_deck_types.sql
    # and top_decks.sql as literally written (``pd.win``) — the legacy
    # grain the repo's own SQL expects; ``player_decks`` is exactly
    # groupBy(player_tag, deck_hash){count, sum(win)} over this fact
    # (invariant tested in tests/test_pipeline.py).
    player_battles = topn_participants.select(
        "match_hash",
        F.col("battleTime").alias("battle_time"),
        "side",
        "player_tag",
        "deck_hash",
        F.col("won").alias("win"),
    )

    player_decks = topn_participants.groupBy("player_tag", "deck_hash").agg(
        *_uses_wins()
    )

    # E5: derived rollup — each card of the deck inherits the deck's
    # uses/wins, SUMMED per (player, type, card, variant): a player can
    # reach the same card via multiple decks of one type (scripts:337-345).
    # Type fallback "Hybrid" for hashes missing from the dim (scripts:340).
    player_type_cards = (
        player_decks.join(
            deck_first.select(
                "deck_hash",
                F.coalesce(F.col("deck_type"), F.lit("Hybrid")).alias("deck_type"),
                "obs",
            ),
            "deck_hash",
            "left",
        )
        .withColumn("deck_type", F.coalesce(F.col("deck_type"), F.lit("Hybrid")))
        .select(
            "player_tag",
            "deck_type",
            "uses",
            "wins",
            F.explode_outer("obs").alias("c"),
        )
        .filter(F.col("c").isNotNull())
        .groupBy(
            "player_tag",
            "deck_type",
            F.col("c.card_id").alias("card_id"),
            F.col("c.card_variant").alias("card_variant"),
        )
        .agg(F.sum("uses").alias("uses"), F.sum("wins").alias("wins"))
    )

    tables = {
        "deck_types": deck_types,
        "player": player,
        "cards": cards,
        "decks": decks,
        "deck_cards": deck_cards,
        "player_battles": player_battles,
        "player_decks": player_decks,
        "meta_deck_types": meta_deck_types,
        "meta_type_deck_ids": meta_type_deck_ids,
        "meta_type_cards": meta_type_cards,
        "player_type_cards": player_type_cards,
        "meta_type_matchups": meta_type_matchups,
    }
    return SnapshotResult(
        tables=tables, participants=participants, counters=counters
    )
