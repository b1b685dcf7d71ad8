"""The reference's "library path": battle normalization (B2) and the
in-memory archetype summary (E8) — never wired to the warehouse, used by
the exploratory scripts (``src/analysist/battle_filters.py:100-124``,
``src/analysist/deck_type.py:192-274``).

Semantics preserved exactly (SURVEY.md §7 hard-part f): unlike the ETL
path — where a draw is a use with no win — this path tracks draws
separately, and the opponent-side stats flip perspective (my win = opp
loss). Sorting: ``summarize_deck_types`` orders by (win_rate, games)
descending (deck_type.py:188-190); ``finalize_by_games`` orders by games
descending (deck_type.py:290-314).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import exprs
from ..operators import deck as deck_ops


def normalize_battles(battles: DataFrame) -> DataFrame:
    """B2 (battle_filters.py:52-97): ranked-1v1 filter + projection to
    {battle_time, result, my_cards, opp_cards, mode_name}.

    Card lists keep only non-empty names (``:76-86``); mode_name falls
    back gameMode.name → type → "" (``:88-89``).
    """

    def _names(side: Column) -> Column:
        return F.filter(
            F.transform(
                F.coalesce(side[0]["cards"], F.array()),
                lambda c: F.trim(F.coalesce(c["name"], F.lit(""))),
            ),
            lambda n: n != "",
        )

    ranked = battles.filter(
        exprs.is_ranked_1v1(F.col("team"), F.col("opponent"), F.col("gameMode.id"))
    )
    return ranked.select(
        F.col("battleTime").alias("battle_time"),
        exprs.battle_result(
            F.coalesce(F.col("team")[0]["crowns"], F.lit(0)),
            F.coalesce(F.col("opponent")[0]["crowns"], F.lit(0)),
        ).alias("result"),
        _names(F.col("team")).alias("my_cards"),
        _names(F.col("opponent")).alias("opp_cards"),
        F.coalesce(
            F.nullif(F.col("gameMode.name"), F.lit("")),
            F.nullif(F.col("type"), F.lit("")),
            F.lit(""),
        ).alias("mode_name"),
    )


def summarize_deck_types(
    normalized: DataFrame, catalog: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """E8 (deck_type.py:192-274): per-archetype
    {games, wins, losses, draws, win_rate} for my side and the opponent
    side (perspective flipped), each sorted by (win_rate, games) desc.

    Decks without exactly 8 cards are skipped for that side only
    (``:231-247``); win_rate = wins/games (0.0 when games = 0).
    """
    maps = deck_ops.catalog_maps(catalog)

    def side_stats(cards_col: str, flip: bool) -> DataFrame:
        win_res, loss_res = ("loss", "win") if flip else ("win", "loss")
        agg = (
            deck_ops.classify_cards(
                normalized.filter(F.size(F.col(cards_col)) == 8),
                {"type": cards_col},
                maps,
            )
            .groupBy("type")
            .agg(
                F.count(F.lit(1)).alias("games"),
                F.sum((F.col("result") == win_res).cast("long")).alias("wins"),
                F.sum((F.col("result") == loss_res).cast("long")).alias("losses"),
                F.sum(
                    (~F.col("result").isin("win", "loss")).cast("long")
                ).alias("draws"),
            )
        )
        return agg.withColumn(
            "win_rate",
            F.when(F.col("games") > 0, F.col("wins") / F.col("games")).otherwise(
                F.lit(0.0)
            ),
        ).orderBy(F.desc("win_rate"), F.desc("games"), "type")

    return side_stats("my_cards", flip=False), side_stats("opp_cards", flip=True)


def finalize_by_games(stats: DataFrame) -> DataFrame:
    """The alternative ordering (deck_type.py:290-314): games desc."""
    return stats.orderBy(F.desc("games"), "type")
