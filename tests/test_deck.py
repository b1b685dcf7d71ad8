"""Golden tests for deck extraction (B6) and the archetype classifier (C1-C3).

One deck per classifier rule branch (src/analysist/deck_type.py:110-152),
over a synthetic catalog exercising every metadata flag.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from topn_clashroyal_etl_sql_snapshot_spark.operators import deck as deck_ops
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import CARD_METADATA_SCHEMA

# name, elixir, big_tank, bait, bridge_spam
CATALOG = [
    (101, "X-Bow", 6, False, False, False),
    (102, "Mortar", 4, False, False, False),
    (103, "Goblin Barrel", 3, False, True, False),
    (104, "Princess", 3, False, True, False),
    (105, "Goblin Gang", 3, False, True, False),
    (106, "Skeletons", 1, False, False, False),
    (107, "Ice Spirit", 1, False, False, False),
    (108, "Ice Golem", 2, False, False, False),
    (109, "The Log", 2, False, False, False),
    (110, "Bandit", 3, False, False, True),
    (111, "Battle Ram", 4, False, False, True),
    (112, "Golem", 8, True, False, False),
    (113, "Mega Knight", 7, True, False, False),
    (114, "Baby Dragon", 4, False, False, False),
    (115, "Night Witch", 4, False, False, False),
    (116, "Lightning", 6, False, False, False),
    (117, "Tornado", 3, False, False, False),
    (118, "Musketeer", 4, False, False, False),
    (119, "Knight", 3, False, False, False),
    (120, "Fireball", 4, False, False, False),
]


def _catalog_df(spark):
    rows = [
        {
            "id": cid,
            "name": name,
            "maxLevel": 14,
            "elixir": elixir,
            "is_big_tank": tank,
            "is_bait_piece": bait,
            "is_bridge_spam_piece": spam,
        }
        for cid, name, elixir, tank, bait, spam in CATALOG
    ]
    return spark.createDataFrame(rows, CARD_METADATA_SCHEMA)


def _classify(spark, decks: list[list[str]]) -> list[str]:
    maps = deck_ops.catalog_maps(_catalog_df(spark))
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(decks)], "i int, names array<string>"
    )
    out = deck_ops.classify_cards(df, {"t": "names"}, maps).orderBy("i")
    return [r["t"] for r in out.collect()]


def test_classifier_rule_branches(spark):
    decks = [
        # S1: X-Bow anywhere → Siege
        ["X-Bow", "Knight", "Musketeer", "Fireball", "Golem", "Baby Dragon", "Tornado", "Lightning"],
        # S2: Mortar → Siege
        ["Mortar", "Knight", "Musketeer", "Fireball", "Bandit", "Baby Dragon", "Tornado", "Lightning"],
        # B1: ≥3 bait pieces → Bait
        ["Goblin Barrel", "Princess", "Goblin Gang", "Knight", "Musketeer", "Fireball", "The Log", "Tornado"],
        # CY1: 4 cheapest sum ≤ 9 → Cycle (1+1+2+2 = 6)
        ["Skeletons", "Ice Spirit", "Ice Golem", "The Log", "Musketeer", "Fireball", "Knight", "Tornado"],
        # BS1: ≥2 bridge spam → Bridge Spam (cheapest 4: 3+3+3+4=13 > 9)
        ["Bandit", "Battle Ram", "Knight", "Musketeer", "Fireball", "Baby Dragon", "Tornado", "Lightning"],
        # BD1: big tank + avg ≥ 3.5 → Beatdown (Golem 8 + heavies)
        ["Golem", "Night Witch", "Baby Dragon", "Lightning", "Tornado", "Musketeer", "Fireball", "Knight"],
        # fallback → Hybrid (no flags, cheap-ish but cycle > 9)
        ["Knight", "Musketeer", "Fireball", "Baby Dragon", "Tornado", "The Log", "Ice Golem", "Night Witch"],
    ]
    assert _classify(spark, decks) == [
        "Siege",
        "Siege",
        "Bait",
        "Cycle",
        "Bridge Spam",
        "Beatdown",
        "Hybrid",
    ]


def test_classifier_priority_siege_beats_bait(spark):
    # X-Bow + 3 bait pieces → Siege wins (first-match priority)
    decks = [["X-Bow", "Goblin Barrel", "Princess", "Goblin Gang", "Knight", "Musketeer", "The Log", "Tornado"]]
    assert _classify(spark, decks) == ["Siege"]


def test_classifier_unknown_cards_and_empty(spark):
    decks = [
        [],  # empty → Hybrid
        ["Nope1", "Nope2", "Nope3", "Nope4", "Nope5", "Nope6", "Nope7", "Nope8"],
        # all-unknown → defaults avg=3.0/cycle=12.0 → Hybrid
    ]
    assert _classify(spark, decks) == ["Hybrid", "Hybrid"]


def test_classifier_big_tank_low_avg_not_beatdown(spark):
    # Mega Knight (7) + cheap cards: avg = (7+1+1+2+2+3+3+3)/8 = 2.75 < 3.5,
    # cheapest 4 = 1+1+2+2 = 6 ≤ 9 → Cycle fires before Beatdown check anyway
    decks = [["Mega Knight", "Skeletons", "Ice Spirit", "Ice Golem", "The Log", "Knight", "Princess", "Tornado"]]
    assert _classify(spark, decks) == ["Cycle"]


# ---------------------------------------------------------------------------
# B6 extraction
# ---------------------------------------------------------------------------

def _extract(spark, cards: list[dict]):
    maps = deck_ops.catalog_maps(_catalog_df(spark))
    df = spark.createDataFrame(
        [(cards,)],
        "cards array<struct<id: long, name: string, evolutionLevel: int>>",
    )
    rows = (
        df.filter(F.expr(deck_ops.valid_deck("cards")))
        .select(F.expr(deck_ops.deck_obs("cards", maps["name_by_id"])).alias("obs"))
        .collect()
    )
    return rows[0]["obs"] if rows else None


def _card(cid, name=None, evo=None):
    return {"id": cid, "name": name, "evolutionLevel": evo}


def test_extract_valid_deck_slots_and_fallback(spark):
    cards = [
        _card(101, "X-Bow"),
        _card(119, ""),          # empty name → catalog fallback "Knight"
        _card(118, None),        # null name → fallback "Musketeer"
        _card(999, None),        # unknown id, no name → ""
        _card(104, "Princess", 1),   # evo
        _card(105, "Goblin Gang", 2),  # hero
        _card(106, "Skeletons", 0),
        _card(107, "Ice Spirit"),
        _card(120, "Fireball"),  # 9th card ignored
    ]
    obs = _extract(spark, cards)
    assert obs is not None
    assert [o["slot"] for o in obs] == list(range(1, 9))
    assert obs[1]["card_name"] == "Knight"
    assert obs[2]["card_name"] == "Musketeer"
    assert obs[3]["card_name"] == ""
    assert obs[4]["card_variant"] == "evo"
    assert obs[5]["card_variant"] == "hero"
    assert obs[6]["card_variant"] == "normal"
    assert len(obs) == 8


def test_extract_rejects_short_and_duplicate_decks(spark):
    short = [_card(100 + i) for i in range(1, 8)]  # 7 cards
    assert _extract(spark, short) is None

    dup = [_card(101), _card(101)] + [_card(102 + i) for i in range(6)]
    assert _extract(spark, dup) is None

    # same id, different variant → distinct pair → valid
    evo_split = [_card(101, "X-Bow", 0), _card(101, "X-Bow", 1)] + [
        _card(102 + i) for i in range(6)
    ]
    assert _extract(spark, evo_split) is not None


def test_extract_null_id_rejects(spark):
    cards = [_card(None)] + [_card(102 + i) for i in range(7)]
    assert _extract(spark, cards) is None
