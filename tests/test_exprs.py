"""Parity tests for the column-expression library.

Expected values are computed with independent pure-Python oracles that
follow the reference's documented semantics (hash_utils.py, battle
filters, scalar coercions) — byte-exact SHA1 parity is the bar.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from topn_clashroyal_etl_sql_snapshot_spark.functions import exprs
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import BATTLE_SCHEMA
from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import py_normalize_tag


# ---------------------------------------------------------------------------
# Pure-Python oracles (reference semantics, re-derived)
# ---------------------------------------------------------------------------

def py_deck_hash(pairs: list[tuple[str, str]]) -> str:
    ordered = sorted((str(c), str(v)) for c, v in pairs)
    sig = "|".join(f"{c}:{v}" for c, v in ordered)
    return hashlib.sha1(sig.encode("utf-8")).hexdigest()


def py_match_hash(battle: dict) -> str:
    gm = battle.get("gameMode") or {}
    mode_key = str(gm.get("id") or gm.get("name") or battle.get("type") or "")

    def side(side_list):
        rows = [
            {"tag": (p.get("tag") or "").upper(), "crowns": int(p.get("crowns") or 0)}
            for p in (side_list or [])
        ]
        rows.sort(key=lambda r: r["tag"])
        return rows

    payload = {
        "battleTime": battle.get("battleTime") or "",
        "mode": mode_key,
        "team": side(battle.get("team")),
        "opponent": side(battle.get("opponent")),
    }
    blob = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    return hashlib.sha1(blob.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# Scalars
# ---------------------------------------------------------------------------

def test_normalize_tag(spark):
    rows = [(" abc123 ",), ("#xyz",), ("",), (None,), ("  #Lo9 ",), ("p",)]
    df = spark.createDataFrame(rows, ["tag"])
    got = [r[0] for r in df.select(exprs.normalize_tag(F.col("tag"))).collect()]
    assert got == ["#ABC123", "#XYZ", "", "", "#LO9", "#P"]
    # Non-ASCII tags take the JVM case mapping (``get_spark`` turns ICU
    # case mapping off); in a non-Turkic default locale it agrees with
    # Python's ``str.upper``, including expansions (ß → SS, ﬁ → FI, ΐ)
    # and the dotted/dotless i.
    tags = ["ß", "straße", "ǆ", "éclair", "ﬁx", "ı", "i\u0307", "ΐ"]
    df = spark.createDataFrame([(t,) for t in tags], ["tag"])
    got = [r[0] for r in df.select(exprs.normalize_tag(F.col("tag"))).collect()]
    assert got == [py_normalize_tag(t) for t in tags]


def test_ladder_value(spark):
    # (trophies, eloRating) → int(trophies or eloRating or 0)
    rows = [(5000, None), (None, 1800), (0, 1700), (None, None), (0, 0)]
    df = spark.createDataFrame(rows, schema="trophies long, elo long")
    got = [
        r[0]
        for r in df.select(
            exprs.ladder_value(F.col("trophies"), F.col("elo"))
        ).collect()
    ]
    assert got == [5000, 1800, 1700, 0, 0]


def test_card_variant(spark):
    rows = [(0,), (1,), (2,), (3,), (None,)]
    df = spark.createDataFrame(rows, schema="lvl int")
    got = [r[0] for r in df.select(F.expr(exprs.card_variant("lvl"))).collect()]
    assert got == ["normal", "evo", "hero", "normal", "normal"]


def test_battle_result(spark):
    df = spark.createDataFrame([(3, 1), (0, 2), (1, 1)], schema="tc int, oc int")
    got = [
        r[0]
        for r in df.select(exprs.battle_result(F.col("tc"), F.col("oc"))).collect()
    ]
    assert got == ["win", "loss", "draw"]


# ---------------------------------------------------------------------------
# Deck hash parity
# ---------------------------------------------------------------------------

def _pairs_df(spark, pairs: list[tuple[str, str]]):
    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("cid", T.StringType()),
                T.StructField("variant", T.StringType()),
            ]
        )
    )
    return spark.createDataFrame(
        [Row(pairs=[Row(cid=c, variant=v) for c, v in pairs])],
        T.StructType([T.StructField("pairs", schema)]),
    )


def test_deck_hash_parity_simple(spark):
    pairs = [
        ("26000015", "normal"),
        ("26000063", "evo"),
        ("26000001", "normal"),
        ("28000000", "hero"),
        ("26000010", "normal"),
        ("27000004", "normal"),
        ("26000023", "evo"),
        ("26000038", "normal"),
    ]
    df = _pairs_df(spark, pairs)
    got = df.select(F.expr(exprs.deck_hash("pairs"))).first()[0]
    assert got == py_deck_hash(pairs)


def test_deck_hash_parity_unequal_id_lengths(spark):
    # The SURVEY.md §1.4.1 trap: "26000100" vs "2600002" — tuple sort on
    # (cid, variant) must match Python's, including across unequal lengths.
    pairs = [
        ("26000100", "normal"),
        ("2600002", "normal"),
        ("2600002", "evo"),
        ("999", "normal"),
        ("1000", "normal"),
        ("26000100", "evo"),
        ("5", "hero"),
        ("41", "normal"),
    ]
    df = _pairs_df(spark, pairs)
    got = df.select(F.expr(exprs.deck_hash("pairs"))).first()[0]
    assert got == py_deck_hash(pairs)


def test_deck_hash_same_set_different_order_equal(spark):
    pairs = [(str(26000000 + i), "normal") for i in range(8)]
    df1 = _pairs_df(spark, pairs)
    df2 = _pairs_df(spark, list(reversed(pairs)))
    h1 = df1.select(F.expr(exprs.deck_hash("pairs"))).first()[0]
    h2 = df2.select(F.expr(exprs.deck_hash("pairs"))).first()[0]
    assert h1 == h2 == py_deck_hash(pairs)


# ---------------------------------------------------------------------------
# Match hash parity
# ---------------------------------------------------------------------------

def _battle(battle_time, mode_id, mode_name, btype, team, opp) -> dict:
    def side(entries):
        return [
            {"tag": t, "crowns": c, "cards": None} for (t, c) in entries
        ]

    return {
        "battleTime": battle_time,
        "type": btype,
        "gameMode": {"id": mode_id, "name": mode_name},
        "team": side(team),
        "opponent": side(opp),
    }


def _spark_match_hash(spark, battles: list[dict]) -> list[str]:
    df = spark.createDataFrame(battles, BATTLE_SCHEMA)
    out = df.select(
        exprs.match_hash(
            F.col("battleTime"),
            F.col("gameMode.id"),
            F.col("gameMode.name"),
            F.col("type"),
            F.col("team"),
            F.col("opponent"),
        ).alias("mh")
    )
    return [r[0] for r in out.collect()]


def test_match_hash_parity(spark):
    battles = [
        _battle("20260109T181530.000Z", 72000006, "Ladder", "PvP", [("#AAA", 2)], [("#BBB", 1)]),
        # null mode id → falls through to name
        _battle("20260109T181530.000Z", None, "Ranked1v1", "PvP", [("#AAA", 0)], [("#BBB", 0)]),
        # mode id 0 (falsy) → name; null tags/crowns coerced
        _battle("t", 0, "M", "PvP", [(None, None)], [("#x", 3)]),
        # everything missing
        _battle(None, None, None, None, [], []),
        # multi-member sides sorted by tag
        _battle("tt", 72000464, None, None, [("#Z", 1), ("#A", 2)], [("#M", 0), ("#B", 3)]),
    ]
    got = _spark_match_hash(spark, battles)
    want = [py_match_hash(b) for b in battles]
    assert got == want


def test_match_hash_symmetric_across_perspectives(spark):
    # The same match seen from the other player's log: team/opponent swapped
    # AND member order shuffled — reference dedups because each side's list
    # is tag-sorted... (team/opponent keys still distinguish perspective;
    # for 1v1 the API presents mirrored payloads — hash equality holds when
    # the serialized payload is identical). Here: same sides, shuffled
    # member order within each side → identical hash.
    b1 = _battle("T1", 72000006, "Ladder", "PvP", [("#A", 2), ("#B", 1)], [("#C", 0)])
    b2 = _battle("T1", 72000006, "Ladder", "PvP", [("#B", 1), ("#A", 2)], [("#C", 0)])
    h1, h2 = _spark_match_hash(spark, [b1, b2])
    assert h1 == h2


def test_lit_array_helpers_bit_parity(spark):
    """litarrays builds the SAME array literals the per-element
    F.lit form folds to — bit-identical doubles (struct-packed
    comparison), exact longs, and strings through the SQL-literal
    escaping path (quotes, backslashes, newlines, unicode). These
    helpers carry every model-as-literal operator (PQ codebooks, IVF
    centroid matrices, classifier/LM/DSIR tables, simhash masks), so
    a parity break here is a silent results change there."""
    import struct

    from topn_clashroyal_etl_sql_snapshot_spark.functions.litarrays import (
        lit_doubles,
        lit_longs,
        lit_strings,
    )

    ds = [0.0, -0.0, 1e-300, -1e308, 3.141592653589793, 1e17 + 1.0, 0.1]
    ls = [0, -1, 2**63 - 1, -(2**63), 42]
    ss = [
        "plain",
        "it's",
        "back\\slash",
        "new\nline",
        "tab\tx",
        "quote'and\\'mix",
        "unicode λ→…",
        "",
        " ",
        "%s {brace} $x",
    ]
    df = spark.range(1).select(
        lit_doubles(ds).alias("d1"),
        F.array(*[F.lit(v) for v in ds]).alias("d2"),
        lit_longs(ls).alias("l1"),
        F.array(*[F.lit(int(v)).cast("long") for v in ls]).alias("l2"),
        lit_strings(ss).alias("s1"),
        F.array(*[F.lit(v) for v in ss]).alias("s2"),
    )
    assert df.schema["d1"].dataType.simpleString() == "array<double>"
    assert df.schema["l1"].dataType.simpleString() == "array<bigint>"
    assert df.schema["s1"].dataType.simpleString() == "array<string>"
    r = df.collect()[0]

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    assert bits(list(r["d1"])) == bits(list(r["d2"]))
    assert list(r["l1"]) == list(r["l2"])
    assert list(r["s1"]) == list(r["s2"])

    # non-finite doubles and NULL strings take the per-element fallback
    import math

    r2 = spark.range(1).select(
        lit_doubles([1.0, float("nan"), float("inf")]).alias("d"),
        lit_strings(["a", None]).alias("s"),
    ).collect()[0]
    assert r2["d"][0] == 1.0 and math.isnan(r2["d"][1]) and math.isinf(r2["d"][2])
    assert list(r2["s"]) == ["a", None]
