"""Property-based parity tests (hypothesis): for arbitrary generated
decks/battles, the Spark column-expression hashes must agree byte-for-
byte with the pure-Python reference semantics, and the classifier must
agree with its Python re-derivation.

One Spark job per hypothesis case would be minutes-slow, so each property
draws a BATCH of cases and runs them through a single DataFrame."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from topn_clashroyal_etl_sql_snapshot_spark.functions import exprs
from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import BATTLE_SCHEMA
from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
    py_match_hash,
)

from test_exprs import py_deck_hash

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

card_ids = st.one_of(
    st.integers(min_value=0, max_value=99),
    st.integers(min_value=26000000, max_value=28999999),
)
variants = st.sampled_from(["normal", "evo", "hero"])
pairs = st.lists(st.tuples(card_ids, variants), min_size=1, max_size=12).map(
    lambda ps: [(str(c), v) for c, v in ps]
)


@given(st.lists(pairs, min_size=1, max_size=24))
@SLOW
def test_deck_hash_parity_property(spark, batch):
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField(
                "pairs",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("cid", T.StringType()),
                            T.StructField("variant", T.StringType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(list(enumerate(batch)), schema)
    got = {
        r["i"]: r["h"]
        for r in df.select("i", F.expr(exprs.deck_hash("pairs")).alias("h")).collect()
    }
    for i, ps in enumerate(batch):
        assert got[i] == py_deck_hash(ps), ps


tags = st.one_of(st.none(), st.text(alphabet="#abcXYZ09 ", max_size=8))
crowns = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
participants = st.lists(
    st.builds(lambda t, c: {"tag": t, "crowns": c, "cards": None}, tags, crowns),
    max_size=3,
)
battles_st = st.builds(
    lambda bt, mid, mname, btype, team, opp: {
        "battleTime": bt,
        "type": btype,
        "gameMode": {"id": mid, "name": mname},
        "team": team,
        "opponent": opp,
    },
    st.one_of(st.none(), st.text(alphabet="0123456789TZ.", max_size=20)),
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**31)),
    st.one_of(st.none(), st.text(alphabet="abcDEF ", max_size=10)),
    st.one_of(st.none(), st.text(alphabet="abcDEF", max_size=8)),
    participants,
    participants,
)


@given(st.lists(battles_st, min_size=1, max_size=24))
@SLOW
def test_match_hash_parity_property(spark, batch):
    df = spark.createDataFrame(batch, BATTLE_SCHEMA)
    got = [
        r["h"]
        for r in df.select(
            exprs.match_hash(
                F.col("battleTime"),
                F.col("gameMode.id"),
                F.col("gameMode.name"),
                F.col("type"),
                F.col("team"),
                F.col("opponent"),
            ).alias("h")
        ).collect()
    ]
    want = [py_match_hash(b) for b in batch]
    assert got == want
