"""Column-expression library: scalar transforms and content hashes.

Everything here is built-in Catalyst expressions — no Python UDFs — so
the pipeline runs in the JVM and parquet scans stay vectorized. Scalar
expressions compile into whole-stage codegen; a ``Project`` holding a
higher-order function (``transform``, ``filter``, ``aggregate``, a sort
comparator) runs outside it, interpreted, so each lambda a plan carries
is paid per row. Each function cites the reference behavior it reproduces
(paths under ``/root/reference/``).

The deck-side functions (:func:`card_variant`, :func:`deck_signature`,
:func:`deck_hash`) take and return SQL TEXT, so a caller can compose
them into one parsed expression (see ``operators/deck.py``); wrap the
result in ``F.expr`` to get a Column. The others take and return
Columns.

Byte-exact hash parity matters: deck/match identity in the reference is a
SHA1 over a canonical serialization, and downstream dedup + dimension keys
depend on it. Unit tests assert parity against ``hashlib``/``json.dumps``
reference implementations (tests/test_exprs.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Ranked 1v1 gameMode.id whitelist — src/analysist/battle_filters.py:4-7
RANKED_MODE_IDS = (72000006, 72000464)


# ---------------------------------------------------------------------------
# Scalars
# ---------------------------------------------------------------------------

def normalize_tag(col: Column) -> Column:
    """strip → upper → ensure leading ``#``; null/empty → ``""``.

    Mirrors ``scripts/etl_snapshot_topn.py:32-37`` (and its duplicate at
    ``src/api/battles.py:6-17``). ``upper`` takes the JVM case-mapping
    path (``session.get_spark`` turns ICU case mapping off): an ASCII
    fast path, else ``String.toUpperCase()`` in the JVM's default locale,
    which matches Python's ``str.upper`` except under a Turkish or Azeri
    default locale (``i`` → ``İ``).
    """
    t = F.upper(F.trim(F.coalesce(col, F.lit(""))))
    return F.when(t == "", t).otherwise(
        F.when(t.startswith("#"), t).otherwise(F.concat(F.lit("#"), t))
    )


def ladder_value(trophies: Column, elo_rating: Column) -> Column:
    """``int(trophies or eloRating or 0)`` — Python ``or`` skips 0 AND null.

    Mirrors ``scripts/etl_snapshot_topn.py:39-47``.
    """
    t = trophies.cast("long")
    e = elo_rating.cast("long")
    return F.coalesce(
        F.when(t.isNotNull() & (t != 0), t),
        F.when(e.isNotNull() & (e != 0), e),
        F.lit(0).cast("long"),
    )


def card_variant(evolution_level: str) -> str:
    """evolutionLevel 1 → evo, 2 → hero, else (null/0/other) → normal.

    Mirrors ``card_variant_from_evolution_level``
    (``scripts/etl_snapshot_topn.py:50-66``).
    """
    return (
        f"CASE coalesce(CAST({evolution_level} AS INT), 0) "
        "WHEN 1 THEN 'evo' WHEN 2 THEN 'hero' ELSE 'normal' END"
    )


def is_ranked_1v1(team: Column, opponent: Column, mode_id: Column) -> Column:
    """Pure 1v1 + whitelisted gameMode.id.

    Mirrors ``is_ranked_1v1_battle`` (``src/analysist/battle_filters.py:10-35``).
    ``F.size`` returns -1 for null arrays, so null team/opponent fails the
    ==1 check exactly like the reference's isinstance guard.
    """
    return (
        (F.size(team) == 1)
        & (F.size(opponent) == 1)
        & mode_id.isin(*RANKED_MODE_IDS)
    )


def battle_result(team_crowns: Column, opp_crowns: Column) -> Column:
    """win/loss/draw by crown comparison (``battle_filters.py:38-49``)."""
    return (
        F.when(team_crowns > opp_crowns, F.lit("win"))
        .when(team_crowns < opp_crowns, F.lit("loss"))
        .otherwise(F.lit("draw"))
    )


def win_rate(wins: Column, uses: Column) -> Column:
    """``wins::float / NULLIF(uses, 0)`` (``scripts/etl_snapshot_topn.py:535-538``)."""
    return wins.cast("double") / F.nullif(uses, F.lit(0))


# ---------------------------------------------------------------------------
# Deck identity hash (B8)
# ---------------------------------------------------------------------------

def deck_signature(pairs: str) -> str:
    """Canonical deck signature from ``array<struct<cid:string, variant:string>>``.

    Reference (``src/clashdb/hash_utils.py:11-22``): sort the
    ``(str(card_id), variant)`` *tuples* lexicographically, then join as
    ``"cid:variant|..."``. ``sort_array`` on a struct array compares
    field-by-field (byte-wise UTF8 string compare ≡ Python str compare for
    the ASCII ids/variants involved), so the struct fields MUST be ordered
    ``(cid, variant)``. Sorting pre-joined ``"cid:variant"`` strings would
    diverge when ids have unequal lengths (``:`` sorts above digits) — see
    SURVEY.md §1.4.1. (``sort_array``, not ``array_sort``: the latter
    carries a comparator lambda, evaluated per comparison.)
    """
    return (
        f"array_join(transform(sort_array({pairs}), "
        "x -> concat_ws(':', x.cid, x.variant)), '|')"
    )


def deck_hash(pairs: str) -> str:
    """SHA1 hex of the canonical signature (``src/clashdb/hash_utils.py:25-26``)."""
    return f"sha1({deck_signature(pairs)})"


# ---------------------------------------------------------------------------
# Match identity hash (B9)
# ---------------------------------------------------------------------------

def _mode_key(mode_id: Column, mode_name: Column, battle_type: Column) -> Column:
    """``str(mode_id or mode_name or type or "")`` — Python truthiness:
    0/null id falls through to name, empty/null name falls to type.

    Mirrors ``src/clashdb/hash_utils.py:36-39``.
    """
    return F.coalesce(
        F.when(mode_id.isNotNull() & (mode_id != 0), mode_id.cast("string")),
        F.when(mode_name.isNotNull() & (mode_name != ""), mode_name),
        F.when(battle_type.isNotNull() & (battle_type != ""), battle_type),
        F.lit(""),
    )


def _side_payload(side: Column) -> Column:
    """``[{"crowns": int(c or 0), "tag": upper(tag or "")}, ...]`` sorted by tag.

    Mirrors ``side_payload`` (``src/clashdb/hash_utils.py:44-55``). Struct
    field order is (crowns, tag) — alphabetical — to match
    ``json.dumps(sort_keys=True)`` key order; the sort is by tag via an
    explicit comparator (reference sorts by tag only). ``upper`` is the
    JVM path, as in :func:`normalize_tag`. This is the refresh's first
    case mapping: with ICU case mapping on, its first call per JVM would
    build ICU's title-case table inside the scan → match-hash stage.
    """
    payload = F.transform(
        F.coalesce(side, F.array()),
        lambda p: F.struct(
            F.coalesce(p["crowns"].cast("long"), F.lit(0)).alias("crowns"),
            F.upper(F.coalesce(p["tag"], F.lit(""))).alias("tag"),
        ),
    )
    return F.array_sort(
        payload,
        lambda l, r: F.when(l["tag"] < r["tag"], -1)
        .when(l["tag"] > r["tag"], 1)
        .otherwise(0),
    )


def match_hash(
    battle_time: Column,
    mode_id: Column,
    mode_name: Column,
    battle_type: Column,
    team: Column,
    opponent: Column,
) -> Column:
    """Symmetric content hash for cross-battlelog dedup.

    Reference (``src/clashdb/hash_utils.py:29-65``): SHA1 of
    ``json.dumps(payload, sort_keys=True, separators=(",", ":"))`` where
    payload = {battleTime, mode, team: sorted (tag,crowns), opponent: ...}.

    ``F.to_json`` emits compact separators and preserves struct field
    order, so building the struct with alphabetically-ordered keys
    (battleTime < mode < opponent < team; crowns < tag) reproduces the
    Python serialization byte-for-byte for ASCII content. (Python
    ``ensure_ascii`` escapes non-ASCII as ``\\uXXXX`` where Spark emits
    raw UTF-8 — player tags/mode keys are ASCII in practice; parity is
    unit-tested for the ASCII domain.)
    """
    payload = F.struct(
        F.coalesce(battle_time, F.lit("")).alias("battleTime"),
        _mode_key(mode_id, mode_name, battle_type).alias("mode"),
        _side_payload(opponent).alias("opponent"),
        _side_payload(team).alias("team"),
    )
    return F.sha1(F.to_json(payload))
