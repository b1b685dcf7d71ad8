"""Deck extraction, validation, feature computation and classification.

Reference behaviors reproduced (all paths under ``/root/reference/``):

- B6  ``_extract_8_cards`` (scripts/etl_snapshot_topn.py:77-108): take the
      first 8 cards, slot = 1..8, name fallback from the catalog, reject
      the deck if <8 cards or the 8 ``(card_id, variant)`` pairs are not
      unique.
- C1  ``_precompute_deck_values`` (src/analysist/deck_type.py:38-82):
      avg_elixir (sum/8), four-card cycle cost (sum of 4 cheapest),
      has_xbow/has_mortar, bait/bridge-spam/big-tank counts; defaults
      avg=3.0 / cycle=12.0 when no card resolves elixir data.
- C2  ``classify_deck`` (src/analysist/deck_type.py:85-152): priority
      rules, first match wins: Siege → Bait → Cycle → Bridge Spam →
      Beatdown → Hybrid.
- C3  override application (scripts/etl_snapshot_topn.py:290-291):
      ``overrides[deck_hash]`` beats the classifier.

Everything is array/aggregate SQL algebra over the 8-card array — no
Python UDFs, no extra shuffle: features and classification are computed
per-deck from the card array *before* any explode, so the classifier adds
zero exchanges to the plan.

The expression functions here take SQL text for their inputs and return
SQL text (callers wrap it once in ``F.expr``): one parsed expression per
derived column costs a few py4j round trips where the equivalent
Column-API tree cost one per node. Arrays that several rules read — a
deck's card names and their elixir costs — are staged as columns of
their own (:func:`classify_cards`), so each lambda over them is built,
analyzed and evaluated once per deck, not once per rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import exprs

ARCHETYPES = ("Siege", "Bait", "Cycle", "Bridge Spam", "Beatdown", "Hybrid")


# ---------------------------------------------------------------------------
# B6 — validate + extract the 8-card deck (array form, no explode needed)
# ---------------------------------------------------------------------------

def valid_deck(cards: str) -> str:
    """B6 validity of the raw ``array<struct<id, name, evolutionLevel>>``
    (scripts/etl_snapshot_topn.py:82-107), as a predicate: ≥8 cards
    present, no null id (or null card) among the first 8, and the 8
    ``(id, variant)`` pairs distinct. A null id maps its pair to NULL,
    which ``array_compact`` drops, so one count covers all three rules.

    A predicate over the RAW cards, not a null test of
    :func:`deck_obs`: a filter on a projected column is pushed below the
    projection with the column's expression substituted, which evaluated
    the extraction once more per use."""
    pair = (
        "IF(c.id IS NULL, NULL, named_struct('id', c.id, 'variant', "
        f"{exprs.card_variant('c.evolutionLevel')}))"
    )
    return (
        f"size(array_compact(array_distinct(transform(slice({cards}, 1, 8), "
        f"c -> {pair})))) = 8"
    )


def deck_obs(cards: str, name_by_id: str) -> str:
    """``array<struct<card_id, card_name, card_variant, slot>>`` of the
    first 8 raw cards; apply it to decks :func:`valid_deck` accepts.

    ``name_by_id`` is a ``map<bigint, string>`` (card_id → name) for the
    name fallback (B10, src/clashdb/card_metadata.py:20-25)."""
    return (
        f"transform(slice({cards}, 1, 8), (c, i) -> named_struct("
        "'card_id', c.id, "
        "'card_name', coalesce(nullif(trim(c.name), ''), "
        f"element_at({name_by_id}, c.id), ''), "
        f"'card_variant', {exprs.card_variant('c.evolutionLevel')}, "
        "'slot', i + 1))"
    )


def deck_hash_from_obs(obs: str) -> str:
    """Deck hash from the extracted observation array (B8 glue,
    scripts/etl_snapshot_topn.py:140-143)."""
    return exprs.deck_hash(
        f"transform({obs}, o -> named_struct("
        "'cid', CAST(o.card_id AS STRING), 'variant', o.card_variant))"
    )


# ---------------------------------------------------------------------------
# C1 + C2 — features from card names + catalog maps, rule classifier
# ---------------------------------------------------------------------------

def _classify(names: str, elixirs: str, maps: dict[str, str]) -> str:
    """First-match-wins archetype rules (src/analysist/deck_type.py:110-152)
    over the C1 features (deck_type.py:38-82) of a deck's non-empty card
    ``names`` and their resolved ``elixirs``.

    Unknown names contribute no elixir and false flags, exactly like
    ``_CARD_META_BY_NAME.get(c, {})``; avg_elixir divides by 8 however
    many resolved (deck_type.py:59), the cycle cost sums the 4 cheapest
    (:61), and a deck with no resolved elixir takes the defaults avg=3.0
    / cycle=12.0. Empty deck → Hybrid (deck_type.py:97-98)."""

    def flag_count(m: str) -> str:
        return f"size(filter({names}, n -> coalesce(element_at({maps[m]}, n), false)))"

    def elixir_sum(arr: str) -> str:
        return f"aggregate({arr}, 0.0D, (acc, e) -> acc + CAST(e AS DOUBLE))"

    no_elixir = f"size({elixirs}) = 0"
    cycle = (
        f"IF({no_elixir}, 12.0D, "
        f"{elixir_sum(f'slice(sort_array({elixirs}), 1, 4)')})"
    )
    avg = f"IF({no_elixir}, 3.0D, {elixir_sum(elixirs)} / 8.0D)"
    return (
        f"CASE WHEN size({names}) = 0 THEN 'Hybrid' "
        f"WHEN array_contains({names}, 'X-Bow') "
        f"OR array_contains({names}, 'Mortar') THEN 'Siege' "
        f"WHEN {flag_count('bait_by_name')} >= 3 THEN 'Bait' "
        f"WHEN {cycle} <= 9 THEN 'Cycle' "
        f"WHEN {flag_count('spam_by_name')} >= 2 THEN 'Bridge Spam' "
        f"WHEN {flag_count('tank_by_name')} >= 1 AND {avg} >= 3.5D "
        "THEN 'Beatdown' "
        "ELSE 'Hybrid' END"
    )


def classify_cards(
    df: DataFrame, card_names: dict[str, str], maps: dict[str, str]
) -> DataFrame:
    """C1 + C2: add one archetype column per ``{out_col: names}`` entry,
    ``names`` being SQL for an array of card names.

    The reference classifies over non-empty names only
    (scripts/etl_snapshot_topn.py:287-288 filters falsy names before
    calling ``classify_deck``). Those names, then their elixir costs, are
    staged as helper columns, so the rules share one copy of each; the
    optimizer keeps the stages apart because each is read more than once.
    """
    names = {k: f"_names_{k}" for k in card_names}
    elixirs = {k: f"_elixirs_{k}" for k in card_names}
    return (
        df.withColumns({
            names[k]: F.expr(
                f"filter(coalesce({v}, array()), n -> n IS NOT NULL AND n != '')"
            )
            for k, v in card_names.items()
        })
        .withColumns({
            elixirs[k]: F.expr(
                f"array_compact(transform({names[k]}, "
                f"n -> element_at({maps['elixir_by_name']}, n)))"
            )
            for k in card_names
        })
        .withColumns({
            k: F.expr(_classify(names[k], elixirs[k], maps)) for k in card_names
        })
        .drop(*names.values(), *elixirs.values())
    )


# ---------------------------------------------------------------------------
# Catalog → broadcastable map literals
# ---------------------------------------------------------------------------

def catalog_maps(catalog: DataFrame) -> dict[str, str]:
    """Collect the (tiny, ≤121-row) card catalog into SQL map literals.

    The catalog is the reference's in-process dict
    (src/analysist/deck_type.py:12-16; src/clashdb/card_metadata.py:11-17).
    As map *literals* the lookups are pure expressions — no join, no
    shuffle, constant-folded into the plan; at 100 TB this is strictly
    better than even a broadcast join for a 121-entry dimension. Each
    map is SQL text, spliced into the expressions that read it, so the
    JVM parser builds the literal tree with the expression around it.
    """
    rows = catalog.select(
        "id", "name", "elixir", "is_big_tank", "is_bait_piece", "is_bridge_spam_piece"
    ).collect()

    def _sql_lit(v) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return str(v)
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    def _map(pairs) -> str:
        items = [
            f"{_sql_lit(k)}, {_sql_lit(v)}"
            for k, v in pairs
            if k is not None and v is not None
        ]
        if not items:
            return "map_from_arrays(array(), array())"
        return "map(" + ", ".join(items) + ")"

    return {
        "name_by_id": _map((r["id"], r["name"]) for r in rows),
        "elixir_by_name": _map((r["name"], r["elixir"]) for r in rows),
        "bait_by_name": _map((r["name"], r["is_bait_piece"]) for r in rows),
        "spam_by_name": _map((r["name"], r["is_bridge_spam_piece"]) for r in rows),
        "tank_by_name": _map((r["name"], r["is_big_tank"]) for r in rows),
    }
