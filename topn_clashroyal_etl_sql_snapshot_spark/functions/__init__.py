from . import cleaning, exprs, text, urls, vectors
from .exprs import (
    RANKED_MODE_IDS,
    battle_result,
    card_variant,
    deck_hash,
    deck_signature,
    is_ranked_1v1,
    ladder_value,
    match_hash,
    normalize_tag,
    win_rate,
)

__all__ = [
    "cleaning",
    "exprs",
    "text",
    "urls",
    "vectors",
    "RANKED_MODE_IDS",
    "battle_result",
    "card_variant",
    "deck_hash",
    "deck_signature",
    "is_ranked_1v1",
    "ladder_value",
    "match_hash",
    "normalize_tag",
    "win_rate",
]
