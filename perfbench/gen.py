"""Seeded input generators for the benchmark.

Everything the program sees comes from here: the same ``seed`` gives
byte-identical landing files.  Each generator returns the raw Python
rows (the oracle's input) and a dict of measured properties that goes
into the run record, so a reader can see what a workload actually
contained, not just what it was asked to contain.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
    CATALOG,
    CATALOG_ROWS,
    RANKED_MODES,
    py_deck_hash_from_cards,
)

# Stated shares of the battlelog generator.  ``CROSS_SHARE`` of the
# matches are between two leaderboard players, so the same match lands
# in both players' logs; the copy is byte-identical because the
# pipeline's match hash (like the reference's) is orientation-sensitive.
CROSS_SHARE = 0.25
# Share of the generator's draws that are noise the pipeline must drop
# (a cross-log match is one draw but two entries):
# 2v2, unranked modes, short decks, duplicate-card decks, empty tags.
NOISE_SHARE = 0.08
NOISE_KINDS = ("2v2", "unranked", "short_deck", "dup_card_deck", "empty_tag")
# Share of deck cards carrying an evo (1) or hero (2) variant.
EVO_SHARE = 0.12
HERO_SHARE = 0.03
# Card popularity: Zipf-like weights over the 20-card catalog.
_CARD_IDS = [c[0] for c in CATALOG]
_CARD_NAMES = {c[0]: c[1] for c in CATALOG}
_CARD_WEIGHTS = [1.0 / (i + 1) ** 0.8 for i in range(len(CATALOG))]
_T0 = datetime(2026, 1, 9)


def _tag(rng: random.Random) -> str:
    return "#" + "".join(rng.choice("0289CGJLPQRUVY") for _ in range(8))


def _deck(rng: random.Random) -> list[dict]:
    """8 distinct cards of the catalog, popularity-skewed, with evo and
    hero variants; ~1 in 40 cards ships without a name (the pipeline
    resolves it from the catalog)."""
    ids: list[int] = []
    while len(ids) < 8:
        cid = rng.choices(_CARD_IDS, _CARD_WEIGHTS)[0]
        if cid not in ids:
            ids.append(cid)
    cards = []
    for cid in ids:
        u = rng.random()
        lvl = 1 if u < EVO_SHARE else (2 if u < EVO_SHARE + HERO_SHARE else 0)
        name = "" if rng.random() < 0.025 else _CARD_NAMES[cid]
        cards.append({"id": cid, "name": name, "evolutionLevel": lvl})
    return cards


def _battle(ts: str, mode: int, team: dict, opp: dict, btype="pathOfLegend") -> dict:
    return {
        "battleTime": ts,
        "type": btype,
        "gameMode": {"id": mode, "name": "Ranked1v1" if mode == 72000464 else "Ladder"},
        "team": [team],
        "opponent": [opp],
    }


def _side(tag: str, crowns: int, cards: list[dict]) -> dict:
    return {"tag": tag, "crowns": crowns, "cards": cards}


def battlelogs(seed: int, n_players: int, entries_per_player: int):
    """Leaderboard (``n_players`` rows) plus one battlelog per player,
    about ``entries_per_player`` entries each.

    Returns ``(leaderboard, logs, overrides, props)`` where ``logs`` is a
    list of per-player entry lists (a match between two leaderboard
    players appears in both lists), ``overrides`` re-types three popular
    decks, and ``props`` holds the measured shares.
    """
    rng = random.Random(seed)
    tags: list[str] = []
    seen: set[str] = set()
    while len(tags) < n_players:
        t = _tag(rng)
        if t not in seen:
            seen.add(t)
            tags.append(t)
    leaderboard = []
    for i, tag in enumerate(tags, start=1):
        row = {"tag": tag.lstrip("#").lower() if i % 7 == 0 else tag,
               "name": f" Player {i} ", "rank": i}
        if i % 11 == 0:
            row["trophies"] = 9000 - i
        else:
            row["eloRating"] = 3000 - i
        leaderboard.append(row)

    # each player plays mostly from a few personal decks
    own_decks = [[_deck(rng) for _ in range(rng.randint(2, 4))] for _ in tags]
    logs: list[list[dict]] = [[] for _ in tags]
    n_matches = n_cross = 0
    noise = dict.fromkeys(NOISE_KINDS, 0)
    clock = 0
    target = n_players * entries_per_player
    n_entries = 0
    while n_entries < target:
        clock += rng.randint(1, 40)
        ts = (_T0 + timedelta(seconds=clock)).strftime("%Y%m%dT%H%M%S.000Z")
        a = rng.randrange(n_players)
        if rng.random() < NOISE_SHARE:
            kind = rng.choice(NOISE_KINDS)
            noise[kind] += 1
            logs[a].append(_noise(rng, kind, ts, tags[a], own_decks[a]))
            n_entries += 1
            continue
        mode = rng.choice(RANKED_MODES)
        ca, co = rng.randint(0, 3), rng.randint(0, 3)
        team = _side(tags[a], ca, rng.choice(own_decks[a]))
        n_matches += 1
        if rng.random() < CROSS_SHARE:
            b = rng.randrange(n_players - 1)
            b += b >= a
            opp = _side(tags[b], co, rng.choice(own_decks[b]))
            battle = _battle(ts, mode, team, opp)
            logs[a].append(battle)
            logs[b].append(json.loads(json.dumps(battle)))
            n_cross += 1
            n_entries += 2
        else:
            opp = _side(_tag(rng), co, _deck(rng))
            logs[a].append(_battle(ts, mode, team, opp))
            n_entries += 1

    popular = [own_decks[i][0] for i in range(3)]
    overrides = [
        {"deck_hash": py_deck_hash_from_cards(d), "deck_type": f"Override{k}"}
        for k, d in enumerate(popular)
    ]
    decks = {
        py_deck_hash_from_cards(side["cards"])
        for log in logs
        for b in log
        for side in (b.get("team") or []) + (b.get("opponent") or [])
        if len(side.get("cards") or []) >= 8
    }
    props = {
        "players": n_players,
        "entries": n_entries,
        "matches": n_matches,
        "cross_log_matches": n_cross,
        "cross_log_share": round(n_cross / max(n_matches, 1), 4),
        "noise_entries": sum(noise.values()),
        "noise_share": round(sum(noise.values()) / max(n_entries, 1), 4),
        "noise_by_kind": noise,
        "distinct_deck_hashes": len(decks),
        "overrides": len(overrides),
    }
    return leaderboard, logs, overrides, props


def _noise(rng: random.Random, kind: str, ts: str, tag: str, decks) -> dict:
    deck = rng.choice(decks)
    other = _side(_tag(rng), rng.randint(0, 3), _deck(rng))
    if kind == "2v2":
        b = _battle(ts, RANKED_MODES[0], _side(tag, 1, deck), other, btype="2v2")
        b["team"].append(_side(_tag(rng), 1, _deck(rng)))
        b["opponent"].append(_side(_tag(rng), 0, _deck(rng)))
        return b
    if kind == "unranked":
        return _battle(ts, 72000201, _side(tag, 2, deck), other, btype="friendly")
    if kind == "short_deck":
        return _battle(ts, RANKED_MODES[1], _side(tag, 1, deck[:5]), other)
    if kind == "dup_card_deck":
        dup = [dict(c) for c in deck]
        dup[1] = dict(dup[0])
        return _battle(ts, RANKED_MODES[0], _side(tag, 1, dup), other)
    # empty opponent tag: ranked and well-formed, dropped at extraction
    other["tag"] = ""
    return _battle(ts, RANKED_MODES[1], _side(tag, 1, deck), other)


def write_landing(root: str, leaderboard, logs, overrides) -> dict:
    """Write the landing zone the way ``sources.ingest`` lands it: one
    battlelog JSONL per player, named after the tag, plus the
    leaderboard, the catalog and the overrides parquet.  Returns the
    paths plus ``input_bytes``."""
    import pandas as pd

    land = os.path.join(root, "battles")
    os.makedirs(land, exist_ok=True)
    for row, log in zip(leaderboard, logs):
        name = row["tag"].lstrip("#").upper()
        with open(os.path.join(land, f"{name}.jsonl"), "w") as fh:
            for b in log:
                fh.write(json.dumps(b, sort_keys=True) + "\n")
    paths = {
        "battles": land,
        "leaderboard": os.path.join(root, "leaderboard.jsonl"),
        "catalog": os.path.join(root, "card_catalog.json"),
        "overrides": os.path.join(root, "overrides.parquet"),
    }
    with open(paths["leaderboard"], "w") as fh:
        for row in leaderboard:
            fh.write(json.dumps(row, sort_keys=True) + "\n")
    with open(paths["catalog"], "w") as fh:
        json.dump(CATALOG_ROWS, fh, indent=1, sort_keys=True)
    pd.DataFrame(overrides, columns=["deck_hash", "deck_type"]).to_parquet(
        paths["overrides"], index=False
    )
    paths["input_bytes"] = tree_bytes(root)
    return paths


def tree_bytes(root: str) -> int:
    """Total size of the regular files under ``root``."""
    total = 0
    for d, _, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
    return total



# --------------------------------------------------------------------------
# Curation corpus and daily batches
# --------------------------------------------------------------------------

# Stated shares of a day's batch: new documents, byte-identical recrawls
# of corpus documents (new ids), same-id recrawls with changed text,
# near-duplicates of corpus documents (a banner appended), and documents
# that fail the corpus gates (no language markers, so ``lang_id`` says
# 'und').
DAY_SHARES = {"fresh": 0.70, "byte_recrawl": 0.10, "id_recrawl": 0.05,
              "near_dup": 0.10, "gate_fail": 0.05}
# Share of valid documents carrying an e-mail address or a URL, which
# the gates' PII scrub rewrites.
PII_SHARE = 0.10
_MARKERS = ("the", "and", "of", "is")
_ALL_MARKERS = {"the", "and", "of", "is", "el", "los", "las", "una", "es", "le",
                "les", "des", "une", "est", "der", "die", "und", "nicht", "ist"}


def _vocab(n: int = 4000) -> list[str]:
    """English-looking words of 2-4 syllables, none a language marker."""
    rng = random.Random(0)
    onsets, vowels, codas = "b c d f g h l m n p r s t v w".split(), "a e i o u".split(), \
        ["", "n", "r", "s", "t", "l"]
    words: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(onsets) + rng.choice(vowels) + rng.choice(codas)
                    for _ in range(rng.randint(2, 4)))
        if w not in _ALL_MARKERS:
            words.add(w)
    return sorted(words)


_VOCAB = _vocab()


def _text(rng: random.Random, valid: bool = True) -> str:
    """About 40 words; a valid text has an English marker every fourth
    word and sometimes an e-mail address or URL, an invalid one none."""
    words = [rng.choice(_MARKERS) if valid and k % 4 == 1 else rng.choice(_VOCAB)
             for k in range(rng.randint(32, 48))]
    text = " ".join(words).capitalize() + "."
    if valid and rng.random() < PII_SHARE:
        who = rng.choice(_VOCAB)
        text += (f" Write to {who}@example.com for more." if rng.random() < 0.5
                 else f" See https://www.example.org/{who} for the rest.")
    return text


def _source(doc_id: int) -> str:
    return "web" if doc_id % 5 else "books"


def curation_corpus(seed: int, n_docs: int) -> list[tuple]:
    """The seed corpus: ``(doc_id, text, source)`` rows, ids ``0..n-1``,
    every one a valid, distinct document."""
    rng = random.Random(seed * 7919 + 1)
    return [(i, _text(rng), _source(i)) for i in range(n_docs)]


def curation_batch(seed: int, day: int, n_docs: int, corpus: list[tuple]):
    """Day ``day``'s batch, planted per ``DAY_SHARES`` against the seed
    ``corpus``.  Returns ``(rows, planted)`` where ``planted`` counts
    each kind."""
    rng = random.Random((seed * 7919 + 2) * 1009 + day)
    counts = {k: int(n_docs * s) for k, s in DAY_SHARES.items()}
    counts["fresh"] += n_docs - sum(counts.values())
    base = 1_000_000 * (day + 1)
    picks = rng.sample(range(len(corpus)),
                       counts["byte_recrawl"] + counts["id_recrawl"] + counts["near_dup"])
    rows: list[tuple] = []
    for k in range(counts["fresh"]):
        rows.append((base + k, _text(rng), _source(base + k)))
    for k in range(counts["gate_fail"]):
        rows.append((base + 100_000 + k, _text(rng, valid=False), _source(k)))
    for k, j in enumerate(picks):
        doc_id, text, source = corpus[j]
        if k < counts["byte_recrawl"]:
            rows.append((base + 200_000 + k, text, source))
        elif k < counts["byte_recrawl"] + counts["id_recrawl"]:
            rows.append((doc_id, _text(rng), source))
        else:
            # the day in the banner keeps two days' near-dups of one
            # document from being byte-identical
            rows.append((base + 300_000 + k, f"{text} Crawled from the archive on day {day}.",
                         source))
    rng.shuffle(rows)
    return rows, counts


EMBED_DIM = 32  # floats per document embedding (built from the id in Spark)


def doc_bytes(rows) -> int:
    """Raw payload of ``(doc_id, text, source)`` rows plus their
    ``EMBED_DIM``-float embeddings, in bytes."""
    return sum(8 + len(t.encode()) + len(s.encode()) + 4 * EMBED_DIM for _, t, s in rows)
