"""Output checks.  They run outside the timed window and outside
``setup_s``; an op whose check fails counts as failed.

Digests are ``tools/check_correctness.py``'s: every value is
canonicalised to a string, columns are taken in name order, rows are
sorted, and the lines are hashed, so the digest ignores row and column
order.
"""

from __future__ import annotations

import re
from decimal import Decimal

import duckdb

from tools import check_correctness
from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline

# table -> (columns, oracle_etl key); rollups carry their key columns
# followed by uses, wins.
_ROLLUP_KEYS = {
    "player_decks": ["player_tag", "deck_hash"],
    "meta_deck_types": ["deck_type"],
    "meta_type_deck_ids": ["deck_type", "deck_hash"],
    "meta_type_cards": ["deck_type", "card_id", "card_variant"],
    "player_type_cards": ["player_tag", "deck_type", "card_id", "card_variant"],
    "meta_type_matchups": ["deck_type", "opp_deck_type"],
}
TABLE_COLUMNS = {
    "deck_types": ["deck_type"],
    "player": ["player_tag", "player_name", "trophies", "rank_global"],
    "cards": ["card_id", "card_name"],
    "decks": ["deck_hash", "deck_type"],
    "deck_cards": ["deck_hash", "card_id", "card_variant", "slot"],
    "player_battles": ["match_hash", "battle_time", "side", "player_tag", "deck_hash", "win"],
    **{t: k + ["uses", "wins"] for t, k in _ROLLUP_KEYS.items()},
}
assert set(TABLE_COLUMNS) == set(pipeline.SNAPSHOT_TABLES)


def value_hash(rows, cols) -> str:
    """Order-independent digest of ``rows`` with column names ``cols``,
    by ``tools/check_correctness.py``'s method; DECIMAL values are
    hashed as the doubles they round to, so a DECIMAL column on one
    side matches a DOUBLE on the other."""
    return check_correctness.value_hash(
        [tuple(float(v) if isinstance(v, Decimal) else v for v in r) for r in rows],
        cols,
    )


def oracle_rows(oracle: dict) -> dict[str, list[tuple]]:
    """``cr_synthetic.oracle_etl``'s output as rows in ``TABLE_COLUMNS`` order."""
    rows = {
        "deck_types": [(t,) for t in oracle["deck_types"]],
        "player": [
            (p["player_tag"], p["player_name"], p["trophies"], p["rank_global"])
            for p in oracle["player"]
        ],
        "cards": list(oracle["cards"].items()),
        "decks": list(oracle["decks"].items()),
        "deck_cards": [
            (dh, cid, var, slot)
            for dh, obs in oracle["deck_cards"].items()
            for (cid, _, var, slot) in obs
        ],
        "player_battles": [
            tuple(r[c] for c in TABLE_COLUMNS["player_battles"])
            for r in oracle["player_battles"]
        ],
    }
    for t in _ROLLUP_KEYS:
        rows[t] = [
            (k if isinstance(k, tuple) else (k,)) + (u, w)
            for k, (u, w) in oracle[t].items()
        ]
    return rows


def oracle_digests(oracle: dict) -> dict[str, str]:
    """Per-table digests of ``cr_synthetic.oracle_etl``'s output."""
    rows = oracle_rows(oracle)
    return {t: value_hash(rows[t], TABLE_COLUMNS[t]) for t in TABLE_COLUMNS}


def parquet_source(warehouse: str, table: str) -> str:
    """DuckDB table expression over one published warehouse table."""
    return (
        f"read_parquet('{warehouse}/{table}/**/*.parquet', "
        "hive_partitioning=true, hive_types_autocast=false)"
    )


def warehouse_digests(warehouse: str) -> dict[str, str]:
    """Per-table digests of a published warehouse, read by DuckDB."""
    con = duckdb.connect()
    try:
        out = {}
        for t, cols in TABLE_COLUMNS.items():
            rows = con.execute(
                f"SELECT {', '.join(cols)} FROM {parquet_source(warehouse, t)}"
            ).fetchall()
            out[t] = value_hash(rows, cols)
        return out
    finally:
        con.close()


def refresh_failure(res: dict, warehouse: str, want: dict[str, str]) -> str | None:
    """Why a refresh op's output is wrong, or None: its validation
    suite must pass and every published table must digest equal to the
    oracle's."""
    if res["checks_failed"]:
        return f"validation failed {res['checks_failed']}"
    got = warehouse_digests(warehouse)
    bad = sorted(t for t in want if got.get(t) != want[t])
    return f"digest mismatch {bad}" if bad else None


def curation_failure(rep: dict, planted: dict, prev_gen: str, cur_gen: str) -> str | None:
    """Why an ingest day's report is wrong, or None: the gate, exact and
    id-recrawl counters must equal the planted counts, and the day must
    publish the generation after ``prev_gen`` and make it current."""
    for counter, kind in (("gate_dropped", "gate_fail"), ("exact_dropped", "byte_recrawl"),
                          ("id_recrawl_dropped", "id_recrawl")):
        if rep[counter] != planted[kind]:
            return f"{counter} {rep[counter]} != planted {kind} {planted[kind]}"
    if rep["batch_in"] != sum(planted.values()):
        return f"batch_in {rep['batch_in']} != {sum(planted.values())}"
    want = _gen_number(prev_gen) + 1
    if _gen_number(rep["generation"]) != want or cur_gen != rep["generation"]:
        return f"published {rep['generation']} (current {cur_gen}), want generation {want}"
    return None


def _gen_number(gen_dir: str) -> int:
    return int(gen_dir.rsplit("-", 1)[1])


_FIXTURE_TABLE = re.compile(r"read_parquet\('[^']*/warehouse/(\w+)\.parquet'\)")


def retarget(sql: str, warehouse: str) -> str:
    """Point an oracle query written against the committed fixture
    warehouse (``plans/domain_queries.py``) at a published warehouse."""
    return _FIXTURE_TABLE.sub(lambda m: parquet_source(warehouse, m.group(1)), sql)


class DuckOracle:
    """Runs oracle SQL in DuckDB, once per distinct statement."""

    def __init__(self):
        self._con = duckdb.connect()
        self._memo: dict[str, str] = {}

    def rows(self, sql: str) -> list[tuple]:
        return self._con.execute(sql).fetchall()

    def digest(self, sql: str) -> str:
        if sql not in self._memo:
            res = self._con.execute(sql)
            cols = [d[0] for d in res.description]
            self._memo[sql] = value_hash(res.fetchall(), cols)
        return self._memo[sql]

    def close(self) -> None:
        self._con.close()
