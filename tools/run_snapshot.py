#!/usr/bin/env python
"""End-to-end snapshot refresh CLI — the engine's equivalent of the
reference's ``make refresh`` (EP1) + ``make validate`` (EP2):

    python tools/run_snapshot.py \\
        --battles fixtures/battles.jsonl \\
        --leaderboard fixtures/leaderboard.jsonl \\
        --catalog fixtures/card_catalog.json \\
        --overrides fixtures/overrides.parquet \\
        --out /tmp/warehouse --top-n 8 [--dry-run]

Reads the landing zone, builds the snapshot DAG, overwrite-writes all 11
warehouse tables (snapshot mode ≡ TRUNCATE+RELOAD), then re-reads the
written parquet and runs the G1-G6 validation suite — mirroring the
reference lifecycle: ETL summary print (scripts/etl_snapshot_topn.py:
347-358), dry-run gate (:356-358), separate-process validation
(scripts/validate_snapshot.py:209-248).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline, validate  # noqa: E402
from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark  # noqa: E402
from topn_clashroyal_etl_sql_snapshot_spark.sinks import (  # noqa: E402
    write_snapshot,
    write_snapshot_atomic,
)
from topn_clashroyal_etl_sql_snapshot_spark.sources import readers  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--battles", required=True, help="battle JSONL landing path/glob")
    ap.add_argument("--leaderboard", required=True, help="leaderboard JSONL path")
    ap.add_argument("--catalog", required=True, help="card catalog json/parquet")
    ap.add_argument("--overrides", default=None, help="deck_type_overrides parquet")
    ap.add_argument("--out", required=True, help="warehouse output dir")
    ap.add_argument("--top-n", type=int, default=20)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument(
        "--atomic",
        action="store_true",
        help="stage-and-swap publish: readers of --out never see a "
        "half-refreshed snapshot (the reference's one-transaction load)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="snapshot-refresh")

    result = pipeline.build_snapshot(
        spark,
        battles=readers.read_battles_json(spark, args.battles),
        leaderboard=readers.read_leaderboard_json(spark, args.leaderboard),
        catalog=readers.read_card_catalog(spark, args.catalog),
        overrides=readers.read_overrides(spark, args.overrides),
        top_n=args.top_n,
    )

    # Summary (mirrors scripts/etl_snapshot_topn.py:347-358)
    print("\n[ETL] SUMMARY (pre-write)")
    for name, value in result.counters.items():
        print(f"  {name + ':':<28}{value}")
    print(f"  unique decks:               {result.tables['decks'].count()}")
    print(f"  player_decks rows (TopN):   {result.tables['player_decks'].count()}")
    print(f"  type matchups rows:         {result.tables['meta_type_matchups'].count()}")

    if args.dry_run:
        print("\n[ETL] Dry-run mode: no writes.")
        return 0

    (write_snapshot_atomic if args.atomic else write_snapshot)(
        result.tables, args.out
    )
    print(f"\n[ETL] Snapshot written to {args.out}")

    # Validate from the written parquet (separate read path, like the
    # reference's validate_snapshot.py re-reading Postgres)
    tables = {
        name: readers.read_table(spark, args.out, name)
        for name in pipeline.SNAPSHOT_TABLES
    }
    checks = validate.run_all(tables, expected_top_n=args.top_n)
    failed = [c for c in checks if not c.passed]
    print("\n[VALIDATE] G1-G6 + FK checks")
    for c in checks:
        print(f"  [{'OK' if c.passed else 'FAIL'}] {c.name}: {c.detail}")
    if failed:
        print(f"\n[VALIDATE] {len(failed)} check(s) FAILED")
        return 1
    print("\n[VALIDATE] all checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
