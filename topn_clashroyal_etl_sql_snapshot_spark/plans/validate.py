"""Validation suite: the reference's post-load invariant checks as
DataFrame queries (G1-G6, the reference's ``scripts/validate_snapshot.py``).

Spark has no FK/CHECK DDL — integrity is enforced by *validation queries*,
which is exactly how the reference's own validator works. The suite has
ONE definition, :func:`validation_report` (a relational result set the
DuckDB oracle re-derives in SQL); :func:`run_all` is a single
``collect()`` of it mapped to ``CheckResult``s for CLI reporting.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATS_TABLES = (
    "player_decks",
    "meta_deck_types",
    "meta_type_deck_ids",
    "meta_type_cards",
    "player_type_cards",
    "meta_type_matchups",
)

FK_EDGES = [
    ("deck_cards", "deck_hash", "decks", "deck_hash"),
    ("player_decks", "deck_hash", "decks", "deck_hash"),
    ("player_decks", "player_tag", "player", "player_tag"),
    ("decks", "deck_type", "deck_types", "deck_type"),
    ("meta_type_deck_ids", "deck_hash", "decks", "deck_hash"),
]


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str


def check_catalog_smoke(spark) -> CheckResult:
    """G7 (scripts/test_sql.py:39-77): engine answers SELECT 1 and the
    session catalog is reachable — the Spark twin of the reference's
    information_schema smoke test."""
    one = spark.sql("SELECT 1 AS one").first()["one"]
    dbs = spark.catalog.listDatabases()
    return CheckResult("catalog_smoke", one == 1 and len(dbs) > 0, f"{len(dbs)} database(s)")


def validation_report(
    tables: dict[str, DataFrame], expected_top_n: int | None = None
) -> DataFrame:
    """The G1-G6 suite + FK integrity as ONE relational result set
    (check_name, violations, passed), in this order (line refs are
    validate_snapshot.py):

    - G1 ``deck_cards_8_rows``: decks without 8 card rows (:49-68);
    - G2 ``wins_uses_sanity:<t>``: rows breaking 0 ≤ wins ≤ uses, per
      :data:`STATS_TABLES` entry present (:71-102);
    - G3 ``non_empty_meta``: 1 if meta_deck_types is empty (:105-113);
    - G4 ``unknown_ratio``: 1 if 'unknown' uses exceed 30% (:116-145);
    - G5 ``topn_meta_bound``: 1 unless topn ≤ meta ≤ 2×topn summed
      uses (:148-192) — zero TopN uses pass only with an empty meta;
    - G6 ``player_count``: 1 unless the player dim has
      ``expected_top_n`` rows; only when that is given (:195-206);
    - ``fk:<child>.<col>-><parent>.<col>``: orphans per :data:`FK_EDGES`
      edge whose tables are present (the DDL FKs as anti-joins).

    Every check is a small aggregate; the union is a single distributed
    plan with no driver-side logic. Ratio thresholds use integer
    arithmetic (unknown×10 ≤ 3×total) so the comparison is exact on any
    engine."""
    def labeled(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), F.col("violations").cast("long")
        )

    mdt = tables["meta_deck_types"]
    out = [
        labeled(
            "deck_cards_8_rows",
            tables["deck_cards"]
            .groupBy("deck_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") != 8)
            .agg(F.count(F.lit(1)).alias("violations")),
        )
    ]
    for name in STATS_TABLES:
        df = tables.get(name)
        if df is None:
            continue
        out.append(
            labeled(
                f"wins_uses_sanity:{name}",
                df.filter(
                    (F.col("wins") > F.col("uses"))
                    | (F.col("wins") < 0)
                    | (F.col("uses") < 0)
                ).agg(F.count(F.lit(1)).alias("violations")),
            )
        )
    out.append(
        labeled(
            "non_empty_meta",
            mdt.agg(
                F.when(F.count(F.lit(1)) > 0, F.lit(0))
                .otherwise(F.lit(1))
                .alias("violations")
            ),
        )
    )
    out.append(
        labeled(
            "unknown_ratio",
            mdt.agg(
                F.when(
                    F.coalesce(
                        F.sum(
                            F.when(
                                F.lower(F.col("deck_type")) == "unknown",
                                F.col("uses"),
                            )
                        ),
                        F.lit(0),
                    )
                    * 10
                    <= F.coalesce(F.sum("uses"), F.lit(0)) * 3,
                    F.lit(0),
                )
                .otherwise(F.lit(1))
                .alias("violations")
            ),
        )
    )
    topn_sum = tables["player_decks"].agg(
        F.coalesce(F.sum("uses"), F.lit(0)).alias("_t")
    )
    meta_sum = mdt.agg(F.coalesce(F.sum("uses"), F.lit(0)).alias("_m"))
    out.append(
        labeled(
            "topn_meta_bound",
            topn_sum.crossJoin(meta_sum).select(
                F.when(
                    (F.col("_t") <= F.col("_m")) & (F.col("_m") <= 2 * F.col("_t")),
                    F.lit(0),
                )
                .otherwise(F.lit(1))
                .alias("violations")
            ),
        )
    )
    if expected_top_n is not None:
        out.append(
            labeled(
                "player_count",
                tables["player"].agg(
                    F.when(F.count(F.lit(1)) == expected_top_n, F.lit(0))
                    .otherwise(F.lit(1))
                    .alias("violations")
                ),
            )
        )
    for child, ck, parent, pk in FK_EDGES:
        c, p = tables.get(child), tables.get(parent)
        if c is None or p is None:
            continue
        out.append(
            labeled(
                f"fk:{child}.{ck}->{parent}.{pk}",
                c.join(p.select(F.col(pk).alias(ck)), ck, "left_anti").agg(
                    F.count(F.lit(1)).alias("violations")
                ),
            )
        )
    report = out[0]
    for df in out[1:]:
        report = report.unionAll(df)
    return report.withColumn("passed", F.col("violations") == 0)


def run_all(tables: dict[str, DataFrame], expected_top_n: int | None = None) -> list[CheckResult]:
    """The suite for CLI reporting: one ``collect()`` of
    :func:`validation_report`, one ``CheckResult`` per check in report
    order, with the violation count as the detail."""
    return [
        CheckResult(r["check_name"], r["passed"], f"{r['violations']} violations")
        for r in validation_report(tables, expected_top_n).collect()
    ]
