#!/usr/bin/env python
"""cr_pipeline creep profiler (r12 verdict Next #5): reproduce the
bench harness's exact cr_pipeline shape on an idle box and decompose
each sample into its phases, so the 8.1 → ~9-10 s drift across rounds
(on byte-unchanged pipeline code since r9) gets a NAMED term instead
of a shrug. Phases timed per sample:

- build:   build_snapshot() call — plan construction + the eager
           persisted participant core materialization
- counts:  the 12-table counts-union collect (every rollup's shuffle)

Also prints executor/JVM-side aggregates from the status tracker API
(total tasks, GC time, shuffle bytes) per sample — a creep that shows
in GC-or-shuffle names a memory/codegen term; one that shows only in
wall names the box.

Usage: python tools/profile_pipeline_r13.py [n_samples]
Env:   SPARK_GRAFT_SF (default 0.1 — the bench's sf for cr_pipeline)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from functools import reduce
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def main() -> None:
    n_samples = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf = float(os.environ.get("SPARK_GRAFT_SF", "0.1"))

    from pyspark.sql import functions as F

    from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark
    from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline as pl
    from topn_clashroyal_etl_sql_snapshot_spark.sources.schemas import (
        BATTLE_SCHEMA,
        CARD_METADATA_SCHEMA,
        LEADERBOARD_SCHEMA,
        OVERRIDES_SCHEMA,
    )
    from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import (
        CATALOG_ROWS,
        generate_fixture,
    )

    spark = get_spark(app_name="profile_pipeline")
    sc = spark.sparkContext

    n_battles = max(400, int(400_000 * sf))
    leaderboard, battles, overrides = generate_fixture(
        seed=42, n_players=100, n_battles=n_battles
    )
    bdf = spark.createDataFrame(battles, BATTLE_SCHEMA)
    ldf = spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA)
    cdf = spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    odf = spark.createDataFrame(overrides, OVERRIDES_SCHEMA)

    def jvm_totals() -> dict:
        # local[k] runs driver and executors in ONE JVM, so the GC MX
        # beans see the whole query's collector time (the status store
        # is not py4j-reachable in this build); JIT compilation time
        # rides along as the codegen-cost witness
        mf = spark._jvm.java.lang.management.ManagementFactory
        gc_ms = 0
        it = mf.getGarbageCollectorMXBeans().iterator()
        while it.hasNext():
            gc_ms += it.next().getCollectionTime()
        jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
        heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return {
            "gc_ms": gc_ms,
            "jit_ms": jit_ms,
            "heap_mb": round(heap / 1e6, 1),
        }

    def one_sample() -> dict:
        gc.collect()
        spark.catalog.clearCache()
        before = jvm_totals()
        t0 = time.perf_counter()
        result = pl.build_snapshot(
            spark, bdf, ldf, cdf, odf, top_n=50
        )
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        counts = [
            df.agg(F.count(F.lit(1)).alias("n"))
            for df in result.tables.values()
        ]
        reduce(lambda a, b: a.unionAll(b), counts).collect()
        t_counts = time.perf_counter() - t1
        after = jvm_totals()
        return {
            "wall": round(t_build + t_counts, 3),
            "build": round(t_build, 3),
            "counts": round(t_counts, 3),
            "load1": round(os.getloadavg()[0], 2),
            "delta": {
                k: round(after[k] - before[k], 1) for k in after
            },
        }

    one_sample()  # warm-up (JIT/codegen), uncounted — bench does the same
    for i in range(n_samples):
        print(json.dumps({"sample": i, **one_sample()}), flush=True)


if __name__ == "__main__":
    main()
