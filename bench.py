#!/usr/bin/env python
"""Benchmark harness: runs the registered query surface at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


from topn_clashroyal_etl_sql_snapshot_spark.testing.telemetry import (  # noqa: E402
    cpu_busy as _cpu_busy,
    cpu_steal as _cpu_steal,
    jvm_gc_ms as _jvm_gc_ms,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0

    from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark
    from topn_clashroyal_etl_sql_snapshot_spark.plans import (  # noqa: F401
        domain_queries,
        llm_queries,
        testdata_queries,
    )

    spark = get_spark(app_name="bench")

    qs = testdata_queries.queries()

    # Headline = the scalable plans. embedding_neardup_pairs re-entered
    # the timed set in r6: it now runs over a deterministic hash sample
    # (bounded input at any sf), so its cost is the sampled-exact
    # recipe, not an unbounded all-pairs blowup.
    # cr_* run on a fixed-size domain fixture (sf-independent pipeline
    # parity checks) — timing them against sf would be meaningless; the
    # pipeline's scaling behavior is measured by cr_pipeline below.
    qs = {n: f for n, f in qs.items() if not n.startswith("cr_")}
    # The strict-threshold LSH plan left the driver registry (its exact
    # result is empty at every driver sf, so the hash check verified
    # nothing) but stays in the bench: it times the sketch+bucket-join
    # pruning regime that the sampled-exact query doesn't exercise.
    qs["embedding_lsh_neardup"] = llm_queries.embedding_lsh_neardup
    # r14 rotation bookkeeping: q1_pricing_summary left the registry
    # (slot ceded to embedding_neardup_incremental, which is now a
    # REGISTERED row and needs no manual add) but keeps its bench
    # series — cross-round comparability outlives registry rotation.
    qs["q1_pricing_summary"] = testdata_queries.q1_pricing_summary
    # IVF-PQ ANN perf probe: timed here — fit + encode + ADC search
    # from codes at the pruning configuration (the correctness-gated
    # registry row is embedding_pq_adc below).
    qs["embedding_pq_topk"] = llm_queries.embedding_pq_topk
    # r9 rotation bookkeeping: docs_corpus_profile,
    # approx_distinct_sketch, text_token_stats and dedup_exact_summary
    # left the driver registry (slots ceded to docs_exact_substring /
    # embedding_pq_adc / docs_classifier_margin /
    # text_ngram_repetition) but keep their bench series —
    # cross-round comparability outlives registry rotation.
    qs["docs_corpus_profile"] = llm_queries.docs_corpus_profile
    qs["approx_distinct_sketch"] = testdata_queries.approx_distinct_sketch
    qs["text_token_stats"] = llm_queries.text_token_stats
    qs["dedup_exact_summary"] = llm_queries.dedup_exact_summary
    # r9: docs_term_quality ceded its registry slot to docs_winnow_overlap
    qs["docs_term_quality"] = llm_queries.docs_term_quality
    # r10: text_winnow_fingerprints / events_rolling_sum ceded their
    # slots to dedup_minhash_incremental / dedup_component_keepers
    qs["text_winnow_fingerprints"] = llm_queries.text_winnow_fingerprints
    qs["events_rolling_sum"] = testdata_queries.events_rolling_sum
    # r10: docs_with_split ceded its slot to docs_split_by_component
    qs["docs_with_split"] = llm_queries.docs_with_split
    # r10: setops_suite ceded its slot to docs_semantic_decontam
    qs["setops_suite"] = testdata_queries.setops_suite
    # r11: chunk_by_chars ceded its slot to embedding_centroid_gate
    qs["chunk_by_chars"] = llm_queries.chunk_by_chars
    # r11: dedup_components ceded its slot to dedup_components_incremental
    # (identical oracle, strictly more machinery exercised)
    qs["dedup_components"] = llm_queries.dedup_components
    # r11: docs_pack_greedy ceded its slot to dedup_exact_incremental_gate
    qs["docs_pack_greedy"] = llm_queries.docs_pack_greedy
    # r12: text_language_id ceded its slot to mixture_gate
    qs["text_language_id"] = llm_queries.text_language_id
    # embedding_pq_adc is a CORRECTNESS row (full-probe/full-rerank ≡
    # brute force); its timed code path is embedding_pq_topk's, already
    # benched median-of-3 — excluded so the bench total stays
    # round-comparable instead of double-counting a second PQ fit.
    qs.pop("embedding_pq_adc", None)

    # Warm the JVM/codegen path once so per-query timings measure the
    # queries, not first-call JIT + parquet footer reads.
    try:
        next(iter(qs.values()))(spark, sf_dir).collect()
    except Exception:  # noqa: BLE001 — the per-query loop will report it
        pass

    # The heaviest entries are noise-dominated when timed single-shot
    # (observed 2-2.6x same-binary swings between rounds) — time those
    # median-of-3 so cross-round comparisons are judgeable.
    # events_sessionize / events_rolling_sum joined in r6: their r5
    # single-shot numbers ticked up 1.3-1.5x vs r3 and could not be
    # adjudicated as noise without medians (r5 verdict item 2).
    HEAVY = {
        # r16 (r15 verdict #6): the artifact's worst recorded in-run
        # spread (2.22x at median-of-3 — the funnel re-runs the whole
        # dedup family with caches evicted, so it samples the box five
        # ways per repeat); median-of-5 stabilizes the recorded value
        # with the output schema unchanged
        "curation_funnel": 5,
        "cr_pipeline": 3,
        "dedup_simhash": 3,
        "dedup_minhash_lsh": 3,
        "embedding_lsh_neardup": 3,
        "approx_distinct_sketch": 3,
        "events_sessionize": 3,
        "events_rolling_sum": 3,
        "embedding_neardup_pairs": 3,
        # r7: new heaviest similarity entry (cluster-key candidates +
        # exact verify) — medians from day one, no single-shot noise
        "semantic_neardup_pairs": 3,
        "lm_perplexity": 3,
        # r8: new heaviest similarity entry (sampled fit + encode + ADC
        # search) — medians from day one, no single-shot noise
        "embedding_pq_topk": 3,
        # r8 close: single-shot docs_exact_substring read 9.9 s in one
        # bench run vs a steady 3.6-3.8 s isolated median — in-bench
        # drift needs samples to adjudicate (the cr_pipeline lesson);
        # same treatment for the two newest multi-pass text entries
        "docs_exact_substring": 3,
        "text_ngram_repetition": 3,
        "docs_bm25_topk": 3,
        # r9: new heaviest overlap entry (winnowing index self-join) —
        # medians from day one, no single-shot noise
        "docs_winnow_overlap": 3,
        # r10: new heaviest dedup entry (sign both corpus halves +
        # banded join + verify) — observed 5.8-7.1 s single-shot in
        # the same session; medians from day one
        "dedup_minhash_incremental": 3,
        # r10: new broadcast-scoring decontam entry read 2.7 s
        # single-shot at registration — medians from day one
        "docs_semantic_decontam": 3,
        # r15 (r14 verdict next #3): the r14 driver artifact recorded
        # phantom 1.6-2.4x regressions on code-untouched rows under
        # box load — every entry whose recorded r11-r14 cross-round
        # spread exceeded 1.5x moves to median-of-3 so driver
        # artifacts self-stabilize (spreads annotated at entry):
        "cube_returnflag_status": 3,        # 2.37x
        "docs_term_quality": 3,             # 1.70x
        "docs_with_split": 3,               # 1.66x
        "docs_dedup_lines": 3,              # 1.65x
        "q5_region_order_volume": 3,        # 1.61x
        "events_asof_join": 3,              # 1.60x
        "docs_gopher_gates": 3,             # 1.60x
        "embedding_centroid_gate": 3,       # 1.58x
        "embedding_ann_topk": 3,            # 1.58x
        "dedup_components_incremental": 3,  # 1.56x
        "docs_split_by_component": 3,       # 1.55x
        "dedup_exact_incremental_gate": 3,  # 1.52x
        "docs_dsir_weights": 3,             # 1.51x
    }

    # Box-drift hardening (r12, verdict #6): SPARK_GRAFT_BENCH_MIN_OF=k
    # (k ≥ 2) re-runs every entry at least k times warm and records the
    # MIN — the least-contended sample, the standard drift-robust
    # statistic — instead of the single-shot/median reading. Two
    # consecutive rounds needed manual drift adjudication (r10 0.94x,
    # r11 1.11x — both box-level, verified by idle-box m3); a driver
    # that opts in stops paying that tax. Default (unset/1) keeps the
    # historical single-shot + median-of-3-for-HEAVY behavior and the
    # output schema is identical either way; BENCH_DIAG records the
    # statistic in use.
    try:
        min_of = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MIN_OF", "1")))
    except ValueError:
        min_of = 1
    agg = min if min_of > 1 else statistics.median

    timings: dict[str, float] = {}
    repeats: dict[str, int] = {}
    raw_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # Per-entry drift telemetry (r8 verdict item 2): 1-min loadavg at
    # entry start + CPU-busy fraction over the entry's samples. A
    # drifted run self-identifies in the BENCH_DIAG line instead of
    # costing a manual adjudication rerun next round.
    entry_load: dict[str, dict[str, float]] = {}
    for name, fn in sorted(qs.items()):
        # r17 (r16 verdict #1): EVERY entry is at least median-of-3 —
        # the ~20 remaining single-shot entries were where 0.3-0.6 s of
        # absolute box drift flipped 26 ratios in the r16 artifact.
        # Output schema unchanged; HEAVY keeps its per-entry overrides.
        n = max(HEAVY.get(name, 3), min_of)
        samples = []
        load1 = os.getloadavg()[0]
        busy0, tot0 = _cpu_busy()
        steal0, stot0 = _cpu_steal()
        gc0 = _jvm_gc_ms(spark)
        # Per-query fault isolation: one broken query must not lose the
        # timings of every green one (a single AnalysisException killed
        # the entire r4 run). Record the error and keep going.
        try:
            for _ in range(n):
                # Drop dead Python DataFrame refs so the ContextCleaner
                # releases prior queries' localCheckpoint blocks —
                # otherwise block-manager pressure from 30 earlier
                # queries bleeds into this one's timing (measured 2x on
                # embedding_lsh_neardup late in the alphabet).
                import gc

                gc.collect()
                if name == "curation_funnel":
                    # evict the session-level jaccard-pairs AND tokenize
                    # caches so every repeat measures the full compute,
                    # not a cached replay — the funnel is the designated
                    # end-to-end cost probe for the dedup family; the
                    # other dedup queries keep the shared caches, which
                    # is the production fan-out shape (tokenize once)
                    llm_queries._PAIRS_CACHE.pop(spark, None)
                    llm_queries._TOKS_CACHE.pop(spark, None)
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — harness boundary
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            continue
        timings[name] = round(agg(samples), 4)
        repeats[name] = n
        if n > 1:
            raw_samples[name] = [round(s, 4) for s in samples]
        busy1, tot1 = _cpu_busy()
        steal1, stot1 = _cpu_steal()
        gc1 = _jvm_gc_ms(spark)
        entry_load[name] = {
            "load1": round(load1, 2),
            "cpu_busy": round((busy1 - busy0) / max(tot1 - tot0, 1e-9), 3),
            # r17: hypervisor steal fraction + driver-JVM GC ms over the
            # entry's samples — separates shared-host contention from
            # in-JVM pressure, the adjudication r14/r16 lacked receipts
            # for (cpu_busy counts steal as busy; GC is also busy).
            "steal": round((steal1 - steal0) / max(stot1 - stot0, 1e-9), 4),
            "gc_ms": round(gc1 - gc0) if gc0 >= 0 and gc1 >= 0 else -1,
        }

    # Domain snapshot pipeline at sf-proportional battle volume: the
    # fixed-size fixture verifies correctness; THIS measures how the
    # one-pass participant core + 12-table fan-out behaves as data
    # grows (≈400k raw battlelog entries per sf unit). Synthetic input
    # generation and driver→JVM conversion happen off the clock; the
    # timed window is build_snapshot + full materialization of every
    # warehouse table.
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

    n_battles = max(400, int(400_000 * max(sf, 0.0)))
    n_players = 100
    leaderboard, battles, overrides = generate_fixture(
        seed=42, n_players=n_players, n_battles=n_battles
    )
    bdf = spark.createDataFrame(battles, BATTLE_SCHEMA)
    ldf = spark.createDataFrame(leaderboard, LEADERBOARD_SCHEMA)
    cdf = spark.createDataFrame(CATALOG_ROWS, CARD_METADATA_SCHEMA)
    odf = spark.createDataFrame(overrides, OVERRIDES_SCHEMA)

    from functools import reduce

    def run_pipeline() -> float:
        t0 = time.perf_counter()
        result = pl.build_snapshot(
            spark, bdf, ldf, cdf, odf, top_n=50
        )
        # One action materializing every table: a union of per-table
        # counts still executes each rollup's full shuffle but avoids
        # paying 12x per-job scheduling overhead (which would swamp the
        # signal at small sf).
        counts = [
            df.agg(F.count(F.lit(1)).alias("n")) for df in result.tables.values()
        ]
        reduce(lambda a, b: a.unionAll(b), counts).collect()
        dt = time.perf_counter() - t0
        result.unpersist()
        return dt

    try:
        # One untimed warm-up run first: the pipeline's generated classes
        # are cold at this point (the cr_* registry rows are excluded from
        # the loop above), and its first execution is JIT-dominated —
        # measured 35.6 s cold vs 9.5 s steady-state in a fresh session at
        # sf0.1. The global warm-up at the top applies the same policy to
        # the registry queries; without this, the r6 median-of-3 (18.0 s)
        # was half compile time, not pipeline time (r6 verdict item 1).
        run_pipeline()
        import gc

        samples = []
        load1 = os.getloadavg()[0]
        busy0, tot0 = _cpu_busy()
        steal0, stot0 = _cpu_steal()
        gc0 = _jvm_gc_ms(spark)
        for _ in range(max(HEAVY["cr_pipeline"], min_of)):
            # Same hygiene as the main loop: release dead refs + cached
            # blocks so the 30 earlier queries' block-manager residue
            # doesn't bleed into the flagship timing.
            gc.collect()
            spark.catalog.clearCache()
            samples.append(run_pipeline())
        timings["cr_pipeline"] = round(agg(samples), 4)
        repeats["cr_pipeline"] = max(HEAVY["cr_pipeline"], min_of)
        raw_samples["cr_pipeline"] = [round(s, 4) for s in samples]
        busy1, tot1 = _cpu_busy()
        steal1, stot1 = _cpu_steal()
        gc1 = _jvm_gc_ms(spark)
        entry_load["cr_pipeline"] = {
            "load1": round(load1, 2),
            "cpu_busy": round((busy1 - busy0) / max(tot1 - tot0, 1e-9), 3),
            "steal": round((steal1 - steal0) / max(stot1 - stot0, 1e-9), 4),
            "gc_ms": round(gc1 - gc0) if gc0 >= 0 and gc1 >= 0 else -1,
        }
    except Exception as exc:  # noqa: BLE001 — harness boundary
        errors["cr_pipeline"] = f"{type(exc).__name__}: {exc}"[:500]

    total = round(sum(timings.values()), 4)
    # Two lines, deliberately: the driver captures only the LAST ~2,000
    # chars of output, and r7's single fat line (37 entries + per-sample
    # arrays) overflowed that window, amputating total_query_sec and
    # leaving BENCH_r07 unparseable. Diagnostics (per-sample arrays,
    # repeat counts) go on their own earlier line; the FINAL line is the
    # compact driver contract with medians only.
    # Per-entry sample spread (r12 verdict #6): max/min ratio across an
    # entry's repeats — the direct box-drift witness (a loaded run shows
    # ratios well past the ±5% honesty band without needing a judge-side
    # m3 rerun). Full map in BENCH_DIAG; the final line carries the run
    # max + the three widest entries (the line must stay under the
    # driver's ~2,000-char tail window — measured ~1,600 at 47 entries).
    spreads = {
        name: round(max(s) / max(min(s), 1e-9), 2)
        for name, s in raw_samples.items()
        if len(s) > 1
    }
    diag = {"repeats": repeats, "samples": raw_samples, "load": entry_load,
            "spread": spreads,
            "stat": "min" if min_of > 1 else "median", "min_of": min_of}
    if errors:
        diag["errors"] = errors
    print("BENCH_DIAG " + json.dumps(diag))
    # Run-level drift summary rides the compact final line (a handful of
    # bytes): max load1 seen at any entry start + the busiest and
    # idlest per-entry CPU fractions. Per-entry detail is in BENCH_DIAG.
    busies = [v["cpu_busy"] for v in entry_load.values()] or [0.0]
    worst = sorted(spreads.items(), key=lambda kv: -kv[1])[:3]
    out = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load": {
            "load1_max": max(
                [v["load1"] for v in entry_load.values()] or [0.0]
            ),
            "cpu_busy_min": min(busies),
            "cpu_busy_max": max(busies),
            # r17: run-level steal + GC receipts (per-entry detail in
            # BENCH_DIAG) — additive keys, schema otherwise unchanged
            "steal_max": max(
                [v.get("steal", 0.0) for v in entry_load.values()] or [0.0]
            ),
            "gc_sec": round(
                sum(max(v.get("gc_ms", 0), 0) for v in entry_load.values())
                / 1000.0,
                1,
            ),
        },
        "spread": {
            "max": max(spreads.values(), default=1.0),
            "top": dict(worst),
        },
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
