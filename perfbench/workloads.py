"""The benchmark's workloads.  Each drives the program only through its
public functions, with one closed-loop client, on the session
``session.get_spark`` builds with ``local[<nproc>]``.

A workload is a set-up (which warms the program up, except where users
pay the cold cost on every run) and an op that the timed loop repeats
until ``seconds`` of op time have been measured.  Output checks run
between ops, off the clock.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from topn_clashroyal_etl_sql_snapshot_spark.functions.exprs import win_rate
from topn_clashroyal_etl_sql_snapshot_spark.plans import pipeline, testdata_queries, validate
from topn_clashroyal_etl_sql_snapshot_spark.plans import queries as q
from topn_clashroyal_etl_sql_snapshot_spark.session import get_spark
from topn_clashroyal_etl_sql_snapshot_spark.sinks import write_snapshot_atomic
from topn_clashroyal_etl_sql_snapshot_spark.sources import readers
from topn_clashroyal_etl_sql_snapshot_spark.testing import telemetry
from topn_clashroyal_etl_sql_snapshot_spark.testing.cr_synthetic import oracle_etl

from . import checks, gen
from .spans import Tracer, peak_rss_mb, self_times


@dataclass
class Sizes:
    """Input size of the battlelog workloads: by default one full
    leaderboard page (``pipeline.MAX_LEADERBOARD_ROWS``, which is also
    the top-N) and about one API battlelog page (25 entries) per
    player."""

    players: int = pipeline.MAX_LEADERBOARD_ROWS
    entries_per_player: int = 25
    # curation_day: seed corpus and daily batch, as tools/scale_ingest_gate_r14.py
    seed_docs: int = 10_000
    day_docs: int = 1_000


@dataclass
class Outcome:
    """What one run measured; ``run.py`` turns it into the record."""

    workload: str
    setup_s: float = 0.0
    latencies: list = field(default_factory=list)
    items: int = 0
    timed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    stored_bytes: int = 0
    input_bytes: int = 0
    peak_rss_mb: float = 0.0
    props: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    self_s: dict = field(default_factory=dict)
    receipts: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Context:
    """Session, tracer and landing zone shared by a run's set-up and ops."""

    def __init__(self, work: str, seed: int, trace: bool, sizes: Sizes,
                 battlelogs: bool = True):
        self.sizes = sizes
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]"
        )
        self.session_start_s = time.perf_counter() - t
        self.tracer = Tracer(self.spark, trace)
        self.inputs_s = 0.0
        if not battlelogs:
            return
        t = time.perf_counter()
        lb, logs, overrides, self.props = gen.battlelogs(
            seed, sizes.players, sizes.entries_per_player
        )
        self.leaderboard, self.overrides = lb, overrides
        self.battles = [b for log in logs for b in log]
        self.paths = gen.write_landing(os.path.join(work, "landing"), lb, logs, overrides)
        self.warehouse = os.path.join(work, "warehouse")
        self.inputs_s = time.perf_counter() - t

    def read(self, fn, *args):
        with self.tracer.span("sources.read"):
            return fn(self.spark, *args)

    def publish(self, collect_counters: bool) -> dict:
        """Landing zone → ``build_snapshot`` → atomic publish."""
        tr, p = self.tracer, self.paths
        battles = self.read(readers.read_battles_json, p["battles"])
        leaderboard = self.read(readers.read_leaderboard_json, p["leaderboard"])
        catalog = self.read(readers.read_card_catalog, p["catalog"])
        overrides = self.read(readers.read_overrides, p["overrides"])
        with tr.span("plans.pipeline.build"):
            result = pipeline.build_snapshot(
                self.spark, battles, leaderboard, catalog, overrides,
                top_n=self.sizes.players, collect_counters=collect_counters,
            )
        with tr.span("sinks.snapshot.publish"):
            write_snapshot_atomic(result.tables, self.warehouse)
            result.unpersist()
        return result.counters

    def refresh(self, op: int | None = None) -> dict:
        """One full refresh: publish, then re-read all tables and validate."""
        tr = self.tracer
        with tr.span("op", op):
            counters = self.publish(collect_counters=True)
            tables = {
                n: self.read(readers.read_table, self.warehouse, n)
                for n in pipeline.SNAPSHOT_TABLES
            }
            with tr.span("plans.validate.run"):
                results = validate.run_all(tables, expected_top_n=self.sizes.players)
        return {
            "counters": counters,
            "checks_failed": [c.name for c in results if not c.passed],
            "items": counters["scanned_entries"],
        }

    def close(self) -> None:
        """Stop the session and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is None:
            return
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def timed_loop(out: Outcome, seconds: float, op, check, rounds_of: int = 1) -> None:
    """Closed loop, one client: run ``op(i)``, at least once, until
    ``seconds`` of op time are measured and the op count is a whole
    number of ``rounds_of``.  ``check(i, result)`` runs off the clock
    and returns a failure description or None."""
    i = 0
    while i == 0 or out.timed_s < seconds or i % rounds_of:
        t = time.perf_counter()
        try:
            res, err = op(i), None
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            res, err = None, f"op {i}: {type(exc).__name__}: {str(exc)[:300]}"
        dt = time.perf_counter() - t
        out.timed_s += dt
        out.latencies.append(dt)
        out.attempted += 1
        if err is None:
            err = check(i, res)
        if err is None:
            out.items += res["items"]
        else:
            out.failed += 1
            out.failures.append(err)
        i += 1


def _walk(root: str) -> tuple[int, int]:
    """(data files, bytes) of a published warehouse."""
    n = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _by_op(spans) -> dict:
    out: dict = {}
    for s in spans:
        if s.op is not None:
            out.setdefault(s.op, []).append(s)
    return out


def _per_op(spans, name: str, attr: str | None = None) -> float:
    """Median over ops of the summed ``attr`` of the op's ``name``
    spans, or of their count when ``attr`` is None."""
    vals = [
        sum(1 if attr is None else getattr(s, attr) for s in group if s.name == name)
        for group in _by_op(spans).values()
    ]
    return statistics.median(vals) if vals else 0.0


def _median(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


# --------------------------------------------------------------------------
# snapshot_refresh
# --------------------------------------------------------------------------

def snapshot_refresh(work, seed, seconds, trace, t_process, sizes) -> Outcome:
    out = Outcome("snapshot_refresh")
    ctx = Context(work, seed, trace, sizes)
    try:
        # no warm-up: the first timed op is the session's first refresh,
        # as a scheduled refresh runs in a fresh process
        out.setup_s = time.perf_counter() - t_process
        want: dict = {}
        publishes: list[tuple[int, int]] = []
        ops: list[dict] = []

        def check(i, res):
            publishes.append(_walk(ctx.warehouse))
            ops.append(res)
            if not want:  # the oracle runs at the first check, off every clock
                want.update(checks.oracle_digests(oracle_etl(
                    ctx.leaderboard, ctx.battles, ctx.overrides, ctx.sizes.players)))
            err = checks.refresh_failure(res, ctx.warehouse, want)
            return f"op {i}: {err}" if err else None

        with _window(ctx, out):
            timed_loop(out, seconds, ctx.refresh, check)
        out.input_bytes = ctx.paths["input_bytes"]
        out.stored_bytes = int(_median(b for _, b in publishes))
        out.props = ctx.props
        if trace:
            out.layers = _refresh_layers(ctx.tracer.spans, ops, publishes)
        return _finish(ctx, out)
    finally:
        ctx.close()


def _refresh_layers(spans, ops, publishes) -> dict:
    b, p, v = "plans.pipeline.build", "sinks.snapshot.publish", "plans.validate.run"
    return {
        "sources.read_s": _per_op(spans, "sources.read", "wall_s"),
        "sources.calls": _per_op(spans, "sources.read"),
        "plans.pipeline.build_s": _per_op(spans, b, "wall_s"),
        "plans.pipeline.build_driver_s": _per_op(spans, b, "driver_s"),
        "plans.pipeline.build_task_s": _per_op(spans, b, "task_s"),
        "plans.pipeline.build_jobs": _per_op(spans, b, "jobs"),
        "plans.pipeline.shuffle_write_bytes": _per_op(spans, b, "shuffle_write_bytes"),
        "plans.pipeline.spill_bytes": _per_op(spans, b, "spill_bytes"),
        "plans.pipeline.dedup_ratio": _median(
            o["counters"]["deduped_matches"] / o["counters"]["scanned_entries"] for o in ops),
        "sinks.snapshot.publish_s": _per_op(spans, p, "wall_s"),
        "sinks.snapshot.publish_jobs": _per_op(spans, p, "jobs"),
        "sinks.snapshot.files_written": _median(n for n, _ in publishes),
        "sinks.snapshot.bytes_written": _median(size for _, size in publishes),
        "plans.validate.run_s": _per_op(spans, v, "wall_s"),
        "plans.validate.jobs": _per_op(spans, v, "jobs"),
        "plans.validate.checks_failed": _median(len(o["checks_failed"]) for o in ops),
    }


# --------------------------------------------------------------------------
# dashboard_queries
# --------------------------------------------------------------------------

def _drill_cards(t, deck_type):
    return (
        t["meta_type_cards"].filter(F.col("deck_type") == deck_type)
        .select("card_id", "card_variant", "uses", "wins",
                win_rate(F.col("wins"), F.col("uses")).alias("winrate"))
        .orderBy(F.desc("uses"), "card_id", "card_variant")
        .limit(20)
    )


def _drill_decks(t, deck_type):
    return (
        t["meta_type_deck_ids"].filter(F.col("deck_type") == deck_type)
        .select("deck_hash", "uses", "wins",
                win_rate(F.col("wins"), F.col("uses")).alias("winrate"))
        .orderBy(F.desc("uses"), "deck_hash")
        .limit(20)
    )


def _registered(name: str):
    """Oracle SQL registered in ``plans/domain_queries.py``."""
    return lambda wh, arg: checks.retarget(testdata_queries.oracle_sql()[name], wh)


def _legacy(grain: str, cols: str):
    """One arm of the registered legacy-grain oracle."""
    union = _registered("cr_legacy_grain_rollups")
    return lambda wh, arg: f"SELECT {cols} FROM ({union(wh, arg)}) WHERE grain = '{grain}'"


def _sql(template: str):
    """Oracle SQL written here; ``{table}`` names a warehouse table and
    ``{arg}`` the op's archetype."""
    def render(wh, arg):
        tables = {t: checks.parquet_source(wh, t) for t in pipeline.SNAPSHOT_TABLES}
        return template.format(**tables, arg=(arg or "").replace("'", "''"))
    return render


# kind -> (tables it opens, builder(tables, arg), oracle(warehouse, arg) -> SQL)
DASHBOARD = {
    "f1_top_cards": (
        ("deck_cards", "cards"),
        lambda t, a: q.top_cards_overall(t["deck_cards"], t["cards"]),
        _registered("cr_f1_top_cards")),
    "f2_top_deck_types": (
        ("player_decks", "decks"),
        lambda t, a: q.top_deck_types(t["player_decks"], t["decks"]),
        _registered("cr_f2_top_deck_types")),
    "f3_player_summary": (
        ("player", "player_decks"),
        lambda t, a: q.player_summary(t["player"], t["player_decks"]),
        _registered("cr_f3_player_summary")),
    "f4_top_decks": (
        ("player_decks", "decks"),
        lambda t, a: q.top_decks(t["player_decks"], t["decks"]),
        _registered("cr_f4_top_decks")),
    "f5_matchup_winrates": (
        ("meta_type_matchups",),
        lambda t, a: q.matchup_winrates(t["meta_type_matchups"]),
        _sql("SELECT deck_type, opp_deck_type, uses, wins, "
             "CAST(wins AS DOUBLE) / NULLIF(uses, 0) AS winrate FROM {meta_type_matchups} "
             "ORDER BY uses DESC, deck_type, opp_deck_type LIMIT 20")),
    "f6_best_decks": (
        ("player_decks",),
        lambda t, a: q.best_decks_by_winrate(t["player_decks"], min_uses=5),
        _registered("cr_f6_best_decks")),
    "f7_deck_integrity": (
        ("deck_cards",),
        lambda t, a: q.deck_integrity_violations(t["deck_cards"]),
        _sql("SELECT deck_hash, COUNT(*) AS n_cards FROM {deck_cards} GROUP BY deck_hash "
             "HAVING COUNT(*) <> 8 ORDER BY deck_hash LIMIT 20")),
    "f2_top_deck_types_legacy": (
        ("player_battles", "decks"),
        lambda t, a: q.top_deck_types_legacy(t["player_battles"], t["decks"]),
        _legacy("deck_type", "deck_type, uses, wins, win_rate")),
    "f4_top_decks_legacy": (
        ("player_battles", "decks"),
        lambda t, a: q.top_decks_legacy(t["player_battles"], t["decks"]),
        _legacy("deck", "deck_hash, deck_type, uses, wins, win_rate")),
    "drill_type_cards": (
        ("meta_type_cards",), _drill_cards,
        _sql("SELECT card_id, card_variant, uses, wins, "
             "CAST(wins AS DOUBLE) / NULLIF(uses, 0) AS winrate FROM {meta_type_cards} "
             "WHERE deck_type = '{arg}' ORDER BY uses DESC, card_id, card_variant LIMIT 20")),
    "drill_type_decks": (
        ("meta_type_deck_ids",), _drill_decks,
        _sql("SELECT deck_hash, uses, wins, "
             "CAST(wins AS DOUBLE) / NULLIF(uses, 0) AS winrate FROM {meta_type_deck_ids} "
             "WHERE deck_type = '{arg}' ORDER BY uses DESC, deck_hash LIMIT 20")),
}


def dashboard_queries(work, seed, seconds, trace, t_process, sizes) -> Outcome:
    # registers the cr_* oracle SQL that _registered() reads
    from topn_clashroyal_etl_sql_snapshot_spark.plans import domain_queries  # noqa: F401

    out = Outcome("dashboard_queries")
    ctx = Context(work, seed, trace, sizes)
    oracle = None
    try:
        t = time.perf_counter()
        ctx.publish(collect_counters=False)
        out.receipts["warmup_s"] = time.perf_counter() - t
        oracle = checks.DuckOracle()
        archetypes = sorted(r[0] for r in oracle.rows(
            "SELECT DISTINCT deck_type FROM "
            + checks.parquet_source(ctx.warehouse, "meta_deck_types")))
        kinds = list(DASHBOARD)
        rng = random.Random(seed)
        tr = ctx.tracer

        def query(kind, arg, op=None):
            tables_needed, build, _ = DASHBOARD[kind]
            with tr.span("op", op):
                tables = {n: ctx.read(readers.read_table, ctx.warehouse, n)
                          for n in tables_needed}
                with tr.span("plans.queries.construct"):
                    df = build(tables, arg)
                with tr.span("plans.queries.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("plans.queries.exec"):
                    rows = df.collect()
            return {"rows": [tuple(r) for r in rows], "cols": df.columns,
                    "kind": kind, "arg": arg, "items": 1}

        t = time.perf_counter()
        for kind in kinds:  # warm-up: every kind once
            query(kind, archetypes[0])
        out.receipts["query_warmup_s"] = time.perf_counter() - t
        tr.reset()
        out.setup_s = time.perf_counter() - t_process
        order: list[str] = []
        results: dict[int, dict] = {}

        def op(i):
            if i == len(order):  # next round: every kind once, seeded order
                rnd = list(kinds)
                rng.shuffle(rnd)
                order.extend(rnd)
            return query(order[i], rng.choice(archetypes), i)

        def check(i, res):
            results[i] = res
            want = oracle.digest(DASHBOARD[res["kind"]][2](ctx.warehouse, res["arg"]))
            got = checks.value_hash(res["rows"], res["cols"])
            return None if got == want else f"op {i}: {res['kind']}({res['arg']}) != oracle"

        with _window(ctx, out):
            # whole rounds of the mix, so every run weighs each kind alike
            timed_loop(out, seconds, op, check, rounds_of=len(kinds))
        files, stored = _walk(ctx.warehouse)
        out.input_bytes = ctx.paths["input_bytes"]
        out.stored_bytes = stored
        out.props = {**ctx.props, "archetypes": len(archetypes)}
        if trace:
            out.layers = _dashboard_layers(tr.spans, results, files, stored)
        return _finish(ctx, out)
    finally:
        if oracle is not None:
            oracle.close()
        ctx.close()


def _dashboard_layers(spans, results, files, stored) -> dict:
    e = "plans.queries.exec"
    scanned = [sum(s.input_records for s in group if s.name == e)
               / max(len(results[i]["rows"]), 1)
               for i, group in _by_op(spans).items() if i in results]
    return {
        "sources.read_s": _per_op(spans, "sources.read", "wall_s"),
        "sources.calls": _per_op(spans, "sources.read"),
        "plans.queries.construct_s": _per_op(spans, "plans.queries.construct", "wall_s"),
        "plans.queries.plan_s": _per_op(spans, "plans.queries.plan", "wall_s"),
        "plans.queries.exec_s": _per_op(spans, e, "wall_s"),
        "plans.queries.jobs_per_query": _median(
            sum(s.jobs for s in group) for group in _by_op(spans).values()),
        "plans.queries.rows_scanned_per_row_returned": _median(scanned),
        "sinks.snapshot.files_written": files,
        "sinks.snapshot.bytes_written": stored,
    }


# --------------------------------------------------------------------------
# curation_day
# --------------------------------------------------------------------------

# run_daily_ingest settings: the semantic leg of tools/scale_ingest_gate_r14.py,
# the curate_stream gates and a shard set per day.  The append-only
# states gain one or two files a day, so with compact_max_files at 8
# each of them compacts every three to five days.
RECIPE = {"web": 0.6, "books": 0.4}
SEMANTIC = {"semantic_threshold": 0.95, "semantic_planes": 8, "semantic_rotations": 2}
N_SHARDS = 4
COMPACT_MAX_FILES = 8


def _docs_frame(spark, rows):
    """``(doc_id, text, source)`` rows plus a per-id embedding, pinned so
    an op does not pay for building its input."""
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return df.withColumn("embedding", F.transform(
        F.sequence(F.lit(0), F.lit(gen.EMBED_DIM - 1)),
        lambda d: (F.xxhash64(F.col("doc_id"), d).cast("double")
                   / F.lit(float(1 << 63))).cast("float"),
    )).localCheckpoint(eager=True)


def _inodes(gen_dir: str) -> dict[int, tuple[int, bool]]:
    """inode -> (bytes, is a data file) of every file of a generation."""
    out = {}
    for d, _, names in os.walk(gen_dir):
        for f in names:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = (st.st_size, f.endswith(".parquet"))
    return out


def curation_day(work, seed, seconds, trace, t_process, sizes) -> Outcome:
    from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
    from topn_clashroyal_etl_sql_snapshot_spark.sinks.snapshot import current_generation
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.corpus import curate_stream

    out = Outcome("curation_day")
    ctx = Context(work, seed, trace, sizes, battlelogs=False)
    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(work, "state")
    try:
        t = time.perf_counter()
        corpus = gen.curation_corpus(seed, sizes.seed_docs)
        gated = curate_stream(_docs_frame(spark, corpus)).select(
            "doc_id", "text", "source", "embedding").localCheckpoint(eager=True)
        n_gated = gated.count()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        ingest.bootstrap_state(spark, gated, root, vec_col="embedding", **SEMANTIC)
        bootstrap_s = time.perf_counter() - t
        batches: dict[int, tuple] = {}

        def prepare(day):
            rows, planted = gen.curation_batch(seed, day, sizes.day_docs, corpus)
            batches[day] = (_docs_frame(spark, rows), planted, gen.doc_bytes(rows))

        def day_op(i, op=None):
            with tr.span("op", op):
                with tr.span("plans.ingest.day"):
                    rep = ingest.run_daily_ingest(
                        spark, batches[i][0], root, RECIPE, vec_col="embedding",
                        gates=curate_stream, n_shards=N_SHARDS,
                        compact_max_files=COMPACT_MAX_FILES, **SEMANTIC)
            return {**{k: v for k, v in rep.items() if isinstance(v, (int, str, dict))},
                    "items": rep["batch_in"]}

        t = time.perf_counter()
        prepare(0)
        day_op(0)  # warm-up day
        out.receipts["warmup_s"] = time.perf_counter() - t
        batches.pop(0)
        tr.reset()
        prepare(1)
        prev = [current_generation(root)]
        seen = [_inodes(prev[0])]
        days: list[dict] = []
        out.setup_s = time.perf_counter() - t_process

        def check(i, res):
            day = i + 1
            _, planted, in_bytes = batches.pop(day)
            new = _inodes(res["generation"])
            fresh = [size for ino, (size, _) in new.items() if ino not in seen[0]]
            days.append({**res, "in_bytes": in_bytes, "gen_new_bytes": sum(fresh),
                         "gen_files": sum(data for _, data in new.values()),
                         "state_files": {
                             name: sum(f.endswith(".parquet") for f in os.listdir(
                                 os.path.join(res["generation"], name)))
                             for name in res["state_modes"]}})
            err = checks.curation_failure(res, planted, prev[0], current_generation(root))
            prev[0], seen[0] = res["generation"], new
            prepare(day + 1)  # the next day's input, off the clock
            return f"day {day}: {err}" if err else None

        with _window(ctx, out):
            timed_loop(out, seconds, lambda i: day_op(i + 1, i), check)
        out.input_bytes = sum(d["in_bytes"] for d in days)
        out.stored_bytes = sum(d["gen_new_bytes"] for d in days)
        out.props = {"seed_docs": len(corpus), "seed_docs_gated": n_gated,
                     "day_docs": sizes.day_docs, "day_shares": gen.DAY_SHARES,
                     "pii_share": gen.PII_SHARE,
                     "days": [{k: d[k] for k in (
                         "batch_in", "gate_dropped", "exact_dropped", "id_recrawl_dropped",
                         "neardup_dropped", "mixture_admitted", "state_modes",
                         "state_files", "gen_files", "gen_new_bytes")} for d in days]}
        out.receipts.update(inputs_s=inputs_s, bootstrap_s=bootstrap_s)
        if trace:
            out.layers = _curation_layers(tr.spans, days, bootstrap_s)
        return _finish(ctx, out)
    finally:
        ctx.close()


def _curation_layers(spans, days, bootstrap_s) -> dict:
    d = "plans.ingest.day"

    def ratio(key):
        return _median(x[key] / x["batch_in"] for x in days)

    return {
        "plans.ingest.day_s": _per_op(spans, d, "wall_s"),
        "plans.ingest.day_driver_s": _per_op(spans, d, "driver_s"),
        "plans.ingest.day_task_s": _per_op(spans, d, "task_s"),
        "plans.ingest.day_jobs": _per_op(spans, d, "jobs"),
        "plans.ingest.shuffle_bytes": _per_op(spans, d, "shuffle_write_bytes"),
        "plans.ingest.exact_drop_ratio": ratio("exact_dropped"),
        "plans.ingest.neardup_drop_ratio": ratio("neardup_dropped"),
        "plans.ingest.admit_ratio": ratio("mixture_admitted"),
        "plans.ingest.bootstrap_s": bootstrap_s,
        "sinks.snapshot.gen_files": _median(x["gen_files"] for x in days),
        "sinks.snapshot.gen_new_bytes": _median(x["gen_new_bytes"] for x in days),
    }


# --------------------------------------------------------------------------
# shared bookkeeping
# --------------------------------------------------------------------------

@contextmanager
def _window(ctx: Context, out: Outcome):
    """Brackets the timed loop with host-steal, CPU-busy, load and
    JVM-GC readings."""
    steal, busy = telemetry.cpu_steal(), telemetry.cpu_busy()
    gc_ms, load = telemetry.jvm_gc_ms(ctx.spark), os.getloadavg()[0]
    yield
    steal_end = telemetry.cpu_steal()
    out.receipts.update(
        steal_fraction=(steal_end[0] - steal[0]) / max(steal_end[1] - steal[1], 1e-9),
        cpu_busy_fraction=telemetry.busy_fraction(busy, telemetry.cpu_busy()),
        jvm_gc_ms=telemetry.jvm_gc_ms(ctx.spark) - gc_ms,
        load1_start=load,
        load1_end=os.getloadavg()[0],
    )


def _finish(ctx: Context, out: Outcome) -> Outcome:
    spark = ctx.spark
    out.peak_rss_mb = peak_rss_mb(spark)
    out.receipts.update(
        master=spark.sparkContext.master,
        shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        pyspark=sys.modules["pyspark"].__version__,
        java=spark._jvm.java.lang.System.getProperty("java.version"),
        python=sys.version.split()[0],
        session_start_s=ctx.session_start_s,
        module_caches=module_caches(),
    )
    out.receipts.setdefault("inputs_s", ctx.inputs_s)
    tr = ctx.tracer
    if tr.enabled:
        n_ops = out.attempted
        out.layers.update({
            "session.start_s": ctx.session_start_s,
            "session.gc_ms": out.receipts["jvm_gc_ms"] / n_ops,
            "trace.overhead_s": tr.overhead_s / n_ops,
            "trace.spans_per_op": len(tr.spans) / n_ops,
        })
        out.self_s = {k: v / n_ops for k, v in sorted(self_times(tr.spans).items())}
        out.spans = [s.record() for s in tr.spans]
    return out


def module_caches() -> dict:
    """Entries held by the program's module-level caches at the end of
    the run: the battlelog workloads bypass them all, so each should be
    0 there; curation_day fills ``ingest._SCHEMA_CACHE``)."""
    out = {}
    for mod, names in (
        ("plans.domain_queries", ("_CACHE",)),
        ("plans.llm_queries", ("_TOKS_CACHE", "_PAIRS_CACHE")),
        ("sources.readers", ("_TESTDATA_CACHE",)),
        ("plans.ingest", ("_SCHEMA_CACHE",)),
    ):
        m = sys.modules.get(f"topn_clashroyal_etl_sql_snapshot_spark.{mod}")
        for n in names:
            out[f"{mod}.{n}"] = len(getattr(m, n)) if m is not None else "not imported"
    return out


# Per-layer metrics (name -> unit), printed by every traced run.  A
# layer a workload's ops do not pass through reads 0 there, except that
# on dashboard_queries the sinks.snapshot file and byte counts describe
# the warehouse published during set-up, the layout the queries read.
PER_LAYER = {
    "session.start_s": "s",
    "session.gc_ms": "ms",
    "sources.read_s": "s",
    "sources.calls": "count",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.build_driver_s": "s",
    "plans.pipeline.build_task_s": "s",
    "plans.pipeline.build_jobs": "count",
    "plans.pipeline.shuffle_write_bytes": "bytes",
    "plans.pipeline.spill_bytes": "bytes",
    "plans.pipeline.dedup_ratio": "ratio",
    "sinks.snapshot.publish_s": "s",
    "sinks.snapshot.publish_jobs": "count",
    "sinks.snapshot.files_written": "count",
    "sinks.snapshot.bytes_written": "bytes",
    "plans.validate.run_s": "s",
    "plans.validate.jobs": "count",
    "plans.validate.checks_failed": "count",
    "plans.queries.construct_s": "s",
    "plans.queries.plan_s": "s",
    "plans.queries.exec_s": "s",
    "plans.queries.jobs_per_query": "count",
    "plans.queries.rows_scanned_per_row_returned": "ratio",
    "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}

# curation_day's own per-layer metrics; its traced run prints these in
# place of PER_LAYER.
CURATION_LAYER = {
    "session.start_s": "s",
    "session.gc_ms": "ms",
    "plans.ingest.day_s": "s",
    "plans.ingest.day_driver_s": "s",
    "plans.ingest.day_task_s": "s",
    "plans.ingest.day_jobs": "count",
    "plans.ingest.shuffle_bytes": "bytes",
    "plans.ingest.exact_drop_ratio": "ratio",
    "plans.ingest.neardup_drop_ratio": "ratio",
    "plans.ingest.admit_ratio": "ratio",
    "plans.ingest.bootstrap_s": "s",
    "sinks.snapshot.gen_files": "count",
    "sinks.snapshot.gen_new_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.spans_per_op": "count",
}

WORKLOADS = {
    "snapshot_refresh": snapshot_refresh,
    "dashboard_queries": dashboard_queries,
    "curation_day": curation_day,
}
LAYERS = {name: PER_LAYER for name in WORKLOADS} | {"curation_day": CURATION_LAYER}
