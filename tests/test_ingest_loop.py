"""The packaged daily-ingest loop (plans/ingest.py): bootstrap →
day-N runs through the incremental gates with one atomic generation
commit per day. Covers the planted-duplicate paths, quality-steered
admission, crash injection mid-day (old generation keeps serving, the
rerun succeeds), and the re-feed no-op day."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from topn_clashroyal_etl_sql_snapshot_spark.plans import ingest
from topn_clashroyal_etl_sql_snapshot_spark.sinks import shards, snapshot as snap


def _docs(spark, ids, tag="doc"):
    # per-id token streams: documents share NO trigrams, so nothing
    # near-duplicates anything unless a test plants it deliberately
    rows = [
        (i, " ".join(f"{tag}{i}w{j}" for j in range(30)),
         "web" if i % 2 else "books")
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


RECIPE = {"web": 0.5, "books": 0.5}


def test_bootstrap_and_one_day(spark, tmp_path):
    root = str(tmp_path / "state")
    corpus = _docs(spark, range(1, 41))
    gen1 = ingest.bootstrap_state(spark, corpus, root)
    assert snap.current_generation(root) == gen1
    st = ingest.open_state(spark, root)
    assert set(st) == set(ingest.STATE_NAMES)
    assert st["ledger"].count() == 2  # web + books

    # batch: two genuinely new docs, one byte-identical recrawl of doc
    # 1, one near-dup of doc 2 (same text + banner)
    base = {r["doc_id"]: r for r in corpus.collect()}
    batch = _docs(spark, [100, 101]).unionAll(
        spark.createDataFrame(
            [
                (200, base[1]["text"], base[1]["source"]),
                (201, base[2]["text"] + " trailing crawl banner",
                 base[2]["source"]),
            ],
            "doc_id long, text string, source string",
        )
    )
    rep = ingest.run_daily_ingest(
        spark, batch, root, RECIPE, n_shards=2
    )
    assert rep["batch_in"] == 4
    assert rep["exact_dropped"] == 1          # the recrawl
    assert rep["neardup_dropped"] == 1        # the banner near-dup
    admitted_ids = {r["doc_id"] for r in rep["admitted"].collect()}
    assert admitted_ids == {100, 101}
    assert snap.current_generation(root) == rep["generation"] != gen1

    # ledger accounting: corpus (40) + exactly what the gate admitted
    total = (
        spark.read.parquet(os.path.join(rep["generation"], "ledger"))
        .agg(F.sum("kept_w"))
        .collect()[0][0]
    )
    assert total == 40.0 + rep["mixture_admitted"]
    # the day's shards verify against their manifest inside the gen
    if rep["mixture_admitted"]:
        ver = shards.verify_shards(
            spark, os.path.join(rep["generation"], "shards")
        )
        assert all(r["ok"] for r in ver.collect())

    # persisted keepers stayed consistent: one keep per component
    keepers = spark.read.parquet(os.path.join(rep["generation"], "keepers"))
    per_comp = keepers.groupBy("comp").agg(
        F.sum(F.col("keep").cast("int")).alias("k")
    )
    assert {r["k"] for r in per_comp.collect()} == {1}


def test_report_counters_exact_under_fanout_gates(spark, tmp_path):
    """r15 counter fusion: every report counter rides a checkpoint
    job as a ``df.observe`` metric. A CollectMetrics node duplicated
    below a plan fan-out double-counts, so the fusion's invariant is
    that observes sit only on LINEAR segments directly under their
    checkpoint — in particular the pre-gate counter must stay exact
    when the ``gates=`` transform FANS OUT its input internally (a
    self-join dedup here: keep docs whose length is not strictly
    dominated by another doc of the same source — contrived, but it
    references its input twice, the shape that would double-count a
    naively placed observe)."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)

    def fanout_gate(df):
        # references df TWICE: an aggregate of it joined back to it
        mx = df.groupBy("source").agg(
            F.max(F.length("text")).alias("_mx")
        )
        return (
            df.join(mx, "source")
            .filter(F.length("text") <= F.col("_mx"))
            .drop("_mx")
        )

    batch = _docs(spark, [100, 101, 102, 103])
    rep = ingest.run_daily_ingest(
        spark, batch, root, RECIPE, gates=fanout_gate
    )
    # the gate keeps everything (<= max is always true): every counter
    # must read the TRUE row counts, not a doubled one
    assert rep["batch_in"] == 4
    assert rep["gate_dropped"] == 0
    assert rep["exact_dropped"] == 0
    assert rep["neardup_dropped"] == 0
    assert rep["n_admitted"] == 4
    assert rep["admitted"].count() == 4


def test_quality_steers_within_batch_admission(spark, tmp_path):
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    # two within-batch near-dups (no corpus overlap); quality prefers
    # the HIGHER id — min-id would pick 300
    text = "completely novel batch content " + "zeta eta theta " * 10
    batch = spark.createDataFrame(
        [(300, text, "web"), (301, text + " tail", "web")],
        "doc_id long, text string, source string",
    )
    quality = spark.createDataFrame(
        [(300, 1.0), (301, 9.0)], "doc_id long, score double"
    )
    rep = ingest.run_daily_ingest(spark, batch, root, RECIPE, quality=quality)
    admitted = {r["doc_id"] for r in rep["admitted"].collect()}
    assert admitted == {301}
    # and a corpus-duplicating doc can NEVER win on quality: re-run a
    # day where the near-dup of an indexed doc carries a huge score
    corpus_row = _docs(spark, [1]).collect()[0]
    batch2 = spark.createDataFrame(
        [(400, corpus_row["text"] + " banner", corpus_row["source"])],
        "doc_id long, text string, source string",
    )
    rep2 = ingest.run_daily_ingest(
        spark, batch2, root, RECIPE,
        quality=spark.createDataFrame(
            [(400, 1e12)], "doc_id long, score double"
        ),
    )
    assert rep2["neardup_dropped"] == 1 and rep2["n_admitted"] == 0


def test_crash_mid_day_keeps_old_generation_then_rerun(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "state")
    gen1 = ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    batch = _docs(spark, [500, 501], tag="fresh")

    def boom(*a, **kw):
        raise RuntimeError("injected shard-sink crash")

    monkeypatch.setattr(ingest.shard_sink, "write_training_shards", boom)
    with pytest.raises(RuntimeError, match="injected shard-sink crash"):
        ingest.run_daily_ingest(spark, batch, root, RECIPE, n_shards=2)
    # the pointer never moved; day-0 state serves complete
    assert snap.current_generation(root) == gen1
    assert ingest.open_state(spark, root)["ledger"].count() == 2

    monkeypatch.undo()
    rep = ingest.run_daily_ingest(spark, batch, root, RECIPE, n_shards=2)
    assert rep["n_admitted"] == 2
    assert snap.current_generation(root) == rep["generation"]


def test_refeed_day_is_a_noop(spark, tmp_path):
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    batch = _docs(spark, [600, 601], tag="fresh")
    rep1 = ingest.run_daily_ingest(spark, batch, root, RECIPE)
    assert rep1["n_admitted"] == 2
    led1 = {
        (r["source"], r["kept_w"]) for r in rep1["ledger"].collect()
    }
    # same batch again: every doc is now byte-identical to an indexed
    # one — the exact gate drops everything, no state drifts
    rep2 = ingest.run_daily_ingest(spark, batch, root, RECIPE, n_shards=2)
    assert rep2["exact_dropped"] == 2 and rep2["n_admitted"] == 0
    assert rep2["mixture_admitted"] == 0
    led2 = {
        (r["source"], r["kept_w"]) for r in rep2["ledger"].collect()
    }
    assert led2 == led1
    # publish still succeeded (gen advanced, no shards dir for an
    # empty day)
    assert snap.current_generation(root) == rep2["generation"]
    assert not os.path.exists(os.path.join(rep2["generation"], "shards"))


def test_open_state_before_bootstrap_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="bootstrap_state"):
        ingest.open_state(spark, str(tmp_path / "nope"))


def test_empty_day_publishes_unchanged_state(spark, tmp_path):
    """A day with an EMPTY batch (real pipelines see them) must run
    clean end to end: zero drops, zero admissions, every state carried
    forward value-identical into the new generation."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    before = {
        name: sorted(map(tuple, df.collect()))
        for name, df in ingest.open_state(spark, root).items()
    }
    empty = _docs(spark, [])
    rep = ingest.run_daily_ingest(spark, empty, root, RECIPE, n_shards=2)
    assert rep["batch_in"] == 0 and rep["n_admitted"] == 0
    assert rep["exact_dropped"] == 0 and rep["mixture_admitted"] == 0
    after = {
        name: sorted(map(tuple, df.collect()))
        for name, df in ingest.open_state(spark, root).items()
    }
    assert after == before


def test_mixture_dropped_docs_stay_admittable(spark, tmp_path):
    """A doc the MIXTURE gate drops must not enter the dedup indexes:
    when its domain's entitlement catches up, the recrawl is admitted
    (before the r12 review fix its fingerprint was committed on day 1
    and the recrawl died at the exact gate forever)."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    # day 1: web floods (ids 701..719 odd = web), books trickles — the
    # water-filling caps web hard
    day1 = _docs(spark, [701, 703, 705, 707, 709, 711, 702], tag="d1")
    rep1 = ingest.run_daily_ingest(spark, day1, root, RECIPE)
    day1_admitted = {r["doc_id"] for r in rep1["mixed"].collect()}
    dropped = {
        r["doc_id"] for r in rep1["admitted"].collect()
    } - day1_admitted
    assert dropped, "setup must mixture-drop at least one web doc"

    # day 2: recrawl the dropped docs alongside fresh books supply —
    # entitlement has accrued, so at least one recrawl is admitted
    refeed = day1.filter(F.col("doc_id").isin([*dropped]))
    day2 = refeed.unionAll(_docs(spark, [802, 804, 806, 808], tag="d2"))
    rep2 = ingest.run_daily_ingest(spark, day2, root, RECIPE)
    assert rep2["exact_dropped"] == 0  # the recrawls were NOT indexed
    day2_admitted = {r["doc_id"] for r in rep2["mixed"].collect()}
    assert day2_admitted & dropped


def test_losers_of_mixture_dropped_winners_stay_admittable(spark, tmp_path):
    """The committed-representative rule (r13 advisor finding): when a
    within-batch near-dup component's WINNER is then dropped by the
    mixture gate, the component's content never entered the corpus —
    so its losers must not be indexed either (pre-r13 their
    fingerprints committed and every recrawl of the content died at
    the exact gate forever), and the component must not enter the
    persisted labels/keepers (no non-corpus doc may read keep=True)."""
    root = str(tmp_path / "state")
    # bootstrap with web heavily OVER-represented (20 web, 2 books):
    # web's entitlement T·s − c is deeply negative, so the gate admits
    # ZERO web while books catches up — the winner's mixture drop is
    # deterministic, not a supply race
    ingest.bootstrap_state(
        spark, _docs(spark, [*range(1, 41, 2), 2, 4]), root
    )
    # day 1: 6 fresh web docs + a planted within-batch near-dup PAIR
    # (901 wins by quality, 903 loses) + ONE books doc so the
    # water-filling has a binding supplied group (a target group with
    # no supply is skipped by the min — it would UNCAP web)
    flood = _docs(spark, [701, 703, 705, 707, 709, 711], tag="d1")
    twin_text = " ".join(f"twin{j}" for j in range(30))
    pair = spark.createDataFrame(
        [(901, twin_text, "web"), (903, twin_text + " banner", "web")],
        "doc_id long, text string, source string",
    )
    day1 = flood.unionAll(pair).unionAll(_docs(spark, [702], tag="d1"))
    rep1 = ingest.run_daily_ingest(
        spark, day1, root, RECIPE,
        quality=spark.createDataFrame(
            [(901, 5.0), (903, 1.0)], "doc_id long, score double"
        ),
    )
    admitted = {r["doc_id"] for r in rep1["admitted"].collect()}
    mixed = {r["doc_id"] for r in rep1["mixed"].collect()}
    assert 901 in admitted and 903 not in admitted  # quality picked 901
    assert 901 not in mixed  # the over-represented domain admits zero
    # the loser was NOT indexed: neither twin's fingerprint committed
    st = ingest.open_state(spark, root)
    from topn_clashroyal_etl_sql_snapshot_spark.functions import text as tx

    day_fps = {
        r["fingerprint"]
        for r in pair.select(
            tx.content_fingerprint(F.col("text")).alias("fingerprint")
        ).collect()
    }
    committed_fps = {r["fingerprint"] for r in st["fingerprints"].collect()}
    assert not (day_fps & committed_fps)
    # and the ghost component never entered labels/keepers
    labeled = {r["id"] for r in st["labels"].collect()}
    assert not ({901, 903} & labeled)
    kept = {r["id"] for r in st["keepers"].collect()}
    assert not ({901, 903} & kept)

    # day 2: books-heavy supply accrues web entitlement; recrawls of
    # BOTH twins are admissible again — exactly one of them is
    # admitted (they still near-dup each other within the batch)
    recrawl = spark.createDataFrame(
        [(951, twin_text, "web"), (953, twin_text + " banner", "web")],
        "doc_id long, text string, source string",
    )
    day2 = recrawl.unionAll(_docs(spark, [802, 804, 806, 808], tag="d2"))
    rep2 = ingest.run_daily_ingest(spark, day2, root, RECIPE)
    assert rep2["exact_dropped"] == 0  # nothing was silently blocked
    day2_admitted = {r["doc_id"] for r in rep2["admitted"].collect()}
    assert len(day2_admitted & {951, 953}) == 1


def test_rejected_doc_never_crowned_in_persisted_keepers(spark, tmp_path):
    """The persisted keeper merge must agree with admission: a batch
    doc rejected as a near-dup of an indexed doc can never become the
    committed component keeper, no matter its quality score (the
    keeper-merge twin of the corpus-immutability rule)."""
    root = str(tmp_path / "state")
    corpus = _docs(spark, range(1, 21))
    ingest.bootstrap_state(spark, corpus, root)
    row = corpus.filter(F.col("doc_id") == 1).collect()[0]
    batch = spark.createDataFrame(
        [(900, row["text"] + " banner", row["source"])],
        "doc_id long, text string, source string",
    )
    rep = ingest.run_daily_ingest(
        spark, batch, root, RECIPE,
        quality=spark.createDataFrame(
            [(900, 1e12)], "doc_id long, score double"
        ),
    )
    assert rep["n_admitted"] == 0
    kmap = {
        r["id"]: r["keep"]
        for r in spark.read.parquet(
            os.path.join(rep["generation"], "keepers")
        ).collect()
    }
    assert kmap.get(900) is False and kmap.get(1) is True


def test_append_only_states_are_hardlinked_not_rewritten(spark, tmp_path):
    """The fingerprint/minhash states carry forward as hardlinks of
    the previous generation's part files plus the day's delta — and
    stay readable after the older generation is pruned (hardlinks
    share inodes, pruning only unlinks names)."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)
    rep1 = ingest.run_daily_ingest(
        spark, _docs(spark, [700, 701], tag="d1"), root, RECIPE
    )
    fp_dir = os.path.join(rep1["generation"], "fingerprints")
    linked = [
        f for f in os.listdir(fp_dir)
        if f.startswith("part-")
        and os.stat(os.path.join(fp_dir, f)).st_nlink > 1
    ]
    assert linked, "no hardlinked part files in the day's fingerprints"
    n_fp1 = spark.read.parquet(fp_dir).count()
    assert n_fp1 == 22  # 20 corpus + 2 admitted deltas

    # two more days: gen-1 and gen-2 get pruned (keep=1), yet the
    # current generation's linked files must still read intact
    ingest.run_daily_ingest(spark, _docs(spark, [710], tag="d2"), root, RECIPE)
    rep3 = ingest.run_daily_ingest(
        spark, _docs(spark, [720], tag="d3"), root, RECIPE
    )
    assert not os.path.exists(rep1["generation"])  # pruned
    st = ingest.open_state(spark, root)
    assert st["fingerprints"].count() == 24
    assert st["minhash"].count() == 24
    # and the exact gate still works against the linked index
    rep4 = ingest.run_daily_ingest(
        spark, _docs(spark, [700, 701], tag="d1"), root, RECIPE
    )
    assert rep4["exact_dropped"] == 2


def test_ingest_compacts_append_states_at_the_fileset_bound(spark, tmp_path):
    """Delta compaction inside the daily ingest (r13, r12 verdict
    missing #1): with compact_max_files pinned low, a later day crosses
    the bound, the fingerprint/minhash states rewrite compacted (the
    report says which mode each day took), the file count drops back,
    and the exact gate still rejects recrawls ACROSS the compaction
    boundary — days indexed before the compaction stay indexed."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 21)), root)

    def _files(gen, state):
        d = os.path.join(gen, state)
        return [f for f in os.listdir(d) if f.startswith("part-")]

    day_ids = [[700, 701], [710, 711], [720, 721], [730, 731]]
    modes, counts, bloom_modes, bloom_gens = [], [], [], []
    for k, ids in enumerate(day_ids):
        rep = ingest.run_daily_ingest(
            spark, _docs(spark, ids, tag=f"d{k}"), root, RECIPE,
            compact_max_files=3,
        )
        modes.append(rep["state_modes"]["fingerprints"])
        counts.append(len(_files(rep["generation"], "fingerprints")))
        bloom_modes.append(rep["state_modes"]["bloom"])
        bloom_gens.append(rep["generation"])
    assert "compacted" in modes and "linked" in modes, modes
    # the bound holds: never more than max_files + the day's delta
    assert max(counts) <= 3 + 1, (modes, counts)
    # r16: the bloom state rides the same append family — both modes
    # occur, and a compaction day re-merges the accumulated delta rows
    # back to the canonical ONE row per word (compact_fn)
    assert "compacted" in bloom_modes and "linked" in bloom_modes, (
        bloom_modes
    )
    compacted_gen = bloom_gens[bloom_modes.index("compacted")]
    bl = spark.read.parquet(os.path.join(compacted_gen, "bloom"))
    assert bl.count() == bl.select("word").distinct().count()
    # recrawls of EVERY prior day die at the exact gate — including
    # days whose filesets were folded away by a later compaction
    all_recrawls = None
    for k, ids in enumerate(day_ids):
        d = _docs(spark, ids, tag=f"d{k}")
        all_recrawls = d if all_recrawls is None else all_recrawls.unionAll(d)
    rep = ingest.run_daily_ingest(spark, all_recrawls, root, RECIPE)
    assert rep["exact_dropped"] == 8


def test_gates_stage_matches_hand_composed_funnel(spark, tmp_path):
    """The optional gates= stage (r13, r12 verdict missing #2): running
    the curate_stream corpus gates INSIDE run_daily_ingest produces
    exactly the states and admissions of the hand-composed funnel
    (gate the batch first, then ingest the survivors), with the gate
    drop count surfaced in the report — the production funnel
    (hygiene → lang → quality → dedup → mixture) in one call against
    one atomic generation."""
    from topn_clashroyal_etl_sql_snapshot_spark.streaming.corpus import (
        curate_stream,
    )

    corpus = _docs(spark, range(1, 21))
    # day batch: English-looking docs that PASS the language/quality
    # gates (the _docs gibberish fails lang-id — probe-verified) + one
    # doc the quality gate must drop (tiny, repetitive) + one
    # 'und'-language doc (digits only)
    import random as _random

    pool = ("the quick brown fox jumps over a lazy dog while many "
            "people watch from the old wooden bridge and talk about "
            "weather harvest rivers mountains evening morning travel "
            "stories music gardens letters").split()
    rows = []
    for i in (701, 702, 703, 704):
        rng = _random.Random(i)
        words = [pool[rng.randrange(len(pool))] for _ in range(40)]
        rows.append((i, " ".join(words), "web" if i % 2 else "books"))
    rows += [
        (801, "aa aa aa aa", "web"),
        (803, "123 456 789 000", "books"),
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    gate = lambda df: curate_stream(df, min_quality=0.3)  # noqa: E731
    n_after_gate = gate(batch).count()
    assert n_after_gate < 6  # the planted docs actually drop

    root_a = str(tmp_path / "packaged")
    ingest.bootstrap_state(spark, corpus, root_a)
    rep_a = ingest.run_daily_ingest(spark, batch, root_a, RECIPE, gates=gate)
    assert rep_a["gate_dropped"] == 6 - n_after_gate
    assert rep_a["batch_in"] == 6

    # hand-composed twin: gate outside, ingest the survivors
    root_b = str(tmp_path / "composed")
    ingest.bootstrap_state(spark, corpus, root_b)
    rep_b = ingest.run_daily_ingest(spark, gate(batch), root_b, RECIPE)
    assert rep_b["gate_dropped"] == 0

    mixed_a = {r["doc_id"] for r in rep_a["mixed"].collect()}
    mixed_b = {r["doc_id"] for r in rep_b["mixed"].collect()}
    assert mixed_a == mixed_b and mixed_a
    # identical committed states (fingerprints prove the indexes derive
    # from the GATED text on both arms)
    st_a = ingest.open_state(spark, root_a)
    st_b = ingest.open_state(spark, root_b)
    fps_a = {r["fingerprint"] for r in st_a["fingerprints"].collect()}
    fps_b = {r["fingerprint"] for r in st_b["fingerprints"].collect()}
    assert fps_a == fps_b
    led_a = {(r["source"], r["kept_w"]) for r in st_a["ledger"].collect()}
    led_b = {(r["source"], r["kept_w"]) for r in st_b["ledger"].collect()}
    assert led_a == led_b


# ---------------------------------------------------------------------------
# Semantic (embedding) dedup in the loop — r13 optional states
# ---------------------------------------------------------------------------

_DIM = 8


def _vec(seed, like=None, eps=0.0):
    import random as _r

    if like is None:
        rng = _r.Random(seed)
        return [float(rng.gauss(0, 1)) for _ in range(_DIM)]
    rng = _r.Random(seed)
    return [float(x + rng.gauss(0, eps)) for x in like]


def _docs_vec(spark, rows):
    """rows: (doc_id, tag, source, embedding) — texts share no
    trigrams across ids, so only EMBEDDINGS can near-duplicate."""
    data = [
        (i, " ".join(f"{tag}{i}w{j}" for j in range(30)), src, emb)
        for (i, tag, src, emb) in rows
    ]
    return spark.createDataFrame(
        data,
        "doc_id long, text string, source string, embedding array<float>",
    )


def test_semantic_dedup_in_the_loop(spark, tmp_path):
    """A batch doc whose TEXT is novel but whose EMBEDDING duplicates
    a corpus doc drops in admission; its semantic twin in the corpus
    stays canonical; the day's admissions advance the sketch index so
    day 2 catches semantic near-dups of day-1 content."""
    root = str(tmp_path / "state")
    corpus = _docs_vec(
        spark,
        [(i, "seed", "web" if i % 2 else "books", _vec(i)) for i in range(1, 21)],
    )
    ingest.bootstrap_state(spark, corpus, root, vec_col="embedding",
                           semantic_threshold=0.95, semantic_planes=8,
                           semantic_rotations=2)
    st = ingest.open_state(spark, root)
    assert set(st) == set(ingest.STATE_NAMES) | {"sketches", "vectors"}

    # day 1: 300 is genuinely new; 301 has novel text but ~doc-1's
    # embedding (cosine ≈ 0.9999) — only the semantic leg can catch it
    day1 = _docs_vec(
        spark,
        [
            (300, "new", "web", _vec(300)),
            (301, "fresh", "web", _vec(9301, like=_vec(1), eps=1e-3)),
        ],
    )
    rep1 = ingest.run_daily_ingest(
        spark, day1, root, RECIPE, vec_col="embedding",
        semantic_threshold=0.95, semantic_planes=8, semantic_rotations=2,
    )
    assert rep1["neardup_dropped"] == 1
    assert {r["doc_id"] for r in rep1["admitted"].collect()} == {300}
    assert rep1["state_modes"].keys() >= {"sketches", "vectors"}

    # the corpus doc stays the component's keeper; 301 never keeps
    keepers = {r["id"]: r["keep"] for r in rep1["keepers"].collect()}
    assert keepers.get(1) is True and keepers.get(301) in (False, None)

    # day 2: a semantic near-dup of day-1-admitted 300 — caught only
    # if the sketch/vector states actually advanced; plus a byte
    # recrawl of the day-1 REJECTED 301 (its fingerprint committed:
    # its component representative, corpus doc 1, is committed)
    d1 = {r["doc_id"]: r for r in day1.collect()}
    day2 = _docs_vec(
        spark,
        [(400, "later", "books", _vec(9400, like=_vec(300), eps=1e-3))],
    ).unionAll(
        spark.createDataFrame(
            [(401, d1[301]["text"], "web", d1[301]["embedding"])],
            "doc_id long, text string, source string, embedding array<float>",
        )
    )
    rep2 = ingest.run_daily_ingest(
        spark, day2, root, RECIPE, vec_col="embedding",
        semantic_threshold=0.95, semantic_planes=8, semantic_rotations=2,
    )
    assert rep2["exact_dropped"] == 1      # 401, at the cheap gate
    assert rep2["neardup_dropped"] == 1    # 400, vs the ADVANCED index
    assert rep2["mixture_admitted"] == 0


def test_semantic_state_handshake_is_enforced(spark, tmp_path):
    """vec_col and the persisted semantic states must agree — both
    mismatches raise loudly instead of silently dropping or stalling
    the semantic index."""
    root_text = str(tmp_path / "text_only")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 11)), root_text)
    with pytest.raises(ValueError, match="no semantic states"):
        ingest.run_daily_ingest(
            spark, _docs_vec(spark, [(50, "x", "web", _vec(50))]),
            root_text, RECIPE, vec_col="embedding",
        )

    root_sem = str(tmp_path / "semantic")
    corpus = _docs_vec(
        spark, [(i, "seed", "web", _vec(i)) for i in range(1, 11)]
    )
    ingest.bootstrap_state(spark, corpus, root_sem, vec_col="embedding")
    with pytest.raises(ValueError, match="semantic states"):
        ingest.run_daily_ingest(
            spark, _docs(spark, [60]), root_sem, RECIPE
        )


def test_semantic_bootstrap_components_span_both_relations(spark, tmp_path):
    """Day-0 labels come from the UNION of the text and embedding
    relations: two corpus docs with disjoint texts but one embedding
    share a component and exactly one keeper."""
    root = str(tmp_path / "state")
    corpus = _docs_vec(
        spark,
        [
            (1, "alpha", "web", _vec(1)),
            (2, "beta", "web", _vec(92, like=_vec(1), eps=1e-3)),
            (3, "gamma", "books", _vec(3)),
        ],
    )
    ingest.bootstrap_state(
        spark, corpus, root, vec_col="embedding",
        semantic_threshold=0.95, semantic_planes=8, semantic_rotations=2,
    )
    st = ingest.open_state(spark, root)
    labels = {r["id"]: r["comp"] for r in st["labels"].collect()}
    assert labels[1] == labels[2]
    keepers = {r["id"]: r["keep"] for r in st["keepers"].collect()}
    assert [keepers.get(1), keepers.get(2)].count(True) == 1


def test_semantic_id_recrawl_gate(spark, tmp_path):
    """r14 advisor: a recrawl with the SAME doc_id but CHANGED
    text+embedding passes the exact (byte-fingerprint) gate; without
    the by-id gate it would append a duplicate-id row to the vectors/
    sketches states and multiply every later day's id-keyed verify
    join. The loop now drops it by id before any probe."""
    root = str(tmp_path / "state")
    corpus = _docs_vec(
        spark,
        [(i, "seed", "web" if i % 2 else "books", _vec(i)) for i in range(1, 11)],
    )
    ingest.bootstrap_state(
        spark, corpus, root, vec_col="embedding",
        semantic_threshold=0.95, semantic_planes=8, semantic_rotations=2,
    )
    # doc_id 1 recrawled with entirely different text AND embedding —
    # nothing but the id ties it to the corpus; 500 is genuinely new
    batch = _docs_vec(
        spark,
        [(1, "changed", "web", _vec(777)), (500, "new", "web", _vec(500))],
    )
    rep = ingest.run_daily_ingest(
        spark, batch, root, RECIPE, vec_col="embedding",
        semantic_threshold=0.95, semantic_planes=8, semantic_rotations=2,
    )
    assert rep["exact_dropped"] == 0
    assert rep["id_recrawl_dropped"] == 1
    assert {r["doc_id"] for r in rep["admitted"].collect()} == {500}
    # no duplicate-id rows in the id-keyed semantic states
    vec_ids = [
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(rep["generation"], "vectors")
        ).collect()
    ]
    assert sorted(vec_ids) == sorted(set(vec_ids))
    assert vec_ids.count(1) == 1


def test_interleaved_writer_refused_not_lost(spark, tmp_path):
    """r14 advisor (medium): an overlapping writer that publishes
    between this day's state READ and its PUBLISH must surface as a
    loud ConcurrentPublishError — not a silent drop of the other
    writer's delta. The interleave is injected through the gates=
    hook, which runs after the loop captured its parent generation."""
    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 11)), root)

    def interleaving_gates(df):
        # a second writer commits a full generation mid-day
        ingest.run_daily_ingest(spark, _docs(spark, [900]), root, RECIPE)
        return df

    with pytest.raises(snap.ConcurrentPublishError, match="staged against"):
        ingest.run_daily_ingest(
            spark, _docs(spark, [800]), root, RECIPE,
            gates=interleaving_gates,
        )
    # the interloper's generation is still current — nothing was lost
    cur = snap.current_generation(root)
    fp = spark.read.parquet(os.path.join(cur, "fingerprints"))
    # the interloper's doc 900 fingerprint survived
    from topn_clashroyal_etl_sql_snapshot_spark.functions import text as tx

    fp900 = (
        _docs(spark, [900])
        .select(tx.content_fingerprint(F.col("text")).alias("fingerprint"))
        .collect()[0]["fingerprint"]
    )
    assert fp.filter(F.col("fingerprint") == fp900).count() == 1
    assert not os.path.exists(os.path.join(root, "_LOCK"))


def test_semantic_layout_handshake(spark, tmp_path):
    """r13 third-pass fix: a day run whose semantic_planes/rotations
    disagree with the bootstrapped sketch layout raises loudly —
    probing across layouts silently finds nothing."""
    root = str(tmp_path / "state")
    corpus = _docs_vec(
        spark, [(i, "seed", "web", _vec(i)) for i in range(1, 6)]
    )
    ingest.bootstrap_state(
        spark, corpus, root, vec_col="embedding",
        semantic_planes=8, semantic_rotations=2,
    )
    with pytest.raises(ValueError, match="was built with layout"):
        ingest.run_daily_ingest(
            spark, _docs_vec(spark, [(50, "x", "web", _vec(50))]),
            root, RECIPE, vec_col="embedding",
            semantic_planes=16, semantic_rotations=1,
        )

def test_applied_marker_carries_through_manual_batch_days(spark, tmp_path):
    """r14 review finding: a run_daily_ingest day interleaved into a
    streaming gate's state root must CARRY the gate's applied-batch
    marker into the generation it publishes — a generation without it
    would erase the gate's replay protection (a crash-redelivered
    stream batch would reprocess and overwrite its committed out
    partition with an empty frame)."""
    import json

    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 11)), root)
    # simulate the streaming gate's marker on the current generation
    marker = {"last_batch": 7, "lineage": "qid-abc"}
    with open(
        os.path.join(snap.current_generation(root), "_applied"), "w"
    ) as f:
        json.dump(marker, f)

    rep = ingest.run_daily_ingest(spark, _docs(spark, [50]), root, RECIPE)
    with open(os.path.join(rep["generation"], "_applied")) as f:
        assert json.load(f) == marker

def test_applied_marker_carries_even_with_custom_extra_state(
    spark, tmp_path
):
    """r14 second review pass: the marker carry is UNCONDITIONAL — a
    manual day with a user extra_state hook (audit write, etc.) must
    not erase the streaming gate's replay protection either. A hook
    that writes its own marker (the gate) still wins: it runs after
    the carry."""
    import json

    root = str(tmp_path / "state")
    ingest.bootstrap_state(spark, _docs(spark, range(1, 11)), root)
    marker = {"last_batch": 3, "lineage": "qid-z"}
    with open(
        os.path.join(snap.current_generation(root), snap.APPLIED_MARKER),
        "w",
    ) as f:
        json.dump(marker, f)

    seen = {}

    def audit(gen, report):
        seen["admitted"] = report["n_admitted"]

    rep = ingest.run_daily_ingest(
        spark, _docs(spark, [60]), root, RECIPE, extra_state=audit
    )
    assert seen == {"admitted": 1}
    with open(os.path.join(rep["generation"], snap.APPLIED_MARKER)) as f:
        assert json.load(f) == marker


def test_pool_inherit_propagates_job_group_and_session_tags(spark):
    """r16 (r15 verdict #3 + advisor): the funnel's worker pools wrap
    thunks with the SESSION form of ``inheritable_thread_target`` —
    pool threads must inherit BOTH the JVM local properties (job
    group / scheduler pool: a caller's cancelJobGroup, and structured
    streaming's per-run cancellation, reach pool-launched jobs through
    these) AND the session tags (``spark.addTag`` — the newer
    cancellation surface the bare-function form silently dropped,
    warning once per wrap). Pins the mechanism and the absence of the
    'Tags will not be inherited' warning."""
    import warnings
    from concurrent.futures import ThreadPoolExecutor

    from topn_clashroyal_etl_sql_snapshot_spark.session import inherit_thread_target

    sc = spark.sparkContext
    sc.setJobGroup("r16-pin-group", "pool inheritance pin")
    spark.addTag("r16-pin-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            wrap = inherit_thread_target(spark)

            def probe():
                return (
                    sc.getLocalProperty("spark.jobGroup.id"),
                    set(spark.getTags()),
                )

            with ThreadPoolExecutor(max_workers=1) as pool:
                group, tags = pool.submit(wrap(probe)).result()
    finally:
        sc.setJobGroup(None, None)
        spark.removeTag("r16-pin-tag")
    assert group == "r16-pin-group"
    assert "r16-pin-tag" in tags
    leaked = [
        w for w in caught if "Tags will not be inherited" in str(w.message)
    ]
    assert not leaked, "session-form wrapper must not warn per wrap"
