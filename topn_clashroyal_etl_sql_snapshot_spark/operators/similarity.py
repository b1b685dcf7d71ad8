"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **brute force** — exact cosine top-k: queries × corpus join with a
  per-pair fold. Correctness baseline and the right answer when the
  query set is small (broadcast the queries, one pass over the corpus).
- **random-hyperplane LSH** — sign-bit sketches bucket the corpus; only
  bucket-colliding (or near-bucket) pairs get exact scoring. The scale
  path: candidate generation is a key join instead of a cross join.

Embedding near-dup dedup reuses the same machinery with a threshold
instead of top-k.

Determinism: hyperplanes are derived from ``xxhash64(plane, dim)`` —
no RNG state, same sketch on every executor/run (Date.now/seeded-numpy
style initialization would break re-runs and the oracle comparisons).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as vx
from ..functions.litarrays import lit_doubles
from . import buckets


def _with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", vx.norm(F.col(vec_col)))


def _spread_vectors(df: DataFrame, key: str = "vec_id") -> DataFrame:
    """CPU-parallelism guard (same rationale and same AQE caveat as
    dedup._spread, to which this delegates the narrow-plan probe): a
    small vector table arrives as one byte-sized parquet split and
    would serialize its CPU-bound sketch/assignment work into a single
    task; but ``df.rdd`` under AQE executes upstream shuffle stages
    just to read a partition count, so derived (wide) plans skip the
    probe entirely — they already carry shuffle.partitions-sized
    output (r11 review finding, fixed in dedup._spread first)."""
    if key not in df.columns:
        return df
    from .dedup import _spread

    return _spread(df, key)


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
    max_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Queries (a small set) are broadcast against the corpus — one scan, no
    shuffle of the corpus side; ranking is a per-query window. Returns
    (query_id, neighbor_id, cosine, rank). Rank ties (at 9-decimal cosine
    granularity) break by neighbor id for cross-engine determinism.

    ``max_pairs`` is the scale fuse brute_force_neardup_pairs has and
    this path was missing (r11 review finding): with NO query
    restriction, every row is a query and the plan is a full n²
    nested-loop join over a corpus-sized broadcast — a silent
    multi-hour job (or a driver OOM) rather than an error. The fuse
    counts both sides (two cheap jobs) and raises past the bound; pass
    ``None`` only for understood ground-truth runs. The IVF/PQ paths
    are the scale plans."""
    if max_pairs is not None:
        n_corpus = embeddings.count()
        q_probe = embeddings
        if query_ids is not None:
            q_probe = q_probe.filter(F.col(id_col).isin(query_ids))
        if query_filter is not None:
            q_probe = q_probe.filter(query_filter)
        n_queries = (
            n_corpus
            if query_ids is None and query_filter is None
            else q_probe.count()
        )
        if n_corpus * n_queries > max_pairs:
            raise ValueError(
                f"brute_force_topk refuses a {n_queries}x{n_corpus}-pair "
                f"nested-loop plan (> max_pairs={max_pairs}). Restrict the "
                "query side, use ivf_topk / PQ at scale, or pass "
                "max_pairs=None for an explicit ground-truth run."
            )
    corpus = _with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v2"),
        F.col("_norm").alias("_n2"),
    )
    q = embeddings
    if query_ids is not None:
        q = q.filter(F.col(id_col).isin(query_ids))
    if query_filter is not None:
        q = q.filter(query_filter)
    queries = _with_norm(q, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_v1"),
        F.col("_norm").alias("_n1"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                vx.cosine_prenormed(
                    vx.dot(F.col("_v1"), F.col("_v2")), F.col("_n1"), F.col("_n2")
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_sketches(
    embeddings: DataFrame,
    planes: int = 16,
    rotations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, rot, bucket) sign-bit sketches for ``rotations`` independent
    hyperplane sets — multi-rotation LSH ORs recall across rotations:
    a pair at angle θ collides in ≥1 rotation with probability
    1 - (1 - (1-θ/π)^planes)^rotations.

    Plan (all narrow codegen expressions, no higher-order functions):
    posexplode dims → explode the global plane index q → per-term
    contribution round(x · coef(q, d) · 2⁴⁰) as LONG, where
    coef(q, d) = xxhash64(q, d)/2⁶³ ∈ [-1,1) (deterministic, no stored
    model) → partial-aggregated SUM per (id, q) → broadcast-join the
    tiny q table (rotation + bit value, precomputed driver-side since
    ANSI shift amounts must be literals) → one bucket long per (id,
    rotation). A 64-wide-aggregate formulation of the same math falls
    out of whole-stage codegen and measured ~4× slower; a coefficient-
    table broadcast join was slower still.

    Integer-scaled terms make the plane dot exact and order-independent
    — a raw double SUM would make the sign of near-zero dots depend on
    partitioning, breaking replay determinism. Headroom (long addition
    WRAPS silently, so headroom is the contract): the per-(id, plane)
    sum is bounded by dims·max|x|·2⁴⁰, safe while dims·max|x| < 2²³ ≈
    8.4e6 — e.g. ~8×10⁴ dims at |x| ≤ 100, or 10⁵ dims at |x| ≤ 80;
    unit-normalized embeddings (|x| ≤ 1) are safe to 8M dims. (The
    r10-era claim of 10⁵ dims at |x| ≤ 100 overran 2⁶³ by ~19% — r11
    review finding.) ``planes`` is capped at 63: bit 63 is the long
    sign bit and ``1 << 63`` does not fit LongType.
    """
    if not 1 <= planes <= 63:
        raise ValueError(
            f"planes={planes} out of range [1, 63]: bucket bits live in "
            "one signed long (1 << 63 overflows LongType)"
        )
    total = planes * rotations
    spark = embeddings.sparkSession
    qtable = spark.createDataFrame(
        [(q, q // planes, 1 << (q % planes)) for q in range(total)],
        "q int, rot int, bitval long",
    )
    dims = _spread_vectors(embeddings, id_col).select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x")
    )
    coef = F.xxhash64(F.col("q"), F.col("d")).cast("double") / F.lit(float(1 << 63))
    terms = dims.select(
        "id", "d", "x", F.explode(F.sequence(F.lit(0), F.lit(total - 1))).alias("q")
    ).select(
        "id",
        "q",
        F.round(F.col("x").cast("double") * coef * F.lit(float(1 << 40)))
        .cast("long")
        .alias("t"),
    )
    psums = terms.groupBy("id", "q").agg(F.sum("t").alias("s"))
    return (
        psums.join(F.broadcast(qtable), "q")
        .groupBy("id", "rot")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.col("bitval")).otherwise(F.lit(0).cast("long"))
            ).alias("bucket")
        )
        .select("id", "rot", "bucket")
    )


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    planes: int = 16,
    rotations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-bucketed: candidates are pairs
    sharing a (rotation, bucket) key; only candidates get exact cosine
    scoring (same fixed-order fold as the brute-force path, so verified
    cosines match it bit-for-bit). Returns (id1, id2, cosine).

    Plan shape: sketch (one scan) → self-join on (rot, bucket) → distinct
    pair ids → join vectors back → fold. No CartesianProduct node; the
    candidate join shuffles on high-cardinality bucket keys.

    Recall/efficiency knobs: a pair at angle θ is a candidate with
    probability 1-(1-(1-θ/π)^planes)^rotations — an S-curve in cosine,
    NOT a hard guarantee at the threshold itself. Worked numbers for
    planes=16, rotations=4: ~0.55 at cosine 0.95, ~0.93 at 0.99, ~0.998
    at 0.999 — i.e. this config is an exact-duplicate screen (the
    near-dup regime where survivors cluster at cosine → 1), not an
    exact-recall plan at its nominal threshold. To push recall at a
    target cosine, trade planes down and rotations up (8 planes ×
    12 rotations ≈ 0.999 at cosine 0.95) — fewer planes = hotter
    buckets, so plane count must also grow with corpus size at scale.
    For guaranteed-exact results at moderate thresholds use
    ``brute_force_neardup_pairs`` on a sampled/blocked subset. At
    permissive thresholds (≤ 0.5, θ ≈ 60°) sign-bit LSH degenerates —
    candidates approach all-pairs; that regime is inherent to the
    similarity level, not the plan.

    ``max_bucket`` (r13, default off) drops (rot, bucket) keys whose
    population exceeds it before the self-join — the :mod:`.buckets`
    cap (recall contract there), which the incremental form
    (:func:`lsh_neardup_incremental`) mirrors count-for-count."""
    # Materialize the sketches EAGERLY: both self-join sides consume
    # them, and the 64-aggregate sketch tree is expensive for Catalyst —
    # an eager local checkpoint truncates the lineage so the downstream
    # join/verify plan optimizes over a small LogicalRDD instead of two
    # copies of the sketch plan. (Blocks release on GC — see
    # dedup.hashed_postings.)
    sk = hyperplane_sketches(embeddings, planes, rotations, id_col, vec_col)
    sk = sk.localCheckpoint(eager=True)
    cands = (
        buckets.bucket_pairs(sk, ["rot", "bucket"], max_bucket)
        .select("id1", "id2")
        .distinct()
    )
    return exact_cosine_for_pairs(cands, embeddings, threshold, id_col, vec_col)


_SKETCH_LAYOUT_FILE = "_LAYOUT"


def write_sketch_layout(dir_path: str, planes: int, rotations: int) -> None:
    """Record a persisted sketch state's layout next to its part files
    (underscore-prefixed — invisible to parquet readers). The layout
    IS the index format: probing 8-plane sketches with 16-plane batch
    buckets silently finds nothing, so every consumer that persists a
    sketch state stamps it and every opener checks it
    (:func:`check_sketch_layout`) — the loud-handshake pattern (r13
    review finding: the mismatch used to zero out recall silently)."""
    import json
    import os

    with open(
        os.path.join(dir_path, _SKETCH_LAYOUT_FILE), "w", encoding="utf-8"
    ) as f:
        json.dump({"planes": planes, "rotations": rotations}, f)


def check_sketch_layout(dir_path: str, planes: int, rotations: int) -> None:
    """Raise when a persisted sketch state's recorded layout disagrees
    with the caller's (planes, rotations). A state with no recorded
    layout (pre-r13 writers) passes — the check cannot retroactively
    protect it, and the next publish stamps it."""
    import json
    import os

    path = os.path.join(dir_path, _SKETCH_LAYOUT_FILE)
    try:
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
    except FileNotFoundError:
        return
    except json.JSONDecodeError as exc:
        # corrupt/truncated layout marker: loud contextual error, not a
        # bare decode traceback (r14 advisor finding — the same posture
        # the publish lock takes with unparseable _LOCK content)
        raise ValueError(
            f"sketch layout marker {path!r} has unparseable content "
            f"({exc}) — it was truncated or hand-edited; re-stamp it "
            "with write_sketch_layout using the planes/rotations the "
            "state was built with, or rebuild the state"
        ) from exc
    if not isinstance(rec, dict):
        raise ValueError(
            f"sketch layout marker {path!r} does not hold a "
            f"{{planes, rotations}} object (got {type(rec).__name__}) "
            "— re-stamp it with write_sketch_layout or rebuild the state"
        )
    if rec.get("planes") != planes or rec.get("rotations") != rotations:
        raise ValueError(
            f"sketch state {dir_path!r} was built with layout "
            f"planes={rec.get('planes')} rotations={rec.get('rotations')} "
            f"but the caller passed planes={planes} rotations={rotations} "
            "— probing across layouts finds nothing (the layout IS the "
            "index format); use the recorded values or rebuild the state"
        )


def lsh_neardup_incremental(
    new_embeddings: DataFrame,
    index_sketches: DataFrame,
    index_embeddings: DataFrame,
    threshold: float = 0.9,
    planes: int = 16,
    rotations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10_000,
    new_sketches: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental embedding near-dup: a NEW batch against a PERSISTED
    sketch index — the daily-ingest shape for the EMBEDDING family,
    completing the symmetry every other dedup family already has
    (exact, line, MinHash, SimHash, components, keepers all grew
    batch-vs-persisted-index modes r10-r12). Re-sketching a 100 TB
    corpus to admit a 0.1% daily crawl is infeasible; this sketches
    the batch ONCE and touches the index only through its (rot,
    bucket) keys plus the id-keyed vector fetch for verified
    candidates — cost scales with |batch| + the index rows whose
    buckets the batch actually hits, never a full corpus scan.

    What makes the increment POSSIBLE is a property
    :func:`hyperplane_sketches` already has: its hyperplane
    coefficients are derived from ``xxhash64(plane, dim)``, not a
    stored model — a batch sketched today under the same
    (planes, rotations) lands in exactly the buckets yesterday's
    corpus sketching used, with no model artifact to version or
    drift. ``index_sketches`` is a persisted
    :func:`hyperplane_sketches` output; ``index_embeddings`` is the
    corpus vector table (verification reads only candidate ids from
    it — at scale the id-keyed join prunes to the hit set). Id
    namespaces must not collide (caller contract, same as
    :func:`dedup.minhash_lsh_incremental`).

    Returns ``(pairs, updated_sketches)``:

    - ``pairs`` = (id1, id2, cosine) at ``cosine ≥ threshold``,
      exact-cosine verified: batch-vs-index collisions keep id1 = new
      doc in EVERY orientation; within-batch pairs keep id1 < id2.
      Because sketches are deterministic, this is exactly the
      new-doc-involving subset of :func:`lsh_neardup_pairs` over the
      full corpus (invariant test-pinned), with the same S-curve
      recall semantics at the candidate stage and bit-identical
      cosines at the verify stage.
    - ``updated_sketches`` = index ∪ batch sketches — write it back
      and it is tomorrow's index (lazy union; the persist amortizes
      into the caller's generation publish).

    ``max_bucket`` caps hot (rot, bucket) keys counted over the
    COMBINED batch ∪ index population, so the subset invariant holds
    cap-for-cap (recall contract: :mod:`.buckets`).

    ``new_sketches`` (a :func:`hyperplane_sketches` frame for the
    batch, same ``planes``/``rotations``) skips the batch sketch pass
    — the same sharing device as ``dedup.minhash_lsh_incremental``'s
    ``new_postings``: a caller that also persists the batch's
    sketches (the ingest loop's state delta) computes them ONCE and
    feeds both uses."""
    sk_new = (
        # caller-injected frames are often already eager checkpoints —
        # checkpointed_once skips the redundant second materialization
        buckets.checkpointed_once(new_sketches)
        if new_sketches is not None
        else hyperplane_sketches(
            new_embeddings, planes, rotations, id_col, vec_col
        ).localCheckpoint(eager=False)
    )
    # ONE join covers both candidate classes (the minhash_lsh_incremental
    # shape): the batch probes index ∪ batch
    cands = (
        buckets.bucket_pairs(
            sk_new, ["rot", "bucket"], max_bucket, index=index_sketches
        )
        # id1 != id2 defends against a violated id-namespace contract
        # (an id present in BOTH batch and index would otherwise emit
        # a self-pair the full-corpus run never produces)
        .filter(F.col("id1") != F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    pairs = exact_cosine_for_pairs(
        cands,
        new_embeddings,
        threshold,
        id_col,
        vec_col,
        embeddings2=index_embeddings.unionByName(new_embeddings),
    )
    return pairs, index_sketches.unionByName(sk_new)


def exact_cosine_for_pairs(
    cands: DataFrame,
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    embeddings2: DataFrame | None = None,
) -> DataFrame:
    """Exact-cosine verification of (id1, id2) candidate pairs — the
    shared tail of every bucketed near-dup plan (LSH, semantic/IVF):
    join both vectors back, fold the dot in fixed order (bit-identical
    to the brute-force path), keep pairs at/above ``threshold``.
    Returns (id1, id2, cosine).

    ``embeddings2`` resolves the id2 side from a DIFFERENT frame (the
    incremental shape: id1 is always a batch doc, so the id1 join
    probes only the batch-sized frame instead of shuffling the full
    corpus twice); identical fold expressions on both sides, so the
    cosines stay bit-identical to the single-frame form."""
    def _sided(df):
        return _with_norm(df, vec_col).select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.col("_norm").alias("n"),
        )

    vecs = _sided(embeddings)
    vecs2 = vecs if embeddings2 is None else _sided(embeddings2)
    return (
        cands.join(vecs.withColumnsRenamed({"id": "id1", "v": "v1", "n": "n1"}), "id1")
        .join(vecs2.withColumnsRenamed({"id": "id2", "v": "v2", "n": "n2"}), "id2")
        .withColumn(
            "cosine",
            F.round(
                vx.cosine_prenormed(vx.dot(F.col("v1"), F.col("v2")), F.col("n1"), F.col("n2")),
                9,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Deterministic IVF pivots: the ``n_centroids`` corpus vectors with
    the smallest ``xxhash64(id)`` — k-means-init-style sampling with no
    RNG state, so every executor/run/replay picks identical pivots.
    ``orderBy().limit(n)`` compiles to TakeOrderedAndProject (per-
    partition top-n, no global sort shuffle). Returns driver-side
    [(centroid_idx, vector, norm)] — deliberately tiny (a few KB), the
    same justified-smallness as the card-catalog map literal.

    NULL vectors, vectors carrying NULL elements, and zero vectors are
    excluded from the sample up front (r11 review finding: a NULL in
    the hash-min window crashed float() on the driver, and a zero
    vector stored norm 0.0 that became a divide-by-zero in
    _nearest_centroids — the same 'no direction' filter
    kmeans_parallel_centroids always had)."""
    vd = F.col(vec_col).cast("array<double>")
    clean = (
        F.col(vec_col).isNotNull()
        & F.forall(vd, lambda x: x.isNotNull())
        & (vx.norm(F.col(vec_col)) > 0)
    )
    rows = (
        embeddings.filter(clean)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("id")), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    out = []
    for i, r in enumerate(rows):
        vec = [float(x) for x in r["v"]]
        nrm = sum(x * x for x in vec) ** 0.5
        out.append((i, vec, nrm))
    return out


def _nearest_centroids(
    vecs: DataFrame, centroids, n_keep: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cidx) — each vector's ``n_keep`` nearest centroids by cosine.

    Centroid components are LITERALS (array-of-arrays) so the per-row
    dot is narrow codegen over an exploded (id, d, x, cidx) stream —
    no join, no HOFs; integer-scaled terms keep the argmax replay-
    deterministic. Ties break toward the lower centroid index."""
    if not centroids:
        # sequence(0, -1) would DESCEND to [0, -1] and element_at(cmat,
        # 0) raises at execution time — fail at call time instead
        raise ValueError(
            "centroids must be non-empty (an empty fit usually means the "
            "fit frame was empty or fully filtered)"
        )
    cmat = F.array(*[lit_doubles(vec) for _, vec, _ in centroids])
    cnorms = lit_doubles(nrm for _, _, nrm in centroids)
    dims = _spread_vectors(vecs, id_col).select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x")
    )
    terms = dims.select(
        "id",
        "d",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(len(centroids) - 1))).alias("cidx"),
    ).select(
        "id",
        "cidx",
        F.round(
            F.col("x").cast("double")
            * F.element_at(cmat, F.col("cidx") + 1)[F.col("d")]
            * F.lit(float(1 << 40))
        )
        .cast("long")
        .alias("t"),
    )
    scored = (
        terms.groupBy("id", "cidx")
        .agg(F.sum("t").alias("dot_scaled"))
        .withColumn(
            "cos",
            F.col("dot_scaled").cast("double")
            / F.element_at(cnorms, F.col("cidx") + 1),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.col("cidx"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_keep)
        .select("id", "cidx")
    )


def ivf_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """IVF-flat ANN top-k — the bucketed path for LARGE query sets,
    where broadcasting the queries (``brute_force_topk``) stops scaling:

    1. pivots: deterministic hash-sampled centroids (no model state);
    2. corpus vectors partition into their nearest centroid's list;
    3. each query probes its ``nprobe`` nearest centroids; only those
       lists are scored — a (bucket)-keyed join, never query×corpus;
    4. exact cosine (same fixed-order fold as brute force) + per-query
       window rank.

    Recall is the nprobe/n_centroids knob: queries whose true neighbors
    live across an unprobed boundary miss them — tune for the workload.
    (The registered driver query ``embedding_ann_topk`` stays on the
    exact ``brute_force_topk`` path because the synthetic testdata
    embeddings are isotropic — no partition scheme can prune them
    honestly; THIS operator is verified on clustered data in
    tests/test_similarity.py, where IVF equals brute force.) Returns
    (query_id, neighbor_id, cosine, rank)."""
    # default pivots stay hash-sampled (cheap, fine for top-k where
    # nprobe covers neighbor clusters); pass a kcenter_centroids or
    # k-means|| fit via `centroids` when pivot placement matters
    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, n_centroids, id_col, vec_col
    )
    corpus_assign = _nearest_centroids(embeddings, cents, 1, id_col, vec_col)
    q = embeddings if query_filter is None else embeddings.filter(query_filter)
    query_probe = _nearest_centroids(q, cents, nprobe, id_col, vec_col)

    # No distinct: corpus vectors assign to exactly ONE list (n_keep=1)
    # and a query's probed cells are distinct by construction, so the
    # join emits each (query, neighbor) pair at most once — the dedup
    # was a full extra shuffle on the largest search intermediate
    # (same r9 finding as pq_topk's candidate stage).
    cand = (
        query_probe.withColumnRenamed("id", "query_id")
        .join(corpus_assign.withColumnRenamed("id", "neighbor_id"), "cidx")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    vecs = _with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col("_norm").alias("n")
    )
    scored = (
        cand.join(
            vecs.withColumnsRenamed({"id": "query_id", "v": "v1", "n": "n1"}),
            "query_id",
        )
        .join(
            vecs.withColumnsRenamed({"id": "neighbor_id", "v": "v2", "n": "n2"}),
            "neighbor_id",
        )
        .withColumn(
            "cosine",
            F.round(
                vx.cosine_prenormed(
                    vx.dot(F.col("v1"), F.col("v2")), F.col("n1"), F.col("n2")
                ),
                9,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact all-pairs cosine near-dup (ground truth / small corpora).
    O(n²) — at scale use ``lsh_neardup_pairs``.

    ``max_rows`` is a deliberate scale fuse: an all-pairs plan that is
    correct at 10⁴ rows is a 10¹⁰-pair cartesian at 10⁷, and the failure
    mode is a silent multi-hour job, not an error. Counting the input
    first costs one cheap job; exceeding the bound raises immediately
    with the LSH alternative named. Pass ``max_rows=None`` only for
    ground-truth runs where the quadratic cost is understood."""
    if max_rows is not None:
        n_rows = embeddings.count()
        if n_rows > max_rows:
            raise ValueError(
                f"brute_force_neardup_pairs refuses an all-pairs plan over "
                f"{n_rows} rows (> max_rows={max_rows}): that is a "
                f"{n_rows * (n_rows - 1) // 2}-pair cartesian. Use "
                "lsh_neardup_pairs (bucketed candidates) at scale, or pass "
                "max_rows=None for an explicit ground-truth run."
            )
    sk = _with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col("_norm").alias("n")
    )
    a = sk.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1"))
    b = sk.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .withColumn(
            "cosine",
            F.round(
                vx.cosine_prenormed(vx.dot(F.col("v1"), F.col("v2")), F.col("n1"), F.col("n2")),
                9,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style)
# ---------------------------------------------------------------------------

def _best_cosine_vs_batch(cur: DataFrame, batch: list[list[float]]) -> DataFrame:
    """Update ``cur`` (id, v, best) — ``v`` UNIT vectors — so ``best``
    becomes max(best, cosine to any vector in ``batch``).

    The batch ships as a LITERAL array-of-arrays and the per-row max-dot
    is the same exploded (id, d, x, cidx) integer-scaled stream as
    :func:`_nearest_centroids` — narrow codegen, no join against a
    centroid table, replay-deterministic argmax/max. One shuffle
    (the (id, cidx) partial-sum), one self-join back on id."""
    m = len(batch)
    cmat = F.array(*[lit_doubles(vec) for vec in batch])
    cnorms = lit_doubles(
        float(sum(x * x for x in vec) ** 0.5) or 1.0 for vec in batch
    )
    dims = cur.select("id", F.posexplode(F.col("v")).alias("d", "x"))
    terms = dims.select(
        "id",
        "d",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("cidx"),
    ).select(
        "id",
        "cidx",
        F.round(
            F.col("x").cast("double")
            * F.element_at(cmat, F.col("cidx") + 1)[F.col("d")]
            * F.lit(float(1 << 40))
        )
        .cast("long")
        .alias("t"),
    )
    bmax = (
        terms.groupBy("id", "cidx")
        .agg(F.sum("t").alias("s"))
        .withColumn(
            "cos",
            F.col("s").cast("double")
            / F.lit(float(1 << 40))
            / F.element_at(cnorms, F.col("cidx") + 1),
        )
        .groupBy("id")
        .agg(F.round(F.max("cos"), 9).alias("_bcos"))
    )
    return (
        cur.join(bmax, "id", "left")
        .withColumn(
            "best", F.greatest(F.col("best"), F.coalesce(F.col("_bcos"), F.lit(-2.0)))
        )
        .drop("_bcos")
    )


def _weighted_kmeanspp(cands, weights, k: int, lloyd_iters: int = 10):
    """Driver-side deterministic weighted k-means++ over the (small)
    k-means|| candidate set — the Bahmani et al. 2012 recluster step.
    ``cands``: list of unit vectors; ``weights``: per-candidate point
    counts. Randomized D²-sampling is replaced by the deterministic
    argmax(w · d²) variant (ties by candidate index) so replays and the
    test oracle see identical centers; then weighted Lloyd to
    convergence (or ``lloyd_iters``). numpy is fine HERE — the candidate
    set is O(oversample · rounds), never corpus-sized."""
    import numpy as np

    X = np.asarray(cands, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    n = len(X)
    if n <= k:
        return [list(map(float, x)) for x in X]
    # unit sphere: squared euclidean = 2(1 - cos)
    chosen = [int(np.argmax(w))]
    d2 = 2.0 * np.clip(1.0 - X @ X[chosen[0]], 0.0, None)
    while len(chosen) < k:
        scores = w * d2
        # ties break toward the lower index (np.argmax is first-max)
        nxt = int(np.argmax(scores))
        chosen.append(nxt)
        d2 = np.minimum(d2, 2.0 * np.clip(1.0 - X @ X[nxt], 0.0, None))
    C = X[chosen].copy()
    for _ in range(lloyd_iters):
        # assign by COSINE (divide by center norms): after the first
        # weighted-mean update centers are interior points with UNEQUAL
        # norms, and a raw-dot argmax would pull boundary candidates
        # toward whichever center has the larger norm — a different
        # objective than _nearest_centroids' cosine assignment
        # (r7 review finding)
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        assign = np.argmax((X @ C.T) / cn, axis=1)
        newC = C.copy()
        for j in range(k):
            mask = assign == j
            if mask.any():
                newC[j] = np.average(X[mask], axis=0, weights=w[mask])
        if np.allclose(newC, C):
            break
        C = newC
    return [list(map(float, c)) for c in C]


def kmeans_parallel_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    init_rounds: int = 5,
    oversample: int | None = None,
    lloyd_rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Distributed spherical k-means fit — k-means|| initialization
    (Bahmani et al., "Scalable k-means++", VLDB 2012) + Lloyd rounds as
    DataFrame algebra. THE scale path for semantic dedup / IVF pivots:
    job count is O(init_rounds + lloyd_rounds) — independent of k —
    vs :func:`kcenter_centroids`' O(k) sequential driver round-trips,
    so SemDeDup's 50k-cluster regime is reachable.

    Deterministic end to end (the module contract): the seed center is
    the min-``xxhash64(id)`` vector, per-round sampling uses
    ``xxhash64(id, round)`` as the uniform draw (no RNG state), costs
    and means aggregate in integer-scaled space (doubles summed across
    partitions would make marginal samples partition-order dependent),
    and the driver-side recluster uses the argmax(w·d²) k-means++
    variant. Same fit every run, every executor layout, every replay.

    Plan per init round (all narrow codegen, one exchange each):
    update running ``best`` cosine against the last round's candidate
    batch (:func:`_best_cosine_vs_batch`, literal batch — no join) →
    integer-scaled cost sum ψ = Σ(1-best) → sample each row with
    p = min(1, ℓ·cost/ψ) via the hash draw (expected ℓ = ``oversample``,
    default 2k, per round), pulled driver-side through
    TakeOrderedAndProject with a 4ℓ fuse. Candidates are then weighted
    by their Voronoi population (one :func:`_nearest_centroids` pass +
    groupBy count) and reduced to k driver-side
    (:func:`_weighted_kmeanspp` — candidate set is O(ℓ·rounds), tiny).
    Each Lloyd round: assign (narrow, literal centers) → per-(cluster,
    dim) integer-scaled mean → collect k×dim longs (bounded by k·dim,
    not corpus). Empty clusters keep their previous center.

    Zero-norm vectors are excluded from the fit (no direction); they
    still assign downstream wherever the caller sends them. Returns
    [(idx, vector, norm)] — plugs straight into the ``centroids``
    parameter of :func:`semantic_neardup_pairs` / :func:`semantic_dedup`
    / :func:`ivf_topk`. Headroom: unit-vector terms at 2³⁰ scaling keep
    per-(cluster, dim) sums exact to ~10⁹ rows per cluster."""
    k = n_centroids
    ell = oversample if oversample is not None else 2 * k
    unit = (
        _with_norm(embeddings, vec_col)
        .filter(F.col("_norm") > 0)
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") / F.col("_norm")
            ).alias("v"),
        )
    )
    first = unit.orderBy(F.xxhash64(F.col("id")), F.col("id")).limit(1).collect()
    if not first:
        return []
    cands: list[list[float]] = [[float(x) for x in first[0]["v"]]]
    cur = unit.withColumn("best", F.lit(-2.0)).localCheckpoint(eager=False)
    new_batch = cands[:]
    # integer-scaled cost: best is rounded to 9 decimals, so (1-best)·10⁹
    # is an exact long — partition-order-independent ψ.
    cost_scaled = F.round((F.lit(1.0) - F.col("best")) * F.lit(1e9)).cast("long")
    for rnd in range(init_rounds):
        cur = _best_cosine_vs_batch(cur, new_batch).localCheckpoint(eager=False)
        psi = cur.agg(F.sum(cost_scaled).alias("psi")).collect()[0]["psi"]
        if not psi:
            break  # every vector coincides with a candidate
        draw = (
            (F.xxhash64(F.col("id"), F.lit(rnd)).cast("double") / F.lit(float(1 << 63)))
            + F.lit(1.0)
        ) / F.lit(2.0)
        prob = F.least(
            F.lit(1.0),
            F.lit(float(ell)) * cost_scaled.cast("double") / F.lit(float(psi)),
        )
        sampled = (
            cur.filter(draw < prob)
            .orderBy(F.xxhash64(F.col("id")), F.col("id"))
            .limit(4 * ell)
            .collect()
        )
        new_batch = [[float(x) for x in r["v"]] for r in sampled]
        cands.extend(new_batch)
        if not new_batch:
            break
    cand_list = [
        (i, vec, float(sum(x * x for x in vec) ** 0.5) or 1.0)
        for i, vec in enumerate(cands)
    ]
    if len(cand_list) <= k:
        return cand_list
    # weight candidates by Voronoi population, recluster driver-side
    assign = _nearest_centroids(unit, cand_list, 1, "id", "v")
    wrows = {
        r["cidx"]: r["w"]
        for r in assign.groupBy("cidx").agg(F.count(F.lit(1)).alias("w")).collect()
    }
    weights = [wrows.get(i, 0) or 1e-9 for i in range(len(cand_list))]
    centers = _weighted_kmeanspp(cands, weights, k)

    scale = float(1 << 30)
    for _ in range(lloyd_rounds):
        cents = [
            (i, vec, float(sum(x * x for x in vec) ** 0.5) or 1.0)
            for i, vec in enumerate(centers)
        ]
        assign = _nearest_centroids(unit, cents, 1, "id", "v")
        stats = (
            unit.join(assign, "id")
            .select("cidx", F.posexplode(F.col("v")).alias("d", "x"))
            .groupBy("cidx", "d")
            .agg(
                F.sum(F.round(F.col("x") * F.lit(scale)).cast("long")).alias("sx"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in stats:
            by_c.setdefault(r["cidx"], {})[r["d"]] = r["sx"] / (r["n"] * scale)
        new_centers = []
        for i, old in enumerate(centers):
            got = by_c.get(i)
            if got:
                # got.get(d, old[d]): a dim no assigned member produced
                # (mixed-width corpora — shorter vectors than the
                # center) keeps the previous coordinate instead of a
                # bare KeyError mid-Lloyd (r11 review finding)
                new_centers.append(
                    [got.get(d, old[d]) for d in range(len(old))]
                )
            else:
                new_centers.append(old)  # empty cluster keeps its center
        if new_centers == centers:
            break
        centers = new_centers
    return [
        (i, vec, float(sum(x * x for x in vec) ** 0.5) or 1.0)
        for i, vec in enumerate(centers)
    ]


def centroids_for_corpus(
    embeddings: DataFrame,
    target_cluster_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kmeans_kwargs,
) -> list[tuple[int, list[float], float]]:
    """The corpus-sized pivot fit: k = ⌈n / target_cluster_size⌉,
    fitted with :func:`kmeans_parallel_centroids` (O(rounds) jobs, so a
    corpus-growth-driven k is free to be large). This is the shipped
    form of the SemDeDup scaling rule the r7 sf0.3 measurement
    confirmed empirically — semantic dedup at a FIXED k grows as
    Σ cluster² (measured 2.65× wall at 3× corpus); holding the CLUSTER
    size fixed instead keeps per-cluster candidate volume, and thus
    total cost per row, constant. Costs one ``count()`` job for n.
    Feed the result to ``semantic_neardup_pairs(..., centroids=...)``
    / ``semantic_dedup`` / ``ivf_topk``."""
    n = embeddings.count()
    if n == 0:
        return []
    k = max(1, -(-n // target_cluster_size))
    return kmeans_parallel_centroids(
        embeddings, n_centroids=k, id_col=id_col, vec_col=vec_col, **kmeans_kwargs
    )


def kcenter_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float], float]]:
    """Greedy farthest-point (k-center) pivots by cosine distance —
    deterministic, no RNG, no trained model.

    Why not ``ivf_centroids`` here: hash-sampling k pivots from a
    corpus with ~k tight clusters collides pivots (birthday bound — at
    k=6 over 6 clusters the all-distinct probability is 6!/6⁶ ≈ 1.5%),
    and TWO pivots inside one near-dup cluster split it across a
    Voronoi boundary, silently halving semantic-dedup recall. Greedy
    farthest-point placement cannot put a second pivot into any cluster
    before every cluster has one (the classic k-center 2-approximation
    argument), so on well-separated data each tight group co-assigns to
    its own pivot — recall is structural, not probabilistic.

    Plan: the first pivot is the min-``xxhash64(id)`` vector (same
    determinism device as ``ivf_centroids``); each round keeps a
    running ``best`` = max cosine to any chosen pivot as a COLUMN
    (one additional dot per row per round — O(k) dots total, not
    O(k²)), local-checkpointed so round t's plan doesn't re-derive
    rounds 1..t-1, and picks the global argmin (ties by id) via
    TakeOrderedAndProject. Driver holds only the k pivot vectors —
    the same justified-smallness as ``ivf_centroids``. O(k) jobs: fine
    for the 10²-10³ pivots semantic dedup uses per shard; for SemDeDup
    at web scale (50k clusters) use :func:`kmeans_parallel_centroids`
    (k-means|| — O(rounds) jobs, independent of k) and feed the
    resulting centroid list straight to ``_nearest_centroids``.

    NULL vectors, NULL elements, and zero vectors are excluded up
    front — the same 'no direction' filter the k-means kernel always
    had (r11 review finding: a zero-norm row's cosine is NULL via the
    nullif, greatest() skips NULLs, so its ``best`` stayed -2.0
    forever and the farthest-point argmin picked every zero vector as
    a pivot before any real point — then every later cosine was NULL
    and the whole corpus co-assigned to one usable pivot, an
    accidental all-pairs join; a NULL vector additionally crashed
    float() on the driver)."""
    vd = F.col(vec_col).cast("array<double>")
    clean = (
        F.col(vec_col).isNotNull()
        & F.forall(vd, lambda x: x.isNotNull())
    )
    base = _with_norm(embeddings.filter(clean), vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col("_norm").alias("n")
    )
    base = base.filter(F.col("n") > 0)
    base = base.localCheckpoint(eager=False)
    first = (
        base.orderBy(F.xxhash64(F.col("id")), F.col("id")).limit(1).collect()
    )
    if not first:
        return []
    pivots = [
        (0, [float(x) for x in first[0]["v"]], float(first[0]["n"]))
    ]
    cur = base.filter(F.col("id") != first[0]["id"]).withColumn(
        "best", F.lit(-2.0)
    )
    while len(pivots) < n_centroids:
        _, pv, pn = pivots[-1]
        pcol = lit_doubles(pv)
        cos = vx.cosine_prenormed(vx.dot(F.col("v"), pcol), F.col("n"), F.lit(pn))
        cur = cur.withColumn(
            "best", F.greatest(F.col("best"), F.round(cos, 9))
        ).localCheckpoint(eager=False)
        nxt = cur.orderBy(F.asc("best"), F.col("id")).limit(1).collect()
        if not nxt:
            break  # corpus smaller than n_centroids: every vector is a pivot
        pivots.append(
            (len(pivots), [float(x) for x in nxt[0]["v"]], float(nxt[0]["n"]))
        )
        cur = cur.filter(F.col("id") != nxt[0]["id"])
    return pivots


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """Semantic near-dup pairs, cluster-bucketed (the SemDeDup recipe,
    Abbas et al. 2023): cluster the embedding space, compare pairs ONLY
    within a cluster, verify with exact cosine. Returns (id1, id2,
    cosine ≥ threshold).

    Plan: deterministic greedy farthest-point centroids
    (``kcenter_centroids`` — NOT the hash-sampled ``ivf_centroids``;
    see the recall paragraph below for why) → every vector assigned to
    its ``n_assign`` nearest centroids (``_nearest_centroids``, narrow
    codegen) → self-join on the cluster key (id1 < id2, distinct) →
    shared exact-cosine verify (``exact_cosine_for_pairs``). The candidate join shuffles on the
    cluster id — O(Σ cluster²) pairs, never corpus²; at 100 TB,
    ``n_centroids`` scales with corpus size to keep clusters bounded
    (SemDeDup runs 50k clusters over 5B embeddings).

    Recall contract: pairs whose members assign to disjoint centroid
    sets are MISSED — inherent to cluster-bucketed dedup, not a bug of
    this plan. Pivots come from :func:`kcenter_centroids` (greedy
    farthest-point), which on well-separated clusters places one pivot
    per cluster, so tight near-dup groups co-assign and recall is 1
    structurally (hash-sampled pivots — ``ivf_centroids`` — collide two
    pivots into one cluster with birthday-bound probability and split
    it; measured on the 6-cluster test fixture). Pairs straddling a
    Voronoi boundary between OVERLAPPING clusters remain missable;
    ``n_assign`` > 1 ORs across boundaries, and ``n_assign =
    n_centroids`` is provably exhaustive (every pair shares a cluster →
    equals brute force — pinned in tests/test_similarity.py). Precision
    is exact by construction (every emitted pair carries a verified
    cosine). Pass ``centroids`` (any [(idx, vector, norm)] list) to
    override pivot selection — :func:`kmeans_parallel_centroids` is the
    shipped large-k fit (O(rounds) jobs vs kcenter's O(k))."""
    cents = centroids if centroids is not None else kcenter_centroids(
        embeddings, n_centroids, id_col, vec_col
    )
    assign = _nearest_centroids(embeddings, cents, n_assign, id_col, vec_col)
    cands = (
        buckets.bucket_pairs(assign, ["cidx"])
        .select("id1", "id2")
        .distinct()
    )
    return exact_cosine_for_pairs(cands, embeddings, threshold, id_col, vec_col)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float], float]] | None = None,
) -> DataFrame:
    """The KEEP/DROP decision over semantic near-dup pairs: connected
    components (``dedup.connected_components`` — min-label propagation
    with pointer jumping, O(log n) rounds) over
    :func:`semantic_neardup_pairs`, so every
    member of a semantic cluster-duplicate group resolves to the
    group's minimum id. Returns (id, component, keep) for every id that
    appears in at least one qualifying pair; ids with no semantic
    duplicate are absent (they are all keepers — the caller anti-joins
    the drop set, same shape as ``decontam.decontaminate``)."""
    from . import dedup

    pairs = semantic_neardup_pairs(
        embeddings, threshold, n_centroids, n_assign, id_col, vec_col, centroids
    )
    comp = dedup.connected_components(pairs.select("id1", "id2"))
    return comp.select(
        "id",
        F.col("comp").alias("component"),
        (F.col("id") == F.col("comp")).alias("keep"),
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """(id_col, out_col): Johnson-Lindenstrauss random projection to
    ``out_dim`` dimensions with the database-friendly ±1 matrix
    (Achlioptas 2001: r_{jd} ∈ {−1, +1} uniformly preserves pairwise
    distances within the JL bound, no Gaussians needed) — the
    dimensionality-reduction stage in front of LSH / IVF / PQ when the
    source embeddings are wide (project 768 → 64, then index: every
    downstream candidate structure gets ~12x cheaper per vector).

    The projection matrix is never materialized: the sign of entry
    (j, d) is the parity of ``xxhash64(seed, j·D_max + d)`` — a pure
    function of (seed, j, d), so every executor, run, and replay
    projects identically (the module's no-RNG contract), and the plan
    is the exploded (id, d, x, j) integer-scaled stream the centroid
    kernel uses (narrow codegen, one (id, j) aggregation, one per-id
    array rebuild — two doc-keyed exchanges). Output scale is
    ``1/√out_dim`` so expected norms are preserved. Rounded to 9
    decimals for cross-engine determinism, like every cosine in this
    module. Rows whose vector is NULL or empty keep their row with a
    NULL ``out_col`` (r11 review finding: posexplode silently DROPPED
    them, so a caller replacing the embedding column by inner-joining
    the projection back lost corpus rows — the module's contract, per
    ``centroid_similarity_scores``, is that NULL embeddings yield
    NULL, never vanish)."""
    if out_dim < 1:
        raise ValueError(f"out_dim must be ≥ 1, got {out_dim}")
    # D_max folds (j, d) into one hash lane; any bound ≥ the real
    # dimension works and 1<<20 dwarfs every embedding width
    dmax = 1 << 20
    dims = _spread_vectors(embeddings, id_col).select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("d", "x")
    )
    # per-term INTEGER scaling before the sum — a double sum would make
    # the 9th decimal partition-order dependent and break the
    # byte-identical replay contract (review finding: the first version
    # summed raw doubles). Scale 2^30, not the centroid kernel's 2^40:
    # long addition WRAPS silently, so headroom is the contract — at
    # 2^30 the per-component sum stays exact up to Σ|x_d| ≈ 8.6e9
    # (second review finding; any real embedding is orders of magnitude
    # below that, where 2^40 left only ~8.4e6).
    scale = float(1 << 30)
    terms = dims.select(
        "id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))).alias("j"),
        "d",
    ).select(
        "id",
        "j",
        F.round(
            F.col("x").cast("double")
            * F.when(
                F.pmod(
                    F.xxhash64(
                        F.lit(int(seed)).cast("long"),
                        (F.col("j").cast("long") * dmax + F.col("d")),
                    ),
                    F.lit(2),
                )
                == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
            * F.lit(scale)
        )
        .cast("long")
        .alias("t"),
    )
    comps = terms.groupBy("id", "j").agg(
        F.round(
            F.sum("t").cast("double")
            / F.lit(scale)
            / F.sqrt(F.lit(float(out_dim))),
            9,
        ).alias("y")
    )
    projected = comps.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "y"))),
            lambda p: p["y"].cast("float"),
        ).alias(out_col)
    )
    # NULL/empty vectors produced no exploded rows — rejoin them so the
    # output covers every input id, with NULL out_col
    return (
        embeddings.select(F.col(id_col).alias("id"))
        .join(projected, "id", "left")
        .select(F.col("id").alias(id_col), out_col)
    )


def centroid_similarity_scores(
    embeddings: DataFrame,
    seed_filter,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """(id, centroid_cos): every vector's cosine to the MEAN of a seed
    set — embedding-based quality filtering (the LAION/DataComp-style
    gate: seed with a trusted 'good' sample, keep corpus rows whose
    similarity to the seed centroid clears a threshold; also the
    embedding analog of DSIR's seed-set importance weighting).

    ``seed_filter`` is a Column predicate selecting the seed rows from
    ``embeddings`` (the trusted sample — typically a few hundred to a
    few thousand rows). The centroid is ONE aggregation whose state is
    dim doubles (order-independent per-coordinate DECIMAL(28,12) sums,
    so the fitted centroid is exactly reproducible regardless of
    partitioning — the integer-scaling discipline of the k-means
    kernels, in decimal form since one pass needs no iteration);
    scoring is a narrow per-row projection against the centroid as a
    LITERAL vector — zero shuffles, zero joins, composes with
    streaming ingest unchanged (a stateless column expression over a
    fitted constant, like ``classifier.margin_expr``).

    Rows whose vector is NULL, a different width than the seed
    centroid, or carrying NULL elements score NULL (never a wrong
    number); seed rows with NULL elements are likewise excluded from
    the fit (a NULL-skipping SUM over the full row count would bias
    the mean). Raises if the seed set is empty. Returns the scoring
    frame; the caller thresholds."""
    vd = F.col(vec_col).cast("array<double>")
    clean = F.col(vec_col).isNotNull() & F.forall(
        vd, lambda x: x.isNotNull()
    )
    seeds = embeddings.filter(seed_filter).filter(clean)
    d = dim
    if d is None:
        # MAJORITY width, not limit(1): an unordered first-row pick is
        # partition-order dependent, and one malformed seed row winning
        # it would evict every genuine seed at the width gate
        # (the fit_pq_codebooks discipline; r9 review finding)
        hist = seeds.groupBy(F.size(vd).alias("w")).count().collect()
        widths = [r for r in hist if r["w"] and r["w"] > 0]
        if not widths:
            raise ValueError(
                "centroid_similarity_scores: seed set is empty "
                "(or every seed vector is NULL/empty)"
            )
        d = int(max(widths, key=lambda r: (r["count"], -r["w"]))["w"])
    sums = (
        seeds.filter(F.size(vd) == d)
        .select(
            *[
                F.sum(
                    F.element_at(vd, t + 1).cast("decimal(28,12)")
                ).alias(f"_s{t}")
                for t in range(d)
            ],
            F.count(F.lit(1)).alias("_n"),
        )
        .collect()[0]
    )
    n = int(sums["_n"])
    if n == 0:
        raise ValueError(
            "centroid_similarity_scores: seed set is empty after the "
            "width gate"
        )
    if any(sums[f"_s{t}"] is None for t in range(d)):
        raise ValueError(
            "centroid_similarity_scores: a seed coordinate sum "
            "overflowed decimal(28,12) — rescale the embeddings"
        )
    centroid = [float(sums[f"_s{t}"]) / n for t in range(d)]
    # centroid norm is a driver-side constant: Python's sequential sum
    # is the same left-to-right IEEE fold F.aggregate would run, and
    # passing it as a literal spares every scored row an interpreted
    # d-step refold of the never-changing centroid (r9 review finding)
    import math

    cnorm = math.sqrt(sum(v * v for v in centroid))
    cvec = lit_doubles(centroid)
    score = F.when(
        clean & (F.size(vd) == d),
        F.round(
            vx.cosine_prenormed(vx.dot(vd, cvec), vx.norm(vd), F.lit(cnorm)),
            9,
        ),
    )
    return embeddings.select(F.col(id_col), score.alias("centroid_cos"))
