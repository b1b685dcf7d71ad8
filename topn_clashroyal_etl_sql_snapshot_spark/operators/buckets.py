"""Bucketed candidate joins: the one hot-key cap and key-pair join under
every sketch family.

Every near-duplicate family in this package generates candidates the
same way. Each row is ``(id, <keys>, <payload>)`` — a MinHash (band,
bucket), a SimHash (chunk, val) piece, a hyperplane (rot, bucket), a
centroid index, a hashed shingle, a winnowing fingerprint — and two ids
are candidates when they share a key. Two relational pieces build all
of them, for a whole corpus (self-join) and for a new batch against a
persisted index (probe):

- :func:`drop_hot_keys` — the cap: drops every key whose population
  over batch ∪ index exceeds ``max_bucket``;
- :func:`key_pairs` — the join: one row per shared key.

:func:`bucket_pairs` composes the two. Families that rewrite the batch's
keys between the cap and the join (SimHash's single-bit piece
expansion) call them separately. :func:`key_set_jaccard` and
:func:`with_jaccard` are the exact-Jaccard tail the inverted-index
families share.

Cap recall contract (every family): a pair is lost only if EVERY key it
shares is hot. A key is hot only when more than ``max_bucket`` rows
share it — a boilerplate shingle or a near-identical cluster already
larger than the cap, where the cap trades a quadratic join term
(Σ bucket² candidate rows, ~10¹² from one 10⁶-document cluster) for
pairs that every other shared key, or the cluster's exact-dup collapse,
still links. Run exact dedup first (``dedup.exact_dup_groups`` /
``dedup.dedup_exact_incremental``) so identical copies never reach a
bucket join; the cap then fires only on near-identical floods.
``max_bucket=None`` is the uncapped join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# flags index rows in the partner frame :func:`drop_hot_keys` hands to
# :func:`key_pairs`; dropped from the join's output
_IDX = "_idx"


def checkpointed_once(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` unless the frame already IS a
    bare checkpoint/RDD (its analyzed plan is a single LogicalRDD
    node) — the materialization for bucket-join inputs that several
    consumers read (a caller-injected probe batch, a candidate list
    verified on both sides). Re-checkpointing an already-materialized
    frame stores a second full copy of its rows in block storage for
    nothing (simhash_verified_pairs checkpoints its candidate frame for
    the plan-choice count; checkpointing it again in the verifier
    stored the 3.2M-pair frame twice)."""
    plan = df._jdf.queryExecution().analyzed().toString().strip()
    if plan.startswith("LogicalRDD") and "\n" not in plan:
        return df
    return df.localCheckpoint(eager=False)


def drop_hot_keys(
    batch: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The hot-key cap. Returns ``(batch, partners)``: the batch, and the
    rows it pairs against in :func:`key_pairs` — the batch itself, or
    ``index ∪ batch`` with the index rows flagged — both without every
    key whose population over batch ∪ index exceeds ``max_bucket``
    (``None``: nothing dropped). Counting over the union gives a probe
    exactly the populations a full-corpus self-join sees, so its pairs
    stay the batch-involving subset of the full run cap for cap.

    The cap anti-joins the HOT set instead of semi-joining its cold
    complement: hot keys number at most ``rows/max_bucket``, so the
    anti-join's build side is small and AQE broadcasts it at runtime
    (A/B'd r10: cost-neutral at sf0.1, fewer shuffled rows at scale).
    There is no broadcast hint: in an all-hot corpus the set degrades
    to a shuffled join instead of exhausting driver memory. See the
    module notes for the recall contract."""
    partners = batch
    if index is not None:
        partners = index.withColumn(_IDX, F.lit(True)).unionByName(
            batch.withColumn(_IDX, F.lit(False))
        )
    if max_bucket is None:
        return batch, partners
    hot = (
        partners.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*keys)
    )
    if index is not None:
        # two consumers: the batch and the partner union
        hot = hot.localCheckpoint(eager=False)
        partners = partners.join(hot, keys, "left_anti")
    batch = batch.join(hot, keys, "left_anti")
    return batch, (batch if index is None else partners)


def key_pairs(batch: DataFrame, partners: DataFrame, keys: list[str]) -> DataFrame:
    """The key-pair join: one row per (batch row, partner row) sharing
    ``keys``, non-key columns suffixed ``1`` (batch) and ``2`` (partner)
    — ``id`` becomes ``id1``/``id2``. Index partners come in every
    orientation (id namespaces of batch and index must not collide —
    caller contract); batch partners only as ``id1 < id2``. A pair
    sharing several keys appears once per key, so callers either
    ``distinct()`` the ids or count the shared keys. ``partners`` is
    the second half of :func:`drop_hot_keys`' result, or ``batch``
    itself for an uncapped self-join."""

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.withColumnsRenamed(
            {c: c + suffix for c in df.columns if c not in keys and c != _IDX}
        )

    pairs = side(batch, "1").join(side(partners, "2"), list(keys))
    ordered = F.col("id1") < F.col("id2")
    if _IDX not in partners.columns:
        return pairs.filter(ordered)
    return pairs.filter(F.col(_IDX) | ordered).drop(_IDX)


def bucket_pairs(
    batch: DataFrame,
    keys: list[str],
    max_bucket: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """:func:`key_pairs` over :func:`drop_hot_keys` — the capped
    self-join (``index=None``) or the capped batch-against-index
    probe."""
    return key_pairs(*drop_hot_keys(batch, keys, max_bucket, index), keys)


def with_jaccard(shared: DataFrame, sizes: DataFrame) -> DataFrame:
    """``shared`` (id1, id2, n_common) joined to the per-id set sizes
    ``sizes`` (id, n) as ``n1``/``n2``, plus ``jaccard = n_common /
    (n1 + n2 − n_common)`` — integer counts and one double division,
    oracle-exact across engines. The sizes join after the
    intersection count: ``shared`` holds only pairs that share a key,
    and the per-id sizes frame is small enough for AQE to
    broadcast."""
    return (
        shared.join(sizes.withColumnsRenamed({"id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"id": "id2", "n": "n2"}), "id2")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")),
        )
    )


def key_set_jaccard(keyed: DataFrame, keys: list[str]) -> DataFrame:
    """(id1, id2, n_common, n1, n2, jaccard) for every id pair (id1 <
    id2) sharing a key of ``keyed`` — the exact Jaccard of the two
    key sets through the inverted-index self-join, O(Σ df²). Each
    (id, key) must appear once; cap ``keyed`` with
    :func:`drop_hot_keys` first if boilerplate keys should not count
    (set sizes are then the capped sizes)."""
    sizes = keyed.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        key_pairs(keyed, keyed, keys)
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return with_jaccard(shared, sizes)
