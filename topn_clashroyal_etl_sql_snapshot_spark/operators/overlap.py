"""Cross-document overlap beyond whole-document similarity: repeated-
substring detection and asymmetric containment.

Whole-document Jaccard (``dedup.jaccard_pairs``) misses the two
overlap shapes that matter most in web corpora:

- a SHARED PARAGRAPH inside otherwise-different documents (license
  boilerplate, quoted articles, templated footers) — global Jaccard
  is low even though hundreds of tokens match verbatim;
- CONTAINMENT — a short document embedded whole inside a long one
  (the article vs the article+comments page) — Jaccard is bounded by
  len(short)/len(long) however perfect the inclusion.

Two operators, both inverted-index joins (no pairwise scan):

- :func:`winnow_overlap_pairs` — document pairs sharing selected
  winnowing fingerprints (``textstats.winnow_marked``, the MOSS
  scheme). The winnowing guarantee transfers: ANY verbatim run of
  ``window + k - 1`` tokens shared by two documents yields ≥ 1 shared
  selected fingerprint, so recall for paragraph-sized copies is
  structural, not probabilistic — at ~2/(window+1) the fingerprint
  density (and hence index size) is a tunable fraction of the corpus.
- :func:`containment_pairs` — exact n-gram containment
  ``|A∩B| / min(|A|,|B|)`` over the same hashed postings the Jaccard
  family uses (shareable ``toks``), reported alongside Jaccard so the
  caller sees both global and asymmetric similarity.

Scale: both follow the dedup family's inverted-index discipline —
``max_df`` drops fingerprints/shingles whose document frequency says
"boilerplate" (quadratic candidate blowup, no pair-level signal;
the COUNT of dropped keys is reported by the caller's profiling, not
silently hidden — the df cap is part of the operator contract), joins
shuffle on high-cardinality hash keys, candidate verification is
integer counting. No all-pairs plan is reachable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import buckets, dedup
from .textstats import winnow_marked


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 1,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id1, id2, n_shared, n_fp1, n_fp2, overlap1, overlap2) for
    document pairs sharing ≥ ``min_shared`` distinct selected
    fingerprints; ``overlap_i = n_shared / n_fp_i`` estimates the
    fraction of document i covered by material shared with the other
    side (the MOSS similarity display). A pair sharing one
    paragraph of ``window + k - 1`` tokens is GUARANTEED to appear."""
    # the selected set is the DISTINCT window minima — the pre-r11
    # h==wmin rule missed the shared fingerprint on 37% of pairs
    # overlapping by exactly window+k-1 tokens (the guarantee
    # boundary; see winnow_marked)
    sel = (
        winnow_marked(docs, k, window, text_col, id_col)
        .select("id", F.col("wmin").alias("h"))
        .distinct()
    )
    sel = sel.localCheckpoint(eager=False)  # sizes + both join sides
    sel, _ = buckets.drop_hot_keys(sel, ["h"], max_df)
    return (
        buckets.key_set_jaccard(sel, ["h"])
        .filter(F.col("n_common") >= min_shared)
        .select(
            "id1",
            "id2",
            F.col("n_common").alias("n_shared"),
            F.col("n1").alias("n_fp1"),
            F.col("n2").alias("n_fp2"),
            (F.col("n_common").cast("double") / F.col("n1")).alias("overlap1"),
            (F.col("n_common").cast("double") / F.col("n2")).alias("overlap2"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, n_common, n1, n2, containment, jaccard) where
    ``containment = n_common / min(n1, n2)`` — 1.0 means the smaller
    document's n-gram set is entirely inside the larger's, however
    different their sizes (the case Jaccard structurally cannot
    reach). Pairs at ``containment ≥ threshold``; pass ``toks`` to
    share the dedup family's tokenize scan."""
    postings, _ = buckets.drop_hot_keys(
        dedup.hashed_postings(docs, text_col, id_col, n, toks=toks), ["sh"], max_df
    )
    return (
        buckets.key_set_jaccard(postings, ["sh"])
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least(F.col("n1"), F.col("n2")),
        )
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "n_common", "n1", "n2", "containment", "jaccard")
    )
