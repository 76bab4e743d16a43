"""Pairwise featurization over the joined mention-pair frame
(SURVEY.md §2.5).

The reference computes a 39-dim vector per pair in Python pool workers
(featurizer.py:301-517); here every feature is either a JVM column
expression (equalities, jaccards, levenshtein) or an Arrow-batched pandas
UDF (Jaro-Winkler / prefix / LCS), evaluated over the pair frame produced
by operators/pairs.py — no per-row Python anywhere.

``mention_pair_features`` produces the north-star feature set
(Jaro-Winkler + Levenshtein + prefix on first names, middle-initial
compatibility, affiliation token jaccard, optional embedding cosine) with
the same NULL->neutral fills as the oracle (oracle.name_features_py), so
Spark-vs-oracle disagreement isolates plumbing bugs, not model drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.strdist import (
    jaro_winkler,
    levenshtein_norm,
    prefix_dist,
)
from ent_res_feedback_spark.functions.text import distinct_jaccard
from ent_res_feedback_spark.functions.vectors import cosine_sim

NEUTRAL = 0.5  # NULL -> neutral evidence fill (oracle.name_features_py)

#: canonical feature column order (the scorer's weight vector order)
FEATURE_COLS = [
    "jw_first",
    "lev_first",
    "prefix_first",
    "middle_compat",
    "affil_jaccard",
]


def middle_compatible(i1: Column, i2: Column) -> Column:
    """1.0 when middle names don't conflict: either initial array empty,
    or the arrays overlap (subset of reference data.py:866-890). Takes the
    ``middle_initials`` arrays of ``mentions.mention_sets``."""
    return (
        F.when((F.size(i1) == 0) | (F.size(i2) == 0), F.lit(1.0))
        .when(F.arrays_overlap(i1, i2), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )


def mention_pair_features(
    pairs: DataFrame,
    fill_neutral: bool = True,
    with_embedding: bool = False,
) -> DataFrame:
    """Adds FEATURE_COLS (+ ``emb_cosine`` when requested) to a pair frame
    with first/middle_initials/affil_tokens columns suffixed _1/_2 (the
    arrays from ``mentions.mention_sets``).

    String-distance features gate on len>1 (reference text.py:363:
    initial-only names carry no distance evidence) and fill NULL->0.5.
    """
    f1, f2 = F.col("first_1"), F.col("first_2")
    gate = (F.length(f1) > 1) & (F.length(f2) > 1)

    jw = F.when(gate, jaro_winkler(f1, f2))
    lev = F.when(gate, 1.0 - levenshtein_norm(f1, f2))
    pref = F.when(gate, 1.0 - prefix_dist(f1, f2))
    affil = distinct_jaccard(F.col("affil_tokens_1"), F.col("affil_tokens_2"))

    if fill_neutral:
        jw = F.coalesce(jw, F.lit(NEUTRAL))
        lev = F.coalesce(lev, F.lit(NEUTRAL))
        pref = F.coalesce(pref, F.lit(NEUTRAL))
        affil = F.coalesce(affil, F.lit(NEUTRAL))

    out = pairs.select(
        "*",
        jw.alias("jw_first"),
        lev.alias("lev_first"),
        pref.alias("prefix_first"),
        middle_compatible(
            F.col("middle_initials_1"), F.col("middle_initials_2")
        ).alias("middle_compat"),
        affil.alias("affil_jaccard"),
    )
    if with_embedding:
        out = out.withColumn(
            "emb_cosine",
            F.when(
                F.col("embedding_1").isNotNull() & F.col("embedding_2").isNotNull(),
                cosine_sim(F.col("embedding_1"), F.col("embedding_2")),
            ),
        )
    return out
