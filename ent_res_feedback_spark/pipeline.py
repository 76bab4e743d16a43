"""End-to-end entity-resolution pipeline (the flagship job).

documents(doc_id, spans) ->
  mentions (normalize + blocking key, narrow) ->
  within-block pairs (skew-salted self-join, shuffle) ->
  constraint gate (cheap column chain BEFORE the UDFs — C2) ->
  featurize unconstrained pairs (Arrow-batched UDF + JVM exprs) ->
  logistic score -> dist = coalesce(constraint, 1-score) ->
  tau-filter edges -> large-star/small-star CC (checkpointed) ->
  clusters joined back onto source rows (spans carried untouched).

Physical shape (SURVEY.md §3.1 restatement): two wide shuffles (block
repartition implied by the join, CC iterations), everything else narrow;
constraint evaluation precedes the pandas UDFs so disallowed pairs never
pay for featurization; hot keys are salted per the census.

Emits a per-block *lineage* table (block -> sizes, pair counts, salt
decision) — the partition-level lineage metadata the feedback loop uses
to recompute only affected blocks — plus run metrics.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.blocking import block_census
from ent_res_feedback_spark.operators.cc import (
    components_with_singletons,
    connected_components,
)
from ent_res_feedback_spark.operators.constraints import apply_constraints
from ent_res_feedback_spark.operators.features import mention_pair_features
from ent_res_feedback_spark.operators.mentions import extract_mentions
from ent_res_feedback_spark.operators.pairs import within_block_pairs
from ent_res_feedback_spark.operators.scoring import score_pairs
from ent_res_feedback_spark.oracle import DEFAULT_TAU, DEFAULT_WEIGHTS

#: the mention fields every pair builder carries onto its pairs; the two
#: arrays come from ``mentions.mention_sets``, derived once per mention
MENTION_COLS = [
    "doc_id", "block_key", "first", "last", "middle_initials", "affil_tokens",
]


@dataclass
class ERConfig:
    tau: float = DEFAULT_TAU
    weights: dict = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    salt_threshold: int | None = 2000
    num_salt_buckets: int = 8
    max_block_size: int | None = None
    checkpoint_dir: str | None = None
    ascii_fast_path: bool = False
    #: parquet pair-feature cache (S6/FE3) — when set, featurization runs
    #: ONLY for pairs not already in the cache (reference
    #: featurizer.py:585-628 semantics); NB this makes scoring eager (the
    #: cache append is an action).
    feature_cache_dir: str | None = None


def scored_pair_distances(
    docs: DataFrame,
    config: ERConfig | None = None,
    seeds: DataFrame | None = None,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """documents -> (doc_id_1, doc_id_2, block_key, score, constraint_dist,
    dist). The reusable first half of the pipeline (feedback re-scores it
    per affected block)."""
    cfg = config or ERConfig()
    if mentions is None:
        mentions = extract_mentions(docs, ascii_fast_path=cfg.ascii_fast_path)
    # nameless (e.g. media-only) documents carry no match evidence: exclude
    # from pairing — they'd otherwise all collide in block "" (quadratic).
    # Persist: this narrow UDF-derived frame feeds the census, the hot/cold
    # split, AND both join sides — without persistence the unicode-fold UDF
    # subtree re-executes for every consumer (measured 2-3x pipeline wall).
    slim = (
        mentions.select(*MENTION_COLS)
        .where(F.length("block_key") > 0)
        .persist()
    )
    pairs = within_block_pairs(
        slim,
        key="block_key",
        id_col="doc_id",
        salt_threshold=cfg.salt_threshold,
        num_salt_buckets=cfg.num_salt_buckets,
        max_block_size=cfg.max_block_size,
    )
    pairs = apply_constraints(pairs, seeds)

    # C2 gate: the expensive featurization UDFs only see unconstrained pairs.
    unconstrained = pairs.where(F.col("constraint_dist").isNull())
    if cfg.feature_cache_dir:
        from ent_res_feedback_spark.operators.feature_cache import PairFeatureCache

        cache = PairFeatureCache(docs.sparkSession, cfg.feature_cache_dir)
        feats, _ = cache.featurize_with_cache(unconstrained, mention_pair_features)
    else:
        feats = mention_pair_features(unconstrained)
    featurized = score_pairs(feats, cfg.weights)
    scored_u = featurized.select(
        "doc_id_1",
        "doc_id_2",
        "block_key",
        F.col("score"),
        F.col("constraint_dist"),
        (1.0 - F.col("score")).alias("dist"),
    )
    scored_c = pairs.where(F.col("constraint_dist").isNotNull()).select(
        "doc_id_1",
        "doc_id_2",
        "block_key",
        F.lit(None).cast("double").alias("score"),
        F.col("constraint_dist"),
        F.col("constraint_dist").alias("dist"),
    )
    out = scored_u.unionByName(scored_c)
    # persist lifecycle: the caller owns it — after materializing the
    # scored frame (checkpoint / sink write), call release_persisted(out)
    # so iterating callers (the feedback loop) don't accumulate cached
    # partitions for the driver lifetime.
    out._persisted_deps = [slim]  # type: ignore[attr-defined]
    return out


def release_persisted(df: DataFrame) -> None:
    """Unpersist the intermediate frames a pipeline function persisted on
    behalf of ``df`` (recorded in ``_persisted_deps``). Call once ``df``
    has been materialized (checkpointed or written); later re-use of the
    lazy frame stays correct, it just recomputes."""
    for dep in getattr(df, "_persisted_deps", []):
        dep.unpersist()


def run_pipeline(
    docs: DataFrame,
    config: ERConfig | None = None,
    seeds: DataFrame | None = None,
    compute_metrics: bool = False,
) -> dict:
    """Full pipeline. Returns dict with:

    clusters: (doc_id, cluster_id, spans) — spans are the SOURCE column,
              selected not rebuilt (span-sequence equality by construction)
    scored:   the pair-distance frame
    lineage:  per-block lineage/metrics table (lazy — costs nothing unless
              consumed)
    metrics:  driver-side dict. ``wall_sec`` covers building the plan
              plus materialising connected components (CC runs eagerly
              here), NOT the clusters sink write, which the caller
              performs afterwards. Row/cluster counts are OPT-IN
              (``compute_metrics=True``): each is a full extra job, and a
              mandatory stage barrier per run is exactly the fixed cost
              that caps scaling efficiency — production derives counts
              from the sink write instead.
    """
    cfg = config or ERConfig()
    t0 = time.time()

    # scored is consumed ONCE on the main path (edge filter) — persisting it
    # would spill the full pair frame (O(pairs) bytes) for no reuse; callers
    # that iterate (the feedback loop) checkpoint it themselves.
    mentions = extract_mentions(docs, ascii_fast_path=cfg.ascii_fast_path)
    scored = scored_pair_distances(docs, cfg, seeds, mentions=mentions)
    edges = scored.where(F.col("dist") <= (1.0 - cfg.tau)).select(
        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
    )
    assignments = connected_components(edges, checkpoint_dir=cfg.checkpoint_dir)
    # connected_components materialized the edge set (checkpoint), so the
    # persisted mentions frame has served its purpose — release it now
    # rather than leaking cached partitions for the driver lifetime.
    release_persisted(scored)
    clusters = components_with_singletons(
        assignments, docs, "doc_id"
    ).withColumnRenamed("component", "cluster_id")

    census = block_census(mentions.select(*MENTION_COLS))
    lineage = census.withColumn(
        "salted",
        (F.col("block_size") > cfg.salt_threshold)
        if cfg.salt_threshold is not None
        else F.lit(False),
    )

    wall = time.time() - t0
    metrics: dict = {"wall_sec": wall, "tau": cfg.tau}
    if compute_metrics:
        n_docs = docs.count()
        n_clusters = clusters.select("cluster_id").distinct().count()
        metrics.update(
            {
                "n_docs": n_docs,
                "n_clusters": n_clusters,
                "docs_per_sec": n_docs / wall if wall > 0 else None,
            }
        )
    return {
        "clusters": clusters,
        "scored": scored,
        "lineage": lineage,
        "metrics": metrics,
    }
