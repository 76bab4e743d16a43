"""Correctness checks and the per-run environment record.

Every check returns a count of problems (0 = pass), so a failing check
is a number the report can carry rather than an exception that ends the
run. The partition helpers take plain ``(doc_id, cluster_id)`` pairs, so
the tests can feed them deliberately corrupted outputs without Spark.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ent_res_feedback_spark.corpus import (
    CorpusConfig,
    corpus_to_spark,
    generate_corpus,
)
from ent_res_feedback_spark.oracle import (
    UnionFind,
    cluster_documents_py,
    pairwise_f1_py,
)
from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline

#: BASELINE.json acceptance gate: pairwise F1 of the engine's decisions
#: against the pure-Python oracle's.
ORACLE_F1_GATE = 0.99
#: entities in the oracle slice; the oracle featurizes every within-block
#: pair in Python, so the slice stays small.
ORACLE_SLICE_ENTITIES = 40


def document_problems(docs: DataFrame, clusters: DataFrame) -> dict:
    """Compare the clusters sink against its source documents in one job.

    Counts input docs missing from the output (``dropped``), docs written
    more than once (``duplicated``), output ids not in the input
    (``extra``) and docs whose ``spans`` differ from the source row
    (``altered``)."""
    out = clusters.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"), F.first("spans").alias("_out_spans")
    )
    src = docs.select("doc_id", "spans", F.lit(True).alias("_src"))
    both = src.join(out, "doc_id", "full_outer")
    present = F.col("_src").isNotNull() & F.col("_n").isNotNull()

    def n(cond):
        return F.coalesce(F.sum(cond.cast("int")), F.lit(0))

    row = both.agg(
        n(F.col("_n").isNull()).alias("dropped"),
        n(F.col("_n") > 1).alias("duplicated"),
        n(F.col("_src").isNull()).alias("extra"),
        n(present & ~F.col("spans").eqNullSafe(F.col("_out_spans"))).alias(
            "altered"
        ),
    ).first()
    return row.asDict()


def canonical_partition(assignments) -> dict:
    """``(doc_id, cluster_id)`` pairs -> {doc_id: smallest doc_id of its
    cluster}, so two partitions compare equal whatever their labels."""
    members: dict = {}
    for doc, cluster in assignments:
        members.setdefault(cluster, []).append(doc)
    return {doc: min(docs) for docs in members.values() for doc in docs}


def partition_digest(assignments) -> str:
    """sha256 of the canonical partition: equal digests, equal clusters."""
    h = hashlib.sha256()
    for doc, root in sorted(canonical_partition(assignments).items()):
        h.update(f"{doc}\t{root}\n".encode())
    return h.hexdigest()


def closure_mismatches(assignments, edges) -> int:
    """Docs whose cluster differs from the ``oracle.UnionFind`` transitive
    closure of ``edges`` (the run's own tau-edges). Docs on no edge must
    be singletons."""
    uf = UnionFind()
    for src, dst in edges:
        uf.union(src, dst)
    actual = canonical_partition(assignments)
    # UnionFind keeps the smallest id as the root, so find() is already
    # the canonical label
    return sum(1 for doc, root in actual.items() if uf.find(doc) != root)


def oracle_slice_f1(spark, seed: int, config: ERConfig) -> float:
    """The BASELINE gate on a small ``generate_corpus`` slice: pairwise F1
    of the engine's clusters on the labeled pairs, labels taken from
    ``oracle.cluster_documents_py``."""
    documents, _gold, labeled = generate_corpus(
        CorpusConfig(n_entities=ORACLE_SLICE_ENTITIES, seed=seed)
    )
    res = run_pipeline(corpus_to_spark(spark, documents), config)
    pred = {
        r["doc_id"]: r["cluster_id"]
        for r in res["clusters"].select("doc_id", "cluster_id").collect()
    }
    oracle = cluster_documents_py(documents, tau=config.tau, weights=config.weights)
    decisions = [
        (d1, d2, int(oracle[d1] == oracle[d2]), bk) for d1, d2, _l, bk in labeled
    ]
    return pairwise_f1_py(pred, {}, decisions)["f1"]


# -- environment record ----------------------------------------------------


def cpu_times() -> dict:
    """Whole-host jiffies from /proc/stat: busy, idle and steal."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4],
            "steal": v[7]}


def steal_pct(before: dict, after: dict) -> float:
    """Hypervisor steal as a share of host cpu-time between two samples."""
    total = sum(after[k] - before[k] for k in after)
    return 100.0 * (after["steal"] - before["steal"]) / max(total, 1)


def _git_sha(root: str) -> str:
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"  # an exported checkout has no history
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(spark, seed: int, root: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "git_sha": _git_sha(root),
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus this Python process. Python
    workers are not included."""
    total_kb = 0
    pids = ["self"]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(str(proc.pid))
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
