#!/usr/bin/env python3
"""Entity-resolution benchmark: documents parquet in, clusters parquet out.

    python3 perfbench/run.py --workload er_uniform --seed 7 --seconds 8 --trace 0

Run it from the repository root. One driver process on ``local[2]``
drives a closed loop, one job at a time:

1. set-up: start the session, then ``SETUP_REPS`` times generate the
   corpus in-process with ``corpus.spark_corpus(..., seed=<seed>)``, its
   hot block cut to a fixed size, and write the documents to parquet;
2. the cold job: documents parquet -> ``pipeline.run_pipeline`` ->
   clusters parquet, the first job of the fresh session;
3. warm repeats of the job for ``--seconds`` (at least
   ``MIN_WARM_JOBS``), with the oracle gate on a small corpus slice, the
   documents check and B3 / pairwise F1 against the gold partition run
   between them;
4. the other correctness checks.

``--trace 1`` adds, after step 3, one documents -> clusters job and one
``operators.feedback.run_feedback_loop`` under ``tracing.Tracer``, which
cuts and times every layer; the last line then carries the per-layer
metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Sample counts, phase times, the environment record and any
failures are printed on the lines before it, and everything is written to
``.perfbench_work/record.json``. The exit code is non-zero when a run, a
round or a check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ent_res_feedback_spark.corpus import spark_corpus  # noqa: E402
from ent_res_feedback_spark.operators import metrics  # noqa: E402
from ent_res_feedback_spark.operators.feedback import run_feedback_loop  # noqa: E402
from ent_res_feedback_spark.pipeline import (  # noqa: E402
    ERConfig,
    run_pipeline,
)
from ent_res_feedback_spark.session import get_spark  # noqa: E402

import checks  # noqa: E402
import tracing  # noqa: E402

# The two corpora differ only in the hot block: about the same doc count,
# so the same per-doc work, and a hot block above the salt threshold in
# er_hot only, so the pair path does several times more work there. The
# hot block is cut to ``hot_docs`` docs: as generated, its size is a sum of
# random per-entity doc counts, and its pairs, which grow with its square,
# varied 2x from one seed to the next.
WORKLOADS = {
    "er_uniform": {"entities": 1000, "hot_entities": 20, "hot_docs": 260},
    "er_hot": {"entities": 1000, "hot_entities": 45, "hot_docs": 640},
}
#: one engine configuration for every workload: 400 salts er_hot's hot
#: block and no block of er_uniform
CONFIG = ERConfig(salt_threshold=400)
#: two task slots, each with its Python worker, on a 4-core host: with
#: local[4] the task threads, their Python workers and the driver's JIT
#: and GC threads outnumber the cores, and every job ran slower
CORES = 2
SETUP_REPS = 3
MIN_WARM_JOBS = 4
FEEDBACK_ROUNDS = 2
PAIRS_PER_ROUND = 50

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "docs_per_s": "docs/s",
    "b3_f1": "ratio",
    "pairwise_f1": "ratio",
}
PER_LAYER = {
    "mentions.wall_s": "s", "mentions.task_s": "s", "mentions.rows_out": "rows",
    "pairs.wall_s": "s", "pairs.task_s": "s", "pairs.rows_out": "rows",
    "pairs.salted_blocks": "count", "pairs.shuffle_write_mb": "MB",
    "pairs.spill_mb": "MB", "pairs.task_skew": "ratio",
    "constraints.wall_s": "s", "constraints.task_s": "s",
    "constraints.overrides": "rows", "constraints.pass_ratio": "ratio",
    "features.wall_s": "s", "features.task_s": "s", "features.rows_out": "rows",
    "features.rows_per_task_s": "rows/s",
    "scoring.wall_s": "s", "scoring.edges": "rows", "scoring.edge_ratio": "ratio",
    "cc.wall_s": "s", "cc.task_s": "s", "cc.jobs": "count", "cc.edges_in": "rows",
    "cc.components": "count",
    "sink.wall_s": "s", "sink.bytes_written": "bytes", "sink.rows": "rows",
    "feedback.first_clusters_s": "s", "feedback.round_s": "s",
    "feedback.select_s": "s", "feedback.rescore_s": "s", "feedback.cluster_s": "s",
    "feedback.touched_blocks": "count", "feedback.rescored_pairs": "rows",
    "feedback.rescore_ratio": "ratio", "feedback.jobs_per_round": "count",
    "metrics.wall_s": "s",
    "spark.jobs": "count", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


class Ledger:
    """Timed runs, rounds and checks attempted, and those that failed. A
    failing unit is recorded and the workload goes on."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def run(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; return (ok, result)."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as exc:  # the benchmark outlives one failing unit
            traceback.print_exc()
            self.failures.append(f"{what}: {exc!r}"[:500])
            return False, None

    def check(self, what: str, fn) -> None:
        """``fn`` returns a problem count (or a dict of counts); any
        problem fails the check."""
        ok, problems = self.run(what, fn)
        if ok and (sum(problems.values()) if isinstance(problems, dict) else problems):
            self.failures.append(f"{what}: {problems}")


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 entities: int | None = None):
        self.spec = dict(WORKLOADS[workload])
        if entities is not None:
            self.spec["entities"] = entities
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.docs_path = os.path.join(self.work, "documents")
        self.gold_path = os.path.join(self.work, "gold")
        self.out_path = os.path.join(self.work, "clusters")
        self.fb_path = os.path.join(self.work, "feedback_clusters")
        self.events = os.path.join(self.work, "events")
        self.ledger = Ledger()
        self.samples: dict = {}
        self.cut: list = []  # hot-block doc_ids left out of the corpus
        self.steal: list = []
        self.digests: list = []
        self.record: dict = {}
        self.phases: dict = {}
        self._last_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = round(now - self._last_mark, 3)
        self._last_mark = now

    # -- session ---------------------------------------------------------

    def start_session(self):
        """Everything the run writes stays under ``.perfbench_work``."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # HotSpot keeps its perf-counter file in /tmp whatever the temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.events)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", cores=CORES, extra_conf=conf)

    def stop_session(self):
        """Stop Spark and wait for the JVM to exit."""
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()

    # -- units of work ---------------------------------------------------

    def generate(self):
        return spark_corpus(
            self.spark, self.spec["entities"],
            hot_block_entities=self.spec["hot_entities"], seed=self.seed,
        )

    def hot_cut(self) -> list:
        """doc_ids of the hot block past its first ``hot_docs`` docs by
        doc_id (whole entities, then part of one)."""
        gold = self.generate()[1]
        # spark_corpus labels entity i "e<i>"; entities below hot_entities
        # make up the hot block
        entity = F.substring("cluster_id", 2, 12).cast("int")
        return [r[0] for r in gold.where(entity < self.spec["hot_entities"])
                .select("doc_id").orderBy("doc_id").offset(self.spec["hot_docs"]).collect()]

    def corpus(self):
        """documents and gold, the hot block cut to its fixed size"""
        keep = ~F.col("doc_id").isin(self.cut)
        docs, gold = self.generate()
        return docs.where(keep), gold.where(keep)

    def set_up(self):
        self.corpus()[0].write.mode("overwrite").parquet(self.docs_path)

    def er_job(self, tracer=None):
        """The product path: documents parquet -> run_pipeline ->
        clusters parquet."""
        docs = self.spark.read.parquet(self.docs_path)
        clusters = run_pipeline(docs, CONFIG)["clusters"]
        if tracer is None:
            clusters.write.mode("overwrite").parquet(self.out_path)
            return
        with tracer.span("sink") as sp:
            obs = Observation()
            clusters.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite").parquet(self.out_path)
            sp["rows"] = obs.get["rows"]
        sp["bytes_written"] = sum(
            os.path.getsize(os.path.join(self.out_path, f))
            for f in os.listdir(self.out_path)
        )

    def timed(self, what: str, fn, *args) -> float | None:
        """Wall of one unit, or None when it failed; records host steal."""
        before, t0 = checks.cpu_times(), time.perf_counter()
        ok, _ = self.ledger.run(what, fn, *args)
        wall = time.perf_counter() - t0
        self.steal.append(round(checks.steal_pct(before, checks.cpu_times()), 3))
        return wall if ok else None

    def assignments(self, path: str) -> list:
        rows = self.spark.read.parquet(path).select("doc_id", "cluster_id").collect()
        return [(r[0], r[1]) for r in rows]

    def digest(self, label: str, path: str) -> None:
        ok, d = self.ledger.run(f"digest {label}", lambda: checks.partition_digest(
            self.assignments(path)))
        self.digests.append((label, d if ok else None))

    def feedback(self, tracer: tracing.Tracer):
        """The traced feedback loop. Rounds are delimited by metric_fn,
        which the loop calls once per round with that round's clusters."""
        spark = self.spark
        docs = spark.read.parquet(self.docs_path)
        gold = spark.read.parquet(self.gold_path)
        g1 = gold.select(F.col("doc_id").alias("doc_id_1"), F.col("cluster_id").alias("c1"))
        g2 = gold.select(F.col("doc_id").alias("doc_id_2"), F.col("cluster_id").alias("c2"))

        def labeler(pairs):
            return pairs.join(g1, "doc_id_1").join(g2, "doc_id_2").select(
                "doc_id_1", "doc_id_2", (F.col("c1") == F.col("c2")).cast("int").alias("label"))

        walls = []
        tracer.round = 0
        current = tracer.begin("feedback.round")

        def sink(clusters):
            # write the round's clusters where a labeler would read them
            nonlocal current
            with tracer.span("sink"):
                clusters.write.mode("overwrite").parquet(self.fb_path)
            tracer.end(current)
            walls.append(current["end"] - current["start"])
            if tracer.round == 0:
                self.digest("feedback round 0", self.fb_path)
            tracer.round += 1
            current = tracer.begin("feedback.round")

        # round 0 is counted by ledger.run; a failing loop fails the rest
        self.ledger.attempted += FEEDBACK_ROUNDS
        ok, res = self.ledger.run("feedback loop", run_feedback_loop, docs,
                                  batch_labeler=labeler, config=CONFIG,
                                  max_rounds=FEEDBACK_ROUNDS,
                                  pairs_per_round=PAIRS_PER_ROUND, metric_fn=sink)
        current["name"] = "feedback.tail"  # loop exit after the last round
        tracer.end(current)
        tracer.round = None
        if not ok:
            self.ledger.failures += ["feedback round not reached"] * (
                FEEDBACK_ROUNDS - len(walls))
            return None
        self.record["feedback_round_walls_s"] = walls
        self.record["touched_blocks"] = len(res["state"].touched_blocks)
        return res

    # -- checks and quality ------------------------------------------------

    def tau_edges(self, scored) -> list:
        edge = F.col("dist") <= (1.0 - CONFIG.tau)
        return [(r[0], r[1]) for r in
                scored.where(edge).select("doc_id_1", "doc_id_2").collect()]

    def oracle_gate(self) -> int:
        f1 = checks.oracle_slice_f1(self.spark, self.seed, CONFIG)
        self.record["oracle_slice_f1"] = f1
        return int(f1 < checks.ORACLE_F1_GATE)

    def document_check(self) -> None:
        spark = self.spark
        self.ledger.check("every doc once, spans unchanged", lambda: checks.document_problems(
            spark.read.parquet(self.docs_path), spark.read.parquet(self.out_path)))

    def run_checks(self, job_edges, fb_result) -> None:
        ledger = self.ledger
        if job_edges is not None:
            ledger.check("clusters = closure of the job's tau-edges",
                         lambda: checks.closure_mismatches(
                             self.assignments(self.out_path), job_edges))
        if fb_result is not None:
            ledger.check("feedback clusters = closure of its tau-edges",
                         lambda: checks.closure_mismatches(
                             self.assignments(self.fb_path), self.tau_edges(fb_result["scored"])))
        ledger.check("partition digest identical across repeats",
                     lambda: len({d for _label, d in self.digests}) - 1)


    def quality(self) -> None:
        pred = self.spark.read.parquet(self.out_path).select("doc_id", "cluster_id")
        gold = self.spark.read.parquet(self.gold_path)
        t0 = time.perf_counter()
        ok_b3, b3 = self.ledger.run("b3", metrics.b3, pred, gold)
        ok_pw, pw = self.ledger.run("pairwise_cluster_prf", metrics.pairwise_cluster_prf,
                                    pred, gold)
        self.record["metrics_wall_s"] = time.perf_counter() - t0
        if ok_b3:
            self.samples["b3_f1"] = [b3["f1"]]
        if ok_pw:
            self.samples["pairwise_f1"] = [pw["f1"]]

    # -- the protocol ------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        self.mark("session")
        try:
            # the cut shapes the workload; it is the benchmark's, not set-up
            self.cut = self.hot_cut()
            self.mark("hot block cut")
            reps = [self.timed(f"set-up {i}", self.set_up) for i in range(SETUP_REPS)]
            self.samples["setup_s"] = [session_s + r for r in reps if r is not None]
            # the gold partition is the benchmark's answer key, not user set-up
            self.corpus()[1].write.mode("overwrite").parquet(self.gold_path)
            n_docs = self.spark.read.parquet(self.docs_path).count()
            self.record.update(docs=n_docs, session_start_s=session_s)
            self.mark("set-up")

            cold = self.timed("cold job", self.er_job)
            if cold is not None:
                self.samples["cold_job_s"] = [cold]
                self.digest("cold job", self.out_path)
            # The untimed units run between the warm jobs, so the samples
            # span more of the run and a short host slowdown (the host's
            # speed drifts by ~15% over 5-30 s) touches fewer of them.
            between = [
                lambda: self.ledger.check("pairwise F1 vs oracle >= 0.99", self.oracle_gate),
                self.document_check,
                self.quality,
            ]
            warm: list = []
            t_warm = time.perf_counter()
            while len(warm) < MIN_WARM_JOBS or time.perf_counter() - t_warm < self.seconds:
                label = f"warm job {len(warm)}"
                warm.append(self.timed(label, self.er_job))
                if warm[-1] is not None:
                    self.digest(label, self.out_path)
                if between:
                    between.pop(0)()
            self.samples["warm_job_s"] = [w for w in warm if w is not None]
            self.samples["docs_per_s"] = [n_docs / w for w in self.samples["warm_job_s"]]
            self.mark("cold and warm jobs, gate, quality")

            job_edges = fb = None
            if self.trace:
                tracer = tracing.Tracer(self.spark, f"{self.workload}-{self.seed}", CONFIG.tau)
                with tracer.patched():
                    job_root = tracer.begin("job")
                    traced = self.timed("traced job", self.er_job, tracer)
                    tracer.end(job_root)
                    if traced is not None:
                        self.digest("traced job", self.out_path)
                        job_edges = tracer.cc_edges
                    fb_root = tracer.begin("feedback")
                    fb = self.feedback(tracer)
                    tracer.end(fb_root)
                self.mark("traced job and feedback")
            self.run_checks(job_edges, fb)
            self.mark("checks")
            self.record["environment"] = checks.environment(self.spark, self.seed, ROOT)
            self.record["peak_rss_mb"] = checks.peak_rss_mb(self.spark)
        finally:
            self.stop_session()
            self.mark("stop")
        if not self.trace:
            return {k: statistics.median(v) for k, v in self.samples.items() if v}
        tracer.write(os.path.join(self.work, "spans.json"))
        out = tracing.layer_metrics(
            tracer, tracing.read_event_log(self.events), job_root, fb_root,
            statistics.median(self.samples["warm_job_s"] or [0.0]))
        walls = self.record.get("feedback_round_walls_s") or [0.0]
        out.update({
            "feedback.first_clusters_s": walls[0],
            "feedback.round_s": statistics.median(walls[1:] or [0.0]),
            "feedback.touched_blocks": self.record.get("touched_blocks", 0),
            "metrics.wall_s": self.record.get("metrics_wall_s", 0.0),
            "process.peak_rss_mb": self.record["peak_rss_mb"],
        })
        return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the warm-job window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--entities", type=int, default=None,
                   help="override the workload's entity count (quick tries, tests)")
    args = p.parse_args(argv)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.entities)
    values = bench.run()
    units = PER_LAYER if args.trace else END_TO_END
    ledger = bench.ledger
    missing = [k for k in units if k not in values]
    correct = not ledger.failures and not missing
    samples = {k: {"n": len(v), "values": v} for k, v in bench.samples.items()}
    bench.record.update(
        workload=args.workload, trace=args.trace, seconds=args.seconds,
        entities=bench.spec["entities"], steal_pct=bench.steal, phases=bench.phases,
        samples=samples, digests=bench.digests, failures=ledger.failures,
        missing=missing, error_rate=len(ledger.failures) / max(ledger.attempted, 1),
    )
    with open(os.path.join(bench.work, "record.json"), "w") as fh:
        json.dump(bench.record, fh, indent=1, default=str)
    for k, unit in units.items():
        n = samples.get(k, {"n": 1})["n"]
        print(f"{k:28s} {values.get(k, float('nan')):14.6g} {unit:7s} n={n}")
    print(f"{'error_rate':28s} {bench.record['error_rate']:14.6g} {'ratio':7s} "
          f"n={ledger.attempted}")
    print("RECORD " + json.dumps({k: bench.record.get(k) for k in (
        "environment", "docs", "steal_pct", "phases", "samples", "failures", "missing")},
        default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
