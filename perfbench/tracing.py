"""The traced run: a span around each layer's public function, one Spark
job group per span, and per-layer figures from the Spark event log.

Layers are module names. ``Tracer.patched()`` replaces the names that
``pipeline`` and ``operators.feedback`` call (``extract_mentions``,
``within_block_pairs``, ...) with wrappers that open a span, tag the
span's Spark jobs with its job group, call the original function and
materialise its output with ``localCheckpoint``, so each layer's work
runs inside its own span. Only the traced run patches; the timed runs
call the product code as shipped. Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ent_res_feedback_spark import pipeline
from ent_res_feedback_spark.operators import feedback

GROUP = "spark.jobGroup.id"

#: layers of the documents -> clusters job, in pipeline order
JOB_LAYERS = ("mentions", "pairs", "constraints", "features", "scoring", "cc", "sink")


def _n(col):
    return F.coalesce(F.sum(col.cast("int")), F.lit(0))


class Tracer:
    """Spans (id, name, parent, run, start, end, counts) of one run."""

    def __init__(self, spark, run_id: str, tau: float):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.tau = tau
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.round: int | None = None  # current feedback round, if any
        self.cc_edges: list = []  # input edges of the latest traced CC call

    def group(self, sp: dict) -> str:
        return f"{self.run_id}:{sp['id']}"

    def begin(self, name: str, **attrs) -> dict:
        sp = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._open[-1]["id"] if self._open else None,
            "round": self.round, "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(sp)
        self._open.append(sp)
        self.sc.setLocalProperty(GROUP, self.group(sp))
        return sp

    def end(self, sp: dict) -> None:
        sp["end"] = time.time()
        assert self._open[-1] is sp, "spans must close innermost first"
        self._open.pop()
        self.sc.setLocalProperty(
            GROUP, self.group(self._open[-1]) if self._open else None
        )

    @contextmanager
    def span(self, name: str, **attrs):
        sp = self.begin(name, **attrs)
        try:
            yield sp
        finally:
            self.end(sp)

    def _wrap(self, layer, fn, observe=(), before=None):
        def traced(*args, **kwargs):
            # counts that need their own job are taken outside the span
            pre = before(*args, **kwargs) if before else {}
            with self.span(layer, **pre) as sp:
                out = fn(*args, **kwargs)
                obs = Observation()
                done = out.observe(
                    obs, F.count(F.lit(1)).alias("rows"), *observe
                ).localCheckpoint()
                sp.update(obs.get)
            done._persisted_deps = getattr(out, "_persisted_deps", [])
            return done

        return traced

    @contextmanager
    def patched(self):
        """Route the pipeline's and the feedback loop's layer calls
        through traced wrappers; restore the originals on exit."""
        edge = (1.0 - F.col("score")) <= F.lit(1.0 - self.tau)
        components = (_n(F.col("id") == F.col("component")).alias("components"),)

        # the counting hooks run only in the documents -> clusters job,
        # so they add no jobs to the feedback rounds
        def salted_blocks(df, key="block_key", salt_threshold=None, **_):
            if self.round is not None or salt_threshold is None:
                return {}
            big = df.groupBy(key).count().where(F.col("count") > salt_threshold)
            return {"salted_blocks": big.count()}

        def edges_in(edges, *_, **__):
            # kept for the closure check of the traced job's clusters
            self.cc_edges = [(r[0], r[1]) for r in edges.select("src", "dst").collect()]
            return {"edges_in": len(self.cc_edges)}

        table = [
            (pipeline, "extract_mentions", "mentions", {}),
            (pipeline, "within_block_pairs", "pairs", dict(before=salted_blocks)),
            (pipeline, "apply_constraints", "constraints",
             dict(observe=(F.count("constraint_dist").alias("overrides"),))),
            (pipeline, "mention_pair_features", "features", {}),
            (pipeline, "score_pairs", "scoring",
             dict(observe=(_n(edge).alias("edges"),))),
            (pipeline, "connected_components", "cc",
             dict(observe=components, before=edges_in)),
            (feedback, "connected_components", "cc", dict(observe=components)),
            (feedback, "select_uncertain_pairs", "feedback.select", {}),
            (feedback, "scored_pair_distances", "feedback.rescore", {}),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _l, _k in table]
        try:
            for mod, name, layer, kw in table:
                setattr(mod, name, self._wrap(layer, getattr(mod, name), **kw))
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, task seconds, shuffle write and spill, and the
    task durations of each stage."""
    stage_group: dict = {}
    groups: dict = {}

    def of(g):
        return groups.setdefault(g, {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
                                     "spill_mb": 0.0, "stages": {}})

    # Spark 4 writes rolling logs: a directory of events_* files per app
    for path in sorted(glob.glob(log_dir + "/**/events_*", recursive=True)):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                props = ev.get("Properties") or {}
                if kind == "SparkListenerJobStart":
                    of(props.get(GROUP))["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, props.get(GROUP))
                elif kind == "SparkListenerStageSubmitted":
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(GROUP)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = of(stage_group.get(sid))
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    g["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        / 1e6
                    )
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    g["stages"].setdefault(sid, []).append(dur)
    return groups


# -- per-layer metrics -------------------------------------------------------


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(tracer: Tracer, log: dict, job_root: dict, fb_root: dict | None,
                  untraced_wall_s: float) -> dict:
    """Per-layer figures of one traced job and one traced feedback loop."""
    spans = tracer.spans
    kids: dict = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)

    def below(root):
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp["id"], []))
        return out

    def stats(sps, key):
        return sum(log.get(tracer.group(sp), {}).get(key, 0) for sp in sps)

    def dur(sps):
        return sum(sp["end"] - sp["start"] for sp in sps)

    def total(sps, key):
        return sum(sp.get(key) or 0 for sp in sps)

    job = below(job_root)
    named = {layer: [sp for sp in job if sp["name"] == layer] for layer in JOB_LAYERS}
    m: dict = {}
    for layer in JOB_LAYERS:
        m[f"{layer}.wall_s"] = dur(named[layer])
        m[f"{layer}.task_s"] = stats(named[layer], "task_s")
        m[f"{layer}.rows_out"] = total(named[layer], "rows")

    pair_stages = [
        d for sp in named["pairs"]
        for d in log.get(tracer.group(sp), {}).get("stages", {}).values()
    ]
    join_stage = max(pair_stages, key=sum, default=[])
    pairs = m["pairs.rows_out"]
    overrides = total(named["constraints"], "overrides")
    edges = total(named["scoring"], "edges")
    m.update({
        "pairs.salted_blocks": total(named["pairs"], "salted_blocks"),
        "pairs.shuffle_write_mb": stats(named["pairs"], "shuffle_write_mb"),
        "pairs.spill_mb": stats(named["pairs"], "spill_mb"),
        "pairs.task_skew": (max(join_stage) / statistics.median(join_stage)
                            if join_stage and statistics.median(join_stage) > 0 else 0.0),
        "constraints.overrides": overrides,
        "constraints.pass_ratio": (pairs - overrides) / pairs if pairs else 0.0,
        "features.rows_per_task_s": (m["features.rows_out"] / m["features.task_s"]
                                     if m["features.task_s"] else 0.0),
        "scoring.edges": edges,
        "scoring.edge_ratio": edges / m["scoring.rows_out"] if m["scoring.rows_out"] else 0.0,
        "cc.jobs": stats(named["cc"], "jobs"),
        "cc.edges_in": total(named["cc"], "edges_in"),
        "cc.components": total(named["cc"], "components"),
        "sink.rows": m["sink.rows_out"],
        "sink.bytes_written": total(named["sink"], "bytes_written"),
        "spark.jobs": stats(job, "jobs"),
        "spark.shuffle_write_mb": stats(job, "shuffle_write_mb"),
        "spark.spill_mb": stats(job, "spill_mb"),
        "trace.overhead_s": dur([job_root]) - untraced_wall_s,
    })

    rounds = [sp for sp in below(fb_root) if sp["name"] == "feedback.round"] if fb_root else []
    first = [r for r in rounds if r["round"] == 0]
    later = [r for r in rounds if r["round"] >= 1]

    def per_round(fn):
        return _median([fn(below(r)) for r in later])

    def named_in(sps, *names):
        return [sp for sp in sps if sp["name"] in names]

    full = total(named_in(below(first[0]), "feedback.rescore"), "rows") if first else 0
    rescored = per_round(lambda sps: total(named_in(sps, "feedback.rescore"), "rows"))
    m.update({
        "feedback.select_s": per_round(lambda sps: dur(named_in(sps, "feedback.select"))),
        "feedback.rescore_s": per_round(lambda sps: dur(named_in(sps, "feedback.rescore"))),
        "feedback.cluster_s": per_round(lambda sps: dur(named_in(sps, "cc", "sink"))),
        "feedback.rescored_pairs": rescored,
        "feedback.rescore_ratio": rescored / full if full else 0.0,
        "feedback.jobs_per_round": per_round(lambda sps: stats(sps, "jobs")),
    })
    return m
