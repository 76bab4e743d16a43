"""Tests of the benchmark itself:

    python3 -m pytest perfbench -q -p no:cacheprovider

The tiny-size runs start the benchmark as a subprocess, one Spark session
each (one to two minutes apiece). The check tests feed the correctness
checks deliberately corrupted outputs.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import run as bench  # noqa: E402


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(bench.WORKLOADS))
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--entities", "120")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    expected = bench.PER_LAYER if trace else bench.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    # every metric is printed with its sample count, plus the error rate
    for name in [*expected, "error_rate"]:
        assert any(line.startswith(name + " ") and " n=" in line
                   for line in p.stdout.splitlines()), name


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "er_uniform", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# -- the checks on corrupted outputs ----------------------------------------

PARTITION = [("d1", "d1"), ("d2", "d1"), ("d3", "d3")]
EDGES = [("d1", "d2")]


def test_closure_holds_for_the_closure():
    assert checks.closure_mismatches(PARTITION, EDGES) == 0


def test_closure_flags_a_split_cluster():
    split = [("d1", "d1"), ("d2", "d2"), ("d3", "d3")]
    assert checks.closure_mismatches(split, EDGES) > 0


def test_closure_flags_a_merged_cluster():
    merged = [("d1", "d1"), ("d2", "d1"), ("d3", "d1")]
    assert checks.closure_mismatches(merged, EDGES) > 0


def test_digest_ignores_labels_but_not_membership():
    relabelled = [("d1", "x"), ("d2", "x"), ("d3", "y")]
    split = [("d1", "d1"), ("d2", "d2"), ("d3", "d3")]
    assert checks.partition_digest(relabelled) == checks.partition_digest(PARTITION)
    assert checks.partition_digest(split) != checks.partition_digest(PARTITION)


@pytest.fixture(scope="module")
def corpus():
    from pyspark.sql import functions as F

    from ent_res_feedback_spark.corpus import spark_corpus
    from ent_res_feedback_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = ROOT
    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    docs, _gold = spark_corpus(spark, 20, seed=1)
    docs = docs.cache()
    clusters = docs.withColumn("cluster_id", F.col("doc_id"))
    yield docs, clusters
    spark.stop()


def test_documents_check_passes_on_an_intact_output(corpus):
    docs, clusters = corpus
    assert checks.document_problems(docs, clusters) == {
        "dropped": 0, "duplicated": 0, "extra": 0, "altered": 0}


def test_documents_check_flags_a_dropped_doc(corpus):
    docs, clusters = corpus
    victim = docs.first()["doc_id"]
    bad = clusters.where(clusters.doc_id != victim)
    assert checks.document_problems(docs, bad)["dropped"] == 1


def test_documents_check_flags_a_duplicated_doc(corpus):
    docs, clusters = corpus
    bad = clusters.unionByName(clusters.limit(1))
    assert checks.document_problems(docs, bad)["duplicated"] == 1


def test_documents_check_flags_an_altered_span(corpus):
    from pyspark.sql import functions as F

    docs, clusters = corpus
    victim = docs.first()["doc_id"]
    bad = clusters.withColumn(
        "spans",
        F.when(F.col("doc_id") == victim, F.reverse("spans")).otherwise(F.col("spans")),
    )
    assert checks.document_problems(docs, bad)["altered"] == 1
