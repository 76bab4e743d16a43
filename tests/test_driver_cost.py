"""Driver-cost guard: the py4j round trips one documents -> clusters job
makes while ``run_pipeline`` builds its plan (and materialises CC) stay
at most half of ``BEFORE``, the count with Python call-site capture on
and the mention sets re-derived per pair.

Counted on the calling thread only: the py4j finalizer thread's
garbage-collection messages (~0.7-1.3k per job) depend on when Python's
GC runs, not on the plan.
"""

import threading

import pyspark.errors.utils as pyspark_errors
from py4j.clientserver import ClientServerConnection

from ent_res_feedback_spark.corpus import CorpusConfig, corpus_to_spark, generate_corpus
from ent_res_feedback_spark.pipeline import ERConfig, run_pipeline

#: calling-thread round trips of this job with call-site capture on and
#: per-pair re-derivation (5108-5157 over three runs; 6.2-6.4k with the
#: finalizer thread)
BEFORE = 5108


def test_run_pipeline_round_trips_halved(spark, monkeypatch):
    documents, _, _ = generate_corpus(CorpusConfig(n_entities=10, seed=5))
    docs = corpus_to_spark(spark, documents)
    run_pipeline(docs, ERConfig())  # warm: first-use class loads and caches

    caller = threading.get_ident()
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == caller:
            sent.append(1)
        return send(self, command)

    # pyspark caches the call-site setting per process on first use; make
    # it re-read the session's conf, as a fresh job process does
    monkeypatch.setattr(pyspark_errors, "_enable_debugging_cache", None)
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    run_pipeline(docs, ERConfig())
    monkeypatch.undo()

    assert 0 < len(sent) <= BEFORE // 2, len(sent)
