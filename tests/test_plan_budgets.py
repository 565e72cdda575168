"""Cost budgets that do not depend on timing: Spark job counts and
py4j round trips.

Wall time on a shared host swings by tens of percent; these counts do
not. For a fixed plan over fixed data a query runs an exact number of
Spark jobs, and building a lazy plan sends an exact number of commands
from the Python driver to the JVM. A lost fusion (an extra probe or
collect job per iteration) or a hot path rebuilt one Column-API call
at a time fails here instead of hiding in the noise."""

from __future__ import annotations

import threading

import pytest

from lynx_spark.operators import similarity as sim
from lynx_spark.plans.analytics import REGISTRY

SF = "/root/testdata/sf0.01"

#: Spark jobs of one warm call (the kNN-graph cache entries of an
#: identical earlier call are reused, as in a long-lived session).
#: q140: per half-step the checkpoint job also observes the L1 total;
#: q255: per hop the checkpoint job also observes the row count.
JOB_BUDGETS = {
    "q83_knn_graph": 3,
    "q140_hits": 17,
    "q255_bfs_reachability": 27,
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_warm_call_job_count_exact(spark, name):
    sc = spark.sparkContext
    REGISTRY[name].fn(spark, SF).collect()
    group = f"job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].fn(spark, SF).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == JOB_BUDGETS[name]


def test_knn_graph_build_py4j_commands(spark, monkeypatch):
    """Building the kNN-graph plan (no action) stays a few hundred
    py4j commands: the planes literal and the scoring, bucket, band
    and window expressions cross as SQL text, not as ~6,500 per-element
    Column-API calls. py4j's garbage-collection deletes are left out
    (they go out whenever Python's GC runs), and only this thread's
    commands count."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    sim.knn_graph(emb, "vec_id", "embedding", k=5)
    monkeypatch.undo()
    assert 0 < sent[0] < 600, f"{sent[0]} py4j commands"
