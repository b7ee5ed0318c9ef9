"""Building a batch key's DataFrame launches no Spark job.

A DataFrame is a plan; building it should cost planning only. The
census below builds every non-streaming key under its own job group and
counts the jobs each build ran (``statusTracker``), so a loader that
infers a schema per call, an eager ``count()`` or a driver-side
``collect()`` during construction shows up as a failure naming the key.
Keys that genuinely need driver feedback while they build are listed in
``BUILD_JOBS_ALLOWED`` with the reason, and are not built here. Keys
that write their artifact on first use (``WRITE_ONCE``) are built
twice, and only the second build is counted.
"""

from __future__ import annotations

import pytest

from data_webhooks_spark import registry
from data_webhooks_spark.io import Tables
from data_webhooks_spark.schemas import TABLE_NAMES

BUILD_JOBS_ALLOWED: dict[str, str] = {
    # iterative fits and loops: each step reads the last one's result
    "ann_ivf": "Spark ML KMeans fit of the coarse quantizer",
    "ann_ivf_pq": "take(1) empty-corpus guard before the KMeans training; "
    "also trains and writes its index once per fixture",
    "embed_pq": "one Spark ML KMeans fit per subspace",
    "dedup_cluster": "connected-components contraction rounds, each "
    "checkpointed and tested for convergence on the driver",
    "graph_pagerank": "eager pins (count) of the edge and degree tables the "
    "sweeps reuse",
    "graph_triangle_count": "eager pins (count) of the adjacency tables its "
    "four joins reuse",
    # driver-side sizing or boundaries read before the plan is built
    "tpch_q5": "orders count probe that decides the broadcast side",
    "join_multiway": "orders count probe that decides the broadcast side",
    "dedup_embedding": "sizes its LSH tables from the corpus count",
    "embed_pair_mining": "collects the anchor vectors it broadcasts",
    "agg_histogram_equidepth": "prefix_sum collects its range-shard boundaries",
    "drift_ks_test": "prefix_sum collects its range-shard boundaries",
    "drift_psi": "prefix_sum collects its range-shard boundaries",
    "dq_observe": "the Observation API needs an action to report its metrics",
    "scan_parquet_evolve": "mergeSchema unions the footers of its two "
    "schema versions: the inference is the operator",
}

# Keys that write an artifact once per fixture (io.derived) or register
# tables once per session, then read them back with a supplied or
# memoized schema: the first build may launch the jobs that write, the
# second must launch none.
WRITE_ONCE = (
    "scan_orc",
    "scan_xml",
    "sink_partitioned_parquet",
    "scan_partition_pruned_dynamic",
    "join_bucketed",
    "compact_files",
    "zorder_layout",
    "scan_parquet_bloom",
    "scan_snapshot_manifest",
    "sink_snapshot_commit",
)


def _jobs_by_group(spark, groups: list[str]) -> dict[str, int]:
    """Jobs per group, once the listener bus has delivered every
    event posted so far (statusTracker reads the listener's store)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return {g: len(st.getJobIdsForGroup(g)) for g in groups}


def _build_in_group(spark, gid: str, build):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        return build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="module")
def warm_memo(spark, sf_dir):
    """Touch each fixture table once, so the census measures builds,
    not the one schema inference per table the memo pays first."""
    t = Tables(spark, sf_dir)
    for name in TABLE_NAMES:
        getattr(t, name)


def test_second_table_access_launches_no_job(spark, sf_dir, warm_memo):
    gid = "build-jobs-lineitem"
    df = _build_in_group(spark, gid, lambda: Tables(spark, sf_dir).lineitem)
    assert df.columns
    assert _jobs_by_group(spark, [gid]) == {gid: 0}


def test_building_batch_keys_launches_no_job(spark, sf_dir, warm_memo):
    qs = registry.queries()
    batch = [
        k for k, fn in qs.items()
        if not fn.__module__.startswith("data_webhooks_spark.streaming.")
    ]
    assert set(BUILD_JOBS_ALLOWED) | set(WRITE_ONCE) <= set(batch)
    groups = {}
    for k in batch:
        if k in BUILD_JOBS_ALLOWED or k in WRITE_ONCE:
            continue
        groups[k] = f"build-jobs-{k}"
        _build_in_group(spark, groups[k], lambda: qs[k](spark, sf_dir))
    jobs = _jobs_by_group(spark, list(groups.values()))
    launched = {k: jobs[g] for k, g in groups.items() if jobs[g]}
    assert not launched, f"keys that launch jobs while they build: {launched}"


def test_second_build_of_write_once_keys_launches_no_job(spark, sf_dir, warm_memo):
    qs = registry.queries()
    for k in WRITE_ONCE:
        qs[k](spark, sf_dir)
    groups = {k: f"build-jobs-again-{k}" for k in WRITE_ONCE}
    for k, g in groups.items():
        _build_in_group(spark, g, lambda: qs[k](spark, sf_dir))
    jobs = _jobs_by_group(spark, list(groups.values()))
    launched = {k: jobs[g] for k, g in groups.items() if jobs[g]}
    assert not launched, f"keys that launch jobs on their second build: {launched}"
