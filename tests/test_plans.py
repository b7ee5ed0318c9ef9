"""Physical-plan assertions — the 100 TB design gate (SURVEY §4).

Correctness tests prove the operators compute the right answer at
fixture scale; these tests pin the *plan shapes* that make them hold
at cluster scale: filters reach the parquet scan, scans read only the
columns a query needs, small dimensions broadcast instead of
shuffling the fact side, top-k plans as TakeOrderedAndProject, and
nothing silently degrades to a cartesian product. A regression in any
of these is invisible on 60k rows and fatal on 100 TB — hence plan
tests, not timing tests.

Plans are inspected pre-execution (AdaptiveSparkPlan's initial plan);
AQE can only improve on what's asserted here (e.g. demote to fewer
shuffle partitions), never un-broadcast an asserted broadcast.
"""

from __future__ import annotations

import pytest

from data_webhooks_spark import registry


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return registry.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, qs):
    plan = plan_of(qs["filter_simple"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(value,90.0)" in plan


def test_scan_prunes_columns(spark, sf_dir, qs):
    # project touches 5 of lineitem's 16 columns; the scan must not
    # read the rest.
    plan = plan_of(qs["project"](spark, sf_dir))
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    cols = scan_line.split("FileScan parquet [", 1)[1].split("]", 1)[0].split(",")
    assert len(cols) == 5, cols
    assert "l_comment" not in scan_line


def test_agg_partial_before_exchange(spark, sf_dir, qs):
    # map-side combine: partial_sum below the exchange means the
    # shuffle carries per-group partials, not raw rows.
    plan = plan_of(qs["agg_groupby"](spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_multiway_join_broadcasts_dims(spark, sf_dir, qs):
    # Region-first star plan (r5): every dim broadcasts, and BOTH fact
    # sides are semi-filtered by their broadcast ASIA dim BEFORE the
    # fact-fact exchange — lineitem via l_suppkey, orders via
    # o_custkey — so only ~1/|regions| of each fact shuffles.
    plan = plan_of(qs["join_multiway"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    bhj_keys = "".join(
        l for l in plan.splitlines() if "BroadcastHashJoin" in l
    )
    assert "l_suppkey" in bhj_keys  # lineitem prefiltered by ASIA suppliers
    assert "o_custkey" in bhj_keys  # orders prefiltered by ASIA customers
    # at most the slim fact-fact join (2) + final agg (1) exchanges;
    # AQE demotes the fact-fact join to broadcast at fixture scale.
    assert plan.count("Exchange hashpartitioning") <= 3


def test_equi_join_no_cartesian(spark, sf_dir, qs):
    for key in ["join_inner_equi", "join_left_outer", "join_left_semi", "join_left_anti"]:
        plan = plan_of(qs[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_topk_plans_take_ordered(spark, sf_dir, qs):
    plan = plan_of(qs["topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_narrow_ops_do_not_shuffle(spark, sf_dir, qs):
    for key in ["project", "filter_compound", "str_funcs", "math_funcs"]:
        plan = plan_of(qs[key](spark, sf_dir))
        assert "Exchange" not in plan, key


def test_scalar_ops_stay_in_codegen(spark, sf_dir, qs):
    # No Python evaluation in built-in scalar pipelines: BatchEvalPython
    # (row-at-a-time UDF) must never appear outside the udf_* keys.
    for key in ["math_funcs", "str_funcs", "date_funcs", "json_get", "arr_higher_order"]:
        plan = plan_of(qs[key](spark, sf_dir))
        assert "BatchEvalPython" not in plan, key


def test_window_single_exchange(spark, sf_dir, qs):
    # One hash-partition exchange on the partition key, then both
    # window frames run on the same distribution — no second shuffle.
    plan = plan_of(qs["win_ranking"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_cosine_broadcasts_query_side(spark, sf_dir, qs):
    # brute-force top-k: the 20-vector query side broadcasts; the
    # corpus is never replicated or shuffled.
    plan = plan_of(qs["sim_cosine_brute"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_read_prunes_partitions(spark, sf_dir, qs):
    # the day filter must prune whole partition directories before any
    # file I/O — the mechanism that bounds time-windowed queries on a
    # 100 TB date-partitioned table.
    plan = plan_of(qs["sink_partitioned_parquet"](spark, sf_dir))
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    clause = pf.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in clause and ">= 2024-01-02" in clause


def test_bucketed_join_has_no_shuffle(spark, sf_dir, qs):
    # co-located SortMergeJoin on pre-bucketed tables: the only
    # exchange in the plan belongs to the final aggregation.
    plan = plan_of(qs["join_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_aqe_splits_skewed_join(spark, sf_dir):
    """The skew story in SCALE.md is AQE's runtime skew-join split —
    prove the mechanism actually fires: fold 80% of a 1M-row shuffle
    onto one key (a hot partition ~50x the median), join against a
    non-broadcastable side, and require the final adaptive plan to
    mark the join skew=true with a skewed shuffle read. Thresholds are
    scaled to fixture volume; on a cluster the defaults (256MB) play
    the same role."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").crossJoin(
            spark.range(10).select(F.col("id").alias("_rep"))
        )
        skewed = ev.withColumn(
            "k",
            F.when(F.col("user_id") % 10 < 8, F.lit(0)).otherwise(F.col("user_id")),
        )
        dim = spark.range(2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = skewed.join(dim, "k")
        n = j.count()
        j.collect()
        plan = plan_of(j)
        assert "SortMergeJoin(skew=true)" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dedup_embedding_is_vectorized(spark, sf_dir, qs):
    """Distributed tiled all-pairs: vectors are packed into block rows
    (FlatMapGroupsInPandas), tile pairs come from a broadcast join over
    the B-row packed table (B rows move, not n), and the matmul kernel
    is one MapInPandas. No cartesian product over raw vectors, and no
    driver-side collect anywhere in the plan."""
    plan = plan_of(qs["dedup_embedding"](spark, sf_dir))
    assert "MapInPandas" in plan  # BLAS kernel
    assert "FlatMapGroupsInPandas" in plan  # block packing
    assert "BroadcastNestedLoopJoin" in plan  # B-row tile-pair join
    assert "CartesianProduct" not in plan


def test_band_join_is_hash_not_nested_loop(spark, sf_dir, qs):
    """The banded-bucket rewrite must plan an equi hash join with the
    BETWEEN as residual — a BroadcastNestedLoopJoin here is the O(n*m)
    shape that dies at scale."""
    plan = plan_of(qs["join_theta_range"](spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_sample_filter_is_row_local(spark, sf_dir, qs):
    """Hash sampling must not introduce any exchange — the decision is
    a per-row filter."""
    plan = plan_of(qs["sample_hash"](spark, sf_dir))
    assert "Exchange" not in plan


def test_tpch_q6_zero_shuffle_pushdown_scan(spark, sf_dir, qs):
    """Q6 is scan -> filter -> global agg: no exchange beyond the
    single-partition gather, and all three predicates must reach the
    parquet scan as data filters."""
    plan = plan_of(qs["tpch_q6"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    for c in ["l_shipdate", "l_discount", "l_quantity"]:
        assert c in scan.split("DataFilters", 1)[-1], c


def test_tpch_star_joins_broadcast_dims(spark, sf_dir, qs):
    """q3/q5: every dimension broadcasts; the lineitem fact side flows
    scan -> joins -> partial agg with exactly one hash exchange (the
    final aggregation). q3 additionally plans its top-10 as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    p3 = plan_of(qs["tpch_q3"](spark, sf_dir))
    assert p3.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p3 and "CartesianProduct" not in p3
    assert p3.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in p3

    # q5 is region-first since r5 (see test_multiway_join_broadcasts_
    # dims): dims broadcast AND both fact sides are prefiltered by
    # their broadcast ASIA dim before the fact-fact exchange.
    p5 = plan_of(qs["tpch_q5"](spark, sf_dir))
    assert p5.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in p5
    bhj5 = "".join(l for l in p5.splitlines() if "BroadcastHashJoin" in l)
    assert "l_suppkey" in bhj5 and "o_custkey" in bhj5
    assert p5.count("Exchange hashpartitioning") <= 3


def test_tpch_semi_anti_stay_existence_filters(spark, sf_dir, qs):
    """q4/q22: the EXISTS/NOT-EXISTS rewrites must plan as semi/anti
    joins, never materialize the match side as an inner join +
    distinct. q18's r4 rewrite dissolved its semi-join entirely — the
    HAVING>300 aggregate IS the final per-order sum — so its contract
    is now a SINGLE pass over the fact (one lineitem scan in the whole
    plan), which the last case pins."""
    for key, marker in [
        ("tpch_q4", "LeftSemi"),
        ("tpch_q22", "LeftAnti"),
    ]:
        plan = plan_of(qs[key](spark, sf_dir))
        assert marker in plan, f"{key}: expected {marker}"
        assert "CartesianProduct" not in plan
    q18 = plan_of(qs["tpch_q18"](spark, sf_dir))
    assert q18.count("lineitem.parquet") == 1, "q18 must scan the fact once"
    assert "CartesianProduct" not in q18


def test_event_paths_single_window_exchange(spark, sf_dir, qs):
    """Path matrix: one exchange for the user_id window, one for the
    (prev,curr) aggregation whose partials make the shuffled bytes
    negligible — and nothing else."""
    plan = plan_of(qs["event_paths"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan


def test_tpch_q21_no_cartesian_and_semi_joins(spark, sf_dir, qs):
    """The correlated EXISTS / NOT EXISTS pair must never plan as a
    CartesianProduct or per-row correlated execution — the shape that
    dies at 100 TB. Since the r12 single-pass rewrite the existence
    logic is per-order set cardinalities from ONE window (see
    test_tpch_q21_single_fact_shuffle_window for the full plan pin);
    this guard keeps the anti-pattern class extinct."""
    plan = plan_of(qs["tpch_q21"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "Window" in plan


def test_tpch_q2_window_min_and_broadcast_dims(spark, sf_dir, qs):
    """Q2's correlated minimum runs as ONE window over p_partkey (no
    correlated subquery re-execution) and the nation/region dims
    broadcast instead of shuffling the link side."""
    plan = plan_of(qs["tpch_q2"](spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_anti_join_exclusion(spark, sf_dir, qs):
    plan = plan_of(qs["tpch_q16"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q1_single_exchange_partial_agg(spark, sf_dir, qs):
    """Q1 is scan -> wide agg: map-side partial aggregation, exactly
    one shuffle carrying the 6 tiny group partials."""
    plan = plan_of(qs["tpch_q1"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_pipeline_text_prep_single_shuffle(spark, sf_dir, qs):
    """The composed prep pipeline must stay ONE plan with a single
    shuffle (the hash-partition window); a cache or extra exchange
    means the composition broke."""
    plan = plan_of(qs["pipeline_text_prep"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "InMemoryTableScan" not in plan


def test_lateral_decorrelates_to_ranked_join(spark, sf_dir, qs):
    """The correlated LATERAL ORDER BY/LIMIT must decorrelate into the
    topn_per_group shape — a window rank + equi-join — never a per-row
    subquery or nested loop."""
    plan = plan_of(qs["join_lateral"](spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan  # the decorrelated per-key rank


def test_scd2_single_dimension_scan(spark, sf_dir, qs):
    """dim_scd2's snapshots explode from one struct array: exactly one
    customer scan in the plan (a union formulation would scan 3x)."""
    plan = plan_of(qs["dim_scd2"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1


def test_gapfill_two_fact_passes(spark, sf_dir, qs):
    """ts_resample_gapfill reads events exactly twice (grid derivation
    + rollup join side), not once per derived input."""
    plan = plan_of(qs["ts_resample_gapfill"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 2


def test_heavy_hitters_candidates_broadcast(spark, sf_dir, qs):
    """The MG candidate set must broadcast (map-side semi filter before
    the recount shuffle) — shipping the full token stream to a shuffle
    keyed by the unbounded vocabulary is the anti-pattern."""
    plan = plan_of(qs["text_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_ewma_fold_stays_in_codegen(spark, sf_dir, qs):
    """The weighted fold is zip_with/aggregate built-ins — no Python
    eval anywhere in the plan."""
    plan = plan_of(qs["ts_ewma"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_profile_approx_has_no_expand(spark, sf_dir, qs):
    """The exact profile pays an Expand (one duplicated row-stream per
    profiled column — inherent to multi-column exact countDistinct in
    one pass); the scale-default approx twin must plan a plain
    single-pass aggregate with HLL sketch state and NO Expand."""
    assert "Expand" in plan_of(qs["profile_table"](spark, sf_dir))
    assert "Expand" not in plan_of(qs["profile_table_approx"](spark, sf_dir))


def test_pack_sequences_sharded_window(spark, sf_dir, qs):
    """The heavy running-sum window must partition by (lang, shard),
    never by lang alone — a per-lang window serializes most of a
    100 TB corpus through a handful of partitions (r4 verdict watch
    item). The tiny offsets window (langs x shards rows) may key by
    lang."""
    plan = plan_of(qs["pack_sequences"](spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    heavy = [s for s in specs if "doc_id" in s]
    assert heavy, specs
    assert all("shard" in s for s in heavy), heavy


def test_drift_ks_no_global_window(spark, sf_dir, qs):
    """The KS ECDF cumsum is a range-sharded two-pass prefix sum (r8
    verdict weak flag, closed in r9): every window in the plan must
    carry the pid partition spec — no single-partition window remains
    even for an unbounded-cardinality metric."""
    plan = plan_of(qs["drift_ks_test"](spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("pid" in s for s in specs), specs


def test_no_unbounded_following_frames(spark, sf_dir, qs):
    """Spark recomputes [currentRow, unboundedFollowing] frames from
    scratch per row — quadratic in partition/gap length (r9 sweep H:
    a 596k-row NULL gap took >35 min; the reversed running form runs
    in seconds). Every forward-neighbor lookup must plan as a running
    UNBOUNDED PRECEDING frame over the reversed order; constant
    UNBOUNDED..UNBOUNDED frames (computed once per partition) stay
    allowed."""
    import re

    for key in ["ts_interpolate_linear", "join_asof_forward",
                "join_asof_nearest"]:
        plan = plan_of(qs[key](spark, sf_dir))
        bad = re.findall(
            r"specifiedwindowframe\(RowFrame, currentrow\$\(\),"
            r" unboundedfollowing\$\(\)\)",
            plan,
        )
        assert not bad, f"{key} still plans a growing following frame"


def test_vocab_coverage_no_global_window(spark, sf_dir, qs):
    """The vocabulary rank/cumsum is a range-partitioned two-pass
    prefix sum: every window in the plan must carry a partition spec
    (pid), so no 'No Partition Defined' single-partition window
    remains anywhere (r4 verdict watch item)."""
    plan = plan_of(qs["vocab_coverage"](spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("pid" in s for s in specs), specs


# Registry-wide plan lint: the 100 TB anti-pattern ratchet. Any NEW
# key that plans row-at-a-time Python, a cartesian product, or a
# nested-loop join fails this test until it is explicitly allowlisted
# with a bounded-side justification.
ROW_PYTHON_OK = {
    "udf_python",  # the row-UDF escape hatch — demonstrating the slow path IS the key
    "udtf_python",  # Python UDTFs evaluate row-wise by design
}
NESTED_LOOP_OK = {
    # 1-row scalar attaches (aggregate crossJoin'd onto a result)
    "agg_hll_sketch", "agg_kll_quantile", "agg_theta_overlap",
    "compact_files", "dq_checks", "drift_ks_test", "drift_psi",
    "funnel_conversion", "text_tfidf", "text_unigram_logprob",
    "tpch_q11", "tpch_q22", "vocab_coverage", "zorder_layout",
    "agg_histogram_equidepth",  # 1-row decile edges onto scan + spine
    "text_top_terms",  # 1-row corpus-size scalar onto the tf rows (as text_tfidf)
    "agg_cms_freq",  # 1-row corpus total onto the ~|probes|-row output
    "analytics_rfm",  # 1-row quintile edges onto the per-user scan
    "graph_pagerank",  # 1-row (n, base) scalars onto the rank table per sweep
    "graph_triangle_count",  # 1-row x 1-row graph-profile scalar attaches
    "corpus_mixture",  # two 1-row scalar attaches (total tokens, Σ sqrt-share)
    "event_cooccurrence",  # 1-row distinct-user total onto ≤|types|² pairs
    "analytics_pareto",  # 1-row shard-boundary + grand-total scalars onto the user aggregate
    "dq_freshness",  # 1-row global-max-ts scalar onto the events scan
    "sample_mixture_target",  # 1-row capacity + 1-row kept-total scalars onto a 3-row domain table
    "text_bigram_logprob",  # 1-row vocab-size scalar onto the bigram rows (as text_tfidf)
    "text_collocations_pmi",  # 1-row (Nu, Nb) corpus-total scalar onto the surviving bigrams
    "split_kfold",  # 1-row grand-total scalar onto the k x |langs| cells
    "basket_lift",  # 1-row basket-total scalar onto the <= |brands|^2 pair table
    "embed_pca_power",  # per-sweep 1-row renorm-divisor scalar onto the 64-row direction
    # embed_pair_mining left this list in r8: the Arrow partial-extreme
    # rewrite has no join at all (mapInPandas + groupBy on partials)
    "stream_hll_distinct",  # 1-row global-union estimate scalar onto the 1-row exact count
    "embed_matryoshka_eval",  # broadcast 80-row query side x corpus (sim_cosine_brute shape)
    # deliberately tiny cross/broadcast sides (<= dozens of rows or
    # candidate sets bounded by construction)
    "join_cross", "join_skew_salted", "knn_join", "sim_cosine_brute",
    "dedup_embedding", "text_heavy_hitters",
}


def test_registry_wide_plan_lint(qs, built_df):
    """Sweep EVERY key's physical plan for the three operators that
    kill 100 TB jobs: row-at-a-time Python eval, cartesian products,
    and nested-loop joins. Only the pinned allowlists may contain
    them; a new key hitting this must either fix its plan or add an
    explicit bounded-side justification above."""
    bad = []
    for key in sorted(qs):
        plan = plan_of(built_df(key))
        if "BatchEvalPython" in plan and key not in ROW_PYTHON_OK:
            bad.append((key, "BatchEvalPython"))
        if "CartesianProduct" in plan:
            bad.append((key, "CartesianProduct"))
        if "BroadcastNestedLoop" in plan and key not in NESTED_LOOP_OK:
            bad.append((key, "BroadcastNestedLoop"))
    assert not bad, bad


def test_no_duplicated_udf_evaluation(spark, sf_dir, qs, built_df):
    """No batch key's plan evaluates the same Python UDF call at two
    EvalPython operators: a filter on a UDF output column that the
    optimizer pushes below the projection runs the UDF twice (the r12
    audit found 11 such duplicates; `asNondeterministic` or computing
    the column once fixes it). Signatures compare with attribute ids
    stripped. Each key with a Python UDF is built afresh and explained
    before anything runs: a collected frame's formatted explain lists
    AQE's final and initial plans, and a frame re-planned after its
    op's pins were released repeats the pinned subtree in every
    branch. Streaming keys run their query when built, so they are
    left out."""
    import re

    bad = []
    for key, fn in sorted(qs.items()):
        if fn.__module__.startswith("data_webhooks_spark.streaming."):
            continue
        if "EvalPython" not in plan_of(built_df(key)):
            continue
        df = fn(spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        args = re.findall(
            r"\(\d+\) (?:Arrow|Batch)EvalPython\nInput.*\nArguments: \[([^\]]+)\]",
            text,
        )
        sigs = [re.sub(r"#\d+", "", a) for a in args]
        if len(sigs) != len(set(sigs)):
            bad.append((key, len(sigs) - len(set(sigs))))
    assert not bad, bad


def test_registry_output_dtypes(qs, built_df):
    """Driver-canon compatibility lint (the r5 lesson): the external
    driver canonicalizes results with a pandas sort over every output
    column, which cannot hash/sort ndarray, bytes, or dict cells —
    four r5 keys went red on exactly this while the looser local
    canon stayed green. Hold ALL registry keys (rows-only included;
    their .toPandas() flows through the same driver path) to
    scalar-only final schemas: no ArrayType/MapType/BinaryType
    anywhere. Vectors ship as ','-joined CSV, binaries as hex —
    precedents: agg_collect (r1), multimodal_col (r4), and the r6
    scalarization of embed_quantize_int8 / multimodal_* / embed_pq."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType

    bad = []
    for key in sorted(qs):
        offenders = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in built_df(key).schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, BinaryType))
        ]
        if offenders:
            bad.append((key, offenders))
    assert not bad, (
        "non-scalar output columns (driver's pandas sort canon cannot "
        f"order these — scalarize like agg_collect/multimodal_col): {bad}"
    )


def test_tpch_q21_single_fact_shuffle_window(spark, sf_dir, qs):
    """r12 rewrite: both EXISTS cardinalities come from one window
    over the single lineitem ⋈ orders join, and the window must reuse
    that join's l_orderkey partitioning — exactly ONE l_orderkey hash
    exchange in the whole plan (previous set-join form shuffled the
    fact three times: late ×2 + the full-lineitem distinct count).
    The supplier/nation attach must broadcast."""
    plan = plan_of(qs["tpch_q21"](spark, sf_dir))
    key_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "orderkey" in l
    ]
    assert len(key_exchanges) <= 1, key_exchanges
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation
