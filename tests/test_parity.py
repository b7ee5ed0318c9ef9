"""Oracle parity: the engine's correctness gate.

For every operator key with a SQL oracle: run the PySpark DataFrame and
the DuckDB SQL at sf0.01 and require an exact order-insensitive match
(row count + columns + canonicalized value multiset, floats by hex).
Rows-only keys are checked to run and return a sane DataFrame.
"""

import ast

import pytest

from data_webhooks_spark import registry
from data_webhooks_spark.oracle import compare_frames

ORACLE = registry.oracle_sql()
QUERIES = registry.queries()
SQL_KEYS = sorted(ORACLE)
ROWS_ONLY_KEYS = sorted(set(QUERIES) - set(ORACLE))


@pytest.mark.parametrize("key", SQL_KEYS)
def test_sql_parity(key, spark_result, duck):
    sp = spark_result(key)
    du = duck.execute(ORACLE[key]).df()
    problems = compare_frames(sp, du)
    assert not problems, f"{key}: " + "; ".join(problems)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(key, spark_result):
    res = spark_result(key)
    assert len(res) >= 0
    assert len(res.columns) > 0


@pytest.mark.parametrize("key", SQL_KEYS)
def test_oracle_not_vacuous(key, duck):
    """A hash compare of two empty results passes no matter what the
    operator computes. The r4 audit caught four keys whose operand
    choices made the oracle permanently empty (set_except,
    join_left_anti, dedup_embedding, sink_partitioned_parquet) — this
    guard keeps the class extinct: every SQL oracle must produce at
    least one row at the driver's correctness scale factor."""
    assert len(duck.execute(ORACLE[key]).fetchall()) > 0, (
        f"{key}: oracle returns 0 rows at sf0.01 — the driver's "
        "value-hash comparison would pass vacuously; pick operands "
        "with a non-empty result"
    )


# Keys with no SQL oracle: approximate/ML outputs that
# test_rows_only_runs only executes. A key that loses its oracle joins
# the unoracled remainder and fails test_registry_invariants.
EXPECTED_ROWS_ONLY = {
    "pack_sequences_ffd",
    "embed_pq",
    "ann_ivf_pq",
    "ann_ivf",
    "dedup_minhash",
    "dedup_simhash",
    "sim_ann_lsh",
    "profile_table_approx",
}


def test_registry_invariants():
    """287 keys (the registry rejects duplicates), 279 SQL-oracled,
    and the unoracled remainder is exactly the known rows-only set."""
    assert len(QUERIES) == 287
    assert len(ORACLE) == 279
    assert set(QUERIES) - set(ORACLE) == EXPECTED_ROWS_ONLY


def _receiver_names(node) -> list[str]:
    """Attribute names along a call chain's receiver, outermost first
    (``spark.read.schema(s)`` -> ["schema", "read"])."""
    names = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            names.append(node.attr)
            node = node.value
    return names


def _names_marker(text: str) -> bool:
    """A path or name of a build-done marker file, in any of the
    conventions the build-once helper (io.derived) replaced."""
    last = text.rsplit("/", 1)[-1]
    return last in {"_done", "_SUCCESS", "_fingerprint"} or last.startswith(
        ".complete"
    )


def test_execution_mechanisms_have_one_implementation():
    """Pins, spread, shuffle-partition overrides and the runtime
    directory each live in one place; an operator reaches them only
    through regutil, session and streaming.core. Build-once artifacts
    and parquet re-reads live in io: no marker file is named or probed
    elsewhere, and no parquet read elsewhere runs schema inference
    (scan_parquet_evolve's mergeSchema read is the operator itself)."""
    import os
    import pathlib

    from data_webhooks_spark.streaming import core

    pkg = pathlib.Path(registry.__file__).parent
    # the absolute root that RUNTIME_DIR, the one allowed literal, names
    root = os.path.dirname(core.RUNTIME_DIR)
    helper_names = {"_pin", "_fresh_pins", "_LIVE_PINS"}
    calls = {"persist": set(), "localCheckpoint": set()}
    problems = []
    for path in sorted(pkg.rglob("*.py")):
        mod = path.relative_to(pkg).with_suffix("").as_posix()
        tree = ast.parse(path.read_text())
        for top in tree.body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                defined = getattr(node, "name", None) or getattr(node, "id", None)
                if isinstance(node, (ast.FunctionDef, ast.Name)) and (
                    defined in helper_names or str(defined).startswith("_spread")
                ):
                    problems.append(f"{mod}: defines or uses {defined}")
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in calls
                ):
                    calls[node.func.attr].add(f"{mod}.{owner}")
                if mod != "io" and isinstance(node, ast.Call):
                    func = node.func
                    if (
                        isinstance(func, ast.Attribute)
                        and func.attr in {"exists", "isfile", "lexists"}
                        and _receiver_names(func.value) == ["path"]
                    ):
                        problems.append(f"{mod}.{owner}: probes a path's existence")
                    if (
                        isinstance(func, ast.Attribute)
                        and func.attr == "parquet"
                        and "read" in (chain := _receiver_names(func.value))
                        and "schema" not in chain
                        and (mod, owner) != ("operators/scans", "scan_parquet_evolve")
                    ):
                        problems.append(f"{mod}.{owner}: parquet read infers its schema")
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if mod != "io" and _names_marker(node.value):
                        problems.append(f"{mod}.{owner}: names a marker file")
                    if "spark.sql.shuffle.partitions" in node.value and mod != "session":
                        problems.append(f"{mod}.{owner}: sets shuffle partitions")
                    if root in node.value and not (
                        mod == "streaming/core"
                        and isinstance(top, ast.Assign)
                        and [t.id for t in top.targets] == ["RUNTIME_DIR"]
                    ):
                        problems.append(f"{mod}.{owner}: absolute repo-root literal")
    assert not problems, problems
    assert calls["persist"] == {
        "regutil.pin",
        "operators/similarity._ivfpq_codebooks",  # scoped index-build persist
    }
    # lineage cut for the self-referencing contraction loop
    assert calls["localCheckpoint"] == {"operators/dedup._connected_components"}


PORTABLE_ORACLES = frozenset({
    "analytics_dau_mau", "warehouse_snapshot_diff", "scan_xml",  # r7 additions
    "sink_snapshot_commit",  # r7 addition (key-arithmetic oracle)
    # r7 wave F/G/H additions whose oracles parse and agree under
    # spark.sql (the others — cdc_apply_log, ts_cross_correlation,
    # text_zipf_fit, text_ngram_novelty, embed_centroid_outliers,
    # funnel_step_latency — use arg_max/epoch_us///string_split and
    # stay DuckDB-dialect)
    "basket_lift", "dq_referential", "event_sequence_ngrams",
    "graph_degree_stats", "scan_csv_corrupt", "dq_reconciliation",
    "filter_exists_correlated", "filter_not_in_vs_not_exists",
    "stream_hll_distinct",  # batch-restatement oracle is plain ANSI
    "dq_observe",  # raw-table recompute oracle is plain ANSI
    # scan_partition_pruned_dynamic deliberately NOT portable: its
    # oracle uses DuckDB isodow() because dayofweek() PARSES under
    # spark.sql with 1-based (vs DuckDB 0-based) semantics — the
    # parse-but-silently-differ dialect trap this pin exists to catch
    "ab_chi2", "ab_ttest_welch", "agg_approx_count_distinct", "agg_bitmap_distinct",
    "agg_cms_freq", "agg_conditional", "agg_corr", "agg_count_distinct",
    "agg_cube", "agg_global", "agg_groupby", "agg_grouping_sets",
    "agg_having", "agg_histogram", "agg_hll_sketch", "agg_minmax_by",
    "agg_mode", "agg_pivot", "agg_rollup", "agg_salted_exact",
    "agg_skew_kurtosis", "agg_stats", "agg_theta_overlap", "agg_weighted_median",
    "case_when", "cast_decimal", "cogrouped_map", "compact_files",
    "dedup_exact", "dim_scd2", "dq_checks", "drift_ks_test",
    "event_cooccurrence", "event_markov_transitions", "event_paths", "filter_compound",
    "filter_like", "filter_null_safe_eq", "filter_simple", "funnel_conversion",
    "graph_triangle_count", "grouped_map", "join_asof", "join_asof_forward",
    "join_asof_tolerance", "join_bucketed", "join_cross", "join_full_outer",
    "join_inner_equi", "join_interval_binned", "join_lateral", "join_left_anti",
    "join_left_outer", "join_left_semi", "join_multiway", "join_right_outer",
    "join_self", "join_skew_salted", "join_stream_static", "join_stream_stream",
    "join_theta_range", "limit", "map_in_pandas", "math_funcs",
    "merge_upsert", "null_funcs", "profile_numeric_corr", "profile_table",
    "project", "scan_json_corrupt", "scan_orc", "scan_parquet",
    "scan_parquet_bloom", "scan_snapshot_manifest", "scan_text", "set_except",
    "set_except_all", "set_intersect", "set_intersect_all", "set_union_all",
    "set_union_distinct", "sink_foreach_batch", "sink_memory", "sink_parquet",
    "sink_partitioned_parquet", "sink_webhook", "sort_multi", "source_file_stream",
    "source_webhook", "sql_passthrough", "stream_custom_state", "stream_dedup",
    "stream_funnel", "stream_output_modes", "stream_rollup_upsert", "stream_stateful",
    "stream_topk", "stream_triggers", "topk", "topn_per_group",
    "tpch_q1", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16",
    "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q2",
    "tpch_q20", "tpch_q21", "tpch_q22", "tpch_q3",
    "tpch_q4", "tpch_q5", "tpch_q6", "tpch_q7",
    "tpch_q8", "tpch_q9", "ts_changepoint_cusum", "ts_period_delta",
    "ts_seasonal_profile", "udaf_pandas", "udf_pandas_scalar", "udf_python",
    "win_distribution", "win_first_last", "win_pattern_match", "win_pattern_var",
    "win_ranking", "win_running", "win_running_distinct", "win_sliding_rows",
    "zorder_layout",
})


@pytest.mark.slowtier  # registry-wide sweep, ~2 min alone; per-key
# oracle parity (test_sql_parity) stays in the default tier, so no
# operator loses its result assertion — see pytest.ini (r12 item 2).
def test_three_way_agreement_sparksql_vs_dataframe(
    spark, sf_dir, duck, spark_result
):
    """SURVEY §3.2: every oracle string that is engine-portable ANSI
    must ALSO run through spark.sql over the same views and agree with
    the DataFrame-API result — DataFrame plan ≡ Spark SQL ≡ DuckDB.
    DuckDB-dialect oracles (read_json, list_*, ASOF JOIN, QUALIFY...)
    are skipped by the try; the portable subset must be non-trivial."""
    from data_webhooks_spark import registry
    from data_webhooks_spark.io import Tables
    from data_webhooks_spark.schemas import TABLE_NAMES
    from data_webhooks_spark.oracle import compare_frames

    t = Tables(spark, sf_dir)
    for name in TABLE_NAMES:
        getattr(t, name).createOrReplaceTempView(name)

    qs, osql = registry.queries(), registry.oracle_sql()
    ran, disagreements = [], []
    for k, sql in sorted(osql.items()):
        try:
            via_sql = spark.sql(sql).toPandas()
        except Exception:
            continue  # DuckDB-dialect oracle; not portable
        via_df = spark_result(k)
        probs = compare_frames(via_df, via_sql)
        ran.append(k)
        if probs:
            disagreements.append((k, probs))
    # Membership is PINNED (r6 verdict item 4): a key silently falling
    # out of the portable subset — e.g. an oracle edit introducing a
    # DuckDB-only construct — must be a visible, deliberate change
    # here, not a silent loss of three-way coverage. New portable keys
    # are equally visible (set must match exactly, not superset).
    assert set(ran) == PORTABLE_ORACLES, {
        "lost": sorted(PORTABLE_ORACLES - set(ran)),
        "gained": sorted(set(ran) - PORTABLE_ORACLES),
    }
    assert not disagreements, disagreements


def test_array_columns_elementwise_parity(spark, sf_dir, duck):
    """Element-wise array coverage (ADVICE r2): driver-facing outputs
    scalarize arrays (a sum can collide while elements/order differ),
    so keep a local check that the raw arrays themselves agree
    cell-for-cell between engines — canon()'s list branch compares
    per-element."""
    from pyspark.sql import functions as F

    from data_webhooks_spark.io import Tables

    t = Tables(spark, sf_dir)
    e = F.col("embedding")
    sp = t.embeddings.select(
        "vec_id",
        F.transform(F.slice(e, 1, 4), lambda x: F.round(x.cast("double"), 6))
        .alias("head4"),
    ).toPandas()
    du = duck.execute(
        """
        SELECT vec_id,
               list_transform(list_slice(embedding, 1, 4),
                              x -> round(CAST(x AS DOUBLE), 6)) AS head4
        FROM embeddings
        """
    ).df()
    # element-wise array parity is deliberate here (NOT a driver-facing
    # result), so opt out of the driver-sortable lint
    assert not compare_frames(sp, du, require_driver_sortable=False)

    sp_tok = (
        t.documents.filter(F.col("doc_id") < 200)
        .select("doc_id", F.split(F.col("text"), " ").alias("words"))
        .toPandas()
    )
    du_tok = duck.execute(
        "SELECT doc_id, string_split(text, ' ') AS words FROM documents "
        "WHERE doc_id < 200"
    ).df()
    assert len(sp_tok) > 0
    assert not compare_frames(sp_tok, du_tok, require_driver_sortable=False)

    # embed_quantize_int8 (added r4, scalarized r6): the int8 vector
    # ships as a ','-joined scalar — pin the element-wise parity and
    # range on the parsed CSV, per the r2 ADVICE discipline for
    # (formerly) array-output keys.
    sp_q = QUERIES["embed_quantize_int8"](spark, sf_dir).toPandas()
    du_q = duck.execute(ORACLE["embed_quantize_int8"]).df()
    assert not compare_frames(sp_q, du_q)
    for csv in sp_q["qvec_csv"].head(50):
        vals = [int(x) for x in csv.split(",")]
        assert len(vals) == 64
        assert all(-127 <= v <= 127 for v in vals)
