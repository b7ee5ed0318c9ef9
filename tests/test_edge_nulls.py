"""NULL edge-case parity (judge r2 items 6a/6b).

The stock fixtures are dense — no NULL text, no NULL acctbal — which
masked two divergences from the oracle:

- ``text_normalize``: unicodedata.normalize raises TypeError on None
  while DuckDB's nfc_normalize(NULL) returns NULL.
- ``join_theta_range``: ``F.explode`` of a NULL band sequence DROPS the
  supplier row where the oracle's LEFT JOIN keeps it with count 0.

These tests clone sf0.001 into a tmp dir, inject the NULL rows, and run
the full operator-vs-DuckDB comparison on the modified fixtures.
"""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_webhooks_spark.oracle import compare_frames, duck_connect
from data_webhooks_spark.registry import oracle_sql, queries
from data_webhooks_spark.schemas import TABLE_NAMES

from tests.conftest import SF_SMOKE


def _clone_sf_with_null(tmp_path, table: str, null_cols: list[str]):
    """Link every sf0.001 fixture into tmp_path, rewriting `table` with
    one extra row whose `null_cols` are NULL (other cols copied from
    row 0, id-ish first column bumped past the max)."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t != table:
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = orig.to_pandas()
        extra = pdf.iloc[[0]].copy()
        id_col = pdf.columns[0]
        if pd.api.types.is_integer_dtype(pdf[id_col]):
            extra[id_col] = pdf[id_col].max() + 1
        for c in null_cols:
            extra[c] = None
        out = pd.concat([pdf, extra], ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(out, schema=orig.schema, preserve_index=False),
            dst,
        )
    return str(tmp_path)


@pytest.mark.parametrize(
    "key,table,null_cols",
    [
        ("text_normalize", "documents", ["text"]),
        ("join_theta_range", "supplier", ["s_acctbal"]),
        # ADVICE r3: window frames ordered by nullable events.value —
        # Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST, so these
        # diverge the moment a fixture gains a NULL value unless the
        # ordering pins NULLS LAST explicitly on both engines.
        ("win_ranking", "events", ["value"]),
        ("win_distribution", "events", ["value"]),
    ],
)
def test_null_row_parity(spark, tmp_path, key, table, null_cols):
    sf = _clone_sf_with_null(tmp_path, table, null_cols)
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on NULL {null_cols}"


def test_theta_range_null_supplier_kept(spark, tmp_path):
    """The NULL-acctbal supplier must still appear, with 0 matches."""
    sf = _clone_sf_with_null(tmp_path, "supplier", ["s_acctbal"])
    n_sup = spark.read.parquet(f"{sf}/supplier.parquet").count()
    out = queries()["join_theta_range"](spark, sf).toPandas()
    assert len(out) == n_sup
    null_key = spark.read.parquet(f"{sf}/supplier.parquet").toPandas()
    injected = null_key.loc[null_key["s_acctbal"].isna(), "s_suppkey"].iloc[0]
    assert out.loc[out["s_suppkey"] == injected, "n_band_customers"].iloc[0] == 0


def _clone_sf_with_row(tmp_path, table: str, overrides: dict):
    """Like _clone_sf_with_null but sets explicit values: one extra row
    copied from row 0 with `overrides` applied (id column bumped)."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t != table:
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = orig.to_pandas()
        extra = pdf.iloc[[0]].copy()
        id_col = pdf.columns[0]
        if pd.api.types.is_integer_dtype(pdf[id_col]):
            extra[id_col] = pdf[id_col].max() + 1
        for c, v in overrides.items():
            extra[c] = v
        out = pd.concat([pdf, extra], ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(out, schema=orig.schema, preserve_index=False),
            dst,
        )
    return str(tmp_path)


@pytest.mark.parametrize(
    "key,table,overrides",
    [
        # ADVICE r7: a NULL-valued LAST upsert must survive as NULL on
        # both engines (struct max, not arg_max/max_by — DuckDB's
        # arg_max skips NULL args and resurrects an older value). The
        # far-future ts makes the injected row THAT user's surviving
        # upsert unconditionally — verified the r7 arg_max oracle
        # fails exactly this case.
        (
            "cdc_apply_log",
            "events",
            {
                "value": None,
                "event_type": "view",
                "ts": pd.Timestamp("2025-12-31 23:59:59"),
            },
        ),
        (
            "stream_cdc_apply",
            "events",
            {
                "value": None,
                "event_type": "view",
                "ts": pd.Timestamp("2025-12-31 23:59:59"),
            },
        ),
        # ADVICE r7: a NULL event_type inside a journey — Spark's
        # concat_ws skips it; the oracle must too (it used
        # NULL-propagating || before r8).
        ("event_sequence_ngrams", "events", {"event_type": None}),
        # ADVICE r7: multibyte text — the oracle must walk CHARACTER
        # positions (length), not BYTE positions (strlen), for the
        # per-position hash fold to agree with Spark.
        (
            "text_feature_hash",
            "documents",
            {"text": "café naïve résumé café"},
        ),
        # r8 NULL-injection sweep findings, each fixed to an explicit
        # contract and pinned here:
        # NULL measurements are excluded from rolling series on BOTH
        # engines (Spark collect_list skips NULLs, DuckDB list() keeps
        # them — an implicit series shifts frames differently)
        ("ts_ewma", "events", {"value": None}),
        ("ts_moving_median", "events", {"value": None}),
        # M4 extremes: NULL values carry no pixel; NULL event_type is
        # a real series (null-safe oracle joins)
        ("ts_downsample_m4", "events", {"value": None}),
        ("ts_downsample_m4", "events", {"event_type": None}),
        # NULL in -> NULL out through the vectorized clip (DuckDB
        # LEAST/GREATEST skip NULL args and would clip to 0.0)
        ("udf_pandas_scalar", "events", {"value": None}),
        # NULL event_type is a real group: null-safe oracle join
        ("agg_minmax_by", "events", {"event_type": None}),
        # maps cannot hold a NULL key: excluded on both engines
        # (Spark used to crash with NULL_MAP_KEY)
        ("map_funcs", "events", {"event_type": None}),
        # streaming group keys: NULL event_type survives the
        # stream-vs-batch joins (eqNullSafe), and tiny groups get the
        # discrete-rank slack in the quantile check
        ("stream_hll_distinct", "events", {"event_type": None}),
        ("stream_quantile", "events", {"event_type": None}),
        # empty-document contract: NULL text behaves as '' on both
        # engines across the text-analytics family
        ("text_tokenize", "documents", {"text": None}),
        ("text_fingerprint", "documents", {"text": None}),
        ("text_quality", "documents", {"text": None}),
        ("text_sentiment", "documents", {"text": None}),
        ("text_langid", "documents", {"text": None}),
        ("pipeline_dedup_prep", "documents", {"text": None}),
        # a NULL payload is explicitly NOT kept (keep is never NULL)
        ("pipeline_media_prep", "documents", {"text": None}),
        # the XML round-trip must represent a NULL field (and the
        # derived twin must rebuild when the source fixture changes —
        # its cache was basename-keyed before r8)
        ("scan_xml", "supplier", {"s_acctbal": None}),
        # json_valid(NULL) is NULL on both engines, not False
        ("json_parse", "events", {"props": None}),
        # a NULL lang is a real pack group (null-safe shard joins)
        ("pack_sequences", "documents", {"lang": None}),
    ],
)
def test_injected_row_parity(spark, tmp_path, key, table, overrides):
    sf = _clone_sf_with_row(tmp_path, table, overrides)
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on {overrides}"


def _clone_sf_with_empty(tmp_path, table: str):
    """Link every sf0.001 fixture, replacing `table` with a ZERO-ROW
    parquet of the same schema — the empty-partition / empty-date-range
    shape every 100 TB pipeline hits routinely."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t != table:
            os.symlink(src, dst)
        else:
            pq.write_table(pq.read_table(src).slice(0, 0), dst)
    return str(tmp_path)


@pytest.mark.parametrize(
    "key,table",
    [
        # every case below CRASHED or diverged on empty input before
        # the r8 empty-input sweep; the full-registry sweep (all 8
        # tables x every oracled key) is clean as of r8
        ("agg_cube", "events"),
        ("agg_rollup", "orders"),
        ("agg_grouping_sets", "lineitem"),
        ("agg_theta_overlap", "events"),
        ("dq_checks", "orders"),
        ("dq_observe", "events"),
        ("drift_ks_test", "events"),
        ("drift_psi", "events"),
        ("sink_foreach_batch", "events"),
        ("sink_partitioned_parquet", "events"),
        ("scan_partition_pruned_dynamic", "events"),
        ("stream_rollup_upsert", "events"),
    ],
)
def test_empty_table_parity(spark, tmp_path, key, table):
    sf = _clone_sf_with_empty(tmp_path, table)
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on empty {table}"


def test_null_user_journey_not_counted(spark, tmp_path):
    """ADVICE r8: n_users must ignore a NULL user_id even when that
    user walks a full trigram journey — Spark's groupBy keeps NULL as
    a group, the oracle's COUNT(DISTINCT user_id) does not. A single
    injected row can't exercise this (a trigram needs 3 consecutive
    events from the same user), so inject three."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t != "events":
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = orig.to_pandas()
        extra = pd.concat([pdf.iloc[[0]]] * 3, ignore_index=True)
        base_id = pdf["event_id"].max() + 1
        extra["event_id"] = [base_id, base_id + 1, base_id + 2]
        extra["user_id"] = None
        extra["event_type"] = ["view", "click", "purchase"]
        extra["ts"] = pd.Timestamp("2025-12-30") + pd.to_timedelta(
            range(3), unit="s"
        )
        out = pd.concat([pdf, extra], ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(out, schema=orig.schema, preserve_index=False),
            dst,
        )
    sf = str(tmp_path)
    sp = queries()["event_sequence_ngrams"](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()["event_sequence_ngrams"]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), "NULL-user journey diverges"


def test_all_null_values_foreach_batch(spark, tmp_path):
    """ADVICE r8: a micro-batch whose every `value` is NULL sums to a
    NULL decimal partial; the driver-side Decimal reduction must
    coalesce it instead of raising TypeError."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t != "events":
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = orig.to_pandas()
        pdf["value"] = None
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=orig.schema, preserve_index=False),
            dst,
        )
    sf = str(tmp_path)
    sp = queries()["sink_foreach_batch"](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()["sink_foreach_batch"]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), "all-NULL-values batch diverges"


def _clone_sf_mutate(tmp_path, mutations: dict):
    """Link every sf0.001 fixture; tables named in `mutations` are
    rewritten by their callback (pandas df -> pandas df)."""
    for t in TABLE_NAMES:
        src = f"{SF_SMOKE}/{t}.parquet"
        dst = str(tmp_path / f"{t}.parquet")
        if t not in mutations:
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = mutations[t](orig.to_pandas())
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=orig.schema, preserve_index=False),
            dst,
        )
    return str(tmp_path)


def _with_multi_null_event_row(pdf):
    extra = pdf.iloc[[0]].copy()
    extra["event_id"] = pdf["event_id"].max() + 1
    for c in ["user_id", "event_type", "value", "props"]:
        extra[c] = None
    return pd.concat([pdf, extra], ignore_index=True)


def _with_null_only_error_values(pdf):
    pdf = pdf.copy()
    pdf.loc[pdf["event_type"] == "error", "value"] = None
    return pdf


@pytest.mark.parametrize(
    "key",
    [
        # r9 multi-NULL sweep findings, each fixed to an explicit
        # contract: all-NULL listagg group -> NULL not ''; stateful
        # sum over an all-NULL user -> NULL not 0.0 (plus the qnt
        # float rounding on both sides); NULL long group keys reach
        # pandas as NaN and must convert back to a nullable long.
        "agg_string",
        "stream_stateful",
        "stream_custom_state",
    ],
)
def test_multi_null_row_parity(spark, tmp_path, key):
    """One injected row whose EVERY nullable column is NULL at once —
    a NULL group key and a NULL measure in the same row, interactions
    the single-column injection sweep cannot reach."""
    sf = _clone_sf_mutate(tmp_path, {"events": _with_multi_null_event_row})
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on a multi-NULL row"


@pytest.mark.parametrize(
    "key",
    [
        # r9 NULL-only-group sweep findings: a group that exists but
        # whose every measure is NULL. The KLL sketch over it is an
        # EMPTY (non-NULL!) buffer that get_quantile rejects — the
        # guard is on count(value), not isNotNull(sk); rank_ok is
        # vacuously TRUE for a NULL median.
        "stream_quantile",
        "stream_stateful",
        "stream_custom_state",
        "agg_string",
    ],
)
def test_null_only_group_parity(spark, tmp_path, key):
    sf = _clone_sf_mutate(tmp_path, {"events": _with_null_only_error_values})
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on a NULL-only group"


def _with_multibyte_document(pdf):
    extra = pdf.iloc[[0]].copy()
    extra["doc_id"] = pdf["doc_id"].max() + 1
    extra["text"] = "café naïve 北京 résumé 🙂 Ünïcode dedup test 北京"
    return pd.concat([pdf, extra], ignore_index=True)


@pytest.mark.parametrize(
    "key",
    [
        # r9 sweep C findings: one document mixing 2-, 3- and 4-byte
        # UTF-8 — the byte-vs-char divergence class. The multimodal
        # oracles moved from char ops (substr/ascii/unicode over text,
        # valid only for ASCII) to byte-exact hex(encode(text)) pair
        # access; the gopher word-length rule is a CHARACTER rule so
        # its oracle moved strlen -> length. multimodal_audio_energy's
        # old codepoint form read 🙂 as amplitude 128578 and OVERFLOWED
        # the oracle's INT32 multiply.
        "multimodal_col",
        "multimodal_resize",
        "multimodal_frames",
        "multimodal_features",
        "multimodal_audio_energy",
        "multimodal_phash",
        "pipeline_media_prep",
        "quality_gopher_rules",
    ],
)
def test_multibyte_text_parity(spark, tmp_path, key):
    sf = _clone_sf_mutate(tmp_path, {"documents": _with_multibyte_document})
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on multibyte text"


@pytest.mark.parametrize(
    "key",
    [
        # r9 sweep E: degenerate documents — empty string (not NULL),
        # whitespace-heavy, single word. A zero-byte payload still
        # gets its fixed-width all-zero feature vector (the oracle's
        # inner totals join dropped the doc); the text-family keys
        # pass by construction and are pinned as the invariant.
        "multimodal_features",
        "text_quality",
        "quality_gopher_rules",
        "text_tokenize",
    ],
)
def test_degenerate_text_parity(spark, tmp_path, key):
    def degen(pdf):
        rows = []
        for off, txt in enumerate(
            ["", "  leading  double  spaces\tand tab trailing ", "word"]
        ):
            extra = pdf.iloc[[0]].copy()
            extra["doc_id"] = pdf["doc_id"].max() + 1 + off
            extra["text"] = txt
            rows.append(extra)
        return pd.concat([pdf, *rows], ignore_index=True)

    sf = _clone_sf_mutate(tmp_path, {"documents": degen})
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on degenerate text"


@pytest.mark.parametrize(
    "key",
    [
        # r9 sweep F: five events of one user cloned onto ONE instant
        # (new event_ids) — every (ts, ...) tiebreak and every
        # percentile whose interpolation position shifts under
        # duplicate values. agg_histogram_equidepth's raw percentile
        # edges differed by 1 ULP between engines (Spark percentile
        # vs DuckDB quantile_cont interpolate differently), which
        # shifts the bin label and can flip rows equal to the edge —
        # r10 qnt-quantized the edges; r11 removed interpolation
        # entirely (discrete rank-selected edges, prefix_sum.py;
        # drift_psi got the same fix, straddle-by-construction parity
        # in test_r11_edges.py). The window/asof keys pass by
        # (ts, event_id) tiebreak design and are pinned as invariant.
        "agg_histogram_equidepth",
        "drift_psi",
        "win_ranking",
        "join_asof",
        "win_sessionize",
    ],
)
def test_duplicate_timestamp_parity(spark, tmp_path, key):
    def dup_ts(pdf):
        user = pdf["user_id"].dropna().iloc[0]
        src = pdf[pdf["user_id"] == user].head(5)
        extra = src.copy()
        base_id = pdf["event_id"].max() + 1
        extra["event_id"] = range(base_id, base_id + len(extra))
        extra["ts"] = src["ts"].iloc[0]
        return pd.concat([pdf, extra], ignore_index=True)

    sf = _clone_sf_mutate(tmp_path, {"events": dup_ts})
    sp = queries()[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverges on duplicate ts"


def test_null_lang_no_fingerprint(spark, tmp_path):
    """r9 sweep D: NULL text has NO fingerprint — Spark's concat_ws
    renders a NULL split as '', which manufactured one shared
    fingerprint across every source holding a NULL-text doc (190
    spurious source pairs vs the oracle's 13)."""

    def null_lang(pdf):
        pdf = pdf.copy()
        lang = pdf["lang"].dropna().iloc[0]
        pdf.loc[pdf["lang"] == lang, "text"] = None
        return pdf

    sf = _clone_sf_mutate(tmp_path, {"documents": null_lang})
    sp = queries()["contamination_matrix"](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()["contamination_matrix"]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), "NULL-text fingerprints leak"


def test_median_decimal_tie_parity(spark, tmp_path):
    """An even-count median interpolating to an exact .xx5 decimal tie
    (the double nearest 52724.245 sits BELOW the tie): Spark's
    round(double, 2) rounds the binary value down while DuckDB's
    ROUND half-ups the decimal rendering — the r9 fixtures produced
    exactly this at sf0.001 and agg_kll_quantile diverged until both
    sides moved to the qnt FLOOR(x*1e2+0.5)/1e2 float expression.
    This clone forces the tie deterministically."""

    def force_tie(pdf):
        pdf = pdf.iloc[:4].copy()
        pdf["l_returnflag"] = "R"
        pdf["l_extendedprice"] = [1.0, 52724.24, 52724.25, 99999.0]
        return pdf

    sf = _clone_sf_mutate(tmp_path, {"lineitem": force_tie})
    sp = queries()["agg_kll_quantile"](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()["agg_kll_quantile"]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), "median .005 tie rounds differently"
    # and the tie really is there: the exact median interpolates to
    # (52724.24 + 52724.25) / 2 = 52724.245
    got = sp.loc[sp["l_returnflag"] == "R", "exact_p50"].iloc[0]
    assert got in (52724.24, 52724.25)


def test_kll_quantile_empty_lineitem_parity(spark, tmp_path):
    """Empty facts: the merged-global sketch folds collect_list of the
    per-flag sketches, which is []; element_at([], 1) raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI whenever the projection
    was evaluated (AQE timing decided), try_element_at gives NULL."""
    sf = _clone_sf_mutate(tmp_path, {"lineitem": lambda pdf: pdf.iloc[:0]})
    sp = queries()["agg_kll_quantile"](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(oracle_sql()["agg_kll_quantile"]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), "agg_kll_quantile diverges on empty lineitem"


def test_empty_embeddings_pair_mining(spark, tmp_path):
    """No anchors -> empty pair table with the declared schema (the
    numpy kernel used to IndexError sizing itself from a 0-row
    anchor matrix)."""
    sf = _clone_sf_with_empty(tmp_path, "embeddings")
    out = queries()["embed_pair_mining"](spark, sf)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "hard_neg_id", "hard_neg_cos",
        "hard_pos_id", "hard_pos_cos", "margin_violated",
    ]
