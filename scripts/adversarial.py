"""Adversarial-input scenarios: mutated clones of the sf0.001 fixtures.

Each scenario in SCENARIOS maps table names to a pandas mutator;
``_clone`` symlinks every untouched table and rewrites the mutated
ones, giving a fixture dir both Spark and DuckDB read. The shapes:

A. MULTI-NULL ROWS — one injected row whose every realistic nullable
   column is NULL at once (events: user_id+event_type+value+props;
   documents: text+lang). Exercises interactions the one-column
   sweep can't: a NULL group key AND a NULL measure in the same row,
   NULL text with a NULL lang shard key, etc.

B. NULL-ONLY GROUPS — a group key that still exists but whose every
   member's measure is NULL (all 'error' events get value=NULL).
   Aggregates over the group must agree (AVG->NULL, COUNT(value)->0,
   percentile/histogram arms skip it) and rolling series must not
   shift frames asymmetrically.

C-N are documented on their mutators below. KNOWN_BOUNDARY,
ORACLE_PINNED and EXPECT_LOUD list the per-scenario keys whose
comparison is skipped or whose contract is to raise.
tests/test_adversarial_sweeps.py runs every scenario over every key.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_webhooks_spark.schemas import TABLE_NAMES

BASE = "/root/testdata/sf0.001"


def _clone(tmp: str, mutate: dict) -> str:
    """Symlink every fixture into tmp; tables named in `mutate` get
    rewritten by their callback (pandas df -> pandas df)."""
    for t in TABLE_NAMES:
        src = f"{BASE}/{t}.parquet"
        dst = f"{tmp}/{t}.parquet"
        if t not in mutate:
            os.symlink(src, dst)
            continue
        orig = pq.read_table(src)
        pdf = mutate[t](orig.to_pandas())
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=orig.schema, preserve_index=False),
            dst,
        )
    return tmp


def _multi_null_events(pdf: pd.DataFrame) -> pd.DataFrame:
    extra = pdf.iloc[[0]].copy()
    extra["event_id"] = pdf["event_id"].max() + 1
    for c in ["user_id", "event_type", "value", "props"]:
        extra[c] = None
    return pd.concat([pdf, extra], ignore_index=True)


def _multi_null_documents(pdf: pd.DataFrame) -> pd.DataFrame:
    extra = pdf.iloc[[0]].copy()
    extra["doc_id"] = pdf["doc_id"].max() + 1
    for c in ["text", "lang"]:
        extra[c] = None
    return pd.concat([pdf, extra], ignore_index=True)


def _null_only_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf.loc[pdf["event_type"] == "error", "value"] = None
    return pdf


def _multibyte_document(pdf: pd.DataFrame) -> pd.DataFrame:
    """One injected document mixing 2-, 3-, and 4-byte UTF-8 (accents,
    CJK, emoji) — the byte-position vs char-position divergence class
    that bit text_feature_hash in r8 (strlen vs length)."""
    extra = pdf.iloc[[0]].copy()
    extra["doc_id"] = pdf["doc_id"].max() + 1
    extra["text"] = "café naïve 北京 résumé 🙂 Ünïcode dedup test 北京"
    return pd.concat([pdf, extra], ignore_index=True)


def _null_only_lang(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every document of ONE language loses its text — a per-lang
    group that exists with only NULL measures (the documents twin of
    scenario B)."""
    pdf = pdf.copy()
    lang = pdf["lang"].dropna().iloc[0]
    pdf.loc[pdf["lang"] == lang, "text"] = None
    return pdf


def _degenerate_texts(pdf: pd.DataFrame) -> pd.DataFrame:
    """Three injected degenerate documents: empty string (not NULL),
    whitespace-heavy (double spaces / tab / leading + trailing), and
    a single word — the tokenizer edges (split on ' ' emits ''
    tokens for consecutive spaces on BOTH engines, but every derived
    ratio/ngram path must agree)."""
    rows = []
    for off, txt in enumerate(
        ["", "  leading  double  spaces\tand tab trailing ", "word"]
    ):
        extra = pdf.iloc[[0]].copy()
        extra["doc_id"] = pdf["doc_id"].max() + 1 + off
        extra["text"] = txt
        rows.append(extra)
    return pd.concat([pdf, *rows], ignore_index=True)


def _duplicate_timestamps(pdf: pd.DataFrame) -> pd.DataFrame:
    """Clone the first 5 events of one user onto IDENTICAL timestamps
    (new event_ids): exercises every (ts, ...) tiebreak — window
    orderBy, as-of joins, sessionization, last-update-wins stores —
    where an under-specified ORDER BY diverges nondeterministically."""
    user = pdf["user_id"].dropna().iloc[0]
    src = pdf[pdf["user_id"] == user].head(5)
    extra = src.copy()
    base_id = pdf["event_id"].max() + 1
    extra["event_id"] = range(base_id, base_id + len(extra))
    # all five land on the SAME instant as the user's first event
    extra["ts"] = src["ts"].iloc[0]
    return pd.concat([pdf, extra], ignore_index=True)


def _negative_values(pdf: pd.DataFrame) -> pd.DataFrame:
    """Flip the sign of every 'error' event's value (refund/chargeback
    shape): exercises sign-branched rounding/scaling (the money unit
    discipline is sign-branched; qnt deliberately is not), MIN/MAX
    over mixed signs, and log/sqrt domains."""
    pdf = pdf.copy()
    mask = pdf["event_type"] == "error"
    pdf.loc[mask, "value"] = -pdf.loc[mask, "value"]
    return pdf


def _temporal_extremes(pdf: pd.DataFrame) -> pd.DataFrame:
    """Three injected events at calendar edges — the epoch, a leap
    day, and a far-future instant: exercises every week/month/date
    truncation, epoch arithmetic, and sessionization gap against
    engine convention differences (ISO vs simple weeks, date_trunc
    edge handling)."""
    rows = []
    for off, ts in enumerate(
        [
            pd.Timestamp("1970-01-01 00:00:00"),
            pd.Timestamp("2024-02-29 12:00:00"),
            pd.Timestamp("2037-12-31 23:59:59.999999"),
        ]
    ):
        extra = pdf.iloc[[0]].copy()
        extra["event_id"] = pdf["event_id"].max() + 1 + off
        extra["ts"] = ts
        rows.append(extra)
    return pd.concat([pdf, *rows], ignore_index=True)


def _clone_storm_events(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario I (r10): MAXIMAL DUPLICATION. Every event collapses
    to row 0's (user_id, event_type, value, props) — event_id and ts
    stay unique so keys and ordering survive. One giant group
    everywhere: per-user windows become a single partition, every
    value-ranked output is ALL ties (any nondeterministic tie-break
    diverges engines), COUNT(DISTINCT) arms read 1, and sessionize
    sees one unbroken session."""
    pdf = pdf.copy()
    r0 = pdf.iloc[0]
    for c in ["user_id", "event_type", "value", "props"]:
        pdf[c] = r0[c]
    return pdf


def _clone_storm_documents(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every document becomes the same text/lang — the max-replica
    corpus: dedup pair joins face C(n,2) identical-similarity pairs,
    replica collapse must still yield the full-pairwise answer, TF-IDF
    sees df == N (idf 0), and every quality/langid score ties."""
    pdf = pdf.copy()
    r0 = pdf.iloc[0]
    for c in ["text", "lang"]:
        pdf[c] = r0[c]
    return pdf


def _clone_storm_embeddings(pdf: pd.DataFrame) -> pd.DataFrame:
    """Every vector becomes row 0's — all pairwise cosines are exactly
    1, centroids equal the vector, PCA's Gram is rank-1."""
    pdf = pdf.copy()
    pdf["embedding"] = [list(pdf.iloc[0]["embedding"])] * len(pdf)
    return pdf


_BOILER = (
    "all rights reserved this document is provided as is without any "
    "warranty of any kind express or implied subject to the terms of "
    "service and the privacy policy please contact support for help"
)


def _boilerplate_documents(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario J (r11): BOILERPLATE STORM. Every document keeps a
    DISTINCT body but gains the same long header/footer — so replica
    collapse cannot help (texts differ) and every boilerplate trigram
    has document frequency == n_docs. The table is tiled 3x (with a
    unique suffix token so texts stay distinct) so n_docs > the
    stop-shingle cap (_DF_CAP = 64) even at sf0.001: an UNCAPPED
    inverted index would emit C(n,2) candidate rows at every hot
    shingle; the capped one drops the boilerplate shingles from the
    (mirrored) Jaccard universe on both engines."""
    out = []
    base_id = pdf["doc_id"].max() + 1
    for copy in range(3):
        c = pdf.copy()
        if copy:
            c["doc_id"] = range(
                base_id + (copy - 1) * len(pdf),
                base_id + copy * len(pdf),
            )
        mask = c["text"].notna()
        c.loc[mask, "text"] = (
            _BOILER
            + " "
            + c.loc[mask, "text"]
            + " "
            + _BOILER
            + " uniq"
            + c.loc[mask, "doc_id"].astype(str)
        )
        out.append(c)
    return pd.concat(out, ignore_index=True)


def _empty_table(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario K (r12): EMPTY FACTS. Every fact table (events,
    documents, embeddings, lineitem, orders) has ZERO rows while the
    dims stay populated — the "no data arrived in this partition/day"
    case every production pipeline eventually hits. The crash classes
    this targets: ML fits on empty input (KMeans requires rows),
    numpy kernels on empty batches (reduceat/factorize edge), empty
    streaming replays (zero-file availableNow runs, memory sinks that
    never see a batch), and ANSI aggregates over zero groups. The
    CONTRACT under test: empty input yields an empty (or
    dims-only-derived) result with the oracle agreeing — never an
    exception."""
    return pdf.iloc[0:0]


def _single_user_events(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario L (r12): SINGLE-KEY FIREHOSE. Every event belongs to
    ONE user but keeps its own ts/type/value/props — the 100 TB skew
    shape (one tenant/bot dominating the stream) that scenario I's
    clone storm does NOT cover: there every grouped value ties; here
    ONE giant per-user partition carries a fully DIVERSE history, so
    sessionization walks real gaps, funnels see real step mixes,
    per-user Pandas-UDF groups receive the whole table as one Arrow
    group, and the salted-join fallback actually engages its skew
    path. Both engines see identical bytes, so parity must hold."""
    pdf = pdf.copy()
    uid = pdf["user_id"].dropna().iloc[0]
    pdf["user_id"] = uid
    return pdf


def _single_lang_documents(pdf: pd.DataFrame) -> pd.DataFrame:
    """Documents twin of scenario L: one language owns the whole
    corpus (mono-lingual crawl shard) while texts stay diverse —
    per-lang stratification, mixture weights, and language-keyed
    shuffles all collapse onto one key."""
    pdf = pdf.copy()
    lang = pdf["lang"].dropna().iloc[0]
    pdf["lang"] = lang
    return pdf


def _hot_orderkey_lineitem(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario M (r12): HOT FACT KEY. Half of all lineitem rows are
    re-pointed at ONE existing orderkey (the hot-partition shape a
    popular order/product/tenant produces at 100 TB) while the other
    half keeps its diversity, so every TPC-H join sees one giant
    probe-side group next to normal ones — the AQE-skew-join shape —
    and grouped aggregates see one dominant group. Referential
    integrity holds (the hot key is taken FROM the data), both
    engines see identical bytes, so parity must hold."""
    pdf = pdf.copy()
    hot = pdf["l_orderkey"].iloc[0]
    half = pdf.index[: len(pdf) // 2]
    pdf.loc[half, "l_orderkey"] = hot
    return pdf


def _nonfinite_values(pdf: pd.DataFrame) -> pd.DataFrame:
    """Scenario N (r12): NaN / +Infinity / -Infinity injected into
    events.value (corrupt-telemetry shape — a sensor or serializer
    emitting non-finite doubles). Distinct from NULL: found that
    Spark's FLOOR(double)->BIGINT silently SATURATES non-finite input
    (NaN money -> 0.00 in a sum with no error; one inf row kills a
    100 TB job via ANSI sum overflow) while DuckDB's double FLOOR
    propagates and its INT64/DECIMAL casts raise — 28 findings on
    first run, fixed by the finite-guarded quantization policy in
    norms.py plus ~16 operator-local seams (non-finite == missing,
    engine-wide)."""
    rows = []
    for off, v in enumerate([float("nan"), float("inf"), float("-inf")]):
        extra = pdf.iloc[[off]].copy()
        extra["event_id"] = pdf["event_id"].max() + 1 + off
        extra["value"] = v
        rows.append(extra)
    return pd.concat([pdf, *rows], ignore_index=True)


SCENARIOS = {
    "A": {"events": _multi_null_events, "documents": _multi_null_documents},
    "B": {"events": _null_only_group},
    "C": {"documents": _multibyte_document},
    "D": {"documents": _null_only_lang},
    "E": {"documents": _degenerate_texts},
    "F": {"events": _duplicate_timestamps},
    "G": {"events": _negative_values},
    "H": {"events": _temporal_extremes},
    "I": {
        "events": _clone_storm_events,
        "documents": _clone_storm_documents,
        "embeddings": _clone_storm_embeddings,
    },
    "J": {"documents": _boilerplate_documents},
    "L": {
        "events": _single_user_events,
        "documents": _single_lang_documents,
    },
    "M": {"lineitem": _hot_orderkey_lineitem},
    "N": {"events": _nonfinite_values},
    "K": {
        "events": _empty_table,
        "documents": _empty_table,
        "embeddings": _empty_table,
        "lineitem": _empty_table,
        "orders": _empty_table,
    },
}

# Documented engine boundaries, per scenario: the comparison is
# skipped because the divergence is a MEASURED, docstring-pinned Spark
# semantics edge, not an operator bug. H injects an event at exactly
# epoch 0; Spark's initial event-time watermark is 0 ms and
# dropDuplicatesWithinWatermark's late filter is boundary-inclusive,
# so that one row is dropped as late (epoch+1ms survives — pinned by
# tests/test_streaming_semantics.py::test_epoch_zero_watermark_boundary).
KNOWN_BOUNDARY = {
    "H": {"stream_dedup"},
}

# Derived-twin keys: their oracle SQL reads single-file twins pinned
# to the DRIVER's sf dir (the scan_json_corrupt precedent in
# scripts/scale_sweep.py), so a comparison on a tmp clone measures the
# path constant, not the operator. Their NULL behavior is covered by
# the loud fixture-drift contract below instead.
ORACLE_PINNED = {
    "scan_binaryfile",
    "scan_csv",
    "scan_csv_corrupt",
    "scan_json",
    "scan_json_corrupt",
    "scan_parquet_evolve",
    "scan_parquet_metadata",
    "scan_python_datasource",
    "scan_text",
    "scan_xml",
}

# Documented LOUD input contracts, per scenario: these keys must RAISE
# on the mutated clone — a silent result would be the bug. Scenario A
# nulls documents.text, which (a) violates the multimodal NULL-payload
# contract (multimodal.py decode/featurize raise NotImplementedError
# by design) and (b) trips the scan twins' byte-lossless round-trip
# fixture-drift check (io-side ValueError).
EXPECT_LOUD = {
    "A": {
        "multimodal_audio_energy",
        "multimodal_col",
        "multimodal_features",
        "multimodal_frames",
        "multimodal_resize",
        "scan_binaryfile",
        "scan_csv",
        "scan_csv_corrupt",
        "scan_json",
        "scan_json_corrupt",
        "scan_parquet_evolve",
        "scan_python_datasource",
        "scan_text",
    },
    "B": set(),
    "C": set(),
    # D nulls one language's text: the multimodal family's NULL-payload
    # contract raises (scan twins are ORACLE_PINNED-skipped; their
    # loud round-trip contract is asserted under A)
    "D": {
        "multimodal_audio_energy",
        "multimodal_col",
        "multimodal_features",
        "multimodal_frames",
        "multimodal_resize",
    },
}

