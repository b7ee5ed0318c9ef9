"""Round-11: stop-shingle document-frequency cap (verdict item 3).

The shingle inverted index behind dedup_ngram_jaccard /
dedup_containment / dedup_cluster had no document-frequency cap: a
single boilerplate trigram shared by f DISTINCT texts generates O(f²)
candidate rows at one join key (replica collapse only kills
identical-TEXT cliques). _df_capped drops shingles with df > _DF_CAP
(64) from the Jaccard universe on BOTH engines — Broder-style
stop-shingle filtering; super-common shingles carry ~no resemblance
signal while dominating join cost.

Pinned here: (a) the cap NEVER BINDS at the fixtures (hot set empty →
×1 results bit-identical to the uncapped r10 records), (b) a
pure-boilerplate corpus produces ZERO candidate pairs capped vs
C(n,2)-scale uncapped (the bounded-cost property), and (c) full
oracle parity on the scenario-J boilerplate storm for all three
consumers (the slowtier sweep also runs J over every key).
"""

from __future__ import annotations

import pandas as pd
import pytest

from scripts.adversarial import SCENARIOS, _clone

from data_webhooks_spark import registry
from data_webhooks_spark.operators.dedup import _DF_CAP, _df_capped, _shingled
from data_webhooks_spark.oracle import compare_frames, duck_connect


def test_cap_never_binds_at_fixture(spark, sf_dir):
    """No fixture shingle exceeds df 64 (measured max: 7 at sf0.01,
    25 at sf0.1) — so the capped universe IS the full universe at ×1
    and every dedup record's values are unchanged by the cap."""
    from pyspark.sql import functions as F

    from data_webhooks_spark.io import Tables

    sh = _shingled(Tables(spark, sf_dir).documents)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _DF_CAP)
        .count()
    )
    assert hot == 0


def _boiler_docs(spark, n=100):
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(n),
                "text": [f"{words} uniq{i} tail{i}" for i in range(n)],
            }
        )
    )


def test_pure_boilerplate_corpus_is_bounded(spark):
    """100 distinct texts sharing a 10-word boilerplate prefix: every
    boilerplate trigram has df=100 > cap. Capped, the candidate
    self-join emits ZERO pairs (the only surviving shingles are the
    df-1 unique tails); uncapped it emits C(100,2) pairs through every
    hot shingle — the quadratic blowup the cap exists to stop."""
    from pyspark.sql import functions as F

    sh = _shingled(_boiler_docs(spark))
    capped = _df_capped(sh)
    a, b = capped.alias("a"), capped.alias("b")
    n_capped = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert n_capped == 0
    au, bu = sh.alias("a"), sh.alias("b")
    n_uncapped = au.join(
        bu,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert n_uncapped >= 100 * 99 // 2  # >= C(100,2): >= 1 hot shingle


def test_cap_keeps_real_neardups(spark):
    """The cap must not break near-dup detection among docs whose
    similarity lives in NON-boilerplate shingles: two docs sharing a
    long unique body (plus the hot boilerplate) still pair up."""
    from pyspark.sql import functions as F

    docs = _boiler_docs(spark).toPandas()
    body = "the quick brown fox jumps over the lazy dog repeatedly today"
    twin = pd.DataFrame(
        {
            "doc_id": [1000, 1001],
            "text": [
                f"alpha bravo charlie delta echo foxtrot golf hotel india juliet {body}",
                f"alpha bravo charlie delta echo foxtrot golf hotel india juliet {body} extra",
            ],
        }
    )
    df = spark.createDataFrame(pd.concat([docs, twin], ignore_index=True))
    capped = _df_capped(_shingled(df))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .count()
        .collect()
    )
    assert {(r["d1"], r["d2"]) for r in pairs} == {(1000, 1001)}


@pytest.mark.parametrize(
    "key", ["dedup_ngram_jaccard", "dedup_containment", "dedup_cluster"]
)
def test_boilerplate_storm_parity(spark, tmp_path, key):
    """Scenario J: 150 distinct docs all carrying the same header AND
    footer (boilerplate df = 150 > 64, so the cap BINDS) — Spark and
    the DuckDB oracle must agree exactly, because both implement the
    same capped universe (dedup_cluster over unique-text reps)."""
    sf = _clone(str(tmp_path), SCENARIOS["J"])
    qs, osql = registry.queries(), registry.oracle_sql()
    sp = qs[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(osql[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverged on boilerplate storm"
