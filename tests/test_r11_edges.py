"""Round-11: discrete rank-selected quantile edges (verdict item 4).

The r10 verdict's last accepted correctness risk was the
agg_histogram_equidepth / drift_psi edge straddle: interpolated
percentile edges could differ by 1 ULP between Spark and DuckDB, and
when the raw edges straddled a 1e-6 rounding half-boundary the
quantized edges still differed by one quantum, flipping rows equal to
the edge across bins. The fix (operators/prefix_sum.py) replaces
interpolation with DISCRETE rank selection — edge_k is the
ceil(k*n/B)-th smallest actual data value by integer rank arithmetic —
so both engines pick the identical double by construction and there is
no interpolation arithmetic left to diverge.

These tests pin (a) the rank rule against a numpy type-1 quantile
reference, (b) parity on an input built to straddle a half-boundary
BY CONSTRUCTION (every decile edge sits exactly on a value whose
1e6-quantization lands on a .5 boundary, with 100 tied rows at each
edge — the r9 sweep-F shape, sharpened), and (c) the sharded-cumsum
helper against a pandas cumsum on values with NULLs and ties.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from scripts.adversarial import _clone

from data_webhooks_spark import registry
from data_webhooks_spark.oracle import compare_frames, duck_connect
from data_webhooks_spark.operators.prefix_sum import (
    discrete_quantile_edges,
    sharded_cumsum,
)


def test_discrete_edges_match_numpy_type1(spark):
    """edge_k == sorted(values)[ceil(k*n/10) - 1] — the lower
    empirical (type-1) quantile — including under heavy ties."""
    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [rng.uniform(0, 100, 500), np.repeat([3.25, 77.5], 120)]
    )
    df = spark.createDataFrame(pd.DataFrame({"value": vals}))
    qs = discrete_quantile_edges(df, "value", 10).collect()[0]["qs"]
    n = len(vals)
    s = np.sort(vals)
    expected = [s[-(-k * n // 10) - 1] for k in range(1, 10)]
    assert list(qs) == expected
    assert all(q in set(vals.tolist()) for q in qs), "edges must be data"


def test_discrete_edges_empty_input(spark):
    """Empty input yields one row of 9 NULL edges (binning then sends
    every row to bin 0 on both engines)."""
    df = spark.createDataFrame(pd.DataFrame({"value": [1.0]})).filter(
        "value > 5"
    )
    row = discrete_quantile_edges(df, "value", 10).collect()
    assert len(row) == 1
    assert list(row[0]["qs"]) == [None] * 9


def test_sharded_cumsum_matches_pandas(spark):
    """Global running sums from the sharded two-pass form equal a
    plain sorted cumsum, NULL order key included (NULLS FIRST)."""
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "v": np.concatenate(
                [rng.uniform(-5, 5, 400).round(1), [np.nan] * 3]
            ),
            "a": rng.randint(0, 10, 403),
        }
    )
    pdf = pdf.groupby("v", dropna=False, as_index=False).agg(a=("a", "sum"))
    df = spark.createDataFrame(pdf)
    got = (
        sharded_cumsum(df, "v", ["a"], shards=8)
        .toPandas()
        .sort_values("v", na_position="first")
        .reset_index(drop=True)
    )
    ref = pdf.sort_values("v", na_position="first").reset_index(drop=True)
    assert list(got["cum_a"]) == list(ref["a"].cumsum())


@pytest.mark.parametrize("key", ["agg_histogram_equidepth", "drift_psi"])
def test_half_boundary_straddle_parity(spark, tmp_path, key):
    """Edges straddle a 1e-6 half-boundary BY CONSTRUCTION: every
    value is k + 5e-7 (its 1e6-quantization sits exactly on a .5
    grid boundary), each distinct value is repeated ~100x so every
    decile edge lands ON a heavy tie, and n is chosen so interpolated
    positions fall between tied runs. Under the r10 interpolate+
    quantize rule, a 1-ULP cross-engine difference here flips 100
    rows per edge; under discrete rank selection both engines pick
    the same stored double and parity must be exact. 20 distinct
    values / 10 bins keeps every decile bin populated on BOTH sides
    (PSI with an empty bin is ln(0) — loud by contract on both
    engines, a separate behavior from the straddle)."""

    def storm(pdf):
        n = len(pdf)
        vals = np.array(
            [(i % 20) / 2 + 5e-7 for i in range(n)], dtype=np.float64
        )
        out = pdf.copy()
        out["value"] = vals  # interleaved across event types
        return out

    sf = _clone(str(tmp_path), {"events": storm})
    qs, osql = registry.queries(), registry.oracle_sql()
    sp = qs[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(osql[key]).df()
    finally:
        con.close()
    assert not compare_frames(sp, du), f"{key} diverged on straddle input"
