"""Adversarial-input sweeps: every scenario in scripts/adversarial.py
(multi-NULL rows, NULL-only groups, multibyte text, NULL-only langs,
degenerate texts, duplicate timestamps, negative values, temporal
extremes, the clone storm, the boilerplate storm, empty facts, the
single-key firehose, the hot fact key and non-finite values) runs over
every registered key. Oracled keys must match DuckDB on the mutated
clone, rows-only keys must execute, and EXPECT_LOUD keys must raise.

The full matrix is slow (builder tier, see pytest.ini); narrow a run
with `pytest -k`, e.g. `-k "A-agg_groupby"` or `-k "K-"`.
"""

from __future__ import annotations

import pytest

from scripts.adversarial import (
    EXPECT_LOUD,
    KNOWN_BOUNDARY,
    ORACLE_PINNED,
    SCENARIOS,
    _clone,
)

from data_webhooks_spark import registry
from data_webhooks_spark.oracle import compare_frames, duck_connect

# Builder tier: the scenario x key matrix is far over the default
# run's budget. See pytest.ini.
pytestmark = pytest.mark.slowtier


@pytest.fixture(scope="module", params=sorted(SCENARIOS))
def scenario_dir(request, tmp_path_factory):
    """One mutated sf0.001 clone per scenario, shared by its keys."""
    tmp = tmp_path_factory.mktemp(f"sweep_{request.param}_")
    return request.param, _clone(str(tmp), SCENARIOS[request.param])


@pytest.mark.parametrize("key", sorted(registry.queries()))
def test_adversarial_scenarios(spark, scenario_dir, key):
    sc, sf = scenario_dir
    if key in KNOWN_BOUNDARY.get(sc, set()):
        pytest.skip(f"documented engine boundary for {sc}:{key}")
    if key in ORACLE_PINNED:
        pytest.skip("oracle reads driver-dir-pinned twins")
    qs, osql = registry.queries(), registry.oracle_sql()
    if key in EXPECT_LOUD.get(sc, set()):
        with pytest.raises(Exception):
            qs[key](spark, sf).toPandas()
        return
    if key not in osql:
        # rows-only key: no parity possible — the contract is that it
        # EXECUTES on the mutated clone (crash class, r11 sweep)
        assert qs[key](spark, sf).count() >= 0
        return
    sp = qs[key](spark, sf).toPandas()
    con = duck_connect(sf)
    try:
        du = con.execute(osql[key]).df()
    finally:
        con.close()
    probs = compare_frames(sp, du)
    assert not probs, f"{sc}:{key} diverged: {probs}"
