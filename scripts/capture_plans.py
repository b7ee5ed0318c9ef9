"""Capture .explain("formatted") for a set of keys into
plans/$SPARK_GRAFT_PLAN_ROUND/ (default plans/r13/), one
``<key>_<tag>.txt`` per key.

Usage: python scripts/capture_plans.py before|after [key ...]
Defaults to the bench.py HEADLINE set when no keys are given.

Streaming keys (whose callables run an availableNow replay and return a
batch DataFrame) get the plan of the RETURNED DataFrame — that is the
computation the bench times end-to-end, and the micro-batch plans are
not capturable post-hoc; a note line records this.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_webhooks_spark import registry  # noqa: E402
from data_webhooks_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HEADLINE = [
    "agg_groupby", "join_multiway", "join_asof", "win_ranking",
    "topn_per_group", "agg_cube", "dedup_minhash", "sim_cosine_brute",
    "text_tfidf", "stream_tumbling_agg",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    keys = sys.argv[2:] or HEADLINE
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r13"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    qs = registry.queries()
    for k in keys:
        df = qs[k](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue()
        path = os.path.join(out_dir, f"{k}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {k} @ {SF_DIR} ({tag})\n")
            f.write(text)
        n_exch = text.count("Exchange")
        n_py = text.count("EvalPython") + text.count("MapInPandas") + text.count("MapInArrow") + text.count("FlatMapGroupsInPandas")
        print(f"{k}: exchanges={n_exch} python_nodes={n_py} -> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
