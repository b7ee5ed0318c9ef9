"""Full per-key benchmark: Spark vs the DuckDB oracle (BASELINE.md §protocol).

Produces BENCH.json at the repo root: {key: {"duckdb_s": m, "spark_s": m,
"ratio": spark/duckdb}} for every sql-oracle key at $SPARK_GRAFT_SF_DIR
(default sf0.1), median of N runs after one warmup on each engine.

Resumable: keys already present in BENCH.json are skipped, so the run
can be split across invocations. Delete BENCH.json to re-measure.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_webhooks_spark import registry  # noqa: E402
from data_webhooks_spark.session import get_spark  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.json")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
DEADLINE_S = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "480"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    results: dict = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            results = json.load(f)

    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("dws-bench-full")
    qs, osql = registry.queries(), registry.oracle_sql()
    t_start = time.time()
    meta = results.setdefault("_meta", {"sessions": []})
    # Stale keys (renamed/retired since the matrix was started) would
    # otherwise silently block the overall/median summary forever
    # (len(done) could never equal len(osql)) — prune them loudly.
    stale = [k for k in results if k != "_meta" and k not in osql]
    if stale:
        for k in stale:
            print(f"WARNING: pruning stale BENCH.json key {k!r} (not in oracle_sql())")
            del results[k]
        with open(OUT, "w") as f:  # persist immediately — a crash or
            json.dump(results, f, indent=1, sort_keys=True)  # deadline
            # before the first key completes must not resurrect them
    pending = [k for k in sorted(osql) if k not in results]
    # Stamp the session so cross-round ratio comparisons are honest: a
    # matrix mixing hosts/load levels (the r9 problem) is flagged by
    # sessions > 1 in _meta. Only invocations that MEASURE something
    # append a session — a no-op resume stamps nothing (r10 advice).
    if pending:
        meta["sessions"].append(
            {
                "host": os.uname().nodename,
                "cpus": os.cpu_count(),
                "load1_at_start": round(os.getloadavg()[0], 2),
                "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "sf_dir": sf_dir,
                "runs": RUNS,
            }
        )
    for k in pending:
        if time.time() - t_start > DEADLINE_S:
            print(f"deadline reached; {len([x for x in pending if x not in results])} keys left")
            break
        d_times = []
        con.execute(osql[k]).df()  # warmup
        for _ in range(RUNS):
            t0 = time.perf_counter()
            con.execute(osql[k]).df()
            d_times.append(time.perf_counter() - t0)
        s_times = []
        qs[k](spark, sf_dir).toPandas()  # warmup
        for _ in range(RUNS):
            # drop persisted relations between runs (see
            # scale_sweep.py: regutil.pin'd subtrees are plan-keyed and would
            # be silently reused, measuring only post-cache stages)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[k](spark, sf_dir).toPandas()
            s_times.append(time.perf_counter() - t0)
        d_m, s_m = statistics.median(d_times), statistics.median(s_times)
        results[k] = {
            "duckdb_s": round(d_m, 4),
            "spark_s": round(s_m, 4),
            "ratio": round(s_m / d_m, 2) if d_m > 0 else None,
        }
        with open(OUT, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(k, results[k], flush=True)
    done = [k for k in results if k != "_meta"]
    ratios = [results[k]["ratio"] for k in done if results[k].get("ratio")]
    if len(done) != len(osql):
        print(f"summary not stamped: {len(osql) - len(done)} keys still pending")
    if len(done) == len(osql):
        tot_s = sum(results[k]["spark_s"] for k in done)
        tot_d = sum(results[k]["duckdb_s"] for k in done)
        meta["overall_ratio"] = round(tot_s / tot_d, 2)
        meta["median_key_ratio"] = round(statistics.median(ratios), 2)
        meta["spark_total_s"] = round(tot_s, 2)
        meta["duckdb_total_s"] = round(tot_d, 2)
        with open(OUT, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    print(f"done: {len(done)}/{len(osql)} keys in {OUT}")


if __name__ == "__main__":
    main()
