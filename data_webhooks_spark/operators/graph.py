"""Graph operators over relational-derived edge lists (SURVEY §2.12b).

Analytics engines grow graph questions out of their fact tables —
"which products anchor the co-purchase network" is PageRank over the
parts-bought-together graph. The iterative-algorithm pattern here
complements `dedup_cluster`'s min-label propagation: a FIXED number of
power-method sweeps, each one join + one aggregate, driven by a plain
Python loop over DataFrames (the loop unrolls into one Catalyst plan
per iteration; nothing collects to the driver).

Determinism discipline: PageRank in floating point is a sum over
in-neighbors — accumulation-order-dependent, the classic cross-engine
hash-mismatch. The whole computation here stays in BIGINT "rank
units" (1e12 = mass 1.0): integer division for the damping split and
per-edge contributions, integer sums for the gather. Both engines do
identical integer arithmetic, so ranks match bit-for-bit with no
rounding budget at all. The truncation loss per node per sweep is
< deg units (~1e-9 of total mass) — far below any analytic use and,
crucially, *identically lost* on both sides.

Scale notes (100 TB): the edge build is one self-equi-join on the
order key (co-partitioned by l_orderkey; order groups are small so
the join output is bounded by Σ group²). Each sweep shuffles the edge
list once on dst — the same key every iteration, so a pre-partitioned
edge table makes sweeps exchange-free; ranks live in an
aggregate-sized (node, units) table, never materialized to the
driver.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import Tables
from ..norms import qnt
from ..regutil import pin, registrar

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)

_SCALE = 1_000_000_000_000  # rank units per 1.0 of probability mass
_ITERS = 3
_D_NUM, _D_DEN = 85, 100  # damping 0.85 as an exact rational


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (standard SQL
    forbids aggregation in a recursive term, and a fixed sweep count
    unrolls into portable plain CTEs anyway). Each sweep re-joins the
    degree table so the contribution divides by the SOURCE's own
    out-degree."""
    sql = f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    basec AS (
        SELECT CAST({_SCALE} * {_D_DEN - _D_NUM} // ({_D_DEN} * n)
                    AS BIGINT) AS b
        FROM nn
    ),
    r0 AS (
        SELECT deg.src AS node, CAST({_SCALE} // nn.n AS BIGINT) AS ru
        FROM deg CROSS JOIN nn
    )"""
    prev = "r0"
    for i in range(1, _ITERS + 1):
        sql += f""",
    r{i} AS (
        SELECT e.dst AS node,
               (SELECT b FROM basec)
                 + SUM(p.ru * {_D_NUM} // ({_D_DEN} * dg.d)) AS ru
        FROM {prev} p
        JOIN deg dg ON dg.src = p.node
        JOIN edges e ON e.src = p.node
        GROUP BY e.dst
    )"""
        prev = f"r{i}"
    return (
        sql
        + f"""
    SELECT r.node, CAST(dg.d AS BIGINT) AS degree,
           CAST(r.ru AS BIGINT) AS pr_units
    FROM {prev} r JOIN deg dg ON dg.src = r.node
    """
    )


@op("graph_pagerank", sql=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank (Brin & Page '98) over the parts-bought-together
    graph: nodes are parts, with a directed edge each way between
    parts sharing an order; 3 power-method sweeps at damping 0.85.
    Co-occurrence is symmetric, so every node has in- and out-degree
    ≥ 1: no dangling mass, and the inner gather join drops nothing.

    All arithmetic is BIGINT rank units (module docstring): per-edge
    contribution ``ru * 85 div (100 * deg)`` (Spark `div` and DuckDB
    `//` agree on non-negative operands), gathered with an exact
    integer sum, plus the damping base — bit-identical across engines
    with no float rounding budget. The Python loop unrolls 3 sweeps
    declaratively; each sweep is one equi-join (edge list × rank
    table) + one groupBy on the same dst key."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey")
    b = li.select(
        F.col("l_orderkey").alias("bok"), F.col("l_partkey").alias("dst")
    )
    # Materialized MEMORY_AND_DISK pins (eager count): the unrolled
    # 3-sweep plan references the edge list in every contrib join and
    # the degree table in every
    # rank rebuild — unpinned, Catalyst re-runs the lineitem self-join
    # + distinct ~7x (measured 5-7 s at sf0.1; 4.4 s pinned — the
    # residual is the one honest edge build: a 2.4M-row pair distinct
    # plus 3 join+agg sweeps). At cluster scale the resident edge list
    # is what any power-method implementation keeps between sweeps;
    # persist (not checkpoint) keeps it recomputable on executor loss.
    edges = pin(
        li.join(b, li["l_orderkey"] == b["bok"])
        .filter(li["l_partkey"] != b["dst"])
        .select(li["l_partkey"].alias("src"), "dst")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    deg = pin(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    # 1-row scalars: node count -> uniform start mass + damping base
    scalars = deg.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(f"{_SCALE} div n").alias("ru0"),
        F.expr(f"({_SCALE} * {_D_DEN - _D_NUM}) div ({_D_DEN} * n)").alias(
            "base"
        ),
    )
    # (node, d, base, ru0) computed and pinned ONCE (r13): the old
    # loop re-derived deg ⋈ broadcast(scalars) inside every sweep's
    # rank rebuild — 3 extra scalar-aggregate jobs and 3 extra
    # broadcast builds whose latency showed up as a 17.5 s-runTime /
    # 0.3 s-CPU pure-wait stage in the profile. Same integer values by
    # construction (the scalars are deterministic aggregates of the
    # pinned degree table); interleaved warm A/B 6.3 -> 5.4 s at
    # sf0.1, output hash identical.
    nd = pin(
        deg.crossJoin(F.broadcast(scalars)).select(
            F.col("src").alias("node"), "d", "base", "ru0"
        ),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    r = nd.select("node", "d", "base", F.col("ru0").alias("ru"))
    for _ in range(_ITERS):
        contrib = r.join(edges, r["node"] == edges["src"]).select(
            F.col("dst"),
            F.expr(f"ru * {_D_NUM} div ({_D_DEN} * d)").alias("c"),
        )
        gathered = contrib.groupBy("dst").agg(F.sum("c").alias("sc"))
        r = nd.join(gathered, nd["node"] == gathered["dst"]).select(
            "node",
            "d",
            "base",
            (F.col("base") + F.col("sc")).alias("ru"),
        )
    return r.select(
        "node",
        F.col("d").cast("long").alias("degree"),
        F.col("ru").cast("long").alias("pr_units"),
    )


@op(
    "graph_triangle_count",
    sql="""
    WITH und AS (
        SELECT DISTINCT
               LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (du.d, u.u) < (dv.d, u.v) THEN u.u ELSE u.v END AS s,
               CASE WHEN (du.d, u.u) < (dv.d, u.v) THEN u.v ELSE u.u END AS t
        FROM und u
        JOIN deg du ON du.node = u.u
        JOIN deg dv ON dv.node = u.v
    ),
    wedges AS (
        SELECT e1.t AS b, e2.t AS c
        FROM oriented e1 JOIN oriented e2
          ON e1.s = e2.s AND e1.t < e2.t
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*)
            FROM wedges w
            JOIN und o ON o.u = w.b AND o.v = w.c)
               AS n_triangles
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Exact triangle counting on the co-purchase graph via
    DEGREE-ORDERED edge orientation (Suri & Vassilvitskii WWW'11,
    "counting triangles and the curse of the last reducer"): direct
    every undirected edge from its lower-(degree, id) endpoint to the
    higher one, enumerate wedges only among each node's ORIENTED
    out-neighbors, and close them against the oriented edge set. Each
    triangle is counted exactly once, and — the scale point — a hub
    of degree D contributes O(√m)-bounded oriented out-degree instead
    of D² wedges, which is precisely what stops the hottest reducer
    from owning the whole job at 100 TB. Since r13 the wedge/closure
    counting runs on per-source out-neighbor ARRAYS (adjacency join +
    array_intersect) instead of materializing each wedge as a join
    row — same counts by construction, ~2x less CPU; the attach joins
    are plain equi-joins so AQE handles residual skew.

    Everything is exact integer counting — no determinism budget
    needed; the DuckDB twin runs the identical orientation. Output is
    the graph profile (nodes, undirected edges, oriented wedges,
    triangles) as one row."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey")
    b = li.select(
        F.col("l_orderkey").alias("bok"), F.col("l_partkey").alias("pk2")
    )
    # Materialized pins (the graph_pagerank pattern): `und`
    # feeds four consumers (deg, oriented, the closing join, n_edges)
    # and `oriented` two — unpinned, Catalyst re-runs the lineitem
    # self-join + distinct (the 4.7 s cold / 2.6 s warm profile term)
    # once per consumer. Locally the combined pin + single wedge pass
    # lands 7.4 -> 6.7 s (the 41M-wedge closing join is the
    # irreducible term); at cluster scale, not re-running a
    # lineitem-sized self-join 4x is the point, and persist keeps
    # every pin recomputable on executor loss.
    und = pin(
        li.join(b, li["l_orderkey"] == b["bok"])
        .filter(li["l_partkey"] != b["pk2"])
        .select(
            F.least(li["l_partkey"], b["pk2"]).alias("u"),
            F.greatest(li["l_partkey"], b["pk2"]).alias("v"),
        )
        .distinct(),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    deg = pin(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d")),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = pin(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        ),
        StorageLevel.MEMORY_AND_DISK, eager=True
    )
    # Wedge and triangle counts via per-source ADJACENCY ARRAYS (r13,
    # guide §2.3/§1.2 "make the plan match the cheapest execution"):
    # the previous form enumerated every wedge as a JOIN ROW —
    # oriented ⋈ oriented on s (t < t2), then a (b, c) probe against
    # the canonical edge set — 41M wedge rows through codegen at
    # sf0.1, measured 130-200 s of executor CPU per run (the key's
    # dominant term). The same two counts come straight from the
    # out-neighbor arrays:
    #   n_wedges   = Σ_s C(|N+(s)|, 2) — out-neighbors are DISTINCT
    #     (distinct und × injective orientation), so the t < t2 pair
    #     count per source is exactly the binomial;
    #   n_triangles = Σ_{(u,v) ∈ oriented} |N+(u) ∩ N+(v)| — each
    #     triangle is counted exactly once, at its unique apex (the
    #     total-order minimum has oriented edges to both others, and
    #     the third edge's own orientation picks the one probe edge
    #     (u,v) whose shared out-neighbor is the triangle's third
    #     node).
    # Byte-identical totals measured at sf0.1 (41,087,491 wedges /
    # 1,884,488 triangles) with 2.2x less CPU in an interleaved
    # best-of-3 (4.6-4.9 s -> 2.1-2.2 s for this phase): per wedge,
    # one hash-set probe inside array_intersect replaces join-row
    # production + a two-column hash-join probe. Scale: |N+| is
    # O(√m)-bounded by the degree orientation (no hub blowup inside a
    # single array), adj is O(|V|) rows / O(|E|) total payload, and
    # both attach joins stay AQE-decided — no broadcast hint, same
    # corpus-scale OOM rationale as the dedup sizes joins.
    # COALESCE(…, 0): SUM over an empty graph is NULL where the old
    # COUNT form returned 0 (empty-input sweep contract).
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nb"))
    nbu = adj.select(F.col("s").alias("us"), F.col("nb").alias("nbu"))
    nbv = adj.select(F.col("s").alias("vs"), F.col("nb").alias("nbv"))
    wedge_tri = (
        oriented.join(nbu, F.col("s") == F.col("us"))
        .join(nbv, F.col("t") == F.col("vs"))
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("nbu", "nbv"))), F.lit(0)
            )
            .cast("long")
            .alias("n_triangles")
        )
        .crossJoin(
            adj.agg(
                F.coalesce(
                    F.sum(F.expr("size(nb) * (size(nb) - 1) div 2")),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_wedges")
            )
        )
    )
    counts = [
        deg.agg(F.count(F.lit(1)).alias("n_nodes")),
        und.agg(F.count(F.lit(1)).alias("n_edges")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)  # 1-row x 1-row scalar attaches
    return out.crossJoin(wedge_tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )


@op(
    "graph_degree_stats",
    sql="""
    WITH und AS (
        SELECT DISTINCT
               LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
        ) GROUP BY node
    ),
    dist AS (
        SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY d
    )
    SELECT degree, n_nodes,
           CAST(SUM(n_nodes) OVER (ORDER BY degree) AS BIGINT)
               AS cum_nodes,
           FLOOR(CAST(n_nodes AS DOUBLE)
                 / SUM(n_nodes) OVER () * 1e6 + 0.5) / 1e6 AS pct_nodes
    FROM dist
    """,
)
def graph_degree_stats(spark, sf_dir):
    """Degree distribution of the co-purchase graph — the first plot
    anyone makes of a new graph, and the sanity gate before running
    `graph_pagerank`/`graph_triangle_count` on it (a max degree near
    |V| means the orientation trick is load-bearing; a flat
    distribution means it isn't): per undirected degree, how many
    nodes have it, the running node count by degree, and each
    degree's share of all nodes.

    Exact integer counting end-to-end; the single float (share) is
    one division quantized to 1e-6. The share/cumulative pass uses
    window sums over the DISTINCT-DEGREE table — bounded by the max
    degree, never by |V| — instead of a scalar cross-attach.

    Scale (100 TB): the edge build is the shared co-partitioned
    self-join (bounded by Σ per-order group²); degrees are one
    map-combinable groupBy on node, the distribution a second on
    degree — each collapses cardinality by orders of magnitude before
    the next step, and the window pass touches only the final
    ~hundreds of rows."""
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey")
    b = li.select(
        F.col("l_orderkey").alias("bok"), F.col("l_partkey").alias("pk2")
    )
    und = (
        li.join(b, li["l_orderkey"] == b["bok"])
        .filter(li["l_partkey"] != b["pk2"])
        .select(
            F.least(li["l_partkey"], b["pk2"]).alias("u"),
            F.greatest(li["l_partkey"], b["pk2"]).alias("v"),
        )
        .distinct()
        # NOT checkpointed: since the explode rewrite below, `und` has
        # exactly one consumer, so there is nothing to deduplicate.
        # (Historical: under the old two-branch unionAll a checkpoint
        # A/B measured 2.76 s either way — materialization cancelled
        # the saved recompute.)
    )
    # One scan, not two: the unionAll form ran the whole edge build
    # (scan -> broadcast self-join -> distinct Exchange) once PER
    # BRANCH — the r12 plan showed zero exchange reuse between them.
    # explode(array(u, v)) emits the identical node multiset from a
    # single pass; the degree counts are unchanged.
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    w_cum = Window.orderBy("degree")
    w_all = Window.partitionBy()
    return dist.select(
        "degree",
        "n_nodes",
        F.sum("n_nodes").over(w_cum).cast("long").alias("cum_nodes"),
        qnt(
            F.col("n_nodes").cast("double") / F.sum("n_nodes").over(w_all),
            "pct_nodes",
        ),
    )
