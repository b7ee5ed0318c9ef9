"""Similarity-search operators (SURVEY.md §2.10).

- sim_cosine_brute: exact top-k, small broadcast query side — the
  correctness baseline (and DuckDB-oracle'd).
- knn_join: exact k-NN majority-vote labeling, same brute shape.
- sim_ann_lsh: random-hyperplane LSH built from pure DataFrame ops
  (seed-pinned deterministic projections) — candidates from bucket
  collisions; the shape that scales to 100 TB.
- ann_ivf: IVF-style coarse quantization (seeded KMeans centroids,
  probe nearest cells only).

Cosine arithmetic is double-promoted and reduced in list order on both
engines, then rounded to 6 — ordering ties broken by vec_id.
"""

from __future__ import annotations

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import Tables, derived, read_parquet, source_fingerprint
from ..norms import qnt
from ..regutil import registrar, spread

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)


def _norm_df(t):
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return t.embeddings.select(
        "vec_id",
        "label",
        e.alias("e"),
        F.sqrt(F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )


def _pad_centroids(cs: list, k: int) -> list:
    """Spark ML KMeans returns FEWER than k centers when the data has
    fewer distinct points (the clone-storm degenerate: every vector
    identical -> 1 center), and the PQ encoders index centers[k]
    through a fixed range(K) — an IndexError found by the r11
    rows-only adversarial sweep. Pad by repeating the LAST center:
    padded entries are exact duplicates, every argmin tie-break in
    this module picks the SMALLEST code, so a padded code is never
    emitted and behavior is bit-unchanged whenever the fit returns
    the full k (the fixtures always do — pinned by the codes-dense
    quality floor in tests/test_quality.py)."""
    cs = list(cs)
    if cs and len(cs) < k:
        cs = cs + [cs[-1]] * (k - len(cs))
    return cs


def _empty_embeddings_guard(spark, t, schema: str):
    """Empty-corpus early return (r12 scenario-K finding: every fact
    table empty crashed the three KMeans-backed keys — Spark ML
    raises on zero input rows). Empty input must yield an EMPTY
    result of the documented schema, never an exception. The probe is
    take(1) (first-non-empty-partition cost, not a count), and it is
    a no-op on every fixture (all non-empty), so existing records and
    plans are byte-unchanged."""
    if t.embeddings.take(1):
        return None
    return spark.createDataFrame([], schema)


def _first_occurrence_cells(coarse: list) -> list[int]:
    """Indices of the DISTINCT centers in a (possibly padded) coarse
    codebook — i.e. the cells that can actually own vectors, since
    every argmin tie-break in this module assigns to the first
    occurrence. Query probe rankings must be built over these only:
    a padded duplicate would burn an nprobe slot on a cell that is
    empty by construction (r11 ADVICE finding)."""
    return [i for i, c in enumerate(coarse) if c not in coarse[:i]]


def _dot(a_col: str, b_col: str):
    return F.aggregate(
        F.zip_with(F.col(a_col), F.col(b_col), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_COS_CTE = """
    WITH d AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM d)
"""


@op(
    "sim_cosine_brute",
    sql=_COS_CTE
    + """
    SELECT q_id, n_id, cos_sim FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                            c.vec_id
               ) AS rn
        FROM n q JOIN n c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
    ) WHERE rn <= 5
    """,
)
def sim_cosine_brute(spark, sf_dir):
    """Exact top-5 cosine neighbors for the first 20 query vectors:
    broadcast the (small) query side, scan the corpus once, rank per
    query. At 100 TB the corpus side stays partitioned; only queries
    move."""
    t = Tables(spark, sf_dir)
    d = _norm_df(t)
    q = d.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = d.select(F.col("vec_id").alias("n_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn"))
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@op(
    "knn_join",
    sql=_COS_CTE
    + """
    , neigh AS (
        SELECT q_id, n_label FROM (
            SELECT q.vec_id AS q_id, c.label AS n_label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
                                c.vec_id
                   ) AS rn
            FROM n q JOIN n c ON q.vec_id < 100 AND c.vec_id <> q.vec_id
        ) WHERE rn <= 5
    )
    SELECT q_id, pred_label, votes FROM (
        SELECT q_id, n_label AS pred_label, COUNT(*) AS votes,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY COUNT(*) DESC, n_label
               ) AS vr
        FROM neigh GROUP BY q_id, n_label
    ) WHERE vr = 1
    """,
)
def knn_join(spark, sf_dir):
    """k-NN label prediction: exact top-5 neighbors per query vector,
    majority vote with (count DESC, label ASC) tiebreak."""
    t = Tables(spark, sf_dir)
    d = _norm_df(t)
    q = d.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    c = d.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    neigh = (
        F.broadcast(q)
        .join(c, F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "n_label", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    wv = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("pred_label"))
    return (
        neigh.groupBy("q_id", F.col("n_label").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .drop("vr")
    )


@op("sim_ann_lsh")
def sim_ann_lsh(spark, sf_dir):
    """Approximate NN via banded random-hyperplane LSH composed from
    DataFrame ops: 8 hash tables x 4 seeded hyperplanes each; a vector
    emits one (table, 4-bit key) row per table, QUERIES additionally
    probe every bucket at Hamming distance 1 from their key
    (multi-probe, Lv et al. VLDB'07), candidates are bucket
    collisions in ANY table (equi-join on (table, key)), then exact
    cosine re-rank keeps top-5. Deterministic (fixed seed -> fixed
    planes) but approximate -> rows-only; agreement with the exact
    brute cosines is asserted in tests, and measured recall vs brute
    force is recorded in BASELINE.md (scripts/approx_quality.py).

    The (tables, bits) point is the standard recall/candidate-count
    trade (Indyk-Motwani): for the fixture's weakly-clustered 64-dim
    embeddings, per-bit collision probability for true top-5 pairs is
    ~0.6-0.7, so 4 tables x 6 bits collided at only ~(0.65^6)x4 ~ 25%
    per pair (measured recall@5 0.08); 8 x 4 lifted the per-table
    probability to ~0.18 (measured recall@5 0.67), and query-side
    multi-probe closes the rest: measured recall@5 1.00 at (1+BITS)x
    query rows with the corpus index untouched — the cheapest recall
    lever, since query cardinality is negligible next to corpus
    shuffle volume. At 100 TB, BITS grows with log(corpus) to hold
    per-bucket cardinality (Hamming-1 probes stay BITS+1 of 2^BITS
    buckets — a shrinking fraction), and TABLES buys recall linearly
    in shuffle volume.

    This is the 100 TB shape: candidates come from a hash join on
    exploded band keys, never a cross join; more tables = more recall,
    linearly more shuffle.
    """
    import random

    from ..schemas import EMBEDDING_DIM

    N_TABLES, BITS = 8, 4
    rnd = random.Random(42)
    planes = [
        [
            [rnd.gauss(0.0, 1.0) for _ in range(EMBEDDING_DIM)]
            for _ in range(BITS)
        ]
        for _ in range(N_TABLES)
    ]

    t = Tables(spark, sf_dir)
    d = _norm_df(t)

    def band_key(e_col, table: int):
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        e_col,
                        F.array(*[F.lit(v) for v in planes[table][b]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit(1 << b),
            ).otherwise(F.lit(0))
            for b in range(BITS)
        ]
        out = bits[0]
        for bb in bits[1:]:
            out = out + bb
        return out

    def banded(df, id_alias, multiprobe=False):
        entries = []
        for tb in range(N_TABLES):
            key = band_key(F.col("e"), tb)
            entries.append(
                F.struct(F.lit(tb).alias("table"), key.alias("key"))
            )
            if multiprobe:
                # multi-probe (Lv et al., VLDB'07): also visit every
                # bucket at Hamming distance 1 from the query's key —
                # QUERY SIDE ONLY, so the corpus index and its shuffle
                # volume are untouched; recall rises from bit-flip
                # near-misses at (1+BITS)x query rows (queries are
                # ~20 rows; the corpus is the 100 TB side).
                for b in range(BITS):
                    entries.append(
                        F.struct(
                            F.lit(tb).alias("table"),
                            key.bitwiseXOR(F.lit(1 << b)).alias("key"),
                        )
                    )
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col("e"),
            F.col("nrm"),
            F.explode(F.array(*entries)).alias("bk"),
        ).select(id_alias, "e", "nrm", "bk.table", "bk.key")

    q = banded(
        d.filter(F.col("vec_id") < 20), "q_id", multiprobe=True
    ).withColumnsRenamed({"e": "qe", "nrm": "qn"})
    c = banded(d, "n_id").withColumnsRenamed({"e": "ce", "nrm": "cn"})
    cand = (
        F.broadcast(q)
        .join(c, ["table", "key"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", "qe", "qn", "ce", "cn")
        .dropDuplicates(["q_id", "n_id"])
    )
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        cand.select("q_id", "n_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@op("ann_ivf")
def ann_ivf(spark, sf_dir):
    """IVF-style ANN (inverted-file coarse quantization, as in Jégou
    et al., TPAMI 2011): seeded KMeans coarse centroids; each query
    probes its nprobe=3 nearest cells of 8 (scanning ~3/8 of the
    corpus), exact cosine re-rank inside them. Demonstrates the
    partition-pruning ANN shape (cells ≈ partitions at scale; nprobe
    is the standard recall/scan-fraction knob — measured recall@3
    0.33 / 0.52 / 0.65 at probe 1 / 2 / 3 on the fixture's
    weakly-clustered vectors, near-linear in scanned fraction;
    numbers recorded in BASELINE.md via scripts/approx_quality.py).
    The probe ranking runs as a codegen higher-order expression over
    the 8 broadcast centroid literals — no second ML pass."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    NPROBE = 3
    t = Tables(spark, sf_dir)
    empty = _empty_embeddings_guard(
        spark, t, "q_id bigint, n_id bigint, cos_sim double"
    )
    if empty is not None:
        return empty
    d = _norm_df(t).withColumn("fv", array_to_vector(F.col("e")))
    km = KMeans(k=8, seed=42, featuresCol="fv", predictionCol="cell")
    model = km.fit(d)
    assigned = model.transform(d).select("vec_id", "e", "nrm", "cell")

    centers = model.clusterCenters()

    def dist2(e_col, cvals):
        c = F.array(*[F.lit(float(v)) for v in cvals])
        return F.aggregate(
            F.zip_with(e_col, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    probe = F.array(
        *[
            F.struct(
                dist2(F.col("e"), centers[i]).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i in range(len(centers))
        ]
    )
    q = (
        assigned.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("nrm").alias("qn"),
            F.explode(F.slice(F.array_sort(probe), 1, NPROBE)).alias("pc"),
        )
        .select("q_id", "qe", "qn", F.col("pc.cell").alias("qcell"))
    )
    c = assigned.select(
        F.col("vec_id").alias("n_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
        F.col("cell").alias("ccell"),
    )
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        F.broadcast(q)
        .join(c, (F.col("qcell") == F.col("ccell")) & (F.col("n_id") != F.col("q_id")))
        .select("q_id", "n_id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@op(
    "embed_quantize_int8",
    sql="""
    WITH d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0
                    THEN 1.0
                    ELSE list_max(list_transform(e, x -> abs(x))) / 127
               END AS scale
        FROM d
    )
    SELECT vec_id,
           scale,
           array_to_string(list_transform(e, x -> CAST(LEAST(GREATEST(
               FLOOR(x / scale + 0.5), -127), 127) AS INT)), ',') AS qvec_csv,
           list_max(list_transform(e, x -> abs(CAST(LEAST(GREATEST(
               FLOOR(x / scale + 0.5), -127), 127) AS DOUBLE) * scale - x)))
               AS max_abs_err
    FROM s
    """,
)
def embed_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding column —
    the standard 4x storage/bandwidth compression step before an ANN
    index or training-data shipping (absmax scaling as popularized by
    LLM.int8, Dettmers et al., NeurIPS 2022): scale = max|x|/127,
    q = clamp(floor(x/scale + 0.5), -127, 127), plus the max absolute
    reconstruction error as a quality yardstick.

    Everything is built-in higher-order functions (transform/zip_with/
    array_max) inside whole-stage codegen — row-local, no shuffle, no
    Python; the all-zero-vector edge case pins scale=1 identically on
    both engines, and rounding is the repo-standard floor(x+0.5) (both
    engines agree on every tie, unlike ROUND's dialect-specific
    half-even/half-up).

    The int8 vector ships as a ','-joined scalar (`qvec_csv`) rather
    than a raw array<int>: the driver's canonicalizer sorts every
    output column with pandas and cannot hash/sort ndarray cells (the
    r5 red row; same fix as agg_collect in r1). Integer-to-string
    formatting is dialect-stable, so the CSV is byte-identical on
    both engines and the full vector stays hash-checked."""
    t = Tables(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = t.embeddings.select("vec_id", e.alias("e"))
    amax = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    s = d.withColumn(
        "scale", F.when(amax == 0, F.lit(1.0)).otherwise(amax / 127)
    )
    q = F.transform(
        F.col("e"),
        lambda x: F.least(
            F.greatest(F.floor(x / F.col("scale") + 0.5), F.lit(-127)),
            F.lit(127),
        ).cast("int"),
    )
    err = F.array_max(
        F.zip_with(
            q,
            F.col("e"),
            lambda qq, x: F.abs(qq.cast("double") * F.col("scale") - x),
        )
    )
    return s.select(
        "vec_id",
        "scale",
        F.concat_ws(",", q.cast("array<string>")).alias("qvec_csv"),
        err.alias("max_abs_err"),
    )


@op("embed_pq")
def embed_pq(spark, sf_dir):
    """Product quantization (Jégou et al., TPAMI 2011): the 64-dim
    float embedding compresses to M=4 sub-codes of K=16 centroids —
    4 nibbles (~2 bytes) per vector vs 256 bytes raw, the 128×
    compression that makes billion-vector ANN indexes fit in memory
    at 100 TB corpus scale. Completes the embedding-compression
    family: int8 scalar quantization (`embed_quantize_int8`) halves
    bytes with per-dim rounding; PQ halves them ~100× by quantizing
    SUBSPACES jointly; `ann_ivf`'s coarse cells compose with both
    (IVF-PQ is exactly cells + per-cell PQ codes).

    Training is M seeded KMeans fits over the sub-slices (driver-side
    ML, centroid tables are tiny); ENCODING is one scan with the
    4×16 centroid table inlined as codegen literals — argmin per
    subspace via array_min over (distance, code) structs, no ML
    transform pass, no UDF, embarrassingly parallel. Rows-only by
    design (centroids aren't SQL-derivable); the quality bar —
    reconstruction MSE ≪ per-dim variance, codes dense in [0,16) —
    is asserted in tests and recorded in BASELINE.md."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    M, K, SUB = 4, 16, 16  # 4 subspaces x 16 dims, 16 centroids each
    t = Tables(spark, sf_dir)
    empty = _empty_embeddings_guard(
        spark,
        t,
        "vec_id bigint, label int, codes_csv string, recon_mse double",
    )
    if empty is not None:
        return empty
    d = t.embeddings.select(
        "vec_id", "label", F.col("embedding").alias("e")
    )

    def subcol(m):
        return F.slice(F.col("e"), m * SUB + 1, SUB)

    centers = []
    for m in range(M):
        fv = d.select(array_to_vector(subcol(m)).alias("fv"))
        km = KMeans(k=K, seed=42 + m, featuresCol="fv", predictionCol="c")
        centers.append(
            _pad_centroids([list(c) for c in km.fit(fv).clusterCenters()], K)
        )

    def dist2(sub, cvals):
        c = F.array(*[F.lit(float(v)) for v in cvals])
        return F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def best(m):
        arr = F.array(
            *[
                F.struct(
                    dist2(subcol(m), centers[m][k]).alias("d"),
                    F.lit(k).alias("k"),
                )
                for k in range(K)
            ]
        )
        return F.array_min(arr)  # (min distance, smallest code on tie)

    picks = [best(m) for m in range(M)]
    total_d2 = picks[0]["d"]
    for p in picks[1:]:
        total_d2 = total_d2 + p["d"]
    return d.select(
        "vec_id",
        "label",
        # ','-joined scalar, not array<int>: keeps every output column
        # hashable under the driver's pandas sort canon (rows-only keys
        # are exempt today, but the registry-wide dtype lint holds all
        # 215 keys to the same scalar-output discipline).
        F.concat_ws(
            ",", F.array(*[p["k"] for p in picks]).cast("array<string>")
        ).alias("codes_csv"),
        (total_d2 / F.lit(float(M * SUB))).alias("recon_mse"),
    )


# embeddings fingerprint -> (coarse, pq)
_IVFPQ_MEM: dict = {}
_IVFPQ_NCELLS, _IVFPQ_M, _IVFPQ_K, _IVFPQ_SUB = 8, 4, 16, 16


def _ivfpq_artifact(sf_dir, name):
    """``RUNTIME_DIR/ivfpq/<sf>/<name>`` and the embeddings fingerprint
    both index artifacts are keyed on."""
    from .layout import RUNTIME_DIR, _sf_name

    return (
        f"{RUNTIME_DIR}/ivfpq/{_sf_name(sf_dir)}/{name}",
        source_fingerprint(f"{sf_dir}/embeddings.parquet"),
    )


def _ivfpq_codebooks(spark, sf_dir):
    """Train-once IVF-PQ index artifacts: coarse centroids + RESIDUAL
    PQ codebooks (FAISS IVFPQ trains PQ on r = e − coarse[cell];
    residuals have a much smaller dynamic range than raw vectors, so
    the same 4×16-centroid budget quantizes them far more precisely —
    this closed most of the r6 recall gap to the nprobe cell ceiling).

    Training is a SEPARATE JOB from querying (FAISS train/add vs
    search): artifacts cache in-process and as JSON under .runtime
    keyed by the embeddings' source fingerprint (``io.derived``) — the
    r6 bench charged 5 in-query KMeans fits to every single query run,
    which the r6 verdict flagged as the key's real cost. Both fits are
    distributed Spark ML KMeans (seeded: coarse k=8 seed 42, PQ seeds
    42+m over codegen-computed residual slices)."""
    out, fp = _ivfpq_artifact(sf_dir, "codebooks")
    if fp in _IVFPQ_MEM:
        return _IVFPQ_MEM[fp]

    def train(tmp):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        NCELLS, M, K, SUB = _IVFPQ_NCELLS, _IVFPQ_M, _IVFPQ_K, _IVFPQ_SUB
        t = Tables(spark, sf_dir)
        # persist the training frames: KMeans re-reads its input once per
        # iteration, and without a cache every iteration would re-derive
        # norm/residual transforms from parquet — measured minutes at the
        # ×100 sweep scale vs seconds cached. This is a one-time index
        # BUILD job, where caching a bounded projection is the norm.
        d = (
            _norm_df(t)
            .withColumn("fv", array_to_vector(F.col("e")))
            .persist()
        )
        model = KMeans(
            k=NCELLS, seed=42, featuresCol="fv", predictionCol="cell"
        ).fit(d)
        coarse = _pad_centroids(
            [[float(v) for v in c] for c in model.clusterCenters()], NCELLS
        )
        carr = F.array(*[F.array(*[F.lit(v) for v in c]) for c in coarse])
        resid = (
            model.transform(d)
            .select(
                F.zip_with(
                    F.col("e"),
                    F.element_at(carr, F.col("cell") + 1),
                    lambda x, y: x - y,
                ).alias("r")
            )
            .persist()
        )
        pq = []
        for m in range(M):
            fv = resid.select(
                array_to_vector(F.slice(F.col("r"), m * SUB + 1, SUB)).alias("fv")
            )
            skm = KMeans(k=K, seed=42 + m, featuresCol="fv", predictionCol="c")
            pq.append(
                _pad_centroids(
                    [[float(v) for v in c] for c in skm.fit(fv).clusterCenters()],
                    K,
                )
            )
        resid.unpersist()
        d.unpersist()
        with open(f"{tmp}/codebooks.json", "w") as f:
            json.dump({"coarse": coarse, "pq": pq}, f)

    with open(f"{derived(out, fp, train)}/codebooks.json") as f:
        art = json.load(f)
    _IVFPQ_MEM[fp] = (art["coarse"], art["pq"])
    return _IVFPQ_MEM[fp]


def _ivfpq_dist2(sub, cvals):
    c = F.array(*[F.lit(float(v)) for v in cvals])
    return F.aggregate(
        F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ivfpq_index(spark, sf_dir):
    """The ADD step of the FAISS train/add/search lifecycle: assign
    every vector to its coarse cell and PQ-encode its residual ONCE,
    materializing (vec_id, cell, code0..3) as a tiny parquet under
    .runtime next to the codebooks. The search path scans this codes
    table (a few BIGINTs per vector — the "2 bytes, never the 256-byte
    embedding" memory story made literal) instead of re-encoding the
    whole corpus per query, which is what dominated the ×100 sweep
    before this split (13 s re-encode vs a sub-second codes scan)."""
    NCELLS, M, K, SUB = _IVFPQ_NCELLS, _IVFPQ_M, _IVFPQ_K, _IVFPQ_SUB
    coarse, pq = _ivfpq_codebooks(spark, sf_dir)

    def encode(out):
        t = Tables(spark, sf_dir)
        d = _norm_df(t)
        carr = F.array(
            *[F.array(*[F.lit(float(v)) for v in c]) for c in coarse]
        )
        cellpick = F.array_min(
            F.array(
                *[
                    F.struct(
                        _ivfpq_dist2(F.col("e"), coarse[i]).alias("d"),
                        F.lit(i).alias("cell"),
                    )
                    for i in range(NCELLS)
                ]
            )
        )
        assigned = d.select(
            "vec_id", "e", cellpick["cell"].alias("cell")
        )
        resid = F.zip_with(
            F.col("e"),
            F.element_at(carr, F.col("cell") + 1),
            lambda x, y: x - y,
        )

        def code(m):
            arr = F.array(
                *[
                    F.struct(
                        _ivfpq_dist2(
                            F.slice(F.col("r"), m * SUB + 1, SUB), pq[m][k]
                        ).alias("d"),
                        F.lit(k).alias("k"),
                    )
                    for k in range(K)
                ]
            )
            return F.array_min(arr)["k"]

        assigned.withColumn("r", resid).select(
            "vec_id",
            "cell",
            *[code(m).alias(f"code{m}") for m in range(M)],
        ).write.mode("overwrite").parquet(out)

    out, fp = _ivfpq_artifact(sf_dir, "codes")
    return coarse, pq, derived(out, fp, encode)


@op("ann_ivf_pq")
def ann_ivf_pq(spark, sf_dir):
    """IVF-PQ search: the composition the `ann_ivf` and `embed_pq`
    docstrings promise — coarse cells prune the corpus to
    nprobe/ncells of its vectors, and inside the probed cells
    distances are evaluated against RESIDUAL PQ codes via ADC
    (asymmetric distance computation, Jégou et al., TPAMI 2011): per
    (query, probed cell), a 4×16 lookup table of exact
    query-residual-subvector→centroid distances, then each
    candidate's approx distance is 4 element_at lookups + adds.
    Because the join requires qcell == ccell, query and candidate
    share the coarse center, so residual ADC approximates true L2
    exactly as FAISS does.

    SEARCH PATH ONLY — the full FAISS lifecycle is split:
    `_ivfpq_codebooks` TRAINS (two seeded distributed KMeans jobs,
    once per scale factor), `_ivfpq_index` ADDS (one encode pass
    materializing the (vec_id, cell, codes) parquet), and this key
    SEARCHES: scan the codes table (a few BIGINTs per vector — at
    100 TB the search never touches the 256-byte embeddings until
    refine), broadcast the queries with their LUTs, rank the ADC
    shortlist, then join ONLY the top-R rows back to the raw
    embeddings for the exact-L2 refine (FAISS IVFPQR). All codegen —
    no UDF, no in-query ML. Approximate by construction -> rows-only;
    recall@3 vs the exact ranking is floored in test_r6_operators
    (nprobe=3 + residual codes + R=96 shortlist measure 0.617
    against ann_ivf's 0.65 exact-scan ceiling on the same cells;
    the r7 nprobe=2 point was 0.517 / 0.52 — ADC+refine recovers
    essentially everything the coarse quantizer admits at either
    probe depth, x100 search cost 4.59 -> 4.98 s)."""
    NPROBE, R = 3, 96
    NCELLS, M, K, SUB = _IVFPQ_NCELLS, _IVFPQ_M, _IVFPQ_K, _IVFPQ_SUB
    t = Tables(spark, sf_dir)
    empty = _empty_embeddings_guard(
        spark,
        t,
        "q_id bigint, n_id bigint, approx_d2 double, "
        "exact_d2 double, rank bigint",
    )
    if empty is not None:
        return empty
    coarse, pq, codes_path = _ivfpq_index(spark, sf_dir)
    d = _norm_df(t)
    carr = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in coarse])
    codes = read_parquet(spark, codes_path).select(
        F.col("vec_id").alias("n_id"),
        F.col("cell").alias("ccell"),
        *[f"code{m}" for m in range(M)],
    )

    # Probe ranking over DISTINCT real cells only (see
    # _first_occurrence_cells): on a full-k fit this is
    # range(NCELLS) and the plan is unchanged; on a degenerate
    # padded fit it keeps every nprobe slot pointed at a cell that
    # can actually own vectors.
    first_cells = _first_occurrence_cells(coarse)
    probe = F.array(
        *[
            F.struct(
                _ivfpq_dist2(F.col("e"), coarse[i]).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i in first_cells
        ]
    )
    q = (
        d.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.explode(F.slice(F.array_sort(probe), 1, NPROBE)).alias("pc"),
        )
        .withColumn("qcell", F.col("pc.cell"))
        # the query's residual AGAINST THE PROBED CELL — one row (and
        # one LUT) per (query, probed cell), matching candidate codes
        .withColumn(
            "qr",
            F.zip_with(
                F.col("qe"),
                F.element_at(carr, F.col("qcell") + 1),
                lambda x, y: x - y,
            ),
        )
        .select(
            "q_id",
            "qcell",
            # ADC lookup tables: exact distance from the query
            # residual's m-th subvector to each of the 16 centroids
            *[
                F.array(
                    *[
                        _ivfpq_dist2(
                            F.slice(F.col("qr"), m * SUB + 1, SUB), pq[m][k]
                        )
                        for k in range(K)
                    ]
                ).alias(f"lut{m}")
                for m in range(M)
            ],
        )
    )
    approx = None
    for m in range(M):
        term = F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1)
        approx = term if approx is None else approx + term
    # Stage 1: ADC shortlist over the codes scan — top-R per query by
    # PQ-approximate distance; no embedding bytes touched
    wa = Window.partitionBy("q_id").orderBy(F.col("approx_d2").asc(), "n_id")
    shortlist = (
        F.broadcast(q)
        .join(
            codes,
            (F.col("qcell") == F.col("ccell"))
            & (F.col("n_id") != F.col("q_id")),
        )
        .select("q_id", "n_id", qnt(approx, "approx_d2"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= R)
        .drop("arank")
    )
    # Stage 2: exact refine (FAISS IVFPQR) — join ONLY the R
    # shortlisted rows back to raw embeddings (broadcast the tiny
    # shortlist against the pruned (vec_id, e) scan), attach the 20
    # query vectors the same way, re-rank by true L2 to top-3
    ce = d.select(F.col("vec_id").alias("n_id"), F.col("e").alias("ce"))
    qe = d.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    exact_d2 = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ce"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    we = Window.partitionBy("q_id").orderBy(F.col("exact_d2").asc(), "n_id")
    return (
        shortlist.join(ce, "n_id")
        .join(F.broadcast(qe), "q_id")
        .select("q_id", "n_id", "approx_d2", qnt(exact_d2, "exact_d2"))
        .withColumn("rank", F.row_number().over(we).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# Seed-pinned hyperplanes for pipeline_embed_prep's LSH bucket stage —
# module-level literals so the Spark expression and the DuckDB oracle
# inline the IDENTICAL doubles (repr round-trips exactly).
import random as _random

_PEP_RND = _random.Random(707)
_PEP_PLANES = [
    [_PEP_RND.gauss(0.0, 1.0) for _ in range(64)] for _ in range(4)
]


def _pep_plane_sql(p):
    return "[" + ", ".join(repr(v) for v in p) + "]"


@op(
    "pipeline_embed_prep",
    sql="""
    WITH d AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, e,
               -- quantize the norm BEFORE dividing: the raw sqrt(dot)
               -- differs between engines in the last ulp (different
               -- summation micro-order), which flips FLOOR at unit
               -- boundaries; the 1e-6-quantized norm is bit-identical
               -- on both, so every division below is too
               FLOOR(sqrt(list_dot_product(e, e)) * 1e6 + 0.5)
                   / 1e6 AS nrm,
               CASE WHEN list_max(list_transform(e, x -> abs(x))) = 0
                    THEN 1.0
                    ELSE list_max(list_transform(e, x -> abs(x))) / 127
               END AS scale
        FROM d
    )
    SELECT vec_id, label,
           nrm,
           array_to_string(list_transform(e, x ->
               CAST(CASE WHEN x >= 0
                    THEN FLOOR(x / nrm * 1e6 + 0.5)
                    ELSE -FLOOR(-x / nrm * 1e6 + 0.5)
               END AS BIGINT)), ',') AS unit_csv,
           array_to_string(list_transform(e, x -> CAST(LEAST(GREATEST(
               FLOOR(x / scale + 0.5), -127), 127) AS INT)), ',') AS qvec_csv,
           FLOOR(scale * 1e6 + 0.5) / 1e6 AS scale,
           CAST(BUCKET_EXPR AS INT) AS lsh_bucket
    FROM n WHERE nrm > 0
    """.replace("BUCKET_EXPR", " + ".join(
        f"(CASE WHEN FLOOR(list_dot_product(e, {_pep_plane_sql(_PEP_PLANES[b])})"
        f" * 1e6 + 0.5) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(4)
    )),
)
def pipeline_embed_prep(spark, sf_dir):
    """END-TO-END embedding-prep capstone — the third pipeline bookend
    beside `pipeline_text_prep` (documents) and `pipeline_events_prep`
    (events): one declarative plan takes the raw embedding table to
    index-ready form — zero-vector filter, L2 norm, unit-normalized
    vector (micro-unit CSV, sign-branched), absmax int8 codes
    (`embed_quantize_int8`'s discipline), and a 4-bit seeded-
    hyperplane LSH bucket (`sim_ann_lsh`'s shape, here SQL-oracled:
    the planes inline as shared literals and each dot product is
    1e-6-quantized before the sign test, so both engines derive the
    identical bucket).

    Everything is higher-order codegen over one scan — no UDF, no
    shuffle, no join: at 100 TB this runs as a pure map over the
    vector table, the exact preprocessing job that feeds the
    ann_ivf/embed_pq/ann_ivf_pq index builders downstream. Every
    output column is a driver-sortable scalar (CSV/hex discipline)."""
    t = Tables(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = t.embeddings.select("vec_id", "label", e.alias("e"))
    nrm = F.sqrt(
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    amax = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    # quantize the norm BEFORE dividing (see oracle comment): the
    # quantized value is bit-identical across engines, the raw sqrt
    # fold is not
    n = d.select(
        "vec_id",
        "label",
        "e",
        (F.floor(nrm * 1e6 + F.lit(0.5)) / 1e6).alias("nrm"),
        F.when(amax == 0, F.lit(1.0)).otherwise(amax / 127).alias("scale"),
    ).filter(F.col("nrm") > 0)

    unit = F.transform(
        F.col("e"),
        lambda x: F.when(
            x >= 0, F.floor(x / F.col("nrm") * 1e6 + F.lit(0.5))
        )
        .otherwise(-F.floor(-x / F.col("nrm") * 1e6 + F.lit(0.5)))
        .cast("long"),
    )
    q = F.transform(
        F.col("e"),
        lambda x: F.least(
            F.greatest(F.floor(x / F.col("scale") + 0.5), F.lit(-127)),
            F.lit(127),
        ).cast("int"),
    )

    def dot_plane(b):
        plane = F.array(*[F.lit(float(v)) for v in _PEP_PLANES[b]])
        return F.aggregate(
            F.zip_with(F.col("e"), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = None
    for b in range(4):
        bit = F.when(
            F.floor(dot_plane(b) * 1e6 + F.lit(0.5)) > 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit

    return n.select(
        "vec_id",
        "label",
        "nrm",
        F.concat_ws(",", unit.cast("array<string>")).alias("unit_csv"),
        F.concat_ws(",", q.cast("array<string>")).alias("qvec_csv"),
        qnt(F.col("scale"), "scale"),
        bucket.cast("int").alias("lsh_bucket"),
    )


_MRL_DIMS = [8, 16, 32, 64]


@op(
    "embed_matryoshka_eval",
    sql=f"""
    WITH d AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims(dim) AS (VALUES {", ".join(f"({m})" for m in _MRL_DIMS)}),
    ranked AS (
        SELECT dim, q_id, n_id, rn FROM (
            SELECT dims.dim, q.vec_id AS q_id, c.vec_id AS n_id,
                   row_number() OVER (
                       PARTITION BY dims.dim, q.vec_id
                       ORDER BY round(
                           list_dot_product(list_slice(q.e, 1, dims.dim),
                                            list_slice(c.e, 1, dims.dim))
                           / (sqrt(list_dot_product(
                                  list_slice(q.e, 1, dims.dim),
                                  list_slice(q.e, 1, dims.dim)))
                              * sqrt(list_dot_product(
                                  list_slice(c.e, 1, dims.dim),
                                  list_slice(c.e, 1, dims.dim)))), 6
                       ) DESC, c.vec_id
                   ) AS rn
            FROM d q
            JOIN d c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
            CROSS JOIN dims
        ) WHERE rn <= 5
    ),
    ref AS (SELECT q_id, n_id FROM ranked WHERE dim = 64)
    SELECT r.dim,
           CAST(COUNT(ref.n_id) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT r.q_id) AS BIGINT) AS n_queries,
           FLOOR(CAST(COUNT(ref.n_id) AS DOUBLE)
                 / (5 * COUNT(DISTINCT r.q_id)) * 1e6 + 0.5) / 1e6
               AS mean_recall5
    FROM ranked r
    LEFT JOIN ref ON r.q_id = ref.q_id AND r.n_id = ref.n_id
    GROUP BY r.dim
    """,
)
def embed_matryoshka_eval(spark, sf_dir):
    """Matryoshka-truncation evaluation (Kusupati et al., NeurIPS'22
    MRL — the "how many dims can we drop" question behind every
    shortened-embedding deployment): for each prefix length in
    {8, 16, 32, 64}, the exact top-5 cosine neighbors under the
    TRUNCATED embedding are compared against the full-dimension top-5,
    and recall@5 is averaged over the 20 query vectors — the curve
    that tells an index owner what a 8x memory cut costs in retrieval
    quality. dim=64 recalls 1.0 by construction (self-sanity row).

    Determinism: the sim_cosine_brute discipline — double-promoted
    dot products reduced in list order, cosine rounded to 6, ties by
    vec_id; hit counts are exact BIGINTs and the mean is one quantized
    ratio.

    Scale: this is an EVALUATION op, run over a sampled query set —
    the brute per-dim rank is the measurement instrument (exact by
    design, like sim_cosine_brute as recall oracle); the production
    serving path for truncated vectors is ann_ivf/ann_ivf_pq over the
    sliced column. Query side broadcasts; corpus side shuffles only
    the one-time spread split lift (a no-op at corpus scale)."""
    t = Tables(spark, sf_dir)
    # spread (r13): the per-pair truncated dot products in the
    # broadcast join stage — 80 x |corpus| x 4 prefix dims of flops —
    # inherited the single embeddings split and ran as ONE task. All
    # downstream math is row-local doubles + integer hit counts with
    # deterministic (rounded cosine, vec_id) ranking, so placement
    # cannot move the result. Interleaved best-of-3 noop A/B at sf0.1:
    # 2.44-2.54 s -> 1.86-1.88 s (1.33x; both sides under identical
    # concurrent load), rows bit-identical at sf0.01/sf0.1.
    d = spread(_norm_df(t), "vec_id")

    def pdot(a, b, dim):
        return F.aggregate(
            F.zip_with(
                F.slice(a, 1, dim), F.slice(b, 1, dim), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # prefix norms are hoisted OUT of the pair loop: computed once per
    # (query, dim) and once per (candidate, dim) in the scan stages —
    # inside the join each candidate's ||ce[:d]|| would otherwise be
    # re-evaluated per query row (~3x the pair-stage flops, measured)
    q = (
        d.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.explode(
                F.array(*[F.lit(m) for m in _MRL_DIMS])
            ).alias("dim"),
        )
        .withColumn("qn", F.sqrt(pdot(F.col("qe"), F.col("qe"), F.col("dim"))))
    )
    c = d.select(
        F.col("vec_id").alias("n_id"),
        F.col("e").alias("ce"),
        *[
            F.sqrt(pdot(F.col("e"), F.col("e"), F.lit(m))).alias(f"cn{m}")
            for m in _MRL_DIMS
        ],
    )

    dim = F.col("dim")
    cn = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(m) for m in _MRL_DIMS]),
            F.array(*[F.col(f"cn{m}") for m in _MRL_DIMS]),
        ),
        dim,
    )
    cos = F.round(
        pdot(F.col("qe"), F.col("ce"), dim) / (F.col("qn") * cn), 6
    )
    w = Window.partitionBy("dim", "q_id").orderBy(
        F.col("cos").desc(), "n_id"
    )
    ranked = (
        F.broadcast(q)
        .join(c, F.col("n_id") != F.col("q_id"))
        .select("dim", "q_id", "n_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("dim", "q_id", "n_id")
    )
    # materialize fresh aliases: ref derives from ranked, and Spark's
    # ambiguous-self-join check needs the lineages separated
    ref = (
        ranked.filter(F.col("dim") == 64)
        .select(
            F.col("q_id").alias("rq_id"), F.col("n_id").alias("ref_id")
        )
    )
    hits = ranked.join(
        F.broadcast(ref),
        (F.col("q_id") == F.col("rq_id"))
        & (F.col("n_id") == F.col("ref_id")),
        "left",
    ).select("dim", "q_id", "ref_id")
    return hits.groupBy("dim").agg(
        F.count("ref_id").cast("long").alias("n_hits"),
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        qnt(
            F.count("ref_id").cast("double")
            / (5 * F.count_distinct("q_id")),
            "mean_recall5",
        ),
    )


@op(
    "embed_centroid_outliers",
    sql="""
    WITH ex AS (
        SELECT vec_id, label, u.dim,
               CAST(FLOOR(CAST(list_extract(embedding, u.dim) AS DOUBLE)
                          * 1e4 + 0.5) AS BIGINT) AS xu
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) u
    ),
    cent AS (
        SELECT label, dim, CAST(SUM(xu) AS BIGINT) AS cu,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY label, dim
    ),
    dots AS (
        SELECT e.vec_id, e.label,
               CAST(SUM(e.xu * c.cu) AS BIGINT)
                   // (MAX(c.n) * 10000) AS dv
        FROM ex e JOIN cent c ON c.label = e.label AND c.dim = e.dim
        GROUP BY e.vec_id, e.label
    ),
    s AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dv) AS BIGINT) AS su,
               CAST(SUM(dv * dv) AS BIGINT) AS suu
        FROM dots GROUP BY label
    ),
    z AS (
        SELECT d.vec_id, d.label, d.dv,
               FLOOR((CAST(d.dv AS DOUBLE) - CAST(s.su AS DOUBLE) / s.n)
                     / SQRT((CAST(s.suu AS DOUBLE)
                             - CAST(s.su AS DOUBLE) * s.su / s.n)
                            / (s.n - 1)) * 1e4 + 0.5) / 1e4 AS zq
        FROM dots d JOIN s ON s.label = d.label
    )
    SELECT vec_id, label, CAST(dv AS DOUBLE) / 1e4 AS alignment,
           zq AS z_align
    FROM z WHERE zq < -2
    """,
)
def embed_centroid_outliers(spark, sf_dir):
    """Embedding-batch DQ: flag vectors that sit far from their
    LABEL's centroid — per label, each vector's alignment (dot product
    with the label's mean direction, the norms being unit by
    construction) is z-scored against the label's alignment
    distribution, and vectors more than 2 sample standard deviations
    BELOW the mean are reported. This is the intra-class-coherence
    screen run before training on labeled embeddings: mislabeled or
    corrupted vectors surface as low-alignment outliers (`dq_checks`
    for the vector column; norm screening is useless here — the
    vectors are L2-normalized, so norms carry zero variance).

    Determinism: components quantize to exact 1e-4 BIGINT units, the
    centroid is an exact integer component sum, each vector-centroid
    dot is an exact integer aggregate scaled back by integer division
    (div n·10⁴ — identical truncation both engines), per-label
    moments are exact integer sums, and the z-score is one float
    expression quantized to 1e-4 — the outlier filter tests the
    QUANTIZED z, so row sets agree at the boundary.

    Scale (100 TB): one posexplode scan (constant 64× fan-out) →
    (label, dim) centroid aggregate (|labels|·64 rows, broadcast
    back) → per-vector integer dot via a map-combinable groupBy —
    linear in vectors, no pairwise anything, no UDF."""
    t = Tables(spark, sf_dir)
    ex = t.embeddings.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("x") * F.lit(1e4) + F.lit(0.5)).cast("long").alias("xu"),
    )
    cent = ex.groupBy("label", "dim").agg(
        F.sum("xu").cast("long").alias("cu"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dots = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "CAST(SUM(xu * cu) AS BIGINT) div (MAX(n) * 10000)"
            ).alias("dv")
        )
    )
    s = dots.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dv").cast("long").alias("su"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("suu"),
    )
    mean = F.col("su").cast("double") / F.col("n")
    var = (
        F.col("suu").cast("double")
        - F.col("su").cast("double") * F.col("su") / F.col("n")
    ) / (F.col("n") - 1)
    # Degenerate-variance guard (r10 clone-storm sweep I): a label
    # whose members all share one alignment has var == 0, and a
    # 1-member label makes (n-1) == 0. MEASURED engine behavior
    # (re-verified r11 on Spark 4.1: `SELECT CAST(1.0 AS DOUBLE) /
    # CAST(0.0 AS DOUBLE)` raises SparkArithmeticException): ANSI
    # Spark throws DIVIDE_BY_ZERO for DOUBLE division too — Divide
    # checks the divisor before the IEEE op for every numeric type,
    # not just integral/decimal — where DuckDB's float 0/0 yields NaN
    # and the zq < -2 filter silently drops the row. The guard makes
    # that drop explicit and engine-conf-independent: zq is NULL
    # (filtered out) unless the z-score is actually defined. A
    # zero-variance group has no outliers by definition.
    z = dots.join(F.broadcast(s), "label").select(
        "vec_id",
        "label",
        "dv",
        F.when(
            (F.col("n") > 1) & (var > 0),
            F.floor(
                (F.col("dv").cast("double") - mean)
                / F.sqrt(var)
                * F.lit(1e4)
                + F.lit(0.5)
            )
            / F.lit(1e4),
        ).alias("zq"),
    )
    return z.filter(F.col("zq") < -2).select(
        "vec_id",
        "label",
        (F.col("dv").cast("double") / F.lit(1e4)).alias("alignment"),
        F.col("zq").alias("z_align"),
    )


_PCA_SWEEPS = 8
_PCA_XU = "CAST(FLOOR(CAST(list_extract(embedding, u.dim) AS DOUBLE) * 1e4 + 0.5) AS BIGINT)"


def _pca_oracle() -> str:
    """One-pass Gram build + unrolled sweeps as chained CTEs. Every
    multiply-referenced CTE is MATERIALIZED: DuckDB inlines plain CTEs
    per reference, which doubles the plan per sweep (2^k — the
    un-materialized 8-sweep oracle never finished)."""
    sql = f"""
    WITH ex AS MATERIALIZED (
        SELECT vec_id, u.dim, {_PCA_XU} AS xu
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) u
    ),
    gup AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               CAST(SUM(a.xu * b.xu) AS BIGINT) AS guv
        FROM ex a JOIN ex b
          ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY a.dim, b.dim
    ),
    gscale AS (SELECT MAX(ABS(guv)) // 1000000 + 1 AS g FROM gup),
    gfull AS MATERIALIZED (
        SELECT i, j, CAST(guv // (SELECT g FROM gscale) AS BIGINT) AS gd
        FROM gup
        UNION ALL
        SELECT j AS i, i AS j,
               CAST(guv // (SELECT g FROM gscale) AS BIGINT) AS gd
        FROM gup WHERE i < j
    ),
    v0 AS (SELECT dim, CAST(125000 AS BIGINT) AS vu
           FROM (SELECT unnest(range(1, 65)) AS dim))"""
    prev = "v0"
    for k in range(1, _PCA_SWEEPS + 1):
        sql += f""",
    y{k} AS MATERIALIZED (
        SELECT g.i AS dim, CAST(SUM(g.gd * v.vu) AS BIGINT) AS y
        FROM gfull g JOIN {prev} v ON v.dim = g.j
        GROUP BY g.i
    ),
    m{k} AS (SELECT MAX(ABS(y)) // 1000000 + 1 AS d FROM y{k}),
    v{k} AS (
        SELECT dim, CAST(y // (SELECT d FROM m{k}) AS BIGINT) AS vu
        FROM y{k}
    )"""
        prev = f"v{k}"
    return (
        sql
        + f"""
    SELECT dim, vu AS loading_u FROM {prev}
    """
    )


@op("embed_pca_power", sql=_pca_oracle())
def embed_pca_power(spark, sf_dir):
    """Dominant direction of the embedding corpus via 8
    power-iteration sweeps (uncentered PCA / top right singular
    vector) — the corpus-drift fingerprint: a new crawl whose top
    direction rotates has changed its dominant topic/style axis, and
    the direction is the first thing whitening, OPQ rotations and
    anisotropic-quantization calibrations consume downstream. The
    iterative-algorithm pattern beside `graph_pagerank` and
    `dedup_cluster`, applied to the vector column.

    Shape (the textbook distributed PCA for small d): the corpus is
    touched ONCE to build the exact 64x64 integer Gram matrix G=XtX
    (upper triangle aggregated, mirrored), and every sweep then
    iterates on the 4,096-row G — y = G.v, an aggregate-sized matvec.
    The first version iterated on the raw exploded table and paid two
    12.8M-row passes per sweep (x100: 33 s); this one pays one data
    pass total (x100: see BASELINE).

    Determinism (the pagerank discipline on floats): components
    quantize once to exact 1e-4 BIGINT units, G is an exact integer
    aggregate, and both G and each sweep's gather renormalize by
    divisor-side integer scaling (x div (max|x| div 10^6 + 1)) so no
    product ever leaves BIGINT at ANY corpus size — truncation toward
    zero on both engines, all 64 loadings hash bit-for-bit with zero
    rounding budget. Convergence is pinned honestly: the fixture
    spectrum is near-isotropic (sigma1/sigma2 ~ 1.008), so the test
    asserts the Rayleigh variance ratio (>= 0.95 vs sigma1^2 after
    8 sweeps), not axis identity, which no sweep count
    pins under a flat spectrum.

    Scale (100 TB): the Gram build is one data pass with 64x64-bounded
    map-side partial aggregation — shuffle volume is |tasks|*4096 rows
    no matter the corpus; all 8 sweeps then run inside ONE
    single-group kernel call on the <=4,096-row symmetric G (r13 —
    the unrolled join+groupBy sweeps needed per-sweep lineage cuts and
    scalar broadcasts, all fixed driver latency on an aggregate-sized
    table; the kernel leaves zero blocking driver jobs)."""
    t = Tables(spark, sf_dir)
    # Gram build rewritten (r12, guide §4.2 "heavy lifting in native
    # code"): the previous form posexploded every vector (12.8M rows
    # at sf0.1) and self-joined on vec_id — ~104M (i, j) product rows
    # through a shuffle — to aggregate the 64x64 upper triangle. The
    # per-partition matmul kernel below computes the identical integer
    # partial Gram per TASK (Xu^T @ Xu over the batch's quantized
    # rows) and ships only ~d² rows per task to one final groupBy sum.
    # Exactness: xu = floor(x_double * 1e4 + 0.5) reproduces the plan
    # quantization bit-for-bit (float->double widening is exact, the
    # kernel works in float64 like Spark's DOUBLE); per-batch products
    # run through BLAS float64 ONLY when |max_xu|² * batch_rows < 2^53
    # (every partial sum then exactly representable), else the int64
    # matmul fallback; cross-batch/task accumulation is int64 — the
    # same BIGINT sum, associative and order-free. Measured 2.35 s ->
    # see OPTIMIZATION_r12.md; at 100 TB the win is structural: no
    # exploded shuffle at all, partial rows are |tasks|*d² no matter
    # the corpus.
    import numpy as np
    import pandas as pd

    def gram_partials(batches):
        acc = np.zeros((0, 0), dtype=np.int64)
        # running upper bound on any |acc| entry (float64, monotone):
        # numpy int64 arithmetic WRAPS silently on overflow, so the
        # int64 matmul fallback and the cross-batch accumulation must
        # be guarded explicitly (r12 advice) — each batch adds at most
        # peak² * rows to an entry's magnitude.
        acc_bound = 0.0
        for pdf in batches:
            vecs = [v for v in pdf["embedding"] if v is not None and len(v)]
            if not vecs:
                continue
            dmax = max(len(v) for v in vecs)
            X = np.zeros((len(vecs), dmax), dtype=np.float64)
            for r, v in enumerate(vecs):
                X[r, : len(v)] = np.asarray(v, dtype=np.float64)
            if not np.isfinite(X).all():
                # loud failure on non-finite components. (NOTE, r12
                # advice: this is deliberately SAFER than the old
                # exploded form, whose FLOOR(double) quantization
                # silently saturated NaN — garbage in the Gram; a
                # non-finite embedding corpus has no meaningful top
                # direction, so fail instead.)
                raise ValueError(
                    "embed_pca_power: non-finite embedding component"
                )
            Xu = np.floor(X * 1e4 + 0.5)
            peak = np.abs(Xu).max()
            acc_bound += float(peak) * float(peak) * len(vecs)
            if acc_bound >= 2**63:
                raise ValueError(
                    "embed_pca_power: Gram partial would overflow "
                    "int64 (|component| too large for 1e-4-unit "
                    "quantization at this row count)"
                )
            if peak * peak * len(vecs) < 2**53:
                gb = (Xu.T @ Xu).astype(np.int64)  # exact: sums < 2^53
            else:
                gb = Xu.astype(np.int64).T @ Xu.astype(np.int64)
            if gb.shape[0] > acc.shape[0]:
                grown = np.zeros(gb.shape, dtype=np.int64)
                grown[: acc.shape[0], : acc.shape[0]] = acc
                acc = grown
            acc[: gb.shape[0], : gb.shape[0]] += gb
        d = acc.shape[0]
        if d:
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "p": acc[iu, ju]}
            )

    gup = (
        t.embeddings.select("embedding")
        .mapInPandas(gram_partials, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("guv"))
    )
    gscale = gup.agg(F.expr("MAX(ABS(guv)) div 1000000 + 1").alias("g"))
    gd_up = gup.crossJoin(F.broadcast(gscale)).select(
        "i", "j", F.expr("CAST(guv div g AS BIGINT)").alias("gd")
    )
    g = gd_up.unionAll(
        gd_up.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "gd"
        )
    )

    # All 8 power sweeps in ONE kernel call over the aggregate-sized
    # Gram (r13, guide §2.3 / r12 verdict item 8): the unrolled
    # join+groupBy sweep loop needed lineage cuts (3 blocking
    # localCheckpoint driver round-trips survived the r12 cadence fix)
    # plus one scalar-aggregate job and broadcast build per sweep —
    # all fixed latency on a <=4,096-row table. The whole iteration is
    # a dense integer matvec loop, so run it where that is one numpy
    # expression: a single-group applyInPandas over the full symmetric
    # G. ZERO blocking driver jobs remain; the Gram's localCheckpoint
    # is gone too (no more self-referencing lineage to cut).
    # Exactness vs the old plan, term by term:
    #   - y = G @ v in int64: |gd| <= ~1e6 and |vu| <= ~1.25e6, so
    #     |y| <= 64 * 1e6 * 1.25e6 < 2^53 << 2^63 — the same exact
    #     associative BIGINT sum as F.sum(gd * vu);
    #   - m = max|y| div 1e6 + 1 is non-negative, so floor == trunc;
    #   - v = y div m replicates Spark's BIGINT `div` (truncation
    #     TOWARD ZERO, verified: -7 div 2 = -3) via the sign-split
    #     floor-divide below — numpy's // alone floors and would
    #     diverge on negative components;
    #   - dims present = distinct i in g (the symmetric union makes i
    #     cover every dimension with any Gram entry), matching the old
    #     join-then-groupBy domain; the dense matrix zero-fills only
    #     PRESENT dims, so absent dims stay absent from the output.
    # Empty corpus: no gup rows -> no group -> empty result with the
    # declared schema, exactly like the old empty-join chain.
    def power_sweeps(pdf):
        dims = np.unique(pdf["i"].to_numpy())
        idx = np.searchsorted(dims, pdf["i"].to_numpy())
        jdx = np.searchsorted(dims, pdf["j"].to_numpy())
        n = len(dims)
        G = np.zeros((n, n), dtype=np.int64)
        G[idx, jdx] = pdf["gd"].to_numpy(dtype=np.int64)
        v = np.full(n, 125000, dtype=np.int64)
        for _ in range(_PCA_SWEEPS):
            y = G @ v
            m = np.abs(y).max() // 1_000_000 + 1
            v = np.where(y >= 0, y // m, -((-y) // m))
        return pd.DataFrame({"dim": dims.astype("int32"), "loading_u": v})

    return (
        g.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(
            lambda _, pdf: power_sweeps(pdf), "dim int, loading_u long"
        )
        .select("dim", "loading_u")
    )


@op(
    "embed_pair_mining",
    sql=_COS_CTE
    + """
    , cand AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               q.label AS q_label, c.label AS c_label,
               round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6)
                   AS cos_sim
        FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
    ),
    hn AS (
        SELECT q_id, c_id, cos_sim FROM (
            SELECT q_id, c_id, cos_sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, c_id) AS rn
            FROM cand WHERE q_label <> c_label
        ) WHERE rn = 1
    ),
    hp AS (
        SELECT q_id, c_id, cos_sim FROM (
            SELECT q_id, c_id, cos_sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim ASC, c_id) AS rn
            FROM cand WHERE q_label = c_label
        ) WHERE rn = 1
    )
    SELECT hn.q_id,
           hn.c_id AS hard_neg_id, hn.cos_sim AS hard_neg_cos,
           hp.c_id AS hard_pos_id, hp.cos_sim AS hard_pos_cos,
           hn.cos_sim > hp.cos_sim AS margin_violated
    FROM hn JOIN hp ON hp.q_id = hn.q_id
    """,
)
def embed_pair_mining(spark, sf_dir):
    """Hard-pair mining for contrastive training — the training-data
    op behind every triplet/InfoNCE pipeline: for each anchor, the
    HARDEST NEGATIVE (most-similar vector with a DIFFERENT label) and
    the HARDEST POSITIVE (least-similar vector with the SAME label),
    plus the margin-violated flag (negative closer than positive —
    the pairs a triplet loss actually learns from, and at corpus
    scale the only ones worth shipping to the trainer).

    Exact mining over the broadcast 50-anchor side (the
    sim_cosine_brute shape: queries move, the corpus never does),
    cosines rounded to 1e-6 with vec_id tiebreaks so both engines
    pick identical argmins/argmaxes.

    Scale (100 TB): exact mining re-expressed as a map-combinable
    partial-extreme reduction. The <=50 anchors are collected once at
    plan time (a bounded driver probe, the region_first_star class)
    into a dense float64 matrix; one Arrow-batched mapInPandas pass
    over the corpus computes each batch's anchor cosines with numpy
    and emits ONE partial row per anchor per batch, carrying the
    extremes as PACKED BIGINT keys — cos_i*2^33 + (2^32-1-c_id)
    maximized for the hard negative, cos_i*2^33 + c_id minimized for
    the hard positive (cos_i = the 1e-6-quantized cosine as an exact
    integer; requires c_id < 2^32, fine to 4B vectors). Only
    |anchors| x |batches| 3-column rows ever shuffle; the final
    groupBy merges them with plain long max/min. Bit parity with the
    SQL oracle is preserved because the numpy kernel accumulates
    dot products and norms dimension-by-dimension — the exact
    left-fold order of list_dot_product / F.aggregate — and the
    quantized integer survives the pack/unpack round trip exactly
    (|key| <= 8.6e15 < 2^53, so even the Arrow int64 path is safe).
    Designs measured and rejected at x100 (200k vectors x 50
    anchors = 10M pairs): Window.partitionBy(q_id) ranks (r7
    shipped form) exchange the FULL candidate set through
    <=|anchors| partitions — a skewed low-cardinality shuffle
    capping parallelism at 50 (11.6 s with the struct-extreme
    variant, whose max(struct) falls back to SortAggregate and
    sorts all 10M candidates); the same packed keys aggregated
    JVM-side hash-agg fine but pay ~4.9 s in the
    BroadcastNestedLoop zip_with dot products (per-pair array
    allocation; an unrolled 64-term sum was WORSE at 23.4 s — the
    GetArrayItem chain defeats codegen). The numpy partial-reduce
    form runs 1.22 s — at or under the DuckDB twin (1.44 s). The
    approximate twin at billions of vectors mines hard negatives
    from the `ann_ivf_pq` shortlist instead of the full scan — same
    output contract, index-bounded cost."""
    import numpy as np
    import pandas as pd

    t = Tables(spark, sf_dir)
    pack_c, comp_c = 2**33, 2**32 - 1
    anchors = (
        t.embeddings.filter(F.col("vec_id") < 50)
        .select("vec_id", "label", "embedding")
        .collect()
    )
    anchors.sort(key=lambda r: r.vec_id)
    if not anchors:
        # no anchors -> no pairs (empty-input sweep: np.array([]) has
        # no second axis to size the kernel from)
        return spark.createDataFrame(
            [],
            "q_id long, hard_neg_id long, hard_neg_cos double, "
            "hard_pos_id long, hard_pos_cos double, "
            "margin_violated boolean",
        )
    amat = np.array([[float(x) for x in r.embedding] for r in anchors])
    a_ids = np.array([r.vec_id for r in anchors], dtype=np.int64)
    a_lab = np.array([r.label for r in anchors], dtype=np.int64)
    dim = amat.shape[1]
    # anchor norms accumulated dimension-by-dimension: the oracle's
    # sequential fold order, so sqrt inputs are bit-identical
    a_nrm = np.zeros(len(amat))
    for i in range(dim):
        a_nrm += amat[:, i] * amat[:, i]
    a_nrm = np.sqrt(a_nrm)

    def mine(batches):
        int64 = np.int64
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            cmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_id = pdf["vec_id"].to_numpy().astype(int64)
            c_lab = pdf["label"].to_numpy().astype(int64)
            dots = np.zeros((n, len(amat)))
            c_nrm = np.zeros(n)
            for i in range(dim):
                ci = cmat[:, i]
                dots += ci[:, None] * amat[None, :, i]
                c_nrm += ci * ci
            cos = dots / (np.sqrt(c_nrm)[:, None] * a_nrm[None, :])
            # half away from zero, matching Spark/DuckDB round() on
            # negative exact-half ties (np.floor(x+0.5) alone rounds
            # half toward +inf)
            cos_i = np.where(
                cos >= 0,
                np.floor(cos * 1e6 + 0.5),
                -np.floor(-cos * 1e6 + 0.5),
            ).astype(int64)
            neg_key = cos_i * pack_c + (comp_c - c_id)[:, None]
            pos_key = cos_i * pack_c + c_id[:, None]
            not_self = c_id[:, None] != a_ids[None, :]
            diff = (c_lab[:, None] != a_lab[None, :]) & not_self
            same = (c_lab[:, None] == a_lab[None, :]) & not_self
            hn = np.where(diff, neg_key, np.iinfo(int64).min).max(axis=0)
            hp = np.where(same, pos_key, np.iinfo(int64).max).min(axis=0)
            out = pd.DataFrame(
                {
                    "q_id": a_ids,
                    "hn_key": pd.array(hn, dtype="Int64"),
                    "hp_key": pd.array(hp, dtype="Int64"),
                }
            )
            out["hn_key"] = out["hn_key"].where(pd.Series(diff.any(axis=0)))
            out["hp_key"] = out["hp_key"].where(pd.Series(same.any(axis=0)))
            yield out

    partials = t.embeddings.select("vec_id", "label", "embedding").mapInPandas(
        mine, "q_id long, hn_key long, hp_key long"
    )
    agg = partials.groupBy("q_id").agg(
        F.max("hn_key").alias("hn_key"), F.min("hp_key").alias("hp_key")
    )
    # Decode: pmod strips the low 33 bits exactly even for negative
    # cos_i; integer DIV then recovers cos_i, and cos_i/1e6 in double
    # is the correctly-rounded quantized cosine — bit-equal to the
    # round(x, 6) value that went in on either engine.
    hn_r = F.pmod(F.col("hn_key"), F.lit(pack_c))
    hp_r = F.pmod(F.col("hp_key"), F.lit(pack_c))
    hn_cos = (
        F.expr(f"(hn_key - pmod(hn_key, {pack_c})) DIV {pack_c}").cast("double")
        / 1e6
    )
    hp_cos = (
        F.expr(f"(hp_key - pmod(hp_key, {pack_c})) DIV {pack_c}").cast("double")
        / 1e6
    )
    return (
        agg.filter(F.col("hn_key").isNotNull() & F.col("hp_key").isNotNull())
        .select(
            "q_id",
            (F.lit(comp_c) - hn_r).alias("hard_neg_id"),
            hn_cos.alias("hard_neg_cos"),
            hp_r.alias("hard_pos_id"),
            hp_cos.alias("hard_pos_cos"),
            (hn_cos > hp_cos).alias("margin_violated"),
        )
    )
