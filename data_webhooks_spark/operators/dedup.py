"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.10).

Scale ladder (each step trades exactness for distributed-join shape):
- exact / content-hash: hash-groupBy, one shuffle, perfectly scalable
- n-gram Jaccard: shingle-inverted-index self-join — candidate pairs
  only where a shingle collides, never O(n²)
- MinHash LSH: pyspark.ml MinHashLSH banding, approximate Jaccard
- SimHash: 64-bit fingerprints + band-bucketed Hamming join
- embedding cosine: exact quadratic baseline here; the LSH/IVF scale
  paths live in similarity.py
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import Tables
from ..regutil import pin, registrar, spread
from ..session import shuffle_partitions

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)


def _shingled(docs):
    """Distinct (doc_id, word-trigram shingle) pairs, built ROW
    -LOCALLY: trigrams come from one array `transform` over the split
    text, so shingle construction is a projection inside whole-stage
    codegen — no posexplode + lead-window, which shuffled and SORTED
    every token by (doc_id, pos) and re-ran that sort once per
    self-join branch (the r10 bench read dedup_cluster 3.3 s -> 7.9 s
    after its candidate subplan got heavier; this rewrite removes the
    per-doc sort from all three shingle consumers). Emits exactly the
    lead-window trigram set: positions 1..n-2 (1-based) over the
    space-split tokens; docs with < 3 tokens (including NULL text,
    where size() is NULL) have no shingles."""
    # Two-step projection ON PURPOSE: `arr` must be a materialized
    # column before the lambda references it 3x per shingle —
    # inlining split() into each element_at re-tokenizes the text
    # O(words) times per row (measured 3x slower than the old window
    # form). CollapseProject keeps the split un-inlined because the
    # alias is referenced more than once and split is not cheap.
    words = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("arr")
    ).filter(F.size("arr") >= 3)
    arr = F.col("arr")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(arr, i),
            F.element_at(arr, i + F.lit(1)),
            F.element_at(arr, i + F.lit(2)),
        ),
    )
    return words.select("doc_id", F.explode(tri).alias("shingle")).distinct()


# Stop-shingle document-frequency cap (r10 verdict "what's wrong" #2):
# a shingle shared by f documents generates O(f²) candidate rows at
# ONE key of the inverted-index self-join — the r10 replica collapse
# kills identical-TEXT cliques, but boilerplate (headers, licenses,
# navigation chrome) shares shingles across f DISTINCT texts, and a
# 100 TB web corpus makes f enormous where the fixture's Zipf tail
# hides it. Broder's resemblance estimation drops super-common
# shingles by design: they carry ~no Jaccard signal (present in
# everything ⇒ discriminate nothing) while dominating join cost. The
# cap bounds every posting bucket at C(cap,2) ≈ 2k candidate rows.
# 64 is far above the fixture's max df (7 at sf0.01, 25 at sf0.1 —
# measured r11), so ×1 results are bit-identical to the uncapped r10
# records; the boilerplate-storm sweep (scenario J) exercises the
# binding case with the oracle mirroring the same cap.
_DF_CAP = 64


def _df_capped(shingled):
    """Drop (doc_id, shingle) rows whose shingle appears in more than
    _DF_CAP documents of the GIVEN corpus (documents for the pairwise
    ops, unique-text representatives for dedup_cluster — the oracle
    mirrors whichever universe the caller uses). The hot set is tiny
    by construction (≤ total_postings/cap shingles, concentrated
    boilerplate in practice), so the left-anti join broadcasts under
    AQE; no hint, the corpus-scale-OOM rationale of the sizes joins.

    Negative result (r11, pinned so it is not re-tried): with lists
    bounded at the cap, pair generation via posting lists —
    groupBy(shingle).collect_list(doc_id) + an in-row nested
    transform emitting the C(|list|,2) pairs, the classic MapReduce
    inverted-index form — produced byte-identical pairs but measured
    4.82 s vs 3.30 s for the capped hash self-join at sf0.1
    (clearCache'd best-of-3): the array materialization + explode
    cost more than the second probe of a hash join, and both forms
    pay the same (d1, d2) aggregation shuffle. The self-join keeps
    whole-stage codegen; keep it."""
    hot = (
        shingled.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _DF_CAP)
        .select("shingle")
    )
    return shingled.join(hot, "shingle", "left_anti")


def _df_cap_sql(sh_cte: str) -> str:
    """The DuckDB twin: hot/shc CTE fragment over an existing
    per-document distinct-shingle CTE named `sh_cte`. NOT EXISTS, not
    ANTI JOIN, to stay plain ANSI."""
    return f"""
    hot AS (
        SELECT shingle FROM {sh_cte}
        GROUP BY shingle HAVING COUNT(*) > {_DF_CAP}
    ),
    shc AS (
        SELECT s.doc_id, s.shingle FROM {sh_cte} s
        WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.shingle = s.shingle)
    )
    """


_DF_CAP_SQL_FRAGMENT = _df_cap_sql("sh")


@op(
    "dedup_content_hash",
    sql="""
    SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_content_hash(spark, sf_dir):
    """Exact near-copy removal via normalized-text hash; keeper is
    MIN(doc_id) so survivorship is deterministic."""
    t = Tables(spark, sf_dir)
    h = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return t.documents.groupBy(h.alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@op(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH pos_words AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS INT) AS pos
        FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
        FROM pos_words
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(word, 2) OVER w IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
    {_DF_CAP_SQL_FRAGMENT},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.d1, p.d2, CAST(p.inter AS BIGINT) AS n_shared,
           p.inter / (s1.n + s2.n - p.inter) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.d1 = s1.doc_id
    JOIN sizes s2 ON p.d2 = s2.doc_id
    ORDER BY jaccard DESC, p.d1, p.d2
    LIMIT 50
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Top word-trigram-Jaccard pairs via a shingle inverted index:
    candidates come from shingle collisions (equi-join), so cost scales
    with collisions, not n². Jaccard is an exact integer ratio over the
    DF-CAPPED shingle universe (stop-shingles with document frequency
    > _DF_CAP are dropped from sizes AND intersections on both engines
    — see _df_capped; at the fixture the cap never binds, so values
    equal the uncapped form) — bit-identical across engines."""
    t = Tables(spark, sf_dir)
    # persist experiment (r12): shingled feeds sizes + both self-join
    # sides; the frame is flat (doc_id, shingle string).
    shingled = pin(_df_capped(_shingled(t.documents)))
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # No broadcast hint: `sizes` is one row per DOCUMENT, so forcing a
    # broadcast would OOM at corpus scale. Plain equi-join — AQE
    # broadcasts it when it is actually small.
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        pairs.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select(
            "d1",
            "d2",
            F.col("inter").cast("long").alias("n_shared"),
            (
                F.col("inter") / (F.col("s1.n") + F.col("s2.n") - F.col("inter"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "d1", "d2")
        .limit(50)
    )


@op("dedup_minhash")
def dedup_minhash(spark, sf_dir):
    """Near-duplicate pairs via banded MinHash over word 3-gram shingles
    (Broder 1997):

    - K=64 signature: one Arrow-batched pandas UDF computes the whole
      signature per document row — tokenize, hash the batch's *unique*
      words once (blake2b, deterministic across workers), combine into
      trigram shingle hashes with vectorized uint64 polynomial
      arithmetic over the flattened batch, then take the 64 per-doc
      ``min((a_i*h+b_i) mod 2^64)`` with ``np.minimum.reduceat`` over
      the doc offsets — no per-document Python loop anywhere.
      Per-row means NO shuffle before candidate generation (the old
      posexplode + window + 64-min-agg form shuffled every token by
      doc_id; measured 1.55s -> ~0.3s at sf0.1), and signatures stay
      embarrassingly parallel at 100 TB;
    - banding: 32 bands x 2 rows, band key = xxhash64 of the slice;
      candidates from a band equi-join on slim (doc_id, band, key)
      rows (shuffle carries 32 small rows per doc, never O(n^2));
    - similarity: estimated Jaccard = fraction of equal signature
      components (zip_with + aggregate), pairs kept at est >= 0.1.

    Shingles, not words: the fixture vocabulary is tiny, so *any* two
    docs share most words — word-level Jaccard saturates, trigram
    Jaccard stays discriminative. Approximate + deterministic hashes ->
    rows-only check; returned pairs' true overlap asserted in tests.

    Replaced pyspark.ml MinHashLSH.approxSimilarityJoin (fit + cached
    2^18-dim sparse vectors + UDF-evaluated key distance): measured
    2.8s -> ~0.4s at sf0.1, and the signature form shuffles ~0.5 KB/doc
    instead of the full feature vectors at 100 TB."""
    import hashlib

    import numpy as np

    from pyspark.sql import types as T

    K, R = 64, 2  # signature length; rows per band -> 32 bands
    t = Tables(spark, sf_dir)
    # Fixed universal-hash family (seeded, so identical on every worker).
    rng = np.random.RandomState(42)
    HA = rng.randint(1, 2**63 - 1, size=K).astype(np.uint64) | np.uint64(1)
    HB = rng.randint(0, 2**63 - 1, size=K).astype(np.uint64)
    C1, C2 = np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(texts: pd.Series) -> pd.Series:
        docs = [txt.split(" ") for txt in texts]
        lens = np.array([len(ws) for ws in docs], dtype=np.int64)
        # Hash each unique word in the batch once (docs repeat
        # vocabulary heavily); factorize is C-speed. Encoded-bytes
        # keys, not str: pandas' fast string hash table truncates at
        # embedded NUL bytes and would conflate such words (see
        # simhash_impl.py); blake2b consumes bytes anyway.
        flat = [w.encode() for ws in docs for w in ws]
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        uh = np.array(
            [
                np.frombuffer(
                    hashlib.blake2b(w, digest_size=8).digest(),
                    dtype=np.uint64,
                )[0]
                for w in uniques
            ],
            dtype=np.uint64,
        )
        hw = uh[codes]
        with np.errstate(over="ignore"):
            # Trigram shingle hashes over the flattened batch; the last
            # two positions of each doc cross a boundary — drop them.
            sh = hw[:-2] * C1 + hw[1:-1] * C2 + hw[2:]
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            n_sh = np.maximum(lens - 2, 0)
            keep = np.ones(sh.shape[0] + 2, dtype=bool)
            for s, ln in zip(starts[n_sh == 0], lens[n_sh == 0]):
                keep[s : s + ln] = False  # doc too short: no shingles
            for s, ln in zip(starts[n_sh > 0], lens[n_sh > 0]):
                keep[s + ln - 2 : s + ln] = False  # boundary positions
            sh = sh[keep[:-2]]
            offsets = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
            # reduceat on an empty segment returns the next element —
            # only applies to <3-word docs, masked to None below.
            offsets_c = np.minimum(offsets, max(sh.shape[0] - 1, 0))
            sigs = np.empty((len(docs), K), dtype=np.uint64)
            for i in range(K):
                v = HA[i] * sh + HB[i]
                sigs[:, i] = np.minimum.reduceat(v, offsets_c) if sh.shape[0] else 0
        rows = sigs.astype(np.int64)
        return pd.Series(
            [rows[d].tolist() if n_sh[d] > 0 else None for d in range(len(docs))]
        )

    # NULL text has no shingles, hence no signature — filter BEFORE
    # the UDF (plan-level, pushed to the scan): the batch kernel
    # splits every row and crashed on None (r11 rows-only sweep,
    # scenarios A/D), where the intended semantics is the same drop
    # the <3-word docs already get via the sig NULL filter.
    #
    # asNondeterministic: the sig-IsNotNull filter below references the
    # UDF's output column, and the optimizer's filter pushdown then
    # evaluates the UDF twice — once under the pushed filter, once in
    # the surviving projection (two ArrowEvalPython nodes over the same
    # minhash_sig(text), r12 plan audit). Marking it non-deterministic
    # forbids the duplication, halving the signature pass; the kernel
    # itself is a fixed seeded hash family, so results are unchanged.
    minhash_sig = minhash_sig.asNondeterministic()
    # spread NEGATIVE RESULT (r13): spreading the single documents
    # split before this Arrow kernel measured SLOWER (interleaved
    # best-of-3 noop at sf0.1: 1.5-1.9 s -> 2.2-2.7 s) — the seeded
    # hash family's per-task init plus 32x Arrow batch/python-worker
    # fixed cost exceeds what the ~0.3 s fingerprint pass saves, the
    # guide's §4.3 init-amortization trade inverted. The Catalyst-
    # expression kernels (repeated_substrings, phash, media_prep) keep
    # spread, where the same repartition measured 1.2-2.9x FASTER.
    sig = t.documents.filter(F.col("text").isNotNull()).select(
        "doc_id", minhash_sig(F.col("text")).alias("sig")
    ).filter(F.col("sig").isNotNull())
    sig = pin(sig)
    # Slim band rows (doc_id, band, key) only — carrying the 64-long
    # signature through the 32x band explode would inflate the join
    # shuffle 32x; signatures are re-attached afterwards from the
    # (1 row/doc) sig table, which AQE broadcasts at this size and
    # shuffle-joins at scale.
    # One SQL string, parsed once by the JVM: the same 32-struct tree
    # built from Column calls costs ~10 py4j round trips per band.
    band_structs = ", ".join(
        f"struct({j} AS band, xxhash64({j}, "
        + ", ".join(f"get(sig, {R * j + r})" for r in range(R))
        + ") AS key)"
        for j in range(K // R)
    )
    bands = sig.select(
        "doc_id", F.expr(f"explode(array({band_structs})) AS bk")
    ).select("doc_id", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    s1, s2 = sig.alias("s1"), sig.alias("s2")
    cand = (
        pairs.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .select("d1", "d2", F.col("s1.sig").alias("sig1"), F.col("s2.sig").alias("sig2"))
    )
    n_eq = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("jaccard_sim", F.round(n_eq / K, 6))
        .filter(F.col("jaccard_sim") >= 0.1)
        .select("d1", "d2", "jaccard_sim")
    )


@op("dedup_simhash")
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash (Charikar 2002; near-dup application as in Manku
    et al., WWW 2007) fingerprints + 4x16-bit band bucketing; candidate
    pairs from band collisions, verified by exact Hamming distance
    (F.bit_count on XOR). The fingerprint UDF is the fully vectorized
    numpy bit-matrix kernel in simhash_impl.py (factorize -> md5 digest
    matrix -> unpackbits -> signed sum -> packbits); no per-word/
    per-bit Python loop.

    Candidate generation runs at DISTINCT-FINGERPRINT granularity
    (r12): hamming(h1, h2) depends only on the value pair, and
    duplicated corpora collapse many docs onto one fingerprint (the
    amplified ×10 corpus: 50k docs -> 3,866 values, with one 16-bit
    band bucket holding 16,390 docs). The previous doc-level band
    self-join compared every doc pair inside such a bucket —
    O(bucket²) work dominated by pairs that FAIL the hamming test —
    and recomputed the same hamming distance once per doc pair. Now:
    (1) band-join the distinct values (bounded, skew-free), hamming-
    filter ONCE per value pair; (2) same-value doc cliques join on
    fingerprint equality (hamming 0 by construction); (3) expand
    surviving value pairs to doc pairs with two hash joins. Work is
    O(distinct-value candidates) + O(true output pairs); the output
    itself is inherently quadratic in duplicate-clique sizes — the
    all-pairs CONTRACT, not the plan (dedup_cluster is the
    cluster-level scale path). Measured ×10 by count() — the honest
    operator cost, since collecting 182 M pairs (4.4 GB) to one
    driver measures transfer: ~50 s -> 11.6 s, with the pair set
    proven identical brute-force in
    tests/test_r12_fixes.py::test_simhash_value_level_rewrite_matches_bruteforce."""
    from pyspark.sql.functions import pandas_udf

    from .simhash_impl import simhash64_batch

    t = Tables(spark, sf_dir)

    @pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch(texts), dtype="int64")

    # NULL text has NO fingerprint (the r9 sweep-D lesson, applied to
    # the kernel input too): simhash64_batch splits every row and
    # crashed on None (r11 rows-only sweep, scenarios A/D).
    #
    # persist: sh feeds FIVE plan branches (vals' distinct, the
    # same-value self-join's two sides, and the two doc-expansion
    # probes) and each branch re-ran the fingerprint UDF — 12
    # ArrowEvalPython nodes over the identical simhash64(text) in the
    # r12 plan audit. Pinning the slim (doc_id, simhash) frame runs
    # the Python pass once; same discipline as dedup_minhash's sig
    # pin, recomputed fresh per invocation (never across runs).
    # spread NEGATIVE RESULT (r13): same inversion as dedup_minhash —
    # spreading the split before this Arrow kernel measured 1.3-2.4 s
    # -> 1.9-2.5 s (interleaved best-of-3 noop, sf0.1); per-task
    # python/Arrow fixed cost exceeds the parallelism gain at this
    # row count. Kept single-split; the pin already runs the kernel
    # only once.
    sh = pin(
        t.documents.filter(F.col("text").isNotNull()).select(
            "doc_id", simhash64("text").alias("simhash")
        )
    )
    vals = sh.select("simhash").distinct()
    vbands = vals.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("simhash", "bk.band", "bk.key")
    va, vb = vbands.alias("va"), vbands.alias("vb")
    # distinct value pairs sharing a band, hamming-checked ONCE each
    vpairs = (
        va.join(
            vb,
            (F.col("va.band") == F.col("vb.band"))
            & (F.col("va.key") == F.col("vb.key"))
            & (F.col("va.simhash") < F.col("vb.simhash")),
        )
        .select(
            F.col("va.simhash").alias("h1"),
            F.col("vb.simhash").alias("h2"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
        )
        .filter(F.col("hamming") <= 12)
    )
    s1 = sh.select(F.col("doc_id").alias("da"), F.col("simhash").alias("h1"))
    s2 = sh.select(F.col("doc_id").alias("db"), F.col("simhash").alias("h2"))
    cross_val = (
        vpairs.join(s1, "h1")
        .join(s2, "h2")
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
            "hamming",
        )
    )
    # same-fingerprint cliques: every band collides, hamming is 0
    same_val = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross_val.unionAll(same_val)


# Rep-level candidate SQL, mirroring _cluster_candidates exactly:
# identical texts collapse to their min-doc_id representative BEFORE
# shingling (so the df cap counts UNIQUE TEXTS, exactly like the Spark
# side's rep-built index — df over raw documents would diverge the
# moment replicas inflate a shingle's count past the cap), the shingle
# index and the >= 0.6 Jaccard pairs are rep-level, and `members`
# re-attaches every eligible doc to its rep for the final labeling.
_CLUSTER_PAIRS_SQL = f"""
    eligible AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL
          AND len(string_split(text, ' ')) >= 3
    ),
    grp AS (SELECT text, MIN(doc_id) AS rep FROM eligible GROUP BY text),
    members AS (
        SELECT e.doc_id, g.rep FROM eligible e JOIN grp g ON e.text = g.text
    ),
    pos_words AS (
        SELECT rep AS doc_id,
               unnest(string_split(text, ' ')) AS word,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS INT) AS pos
        FROM grp
    ),
    shingled AS (
        SELECT doc_id,
               word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle
        FROM pos_words
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(word, 2) OVER w IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
    {_DF_CAP_SQL_FRAGMENT},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    rawpairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT p.d1, p.d2
        FROM rawpairs p
        JOIN sizes s1 ON p.d1 = s1.doc_id
        JOIN sizes s2 ON p.d2 = s2.doc_id
        WHERE p.inter / (s1.n + s2.n - p.inter) >= 0.6
    )
"""


def _connected_components(pairs, max_rounds=30):
    """Two-phase star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): alternate
    large-star (every node hooks its larger neighbors onto its
    neighborhood minimum) and small-star (every node folds its
    smaller neighbors and itself onto that minimum) until the edge
    set is stable. Converges in O(log n) rounds INDEPENDENT of
    component diameter — the property min-label propagation lacks
    (a k-chain needs k propagation rounds but only ~2·log2(k)
    star rounds; tests/test_r8_operators.py pins this on a
    synthetic 128-chain). At fixpoint every component is a star
    rooted at its minimum node.

    `pairs`: DataFrame (u, v) of undirected edges in any
    orientation, no self-loops. Returns (labels, rounds): labels
    maps every non-root node to its component minimum (roots and
    isolated nodes are absent — callers coalesce to identity);
    rounds is the number of two-phase iterations executed, exposed
    so the bounded-rounds property is testable.

    Scale (100 TB): each round is two self-contained
    aggregate+join passes over the current edge list — hash
    shuffles on node id, map-side combinable mins, no window over
    the full set, no driver-side state beyond an 8-byte edge-set
    checksum (count + order-independent bit_xor of xxhash64) per
    round for the convergence test."""
    # localCheckpoint per round: iterative self-referencing plans grow
    # multiplicatively (union+join+distinct nesting), and Catalyst
    # re-analyzes the WHOLE lineage each round even when execution
    # hits the cache — a 16-node chain took >280 s on persist() alone
    # and 3.4 s checkpointed. Same lineage-cut rationale as
    # embed_pca_power's per-sweep checkpoint.
    e = pairs.toDF("u", "v").localCheckpoint(eager=True)
    spark = e.sparkSession
    # Scale-adaptive round parallelism (r13, guide §2.2): each round
    # is ~4 tiny shuffles + 2 checkpoint jobs over an edge set whose
    # size we KNOW (the initial count reads the just-materialized
    # checkpoint blocks; later rounds reuse the convergence check's
    # collected count). Near-dup graphs contract to hundreds of edges
    # within a round or two, and 32-task micro-shuffles are pure
    # scheduling overhead there — measured 1.7 -> 1.3 s warm at sf0.1
    # with 4 partitions on a 241-edge graph. Never EXCEEDS the
    # session's configured parallelism (a 100 TB edge set keeps the
    # cluster's default; the narrowing only kicks in when the counted
    # edge set is provably small), and the prior setting is restored
    # after each round.
    _ROWS_PER_PART = 500_000
    n_edges = e.count()
    prev = None
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        narrow = max(4, n_edges // _ROWS_PER_PART + 1)
        with shuffle_partitions(spark, lambda cur: min(cur, narrow)):
            sym = e.union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
            )
            # large-star: (v, m) for every neighbor v > u
            e1 = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # after large-star every edge points downward (v < u), so
            # small-star's neighborhood min is just min(v); it re-hooks
            # each small neighbor AND u itself onto it
            m2 = e1.groupBy("u").agg(F.min("v").alias("mn"))
            e2 = (
                e1.join(m2, "u")
                .select(F.col("v").alias("u"), F.col("mn").alias("v"))
                .union(m2.select(F.col("u"), F.col("mn").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            row = e2.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
            chk = (row["n"], row["h"])
            n_edges = row["n"]
            e = e2
            if chk == prev:
                break
            prev = chk
    labels = e.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    return labels, rounds


def _cluster_candidates(documents):
    """Near-dup candidate machinery for dedup_cluster with exact
    replica collapse. Returns (rep_pairs, members):

    - ``members`` (doc_id, rep): every doc with >= 3 tokens mapped to
      the min-doc_id representative of its IDENTICAL-TEXT group.
      Identical text => identical trigram-shingle set => Jaccard 1,
      so members are interchangeable in every pair and mutual
      near-dups of their rep by definition. The >= 3-token guard
      matters: shorter texts have EMPTY shingle sets (the pairwise
      join can never connect them), so collapsing them by text would
      wrongly merge singletons; they stay out of ``members`` and
      produce no shingles either way. The fingerprint is one
      row-local sha2(text) — no explode, no shuffle of shingle rows
      for non-representative docs.
    - ``rep_pairs`` (d1, d2): trigram-Jaccard >= 0.6 edges from the
      inverted-index self-join run over REPRESENTATIVE docs only, so
      a k-replica clique contributes k-1 star rows in ``members``
      instead of C(k,2) quadratic candidates, and the shingle explode
      itself shrinks to unique texts."""
    docs = documents.select("doc_id", "text")
    fp = docs.filter(
        F.col("text").isNotNull()
        & (F.size(F.split(F.col("text"), " ")) >= 3)
    ).select("doc_id", F.sha2(F.col("text"), 256).alias("fp"))
    reps = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    members = fp.join(reps, "fp").select("doc_id", "rep")
    rep_docs = docs.join(
        members.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
    )
    # df cap over REPRESENTATIVES = document frequency over UNIQUE
    # TEXTS (the replica collapse already removed identical-text
    # postings, so a boilerplate shingle's count here is the number of
    # distinct texts carrying it — the oracle computes the same
    # rep-level df; capping over raw docs would diverge the moment
    # replicas push a shingle past the cap that its unique texts
    # don't reach)
    # NOT persisted — negative result (r12, pinned): the same
    # 3-consumer pin that wins in dedup_ngram_jaccard/_containment
    # measured 5.3-6.6 s -> 6.7-8.2 s here (3 consistent A/Bs): the
    # rep-collapsed shingle set is small and the downstream star
    # contraction dominates; blocking on the cache materialization
    # costs more than the duplicate candidate build.
    shingled = _df_capped(_shingled(rep_docs))
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingled.alias("a"), shingled.alias("b")
    rawpairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Per-doc table: no broadcast hint (would force an OOM at corpus
    # scale); AQE picks broadcast only when the side is actually small.
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    rep_pairs = (
        rawpairs.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .filter(
            F.col("inter") / (F.col("s1.n") + F.col("s2.n") - F.col("inter")) >= 0.6
        )
        .select("d1", "d2")
    )
    return rep_pairs, members


@op(
    "dedup_cluster",
    sql="WITH RECURSIVE "
    + _CLUSTER_PAIRS_SQL
    + """,
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION
        SELECT d2, d1 FROM pairs
    ),
    reach(src, dst) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
        SELECT src AS rep, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src
    ),
    assigned AS (
        -- member docs inherit their rep's component min (rep = the
        -- group's min doc_id, so the component-min over reps IS the
        -- min over all members); isolated reps label their group by
        -- the rep itself; non-eligible docs are singleton clusters
        SELECT d.doc_id, COALESCE(c.cluster_id, m.rep, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN members m USING (doc_id)
        LEFT JOIN comp c ON c.rep = m.rep
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM assigned
    """,
)
def dedup_cluster(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the
    near-duplicate graph (trigram-Jaccard >= 0.6 edges, from the same
    inverted-index pair generation as dedup_ngram_jaccard), labeled by
    the component's minimum doc_id — so survivorship ("keep cluster_id,
    drop the rest") is deterministic. Docs with no near-dup are their
    own singleton cluster.

    Spark side is two-phase star contraction
    (`_connected_components`, Kiveris et al. SoCC'14): O(log n)
    rounds independent of component diameter, so chain-shaped
    components (the failure mode of plain min-label propagation,
    which needs diameter rounds) cost the same as the near-clique
    components near-dup graphs usually produce. Each round is plain
    join+groupBy — hash shuffles on node id, map-side-combinable
    mins. The DuckDB oracle computes the same components via a
    recursive-CTE transitive closure.

    Candidate generation is REPLICA-COLLAPSED (r9 verdict item 3):
    the inverted-index self-join is clique-quadratic — k exact
    replicas share every shingle posting, so each posting bucket
    emits C(k,2) candidate rows (the ×10 amplified sweep read 32.8 s
    and ×100 had to be capped). Jaccard depends only on the distinct
    shingle SET, so docs with identical text are mutual near-dups by
    definition (J=1 ≥ any threshold) and interchangeable in every
    pair: collapse each identical-text group to its min-doc_id
    representative (one row-local sha2(text) fingerprint — see
    ``_cluster_candidates`` for the ≥3-token guard), build the
    shingle index and run the pairwise join on REPRESENTATIVES only,
    and run the star contraction on the rep-level graph. Members
    re-attach with ONE join afterward: rep = its group's min, so the
    component-min label over reps IS the min over all members, and
    the output is exactly the full-pairwise answer at every scale —
    while a k-replica clique costs k−1 member rows instead of C(k,2)
    candidates, and the explode/shuffle volume shrinks to unique
    texts. Property-pinned by
    tests/test_properties.py::test_dedup_cluster_replica_collapse."""
    t = Tables(spark, sf_dir)
    rep_pairs, members = _cluster_candidates(t.documents)
    rep_labels, _rounds = _connected_components(rep_pairs)
    labels = members.join(
        rep_labels.withColumnRenamed("doc_id", "rep"), "rep", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "rep").alias("cluster_id")
    )
    assigned = (
        t.documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    )
    cw = Window.partitionBy("cluster_id")
    return assigned.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(cw).alias("cluster_size")
    )


# Pair-report threshold: the fixture embeddings are near-orthogonal
# random vectors (max pairwise cosine ~0.5-0.6), so a "real" near-dup
# cut like 0.9 matches NOTHING and the oracle check passes vacuously —
# the r4 zero-row audit caught exactly that (the former 0.8 cut).
# 0.45 sits in the distribution's upper tail: tens to hundreds of
# pairs at sf0.01/sf0.1, so the kernel's pair emission is actually
# exercised and hash-compared.
_EMB_SIM_THRESHOLD = 0.45

@op(
    "dedup_embedding",
    sql=f"""
    WITH d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM d
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           FLOOR(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) * 1e6 + 0.5)
               / 1e6 AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE FLOOR(list_dot_product(a.e, b.e) / (a.nrm * b.nrm) * 1e6 + 0.5)
               / 1e6 >= {_EMB_SIM_THRESHOLD!r}
    """,
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact all-pairs baseline
    (the LSH scale path is similarity.sim_ann_lsh), computed as a
    DISTRIBUTED tiled block self-join:

    1. every vector is assigned a block via pmod(vec_id, B) (balanced,
       deterministic); each block is packed into one (ids, matrix) row
       by applyInPandas — one shuffle, block rows stay ~MB-sized;
    2. the B packed rows self-join on blk_a <= blk_b (broadcast
       nested-loop over a B-row table — B, not n, rows move), yielding
       the B(B+1)/2 tile pairs;
    3. each tile pair is one numpy (BLAS) matrix product in
       mapInPandas; pair (x, y) is emitted exactly once because each
       id lives in exactly one block (same-block tiles mask a < b,
       cross-block tiles orient v1 = min, v2 = max).

    Nothing is ever collected to the driver (the r2 `toPandas`
    anti-pattern is gone): work = B² tiles scheduled across executors,
    per-task memory = 2 block matrices + one sims tile, and total
    shuffle = each block replicated to its B tile-pairs — the
    unavoidable cost of exact all-pairs. Quadratic compute is inherent
    to the EXACT operator; at corpus scale you cap B's growth by
    raising block_rows, or switch to the LSH/IVF keys."""
    import math

    import numpy as np
    import pandas as pd

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")

    # ~4k vectors per tile row (4096 x 64 doubles ≈ 2 MB); the count is
    # a distributed scalar aggregate, not a data collect.
    block_rows = 4096
    n = emb.count()
    n_blocks = max(1, math.ceil(n / block_rows))

    blocked = emb.withColumn("blk", F.pmod("vec_id", F.lit(n_blocks)))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [pdf["vec_id"].tolist()],
                "vecs": [[list(map(float, v)) for v in pdf["embedding"]]],
            }
        )

    # NOT persisted — negative result (r12, pinned so it is not
    # re-tried): both tile-join sides read `packed`, so the groupBy
    # shuffle + pack UDF run twice (two FlatMapGroupsInPandas nodes).
    # Pinning the frame to run the pack once measured 1.6 s -> 12.0 s
    # at sf0.1: encoding the array<array<double>> block cells into the
    # columnar cache costs ~7x more than the duplicated pack pass.
    # The duplication is B block-build tasks, embarrassingly parallel,
    # so it also scales fine.
    packed = blocked.groupBy("blk").applyInPandas(
        pack, "blk long, ids array<long>, vecs array<array<double>>"
    )
    a = packed.select(
        F.col("blk").alias("blk_a"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    b = packed.select(
        F.col("blk").alias("blk_b"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    tiles = a.join(F.broadcast(b), F.col("blk_a") <= F.col("blk_b"))

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                a_ids = np.asarray(row.ids_a)
                b_ids = np.asarray(row.ids_b)
                A = np.array([np.asarray(v) for v in row.vecs_a], dtype=np.float64)
                Bm = np.array([np.asarray(v) for v in row.vecs_b], dtype=np.float64)
                sims = (A @ Bm.T) / (
                    np.sqrt((A * A).sum(axis=1))[:, None]
                    * np.sqrt((Bm * Bm).sum(axis=1))[None, :]
                )
                # same quantization as the oracle's round(x, 6);
                # exact-tie divergence is measure-zero on real cosines
                sims = np.floor(sims * 1e6 + 0.5) / 1e6
                if row.blk_a == row.blk_b:
                    keep = (sims >= _EMB_SIM_THRESHOLD) & (a_ids[:, None] < b_ids[None, :])
                else:
                    keep = sims >= _EMB_SIM_THRESHOLD
                i, j = np.nonzero(keep)
                if not len(i):
                    continue
                ai, bj = a_ids[i], b_ids[j]
                yield pd.DataFrame(
                    {
                        "v1": np.minimum(ai, bj),
                        "v2": np.maximum(ai, bj),
                        "cos_sim": sims[i, j],
                    }
                )

    return tiles.mapInPandas(kernel, "v1 long, v2 long, cos_sim double")


_RS_K = 20  # gram length (chars)
_RS_W = 8  # winnowing-style local-min window (selects ~1/W positions)


@op(
    "dedup_repeated_substrings",
    sql=f"""
    WITH pos AS (
        SELECT doc_id, text, unnest(range(1, strlen(text) - {_RS_K - 2}))
                   AS p
        FROM documents
    ),
    g AS (
        SELECT doc_id, p,
               substr(text, CAST(p AS BIGINT), {_RS_K}) AS gram,
               md5(substr(text, CAST(p AS BIGINT), {_RS_K})) AS h
        FROM pos
    ),
    m AS (
        SELECT doc_id, gram, h,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN {_RS_W - 1} PRECEDING
                            AND {_RS_W - 1} FOLLOWING) AS hmin
        FROM g
    ),
    sel AS (SELECT doc_id, gram FROM m WHERE h = hmin)
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_positions
    FROM sel GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_substrings(spark, sf_dir):
    """Cross-document repeated substrings via content-defined
    fingerprint sampling — the scalable flavor of exact-substring
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022 use suffix arrays; fingerprint sampling
    is the distributed stand-in, after Schleimer et al.'s winnowing,
    SIGMOD 2003 / MOSS):

    1. every {_RS_K}-char gram of every document is hashed (md5, so
       both engines order identically);
    2. a position is SELECTED iff its hash is the minimum of the
       2w-1 hashes around it (local-min sampling, ~1/w of positions)
       — selection is content-defined, so the same substring selects
       the same grams in every document that contains it, regardless
       of alignment (the property stride sampling lacks);
    3. selected grams group corpus-wide; grams in >= 2 distinct
       documents are the repeated-substring report (doc count +
       selected-position count).

    Scale shape: the per-position explode is the honest cost (chars x
    1 rows, map-side only); everything shuffles AFTER the 1/w
    local-min filter, keyed by gram (Zipf head -> AQE skew split).
    At 100 TB the gram table is the classic inverted-index build;
    passing spans instead of booleans (merging adjacent selected
    grams into maximal repeated regions) is the documented follow-up,
    done per-doc with a lag window over selected positions."""
    t = Tables(spark, sf_dir)
    # ROW-LOCAL winnowing (the r10 _shingled lesson, one step
    # further): the old form exploded every char position and ran the
    # local-min as a per-doc window — an Exchange + SORT of chars×1
    # rows each carrying a 32-char md5 hex, just to compare each hash
    # with its 2w-1 neighbors that came from THE SAME source row. The
    # hash array and the local-min selection are now computed inside
    # the row (transform + slice/array_min, O(w) per position), and
    # only the ~1/w SELECTED positions explode — so nothing shuffles
    # until the corpus-wide gram groupBy, and that shuffle carries w×
    # fewer rows. `hs` is materialized as an aliased projection
    # before the filter lambda references it (element_at + slice +
    # size), or Catalyst would inline and re-run the md5 transform
    # per reference. Frame semantics are bit-identical to the old
    # ROWS BETWEEN w-1 PRECEDING AND w-1 FOLLOWING window: the slice
    # clips to [max(1, p-w+1), min(n, p+w-1)] exactly as the window
    # frame clipped at doc edges, and ties still select every
    # position whose hash equals the frame min.
    # guard: Spark's sequence(1, n) DESCENDS when n < 1, so a document
    # shorter than the gram length would build garbage positions;
    # DuckDB's range(1, n<=1) is empty — the filter reproduces that.
    # spread (r13): the md5 transform + winnowing filter below are
    # the whole cost of this key (integer/string-exact, so row
    # placement cannot change the result), and they ran as ONE task
    # on the single-split documents scan.
    docs = t.documents.filter(F.length("text") >= _RS_K)
    base = spread(docs, "doc_id").select(
        "doc_id",
        "text",
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (_RS_K - 1)),
            lambda p: F.md5(F.col("text").substr(p, F.lit(_RS_K))),
        ).alias("hs"),
    )
    W = _RS_W - 1
    lo = lambda p: F.greatest(p - W, F.lit(1))  # noqa: E731
    hi = lambda p: F.least(p + W, F.size(F.col("hs")))  # noqa: E731
    # Short-circuit winnowing predicate (r13, guide §4.2-adjacent: the
    # HOF path is interpreted, so per-element work is the constant):
    # `h[p] == array_min(window)` scanned all 2w-1 = 15 hashes AND
    # allocated the slice per position. The equivalent `NOT exists(
    # window, x -> x < h[p])` is the same predicate (p is selected iff
    # no strictly-smaller hash is in its window; ties still select,
    # h[p] itself never compares < h[p]) but ArrayExists EXITS on the
    # first smaller hash — a random non-selected position stops after
    # ~2 comparisons instead of 15. Selection set is identical by
    # construction; proven row-identical + oracle MATCH at both SFs.
    sel_pos = F.filter(
        F.sequence(F.lit(1), F.size(F.col("hs"))),
        lambda p: ~F.exists(
            F.slice(F.col("hs"), lo(p), hi(p) - lo(p) + 1),
            lambda x: x < F.element_at(F.col("hs"), p),
        ),
    )
    sel = base.select("doc_id", "text", F.explode(sel_pos).alias("p")).select(
        "doc_id", F.col("text").substr(F.col("p"), F.lit(_RS_K)).alias("gram")
    )
    return (
        sel.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_positions"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@op(
    "dedup_containment",
    sql=f"""
    WITH pos_words AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS word,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS INT)
                   AS pos
        FROM documents
    ),
    shingled AS (
        SELECT doc_id,
               word || ' ' || lead(word, 1) OVER w || ' '
                    || lead(word, 2) OVER w AS shingle
        FROM pos_words
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(word, 2) OVER w IS NOT NULL
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
    {_DF_CAP_SQL_FRAGMENT},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS d_contained, b.doc_id AS d_container,
               COUNT(*) AS inter
        FROM shc a JOIN shc b ON a.shingle = b.shingle
                             AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.d_contained, p.d_container,
           p.inter / s1.n AS containment,
           p.inter / (s1.n + s2.n - p.inter) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.d_contained = s1.doc_id
    JOIN sizes s2 ON p.d_container = s2.doc_id
    WHERE p.inter / s1.n >= 0.8
    """,
)
def dedup_containment(spark, sf_dir):
    """Near-SUPERSET detection via shingle containment
    C(A -> B) = |sh(A) ∩ sh(B)| / |sh(A)|: an ordered pair is reported
    when >= 80% of the contained document's trigram shingles appear in
    the container. Containment is what symmetric Jaccard structurally
    misses — a short document quoted inside a much longer one has high
    C but low J (the sub-document dedup gate web-corpus pipelines run
    alongside near-dup removal; cf. Broder 1997's resemblance vs
    containment distinction).

    Same inverted-index candidate generation as dedup_ngram_jaccard —
    shingle equi-join over the DF-CAPPED shingle universe (stop-
    shingles with df > _DF_CAP dropped on both engines; never binds
    at the fixture), cost scales with collisions, never n² — with
    both directed containments falling out of one grouped join (the
    pair (A,B) and (B,A) carry different denominators). Both ratios
    are exact integer divisions, bit-identical across engines."""
    t = Tables(spark, sf_dir)
    # persist (r12): same 3-consumer pin as dedup_ngram_jaccard.
    shingled = pin(_df_capped(_shingled(t.documents)))
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shingled.alias("a"), shingled.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d_contained"),
            F.col("b.doc_id").alias("d_container"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    return (
        pairs.join(s1, F.col("d_contained") == F.col("s1.doc_id"))
        .join(s2, F.col("d_container") == F.col("s2.doc_id"))
        .filter(F.col("inter") / F.col("s1.n") >= 0.8)
        .select(
            "d_contained",
            "d_container",
            (F.col("inter") / F.col("s1.n")).alias("containment"),
            (
                F.col("inter") / (F.col("s1.n") + F.col("s2.n") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
