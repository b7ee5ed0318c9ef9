"""Multimodal column operators (SURVEY.md §2.10).

Pattern: media live as opaque BinaryType payloads next to a typed
metadata struct; decode/feature-extraction runs as Arrow-batched
mapInPandas so each Python batch handles many blobs at once. The
image/audio codecs are not installed in this container, so the decode
step is a clearly-marked deterministic stub (decode_stub below) — the
Spark-side plumbing (schema, batching, UDF signatures, partitioning)
is real and tested.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import functions as F

from ..io import Tables
from ..norms import qnt
from ..regutil import pin, registrar, spread

QUERIES: dict = {}
ORACLE: dict = {}
op = registrar(QUERIES, ORACLE)


DECODE_SCHEMA = (
    "doc_id long, n_bytes long, header_hex string, checksum long, mime string"
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic stand-in for a real media decoder.

    A production build would dispatch on MIME type to PIL / soundfile /
    pyav here (none are installed in this container); raising
    NotImplementedError for genuinely unsupported types is the
    documented contract. The stub emits stable pseudo-features so the
    pipeline shape is testable end-to-end.
    """
    if payload is None:
        raise NotImplementedError("decode of NULL payload")
    return {
        "n_bytes": len(payload),
        "header_hex": payload[:8].hex(),
        "checksum": int.from_bytes(
            hashlib.md5(payload).digest()[:4], "big", signed=False
        ),
    }


@op(
    "multimodal_col",
    sql="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           -- first 8 BYTES (substr over the payload hex), not first 8
           -- CHARS: byte-exact for any UTF-8 text (r9 sweep C)
           lower(substr(hex(encode(text)), 1, 16)) AS header_hex,
           CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) AS BIGINT)
               AS checksum,
           'text/plain' AS mime
    FROM documents
    """,
)
def multimodal_col(spark, sf_dir):
    """Binary payload column + metadata struct + batched decode.

    Payloads are the documents' utf-8 bytes (the only binary source in
    the fixtures); metadata is a typed struct; decode runs via
    mapInPandas over Arrow batches.

    Oracle: the stub's features are all byte-deterministic functions of
    the text (length, first-8-bytes hex, md5-prefix checksum), so the
    DuckDB twin recomputes every output column from the documents table
    byte-exactly (header bytes sliced from hex(encode(text)) — any
    UTF-8 text, not just ASCII, since the r9 sweep) — the
    whole binary pipeline is hash-checked, not rows-only. The sibling
    resize/frames/features keys get the same treatment (exact output
    bytes / micro-unit histogram values are DuckDB-recomputable), and
    since r6 all four emit only scalar sortable columns — hex strings
    and BIGINT micro-units, never raw binary/array cells — so the
    driver's pandas sort canon can order every output."""
    t = Tables(spark, sf_dir)
    with_payload = t.documents.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("size_hint"),
            F.md5(F.col("text")).alias("etag"),
        ).alias("meta"),
    )

    def decode_batches(batches):
        for pdf in batches:
            feats = [decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "header_hex": [f["header_hex"] for f in feats],
                    "checksum": [f["checksum"] for f in feats],
                    "mime": [m["mime"] for m in pdf["meta"]],
                }
            )

    return with_payload.mapInPandas(decode_batches, DECODE_SCHEMA)


def _payloads(t):
    """documents as (doc_id, payload binary) — the fixtures' only binary
    source; real media tables swap in their blob column here."""
    return t.documents.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )


def resize_stub(payload: bytes, factor: int) -> bytes:
    """Deterministic stand-in for an image resize (PIL.Image.thumbnail
    in a production build — not installed here): keep every factor-th
    byte. Preserves determinism and output-size semantics (len/factor)
    so the Spark-side contract is testable."""
    if payload is None:
        raise NotImplementedError("resize of NULL payload")
    return payload[::factor]


@op(
    "multimodal_resize",
    sql="""
    SELECT doc_id,
           -- every 4th BYTE via a pair-regexp over the payload hex
           -- (each greedy match eats up to 4 byte-pairs, keeps the
           -- first) — byte-exact for any UTF-8 text (r9 sweep C)
           lower(regexp_replace(hex(encode(text)), '(..)(..){0,3}',
                                '\\1', 'g')) AS payload_hex,
           CAST(strlen(text) AS BIGINT) AS orig_bytes,
           CAST(strlen(regexp_replace(hex(encode(text)), '(..)(..){0,3}',
                                      '\\1', 'g')) // 2
                AS BIGINT) AS new_bytes
    FROM documents
    """,
)
def multimodal_resize(spark, sf_dir):
    """Batched media resize: binary in -> smaller binary out + new
    size metadata, via Arrow-batched mapInPandas. The hot loop touches
    only the binary column; doc_id rides along untouched, and the
    operator is a pure per-partition map (no shuffle at any scale).

    SQL-oracled since r4: the stub resize keeps every 4th byte, and
    DuckDB recomputes the exact output bytes with a left-to-right
    greedy PAIR regexp over hex(encode(text)) ('(..)(..){0,3}' ->
    first byte-pair of each block, matching payload[::4] including
    the partial trailing block) — byte-exact for any UTF-8 text
    since the r9 sweep, not just ASCII.

    Since r6 the resized bytes ship as lowercase hex (`payload_hex`)
    instead of raw binary: the driver's pandas sort canon cannot
    order binary cells (the r5 red row), and hex keeps the output
    byte-exact-checkable while every column stays a sortable scalar —
    the same treatment `multimodal_col.header_hex` has had since r4."""
    FACTOR = 4
    t = Tables(spark, sf_dir)

    def resize_batches(batches):
        for pdf in batches:
            out = [resize_stub(p, FACTOR) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_hex": [o.hex() for o in out],
                    "orig_bytes": [len(p) for p in pdf["payload"]],
                    "new_bytes": [len(o) for o in out],
                }
            )

    return _payloads(t).mapInPandas(
        resize_batches,
        "doc_id long, payload_hex string, orig_bytes long, new_bytes long",
    )


@op(
    "multimodal_frames",
    sql="""
    SELECT doc_id, CAST(k AS INT) AS frame_idx,
           -- 64-BYTE frames sliced from the payload hex (128 hex
           -- chars per frame) — byte-exact for any UTF-8 text
           lower(substr(hex(encode(text)),
                        CAST(k * 128 + 1 AS BIGINT), 128)) AS frame_hex
    FROM documents,
    LATERAL (SELECT unnest(range(0,
                 CAST(ceil(strlen(text) / 64.0) AS BIGINT), 3)) AS k) t
    """,
)
def multimodal_frames(spark, sf_dir):
    """Frame sampling: one binary "video" row fans out to one row per
    sampled fixed-size frame (1 -> many inside mapInPandas, the same
    shape a pyav keyframe extractor would use). Fan-out happens
    executor-side per Arrow batch — the driver never sees the frames.

    SQL-oracled since r4: stride and frame size are deterministic,
    so DuckDB regenerates every sampled frame's exact bytes with a
    LATERAL range + a 128-hex-char substr over hex(encode(text)) —
    byte-exact for any UTF-8 text since the r9 sweep. Since r6 each
    frame ships as lowercase hex (`frame_hex`) — byte-exact checking
    preserved, but every output column is a scalar the driver's
    pandas sort canon can order (binary cells were the r5 red row)."""
    FRAME_BYTES, STRIDE = 64, 3  # sample every 3rd 64-byte "frame"
    t = Tables(spark, sf_dir)

    def frame_batches(batches):
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    raise NotImplementedError("frame-sample of NULL payload")
                n_frames = (len(p) + FRAME_BYTES - 1) // FRAME_BYTES
                for k in range(0, n_frames, STRIDE):
                    ids.append(doc_id)
                    idxs.append(k)
                    frames.append(
                        p[k * FRAME_BYTES : (k + 1) * FRAME_BYTES].hex()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_hex": frames}
            )

    return _payloads(t).mapInPandas(
        frame_batches, "doc_id long, frame_idx int, frame_hex string"
    )


@op(
    "multimodal_features",
    sql="""
    WITH bytes AS (
        -- the high nibble of each payload BYTE is the first hex char
        -- of its pair — byte-exact for any UTF-8 text (r9 sweep C;
        -- the old ascii()-per-CHAR form binned codepoints, not bytes)
        SELECT doc_id,
               TRY_CAST(('0x' || substr(hx, 2 * i + 1, 1)) AS INT) AS bin
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                     CAST(strlen(text) AS BIGINT) AS n
              FROM documents),
        LATERAL (SELECT unnest(range(0, n)) AS i) t
    ),
    counts AS (
        SELECT doc_id, bin, COUNT(*) AS c FROM bytes GROUP BY doc_id, bin
    ),
    tot AS (SELECT doc_id, SUM(c) AS t FROM counts GROUP BY doc_id),
    spine AS (
        SELECT d.doc_id, r.range AS bin FROM documents d, range(16) r
    )
    SELECT s.doc_id,
           CAST(s.bin AS INT) AS bin,
           -- LEFT JOIN tot + outer COALESCE: a zero-byte payload
           -- still gets its fixed-width all-zero vector (the Spark
           -- side's contract; the inner join dropped it — r9 sweep E)
           CAST(COALESCE(FLOOR(COALESCE(c.c, 0) / CAST(t.t AS DOUBLE)
                               * 1e6 + 0.5), 0) AS BIGINT) AS feat_micro
    FROM spine s
    LEFT JOIN tot t ON s.doc_id = t.doc_id
    LEFT JOIN counts c ON s.doc_id = c.doc_id AND s.bin = c.bin
    """,
)
def multimodal_features(spark, sf_dir):
    """Feature extraction: binary payload -> fixed-width feature vector
    (16-bin normalized byte histogram as the deterministic stand-in for
    a CNN/audio embedding). Vectorized numpy over each Arrow batch;
    per-partition map, no shuffle — exploding to 16 rows/doc inside
    the same Arrow batch keeps it shuffle-free too.

    Since r6 the vector ships EXPLODED as (doc_id, bin, feat_micro)
    with integer micro-units (floor(v*1e6+0.5) as BIGINT) instead of
    one array<double> cell: the driver's pandas sort canon cannot
    hash ndarray cells (the r5 red row), and the scaled-BIGINT
    discipline (see memory: cross-engine-determinism) removes float
    formatting from the compare entirely. A pipeline that wants the
    packed vector regroups with collect_list(... ORDER BY bin) — the
    sim_*/dedup_embedding input shape is one groupBy away."""
    import numpy as np

    BINS = 16
    t = Tables(spark, sf_dir)

    def feat_batches(batches):
        for pdf in batches:
            ids, bins, micros = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    raise NotImplementedError("featurize of NULL payload")
                arr = np.frombuffer(p, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=BINS).astype(np.float64)
                total = hist.sum()
                v = hist / total if total else hist
                # identical quantization to norms.qnt / the SQL oracle
                mu = np.floor(v * 1e6 + 0.5).astype(np.int64)
                ids.extend([doc_id] * BINS)
                bins.extend(range(BINS))
                micros.extend(mu.tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "bin": bins, "feat_micro": micros}
            )

    return _payloads(t).mapInPandas(
        feat_batches, "doc_id long, bin int, feat_micro long"
    )


_FRAME_BYTES = 256


@op(
    "multimodal_audio_energy",
    sql=f"""
    WITH idx AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               unnest(range(0, CAST(strlen(text) AS BIGINT))) AS i
        FROM documents
    ),
    pos AS (
        -- sample = payload BYTE value from its hex pair, never the
        -- codepoint: byte-exact for any UTF-8 text, and b <= 255 so
        -- b*b can't overflow (the old unicode()-per-CHAR form read
        -- an emoji as 128578 and overflowed INT32 — r9 sweep C)
        SELECT doc_id,
               i // {_FRAME_BYTES} AS frame,
               CAST(TRY_CAST(('0x' || substr(hx, CAST(2 * i + 1 AS BIGINT),
                                             2)) AS INT) AS BIGINT) AS b
        FROM idx
    )
    SELECT doc_id, frame,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(b * b) AS BIGINT) AS energy,
           CAST(MAX(b) AS BIGINT) AS peak,
           FLOOR(sqrt(CAST(SUM(b * b) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) * 1e6 + 0.5)
               / 1e6 AS rms
    FROM pos GROUP BY doc_id, frame
    """,
)
def multimodal_audio_energy(spark, sf_dir):
    """Windowed energy profile of a binary payload treated as 8-bit PCM
    audio — the framing + per-frame energy/peak/RMS pass that VAD
    (voice-activity detection), silence trimming and loudness
    normalization all run before any model sees a training clip. Frames
    are 256 samples; per (doc, frame): sample count, exact energy Σb²,
    peak amplitude, and RMS.

    The decode/frame step is the real multimodal plumbing — an
    Arrow-batched ``mapInPandas`` over the payload bytes emitting
    integer frame rows (a production build swaps the byte view for
    soundfile PCM decode at the same seam; cf. `decode_stub`). All
    Python outputs are exact BIGINTs; RMS is derived ENGINE-side from
    those integers (sqrt of one double division, 1e-6-quantized), so
    the float discipline lives in the two engines' identical IEEE
    sequence, not in numpy. The oracle recomputes every frame from the
    documents table via a byte-position unnest over
    hex(encode(text)) — byte-exact for any UTF-8 text since the r9
    sweep (the old unicode()-per-CHAR form read an emoji codepoint
    as a 128578 amplitude and overflowed the oracle's INT32). Frame rows scale as bytes/256 and partition by doc —
    embarrassingly parallel at 100 TB."""
    t = Tables(spark, sf_dir)
    with_payload = _payloads(t)

    def frame_batches(batches):
        for pdf in batches:
            rows = {"doc_id": [], "frame": [], "n_samples": [],
                    "energy": [], "peak": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for fi in range(0, (len(b) + _FRAME_BYTES - 1) // _FRAME_BYTES):
                    fr = b[fi * _FRAME_BYTES:(fi + 1) * _FRAME_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["frame"].append(fi)
                    rows["n_samples"].append(len(fr))
                    rows["energy"].append(sum(x * x for x in fr))
                    rows["peak"].append(max(fr))
            yield pd.DataFrame(rows)

    frames = with_payload.mapInPandas(
        frame_batches,
        "doc_id long, frame long, n_samples long, energy long, peak long",
    )
    return frames.select(
        "doc_id",
        "frame",
        "n_samples",
        "energy",
        "peak",
        qnt(
            F.sqrt(F.col("energy").cast("double") / F.col("n_samples").cast("double")),
            "rms",
        ),
    )


# 56-bit dHash geometry: 7 rows x 8 difference bits; sample index
# i = k + k//8 spreads 63 sample points over the payload. 56 bits (not
# the classic 64) keeps the packed hash strictly positive in a signed
# BIGINT on both engines; bands are 4 x 14 bits.
_PH_BITS, _PH_BANDS, _PH_BAND_BITS = 56, 4, 14
_PH_NEAR = 14  # <=25% differing bits -> flag as near-duplicate


def _phash_terms(byte_at) -> list[str]:
    """The 56 comparison terms as engine-SQL strings; `byte_at(expr)`
    renders a 0-based byte accessor in the target dialect."""
    terms = []
    for k in range(_PH_BITS):
        i = f"({k + k // 8} * (n - 1)) {{div}} 62"
        j = f"({k + k // 8 + 1} * (n - 1)) {{div}} 62"
        terms.append(
            f"(CASE WHEN {byte_at(i)} > {byte_at(j)}"
            f" THEN CAST({1 << k} AS BIGINT) ELSE 0 END)"
        )
    return terms


def _hx_byte_spark(p: str) -> str:
    """0-based byte accessor over the pre-projected payload hex `hx`
    (Spark dialect): byte-exact for any UTF-8 text — the old
    ascii(substring(text, ...)) form read CHAR codepoints, which
    diverge from payload bytes the moment the text is non-ASCII
    (r9 sweep C). COALESCE(.., 0) pins the empty-payload edge.

    Measured alternative (r9, rejected): pre-sampling the 63 byte
    values into one transform(sequence(0,62), ...) array and reading
    terms via element_at LOSES to the 112 inline accessors at sf0.1
    (1.33 vs 0.99 s hash stage) — whole-stage codegen keeps the
    inline conv calls register-resident while the array form pays
    per-row ArrayData materialization."""
    return (
        f"COALESCE(CAST(conv(substring(hx, 2*({p}) + 1, 2), 16, 10)"
        f" AS BIGINT), 0)"
    )


def _hx_byte_duck(p: str) -> str:
    """DuckDB twin of _hx_byte_spark (TRY_CAST of the 0x-prefixed
    pair; hex() renders uppercase identically on both engines)."""
    return f"COALESCE(TRY_CAST(('0x' || substr(hx, 2*({p}) + 1, 2)) AS INT), 0)"


@op(
    "multimodal_phash",
    sql=f"""
    WITH h AS (
        SELECT doc_id,
               ({" + ".join(
                   t.replace("{div}", "//")
                   for t in _phash_terms(_hx_byte_duck)
               )}) AS ph
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                     CAST(strlen(text) AS BIGINT) AS n
              FROM documents)
    ),
    bands AS (
        SELECT doc_id, ph, b.band_idx,
               (ph >> (14 * b.band_idx)) & 16383 AS band_val
        FROM h CROSS JOIN (
            SELECT unnest(range(0, {_PH_BANDS})) AS band_idx
        ) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming,
           bit_count(xor(a.ph, b.ph)) <= {_PH_NEAR} AS near_dup
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    """,
)
def multimodal_phash(spark, sf_dir):
    """Perceptual-hash near-duplicate BLOCKING over binary payloads —
    the image-dedup shape (pHash/dHash + banded LSH) every multimodal
    training pipeline runs before pixel-level comparison: a 56-bit
    difference hash (adjacent sampled bytes compared, the dHash
    gradient trick) packs per payload, 4 x 14-bit bands block
    candidates (band-key equi-join, never all-pairs — the
    dedup_simhash discipline), and each candidate pair gets its exact
    Hamming distance plus a near-dup flag at <= {_PH_NEAR} bits. On a
    real image table the byte sampler is the stubbed decode step
    (grayscale 8x8 thumbnail); here it samples the documents' utf-8
    payload bytes, so the oracle recomputes every bit from SQL
    (ascii/substr) and the whole pipeline is hash-checked, not
    rows-only — the multimodal_col discipline.

    Determinism: integer-only — sample positions are exact integer
    division, the hash is a sum of 56 CASE powers of two, Hamming is
    bit_count(xor). No floats anywhere.

    Scale: one payload scan computes hashes (codegen), the 4-row band
    explode is constant fan-out, and candidates come from an
    equi-join on (band_idx, band_val) — at 100 TB band width grows
    with log(corpus) to hold bucket cardinality, exactly the
    sim_ann_lsh knob."""
    t = Tables(spark, sf_dir)
    terms = " + ".join(
        tt.replace("{div}", "div") for tt in _phash_terms(_hx_byte_spark)
    )
    # persist: the band self-join's two sides each recomputed the
    # 56-term dHash expression over hex(text) — the plan's dominant
    # per-row cost — doubling the fingerprint pass. The pinned frame
    # is flat (doc_id, ph BIGINT): none of the nested-array cache
    # penalty that made the dedup_embedding pin a negative result.
    # spread (r13): the 56-term dHash expression ran as one task on
    # the single documents split.
    h = pin(
        spread(t.documents.select("doc_id", "text"), "doc_id").select(
            "doc_id",
            F.octet_length("text").cast("long").alias("n"),
            F.hex(F.encode("text", "utf-8")).alias("hx"),
        ).select("doc_id", F.expr(terms).alias("ph"))
    )
    bands = h.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(*[F.lit(i) for i in range(_PH_BANDS)])
        ).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr(f"(ph >> (14 * band_idx)) & 16383"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ph").alias("ha"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ph").alias("hb"),
        "band_idx",
        "band_val",
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            ham.cast("long").alias("hamming"),
            (ham <= _PH_NEAR).alias("near_dup"),
        )
        .distinct()
    )


@op(
    "pipeline_media_prep",
    sql=f"""
    WITH meta AS (
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT)
                    AS BIGINT) AS checksum
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               ({" + ".join(
                   t.replace("{div}", "//")
                   for t in _phash_terms(_hx_byte_duck)
               )}) AS ph
        FROM (SELECT doc_id, hex(encode(text)) AS hx,
                     CAST(strlen(text) AS BIGINT) AS n
              FROM documents)
    ),
    bands AS (
        SELECT doc_id, ph, b.band_idx,
               (ph >> (14 * b.band_idx)) & 16383 AS band_val
        FROM h CROSS JOIN (
            SELECT unnest(range(0, {_PH_BANDS})) AS band_idx
        ) b
    ),
    dup AS (
        SELECT DISTINCT b.doc_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_NEAR}
    )
    SELECT m.doc_id, m.n_bytes, m.checksum, h.ph AS phash,
           d.doc_id IS NOT NULL AS is_near_dup,
           COALESCE(d.doc_id IS NULL AND m.n_bytes >= 64,
                    FALSE) AS keep
    FROM meta m
    JOIN h ON m.doc_id = h.doc_id
    LEFT JOIN dup d ON m.doc_id = d.doc_id
    """,
)
def pipeline_media_prep(spark, sf_dir):
    """END-TO-END media-prep capstone — the multimodal bookend beside
    `pipeline_text_prep` / `pipeline_events_prep` /
    `pipeline_embed_prep`: every payload flows through metadata
    extraction (size + checksum, the decode_stub features) →
    perceptual fingerprint (the 56-bit dHash) → banded near-dup
    detection (hamming <= {_PH_NEAR} against any smaller-id payload —
    the pairwise min-id survivorship rule; transitive closure is
    `dedup_cluster`'s job) → the keep/drop gate (not a near-dup AND
    at least 64 payload bytes), as ONE Catalyst plan whose only
    corpus-shuffle is the band-key equi-join. This is the ingest gate
    a multimodal training pipeline runs before expensive decode:
    cheap bytes-level features decide survivorship first.

    Determinism: integer-only (hash bits, byte counts, md5-prefix
    checksum, Hamming); booleans derive from integer comparisons.

    Scale: metadata + fingerprint are one codegen payload scan; the
    near-dup probe is the `multimodal_phash` banded equi-join (never
    all-pairs); the final joins are doc-keyed. At 100 TB the decode
    stub behind `multimodal_col` swaps to a real thumbnailer and the
    byte sampler reads its output — the plan shape is unchanged."""
    t = Tables(spark, sf_dir)
    terms = " + ".join(
        tt.replace("{div}", "div") for tt in _phash_terms(_hx_byte_spark)
    )
    # ONE row-local projection for metadata AND fingerprint (r12,
    # guide §2.4): meta and h were separate frames over the same
    # documents scan, and their doc_id equi-join was the plan's only
    # SortMergeJoin — a full corpus shuffle to re-pair columns that
    # never left the row. Fusing them removes that exchange outright;
    # the near-dup band probe below still derives its slim
    # (doc_id, ph) side from this same projection.
    # spread (r13): metadata+dHash fused projection ran as one task
    # on the single documents split.
    base = spread(t.documents.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        # octet_length (BYTES): n_bytes is payload size, and the
        # oracle's strlen counts bytes — length() counted chars and
        # diverged on multibyte text (r9 sweep C)
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.octet_length("text").cast("long").alias("n"),
        F.expr(
            "CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)"
        ).alias("checksum"),
        F.hex(F.encode("text", "utf-8")).alias("hx"),
    ).select(
        "doc_id", "n_bytes", "checksum", F.expr(terms).alias("ph")
    )
    base = pin(base)
    h = base.select("doc_id", "ph")
    bands = h.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(*[F.lit(i) for i in range(_PH_BANDS)])
        ).alias("band_idx"),
    ).withColumn("band_val", F.expr("(ph >> (14 * band_idx)) & 16383"))
    a = bands.select(
        F.col("doc_id").alias("a_id"),
        F.col("ph").alias("ha"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_id"),
        F.col("ph").alias("hb"),
        "band_idx",
        "band_val",
    )
    dup = (
        a.join(b, ["band_idx", "band_val"])
        .filter(
            (F.col("a_id") < F.col("doc_id"))
            & (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                <= _PH_NEAR
            )
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        base.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_bytes",
            "checksum",
            F.col("ph").alias("phash"),
            F.coalesce("is_dup", F.lit(False)).alias("is_near_dup"),
            F.coalesce(
                F.coalesce("is_dup", F.lit(False)).eqNullSafe(False)
                & (F.col("n_bytes") >= 64),
                # a NULL payload has no size: explicitly NOT kept
                # (NULL-injection sweep — keep must never be NULL)
                F.lit(False),
            ).alias("keep"),
        )
    )
