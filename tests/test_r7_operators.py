"""Semantic invariants for round-7 work: the 4 operators from the r6
end-of-round snapshot wave that shipped without tests
(quality_gopher_rules, sample_mixture_target, text_bigram_logprob,
ts_period_delta) — each gets a full oracle-independent rederivation
(parity can't catch a bug shared by query and oracle), plus the two
documentation ratchets the r6 verdict demanded: SURVEY §2 must list
every registry key bidirectionally, and no oracle may contain a bare
decimal literal division (the DECIMAL-under-spark.sql dtype trap)."""

import hashlib
import math
import os
import re
from collections import Counter

import pandas as pd

from data_webhooks_spark import registry

QUERIES = registry.queries()
ORACLE = registry.oracle_sql()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docs(spark, sf_dir):
    from data_webhooks_spark.io import Tables

    return Tables(spark, sf_dir).documents.toPandas()


def test_gopher_rules_match_python_rederivation(spark, sf_dir):
    """Recompute every per-doc metric and rule boolean in pure Python
    (split on single space, the documented tokenizer) for the whole
    sf0.01 corpus; the integer cross-multiplication rules must agree
    bit-for-bit and the conjunction must equal AND of the parts."""
    from data_webhooks_spark.operators.text import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_WORDS,
        _STOPWORDS,
    )

    got = (
        QUERIES["quality_gopher_rules"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    docs = _docs(spark, sf_dir)
    assert len(got) == len(docs)  # no doc dropped by the 3-way join
    for _, row in docs.iterrows():
        parts = row["text"].split(" ")
        n_words = len(parts)
        chars = sum(len(w) for w in parts)
        n_stop = sum(w in _STOPWORDS for w in parts)
        n_short = sum(len(w) <= 2 for w in parts)
        top1 = max(Counter(parts).values())
        bigrams = [f"{a} {b}" for a, b in zip(parts, parts[1:])]
        top2 = max(Counter(bigrams).values())
        g = got.loc[row["doc_id"]]
        assert (
            g["n_words"],
            g["chars_in_words"],
            g["n_stop"],
            g["n_short"],
            g["top1"],
            g["top2"],
        ) == (n_words, chars, n_stop, n_short, top1, top2), row["doc_id"]
        rules = {
            "r_word_count": _GOPHER_MIN_WORDS <= n_words <= _GOPHER_MAX_WORDS,
            "r_mean_word_len": 3 * n_words <= chars <= 10 * n_words,
            "r_stopwords": n_stop >= 2,
            "r_short_words": 20 * n_short <= 3 * n_words,
            "r_top_unigram": 5 * top1 <= n_words,
            "r_top_bigram": 50 * top2 <= 9 * (n_words - 1),
        }
        for k, v in rules.items():
            assert bool(g[k]) == v, (row["doc_id"], k)
        assert bool(g["gopher_pass"]) == all(rules.values())


def test_mixture_target_exact_integer_rederivation(spark, sf_dir):
    """Re-derive capacity, per-domain targets, thresholds AND the kept
    counts from scratch in Python — including the md5 hash-bucket
    decision per doc_id — and check the mixture contract: no
    upsampling (n_kept <= n_docs), the achieved shares sum to 1
    within quantization, and each achieved share lands within
    hash-uniformity distance of the declared target."""
    from data_webhooks_spark.operators.sampling import (
        BUCKETS,
        _MIX_SHARES,
    )

    got = (
        QUERIES["sample_mixture_target"](spark, sf_dir)
        .toPandas()
        .set_index("domain")
    )
    docs = _docs(spark, sf_dir)

    def domain_of(source: str) -> str:
        return {0: "web", 1: "books", 2: "code"}[int(source[3:]) % 3]

    def bucket(doc_id) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:15]
        return int(h, 16) % BUCKETS

    dom = docs.assign(domain=docs["source"].map(domain_of))
    n = dom.groupby("domain").size().to_dict()
    t_units = min(n[d] * 1_000_000 // s for d, s in _MIX_SHARES.items())
    total_kept = 0
    for d, s in _MIX_SHARES.items():
        k_target = t_units * s // 1_000_000
        threshold = k_target * BUCKETS // n[d]
        ids = dom.loc[dom["domain"] == d, "doc_id"]
        n_kept = int((ids.map(bucket) < threshold).sum())
        g = got.loc[d]
        assert (g["n_docs"], g["k_target"], g["threshold"], g["n_kept"]) == (
            n[d],
            k_target,
            threshold,
            n_kept,
        ), d
        assert n_kept <= n[d]  # never upsamples
        total_kept += n_kept
    shares = got["achieved_share"]
    assert abs(shares.sum() - 1.0) < 3e-6
    tot_s = sum(_MIX_SHARES.values())
    for d, s in _MIX_SHARES.items():
        # md5 buckets are uniform, not exact: allow the binomial-ish
        # slack a 10k-bucket threshold has at a few hundred rows/domain
        assert abs(got.loc[d, "achieved_share"] - s / tot_s) < 0.12, d


def test_bigram_logprob_matches_python_counter(spark, sf_dir):
    """Re-derive the add-one-smoothed bigram LM from scratch with
    collections.Counter over the whole corpus and compare every doc's
    mean -ln p to 6 decimals; also assert the order-sensitivity claim:
    scores are positive and n_bigrams == n_words - 1 per doc."""
    got = (
        QUERIES["text_bigram_logprob"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    docs = _docs(spark, sf_dir)
    uni: Counter = Counter()
    bi: Counter = Counter()
    toks = {}
    for _, row in docs.iterrows():
        parts = row["text"].split(" ")
        toks[row["doc_id"]] = parts
        uni.update(parts)
        bi.update(zip(parts, parts[1:]))
    v = len(uni)
    n_checked = 0
    for doc_id, parts in toks.items():
        pairs = list(zip(parts, parts[1:]))
        if not pairs:
            assert doc_id not in got.index
            continue
        terms = [
            -math.log((bi[p] + 1.0) / (uni[p[0]] + v)) for p in pairs
        ]
        mean = sum(terms) / len(terms)
        g = got.loc[doc_id]
        assert g["n_bigrams"] == len(pairs)
        assert g["avg_neg_logprob"] > 0
        assert abs(g["avg_neg_logprob"] - round(mean, 6)) < 2e-6, doc_id
        n_checked += 1
    assert n_checked == len(got)


def test_period_delta_telescopes_and_matches_pandas(spark, sf_dir):
    """Two independent checks: (a) the lag algebra telescopes — per
    event type, sum(delta_n) == last n - first n and likewise for
    delta_value within one 1e-4 unit; (b) a pandas groupby/shift
    rederivation agrees row-for-row on counts and deltas."""
    from data_webhooks_spark.io import Tables

    got = QUERIES["ts_period_delta"](spark, sf_dir).toPandas()
    for et, g in got.groupby("event_type"):
        g = g.sort_values("day")
        assert g["n"].iloc[0] > 0
        assert pd.isna(g["prev_n"].iloc[0]) and pd.isna(
            g["delta_n"].iloc[0]
        )
        assert g["delta_n"].iloc[1:].sum() == g["n"].iloc[-1] - g["n"].iloc[0]
        assert (
            abs(
                g["delta_value"].iloc[1:].sum()
                - (g["sum_value"].iloc[-1] - g["sum_value"].iloc[0])
            )
            < 1e-4 * len(g)
        )
    ev = Tables(spark, sf_dir).events.toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    ev["units"] = (ev["value"] * 10000.0 + 0.5).apply(math.floor)
    daily = (
        ev.groupby(["event_type", "day"])
        .agg(n=("event_id", "size"), sv=("units", "sum"))
        .reset_index()
        .sort_values(["event_type", "day"])
    )
    daily["prev_n"] = daily.groupby("event_type")["n"].shift()
    merged = got.merge(
        daily, on=["event_type", "day"], suffixes=("", "_pd")
    )
    assert len(merged) == len(got) == len(daily)
    assert (merged["n"] == merged["n_pd"]).all()
    both = merged.dropna(subset=["prev_n"])
    assert (both["prev_n"] == both["prev_n_pd"]).all()
    assert (
        (merged["sum_value"] - merged["sv"] / 10000.0).abs() < 1e-9
    ).all()


def test_survey_section2_lists_every_registry_key():
    """The r6 drift class, ratcheted: SURVEY §2 claims it is
    cross-checked against the registry in both directions each round —
    enforce it. Every `key` that appears in a §2 table row must be a
    registry key, and every registry key must appear somewhere in
    SURVEY.md as a backticked identifier."""
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    mentioned = set(re.findall(r"`([a-z][a-z0-9_]+)`", text))
    missing = sorted(set(QUERIES) - mentioned)
    assert not missing, f"registry keys absent from SURVEY.md: {missing}"


def test_no_decimal_literal_qnt_division_in_oracles():
    """The ts_period_delta r6 lesson, ratcheted at the exact failure
    shape: `FLOOR(...) / NNNN.0` types the division DECIMAL under
    spark.sql (BIGINT / DECIMAL literal) but DOUBLE under DuckDB.
    Multiplications and already-DOUBLE numerators are fine — only the
    quantizing division must use an exponent literal (1e6) or a
    CAST(... AS DOUBLE) numerator. The dynamic counterpart is the
    PORTABLE_ORACLES pin in test_parity.py, which makes any portable
    key's dtype drift a hard failure."""
    def floor_divided_by_decimal(sql: str) -> list[str]:
        hits = []
        for m in re.finditer(r"FLOOR\(", sql, re.IGNORECASE):
            depth, i = 1, m.end()
            while i < len(sql) and depth:
                depth += {"(": 1, ")": -1}.get(sql[i], 0)
                i += 1
            rest = sql[i:]
            dm = re.match(r"\s*/\s*(\d+\.\d+)\b", rest)
            if dm:
                hits.append(f"FLOOR(...) / {dm.group(1)}")
        return hits

    bad = {
        k: hits for k, sql in ORACLE.items()
        if (hits := floor_divided_by_decimal(sql))
    }
    assert not bad, f"DECIMAL-typed quantizing division in oracle SQL: {bad}"


def test_dau_mau_matches_python_sets(spark, sf_dir):
    """Rebuild daily user sets in Python and check DAU, the 28-day
    trailing-union MAU, and the invariants dau <= mau28 and
    stickiness in (0, 1]."""
    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["analytics_dau_mau"](spark, sf_dir)
        .toPandas()
        .set_index("day")
        .sort_index()
    )
    ev = Tables(spark, sf_dir).events.select("user_id", "ts").toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    by_day = ev.groupby("day")["user_id"].agg(set).to_dict()
    days = sorted(by_day)
    assert list(got.index) == days
    for d in days:
        dau = len(by_day[d])
        mau = len(
            set().union(
                *(
                    by_day[d2]
                    for d2 in days
                    if d - pd.Timedelta(days=27) <= d2 <= d
                )
            )
        )
        assert got.loc[d, "dau"] == dau
        assert got.loc[d, "mau28"] == mau
        assert dau <= mau
        assert 0 < got.loc[d, "stickiness"] <= 1
        assert abs(got.loc[d, "stickiness"] - round(dau / mau, 6)) < 2e-6


def test_string_patterns_classify_the_fixture_exactly(spark, sf_dir):
    """The fixture's five event columns have fully known formats:
    ids are integers, event_type is a lowercase word, value renders
    as a plain decimal, props is a JSON object — each column must
    classify 100% into its one class, shares must sum to 1, and the
    per-column row counts must equal the table size."""
    from data_webhooks_spark.io import Tables

    pdf = QUERIES["profile_string_patterns"](spark, sf_dir).toPandas()
    n_rows = Tables(spark, sf_dir).events.count()
    for col, g in pdf.groupby("col_name"):
        assert g["n"].sum() == n_rows, col
        assert abs(g["share"].sum() - 1.0) < 1e-5, col
    one_class = (
        pdf.groupby("col_name")
        .apply(lambda g: (len(g), g.iloc[g["n"].argmax()]["pattern"]))
        .to_dict()
    )
    assert one_class["event_id"] == (1, "int_like")
    assert one_class["user_id"] == (1, "int_like")
    assert one_class["event_type"] == (1, "alpha_lower")
    assert one_class["value"] == (1, "float_like")
    assert one_class["props"] == (1, "json_object")


def test_snapshot_diff_matches_python_rederivation(spark, sf_dir):
    """Rebuild both snapshots in Python from the documented modular
    derivations and diff them from scratch: every change class,
    before/after value and changed-flag must agree, and the I/D
    populations must be exactly the %11 / %17 classes."""
    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["warehouse_snapshot_diff"](spark, sf_dir)
        .toPandas()
        .set_index("c_custkey")
    )
    cust = Tables(spark, sf_dir).customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    ).toPandas()
    v2, v3 = {}, {}
    for r in cust.itertuples():
        k, seg, bal = int(r.c_custkey), r.c_mktsegment, float(r.c_acctbal)
        seg2 = "SEG_B" if k % 7 == 0 else seg
        bal2 = round(bal + (100.0 if k % 11 == 0 else 0.0), 2)
        seg3 = "SEG_C" if k % 13 == 0 else seg2
        bal3 = round(
            bal + (100.0 if k % 11 == 0 else 0.0)
            + (250.0 if k % 7 == 0 else 0.0),
            2,
        )
        v2[k] = (seg2, bal2)
        if k % 17 != 0:
            v3[k] = (seg3, bal3)
        if k % 11 == 0:
            v3[k + 1000000] = (seg3, bal3)
    assert set(got.index) == set(v2) | set(v3)
    for k in got.index:
        row = got.loc[k]
        a, b = v2.get(k), v3.get(k)
        want = (
            "D" if b is None
            else "I" if a is None
            else "U" if a != b
            else "N"
        )
        assert row["change"] == want, k
        assert row["seg_changed"] == (
            a is not None and b is not None and a[0] != b[0]
        ), k
        assert row["bal_changed"] == (
            a is not None and b is not None and a[1] != b[1]
        ), k
    assert set(got[got.change == "D"].index) == {
        k for k in v2 if k % 17 == 0
    }
    assert set(got[got.change == "I"].index) == {
        k for k in v3 if k >= 1000000
    }


def test_stl_decompose_identity_and_pandas_rederivation(spark, sf_dir):
    """(a) additive identity: y == trend + seasonal + resid wherever
    trend exists (within quantization); (b) the seasonal component
    sums to ~0 over observed rows per type; (c) a full pandas
    rederivation (dense grid, centered rolling-25 mean, hod means of
    the detrended series re-centered by the global detrended mean)
    agrees to the quantization grain."""
    from data_webhooks_spark.io import Tables

    got = QUERIES["ts_stl_decompose"](spark, sf_dir).toPandas()
    ok = got.dropna(subset=["trend"])
    assert len(ok) > 0 and len(ok) < len(got)  # edges are NULL
    err = (ok["y"] - (ok["trend"] + ok["seasonal"] + ok["resid"])).abs()
    assert (err < 5e-6).all()
    for et, g in ok.groupby("event_type"):
        assert abs(g["seasonal"].sum()) < 1e-3 * len(g)

    ev = Tables(spark, sf_dir).events.select("event_type", "ts").toPandas()
    ev["hour"] = ev["ts"].dt.floor("h")
    h0, h1 = ev["hour"].min(), ev["hour"].max()
    spine = pd.date_range(h0, h1, freq="h")
    for et, g in ev.groupby("event_type"):
        y = (
            g.groupby("hour").size().reindex(spine, fill_value=0).astype(int)
        )
        trend = y.rolling(25, center=True, min_periods=25).mean()
        det25 = 25 * y - y.rolling(25, center=True, min_periods=25).sum()
        hod = pd.Series(spine.hour, index=spine)
        nh = det25.dropna().groupby(hod[det25.notna()]).count()
        sh = det25.dropna().groupby(hod[det25.notna()]).sum()
        gsum, gn = det25.dropna().sum(), det25.notna().sum()
        sub = got[got.event_type == et].set_index("hour").sort_index()
        assert list(sub.index) == list(spine)
        for ts_ in spine[13:-13:7]:  # sample the interior
            t_want = trend.loc[ts_]
            s_want = sh[ts_.hour] / (25 * nh[ts_.hour]) - gsum / (25 * gn)
            assert abs(sub.loc[ts_, "trend"] - round(t_want, 6)) < 2e-6
            assert abs(sub.loc[ts_, "seasonal"] - s_want) < 2e-6
            assert (
                abs(
                    sub.loc[ts_, "resid"]
                    - (y.loc[ts_] - t_want - s_want)
                )
                < 5e-6
            )


def test_collocations_match_python_counter(spark, sf_dir):
    """Recompute every PMI from scratch with Counters and check the
    operator returned EXACTLY the true top-20 under the documented
    ordering (quantized pmi desc, w1, w2) with matching values."""
    got = QUERIES["text_collocations_pmi"](spark, sf_dir).toPandas()
    docs = _docs(spark, sf_dir)
    uni: Counter = Counter()
    bi: Counter = Counter()
    for _, row in docs.iterrows():
        parts = row["text"].split(" ")
        uni.update(parts)
        bi.update(zip(parts, parts[1:]))
    nu, nb = sum(uni.values()), sum(bi.values())
    scored = []
    for (w1, w2), c2 in bi.items():
        if c2 < 5:
            continue
        pmi = (
            math.log(c2)
            + 2 * math.log(nu)
            - math.log(nb)
            - math.log(uni[w1])
            - math.log(uni[w2])
        )
        scored.append((-round(pmi, 6), w1, w2, c2))
    scored.sort()
    want = scored[:20]
    assert len(got) == 20
    for i, (negp, w1, w2, c2) in enumerate(want):
        r = got.iloc[i]
        assert (r["w1"], r["w2"], r["n_pair"]) == (w1, w2, c2), i
        assert abs(r["pmi"] - (-negp)) < 2e-6


def test_phash_pairs_match_python_bits(spark, sf_dir):
    """Recompute the 56-bit dHash, the 4x14 bands, the candidate-pair
    set and every Hamming distance in pure Python — the blocking join
    must be lossless over band collisions and the distances exact."""
    from itertools import combinations

    from data_webhooks_spark.operators.multimodal import (
        _PH_BANDS,
        _PH_NEAR,
    )

    got = QUERIES["multimodal_phash"](spark, sf_dir).toPandas()
    docs = _docs(spark, sf_dir)

    def phash(text: str) -> int:
        b = text.encode()
        n = len(b)
        bits = 0
        for k in range(56):
            i = (k + k // 8) * (n - 1) // 62
            j = (k + k // 8 + 1) * (n - 1) // 62
            if b[i] > b[j]:
                bits |= 1 << k
        return bits

    H = {r.doc_id: phash(r.text) for r in docs.itertuples()}
    buckets: dict = {}
    for d, h in H.items():
        for bi in range(_PH_BANDS):
            buckets.setdefault((bi, (h >> (14 * bi)) & 0x3FFF), []).append(d)
    want = set()
    for ds in buckets.values():
        for a, b in combinations(sorted(ds), 2):
            want.add((a, b))
    have = {(int(r.doc_a), int(r.doc_b)) for r in got.itertuples()}
    assert have == want
    for r in got.itertuples():
        ham = bin(H[r.doc_a] ^ H[r.doc_b]).count("1")
        assert r.hamming == ham
        assert r.near_dup == (ham <= _PH_NEAR)


def test_matryoshka_recall_matches_numpy(spark, sf_dir):
    """Numpy rederivation of the per-dim truncated top-5 (rounded
    cosine, vec_id tiebreak) and the recall@5 against full-dim; the
    64-dim row must be exactly 1.0."""
    import numpy as np

    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["embed_matryoshka_eval"](spark, sf_dir)
        .toPandas()
        .set_index("dim")
        .sort_index()
    )
    emb = Tables(spark, sf_dir).embeddings.select(
        "vec_id", "embedding"
    ).toPandas()
    E = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in emb.itertuples()
    }
    ids = sorted(E)

    def top5(q, dim):
        scored = []
        for i in ids:
            if i == q:
                continue
            a, b = E[q][:dim], E[i][:dim]
            cos = float(a @ b) / (
                math.sqrt(float(a @ a)) * math.sqrt(float(b @ b))
            )
            scored.append((-round(cos, 6), i))
        scored.sort()
        return {i for _, i in scored[:5]}

    for dim in (8, 16, 32, 64):
        full_hits = 0
        for q in range(20):
            full_hits += len(top5(q, dim) & top5(q, 64))
        want = round(full_hits / 100, 6)
        assert got.loc[dim, "n_hits"] == full_hits
        assert got.loc[dim, "n_queries"] == 20
        assert abs(got.loc[dim, "mean_recall5"] - want) < 2e-6
    assert got.loc[64, "mean_recall5"] == 1.0


def test_kfold_partition_and_python_hash_replay(spark, sf_dir):
    """Folds must partition the corpus exactly; every (fold, lang)
    cell count must equal a from-scratch md5-bucket replay."""
    from data_webhooks_spark.operators.sampling import BUCKETS, _KFOLDS

    got = QUERIES["split_kfold"](spark, sf_dir).toPandas()
    docs = _docs(spark, sf_dir)

    def fold_of(doc_id) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:15]
        return (int(h, 16) % BUCKETS) % _KFOLDS

    docs = docs.assign(fold=docs["doc_id"].map(fold_of))
    want = (
        docs.groupby(["fold", "lang"]).size().rename("n").reset_index()
    )
    merged = got.merge(want, on=["fold", "lang"], how="outer")
    assert merged["n_docs"].notna().all() and merged["n"].notna().all()
    assert (merged["n_docs"] == merged["n"]).all()
    assert got["n_docs"].sum() == len(docs)
    per_fold = got.groupby("fold")["n_docs"].sum()
    assert set(per_fold.index) == set(range(_KFOLDS))
    for f, nf in per_fold.items():
        assert (got[got.fold == f]["n_fold"] == nf).all()


def test_holt_backtest_matches_python_replay(spark, sf_dir):
    """Replay Holt's integer milli-unit recursion in pure Python per
    type and recompute MAE/RMSE/naive-MAE/skill from scratch — plus
    the definitional identities (rmse >= mae > 0, skill == 1 -
    mae_sum/naive_sum)."""
    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["ts_holt_backtest"](spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    ev = Tables(spark, sf_dir).events.select("event_type", "ts").toPandas()
    ev["hour"] = ev["ts"].dt.floor("h")
    for et, g in ev.groupby("event_type"):
        ys = g.groupby("hour").size().sort_index().tolist()
        l, b = ys[0] * 1000, 0
        errs, naives = [], []
        prev_y = None
        for y in ys[1:]:
            f = l + b
            l_new = math.floor((y * 1000 + l + b) / 2)
            b = math.floor((l_new - l + b) / 2)
            l = l_new
            # rows rn>=2 are emitted; in-output lag exists from rn>=3
            if prev_y is not None:
                errs.append(abs(y * 1000 - f))
                sq = (y * 1000 - f) ** 2
                naives.append((abs(y - prev_y) * 1000, sq))
            prev_y = y
        n = len(errs)
        mae = sum(errs) / (1000 * n)
        rmse = math.sqrt(sum(s for _, s in naives) / n) / 1000
        nmae = sum(a for a, _ in naives) / (1000 * n)
        row = got.loc[et]
        assert row["n_hours"] == n
        assert abs(row["mae"] - round(mae, 6)) < 2e-6
        assert abs(row["rmse"] - round(rmse, 6)) < 2e-6
        assert abs(row["naive_mae"] - round(nmae, 6)) < 2e-6
        assert abs(
            row["skill"] - (1 - sum(errs) / sum(a for a, _ in naives))
        ) < 2e-6
        assert row["rmse"] >= row["mae"] > 0


def test_ltv_cohort_identities_and_pandas(spark, sf_dir):
    """Pandas rederivation of the whole LTV table plus identities:
    cumulative revenue is non-decreasing in age per cohort, final
    cum_revenue equals the cohort's total purchase revenue, and
    n_active at age 0 equals the cohort size (everyone is active in
    their first week)."""
    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["analytics_ltv_cohort"](spark, sf_dir)
        .toPandas()
        .sort_values(["cohort_week", "age_week"])
    )
    ev = Tables(spark, sf_dir).events.select(
        "user_id", "ts", "event_type", "value"
    ).toPandas()
    ev["week"] = ev["ts"].dt.to_period("W-SUN").dt.start_time
    firsts = ev.groupby("user_id")["week"].min().rename("cohort_week")
    ev = ev.join(firsts, on="user_id")
    ev["age_week"] = (
        (ev["week"] - ev["cohort_week"]).dt.days // 7
    ).astype(int)
    ev["units"] = (
        (ev["value"] * 100.0 + 0.5).apply(math.floor)
        * (ev["event_type"] == "purchase").astype(int)
    )
    cells = (
        ev.groupby(["cohort_week", "age_week"])
        .agg(
            n_active=("user_id", "nunique"), rev_units=("units", "sum")
        )
        .reset_index()
    )
    sizes = firsts.value_counts().to_dict()
    m = got.merge(cells, on=["cohort_week", "age_week"])
    assert len(m) == len(got) == len(cells)
    assert (m["n_active_x"] == m["n_active_y"]).all()
    assert ((m["revenue"] - m["rev_units"] / 100).abs() < 1e-9).all()
    for cw, g in got.groupby("cohort_week"):
        g = g.sort_values("age_week")
        assert (g["cohort_users"] == sizes[cw]).all()
        assert g.iloc[0]["age_week"] == 0
        assert g.iloc[0]["n_active"] == sizes[cw]
        assert (g["cum_revenue"].diff().dropna() >= 0).all()
        total = ev[ev.cohort_week == cw]["units"].sum() / 100
        assert abs(g.iloc[-1]["cum_revenue"] - total) < 1e-9
        want_ltv = round(
            g.iloc[-1]["cum_revenue"] / sizes[cw], 6
        )
        assert abs(g.iloc[-1]["ltv_per_user"] - want_ltv) < 2e-6


def test_uniqueness_matches_pandas_value_counts(spark, sf_dir):
    """Recompute each candidate key's group-size distribution with
    pandas value_counts; event_id must be a perfect key."""
    from data_webhooks_spark.io import Tables

    got = (
        QUERIES["dq_uniqueness"](spark, sf_dir)
        .toPandas()
        .set_index("candidate_key")
    )
    ev = Tables(spark, sf_dir).events.toPandas()
    keys = {
        "event_id": ev["event_id"].astype(str),
        "user_id+ts": ev["user_id"].astype(str)
        + "|"
        + (ev["ts"].astype("int64") // 1000).astype(str),
        "event_type+day": ev["event_type"]
        + "|"
        + (ev["ts"].dt.floor("D").astype("int64") // 1000).astype(str),
    }
    assert set(got.index) == set(keys)
    for label, series in keys.items():
        vc = series.value_counts()
        row = got.loc[label]
        assert row["n_rows"] == len(vc)
        assert row["n_unique_keys"] == int((vc == 1).sum())
        dup = int(vc[vc > 1].sum())
        assert (row["n_dup_rows"] == dup) or (
            dup == 0 and pd.isna(row["n_dup_rows"])
        )
        assert row["max_group"] == int(vc.max())
        assert abs(row["key_ratio"] - round(len(vc) / len(ev), 6)) < 2e-6
    assert got.loc["event_id", "key_ratio"] == 1.0
    assert got.loc["event_type+day", "key_ratio"] < 1.0


def test_anomaly_stl_matches_mad_on_resid(spark, sf_dir):
    """Recompute the robust threshold from the STL residuals directly
    (numpy medians) and check the flagged set and z-scores agree; the
    flagged hours must be a strict subset of all residual hours and
    every |z| must exceed 3."""
    import numpy as np

    stl = (
        QUERIES["ts_stl_decompose"](spark, sf_dir)
        .toPandas()
        .dropna(subset=["resid"])
    )
    got = QUERIES["ts_anomaly_stl"](spark, sf_dir).toPandas()
    assert 0 < len(got) < len(stl)
    assert (got["robust_z"].abs() > 3).all()
    for et, g in stl.groupby("event_type"):
        med = np.median(g["resid"])
        mad = np.median((g["resid"] - med).abs())
        flagged = g[(g["resid"] - med).abs() > 3 * 1.4826 * mad]
        sub = got[got.event_type == et]
        assert set(sub["hour"]) == set(flagged["hour"]), et
        merged = sub.merge(flagged[["hour", "resid"]], on="hour")
        for r in merged.itertuples():
            want = round((r.resid_x - med) / (1.4826 * mad), 6)
            assert abs(r.robust_z - want) < 2e-6


def test_ffd_packing_matches_python_replay(spark, sf_dir):
    """Replay First-Fit-Decreasing per (lang, shard) in pure Python
    and require identical bins; plus the hard invariants — no bin over
    budget, token conservation, and every bin except possibly the last
    opened holds >= 1 doc."""
    from data_webhooks_spark.io import Tables
    from data_webhooks_spark.operators.text import (
        _FFD_BUDGET,
        PACK_SHARDS,
        _tokens,  # noqa: F401  (documenting the shared tokenizer)
    )

    got = (
        QUERIES["pack_sequences_ffd"](spark, sf_dir)
        .toPandas()
        .sort_values(["lang", "shard", "bin_id"])
    )
    assert (got["total_tokens"] <= _FFD_BUDGET).all()
    docs = _docs(spark, sf_dir)
    docs["n_tokens"] = docs["text"].str.split(" ").str.len()
    lo = docs.groupby("lang")["doc_id"].transform("min")
    hi = docs.groupby("lang")["doc_id"].transform("max")
    docs["shard"] = (
        ((docs["doc_id"] - lo) * PACK_SHARDS // (hi - lo + 1))
        .clip(upper=PACK_SHARDS - 1)
        .astype(int)
    )
    assert got["total_tokens"].sum() == docs["n_tokens"].sum()
    for (lang, sh), g in docs.groupby(["lang", "shard"]):
        g = g.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        bins = []
        for r in g.itertuples():
            for b in bins:
                if r.n_tokens <= b[0]:
                    b[0] -= r.n_tokens
                    b[1] += 1
                    b[2] += r.n_tokens
                    break
            else:
                bins.append(
                    [_FFD_BUDGET - int(r.n_tokens), 1, int(r.n_tokens)]
                )
        sub = got[(got.lang == lang) & (got.shard == sh)]
        assert list(sub["n_docs"]) == [b[1] for b in bins], (lang, sh)
        assert list(sub["total_tokens"]) == [b[2] for b in bins]
        for r in sub.itertuples():
            assert abs(
                r.fill_ratio
                - (r.total_tokens * 1000000 // _FFD_BUDGET) / 1e6
            ) < 1e-9


def test_scan_xml_roundtrip_matches_elementtree(spark, sf_dir):
    """Third-way check for scan_xml: parse the derived XML files with
    Python's ElementTree (a completely independent XML stack) and
    require the exact row multiset Spark's native reader returns."""
    import glob
    import os
    import xml.etree.ElementTree as ET

    from data_webhooks_spark.sources.derived import DERIVED_DIR

    got = QUERIES["scan_xml"](spark, sf_dir).toPandas()
    sfname = os.path.basename(sf_dir.rstrip("/"))
    rows = []
    for f in glob.glob(f"{DERIVED_DIR}/{sfname}/supplier_xml/*.xml"):
        root = ET.parse(f).getroot()
        for s in root.iter("supplier"):
            rows.append(
                (
                    int(s.find("s_suppkey").text),
                    s.find("s_name").text,
                    int(s.find("s_nationkey").text),
                    float(s.find("s_acctbal").text),
                )
            )
    want = sorted(rows)
    have = sorted(
        (int(r.s_suppkey), r.s_name, int(r.s_nationkey), float(r.s_acctbal))
        for r in got.itertuples()
    )
    assert len(want) > 0
    assert have == want


def test_snapshot_commit_isolation_and_atomicity(spark, sf_dir):
    """The write-side manifest invariants, independent of the oracle:
    (a) v3 contains no deleted type while v1/v2 still do; (b) v1 and
    v2 counts are IDENTICAL to scan_snapshot_manifest's (the delete
    commit did not disturb prior snapshots); (c) the v3 manifest lists
    only data_v3 files, every one existing on disk under the table
    dir, and no .tmp
    manifest is left behind (the atomic-publish contract)."""
    import glob
    import json
    import os

    from data_webhooks_spark.operators.layout import (
        versioned_events_path,
    )

    got = QUERIES["sink_snapshot_commit"](spark, sf_dir).toPandas()
    v3 = got[got.version == 3]
    assert "error" not in set(v3["event_type"])
    assert len(v3) > 0
    prior = QUERIES["scan_snapshot_manifest"](spark, sf_dir).toPandas()
    for v in (1, 2):
        a = (
            got[got.version == v]
            .set_index("event_type")["n"]
            .sort_index()
        )
        b = (
            prior[prior.version == v]
            .set_index("event_type")["n"]
            .sort_index()
        )
        assert (a == b).all(), v
        assert "error" in set(a.index)
    path = versioned_events_path(spark, sf_dir)
    with open(f"{path}/_manifests/v3.json") as f:
        files = json.load(f)["files"]
    assert files and all("data_v3" in f for f in files)
    # manifest entries are relative to the table dir
    assert all(os.path.exists(f"{path}/{f}") for f in files)
    assert not glob.glob(f"{path}/_manifests/*.tmp")
    # v3 row total equals v2 minus the deleted type's v2 count
    v2c = got[got.version == 2].set_index("event_type")["n"]
    assert v3["n"].sum() == v2c.sum() - v2c["error"]


def test_media_prep_consistent_with_phash_and_python(spark, sf_dir):
    """pipeline_media_prep must agree with its parts: is_near_dup
    exactly marks docs appearing as the LARGER id of a <=threshold
    pair in multimodal_phash's output; n_bytes/checksum re-derive in
    Python; keep == not near-dup and >= 64 bytes."""
    import hashlib as _hl

    got = (
        QUERIES["pipeline_media_prep"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pairs = QUERIES["multimodal_phash"](spark, sf_dir).toPandas()
    near_larger = set(
        pairs[pairs.near_dup]["doc_b"].astype(int)
    )
    assert set(got[got.is_near_dup].index) == near_larger
    docs = _docs(spark, sf_dir).set_index("doc_id")
    assert len(got) == len(docs)
    for doc_id in list(got.index)[:50]:
        text = docs.loc[doc_id, "text"]
        assert got.loc[doc_id, "n_bytes"] == len(text.encode())
        want_ck = int(_hl.md5(text.encode()).hexdigest()[:8], 16)
        assert got.loc[doc_id, "checksum"] == want_ck
    assert (
        got["keep"]
        == (~got["is_near_dup"] & (got["n_bytes"] >= 64))
    ).all()
    assert got["keep"].sum() > 0


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """The physical plan must carry a dynamicpruning expression in the
    fact scan's PartitionFilters (runtime pruning from the joined
    calendar dim), and the answer must equal a plain-predicate pandas
    restatement over raw events."""
    import math as _m

    df = QUERIES["scan_partition_pruned_dynamic"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    got = df.toPandas().set_index("event_type").sort_index()

    from data_webhooks_spark.io import Tables

    ev = Tables(spark, sf_dir).events.toPandas()
    # pandas dayofweek: Monday=0..Sunday=6; weekend = {5, 6}
    wk = ev[ev["ts"].dt.floor("D").dt.dayofweek.isin([5, 6])].copy()
    wk["cents"] = (wk["value"] * 100.0 + 0.5).apply(_m.floor)
    want = wk.groupby("event_type").agg(
        n=("event_id", "size"), cents=("cents", "sum")
    )
    assert list(got.index) == list(want.index)
    assert (got["n"] == want["n"]).all()
    assert ((got["sum_value"] - want["cents"] / 100).abs() < 1e-9).all()
