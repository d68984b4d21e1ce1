"""Bigram LM scoring: hand-computed probabilities, junk-scores-lower,
short-doc guard, filter semantics, partition independence."""

import math

import pandas as pd
from pyspark.sql import functions as F

from osm_poi_cloud_spark.functions import lm as LM


def test_hand_computed_bigram_scores(spark):
    # corpus: "a b a b", "a b", "c" -> unigrams a:3 b:3 c:1 (V=3)
    # bigrams: (a,b):3, (b,a):1
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b a b", "a b", "c"],
    }))
    bc, uc, v = LM.train_bigram_lm(df)
    assert v == 3
    big = {(r["prev"], r["w"]): r["c2"] for r in bc.collect()}
    assert big == {("a", "b"): 3, ("b", "a"): 1}
    uni = {r["prev"]: r["c1"] for r in uc.collect()}
    assert uni == {"a": 3, "b": 3, "c": 1}

    out = LM.score_bigram_lm(df, bc, uc, v).toPandas().set_index("doc_id")
    # doc0: bigrams (a,b),(b,a),(a,b): p_ab = (3+1)/(3+3)=2/3; p_ba=(1+1)/(3+3)=1/3
    q_ab = math.floor(4 / 6 * 1e6)
    q_ba = math.floor(2 / 6 * 1e6)
    assert out.loc[0, "n_bigrams"] == 3
    assert out.loc[0, "sum_p_ppm"] == 2 * q_ab + q_ba
    assert out.loc[0, "mean_p_ppm"] == (2 * q_ab + q_ba) // 3
    assert out.loc[1, "sum_p_ppm"] == q_ab
    # single-token doc: no bigrams, all zeros
    assert (out.loc[2] == 0).all()


def test_junk_scores_lower_and_filter(spark):
    clean = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    junk = spark.createDataFrame(pd.DataFrame({
        "doc_id": [900000 + i for i in range(20)],
        "text": [" ".join(f"zx{i}q{j}w" for j in range(30)) for i in range(20)],
    }))
    corpus = clean.unionByName(junk)
    bc, uc, v = LM.train_bigram_lm(corpus)
    scored = LM.score_bigram_lm(corpus, bc, uc, v).toPandas()
    is_junk = scored["doc_id"] >= 900000
    # hash-gibberish bigrams are all singletons: far lower mean prob
    assert scored[is_junk]["mean_p_ppm"].max() < scored[~is_junk]["mean_p_ppm"].min()
    thr = int(scored[is_junk]["mean_p_ppm"].max()) + 1
    kept = LM.lm_filter(corpus, LM.score_bigram_lm(corpus, bc, uc, v), thr)
    assert kept.filter(F.col("doc_id") >= 900000).count() == 0
    assert kept.count() == int((~is_junk).sum())


def test_partition_independence(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    bc, uc, v = LM.train_bigram_lm(docs)
    a = LM.score_bigram_lm(docs, bc, uc, v).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    bc2, uc2, v2 = LM.train_bigram_lm(docs.repartition(11))
    b = LM.score_bigram_lm(docs.repartition(7), bc2, uc2, v2).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# trigram stupid backoff
# ---------------------------------------------------------------------------

def test_hand_computed_trigram_backoff(spark):
    # train: "a b c a b c", "a b d" ->
    # trigrams: (a,b,c):2, (b,c,a):1, (c,a,b):1, (a,b,d):1
    # bigrams:  (a,b):3, (b,c):2, (c,a):1, (b,d):1
    # unigrams: a:3 b:3 c:2 d:1, N=9
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1], "text": ["a b c a b c", "a b d"]}))
    tc, bc, uc, n = LM.train_trigram_lm(train)
    assert n == 9
    tri = {(r["w1"], r["w2"], r["w3"]): r["c3"] for r in tc.collect()}
    assert tri == {("a", "b", "c"): 2, ("b", "c", "a"): 1,
                   ("c", "a", "b"): 1, ("a", "b", "d"): 1}

    # score: "a b c", "b c d", "d d a", "x"
    score = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12, 13],
        "text": ["a b c", "b c d", "d d a", "x"]}))
    out = LM.score_trigram_backoff(score, tc, bc, uc, n) \
        .toPandas().set_index("doc_id")
    # (a,b,c): seen -> 1e6*2 DIV c(a,b)=3 = 666666
    assert out.loc[10, "n_trigrams"] == 1
    assert out.loc[10, "sum_s_ppm"] == 2_000_000 // 3
    # (b,c,d): unseen; (c,d) unseen -> a^2*c(d)/N = 160000000000*1 DIV 9e6
    assert out.loc[11, "sum_s_ppm"] == 160_000_000_000 // 9_000_000
    # (d,d,a): unseen; (d,a) unseen -> a^2*c(a)/N = 16e10*3 DIV 9e6
    assert out.loc[12, "sum_s_ppm"] == 480_000_000_000 // 9_000_000
    # single-token doc: zeros
    assert (out.loc[13] == 0).all()
    assert (out["mean_s_ppm"] == out["sum_s_ppm"] // out["n_trigrams"]
            .clip(lower=1)).all()


def test_trigram_backoff_middle_branch(spark):
    # train "a b c" then score "x b c": trigram (x,b,c) unseen, but
    # (b,c) seen -> alpha branch: 400000 * c(b,c)=1 DIV c(b)=1
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "text": ["a b c"]}))
    tc, bc, uc, n = LM.train_trigram_lm(train)
    out = LM.score_trigram_backoff(
        spark.createDataFrame(pd.DataFrame({"doc_id": [1],
                                            "text": ["x b c"]})),
        tc, bc, uc, n).toPandas()
    assert out.loc[0, "sum_s_ppm"] == 400_000


def test_trigram_python_recompute_and_validation(spark):
    import pytest, re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text").filter(F.col("doc_id") < 150)
    tc, bc, uc, n = LM.train_trigram_lm(docs)
    got = LM.score_trigram_backoff(docs, tc, bc, uc, n,
                                   broadcast_counts=True).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)

    pdf = docs.toPandas()
    toks = {r.doc_id: [t for t in re.split(r"\s+", r.text.lower().strip())
                       if t] for r in pdf.itertuples()}
    c3, c2, c1 = {}, {}, {}
    N = 0
    for ts in toks.values():
        for i in range(len(ts)):
            c1[ts[i]] = c1.get(ts[i], 0) + 1
            N += 1
            if i + 1 < len(ts):
                c2[(ts[i], ts[i + 1])] = c2.get((ts[i], ts[i + 1]), 0) + 1
            if i + 2 < len(ts):
                k = (ts[i], ts[i + 1], ts[i + 2])
                c3[k] = c3.get(k, 0) + 1
    assert N == n
    exp = {}
    for d, ts in toks.items():
        s = cnt = 0
        for i in range(len(ts) - 2):
            w1, w2, w3 = ts[i], ts[i + 1], ts[i + 2]
            if c3.get((w1, w2, w3), 0) > 0:
                q = 1_000_000 * c3[(w1, w2, w3)] // c2[(w1, w2)]
            elif c2.get((w2, w3), 0) > 0:
                q = 400_000 * c2[(w2, w3)] // c1[w2]
            else:
                q = 160_000_000_000 * c1.get(w3, 0) // (1_000_000 * N)
            s += q
            cnt += 1
        exp[d] = (cnt, s, s // cnt if cnt else 0)
    got_d = {int(r.doc_id): (int(r.n_trigrams), int(r.sum_s_ppm),
                             int(r.mean_s_ppm)) for r in got.itertuples()}
    assert got_d == exp

    with pytest.raises(ValueError):
        LM.score_trigram_backoff(docs, tc, bc, uc, 0)
    with pytest.raises(ValueError):
        LM.score_trigram_backoff(docs, tc, bc, uc, n, alpha_ppm=0)


def test_would_broadcast_falls_back_without_private_api(spark):
    """The co-partition heuristic reads the optimizer estimate through
    ``_jdf`` / ``spark._jvm``; frames without them (Spark Connect shape)
    get the plain-join answer instead of an error."""
    class _NoJdf:
        sparkSession = spark

    class _NoJvmSession:
        class conf:
            @staticmethod
            def get(key, default=None):
                return "10MB"

    class _NoJvmFrame:
        sparkSession = _NoJvmSession()

    assert LM._would_broadcast(_NoJdf()) is True
    assert LM._would_broadcast(_NoJvmFrame()) is True
    small = spark.createDataFrame(pd.DataFrame({"prev": ["a"], "c1": [1]}))
    assert LM._would_broadcast(small) is True
