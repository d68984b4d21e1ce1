"""Dedup suite: exact, minhash-LSH, simhash, n-gram Jaccard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_poi_cloud_spark.operators import dedup as dd

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen sleepy "
    "pandas read ancient scrolls about distributed query engines and the "
    "art of shuffling data across many machines without losing a byte"
)


def _docs(spark):
    rows = []
    # cluster A: exact dup + near dups (1-2 word edits)
    rows.append((0, BASE))
    rows.append((1, BASE))  # exact dup of 0
    rows.append((2, BASE.replace("lazy", "sleepy")))  # near dup
    rows.append((3, BASE.replace("quick brown", "swift auburn")))  # near dup
    # cluster B (varied text so one edit keeps shingle-Jaccard high)
    other = (
        "grandma carefully simmered the saffron risotto while uncle arthur "
        "narrated his implausible fishing stories to a kitchen full of cousins "
        "who only wanted dessert and the old radio crackled through a rainy "
        "tuesday evening somewhere on the ligurian coast near the harbor"
    )
    rows.append((4, other))
    rows.append((5, other.replace("risotto", "paella", 1)))
    # unique docs
    rng = np.random.RandomState(4)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]
    for i in range(6, 40):
        rows.append((i, " ".join(rng.choice(words, 60)) + f" unique-{i} " + " ".join(rng.choice(words, 60))))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark):
    docs = _docs(spark)
    out = dd.exact_dedup(docs).toPandas()
    assert 1 not in set(out["doc_id"])  # dup of 0 dropped
    assert 0 in set(out["doc_id"])
    assert len(out) == docs.count() - 1
    stats = dd.duplicate_stats(docs).collect()[0]
    assert stats["duplicate_rows"] == 1
    assert stats["total_docs"] == docs.count()


def test_minhash_pairs_and_dedup(spark):
    docs = _docs(spark)
    pairs = dd.minhash_lsh_pairs(docs, jaccard_threshold=0.5).toPandas()
    got_pairs = set(map(tuple, pairs[["a", "b"]].to_numpy()))
    # cluster A near-dups found
    assert (0, 1) in got_pairs
    assert (0, 2) in got_pairs or (1, 2) in got_pairs
    assert (4, 5) in got_pairs
    # no cross-cluster false positives at this threshold
    assert not any(a < 4 <= b for a, b in got_pairs if b in (4, 5) and a < 4)

    deduped = dd.minhash_lsh_dedup(docs, jaccard_threshold=0.5).toPandas()
    kept = set(deduped["doc_id"])
    assert 0 in kept and 4 in kept
    assert 1 not in kept and 2 not in kept and 3 not in kept and 5 not in kept
    assert all(i in kept for i in range(6, 40))


def test_minhash_estimates_jaccard(spark):
    """Minhash estimate ~ exact Jaccard on the same pairs."""
    docs = _docs(spark)
    pairs = dd.minhash_lsh_pairs(docs, jaccard_threshold=0.3)
    exact = dd.ngram_jaccard_pairs(docs, pairs.select("a", "b"), threshold=0.0).toPandas().set_index(["a", "b"])
    est = pairs.toPandas().set_index(["a", "b"])
    joined = est.join(exact, how="inner")
    assert len(joined) > 0
    assert (abs(joined["jaccard_est"] - joined["jaccard"]) < 0.15).all()


def test_simhash_pairs(spark):
    docs = _docs(spark)
    pairs = dd.simhash_pairs(docs, max_hamming=6).toPandas()
    got = set(map(tuple, pairs[["a", "b"]].to_numpy()))
    assert (0, 1) in got  # identical docs -> hamming 0
    h01 = pairs.set_index(["a", "b"]).loc[(0, 1), "hamming"]
    assert h01 == 0
    assert (0, 2) in got  # one-word edit -> small hamming


def test_connected_components(spark):
    edges = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 10, 20], "b": [2, 3, 11, 21]}))
    comp = dd.connected_components(edges).toPandas().set_index("node")["component"]
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20


def test_connected_components_long_path_few_rounds(spark):
    """r2 verdict #4: a length-1000 path (hop diameter 1000 — the
    templated-page-series shape) must converge in O(log n) star rounds,
    not O(diameter). strict=True turns slow convergence into a failure:
    12 rounds is the pinned budget where label propagation needs ~1000."""
    n = 1001
    edges = spark.createDataFrame(pd.DataFrame({"a": range(n - 1), "b": range(1, n)}))
    comp = dd.connected_components(edges, max_iter=12, strict=True).toPandas()
    assert len(comp) == n
    assert (comp["component"] == 0).all()


def test_connected_components_star_matches_label_prop(spark):
    """Both algorithms are exact: identical (node, component) mapping on
    a random multigraph with self-loops and isolated-ish nodes."""
    rng = np.random.RandomState(5)
    edges = spark.createDataFrame(pd.DataFrame({
        "a": rng.randint(0, 200, 300), "b": rng.randint(0, 200, 300)
    }))
    star = (dd.connected_components(edges, algorithm="star")
            .toPandas().sort_values("node").reset_index(drop=True))
    lp = (dd.connected_components(edges, algorithm="label-prop", max_iter=60)
          .toPandas().sort_values("node").reset_index(drop=True))
    pd.testing.assert_frame_equal(star, lp, check_dtype=False)


def test_signatures_deterministic_across_runs(spark):
    docs = _docs(spark)
    udf = dd.make_minhash_udf(num_perm=32)
    s1 = docs.select("doc_id", udf(F.col("text")).alias("sig")).toPandas().sort_values("doc_id")
    s2 = docs.select("doc_id", udf(F.col("text")).alias("sig")).toPandas().sort_values("doc_id")
    assert all(list(x) == list(y) for x, y in zip(s1["sig"], s2["sig"]))


def test_exact_dedup_keeps_null_text_rows(spark):
    """Null-text docs dedup to one representative, never vanish (r1-4)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": [None, None, "x", "x"]})
    )
    out = dd.exact_dedup(docs).toPandas()
    assert sorted(out["doc_id"]) == [1, 3]


def test_contamination_and_decontaminate(spark):
    """Planted leakage: doc 100 embeds doc 0's opening words verbatim,
    doc 101 shares nothing. The 8-shingle overlap must flag exactly the
    leak (plus doc 0 against itself), and decontaminate drops both."""
    base = _docs(spark).toPandas()
    leak_text = " ".join(str(base.loc[0, "text"]).split()[:20]) + " plus unrelated tail words here"
    extra = pd.DataFrame({
        "doc_id": [100, 101],
        "text": [leak_text, "completely different content with no overlap at all whatsoever in any window"],
    })
    docs = spark.createDataFrame(pd.concat([base[["doc_id", "text"]], extra], ignore_index=True))
    evals = spark.createDataFrame(pd.DataFrame({"eval_id": [0], "text": [base.loc[0, "text"]]}))

    pairs = dd.contamination_pairs(docs, evals, k=8, min_shared=3).toPandas()
    flagged = set(pairs["doc_id"])
    assert 100 in flagged and 101 not in flagged
    assert 0 in flagged  # the eval source itself
    clean = dd.decontaminate(docs, evals, k=8, min_shared=3).toPandas()
    assert 100 not in set(clean["doc_id"]) and 101 in set(clean["doc_id"])


def test_span_dedup_hand_computed(spark):
    """ExactSubstr analog: hand-derived window counts and shared-span
    detection, short docs guarded (no descending-sequence bug)."""
    import pandas as pd
    from osm_poi_cloud_spark.operators.dedup import (duplicated_spans,
                                                     span_dedup_stats)

    boiler = "all rights reserved contact us for more information today"  # 9 words
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            f"alpha beta {boiler}",            # 11 words -> 4 windows (k=8)
            f"gamma delta epsilon {boiler}",   # 12 words -> 5 windows
            "one two three four five six seven eight nine ten",  # unique, 3 windows
            "short doc only",                  # 3 words -> 0 windows
        ],
    }))
    stats = span_dedup_stats(df, k=8).toPandas().set_index("doc_id").sort_index()
    assert list(stats["n_windows"]) == [4, 5, 3, 0]
    # the 9-word boilerplate yields 2 shared 8-word windows per doc
    assert list(stats["n_dup_windows"]) == [2, 2, 0, 0]
    cat = duplicated_spans(df, k=8).toPandas()
    assert len(cat) == 2 and (cat["n_docs"] == 2).all() and (cat["n_occurrences"] == 2).all()
    # md5 fingerprint variant agrees on the integer profile
    stats_md5 = span_dedup_stats(df, k=8, fingerprint="md5").toPandas() \
        .set_index("doc_id").sort_index()
    assert (stats_md5 == stats).all().all()


def test_span_dedup_within_doc_repeats(spark):
    """min_docs counts DISTINCT docs: a span repeated only inside one
    document is not cross-doc duplication (but n_occurrences sees it
    when the span also crosses docs)."""
    import pandas as pd
    from osm_poi_cloud_spark.operators.dedup import span_dedup_stats

    span = "a b c d e f g h"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [f"{span} x {span}", "totally different words here make nine ok fine"],
    }))
    stats = span_dedup_stats(df, k=8).toPandas().set_index("doc_id")
    assert stats.loc[0, "n_dup_windows"] == 0  # repeats, but single doc


def test_remove_duplicated_spans(spark):
    """ExactSubstr REMOVAL semantics (Lee et al. 2022): duplicated
    k-word windows are cut out of the text; adjacent/overlapping flagged
    windows merge into one interval; context-crossing windows (present
    in only one doc) are kept; unique/short/null docs come back
    byte-identical."""
    import pandas as pd
    from osm_poi_cloud_spark.operators.dedup import remove_duplicated_spans

    boiler = "subscribe to our newsletter for all the latest updates and offers today"  # 12 toks
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "text": [
            f"alpha beta gamma {boiler} delta epsilon zeta eta theta",
            f"one two three four five six seven eight {boiler} nine ten",
            "totally unique document with no duplicated spans at all here now then",
            "short doc",
            None,
            f"{boiler} {boiler} tail words here to finish the doc okay",
        ],
    }))
    out = remove_duplicated_spans(df, k=8, min_docs=2).toPandas() \
        .set_index("doc_id").sort_index()
    # only windows fully inside the boilerplate are shared -> exactly the
    # 12 boiler tokens cut from docs 1 and 2, context preserved
    assert out.loc[1, "text"] == "alpha beta gamma delta epsilon zeta eta theta"
    assert out.loc[2, "text"] == "one two three four five six seven eight nine ten"
    assert out.loc[1, "tokens_removed"] == 12 and out.loc[2, "tokens_removed"] == 12
    # untouched docs: byte-identical text, zero accounting
    assert out.loc[3, "text"].startswith("totally unique")
    assert out.loc[4, "text"] == "short doc"
    assert pd.isna(out.loc[5, "text"])
    assert list(out.loc[[3, 4, 5], "tokens_removed"]) == [0, 0, 0]
    assert list(out.loc[[3, 4, 5], "chars_removed"]) == [0, 0, 0]
    # doc 6: two adjacent boiler copies merge into ONE 24-token interval
    assert out.loc[6, "text"] == "tail words here to finish the doc okay"
    assert out.loc[6, "tokens_removed"] == 24
    # chars_removed is vs the whitespace-normalized form
    assert out.loc[6, "chars_removed"] == 2 * (len(boiler) + 1)


def test_remove_duplicated_spans_external_catalog(spark):
    """An externally supplied span catalog (e.g. built over a larger
    corpus) drives removal: docs here that never cross min_docs still
    get flagged spans cut."""
    import pandas as pd
    from osm_poi_cloud_spark.operators.dedup import (duplicated_spans,
                                                     remove_duplicated_spans)

    span = "q w e r t y u i"
    big = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11],
        "text": [f"{span} filler words", f"other stuff {span}"],
    }))
    catalog = duplicated_spans(big, k=8, min_docs=2)
    small = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": [f"prefix {span} suffix"],
    }))
    out = remove_duplicated_spans(small, k=8, spans=catalog).toPandas()
    assert out.loc[0, "text"] == "prefix suffix"
    assert out.loc[0, "tokens_removed"] == 8


def _merged_intervals(pos, k):
    """Reference interval sweep: sorted window starts -> disjoint [s, e)
    runs, adjacent or overlapping k-windows merged."""
    ivs = []
    for p in pos:
        if ivs and p <= ivs[-1][1]:
            ivs[-1][1] = max(ivs[-1][1], p + k)
        else:
            ivs.append([p, p + k])
    return ivs


@pytest.mark.parametrize("fingerprint", ["xxhash64", "md5"])
def test_word_spans_independent_recompute(spark, fingerprint):
    """Word-level twin of the char-span recompute: the catalog, the
    per-doc stats and the removal all equal a pure-Python sweep over
    window STRINGS (no hashing) on a seeded corpus with mixed case,
    tabs/newlines, leading/trailing whitespace, a NULL text, docs
    shorter than k, a whitespace-only doc and in-doc repeats."""
    import re
    from collections import defaultdict

    k, min_docs = 6, 2
    rng = np.random.RandomState(11)
    vocab = ["Alpha", "beta", "GAMMA", "delta", "Echo", "fox", "Golf", "hotel",
             "India", "juliet", "KILO", "lima", "Mike", "nov", "Oscar", "papa"]
    seps = [" ", "\t", "\n", "  ", " \t\n "]
    passages = [[vocab[j] for j in rng.randint(0, len(vocab), 9)] for _ in range(3)]

    def recase(w):
        return rng.choice([w.lower(), w.upper(), w.capitalize()])

    def render(words):
        body = "".join(w + rng.choice(seps) for w in words).rstrip()
        return rng.choice(["", " ", "\t", "\n "]) + body + rng.choice(["", " ", "\n"])

    texts = []
    for _ in range(36):
        words = [vocab[j] for j in rng.randint(0, len(vocab), rng.randint(2, 20))]
        for _ in range(rng.randint(0, 3)):  # 0-2 planted passages, may repeat in-doc
            at = rng.randint(0, len(words) + 1)
            words[at:at] = passages[rng.randint(len(passages))]
        texts.append(render([recase(w) for w in words]))
    texts += [None, "Short one", "   \t\n ", render(passages[0] + passages[0])]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))

    ws = re.compile(r"\s+", re.ASCII)
    toks = [None if t is None else [w for w in ws.split(t) if w] for t in texts]
    wins = [[] if ts is None else [" ".join(ts[i:i + k]).lower()
                                   for i in range(len(ts) - k + 1)] for ts in toks]
    docs_of, occ = defaultdict(set), defaultdict(int)
    for did, dw in enumerate(wins):
        for w in dw:
            docs_of[w].add(did)
            occ[w] += 1
    dup = {w for w, ds in docs_of.items() if len(ds) >= min_docs}
    assert len(dup) >= 5  # the planted passages are found

    cat = dd.duplicated_spans(df, k=k, min_docs=min_docs,
                              fingerprint=fingerprint).toPandas()
    assert sorted(zip(cat["n_docs"], cat["n_occurrences"])) == \
        sorted((len(docs_of[w]), occ[w]) for w in dup)

    stats = dd.span_dedup_stats(df, k=k, min_docs=min_docs, fingerprint=fingerprint) \
        .toPandas().set_index("doc_id").sort_index()
    assert list(stats["n_windows"]) == [len(dw) for dw in wins]
    assert list(stats["n_dup_windows"]) == [sum(w in dup for w in dw) for dw in wins]

    out = dd.remove_duplicated_spans(df, k=k, min_docs=min_docs, fingerprint=fingerprint) \
        .toPandas().set_index("doc_id").sort_index()
    n_cut = 0
    for did, ts in enumerate(toks):
        pos = [i for i, w in enumerate(wins[did]) if w in dup]
        if not pos:
            if texts[did] is None:
                assert pd.isna(out.loc[did, "text"])
            else:
                assert out.loc[did, "text"] == texts[did]  # byte-identical
            assert out.loc[did, "tokens_removed"] == 0
            assert out.loc[did, "chars_removed"] == 0
            continue
        ivs = _merged_intervals(pos, k)
        kept = [t for i, t in enumerate(ts) if not any(s <= i < e for s, e in ivs)]
        assert out.loc[did, "text"] == " ".join(kept), did
        assert out.loc[did, "tokens_removed"] == len(ts) - len(kept)
        assert out.loc[did, "chars_removed"] == len(" ".join(ts)) - len(" ".join(kept))
        n_cut += 1
    assert n_cut >= 5


def test_incremental_minhash_matches_equal_cross_split_pairs(spark):
    """Splitting the corpus into index (even ids) and batch (odd ids),
    the incremental probe must find EXACTLY the minhash_lsh_pairs
    whose endpoints cross the split, with identical jaccard_est —
    probing a persisted index is a physical rewrite of the self-join,
    never a semantic change. Round-trips the index through parquet to
    prove the persisted form is sufficient."""
    import os
    import tempfile

    docs = _docs(spark)
    kw = dict(num_perm=64, bands=16, shingle_k=5, jaccard_threshold=0.5)
    all_pairs = dd.minhash_lsh_pairs(docs, **kw).toPandas()
    cross = all_pairs[(all_pairs.a % 2) != (all_pairs.b % 2)]
    exp = {
        (int(r.a) if r.a % 2 else int(r.b), int(r.b) if r.a % 2 else int(r.a)):
        float(r.jaccard_est)
        for r in cross.itertuples()
    }  # (new=odd, index=even) -> est

    index_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "sig_index")
        dd.minhash_banded_signatures(
            index_docs, num_perm=64, bands=16, shingle_k=5) \
            .write.parquet(path)
        index = spark.read.parquet(path)
        got_df = dd.incremental_minhash_matches(batch, index, **kw).toPandas()
    got = {(int(r.new_id), int(r.index_id)): float(r.jaccard_est)
           for r in got_df.itertuples()}
    assert got == exp and len(got) > 0


def test_incremental_dedup_keeps_novel_drops_matched(spark):
    """Index holds cluster A's doc 0 and cluster B's doc 4; the batch
    carries near-dups of both plus novel docs. Matched batch docs drop,
    novel survive; within-batch dedup then collapses the batch's own
    dup pair to its min-id representative."""
    docs = _docs(spark)
    index_docs = docs.filter(F.col("doc_id").isin([0, 4]))
    batch = docs.filter(F.col("doc_id").isin([1, 2, 3, 5, 6, 7]))
    index = dd.minhash_banded_signatures(index_docs, num_perm=64, bands=16,
                                         shingle_k=5)
    kept = dd.incremental_minhash_dedup(
        batch, index, num_perm=64, bands=16, shingle_k=5,
        jaccard_threshold=0.5, within_batch=True).toPandas()
    kept_ids = set(kept.doc_id)
    # 1 (exact dup of 0), 2/3 (near dups of 0), 5 (near dup of 4) all drop
    assert {6, 7} <= kept_ids
    assert kept_ids & {1, 2, 5} == set()
    rows = dd.incremental_minhash_matches(
        batch, index, num_perm=64, bands=16, shingle_k=5,
        jaccard_threshold=0.5).toPandas()
    assert (rows[rows.new_id == 1].jaccard_est == 1.0).all()


# --- host-template boilerplate removal ---

def test_boilerplate_hand_case(spark):
    rows = [
        (1, "a", "NAV\nbody one\nFOOT"),
        (2, "a", "NAV\nbody two\nPROMO\nFOOT"),
        (3, "a", "NAV\nbody three\nPROMO\nFOOT"),
        (4, "a", "NAV\nNAV\nbody four\nFOOT"),
        (5, "b", "NAV\nbody five\nFOOT"),
        (6, "b", "NAV\nbody six\nFOOT"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    cat = {(r["host"], r["line"]): (r["df_docs"], r["host_docs"])
           for r in dd.host_boilerplate_lines(
               df, min_docs=3, max_frac=0.5).collect()}
    # host a templates flagged; PROMO at exactly 2/4 == max_frac stays
    # (strict >); host b below min_docs never judged
    assert cat == {("a", "NAV"): (4, 4), ("a", "FOOT"): (4, 4)}

    out = {r["doc_id"]: r for r in dd.remove_boilerplate_lines(
        df, min_docs=3, max_frac=0.5).collect()}
    assert out[1]["text"] == "body one"
    assert out[2]["text"] == "body two\nPROMO"
    # within-doc repeats: df counted once, ALL occurrences removed
    assert out[4]["text"] == "body four"
    assert (out[4]["n_lines"], out[4]["n_kept"]) == (4, 1)
    # below-min-docs host: byte-identical, zero accounting
    for i in (5, 6):
        assert out[i]["text"] == rows[i - 1][2]
        assert out[i]["chars_removed"] == 0
    assert out[1]["chars_removed"] == len(rows[0][2]) - len("body one")


def test_boilerplate_all_lines_removed_and_external_catalog(spark):
    rows = [(i, "h", "SAME\nSAME") for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = dd.remove_boilerplate_lines(df, min_docs=3, max_frac=0.5)
    got = out.collect()
    assert all(r["text"] == "" and r["n_kept"] == 0 for r in got)
    # external catalog (built elsewhere) applies without a discovery pass
    cat = spark.createDataFrame([("x", "CUT")], "host string, line string")
    df2 = spark.createDataFrame([(1, "x", "CUT\nkeep"), (2, "y", "CUT")],
                                "doc_id long, host string, text string")
    got2 = {r["doc_id"]: r["text"] for r in dd.remove_boilerplate_lines(
        df2, boilerplate=cat).collect()}
    assert got2 == {1: "keep", 2: "CUT"}   # catalog is host-scoped


def test_boilerplate_partitioning_independent_and_validated(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .filter(F.col("source").isNotNull()) \
        .withColumn("text", F.concat(F.lit("HDR "), F.col("source"),
                                     F.lit("\n"), F.col("text")))
    a = dd.remove_boilerplate_lines(docs, host_col="source").orderBy("doc_id")
    b = dd.remove_boilerplate_lines(docs.repartition(13), host_col="source") \
        .orderBy("doc_id")
    pa, pb = a.toPandas(), b.toPandas()
    assert pa.equals(pb)
    # every doc lost exactly its header line
    assert (pa["n_lines"] - pa["n_kept"] == 1).all()
    with pytest.raises(ValueError):
        dd.host_boilerplate_lines(docs, min_docs=0)
    with pytest.raises(ValueError):
        dd.host_boilerplate_lines(docs, max_frac=1.5)


def test_remove_duplicated_char_spans(spark):
    """Char-level ExactSubstr (r5 verdict #3): sub-k-WORD duplicated
    runs and whitespace-variant duplicates — both provably invisible to
    the word-window operator — are found and removed at char
    granularity; unique/short/null docs come back byte-identical; the
    rewrite equals an independent pure-Python interval sweep."""
    import hashlib
    import re

    slogan = "limited time offer ends soon!"  # 29 chars, 5 words
    texts = [
        f"alpha beta gamma {slogan} tail zero",
        f"unrelated words here   {slogan.replace(' ', '  ')} other stuff",
        "completely different text with no duplicates at all present",
        "tiny",
        None,
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    k = 24
    out = dd.remove_duplicated_char_spans(df, k=k, min_docs=2) \
        .orderBy("doc_id").toPandas().set_index("doc_id")

    # word-level k=8 provably misses the 5-word slogan entirely
    w = dd.remove_duplicated_spans(df, k=8, min_docs=2) \
        .orderBy("doc_id").toPandas()
    assert (w["tokens_removed"] == 0).all()
    assert out.loc[0, "chars_removed"] > 0 and out.loc[1, "chars_removed"] > 0

    # independent recompute: normalized coords, window strings, sweep
    ws = re.compile(r"\s+", re.ASCII)
    norm = [None if t is None else ws.sub(" ", t).strip() for t in texts]
    from collections import defaultdict
    docs_of = defaultdict(set)
    for did, n in enumerate(norm):
        if n is None:
            continue
        low = n.lower()
        for i in range(len(low) - k + 1):
            docs_of[low[i:i + k]].add(did)
    dup = {wd for wd, ds in docs_of.items() if len(ds) >= 2}
    for did, n in enumerate(norm):
        if n is None:
            assert out.loc[did, "text"] is None or pd.isna(out.loc[did, "text"])
            continue
        low = n.lower()
        pos = [i for i in range(len(low) - k + 1) if low[i:i + k] in dup]
        if not pos:
            assert out.loc[did, "text"] == texts[did]  # byte-identical
            assert out.loc[did, "chars_removed"] == 0
            continue
        ivs = _merged_intervals(pos, k)
        kept, cur = [], 0
        for s, e in ivs:
            kept.append(n[cur:s])
            cur = e
        kept.append(n[cur:])
        expect = "".join(kept)
        assert out.loc[did, "text"] == expect, did
        assert out.loc[did, "chars_removed"] == len(n) - len(expect)
    # both rewritten docs lost the same shared region despite the
    # whitespace variance in doc 1
    assert slogan not in out.loc[0, "text"] and slogan not in out.loc[1, "text"]


SPAN_OPS = ["duplicated_spans", "duplicated_char_spans", "remove_duplicated_spans",
            "remove_duplicated_char_spans", "span_dedup_stats", "containment_pairs"]


@pytest.mark.parametrize("op", SPAN_OPS)
@pytest.mark.parametrize("kw, msg", [({"k": 1}, "k must be >= 2"),
                                     ({"fingerprint": "sha1"}, "fingerprint must be")])
def test_span_ops_validate_k_and_fingerprint(spark, op, kw, msg):
    """Every span entry point rejects k < 2 and an unknown fingerprint
    eagerly, before any job runs."""
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match=msg):
        getattr(dd, op)(df, **kw)


@pytest.mark.parametrize("op, max_evals", [
    ("remove_duplicated_spans", 2), ("remove_duplicated_char_spans", 2),
    ("span_dedup_stats", 2), ("containment_pairs", 1)])
def test_span_ops_input_evaluations(spark, op, max_evals):
    """Input-lineage guard: a counting probe upstream of the operator
    sees the input evaluated no more often than the plan needs (the
    removers and the stats read it by two branches, containment by
    one), so a refactor cannot add a pass over an expensive upstream
    such as the curation cascade."""
    n = 200
    base = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "text": [" ".join(f"w{(i * 7 + j) % 50}" for j in range(20)) for i in range(n)],
    }))
    acc = spark.sparkContext.accumulator(0)

    def probe(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    out = getattr(dd, op)(base.mapInPandas(probe, schema=base.schema)).collect()
    assert out
    assert n <= acc.value <= max_evals * n


# ------------------------------------------------------------- containment


def test_containment_quote_inclusion(spark):
    # 10-word quote fully inside a 40-word container; k=8 -> quote has
    # 3 windows, all present in the container -> containment 1.0 one
    # way, small the other way (the asymmetry Jaccard misses)
    quote_words = [f"q{i}" for i in range(10)]
    container_words = (
        [f"pre{i}" for i in range(15)] + quote_words + [f"post{i}" for i in range(15)]
    )
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, " ".join(quote_words)), (2, " ".join(container_words)), (3, other)],
        "doc_id long, text string")
    rows = {(r["contained_id"], r["container_id"]): r
            for r in dd.containment_pairs(df, k=8, min_containment_ppm=90_000).collect()}
    assert set(rows) == {(1, 2), (2, 1)}
    full = rows[(1, 2)]
    assert full["n_windows"] == 3 and full["n_shared"] == 3
    assert full["containment_ppm"] == 1_000_000
    back = rows[(2, 1)]
    assert back["n_windows"] == 33 and back["n_shared"] == 3
    assert back["containment_ppm"] == 1_000_000 * 3 // 33
    # threshold gates the weak direction
    strict = {(r["contained_id"], r["container_id"])
              for r in dd.containment_pairs(df, k=8, min_containment_ppm=600_000).collect()}
    assert strict == {(1, 2)}


def test_containment_max_fp_df_drops_hot_shingles(spark):
    # the same 8-word run in 4 docs; max_fp_df=3 drops it from pair
    # generation entirely -> no pairs (conservative underestimate), but
    # it still counts in each doc's n_windows denominator
    shared = " ".join(f"s{i}" for i in range(8))
    df = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c " + shared) for i in range(4)],
        "doc_id long, text string")
    assert dd.containment_pairs(df, k=8, min_containment_ppm=100_000,
                                max_fp_df=3).count() == 0
    hot = dd.containment_pairs(df, k=8, min_containment_ppm=100_000)
    # without the cap every ordered pair appears (4 windows per doc,
    # exactly the last one — the pure 8-word shared run — matching)
    got = hot.collect()
    assert len(got) == 12
    assert all(r["n_windows"] == 4 and r["n_shared"] == 1 for r in got)

    with pytest.raises(ValueError):
        dd.containment_pairs(df, min_containment_ppm=0)
    with pytest.raises(ValueError):
        dd.containment_pairs(df, max_fp_df=1)


def test_containment_independent_recompute(spark):
    # brute-force python recompute over a pseudo-corpus with planted
    # quotes and overlapping composites
    rng = np.random.RandomState(5)
    pool = [f"w{i}" for i in range(60)]
    docs = {}
    for i in range(30):
        docs[i] = [pool[j] for j in rng.randint(0, 60, 25)]
    for i in range(10):  # quotes: 12-word slice of doc i
        docs[100 + i] = docs[i][5:17]
    k = 8
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()], "doc_id long, text string")
    got = {(r["contained_id"], r["container_id"]): (r["n_shared"], r["n_windows"], r["containment_ppm"])
           for r in dd.containment_pairs(df, k=k, min_containment_ppm=400_000).collect()}

    def wins(ws):
        return {" ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)}
    exp = {}
    for a, aw in docs.items():
        for b, bw in docs.items():
            if a == b:
                continue
            sa, sb = wins(aw), wins(bw)
            if not sa:
                continue
            inter = len(sa & sb)
            ppm = 1_000_000 * inter // len(sa)
            if inter and ppm >= 400_000:
                exp[(a, b)] = (inter, len(sa), ppm)
    assert got == exp
    assert len(exp) >= 10  # every quote found


# -------------------------------------------------------- paragraph dedup


def test_paragraph_dedup_hand_case(spark):
    syn = "syndicated block\nwith an inner newline"
    df = spark.createDataFrame(
        [(1, f"alpha one\n\n{syn}\n\ntail one"),
         (2, f"{syn}\n\nbeta two"),
         (3, f"gamma three\n\n{syn}\n\n{syn}"),   # two copies in one doc
         (4, "all unique\n\nnothing shared"),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dd.remove_duplicated_paragraphs(df, min_docs=2).collect()}
    # keep="first": the (min doc, min pos) instance survives, others cut
    assert out[1]["text"] == f"alpha one\n\n{syn}\n\ntail one"
    assert out[1]["paragraphs_removed"] == 0
    assert out[2]["text"] == "beta two"
    assert out[2]["paragraphs_removed"] == 1
    assert out[3]["text"] == "gamma three"
    assert out[3]["paragraphs_removed"] == 2
    # untouched doc is byte-identical (incl. inner newlines)
    assert out[4]["text"] == "all unique\n\nnothing shared"
    # NULL text survives the left join
    assert out[5]["text"] is None and out[5]["paragraphs_removed"] == 0

    none = {r["doc_id"]: r for r in
            dd.remove_duplicated_paragraphs(df, min_docs=2, keep="none").collect()}
    assert none[1]["text"] == "alpha one\n\ntail one"
    assert none[1]["paragraphs_removed"] == 1

    cat = {r["p_hash"]: r for r in dd.duplicated_paragraphs(df).collect()}
    assert len(cat) == 1
    (row,) = cat.values()
    assert row["n_docs"] == 3 and row["n_occurrences"] == 4

    import pytest
    with pytest.raises(ValueError):
        dd.remove_duplicated_paragraphs(df, keep="both")
    with pytest.raises(ValueError):
        dd.duplicated_paragraphs(df, min_docs=1)


def test_paragraph_dedup_independent_recompute(spark):
    rng = np.random.RandomState(7)
    blocks = [f"block {i} " + " ".join(f"w{j}" for j in rng.randint(0, 40, 6))
              for i in range(12)]
    docs = {}
    for d in range(40):
        ps = [f"unique {d} para {k}" for k in range(2)]
        ps.insert(rng.randint(0, 3), blocks[d % 12])
        if d % 5 == 0:
            ps.append(blocks[(d + 3) % 12])
        docs[d] = "\n\n".join(ps)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["paragraphs_removed"]) for r in
           dd.remove_duplicated_paragraphs(df, min_docs=2).collect()}

    # brute force: global (doc, pos) rank per paragraph string
    inst = []
    for d, t in sorted(docs.items()):
        for p, par in enumerate(t.split("\n\n")):
            inst.append((par, d, p))
    from collections import defaultdict
    by_par = defaultdict(list)
    for par, d, p in inst:
        by_par[par].append((d, p))
    keepers = {par: min(v) for par, v in by_par.items()}
    ndocs = {par: len({d for d, _ in v}) for par, v in by_par.items()}
    for d, t in docs.items():
        kept, cut = [], 0
        for p, par in enumerate(t.split("\n\n")):
            if ndocs[par] >= 2 and keepers[par] != (d, p):
                cut += 1
            else:
                kept.append(par)
        assert got[d] == ("\n\n".join(kept), cut), d
