"""Document deduplication suite (training-data pipeline operators).

Four strategies, all shuffle-shaped for 100 TB:

* exact        — content-hash groupBy (one shuffle on the hash; the
                 cheapest and the baseline for all others)
* minhash LSH  — shingle -> minhash signature (vectorized numpy UDF) ->
                 band buckets -> candidate pairs within buckets only ->
                 exact-Jaccard verify -> connected components -> keep
                 min doc per cluster. Candidate generation never
                 compares across buckets, so cost tracks true-duplicate
                 density, not n^2.
* simhash      — 64-bit weighted-token fingerprint; Hamming-ball
                 candidates via 4x16-bit band tables (any pair within
                 Hamming distance 3 shares at least one exact band).
* ngram Jaccard— exact similarity on hashed n-gram sets for candidate
                 pairs (the verify step of minhash, usable standalone).

Signatures/bands are deterministic (splitmix64-derived parameters), so
re-runs and resumes reproduce identical clusters.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hashing as hx
from ..functions.text_analysis import words_col
from .iterative import iterative_scope

_M61 = (1 << 61) - 1


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content hash.

    NULL texts form their own group (coalesced to a sentinel that cannot
    collide with real content): a plain md5(text) would make the semi-join
    key NULL and silently drop every null-text row."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("\x00__NULL_TEXT__")))
    w = df.withColumn("_h", h)
    reps = w.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return w.join(reps, on=["_h", id_col], how="left_semi").drop("_h")


def duplicate_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .count()
        .agg(
            F.count(F.lit(1)).alias("distinct_docs"),
            F.sum("count").alias("total_docs"),
            F.sum(F.when(F.col("count") > 1, F.col("count") - 1).otherwise(0)).alias("duplicate_rows"),
        )
    )


# ---------------------------------------------------------------------------
# shingle + minhash kernels (batched numpy — see functions/hashing.py)
# ---------------------------------------------------------------------------

def _minhash_params(num_perm: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """Seeded per-permutation multipliers/offsets; hashes are
    ``(x * a_p + b_p) mod 2^64`` (uint64 wraparound — r2 replaced the
    r1 Mersenne-61 modulus: bitwise-identical quality for banding, and
    it keeps the whole signature stage in vectorized uint64 ops)."""
    rng = np.random.RandomState(seed)
    a = (rng.randint(1, _M61, size=num_perm, dtype=np.int64).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, _M61, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def make_minhash_udf(num_perm: int = 128, shingle_k: int = 5, seed: int = 7):
    """Arrow-batched minhash signature UDF: the whole batch is hashed in
    one vectorized pass (flat shingle array + ``minimum.reduceat``),
    no per-row Python."""
    a, b = _minhash_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash(text: pd.Series) -> pd.Series:
        sh, counts = hx.shingle_hashes_batch(list(text), shingle_k, seed=0)
        sig = hx.minhash_signatures_batch(sh, counts, a, b).view(np.int64)
        return pd.Series(list(sig))

    return minhash


# ---------------------------------------------------------------------------
# LSH banding + clustering
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, id_a: str = "a", id_b: str = "b",
                         max_iter: int = 20, strict: bool = False,
                         checkpoint_dir: str | None = None,
                         algorithm: str = "star") -> DataFrame:
    """Undirected edge list -> (node, component), component = min node id.

    ``algorithm``:

    * ``"star"`` (default) — alternating large-star / small-star
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14). Each round contracts the graph toward per-component
      stars centered on the min node; rounds needed are O(log n) in the
      *component size*, independent of hop diameter — a 1000-hop chain
      of pairwise near-dups (templated page series) converges in a
      handful of rounds where label propagation needs 1000
      (r2 verdict #4; property-tested on a length-1000 path graph).
    * ``"label-prop"`` — min-label propagation, one groupBy shuffle per
      round but O(component diameter) rounds. Fine when clusters are
      known-shallow; kept for comparison and as the simpler plan.

    Both produce the identical (node, component) mapping at fixpoint
    (min id per component), so golden fixtures are algorithm-agnostic.

    ``checkpoint_dir`` and the edge-count shuffle width: see
    ``operators/iterative.py``.

    Per round there is exactly one *compute* action (the eager
    checkpoint); the convergence probe then reads already-checkpointed
    data.

    Hitting ``max_iter`` without a fixpoint raises if ``strict`` else
    emits a loud warning — a silently split cluster would leak
    near-duplicates downstream.

    The (node, component) output is exact integers, so the result is
    partitioning-independent."""
    if algorithm not in ("star", "label-prop"):
        raise ValueError(f"algorithm must be 'star' or 'label-prop', got {algorithm!r}")
    cc = _cc_star if algorithm == "star" else _cc_label_prop
    with iterative_scope(edges.sparkSession, checkpoint_dir, tag="cc") as it:
        edges = it.persist(edges)  # re-read every iteration; never recompute upstream LSH
        it.size_shuffles(edges.count())
        labels, converged = cc(edges, id_a, id_b, max_iter, it.checkpoint)
        # the final label mapping is still lazy (one join over the last
        # checkpoint) — materialize it before the conf is restored so
        # every shuffle this operator owns runs at the derived width
        labels = it.checkpoint(labels)
    if not converged:
        msg = (f"connected_components did not converge within max_iter={max_iter}; "
               "components may be split — raise max_iter")
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def _cc_star(edges: DataFrame, id_a: str, id_b: str, max_iter: int,
             _checkpoint) -> tuple[DataFrame, bool]:
    """Alternating large-star/small-star rounds to a star-graph fixpoint.

    large-star: every node u sends m = min(N(u) + {u}) to its LARGER
    neighbors (edges (v, m) for v in N(u), v > u) — strictly-greater
    emission keeps edges self-loop-free and monotone.
    small-star: orient edges (u > v); u re-links its smaller neighbors
    and itself to m = min(N(u) + {u}).
    Fixpoint = disjoint stars centered on each component's min node
    (proved in the paper); both operators preserve connectivity.

    Convergence probe: the edge set is a deterministic function of the
    round, so an (count, bit_xor(xxhash64(u, v))) checksum equality
    between consecutive rounds detects the fixpoint in one cheap agg
    over checkpointed data (bit_xor, not sum — ANSI overflow)."""
    e = (
        edges.selectExpr(f"{id_a} AS u", f"{id_b} AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # node universe from the ORIGINAL edges (self-loop-only nodes survive)
    nodes = (
        edges.selectExpr(f"{id_a} AS node")
        .union(edges.selectExpr(f"{id_b} AS node"))
        .distinct()
        .persist()
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        small_mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(small_mins, on="u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                        F.struct(F.col("v").alias("x"), F.col("m").alias("y")),
                    )
                ).alias("p")
            )
            .select(F.col("p.x").alias("u"), F.col("p.y").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e = _checkpoint(small)
        sig = tuple(
            e.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
            ).first()
        )
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    # fixpoint edges are (member, root) stars with root = min(component)
    mapping = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    ).distinct()
    labels = (
        nodes.join(mapping, on="node", how="left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
    )
    nodes.unpersist()
    return labels, converged


def _cc_label_prop(edges: DataFrame, id_a: str, id_b: str, max_iter: int,
                   _checkpoint) -> tuple[DataFrame, bool]:
    """Min-label propagation: one groupBy shuffle per round, O(diameter)
    rounds. Per round one compute action (the eager checkpoint
    materializes labels + change flags together); the convergence probe
    reads the checkpointed data."""
    sym = edges.selectExpr(f"{id_a} AS node", f"{id_b} AS label").union(
        edges.selectExpr(f"{id_b} AS node", f"{id_a} AS label")
    )
    nodes = sym.select("node").union(sym.select("label")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    changed = 1
    for _ in range(max_iter):
        # candidate label per node = min(own, neighbors' labels)
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("node", "label_node").withColumnRenamed("label", "nl"),
                     sym["label"] == F.col("label_node"))
            .select(F.col("node"), F.col("nl").alias("cand"))
        )
        new_labels = (
            labels.join(neighbor_labels, on="node", how="left")
            .groupBy("node")
            .agg(F.least(F.min("label"), F.min("cand")).alias("label"))
        )
        flagged = _checkpoint(
            new_labels.alias("n")
            .join(labels.withColumnRenamed("label", "_old"), on="node")
            .select("node", "label", (F.col("label") != F.col("_old")).alias("_ch"))
        )
        changed = flagged.filter("_ch").limit(1).count()
        labels = flagged.drop("_ch")
        if not changed:
            break
    return labels.withColumnRenamed("label", "component"), not changed


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Near-dup removal: returns df minus non-representative members of
    each near-duplicate cluster (representative = min id)."""
    # persist: isEmpty() and the iterative clustering would otherwise
    # recompute the minhash UDF + band self-join once per action
    pairs = minhash_lsh_pairs(df, text_col, id_col, num_perm, bands, shingle_k, jaccard_threshold, seed).persist()
    if pairs.isEmpty():
        pairs.unpersist()
        return df
    comp = connected_components(pairs, "a", "b")
    reps = comp.groupBy("component").agg(F.min("node").alias("rep"))
    drop = comp.join(reps, on="component").filter(F.col("node") != F.col("rep")).select(F.col("node").alias(id_col))
    return df.join(drop, on=id_col, how="left_anti")


def minhash_banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """(id, sig, band, bucket) LSH rows — the persistable corpus
    signature INDEX. One Arrow minhash stage + a native band explode;
    write this to parquet once and every future crawl batch probes it
    (``incremental_minhash_dedup``) without touching the historical
    text. ``bands`` rows per document, each carrying the full
    signature so probes can estimate Jaccard without re-shingling."""
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    sig = df.select(F.col(id_col), make_minhash_udf(num_perm, shingle_k, seed)(F.col(text_col)).alias("sig"))
    sig = sig.localCheckpoint(eager=False)

    return sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[F.col("sig")[bi * rows_per_band + r].cast("string")
                                                  for r in range(rows_per_band)])).alias("bucket"),
                )
                for bi in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) with estimated Jaccard >= threshold.

    Estimated Jaccard = fraction of matching minhash components —
    unbiased, and avoids re-shingling at verify time; the exact verify
    variant is ``ngram_jaccard_pairs``."""
    banded = minhash_banded_signatures(df, text_col, id_col, num_perm,
                                       bands, shingle_k, seed)
    left = banded.alias("l")
    right = banded.alias("r")
    # jaccard_est is computed and thresholded BEFORE the (a, b) dedup:
    # the estimate is a deterministic function of the pair, so deduping
    # (a, b, jaccard_est) rows is result-identical to deduping
    # (a, b, sig_a, sig_b) rows first — but the dedup exchange then
    # carries 24 bytes/row instead of two full signatures (~1 KB/row),
    # and the threshold drops most rows before the exchange at all
    # (guide §2.3: shuffle fewer bytes). The r6-shape plan ran the
    # dedup as a SortAggregate over first(sig_a)/first(sig_b) (array
    # agg buffers defeat hash agg); this shape is a plain hash
    # distinct on three primitive columns.
    est = F.expr(
        "aggregate(zip_with(l.sig, r.sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_perm))
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            est.alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .dropDuplicates(["a", "b"])
    )


def incremental_minhash_matches(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 7,
) -> DataFrame:
    """Probe a NEW batch against a persisted corpus signature index
    (``minhash_banded_signatures`` rows, typically read back from
    parquet) — the continuous-crawl shape: the historical corpus is
    never re-read or re-shingled; each incoming batch costs one Arrow
    minhash pass over the batch plus one (band, bucket) hash join
    against the index. Returns (new_id, index_id, jaccard_est) for
    every match at or above the threshold. The minhash parameters MUST
    match the ones the index was built with (same num_perm/bands/
    shingle_k/seed), or bucket collisions are meaningless — pass the
    same values, or better, store them next to the index.

    At 100 TB the index side is |corpus| x bands rows of (8B id, sig,
    8B band, 8B bucket) — the join shuffles the BATCH to the index's
    (band, bucket) distribution, so pre-bucketing the index parquet by
    the join key makes the probe exchange-free on the big side
    (plans/bucketing.py pattern)."""
    probe = minhash_banded_signatures(new_docs, text_col, id_col,
                                      num_perm, bands, shingle_k, seed)
    # estimate + threshold BEFORE the pair dedup — same rewrite as
    # minhash_lsh_pairs: result-identical (the estimate is a pure
    # function of the pair) and the dedup exchange carries 3 primitive
    # columns instead of two signatures per candidate row.
    est = F.expr(
        "aggregate(zip_with(n.sig, i.sig, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_perm))
    return (
        probe.alias("n").join(index.alias("i"), on=["band", "bucket"])
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"i.{id_col}").alias("index_id"),
            est.alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .dropDuplicates(["new_id", "index_id"])
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    seed: int = 7,
    within_batch: bool = True,
) -> DataFrame:
    """New-batch rows that survive incremental dedup: drop every new
    doc near-duplicating the indexed corpus, and (``within_batch``)
    additionally dedup the batch against itself with the standard
    cluster-representative rule. The kept rows' signatures are what a
    caller appends to the index for the next batch."""
    matches = incremental_minhash_matches(
        new_docs, index, text_col, id_col, num_perm, bands, shingle_k,
        jaccard_threshold, seed)
    dup_new = matches.select(F.col("new_id").alias(id_col)).distinct()
    kept = new_docs.join(dup_new, on=id_col, how="left_anti")
    if within_batch:
        kept = minhash_lsh_dedup(kept, text_col, id_col, num_perm,
                                 bands, shingle_k, jaccard_threshold, seed)
    return kept


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def make_simhash_udf(seed: int = 11):
    """Arrow-batched simhash UDF — one unpackbits + reduceat per batch
    (``functions/hashing.py:simhash_batch``), no per-row Python."""
    @F.pandas_udf(T.LongType())
    def simhash(text: pd.Series) -> pd.Series:
        return pd.Series(hx.simhash_batch(list(text), seed))

    return simhash


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """Candidate pairs with Hamming(simhash) <= max_hamming via 4x16-bit
    band blocking (pigeonhole: <=3 differing bits cannot hit all 4 bands)."""
    sh = df.select(F.col(id_col), make_simhash_udf()(F.col(text_col)).alias("sh"))
    banded = sh.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.shiftrightunsigned(F.col("sh"), bi * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
            for bi in range(4)
        ])).alias("bb"),
    ).select(id_col, "sh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, on=["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"),
                F.col("l.sh").alias("sh_a"), F.col("r.sh").alias("sh_b"))
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verify stage / standalone)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard over k-word shingle sets for given candidate (a, b)
    pairs. Texts are joined in (two hash joins), similarity is computed
    in one vectorized UDF over the pair batch."""
    docs = df.select(F.col(id_col), F.col(text_col))
    j = (
        pairs.join(docs.withColumnRenamed(id_col, "a").withColumnRenamed(text_col, "text_a"), on="a")
        .join(docs.withColumnRenamed(id_col, "b").withColumnRenamed(text_col, "text_b"), on="b")
    )

    @F.pandas_udf(T.DoubleType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # shingle-hash both sides in one vectorized pass each; only the
        # per-pair set intersection is a (numpy) loop over the batch
        sha, ca = hx.shingle_hashes_batch(list(ta), k, seed=0)
        shb, cb = hx.shingle_hashes_batch(list(tb), k, seed=0)
        oa = np.concatenate([[0], np.cumsum(ca)])
        ob = np.concatenate([[0], np.cumsum(cb)])
        out = np.zeros(len(ta))
        for i in range(len(ta)):
            sa = np.unique(sha[oa[i]:oa[i + 1]])
            sb = np.unique(shb[ob[i]:ob[i + 1]])
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            union = sa.size + sb.size - inter
            out[i] = inter / union if union else 1.0
        return pd.Series(out)

    return (
        j.withColumn("jaccard", jac(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# benchmark contamination (eval-set leakage detection)
# ---------------------------------------------------------------------------

def make_shingle_set_udf(k: int = 8, seed: int = 0):
    """Arrow-batched UDF: text -> DISTINCT k-word shingle hashes (the
    same spec kernel the minhash signatures use)."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingles(text: pd.Series) -> pd.Series:
        sh, counts = hx.shingle_hashes_batch(list(text), k, seed=seed)
        offs = np.concatenate([[0], np.cumsum(counts)])
        out = []
        for i in range(len(text)):
            out.append(np.unique(sh[offs[i]:offs[i + 1]]).view(np.int64).tolist())
        return pd.Series(out)

    return shingles


def contamination_pairs(docs: DataFrame, evals: DataFrame, k: int = 8,
                        text_col: str = "text", id_col: str = "doc_id",
                        eval_id: str = "eval_id",
                        min_shared: int = 1) -> DataFrame:
    """Benchmark-leakage detection: (doc, eval item) pairs sharing at
    least ``min_shared`` distinct k-word shingles — the standard
    n-gram-overlap decontamination pass (GPT-3 appendix C / PaLM style)
    run the scalable way: explode both sides to (shingle, id), join on
    the 64-bit shingle hash (eval side broadcast — eval suites are
    thousands of items, not billions), aggregate shared counts. Never
    all-pairs; cost tracks true overlap."""
    d = docs.select(
        F.col(id_col),
        F.explode(make_shingle_set_udf(k)(F.col(text_col))).alias("sh"),
    )
    e = evals.select(
        F.col(eval_id),
        F.explode(make_shingle_set_udf(k)(F.col(text_col))).alias("sh"),
    )
    return (
        d.join(F.broadcast(e), on="sh")
        .groupBy(id_col, eval_id)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def decontaminate(docs: DataFrame, evals: DataFrame, k: int = 8,
                  text_col: str = "text", id_col: str = "doc_id",
                  eval_id: str = "eval_id", min_shared: int = 1) -> DataFrame:
    """Drop every document sharing >= min_shared k-shingles with any
    eval item (anti-join on the contamination pairs)."""
    hits = contamination_pairs(docs, evals, k, text_col, id_col, eval_id,
                               min_shared).select(id_col).distinct()
    return docs.join(hits, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# repeated-span (substring-level) dedup — the ExactSubstr analog
# ---------------------------------------------------------------------------
#
# Document-level dedup misses the pervasive failure mode of web corpora:
# long spans (boilerplate, licenses, templated passages) repeated inside
# otherwise-distinct pages. The reference treatment (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") builds a
# suffix array — inherently single-machine. The Spark-native equivalent
# fingerprints every k-word window and groups by fingerprint: a window
# appearing in >= min_docs distinct documents is a duplicated span. Cost
# is one row per token position (the same linear blow-up a suffix array
# pays) and ONE shuffle on the fingerprint; everything is native Column
# expressions (transform/slice/concat_ws inside codegen), no Python.


class _Unit(NamedTuple):
    """What word windows and char windows differ in: ``src`` maps the
    text column to the per-document sequence the windows slide over,
    ``length`` measures that sequence, and ``piece(src, j, k)`` is the
    content of the k-unit window starting at 1-based position ``j``."""
    src: Callable[[Column], Column]
    length: Callable[[Column], Column]
    piece: Callable[[Column, Column, int], Column]


# k lowercased whitespace tokens joined by one space; ``win_pos`` is the
# 0-based token index
_WORDS = _Unit(lambda text: words_col(F.lower(text)), F.size,
               lambda src, j, k: F.concat_ws(" ", F.slice(src, j, k)))
# k chars of the whitespace-NORMALIZED text (runs of whitespace collapsed
# to one space, trimmed) so whitespace-variant duplicates fingerprint
# identically; matching is case-insensitive (the window is lowercased
# inside the fingerprint only, keeping positions valid against the
# case-preserving normalized text); ``win_pos`` is 0-based in
# normalized-char coordinates
_CHARS = _Unit(lambda text: F.trim(F.regexp_replace(text, r"\s+", " ")),
               F.length,
               lambda src, j, k: F.lower(F.substring(src, j, F.lit(k))))


def _fingerprint(k: int, fingerprint: str):
    """(hash, empty) — the Column hash of one window and the typed
    window array of a document shorter than k. Every span operator
    validates ``k`` and ``fingerprint`` here."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if fingerprint == "xxhash64":
        return F.xxhash64, F.array().cast("array<bigint>")
    if fingerprint == "md5":
        return F.md5, F.array().cast("array<string>")
    raise ValueError(f"fingerprint must be 'xxhash64' or 'md5', got {fingerprint!r}")


def _windows(df: DataFrame, k: int, text_col: str, id_col: str,
             fingerprint: str, unit: _Unit,
             emit: Callable[[Column], Column]) -> DataFrame:
    """(id, emit(wins)) — ``wins`` is the array of the fingerprints of
    every k-unit window of a document, in window order. Documents
    shorter than k units get the empty array (guarded: Spark's
    sequence() would DESCEND for stop < start)."""
    fp, empty = _fingerprint(k, fingerprint)
    src = F.col("_src")
    n = unit.length(src)
    wins = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)),
                    lambda j: fp(unit.piece(src, j, k))),
    ).otherwise(empty)
    return (
        df.select(F.col(id_col), unit.src(F.col(text_col)).alias("_src"))
        .select(F.col(id_col), emit(wins))
    )


def _rows(wins: Column) -> Column:
    """One (win_pos, fp) row per window; ``win_pos`` is 0-based."""
    return F.posexplode(wins).alias("win_pos", "fp")


def _dup_catalog(wins: DataFrame, id_col: str, min_docs: int) -> DataFrame:
    """(fp, n_docs, n_occurrences) for every window fingerprint in >=
    ``min_docs`` distinct documents. One partial-aggregated groupBy;
    a consumer that keeps only ``fp`` gets the other aggregates pruned
    from the plan."""
    return (
        wins.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_docs") >= min_docs)
    )


def _flagged(wins: DataFrame, id_col: str, min_docs: int,
             spans: DataFrame | None = None) -> DataFrame:
    """The window rows whose fingerprint is duplicated: listed in
    ``spans`` when given (any catalog carrying ``fp``), else in the
    catalog of ``wins`` itself."""
    if spans is None:
        # two consumers (catalog + flagged probe): materialize the
        # window rows once with a lazy localCheckpoint instead of
        # re-running the window-hash pass per consumer (the
        # containment/minhash materialization precedent; a narrow
        # materialization, NOT the raw-row fp exchange the
        # remove_duplicated_spans docstring rejects — the groupBy still
        # combines map-side and the catalog still broadcasts into the
        # semi-join). On span_removal at sf0.1 it measured 0.89x, i.e.
        # costlier than the recompute it saves; kept as is pending a
        # measured decision.
        wins = wins.localCheckpoint(eager=False)
        spans = _dup_catalog(wins, id_col, min_docs)
    return wins.join(spans.select("fp"), "fp", "left_semi")


def _flag_and_merge(df: DataFrame, k: int, text_col: str, id_col: str,
                    min_docs: int, fingerprint: str,
                    spans: DataFrame | None, unit: _Unit) -> DataFrame:
    """``df`` hash-partitioned on the id and left-joined to ``ivs``:
    the document's flagged window positions, sorted and folded into
    disjoint [s, e) intervals in ``unit`` coordinates by one
    ``aggregate`` HOF (adjacent/overlapping windows merge, so a long
    repeated passage becomes ONE interval). ``ivs`` is NULL for a
    document without a flagged window. Both removers run this and
    keep only their own rewrite."""
    # input barrier, added when this plan read the input three times
    # (the r6 composition pair measured the map-only curation cascade
    # running 3x inside the remover); the window checkpoint now covers
    # the third read, and a counting probe measures two evaluations of
    # the input with or without the barrier — dropping it is a plan
    # change left to a measured decision
    df = df.repartition(F.col(id_col))
    wins = _windows(df, k, text_col, id_col, fingerprint, unit, _rows)
    intervals = (
        _flagged(wins, id_col, min_docs, spans)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("win_pos")).alias("ps"))
        .select(
            id_col,
            F.aggregate(
                "ps",
                F.array().cast("array<struct<s:int,e:int>>"),
                lambda acc, p: F.when(
                    (F.size(acc) == F.lit(0)) | (p > F.element_at(acc, -1)["e"]),
                    F.concat(acc, F.array(F.struct(p.alias("s"), (p + k).alias("e")))),
                ).otherwise(
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(F.element_at(acc, -1)["e"], p + k).alias("e"),
                        )),
                    )
                ),
            ).alias("ivs"),
        )
    )
    return df.join(intervals, id_col, "left")


def duplicated_spans(df: DataFrame, k: int = 8, text_col: str = "text",
                     id_col: str = "doc_id", min_docs: int = 2,
                     fingerprint: str = "xxhash64") -> DataFrame:
    """Catalog of duplicated spans: (fp, n_docs, n_occurrences) for every
    k-word window appearing in >= ``min_docs`` distinct documents. One
    explode + one partial-aggregated groupBy; at 100 TB the group count
    is bounded by distinct window content, and the heavy hitters ARE the
    output of interest."""
    wins = _windows(df, k, text_col, id_col, fingerprint, _WORDS, _rows)
    return _dup_catalog(wins, id_col, min_docs)


def remove_duplicated_spans(df: DataFrame, k: int = 8, text_col: str = "text",
                            id_col: str = "doc_id", min_docs: int = 2,
                            fingerprint: str = "xxhash64",
                            spans: DataFrame | None = None) -> DataFrame:
    """ExactSubstr-style span *removal* (Lee et al. 2022): cut the
    duplicated k-word windows out of each document's text instead of
    gating whole documents (``span_dedup_stats`` over-deletes when it
    drops a doc, under-cleans when it keeps one).

    Plan (everything native Column expressions, no Python):

    1. fingerprint every k-word window (the span kernel shared with the
       catalog/stats ops — same tokenization),
    2. flag fingerprints in >= ``min_docs`` distinct docs (or take a
       pre-computed ``spans`` catalog carrying ``fp``, e.g. from
       ``duplicated_spans`` over a LARGER corpus than ``df``),
    3. per doc: sort flagged window positions and fold them into
       disjoint [s, e) token intervals with one ``aggregate`` HOF,
    4. rewrite ``text`` keeping only tokens outside every interval
       (indexed ``filter`` HOF; O(tokens x intervals) per doc — the
       interval list is already gap-merged so it is small).

    Shuffle shape: one id-hash exchange of the INPUT
    (``repartition(id)``), the span groupBy and one per-doc regroup;
    the per-doc intervals broadcast into the rewrite join when small.
    Without ``spans`` the window rows are materialized once by a lazy
    ``localCheckpoint`` that feeds both the catalog and the flagged
    probe. The input is read twice — by the window branch and by the
    rewrite join — and the two reads do not share the exchange (the
    optimizer infers ``isnotnull(id)`` for the window branch and pushes
    it below that branch's exchange): a counting probe upstream
    measures two evaluations of the input, with or without the
    checkpoint and with an external ``spans``. The window rows get no
    fp-hash exchange of their own, deliberately: one in place of the
    groupBy path was measured ~2x slower in isolation (6.8 s -> 12.7 s
    at sf0.1), because it forwards every (fp, id, pos) row unreduced
    while the groupBy path collapses duplicates map-side before its
    (cheaper) exchange, and AQE can broadcast the small flagged-span
    catalog into the semi-join, skipping the window exchange entirely.

    Rewritten documents come back whitespace-normalized (tokens
    re-joined with single spaces; that is the coordinate system the
    window fingerprints live in). Untouched documents keep their text
    byte-identical. Adds ``tokens_removed`` / ``chars_removed`` (0 for
    untouched docs; ``chars_removed`` counts versus the normalized
    form). Documents shorter than k tokens are never touched.
    """
    out = _flag_and_merge(df, k, text_col, id_col, min_docs, fingerprint,
                          spans, _WORDS)
    # original-CASE tokens: the fingerprint tokenizer minus the lower(),
    # so positions line up 1:1 with win_pos coordinates
    return (
        out.withColumn("_toks", words_col(F.col(text_col)))
        .withColumn(
            "_kept",
            F.when(F.col("ivs").isNull(), F.col("_toks")).otherwise(
                F.filter(
                    "_toks",
                    lambda t, i: ~F.exists(
                        "ivs", lambda iv: (i >= iv["s"]) & (i < iv["e"])),
                )
            ),
        )
        .withColumn(
            "tokens_removed",
            F.when(F.col("ivs").isNull(), F.lit(0)).otherwise(
                F.size("_toks") - F.size("_kept")).cast("long"),
        )
        .withColumn(
            "chars_removed",
            F.when(F.col("ivs").isNull(), F.lit(0)).otherwise(
                F.length(F.concat_ws(" ", "_toks"))
                - F.length(F.concat_ws(" ", "_kept"))
            ).cast("long"),
        )
        .withColumn(
            text_col,
            F.when(F.col("ivs").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(" ", "_kept")),
        )
        .drop("ivs", "_toks", "_kept")
    )


def duplicated_char_spans(df: DataFrame, k: int = 40, text_col: str = "text",
                          id_col: str = "doc_id", min_docs: int = 2,
                          fingerprint: str = "xxhash64") -> DataFrame:
    """Catalog of duplicated CHAR spans: (fp, n_docs, n_occurrences)
    for every k-char window appearing in >= ``min_docs`` distinct
    documents — the char-granularity twin of ``duplicated_spans``.
    Lee et al. 2022 (ExactSubstr) define duplication on character
    n-grams (their threshold: 50 chars); the word-window variant
    misses any duplicated run shorter than k WORDS, however long in
    chars. Row volume is O(total chars) — same asymptotic class as
    tokenizing the corpus, shuffle is the one fingerprint groupBy."""
    wins = _windows(df, k, text_col, id_col, fingerprint, _CHARS, _rows)
    return _dup_catalog(wins, id_col, min_docs)


def remove_duplicated_char_spans(df: DataFrame, k: int = 40,
                                 text_col: str = "text",
                                 id_col: str = "doc_id", min_docs: int = 2,
                                 fingerprint: str = "xxhash64",
                                 spans: DataFrame | None = None) -> DataFrame:
    """Char-level ExactSubstr removal (Lee et al. 2022 operate on char
    n-grams): cut every k-char window occurring in >= ``min_docs``
    distinct docs out of the text. Closes the two word-window gaps the
    r5 verdict names: sub-k-word duplicated runs (a 45-char 5-word
    slogan escapes k=8 words but not k=40 chars) and whitespace-variant
    duplicates (fingerprints live in whitespace-normalized coordinates,
    so ``"a  b"`` and ``"a b"`` match).

    Same all-native plan as ``remove_duplicated_spans`` — the same
    input exchange, window checkpoint, flagging and interval merge, and
    the same two evaluations of the input — except the rewrite
    concatenates the complement SUBSTRINGS of the normalized text (an
    ``aggregate`` over the merged intervals with a (kept_text, cursor)
    accumulator) instead of filtering a token array: O(len) per doc,
    no char-array explosion.

    Untouched documents keep their text byte-identical; rewritten ones
    come back whitespace-normalized (the fingerprint coordinate
    system). ``chars_removed`` counts versus the normalized form."""
    out = _flag_and_merge(df, k, text_col, id_col, min_docs, fingerprint,
                          spans, _CHARS)
    # complement concat: walk the merged intervals with a (text, cursor)
    # accumulator, emitting the gap before each interval, then the tail
    kept = F.aggregate(
        "ivs",
        F.struct(F.lit("").alias("t"), F.lit(0).alias("cur")),
        lambda acc, iv: F.struct(
            F.concat(acc["t"], F.substring(
                F.col("_norm"), acc["cur"] + 1, iv["s"] - acc["cur"])).alias("t"),
            iv["e"].alias("cur")),
        lambda acc: F.concat(acc["t"], F.substring(
            F.col("_norm"), acc["cur"] + 1,
            F.length("_norm") - acc["cur"])),
    )
    return (
        out.withColumn("_norm", _CHARS.src(F.col(text_col)))
        .withColumn("_kept", F.when(F.col("ivs").isNull(),
                                    F.col("_norm")).otherwise(kept))
        .withColumn(
            "chars_removed",
            F.when(F.col("ivs").isNull(), F.lit(0)).otherwise(
                F.length("_norm") - F.length("_kept")).cast("long"),
        )
        .withColumn(
            text_col,
            F.when(F.col("ivs").isNull(), F.col(text_col))
            .otherwise(F.col("_kept")),
        )
        .drop("ivs", "_norm", "_kept")
    )


def span_dedup_stats(df: DataFrame, k: int = 8, text_col: str = "text",
                     id_col: str = "doc_id", min_docs: int = 2,
                     fingerprint: str = "xxhash64") -> DataFrame:
    """Per-document span-duplication profile: (id, n_windows,
    n_dup_windows) where a dup window's fingerprint occurs in >=
    ``min_docs`` distinct documents. The standard curation gate drops or
    trims documents whose duplicated-window fraction is high. Two
    shuffles total (the span groupBy + the per-doc regroup); documents
    shorter than k words report 0/0."""
    wins = _windows(df, k, text_col, id_col, fingerprint, _WORDS, _rows)
    # only the FLAGGED windows regroup (semi-join, broadcastable
    # catalog) — the r6 shape left-outer-joined and regrouped EVERY
    # window row just to count them; the total window count per doc is
    # a map-side expression (no explode, no join), so the per-doc base
    # table costs one narrow pass + a one-row-per-doc exchange, and it
    # doubles as the distinct-id universe (guide §2.3/2.4).
    dup_per_doc = (
        _flagged(wins, id_col, min_docs)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    # greatest() also maps the NULL a NULL text produces under ANSI
    # size() to 0 windows
    n_windows = F.greatest(
        _WORDS.length(_WORDS.src(F.col(text_col))) - F.lit(k - 1), F.lit(0))
    base = (
        df.select(F.col(id_col), n_windows.cast("long").alias("_nw"))
        .groupBy(id_col)
        .agg(F.sum("_nw").alias("n_windows"))
    )
    return (
        base.join(dup_per_doc, id_col, "left")
        .select(id_col,
                F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
                F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"))
    )


# ---------------------------------------------------------------------------
# host-template boilerplate removal (line-level, CCNet-style)
# ---------------------------------------------------------------------------

def host_boilerplate_lines(df: DataFrame, host_col: str = "host",
                           text_col: str = "text", id_col: str = "doc_id",
                           min_docs: int = 3,
                           max_frac: float = 0.5) -> DataFrame:
    """Catalog of template lines per host: a line is boilerplate when
    it appears in MORE than ``max_frac`` of the host's documents (nav
    bars, cookie banners, copyright footers — the lines a site's
    template stamps on every page; cf. CCNet's paragraph-frequency
    dedup, Wenzek et al. 2020). Hosts with fewer than ``min_docs``
    documents are never judged (one page can't reveal a template).

    Returns ``(host, line, df_docs, host_docs)``. The threshold is an
    EXACT integer comparison (``df_docs * 1e6 > ppm * host_docs`` with
    ``ppm = round(max_frac * 1e6)``) so decisions are reproducible
    cross-engine — the bigram-LM ppm precedent. Document frequency
    counts each document ONCE however often it repeats the line.

    Shuffle shape: one groupBy on (host, line) with map-side partial
    distinct + one tiny host-count groupBy joined back; output bounded
    by distinct (host, line) pairs, never corpus size. Blank lines are
    lines too — a host template full of empty separator lines gets
    them removed like any other repeated line."""
    if min_docs < 1:
        raise ValueError(f"need min_docs >= 1, got {min_docs}")
    if not 0.0 < max_frac <= 1.0:
        raise ValueError(f"need 0 < max_frac <= 1, got {max_frac}")
    ppm = round(max_frac * 1_000_000)
    lines = df.select(
        F.col(host_col).alias("host"), F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"))
    df_line = (lines.groupBy("host", "line")
               .agg(F.countDistinct("_id").alias("df_docs")))
    host_docs = (df.groupBy(F.col(host_col).alias("host"))
                 .agg(F.countDistinct(F.col(id_col)).alias("host_docs")))
    return (
        df_line.join(host_docs, "host")
        .filter((F.col("host_docs") >= min_docs)
                & (F.col("df_docs") * F.lit(1_000_000)
                   > F.lit(ppm) * F.col("host_docs")))
        .select("host", "line", "df_docs", "host_docs")
    )


def remove_boilerplate_lines(df: DataFrame, host_col: str = "host",
                             text_col: str = "text",
                             id_col: str = "doc_id", min_docs: int = 3,
                             max_frac: float = 0.5,
                             boilerplate: DataFrame | None = None) -> DataFrame:
    """Rewrite each document with its host's template lines cut out
    (ALL occurrences — the template stamps them, the body didn't earn
    them). Pass a precomputed ``boilerplate`` catalog (e.g. built over
    a larger corpus slice, or yesterday's) to skip the discovery pass.

    Plan — all native, no Python stage:

    1. ``posexplode`` the line split (position kept for order),
    2. LEFT ANTI join against the (host, line) catalog,
    3. regroup per doc: ``array_sort`` the (pos, line) structs and
       re-join with newlines,
    4. one hash join back to ``df`` for the untouched columns.

    Split-on-newline then join-with-newline is byte-faithful, so docs
    with nothing flagged come back byte-identical (unlike the span
    rewriter's whitespace normalization). A doc whose EVERY line is
    boilerplate comes back as the empty string. Adds ``n_lines``,
    ``n_kept`` and ``chars_removed`` accounting columns."""
    if boilerplate is None:
        boilerplate = host_boilerplate_lines(
            df, host_col, text_col, id_col, min_docs, max_frac)
    lines = df.select(
        F.col(id_col), F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    kept = lines.join(boilerplate.select("host", "line"),
                      ["host", "line"], "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line")))
             .alias("_pl"))
        .select(
            F.col(id_col),
            F.concat_ws("\n", F.transform("_pl", lambda s: s["line"]))
            .alias("_new_text"),
            F.size("_pl").alias("_n_kept"))
    )
    out = df.join(rebuilt, id_col, "left")
    new_text = F.coalesce(F.col("_new_text"), F.lit(""))
    return (
        out
        .withColumn("n_lines",
                    F.size(F.split(F.col(text_col), "\n")).cast("long"))
        .withColumn("n_kept", F.coalesce("_n_kept", F.lit(0)).cast("long"))
        .withColumn("chars_removed",
                    (F.length(F.col(text_col)) - F.length(new_text))
                    .cast("long"))
        .withColumn(text_col, new_text)
        .drop("_new_text", "_n_kept")
    )


def containment_pairs(df: DataFrame, k: int = 8, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_containment_ppm: int = 600_000,
                      max_fp_df: int | None = None,
                      fingerprint: str = "xxhash64") -> DataFrame:
    """ASYMMETRIC shingle containment — the quote-inclusion detector
    Jaccard-style near-dup misses.

        C(A -> B) = |S(A) ∩ S(B)| / |S(A)|

    over distinct k-word window fingerprints S(.). A short document
    quoted whole inside a long one scores C = 1.0 while its Jaccard
    vs the container is tiny (|S(B)| dominates the union), so
    ``dedup_minhash_pairs``/``dedup_jaccard_verify`` never surface the
    pair; containment is how RefinedWeb/Dolma-style curation catches
    wholesale quotation, syndication wrappers and subset pages.

    Plan (all native): map-side per-doc DISTINCT fingerprint arrays
    (the span kernel's window array under ``array_distinct``, which
    keeps first occurrence — per-doc distinctness needs no exchange) ->
    |S(doc)| as the array size (map-side) -> df >= 2 prefilter (one
    map-side-combined fp count; singleton fps can never pair) ->
    fp equi-self-join (the join COUNT over (a, b) IS the intersection
    size — the gazetteer blocking identity) -> exact integer-ppm score
    ``1000000 * n_shared DIV n_windows(a)``.

    Scale levers, same contract as the rest of the dedup family:
    * candidate fan-out is bounded by per-fp doc frequency, never n²;
    * ``max_fp_df`` drops corpus-hot shingles (boilerplate) from pair
      GENERATION — a conservative underestimate exactly like
      gazetteer_match's ``max_block_df`` (dropped shingles still count
      in the |S(A)| denominator), documented so oracles can mirror it;
    * output rows are ordered pairs above ``min_containment_ppm``.

    Returns (contained_id, container_id, n_shared, n_windows,
    containment_ppm) — n_windows is |S(contained_id)|.
    """
    if not 0 < min_containment_ppm <= 1_000_000:
        raise ValueError(f"min_containment_ppm must be in (0, 1e6], got "
                         f"{min_containment_ppm}")
    if max_fp_df is not None and max_fp_df < 2:
        raise ValueError(f"max_fp_df must be >= 2, got {max_fp_df}")
    # (id, fp) distinctness is PER-DOCUMENT, so it is a map-side
    # array_distinct over each document's window array — the r6 shape
    # ran explode -> .distinct(), a full corpus-width exchange, and
    # re-evaluated it once per consumer (5 window-hash passes / 6
    # exchanges in the measured plan). |S(doc)| likewise never needs
    # the explode at all (size of the distinct array).
    # lazy localCheckpoint (the minhash-signature precedent): the fp
    # arrays feed four consumers (sizes, the fp-df count, both self-join
    # sides) — materializing them once replaces four full window-hash
    # passes with one hash pass + three cheap re-reads. Storage is the
    # hash array (~8 B/word), the same size class the minhash index
    # already materializes.
    base = _windows(
        df, k, text_col, id_col, fingerprint, _WORDS,
        lambda wins: F.array_distinct(wins).alias("_fps"),
    ).localCheckpoint(eager=False)
    wins = base.select(F.col(id_col), F.explode("_fps").alias("fp"))
    sizes = base.select(F.col(id_col),
                        F.size("_fps").cast("long").alias("n_windows"))
    # df >= 2 prefilter (r6 verdict #1): a fingerprint appearing in ONE
    # document can never produce a pair (the self-join's lo < hi kills
    # the only candidate), yet singletons dominate real corpora — drop
    # them from pair generation up front. One map-side-combined fp
    # count; the surviving catalog is small enough to broadcast into
    # the semi-join, so the self-join's inputs shrink to genuinely
    # shared fingerprints. Result-identical with or without the cap.
    cond = F.col("_df") >= 2
    if max_fp_df is not None:
        cond = cond & (F.col("_df") <= max_fp_df)
    cool = (wins.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
            .filter(cond).select("fp"))
    pair_wins = wins.join(cool, "fp", "left_semi")
    a = pair_wins.select(F.col(id_col).alias("_lo"), "fp")
    b = pair_wins.select(F.col(id_col).alias("_hi"), "fp")
    # count UNORDERED pairs (lo < hi) and fan the two directions out
    # AFTER the aggregation: halves the join output rows and the
    # pair-count shuffle volume vs the ordered-pair form. Identical
    # results; measured wall effect on the r6ops corpus is small
    # (-4% @4 pinned cores, ~0% @16 — the fp join dominates there),
    # kept because at cluster scale shuffle BYTES are the budget and
    # this is strictly half of them on the widest aggregation.
    inter = (
        a.join(b, "fp")
        .filter(F.col("_lo") < F.col("_hi"))
        .groupBy("_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            F.explode(F.array(
                F.struct(F.col("_lo").alias("contained_id"),
                         F.col("_hi").alias("container_id")),
                F.struct(F.col("_hi").alias("contained_id"),
                         F.col("_lo").alias("container_id")),
            )).alias("_pair"),
            "n_shared")
        .select("_pair.contained_id", "_pair.container_id", "n_shared")
    )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "contained_id"),
                   "contained_id")
        .withColumn("containment_ppm",
                    F.expr("CAST(1000000 AS BIGINT) * n_shared DIV n_windows"))
        .filter(F.col("containment_ppm") >= min_containment_ppm)
    )


def duplicated_paragraphs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          min_docs: int = 2) -> DataFrame:
    """Corpus-wide duplicated-paragraph catalog: ``(p_hash, n_docs,
    n_occurrences)`` for every paragraph (``\\n\\n``-separated block)
    appearing in >= ``min_docs`` distinct documents. One posexplode +
    one partial-aggregated groupBy, bounded by distinct paragraph
    content — the paragraph-granularity member of the dedup family
    (between line-level host boilerplate and whole-doc exact dedup;
    the CCNet/Dolma paragraph-dedup stage)."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    inst = _paragraph_instances(df, text_col, id_col)
    return (
        inst.groupBy("p_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_docs") >= min_docs)
    )


def _paragraph_instances(df: DataFrame, text_col: str,
                         id_col: str) -> DataFrame:
    """(id, p_pos, paragraph, p_hash) — one row per paragraph instance,
    0-based position. The '\\n\\n' split/join round trip is
    byte-faithful (a literal-separator split keeps any residual
    newlines inside the pieces), so untouched docs rebuild
    byte-identically."""
    return (
        df.select(F.col(id_col),
                  F.posexplode(F.split(F.col(text_col), "\n\n"))
                  .alias("p_pos", "paragraph"))
        .withColumn("p_hash", F.md5("paragraph"))
    )


def remove_duplicated_paragraphs(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id", min_docs: int = 2,
                                 keep: str = "first") -> DataFrame:
    """Paragraph-level dedup REWRITE: drop paragraphs that appear in >=
    ``min_docs`` distinct documents, keeping (``keep="first"``) exactly
    one canonical copy — the instance with the smallest (doc id,
    position) — or (``keep="none"``) no copy at all (the boilerplate
    posture). Whole-doc near-dup machinery misses this: syndicated
    blocks ride inside otherwise-unique pages.

    Plan (all native): posexplode paragraphs -> one p_hash groupBy
    producing (n_docs, min (id, pos) struct) -> hash join back to the
    instances -> per-doc regroup (sort_array on position, concat with
    the original separator). Shuffle cost: one content-bounded groupBy
    + one join + one per-doc regroup — the span-removal cost class.
    Untouched documents rebuild byte-identically (literal-separator
    round trip); ``paragraphs_removed`` counts cut instances."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # lazy localCheckpoint: the paragraph instances feed the stats
    # aggregate AND the rewrite join — one split+md5 pass instead of two
    inst = _paragraph_instances(df, text_col, id_col) \
        .localCheckpoint(eager=False)
    stats = (
        inst.groupBy("p_hash")
        .agg(F.countDistinct(id_col).alias("_nd"),
             F.min(F.struct(F.col(id_col).alias("i"),
                            F.col("p_pos").alias("p"))).alias("_first"))
    )
    j = inst.join(stats, "p_hash")
    is_dup = F.col("_nd") >= min_docs
    if keep == "first":
        cut = is_dup & ~((F.col(id_col) == F.col("_first.i"))
                         & (F.col("p_pos") == F.col("_first.p")))
    else:
        cut = is_dup
    kept = (
        j.withColumn("_cut", cut)
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(~F.col("_cut"),
                               F.struct(F.col("p_pos").alias("p"),
                                        F.col("paragraph").alias("t"))))),
                    lambda s: s["t"])).alias("_new_text"),
            F.sum(F.col("_cut").cast("long")).alias("paragraphs_removed"),
        )
    )
    out_cols = [c for c in df.columns if c != text_col]
    # left join: NULL-text docs produce no paragraph instances and
    # must survive unchanged, not vanish through an inner join
    return (
        df.join(kept, id_col, "left")
        .select(*out_cols,
                F.coalesce(F.col("_new_text"), F.col(text_col)).alias(text_col),
                F.coalesce(F.col("paragraphs_removed"), F.lit(0)).alias(
                    "paragraphs_removed"))
    )
