"""Bigram language-model scoring: the LM-based quality filter
(perplexity-style) that sits next to the heuristic cascade and the
learned classifier in every curation stack (CCNet's KenLM filter is
the canonical instance).

The model is an add-one-smoothed bigram LM trained on the corpus
itself (junk text has rare bigrams under its own corpus statistics —
the standard self-scoring setup for filtering):

    P(w | prev) = (c(prev, w) + 1) / (c(prev) + V)

**Exactness design** — the reason this is hash-oracle-able where a
log-perplexity would not be: probabilities are QUANTIZED to exact
integers before any cross-row aggregation. ``q = floor(P * 1e6)`` is
a deterministic IEEE chain (one divide, one multiply, one floor —
bit-identical across engines), and per-document totals are INTEGER
sums, immune to float reduction order. Transcendental-free: the score
is the quantized mean probability (monotone in perplexity for
comparison/thresholding purposes), not a log — the repo's
rational-surrogate rule (CLAUDE.md r3).

Scale shape: training is two partial-aggregated groupBys (bigram and
unigram count tables — vocabulary-bounded outputs); scoring is two
hash joins of exploded bigram positions against those tables plus one
per-document regroup. Nothing collects; the count tables stay
distributed (broadcast them when small).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import words_col

PPM = 1_000_000


def _would_broadcast(*dfs) -> bool:
    """True when every frame's optimizer-estimated size is under the
    session's autoBroadcastJoinThreshold — the same signal the planner
    uses to pick the join strategy (driver-side estimate, no action).

    The scorers co-partition their non-broadcast joins on a shared key
    subset only when this is False: in the broadcast regime the extra
    exchange of the exploded table is pure overhead (measured +1.2 s at
    sf0.1), in the too-big-to-broadcast regime it is the difference
    between one exchange of the corpus-sized table and one per join.

    The estimate reads private handles (``_jdf``, ``spark._jvm``). Where
    they are missing (e.g. Spark Connect) or raise, this answers True —
    the plain-join branch, correct in either regime — so the heuristic
    never fails the scorer."""
    try:
        spark = dfs[0].sparkSession
        thr_s = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        try:
            thr = int(thr_s)
        except ValueError:
            thr = int(spark._jvm.org.apache.spark.network.util.JavaUtils
                      .byteStringAsBytes(thr_s))
        if thr <= 0:
            return False
        return all(
            int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            <= thr for d in dfs)
    except Exception:
        return True


def _bigrams_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, prev, w) — consecutive lowercased whitespace-token
    pairs. Documents with < 2 tokens produce no rows."""
    toks = words_col(F.lower(F.col(text_col)))
    pairs = F.when(
        F.size("toks") >= 2,
        F.zip_with(F.slice(F.col("toks"), 1, F.size("toks") - 1),
                   F.slice(F.col("toks"), 2, F.size("toks") - 1),
                   lambda a, b: F.struct(a.alias("prev"), b.alias("w"))),
    ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))
    return (
        df.select(F.col(id_col), toks.alias("toks"))
        .select(F.col(id_col), F.posexplode(pairs).alias("pos", "pw"))
        .select(id_col, "pos", F.col("pw.prev").alias("prev"), F.col("pw.w").alias("w"))
    )


def train_bigram_lm(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id"):
    """-> (bigram_counts, unigram_counts, vocab_size): the two count
    tables and V for add-one smoothing. Two shuffles, vocabulary-
    bounded outputs; V is one bounded scalar."""
    bg = _bigrams_df(df, text_col, id_col)
    # lazy localCheckpoint: the scorer consumes each count table through
    # one or more derived views, and without materialization every view
    # re-runs the FULL corpus count pass (the bigram scorer read the
    # corpus twice per table; the trigram scorer four times). The
    # tables are vocabulary-bounded — the model artifact a production
    # run would persist anyway; blocks are freed by the ContextCleaner
    # when the returned frames are garbage collected.
    bigram_counts = (bg.groupBy("prev", "w")
                     .agg(F.count(F.lit(1)).alias("c2"))
                     .localCheckpoint(eager=False))
    toks = df.select(
        F.explode(words_col(F.lower(F.col(text_col)))).alias("tok"))
    unigram_counts = (toks.groupBy(F.col("tok").alias("prev"))
                      .agg(F.count(F.lit(1)).alias("c1"))
                      .localCheckpoint(eager=False))
    vocab_size = unigram_counts.count()
    return bigram_counts, unigram_counts, int(vocab_size)


def score_bigram_lm(df: DataFrame, bigram_counts: DataFrame,
                    unigram_counts: DataFrame, vocab_size: int,
                    text_col: str = "text", id_col: str = "doc_id",
                    broadcast_counts: bool = False) -> DataFrame:
    """(id, n_bigrams, sum_p_ppm, mean_p_ppm) — per-document quantized
    add-one bigram probabilities. ``mean_p_ppm`` is the integer-divide
    mean (exact); documents with < 2 tokens report 0/0/0. Set
    ``broadcast_counts`` when the count tables fit in memory."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    bg = _bigrams_df(df, text_col, id_col)
    if broadcast_counts:
        bc = F.broadcast(bigram_counts)
        uc = F.broadcast(unigram_counts)
    elif _would_broadcast(bigram_counts, unigram_counts):
        bc, uc = bigram_counts, unigram_counts
    else:
        # co-partition every join on the shared key subset: hash
        # partitioning on ``prev`` satisfies the clustering requirement
        # of BOTH join key sets ({prev, w} and {prev}), so the exploded
        # bigram table crosses the network ONCE instead of once per
        # join (guide §2.4 — two operations keyed the same way share
        # one exchange).
        bg = bg.repartition(F.col("prev"))
        bc = bigram_counts.repartition(F.col("prev"))
        uc = unigram_counts.repartition(F.col("prev"))
    joined = (
        bg.join(bc, ["prev", "w"], "left")
        .join(uc, ["prev"], "left")
        .select(
            id_col,
            F.floor(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(vocab_size)).cast("double")
                * F.lit(float(PPM))
            ).cast("long").alias("q"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("q").alias("sum_p_ppm"),
    )
    ids = df.select(id_col).distinct()
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_p_ppm", F.lit(0)).cast("long").alias("sum_p_ppm"),
            # floor(double divide): both engines produce the identical
            # correctly-rounded quotient, so the floor matches bit-wise
            # (a bare CAST would diverge — Spark truncates, DuckDB rounds)
            F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                   F.floor(F.col("sum_p_ppm") / F.col("n_bigrams")).cast("long"))
            .otherwise(F.lit(0)).alias("mean_p_ppm"),
        )
    )


def _trigrams_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, w1, w2, w3) — consecutive lowercased whitespace-token
    triples. Documents with < 3 tokens produce no rows. The
    ``size >= 3`` guard keeps the ``sequence`` ascending (F.sequence
    DESCENDS when end < start — the r4 window-enumeration rule)."""
    toks = words_col(F.lower(F.col(text_col)))
    tri = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
                F.element_at(F.col("toks"), i + 2).alias("w3"))),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))
    return (
        df.select(F.col(id_col), toks.alias("toks"))
        .select(F.col(id_col), F.posexplode(tri).alias("pos", "t"))
        .select(id_col, "pos", F.col("t.w1").alias("w1"),
                F.col("t.w2").alias("w2"), F.col("t.w3").alias("w3"))
    )


def train_trigram_lm(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id"):
    """-> (trigram_counts, bigram_counts, unigram_counts,
    total_tokens) for stupid-backoff scoring (Brants et al. 2007 —
    the web-scale LM recipe that skips normalization entirely, which
    is exactly what makes it EXACT-integer-oracle-able here). Three
    partial-aggregated groupBys, vocabulary-bounded outputs; the token
    total is one bounded scalar (training pass, same contract as the
    bigram trainer)."""
    tg = _trigrams_df(df, text_col, id_col)
    # lazy localCheckpoint on all three tables — the scorer reads the
    # bigram table through two views (context + continuation) and the
    # unigram table through two (w2 + w3); without materialization each
    # view re-ran its full corpus count pass (see train_bigram_lm).
    trigram_counts = (tg.groupBy("w1", "w2", "w3")
                      .agg(F.count(F.lit(1)).alias("c3"))
                      .localCheckpoint(eager=False))
    bg = _bigrams_df(df, text_col, id_col)
    bigram_counts = (bg.groupBy("prev", "w")
                     .agg(F.count(F.lit(1)).alias("c2"))
                     .localCheckpoint(eager=False))
    toks = df.select(
        F.explode(words_col(F.lower(F.col(text_col)))).alias("tok"))
    unigram_counts = (toks.groupBy(F.col("tok").alias("prev"))
                      .agg(F.count(F.lit(1)).alias("c1"))
                      .localCheckpoint(eager=False))
    total_tokens = unigram_counts.agg(F.sum("c1")).collect()[0][0] or 0
    return trigram_counts, bigram_counts, unigram_counts, int(total_tokens)


def score_trigram_backoff(df: DataFrame, trigram_counts: DataFrame,
                          bigram_counts: DataFrame,
                          unigram_counts: DataFrame, total_tokens: int,
                          text_col: str = "text", id_col: str = "doc_id",
                          alpha_ppm: int = 400_000,
                          broadcast_counts: bool = False) -> DataFrame:
    """(id, n_trigrams, sum_s_ppm, mean_s_ppm) — per-document stupid
    backoff scores,

        S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)        if c(w1w2w3) > 0
                      = a   * c(w2w3)/c(w2)      elif c(w2w3) > 0
                      = a^2 * c(w3)/N            otherwise,

    quantized per trigram as ppm BEFORE summing — and unlike the
    bigram LM's float chain, every branch here is PURE integer
    arithmetic (``(1000000*c3) DIV c12``, ``(a_ppm*c23) DIV c2u``,
    ``(a_ppm^2*c1) DIV (1000000*N)``), so the scores are exact by
    construction in any engine: no IEEE step at all. a = 0.4 is the
    published constant (``alpha_ppm`` = 400000). OOV w3 scores 0 via
    the final branch. Documents with < 3 tokens report 0/0/0;
    ``mean_s_ppm`` is the integer-divide mean.

    Scale shape: one explode + four hash joins against vocabulary-
    bounded count tables (broadcast them when small) + one
    per-document regroup. Nothing collects."""
    if total_tokens <= 0:
        raise ValueError(f"total_tokens must be positive, got {total_tokens}")
    if not 0 < alpha_ppm <= PPM:
        raise ValueError(f"alpha_ppm must be in (0, 1e6], got {alpha_ppm}")
    tg = _trigrams_df(df, text_col, id_col)
    b = F.broadcast if broadcast_counts else (lambda x: x)
    tc = b(trigram_counts)
    ctx = b(bigram_counts.select(F.col("prev").alias("w1"),
                                 F.col("w").alias("w2"),
                                 F.col("c2").alias("c12")))
    cont = b(bigram_counts.select(F.col("prev").alias("w2"),
                                  F.col("w").alias("w3"),
                                  F.col("c2").alias("c23")))
    uni2 = b(unigram_counts.select(F.col("prev").alias("w2"),
                                   F.col("c1").alias("c2u")))
    uni3 = b(unigram_counts.select(F.col("prev").alias("w3"),
                                   F.col("c1").alias("c3u")))
    if not broadcast_counts and not _would_broadcast(
            trigram_counts, bigram_counts, unigram_counts):
        # co-partition on w2: hash partitioning on the shared key
        # satisfies the clustering requirement of four of the five
        # joins ({w1,w2,w3}, {w1,w2}, {w2,w3}, {w2} all contain w2), so
        # the exploded trigram table is exchanged ONCE for them instead
        # of once per join; only the w3 unigram join still needs its
        # own exchange (guide §2.4). The r6-shape plan reshuffled the
        # full trigram table five times.
        tg = tg.repartition(F.col("w2"))
        tc = tc.repartition(F.col("w2"))
        ctx = ctx.repartition(F.col("w2"))
        cont = cont.repartition(F.col("w2"))
        uni2 = uni2.repartition(F.col("w2"))
    a2_num = alpha_ppm * alpha_ppm  # exact: q3 = (a_ppm^2*c1) DIV (1e6*N)
    joined = (
        tg.join(tc, ["w1", "w2", "w3"], "left")
        .join(ctx, ["w1", "w2"], "left")
        .join(cont, ["w2", "w3"], "left")
        .join(uni2, ["w2"], "left")
        .join(uni3, ["w3"], "left")
        .select(
            id_col,
            F.expr(
                "CAST(CASE "
                "WHEN coalesce(c3, 0L) > 0L THEN (1000000L * c3) DIV c12 "
                f"WHEN coalesce(c23, 0L) > 0L THEN ({alpha_ppm}L * c23) DIV c2u "
                f"ELSE ({a2_num}L * coalesce(c3u, 0L)) DIV (1000000L * {total_tokens}L) "
                "END AS BIGINT)").alias("q"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("q").alias("sum_s_ppm"),
    )
    ids = df.select(id_col).distinct()
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
            F.coalesce("sum_s_ppm", F.lit(0)).cast("long").alias("sum_s_ppm"),
            F.when(F.coalesce(F.col("n_trigrams"), F.lit(0)) > 0,
                   F.expr("sum_s_ppm DIV n_trigrams"))
            .otherwise(F.lit(0)).cast("long").alias("mean_s_ppm"),
        )
    )


def lm_filter(df: DataFrame, scored: DataFrame, min_mean_p_ppm: int,
              id_col: str = "doc_id") -> DataFrame:
    """Keep documents whose quantized mean bigram probability clears
    the threshold — the LM leg of the curation cascade."""
    keep = scored.filter(F.col("mean_p_ppm") >= min_mean_p_ppm).select(id_col)
    return df.join(keep, id_col, "leftsemi")
