"""Text-analysis column functions (training-data pipeline).

Everything here is a native Column expression (JVM-side, codegen'd) —
language ID, quality scoring, token counting and fingerprinting are all
string/array builtins; no Python in the hot path at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists — the n-gram/stopword-ratio heuristic.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "are"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "avec", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "una", "para", "con", "por"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (lowercased). Unlike ``words_col`` it keeps
    the empty token a blank text splits into (``""`` counts one token),
    and the language-ID oracle SQL mirrors exactly that split."""
    return F.split(F.lower(F.trim(text)), "\\s+")


def words_col(text: Column) -> Column:
    """The non-empty ``\\s+``-separated runs of ``text``, case preserved
    (pass ``F.lower(...)`` to fold case). The one word tokenizer of the
    LM, embedding, BPE, n-gram, packing and span-dedup operators; NULL
    text gives NULL."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column) -> Column:
    """BPE-flavoured token estimate: word pieces + digit runs + punctuation
    each count (a deterministic regex stand-in for a real tokenizer)."""
    return F.size(
        F.filter(
            F.split(F.lower(text), r"(?=[^a-z0-9])|(?<=[^a-z0-9])"),
            lambda t: (t != "") & (t != " "),
        )
    )


def lang_scores_col(text: Column) -> Column:
    """Map lang -> stopword hit ratio."""
    toks = tokens_col(text)
    entries = []
    for lang, words in STOPWORDS.items():
        wl = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
        entries += [F.lit(lang), (hits / F.greatest(F.size(toks), F.lit(1))).cast("double")]
    return F.create_map(*entries)


def lang_id_col(text: Column, min_score: float = 0.02) -> Column:
    """Argmax language by stopword ratio; 'und' (undetermined) below
    threshold. Pure expression: sort map entries by (-score, lang)."""
    scores = lang_scores_col(text)
    arr = F.map_entries(scores)  # array<struct<key,value>>
    best = F.array_sort(
        arr, lambda a, b: F.when(a["value"] > b["value"], -1).when(a["value"] < b["value"], 1).otherwise(
            F.when(a["key"] < b["key"], -1).when(a["key"] > b["key"], 1).otherwise(0)
        )
    )[0]
    return F.when(best["value"] >= min_score, best["key"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape quality features +
    a composite score in [0, 1]."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.lower(t), "[^a-z]", ""))
    # punct count by DELETING the punct chars (minority class), not by
    # keeping them: `[^punct]` matches ~100% of prose characters and
    # regexp_replace pays per MATCH (Matcher append + allocation) — the
    # r6 e2e composition pair measured that form at 3.6 s @ 4 cores ->
    # 4.1 s @ 16 cores (NEGATIVE scaling, allocation/GC-bound) on 48k
    # clean docs, vs ~0.2 s scaling cleanly for match-the-minority.
    # n - length(delete(punct)) is the identical integer.
    punct_chars = (F.length(t)
                   - F.length(F.regexp_replace(t, "[!-/:-@\\[-`{-~]", "")))
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(en, x)))
    mean_word_len = (n_chars / F.greatest(n_tokens, F.lit(1))).cast("double")

    df = (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("alpha_ratio", (alpha_chars / F.greatest(n_chars, F.lit(1))).cast("double"))
        .withColumn("punct_ratio", (punct_chars / F.greatest(n_chars, F.lit(1))).cast("double"))
        .withColumn("stopword_ratio", (stop_hits / F.greatest(n_tokens, F.lit(1))).cast("double"))
        .withColumn("mean_word_len", mean_word_len)
    )
    # composite: alpha-heavy, some stopwords, sane word lengths, low punct
    score = (
        F.least(F.col("alpha_ratio") / 0.7, F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") / 0.3, F.lit(1.0)) * 0.3
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10), 0.2).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.1, 0.1).otherwise(0.0)
    )
    return df.withColumn("quality_score", score.cast("double"))


def repetition_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1):
    duplicate-line, duplicate-word and duplicate-bigram fractions —
    boilerplate and templated spam score high and get filtered before
    pretraining. Pure native array expressions (split / array_distinct /
    zip_with), no Python."""
    t = F.col(text_col)

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return (n - F.size(F.array_distinct(arr))).cast("double") / F.greatest(n, F.lit(1))

    toks = tokens_col(t)
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        df.withColumn("dup_line_frac", dup_frac(F.split(t, "\n")))
        .withColumn("dup_word_frac", dup_frac(toks))
        .withColumn("dup_bigram_frac", dup_frac(bigrams))
    )


# PII patterns shared with the DuckDB oracle — RE2/Java-common subset
# (no lookaround, no backrefs). Order matters: emails first so their
# digits can't be half-eaten by the phone pattern.
PII_PATTERNS = (
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("<PHONE>", r"\+?\d{1,3}[-. ]\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]?\d{0,4}\d"),
)


def scrub_pii_col(text: Column) -> Column:
    """Replace emails / IPv4s / phone-shaped numbers with placeholder
    tokens — the standard pretraining-data redaction pass. Pure chained
    ``regexp_replace`` (JVM-side); patterns stay in the Java∩RE2 regex
    subset so the DuckDB oracle runs the same strings."""
    out = text
    for token, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-row PII hit counts (before scrubbing) for audit metrics."""
    t = F.col(text_col)
    out = df
    for token, pat in PII_PATTERNS:
        name = token.strip("<>").lower() + "_hits"
        out = out.withColumn(name, F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))))
    return out


def fingerprint_col(text: Column) -> Column:
    """Deterministic 64-bit document fingerprint over normalized text
    (case/whitespace-insensitive) — the cheap exact-dup key."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), "\\s+", " ")
    return F.xxhash64(normalized)


#: Unicode script ranges (explicit codepoint classes — identical
#: semantics in Java regex and RE2, unlike the \p{Script} names which
#: the two engines spell differently). Coarse but curation-grade.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-zÀ-ɏ",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "hebrew": "֐-׿",
    "devanagari": "ऀ-ॿ",
    "cjk": "一-鿿぀-ヿ가-힯",
}


def script_fractions(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-script character fractions + dominant script — the signal a
    multilingual curation pass routes on (wrong-script spam, mixed-
    script spoofing). Pure native regexp/length arithmetic: fractions
    are exact integer ratios, so the cross-engine oracle hash-matches
    without rounding. Dominant script = argmax fraction over at least
    5% of characters, ties broken alphabetically; 'other' below that."""
    t = F.col(text_col)
    n = F.greatest(F.length(t), F.lit(1))
    out = df
    for name, rng in SCRIPT_RANGES.items():
        # count-by-deletion (match the script's own chars, the minority
        # for every doc NOT in that script): `[^rng]` would match ~100%
        # of the chars of every other-script doc, N-1 times per doc —
        # the regexp_replace per-match cost that anti-scaled the
        # quality cascade (see quality_features). Identical integers.
        frac = ((F.length(t) - F.length(F.regexp_replace(t, f"[{rng}]", "")))
                / n).cast("double")
        out = out.withColumn(f"{name}_frac", frac)
    names = sorted(SCRIPT_RANGES)
    # argmax CASE chain (earlier-alphabetical wins ties): name wins if
    # >= every LATER name — if it fails, something later beat it
    argmax = None
    for i, name in enumerate(names[:-1]):
        cond = None
        for other in names[i + 1:]:
            c = F.col(f"{name}_frac") >= F.col(f"{other}_frac")
            cond = c if cond is None else (cond & c)
        argmax = F.when(cond, name) if argmax is None else argmax.when(cond, name)
    argmax = argmax.otherwise(names[-1])
    best = F.greatest(*[F.col(f"{n}_frac") for n in names])
    return out.withColumn(
        "dominant_script", F.when(best >= 0.05, argmax).otherwise(F.lit("other")))


def term_explode(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, term) rows: lowercase alphabetic terms, one row per
    occurrence. The ``[^a-z]+`` splitter stays in the Java∩RE2 subset
    so the DuckDB oracle can tokenize identically."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term"),
    ).filter(F.col("term") != "")


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k terms by a TF-IDF-style score — the corpus
    keyword-extraction pass of a training-data pipeline.

    Distributed shape (the interesting part — corpus statistics feed a
    per-row computation): one groupBy for per-doc term frequency, one
    groupBy for corpus document frequency (<= |vocab| rows, broadcast
    back), a broadcast join, then a per-doc window for top-k. At 100 TB
    the vocabulary table is the only global state and it is millions of
    rows, not billions — always broadcastable.

    Score = tf * ((N + 1) / (df + 1)) — a rational IDF surrogate chosen
    over ln() ON PURPOSE: IEEE division of exact integers is
    bit-identical across engines (Java vs C libm ``log`` is not), so
    the cross-engine oracle hash-matches without rounding games.
    Deterministic tie-break: higher tf first, then term ascending."""
    from pyspark.sql import Window

    terms = term_explode(df, text_col, id_col)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # metadata-cheap count: ids are unique by contract (doc tables), so
    # no distinct shuffle — at 100 TB a full-table distinct just to
    # size N would dominate the whole job
    n_docs = df.count()
    docfreq = (
        terms.select(id_col, "term").distinct()
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    score = (F.col("tf") * (F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1.0)))).alias("score")
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(docfreq), on="term")
        .select(id_col, "term", "tf", "df", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def ngram_counts(df: DataFrame, n: int = 3,
                 text_col: str = "text") -> DataFrame:
    """Corpus-wide word n-gram counts — the corpus-statistics pass
    behind contamination screens, boilerplate detection and LM
    training-data reports.

    100% native: per-doc window enumeration is transform(sequence) +
    slice + concat_ws inside codegen (the size >= n filter guards
    Spark's descending-sequence edge on short docs), then ONE count
    shuffle. Catalyst's partial aggregation does the map-side combine,
    so the shuffle carries at most |distinct grams per partition| rows
    — the canonical word-count shape that survives any corpus size.
    Tokens preserve case (corpus statistics must not mutate content);
    lowercase upstream if case-folded counts are wanted."""
    if n < 1:
        raise ValueError(f"need n >= 1, got {n}")
    base = df.select(words_col(F.col(text_col)).alias("_tk")) \
        .filter(F.size("_tk") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i, n)))
    return (base.select(F.explode(grams).alias("gram"))
            .groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")))


def ngram_topk(df: DataFrame, n: int = 3, k: int = 100,
               text_col: str = "text") -> DataFrame:
    """Top-k corpus n-grams by count, deterministic tie-break (count
    desc, gram asc). orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps, only k rows ever reach the driver side."""
    return (ngram_counts(df, n, text_col)
            .orderBy(F.col("cnt").desc(), F.col("gram").asc())
            .limit(k))


def pmi_bigrams(df: DataFrame, text_col: str = "text",
                min_count: int = 2) -> DataFrame:
    """Pointwise-mutual-information collocation mining over word
    bigrams — the word-association pass behind phrase detection and
    embedding-corpus preparation (Mikolov et al. 2013's phrase step
    uses exactly this contingency ratio).

    All probabilities come from the bigram contingency table itself:
    ``c_ab`` = count of bigram (a, b), ``c_a`` = bigrams with a on the
    left, ``c_b`` = bigrams with b on the right, ``n_bi`` = total
    bigrams. PMI's exp-free ratio ``P(ab) / (P(a.) * P(.b))`` =
    ``c_ab * n_bi / (c_a * c_b)`` is emitted as an exact-bigint ppm
    integer ``(1000000 * c_ab * n_bi) DIV (c_a * c_b)`` — no floats,
    reduction-order-free, cross-engine bit-exact (truncating DIV ==
    DuckDB ``//`` for positive counts). Overflow bound: the numerator
    needs ``1e6 * max(c_ab) * n_bi < 2^63``, i.e. safe below ~3e6
    total bigrams per corpus slice with ANSI mode failing loudly past
    it; shard the corpus (or widen to DECIMAL(38,0)) beyond that.

    Plan: one explode + one count shuffle for the bigram table (the
    word-count shape, map-side combined); the two marginals derive
    from the already-aggregated table (bounded by distinct-bigram
    count, NOT corpus size); totals ride a broadcast 1-row cross-join.
    Tokenization is the bigram-LM convention (lowered, whitespace).
    """
    if min_count < 1:
        raise ValueError(f"need min_count >= 1, got {min_count}")
    base = df.select(words_col(F.lower(F.col(text_col))).alias("_tk")) \
        .filter(F.size("_tk") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_tk") - F.lit(1)),
        lambda i: F.struct(F.element_at("_tk", i).alias("w1"),
                           F.element_at("_tk", i + 1).alias("w2")))
    # lazy localCheckpoint: the aggregated bigram table feeds FOUR
    # consumers (both marginals, the total, and the main join) — each
    # otherwise re-ran the corpus explode + count shuffle. The table is
    # bounded by distinct-bigram count, exactly what a production run
    # would materialize.
    big = (
        base.select(F.explode(pairs).alias("_p"))
        .select("_p.w1", "_p.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    lft = big.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    rgt = big.groupBy("w2").agg(F.sum("c_ab").alias("c_b"))
    tot = big.agg(F.sum("c_ab").alias("n_bi"))
    return (
        big.join(lft, "w1").join(rgt, "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_ab") >= F.lit(min_count))
        .select(
            "w1", "w2", "c_ab", "c_a", "c_b",
            F.expr("(1000000L * c_ab * n_bi) DIV (c_a * c_b)")
            .alias("pmi_ppm"))
    )


def pmi_topk(df: DataFrame, k: int = 500, text_col: str = "text",
             min_count: int = 2) -> DataFrame:
    """Top-k collocations by PMI, deterministic tie-break (ppm desc,
    then the pair); TakeOrderedAndProject."""
    return (pmi_bigrams(df, text_col, min_count)
            .orderBy(F.desc("pmi_ppm"), "w1", "w2").limit(k))


def blocklist_features(df: DataFrame, terms: tuple[str, ...] | list[str],
                       text_col: str = "text") -> DataFrame:
    """Blocklist (bad-words) hit accounting — the standard curation
    gate next to the Gopher thresholds (Rae et al. 2021 filter pages
    by an obscene-word list; C4 ships the same stage). Exact
    whole-token matching against a bounded term list, all native:
    tokenize once, one ``filter`` HOF against an ``array`` literal —
    no regex alternation blowup, no Python. Adds:

    * ``n_blocked`` — count of token hits (repeats count),
    * ``blocked_frac`` — ``n_blocked / n_tokens_bl`` (single IEEE
      division over exact ints — cross-engine hash-stable),
    * ``blocked_terms_fp`` — md5 of the sorted distinct matched terms
      joined with ``|`` (array outputs stay out of contract results).

    The term list broadcasts as a literal into the plan (bounded —
    real lists are a few hundred words); matching is case-insensitive
    whole-token, so "class" never trips on "ass" (the substring
    false-positive that kills naive LIKE implementations).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    bl = F.array(*[F.lit(t.lower()) for t in sorted(set(terms))])
    toks = tokens_col(F.col(text_col))
    hits = F.filter(toks, lambda t: F.array_contains(bl, t))
    n_tok = F.size(toks)
    return (
        df.withColumn("_bl_hits", hits)
        .withColumn("n_tokens_bl", n_tok)
        .withColumn("n_blocked", F.size(F.col("_bl_hits")))
        .withColumn(
            "blocked_frac",
            (F.col("n_blocked") / F.greatest(F.col("n_tokens_bl"), F.lit(1)))
            .cast("double"))
        .withColumn(
            "blocked_terms_fp",
            F.md5(F.concat_ws(
                "|", F.array_sort(F.array_distinct(F.col("_bl_hits"))))))
        .drop("_bl_hits")
    )


def blocklist_filter(df: DataFrame, terms: tuple[str, ...] | list[str],
                     text_col: str = "text",
                     max_frac: float = 0.0) -> DataFrame:
    """Drop documents whose blocklist hit fraction exceeds
    ``max_frac`` (default 0.0: any hit kills the page, the C4 rule).
    Map-only — composes into the curation cascade's single
    WholeStageCodegen pass like every other gate."""
    return (blocklist_features(df, terms, text_col)
            .filter(F.col("blocked_frac") <= max_frac))


def line_shape_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher LINE-level shape rules (Rae et al. 2021 §A1.1.2: drop
    pages where >90% of lines start with a bullet or >30% end with an
    ellipsis) — the layout-shaped quality signals the word-level
    ``quality_features`` can't see. All native: one newline split, two
    ``filter`` HOFs over trimmed lines, one words-per-line
    ``transform``+``aggregate``; no shuffle, no Python. Adds:

    * ``n_lines`` — newline-split line count,
    * ``bullet_lines`` / ``ellipsis_lines`` / ``short_lines`` — lines
      whose trimmed text starts with a bullet marker ("- ", "* ",
      U+2022), ends with "...", or carries <= 3 words,
    * ``bullet_ppm`` / ``ellipsis_ppm`` / ``short_ppm`` — exact
      integer ppm of lines (``1e6 * k DIV n_lines`` — cross-engine
      hash-stable, the blocklist integer-rule convention),
    * ``words_per_line_ppm`` — ``1e6 * total_words DIV n_lines``.
    """
    lines = F.split(F.col(text_col), "\n")
    trimmed = F.transform(lines, lambda l: F.trim(l))
    is_bullet = lambda l: (l.startswith("- ") | l.startswith("* ")  # noqa: E731
                           | l.startswith("•"))
    words = lambda l: F.size(words_col(l))  # noqa: E731
    n_lines = F.size(lines).cast("long")
    ppm = lambda k: F.expr(f"CAST(1000000 AS BIGINT) * {k} DIV n_lines")  # noqa: E731
    return (
        df.withColumn("_tl", trimmed)
        .withColumn("n_lines", n_lines)
        .withColumn("bullet_lines",
                    F.size(F.filter(F.col("_tl"), is_bullet)).cast("long"))
        .withColumn("ellipsis_lines",
                    F.size(F.filter(F.col("_tl"),
                                    lambda l: l.endswith("..."))).cast("long"))
        .withColumn("short_lines",
                    F.size(F.filter(F.col("_tl"),
                                    lambda l: words(l) <= 3)).cast("long"))
        .withColumn("total_line_words",
                    F.aggregate(F.col("_tl"), F.lit(0).cast("long"),
                                lambda acc, l: acc + words(l).cast("long")))
        .withColumn("bullet_ppm", ppm("bullet_lines"))
        .withColumn("ellipsis_ppm", ppm("ellipsis_lines"))
        .withColumn("short_ppm", ppm("short_lines"))
        .withColumn("words_per_line_ppm", ppm("total_line_words"))
        .drop("_tl")
    )


def line_shape_filter(df: DataFrame, text_col: str = "text",
                      max_bullet_ppm: int = 900_000,
                      max_ellipsis_ppm: int = 300_000) -> DataFrame:
    """The Gopher line-rule gate: keep documents whose bullet/ellipsis
    line fractions stay at or under the thresholds (defaults are the
    published 90% / 30%). Exact integer comparisons; feature columns
    dropped on the way out (cascade-composable)."""
    feats = line_shape_features(df, text_col)
    kept = feats.filter((F.col("bullet_ppm") <= max_bullet_ppm)
                        & (F.col("ellipsis_ppm") <= max_ellipsis_ppm))
    return kept.drop("n_lines", "bullet_lines", "ellipsis_lines",
                     "short_lines", "total_line_words", "bullet_ppm",
                     "ellipsis_ppm", "short_ppm", "words_per_line_ppm")
