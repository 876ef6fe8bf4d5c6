"""Text-analysis column functions for training-data pipelines.

Everything here is a pure built-in Spark expression (JVM-side, whole-stage
codegen, zero Python in the hot path): language-ID heuristic, quality
scoring, token counting, document fingerprinting. Each has an exact ANSI-SQL
twin in __spark_entry__.oracle_sql() so DuckDB can verify values.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es"],
}


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def stopword_ratio(text_col: str = "text", lang: str = "en") -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text_col: str = "text") -> Column:
    stripped = F.regexp_replace(F.col(text_col), r"[^.,;:!?'\"()-]", "")
    return F.length(stripped) / F.greatest(F.length(text_col), F.lit(1))


def quality_score(text_col: str = "text") -> Column:
    """Composite quality heuristic in [0, 1]: favors 50-1000 tokens,
    low punctuation density, some stopwords (English prior)."""
    ntok = token_count(text_col)
    len_ok = F.when((ntok >= 50) & (ntok <= 1000), 1.0) \
              .when(ntok < 50, ntok / 50.0) \
              .otherwise(F.lit(1000.0) / ntok)
    return F.round(
        0.5 * len_ok
        + 0.3 * F.least(stopword_ratio(text_col) * 5.0, F.lit(1.0))
        + 0.2 * (1.0 - F.least(punct_ratio(text_col) * 10.0, F.lit(1.0))),
        6)


def lang_id(text_col: str = "text") -> Column:
    """Stopword-vote language guess over {en,fr,de,es}; 'und' if no votes."""
    toks = tokens(text_col)

    def _count_in(arr):
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = [(lang, _count_in(F.array(*[F.lit(w) for w in words])))
              for lang, words in STOPWORDS.items()]
    best = scores[0]
    expr = F.lit(best[0])
    best_score = best[1]
    for lang, score in scores[1:]:
        expr = F.when(score > best_score, F.lit(lang)).otherwise(expr)
        best_score = F.greatest(score, best_score)
    return F.when(best_score > 0, expr).otherwise(F.lit("und"))


def _let(arr: Column, body) -> Column:
    """Let-binding for a computed array column: evaluate `arr` ONCE per
    row and hand it to `body` as a lambda variable. Higher-order
    functions run interpreted (no whole-stage codegen), so an array
    expression referenced inside a lambda body is otherwise RE-EVALUATED
    on every lambda call — e.g. slice(filter(split(text)), i, k)
    re-splits the whole document for every rolling window, an O(L^2)
    blowup per doc (measured 4.5x on the sf1.0 shingle pass, r7).
    transform(array(arr), t -> body(t))[0] pins exactly one evaluation
    regardless of how Catalyst inlines aliases."""
    return F.transform(F.array(arr), body)[0]


def _win_starts(t: Column, shingle_tokens: int) -> Column:
    """Start indices of every `shingle_tokens`-token rolling window of
    the (already let-bound) token array `t`. Docs shorter than the
    window contribute ONE whole-doc window — the shared rule for
    fingerprint(), substring_dup_stats() and contamination_stats()."""
    return F.sequence(F.lit(1),
                      F.greatest(F.size(t) - (shingle_tokens - 1),
                                 F.lit(1)))


def _shingle_hashes(toks: Column, shingle_tokens: int) -> Column:
    """md5 hex of every `shingle_tokens`-token rolling window of `toks`
    (array<string>): sequence + slice + array_join + md5, all native.
    This is the PUBLIC fingerprint rule — its hex values are
    oracle-visible (fingerprint()), so the hash stays md5; operators that
    only COUNT windows use _shingle_hashes64."""
    return _let(toks, lambda t: F.transform(
        _win_starts(t, shingle_tokens),
        lambda i: F.md5(F.array_join(F.slice(t, i, shingle_tokens),
                                     " "))))


def _shingle_hashes64(toks: Column, shingle_tokens: int) -> Column:
    """xxhash64 (long) of every rolling window — the internal key for
    operators whose OUTPUT is counts/flags only (substring_dup_stats,
    contamination_stats): the hash never appears in a result, so any
    injective-in-practice key yields identical outputs, and a seeded
    chained xxhash64 over the window's token array is ~2x cheaper to
    compute than md5-over-joined-text and ships 8 bytes per window
    through every exchange instead of 32+ hex chars (guide §2.3
    narrower types / fixed-width keys). Window rule (incl. the one
    whole-doc window for short docs) is identical to _shingle_hashes;
    element-wise chained hashing distinguishes token boundaries exactly
    like the ' '-join (tokens cannot contain the split character)."""
    return _let(toks, lambda t: F.transform(
        _win_starts(t, shingle_tokens),
        lambda i: F.xxhash64(F.slice(t, i, shingle_tokens))))


def fingerprint(text_col: str = "text", shingle_tokens: int = 8) -> Column:
    """Document fingerprint: minimum md5 over all `shingle_tokens`-token
    rolling windows (a winnowing-style rolling-hash fingerprint, fully
    native: sequence + slice + md5 + array_min)."""
    return F.array_min(_shingle_hashes(tokens(text_col), shingle_tokens))


def tfidf_top_terms(docs, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Top-k TF-IDF terms per document — the canonical corpus-statistics
    operator, fully native (SURVEY §2.7-adjacent; the webtext pipeline's
    keyword/fingerprint step):

        tf(t, d)  = count of t in d
        idf(t)    = ln((N + 1) / (df(t) + 1))   (smoothed)
        score     = tf * idf

    Physical shape at 100 TB: one explode -> two map-side-combined aggs
    ((doc, term) tf and term df) -> broadcast-sized df table only if the
    vocab is small, otherwise a shuffle equi-join on term -> window top-k
    per doc. All built-in expressions; ties break lexicographically so
    the result is deterministic and SQL-oracle-checkable.

    Returns (doc_id, term, tf, score, rk<=k).
    """
    from pyspark.sql import Window

    toks = docs.select(
        id_col,
        F.explode(F.filter(tokens(text_col), lambda t: t != F.lit("")))
        .alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n"))
    df_t = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs)))
    idf = df_t.select(
        "term",
        F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)).alias("idf"))
    # round BEFORE ranking so the tie-break (score, term) is identical in
    # any engine computing the same 6-dp values (raw ln() can differ in
    # the last ulp between runtimes)
    scored = (tf.join(idf, "term")
              .withColumn("score", F.round(F.col("tf") * F.col("idf"), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
            .select(id_col, "term", "tf", "score", "rk"))


def substring_dup_stats(docs, shingle_tokens: int = 8,
                        id_col: str = "doc_id", text_col: str = "text"):
    """Exact-substring duplication rate per document (the corpus-level
    signal behind suffix-array substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of a document's `shingle_tokens`-token rolling windows whose
    exact text occurs at >= 2 positions anywhere in the corpus (any doc,
    including repeats within the same doc).

    Physical shape: explode the rolling windows as xxhash64 keys (the
    shuffle ships 8 bytes per position, never window text), count each
    key's positions with a count window over partitionBy(h), then one
    per-doc agg. No pair materialization, so a shingle shared by 10^6
    positions costs one counter, not 10^12 pairs. The window has no
    map-side combine, though: every exploded position crosses the
    exchange, and all positions of one hot shingle (boilerplate such as
    a shared footer) land on ONE task, whose input grows with that
    shingle's corpus frequency.

    Short docs (< shingle_tokens tokens) contribute one whole-doc window,
    matching `fingerprint`'s semantics.

    r7 shape: ONE corpus scan instead of two. The former
    groupBy(h)-then-join-back referenced the exploded shingle table
    twice, so Spark re-ran the (dominant) window-construction pass per
    branch and broadcast a corpus-sized hash->count map; a count window
    over partitionBy(h) computes the same per-position corpus count with
    a single scan, one fixed-width (8-byte xxhash64) exchange, and no
    broadcast that grows with the corpus.

    Returns (doc_id, n_shingles, dup_shingles, dup_frac) with dup_frac
    rounded to 6 dp.
    """
    from pyspark.sql import Window

    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    sh = docs.select(
        id_col,
        F.explode(_shingle_hashes64(toks, shingle_tokens)).alias("h"))
    c = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (sh.withColumn("c", c)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
                  .alias("dup_shingles"))
            .select(id_col, "n_shingles", "dup_shingles",
                    F.round(F.col("dup_shingles")
                            / F.col("n_shingles").cast("double"), 6)
                     .alias("dup_frac")))


def contamination_stats(docs, eval_docs, shingle_tokens: int = 8,
                        id_col: str = "doc_id", text_col: str = "text"):
    """Benchmark decontamination: per training document, how many of its
    `shingle_tokens`-token rolling windows also occur in an evaluation
    set (the n-gram-overlap rule used to scrub eval leakage from
    pre-training corpora, e.g. GPT-3 appendix C / Gopher's 13-gram
    filter — here over the same window rule as `fingerprint` and
    `substring_dup_stats`).

    Physical shape at 100 TB: the eval side is tiny relative to the
    corpus — distinct eval shingle hashes build ONCE and broadcast into
    an equi-join against the corpus's exploded window hashes (Catalyst
    picks broadcast when it fits, shuffle equi-join otherwise); then one
    map-side-combined per-doc agg. Zero Python either way.

    Returns (doc_id, n_shingles, contaminated, is_contaminated) —
    `contaminated` counts windows present in the eval set,
    `is_contaminated` flags docs with any hit.
    """
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    sh = docs.select(
        id_col,
        F.explode(_shingle_hashes64(toks, shingle_tokens)).alias("h"))
    etoks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    eh = (eval_docs
          .select(F.explode(_shingle_hashes64(etoks, shingle_tokens))
                  .alias("h"))
          .distinct()
          .withColumn("_hit", F.lit(1)))
    return (sh.join(eh, "h", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                  .alias("contaminated"))
            .select(id_col, "n_shingles", "contaminated",
                    (F.col("contaminated") > 0).cast("long")
                     .alias("is_contaminated")))


def unigram_logprob(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Self-trained unigram language-model score per document — the
    cheap analogue of CCNet's KenLM perplexity filter: train a unigram
    LM on the corpus itself (add-one smoothing over the observed vocab),
    then score each doc by its mean token log-probability. Low scores
    flag gibberish / off-distribution text; the corpus needs no external
    model.

        p(t)    = (c(t) + 1) / (T + V)
        score_d = sum_t tf(d,t) * ln p(t) / sum_t tf(d,t)

    Physical shape at 100 TB: one explode -> two map-side-combined aggs
    (per-(doc,term) tf and vocab counts) -> scalar (T, V) broadcast ->
    term equi-join (vocab-sized right side — broadcast when it fits,
    shuffle equi-join otherwise) -> per-doc agg. Same audited seams as
    `tfidf_top_terms`; zero Python.

    Returns (doc_id, n_tokens, logprob) with logprob rounded to 6 dp.

    Accepted flake risk (ADVICE r6, documented rather than changed —
    the oracle comparison itself is the driver's, not ours to edit): a
    doc whose unrounded score sits within ~1 ulp of a 0.5e-6 rounding
    boundary could round differently between Spark and DuckDB and flip
    a 6-dp string comparison. The hypothesis property test bounds the
    real divergence at 1e-6; no boundary case has been observed across
    seven rounds of gates at four scale factors.
    """
    toks = docs.select(
        id_col,
        F.explode(F.filter(tokens(text_col), lambda t: t != F.lit("")))
        .alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    scalars = vocab.agg(F.sum("c").alias("T"),
                        F.count(F.lit(1)).alias("V"))
    lp = (vocab.crossJoin(F.broadcast(scalars))
          .select("term",
                  F.log((F.col("c") + 1.0)
                        / (F.col("T") + F.col("V"))).alias("lp")))
    return (tf.join(lp, "term")
            .groupBy(id_col)
            .agg(F.sum("tf").alias("n_tokens"),
                 F.round(F.sum(F.col("tf") * F.col("lp"))
                         / F.sum("tf"), 6).alias("logprob")))


def dup_ngram_fraction(text_col: str = "text", n: int = 3) -> Column:
    """Gopher-style repetition signal: fraction of word n-grams that are
    duplicates of an earlier n-gram in the same document
    (1 - distinct/total). High values flag boilerplate/spam/looping
    generations — a standard pre-training quality filter. Pure native
    exprs: the n-gram array is built with transform+slice (no explode,
    no shuffle — per-row compute only)."""
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))

    def _frac(t):
        # let-bound token array (see _let): the per-position slice/join
        # reads the lambda variable, never re-splits the document
        cnt = F.greatest(F.size(t) - (n - 1), F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.array_join(F.slice(t, i, n), " "))
        return F.when(cnt <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(grams)) / cnt.cast("double"))

    return _let(toks, _frac)
