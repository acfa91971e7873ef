"""Text analysis operators over ``documents`` — language-ID heuristic,
quality scoring, token counting, fingerprinting.

All built-in string/array functions (JVM, codegen'd); no UDFs.  Every
metric is defined by a formula mirrored verbatim in the DuckDB oracle, so
the numbers are engine-portable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

#: language → marker tokens for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "is"],
    "de": ["der", "und", "ist"],
    "fr": ["le", "et", "est"],
    "es": ["el", "y", "es"],
}

_PUNCT = "[.,;:!?]"
_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


_ASCII_UC = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LC = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(col):
    """ASCII-only case fold for every TOKENIZATION path (words, shingles,
    n-grams, keywords).  Full-Unicode ``lower()`` is library-dependent and
    NOT portable: Spark's Java fold maps 'İ' → 'i' + U+0307 (combining dot)
    while DuckDB's utf8proc maps it to plain 'i', so the same text
    tokenizes differently per engine — the oracle-fuzz unicode profile
    broke 19 queries this way (token counts, shingle hashes, keywords, LM
    scores all downstream of one lower()).  ``translate(A-Z → a-z)`` is
    codepoint-exact and identical in both engines; non-ASCII case variants
    simply stay out of the [a-z]+ token alphabet on BOTH sides.  A corpus
    needing true Unicode folding should ICU-normalize upstream, once.
    Identifier folding (F1 email normalization) keeps real lower() per the
    reference — identifiers are ASCII in that domain."""
    return F.translate(col, _ASCII_UC, _ASCII_LC)


def ws_tokens(text_col):
    """Whitespace tokens with empties dropped — THE one tokenizer shared by
    text stats, shingle dedup, and line segmentation, mirroring the
    oracle's ``list_filter(string_split(x, ' '), x -> x <> '')`` exactly.
    Lowercasing is the caller's choice.  Keep single-sourced: a drift
    between any consumer and the oracle mirror breaks hash parity."""
    return F.filter(F.split(text_col, " "), lambda x: F.length(x) > 0)


_tokens = ws_tokens


def _count_in(tokens, words: list[str]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda x: F.array_contains(arr, x))).cast("long")


def text_quality(documents: DataFrame) -> DataFrame:
    """Per-doc quality features + a composite score, all in integer
    parts-per-million so the surface is engine-exact (ratios of counts are
    exact rationals — rounding them to doubles is the cross-engine
    hash-drift class that failed round 1).

    n_tokens (whitespace), avg_token_len_ppm, punct_count,
    stopword_ratio_ppm, and
    quality_score_ppm = 1e6 · min(1, n_tokens/100) · (1 − min(1, punct/n_tokens)).
    """
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    nonspace = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    punct = (F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), _PUNCT, ""))).cast("long")
    stop = _count_in(toks, STOPWORDS)
    nt = F.greatest(n_tokens, F.lit(1))
    # 1e6·score = min(n_tokens,100)·10000·(nt − min(punct,nt)) div nt
    score_ppm = (
        F.least(n_tokens, F.lit(100)) * F.lit(10000) * (nt - F.least(punct, nt))
    )
    return (
        documents.select(
            "doc_id",
            "lang",
            n_tokens.alias("n_tokens"),
            (nonspace * 1000000).alias("_ns"),
            punct.alias("punct_count"),
            (stop * 1000000).alias("_st"),
            score_ppm.alias("_sc"),
            nt.alias("_nt"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("_ns div _nt").alias("avg_token_len_ppm"),
            "punct_count",
            F.expr("_st div _nt").alias("stopword_ratio_ppm"),
            F.expr("_sc div _nt").alias("quality_score_ppm"),
        )
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-token language guess with deterministic priority en>de>fr>es.

    A real deployment swaps in a trained identifier; the operator shape
    (token features → argmax score) is what the engine provides.  On this
    synthetic corpus the guess quality is irrelevant — the oracle checks the
    computation, not linguistics."""
    toks = _tokens(ascii_lower(F.col("text")))
    counts = {lang: _count_in(toks, ws) for lang, ws in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(counts["en"] == best, F.lit("en"))
        .when(counts["de"] == best, F.lit("de"))
        .when(counts["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    out = [F.col(c) if isinstance(c, str) else c for c in ["doc_id", "lang"]]
    return documents.select(
        *out,
        *[counts[lang].alias(f"score_{lang}") for lang in LANG_MARKERS],
        guess.alias("lang_guess"),
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """BPE-ish regex token counts: words / numbers / symbols over lowercased
    text (`regexp_extract_all`, vectorized JVM regex)."""
    t = ascii_lower(F.col("text"))
    all_toks = F.size(F.regexp_extract_all(t, F.lit(_BPE_PATTERN), F.lit(0))).cast("long")
    words = F.size(F.regexp_extract_all(t, F.lit("[a-z]+"), F.lit(0))).cast("long")
    nums = F.size(F.regexp_extract_all(t, F.lit("[0-9]+"), F.lit(0))).cast("long")
    return documents.select(
        "doc_id",
        all_toks.alias("n_bpe_tokens"),
        words.alias("n_word_tokens"),
        nums.alias("n_number_tokens"),
        (all_toks - words - nums).alias("n_symbol_tokens"),
    )


def top_terms_per_lang(documents: DataFrame) -> DataFrame:
    """Top-10 terms per language by occurrence count (ties → lexicographic).

    The 100 TB wordcount shape: explode term tokens, two-level aggregate
    (the (lang, term) groupBy partial-aggregates map-side so the shuffle
    carries one row per distinct term per partition, not one per token),
    then a per-lang rank over the tiny aggregated set.  Term cardinality,
    not corpus size, bounds the window input."""
    from pulseboard_spark.operators.relational import top_n_per_group

    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    counts = (
        documents.select("lang", F.explode(toks).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    ranked = top_n_per_group(
        counts, ["lang"], F.col("n_occurrences"), 10, tiebreak=["term"]
    )
    return ranked.select("lang", "term", "n_occurrences", F.col("rnk").cast("int").alias("rnk"))


def term_df_idf(documents: DataFrame) -> DataFrame:
    """Corpus vocabulary statistics: per term, document frequency (distinct
    docs containing it), total occurrences, and idf = ln(N/df) rounded to 4
    decimals.  df comes from an exploded DISTINCT (doc_id, term) pass —
    partial-distinct runs map-side, so the shuffle is bounded by per-doc
    vocabulary, and no count-distinct state survives the agg."""
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    exploded = documents.select("doc_id", F.explode(toks).alias("term"))
    per_term = exploded.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    total = documents.agg(F.count(F.lit(1)).alias("corpus_docs"))
    return (
        per_term.crossJoin(F.broadcast(total))
        .select(
            "term",
            "doc_freq",
            "n_occurrences",
            F.round(F.log(F.col("corpus_docs").cast("double") / F.col("doc_freq")), 4).alias("idf"),
        )
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: exact hash + min-shingle hash (winnowing-lite)
    + distinct-shingle cardinality.  Pairs with operators/dedup.py."""
    from pulseboard_spark.operators.dedup import shingles

    sh = shingles(documents)
    agg = sh.groupBy("doc_id").agg(
        F.min(F.md5(F.col("s"))).alias("min_shingle_hash"),
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
    )
    return documents.select("doc_id", F.md5(F.col("text")).alias("content_hash")).join(agg, "doc_id")


#: Posting-list cap of :func:`inverted_index`.
MAX_POSTINGS = 20


def inverted_index(documents: DataFrame) -> DataFrame:
    """Term → (document frequency, capped sorted posting list).

    The retrieval-side twin of :func:`term_df_idf`: per term, how many
    documents contain it and the first ``MAX_POSTINGS`` doc_ids ascending.
    The cap is enforced BEFORE collection — a `row_number` over the
    term-partitioned, doc_id-sorted pairs — so no executor ever
    materializes the full posting list of a stop-word-grade term; at
    100 TB an uncapped `collect_list` on "the" is a single-task OOM.  The
    groupBy reuses the window's hash partitioning on term, so the whole
    operator is one shuffle after the map-side-distinct pair explosion.
    """
    from pyspark.sql import Window

    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    pairs = documents.select("doc_id", F.explode(toks).alias("term")).distinct()
    ranked = pairs.withColumn(
        "rnk", F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    )
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"),
        F.sort_array(
            F.collect_list(F.when(F.col("rnk") <= MAX_POSTINGS, F.col("doc_id")))
        ).alias("postings"),
    )


def term_cooccurrence(documents: DataFrame) -> DataFrame:
    """Term co-occurrence with pointwise mutual information.

    For every unordered term pair appearing together in >= 2 documents: co-document count and PMI = ln(N * c_ab / (c_a * c_b)),
    rounded to 4 decimals.  The self-join runs WITHIN each document over
    its distinct-term set, so the pair explosion is bounded by per-doc
    vocabulary squared — corpus size only scales the (map-side combined)
    pair counting, never the join fan-out.  Per-term document frequencies
    ride in via a broadcast of the (tiny) vocabulary table.

    Physical shape (r10): ONE tokenization pass.  Singleton terms ride
    the same explode as the pairs (term_b = NULL marks a df row — terms
    themselves are never NULL, they match [a-z]+), so the per-doc
    regexp/distinct/sort work runs once instead of three times (pair
    pass + each df broadcast build re-derived it), and one exchange
    aggregates both surfaces; the combined count table is cached (tiny:
    |vocab| + |co-occurring pairs|) so the two df broadcast builds read
    it instead of replaying the corpus.
    """
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    # Per-doc sorted distinct vocabulary; pair generation is pure array
    # combinatorics on that row — no self-join, no distinct shuffle.  The
    # ascending sort makes every emitted pair canonical (term_a < term_b).
    per_doc = documents.select(F.array_sort(F.array_distinct(toks)).alias("ts"))
    pair_expr = F.flatten(
        F.transform(
            "ts",
            lambda x, i: F.transform(
                F.slice("ts", i + F.lit(2), F.size("ts")),
                lambda y: F.struct(x.alias("term_a"), y.alias("term_b")),
            ),
        )
    )
    single_expr = F.transform(
        "ts",
        lambda x: F.struct(x.alias("term_a"), F.lit(None).cast("string").alias("term_b")),
    )
    counts = (
        per_doc.select(F.explode(F.concat(pair_expr, single_expr)).alias("p"))
        .groupBy(F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    pair_counts = (
        counts.where(F.col("term_b").isNotNull() & (F.col("n") >= 2))
        .withColumnRenamed("n", "n_docs_both")
    )
    df_counts = counts.where(F.col("term_b").isNull()).select(
        F.col("term_a").alias("term"), F.col("n").alias("df")
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        pair_counts.join(
            F.broadcast(df_counts.withColumnRenamed("term", "term_a").withColumnRenamed("df", "df_a")),
            "term_a",
        )
        .join(
            F.broadcast(df_counts.withColumnRenamed("term", "term_b").withColumnRenamed("df", "df_b")),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_docs_both",
            F.round(
                F.log(
                    F.col("n_corpus").cast("double")
                    * F.col("n_docs_both")
                    / (F.col("df_a").cast("double") * F.col("df_b")),
                ),
                4,
            ).alias("pmi"),
        )
    )


#: A bigram reaches :func:`bigram_stats` at this many corpus occurrences.
BIGRAM_MIN_COUNT = 2


def bigram_stats(documents: DataFrame) -> DataFrame:
    """Corpus bigram counts with conditional follow probability.

    For every consecutive token pair (w1, w2) occurring >= ``BIGRAM_MIN_COUNT``
    times corpus-wide: its count, the count of all bigrams starting with
    w1, and p(w2|w1) rounded to 4 decimals — the raw material of n-gram
    LM pruning and phrase-mining passes.  Pair generation is per-row
    array slicing (`zip_with` of the offset slices) — order-preserving,
    join-free, empty for sub-2-token docs — so the only fact-sized
    shuffle is the map-side-combined (w1, w2) count; the conditional
    total is a window over that counts table, bounded by vocabulary².
    """
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    sz = F.size(toks)
    n_pairs = F.greatest(sz - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n_pairs),
        F.slice(toks, 2, n_pairs),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    counts = (
        documents.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    tot = F.sum("n").over(Window.partitionBy("w1"))
    return (
        counts.withColumn("n_first", tot)
        .where(F.col("n") >= BIGRAM_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "n",
            "n_first",
            # integer ppm — exact-rational count ratios must not round as
            # doubles at the hash boundary (round-1 drift class)
            F.expr("(n * 1000000) div n_first").alias("p_follow_ppm"),
        )
    )


def doc_lm_score(documents: DataFrame) -> DataFrame:
    """Per-document bigram-LM log-likelihood — the classic perplexity
    quality filter: train a Laplace-smoothed bigram model ON the corpus,
    score every doc by Σ m·(ln(n+1) − ln(n_first+V)) over its bigrams
    (m = in-doc pair count, n = corpus pair count, V = vocabulary size).
    Anomalously low average log-probability = gibberish / boilerplate.

    Physical shape: ONE corpus scan builds the per-doc pair table (the
    same join-free array pair generation as :func:`bigram_stats`), cached;
    the LM pair/first counts AND the vocabulary (V = distinct words
    appearing in any bigram) all derive from that already-aggregated
    table, so the corpus is never re-scanned and the scoring join runs on
    (w1, w2) keys between tiny aggregates.  V rides along via a broadcast
    1-row cross join — no driver action at plan time.
    """
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    sz = F.size(toks)
    n_pairs = F.greatest(sz - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n_pairs),
        F.slice(toks, 2, n_pairs),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    doc_pairs = (
        documents.select("doc_id", F.explode(pairs).alias("p"))
        .groupBy("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("m"))
    )
    doc_pairs.cache()
    # The whole LM folds into ONE broadcast-sized coefficient table:
    # c(w1,w2) = ln(n+1) − ln(n_first+V) depends only on the pair, so the
    # pair counts, the w1 totals, and the vocabulary scalar are joined
    # ONCE at cache-build time.  The scoring pass then pays a single
    # BroadcastHashJoin and a double multiply per fact row, where the
    # unfused plan paid two BHJs + a BroadcastNestedLoopJoin and both
    # ln() calls per row.  Bit-identical: c is computed by the exact
    # expression tree (same ln / subtract in double) the per-row version
    # used, and m·(a−b) ≡ m·c when c IS that a−b double.
    # lm_pair stays cached for the build: lm_coef reads it three times
    # (join left, w1 totals, vocabulary) and each read would otherwise
    # re-aggregate the full doc-pair table
    lm_pair = doc_pairs.groupBy("w1", "w2").agg(F.sum("m").alias("n")).cache()
    lm_first = lm_pair.groupBy("w1").agg(F.sum("n").alias("n_first"))
    vocab = (
        lm_pair.select(F.explode(F.array("w1", "w2")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    lm_coef = (
        lm_pair.join(lm_first, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                F.log(F.col("n") + F.lit(1.0))
                - F.log(F.col("n_first") + F.col("v"))
            ).alias("c"),
        )
        .cache()
    )
    # each term is rounded then summed through DECIMAL (the repo's PSI
    # convention) so partition order cannot perturb the float sum
    term_dec = F.round(F.col("m") * F.col("c"), 10).cast("decimal(27,12)")
    return (
        doc_pairs.join(F.broadcast(lm_coef), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            # unrounded cast: the decimal sum is identical on both engines,
            # so its double image is bit-identical — a final round() would
            # reintroduce the half-case drift the decimal routing removed
            F.sum(term_dec).cast("double").alias("lm_logprob_sum"),
        )
    )


def doc_entropy(documents: DataFrame) -> DataFrame:
    """Per-document unigram entropy + type-token ratio — the two classic
    lexical-diversity quality signals (low entropy = a doc dominated by
    few repeated words: keyword stuffing, logs, boilerplate; used
    alongside the Gopher repetition screens).

    ``token_entropy`` = Σ (c/n)·(ln n − ln c) over the doc's word
    histogram, each term rounded then summed through DECIMAL (the
    ``doc_lm_score`` convention) so partition order cannot perturb the
    float sum and the DuckDB oracle replays it bit-for-bit;
    ``ttr_ppm`` = distinct-word share as an exact integer rational.

    Scale: one corpus scan explodes words; per-(doc, word) counts
    map-side combine before the shuffle; the per-doc total rides a
    same-key window over the already-aggregated histogram (no second
    corpus scan); output is |docs| rows."""
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    per_word = (
        documents.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    term = (F.col("c").cast("double") / F.col("n")) * (
        F.log(F.col("n").cast("double")) - F.log(F.col("c").cast("double"))
    )
    return (
        per_word.withColumn("n", n)
        .withColumn("_t", F.round(term, 10).cast("decimal(27,12)"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.expr("(count(1) * 1000000) div max(n)").alias("ttr_ppm"),
            # unrounded cast: the decimal sum is engine-identical, so its
            # double image is bit-identical (doc_lm_score precedent)
            F.sum("_t").cast("double").alias("token_entropy"),
        )
    )


def token_length_histogram(documents: DataFrame) -> DataFrame:
    """Per-source token-length distribution in 64-token buckets — the
    mixture-planning census (which sources skew short/long before
    packing/sampling).  All-integer surface; one map-side-combined
    aggregate over (source, bucket)."""
    n_tokens = F.size(
        F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0))
    ).cast("long")
    return (
        documents.select("source", n_tokens.alias("nt"))
        .groupBy("source", F.expr("nt div 64").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


def gopher_quality(documents: DataFrame) -> DataFrame:
    """Gopher/Dolma-style document quality rules (public heuristics from
    the Gopher corpus-filtering recipe): a doc passes with 20-100 000
    words, a mean word length in [2, 12], a most-frequent word at most
    30 % of its words, and at most 50 % duplicate word-5-gram shingles.

    Everything except the top-word share is per-row array arithmetic —
    zero shuffles; the top-word share is a two-level (doc, word) aggregate
    whose shuffle carries per-doc distinct words, not tokens.  The
    duplicate-shingle fraction reuses the dedup layer's word-5-gram
    definition (`operators/dedup.py::shingles`) computed inline as
    ``1 − distinct/total`` over the per-row shingle array.

    All ratio features surface as integer ppm and every threshold
    predicate is cross-multiplied into pure integer comparisons
    (``2·n ≤ alpha`` instead of ``alpha/n ≥ 2.0``), so the rule outcomes
    and the hashed values are exact on any engine.
    """
    words = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    n_words = F.size(words).cast("long")
    alpha_chars = F.length(F.regexp_replace(ascii_lower(F.col("text")), "[^a-z]", "")).cast("long")

    toks = ws_tokens(ascii_lower(F.col("text")))
    n_sh = F.greatest(F.size(toks) - 4, F.lit(1))
    # zero-token docs have NO shingles (and dup fraction 0), mirroring
    # operators/dedup.py::shingles — the degenerate '' shingle made the
    # two engines disagree under the randomized-input fuzz
    sh_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_shingles = F.size(sh_arr).cast("long")
    n_dup_shingles = (n_shingles - F.size(F.array_distinct(sh_arr)).cast("long"))

    base = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        alpha_chars.alias("_alpha"),
        F.greatest(F.length("text"), F.lit(1)).cast("long").alias("_len"),
        n_shingles.alias("_nsh"),
        n_dup_shingles.alias("_ndup"),
    )
    wc = (
        documents.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = wc.groupBy("doc_id").agg(
        F.max("n").alias("_topn"), F.sum("n").alias("_totn")
    )
    joined = (
        base.join(top, "doc_id", "left")
        .withColumn("_topn", F.coalesce(F.col("_topn"), F.lit(0)))
        .withColumn("_totn", F.coalesce(F.col("_totn"), F.lit(1)))
        .withColumn("_nw1", F.greatest(F.col("n_words"), F.lit(1)))
    )
    passes = (
        F.col("n_words").between(20, 100_000)
        & (F.lit(2) * F.col("_nw1") <= F.col("_alpha"))
        & (F.col("_alpha") <= F.lit(12) * F.col("_nw1"))
        & (F.col("_topn") * 10000 <= F.lit(3000) * F.col("_totn"))
        & (F.col("_ndup") * 10000 <= F.lit(5000) * F.col("_nsh"))
    )
    return joined.select(
        "doc_id",
        "n_words",
        F.expr("(_alpha * 1000000) div _nw1").alias("mean_word_len_ppm"),
        F.expr("(_alpha * 1000000) div _len").alias("frac_alpha_ppm"),
        F.expr("(_topn * 1000000) div _totn").alias("top_word_share_ppm"),
        F.expr("(_ndup * 1000000) div greatest(_nsh, 1)").alias("dup_shingle_frac_ppm"),
        # never NULL: a NULL-text doc FAILS the gate rather than yielding a
        # NULL verdict — and a nullable boolean column is itself a
        # cross-engine hash hazard (pandas images Spark None as 'None' but
        # DuckDB NULL BOOLEAN as 'nan'; oracle-fuzz nulls profile)
        F.coalesce(passes, F.lit(False)).alias("passes"),
    )


#: Ranked pairs :func:`bpe_merge_candidates` keeps.
BPE_TOP_N = 50


def bpe_merge_candidates(documents: DataFrame) -> DataFrame:
    """First-round BPE merge statistics: corpus-wide adjacent character
    pair counts inside word tokens, the top ``BPE_TOP_N`` ranked — exactly the quantity a BPE
    vocabulary trainer maximizes at each merge step, distributed.

    Char pairs are generated per word with the same slice-zip used by
    :func:`bigram_stats` (join-free, per-row); the corpus-sized shuffle is
    the map-side-combined (c1, c2) count, bounded by alphabet² output.
    Iterating the trainer = re-tokenize with the chosen merge and re-run —
    each round is one such pass, which is how distributed BPE scales to a
    100 TB corpus (the sequential trainer is O(corpus) per merge anyway;
    this makes each round a Spark job instead of a single-node scan).
    """
    from pyspark.sql import Window

    words = documents.select(
        F.explode(F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))).alias("w")
    )
    chars = F.regexp_extract_all(F.col("w"), F.lit("."), F.lit(0))
    n_pairs = F.greatest(F.size(chars) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(chars, 1, n_pairs),
        F.slice(chars, 2, n_pairs),
        lambda x, y: F.struct(x.alias("c1"), y.alias("c2")),
    )
    counts = (
        words.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.c1").alias("c1"), F.col("p.c2").alias("c2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("c1"), F.asc("c2"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= BPE_TOP_N)
    )


def _apply_merge(sym_col, a: str, b: str):
    """Leftmost-first BPE merge applied to a symbol array in one ordered
    fold: adjacent (a, b) becomes the fused symbol; overlaps resolve
    left-to-right exactly like the sequential reference algorithm."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == a) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(documents: DataFrame, n_merges: int = 5) -> list[tuple[str, str, int]]:
    """Distributed BPE vocabulary training: ``n_merges`` rounds of
    (count adjacent symbol pairs → take the argmax → fuse it everywhere).

    Each round is one Spark job over the corpus: the pair count is the
    map-side-combined aggregate of :func:`bpe_merge_candidates`, the
    argmax collect is at most |symbols|² rows (tiny), and the merge is
    applied per-row with an ordered fold — no shuffle beyond the count.
    The driver loop carries only the merge table (the standard structure
    of iterative algorithms on Spark: per-iteration jobs over cached
    data, scalar state on the driver).  Ties break (count desc, pair asc)
    so the learned merge sequence is deterministic on any cluster.

    Returns [(left, right, count), ...] in merge order.
    """
    words = documents.select(
        F.explode(
            F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("w")
    )
    syms = words.select(
        F.regexp_extract_all(F.col("w"), F.lit("."), F.lit(0)).alias("s")
    )
    syms.cache()
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            n_pairs = F.greatest(F.size("s") - 1, F.lit(0))
            pairs = F.zip_with(
                F.slice("s", 1, n_pairs),
                F.slice("s", 2, n_pairs),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
            top = (
                syms.select(F.explode(pairs).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()
            )
            if not top or top[0].n < 2:
                break
            a, b, n = top[0].a, top[0].b, top[0].n
            merges.append((a, b, n))
            new_syms = syms.select(_apply_merge(F.col("s"), a, b).alias("s"))
            new_syms.cache()
            new_syms.count()  # materialize before dropping the parent
            syms.unpersist()
            syms = new_syms
    finally:
        syms.unpersist()
    return merges


def bpe_encode(documents: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the tokenizer-
    APPLICATION half of the train→encode pipeline (:func:`bpe_train` is
    the train half).  Per document: word count, character count, encoded
    BPE token count, and the compression this vocabulary buys
    (``saved_ppm``, integer-exact).

    Each merge is one ordered :func:`_apply_merge` fold per word, chained
    in merge order inside a single projection — pure Catalyst expressions,
    no Python, no shuffle until the final per-doc rollup.  At 100 TB the
    encode is embarrassingly parallel (the merge table is a plan literal,
    broadcast by construction); the per-word cost is O(|word| · |merges|),
    the standard sequential-BPE bound.  Encoded equivalence with a
    verbatim sequential encoder is pinned by ``TestBpeEncode``.
    """
    words = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("w"),
    )
    syms = F.regexp_extract_all(F.col("w"), F.lit("."), F.lit(0))
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    per_word = words.select(
        "doc_id",
        F.length("w").cast("long").alias("n_chars"),
        F.size(syms).cast("long").alias("n_toks"),
    )
    agg = per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
    )
    # left join back so letterless docs (all digits/punctuation — zero
    # [a-z] words, hence zero exploded rows) still get a row, matching the
    # one-row-per-doc contract of the sibling per-doc operators
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.expr(
                "CASE WHEN coalesce(n_chars, 0) = 0 THEN 0 "
                "ELSE ((n_chars - n_bpe_tokens) * 1000000) div n_chars END"
            ).alias("saved_ppm"),
        )
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """Language-ID evaluation matrix: labeled ``lang`` × predicted
    ``lang_guess`` counts, per-label totals, and the cell share in ppm
    (integer-exact) — the corpus-health view that tells you whether the
    identifier (or its replacement model) can be trusted before it gates
    a 100 TB filter pass.

    One narrow projection (the :func:`lang_id` scores) then a groupBy
    that map-side combines to ≤ |langs|·(|langs|+1) cells; the per-label
    total is a window over that tiny matrix.
    """
    from pyspark.sql import Window

    cells = (
        lang_id(documents)
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wl = Window.partitionBy("lang")
    return (
        cells.withColumn("n_lang", F.sum("n").over(wl))
        .select(
            "lang",
            "lang_guess",
            "n",
            "n_lang",
            F.expr("(n * 1000000) div n_lang").alias("share_ppm"),
        )
    )


def quality_funnel(documents: DataFrame) -> DataFrame:
    """Staged filter-attrition report: how many documents survive each
    stage of a standard pretraining quality cascade — the observability
    table a data pipeline publishes so corpus shrinkage is explainable
    per stage instead of one opaque count.

    Stages (each applied on top of all previous — a document is counted
    at stage i only if it passed 1..i-1):

    1. ``min_chars``    — n_chars >= 100
    2. ``min_tokens``   — >= 20 whitespace tokens (:func:`ws_tokens`)
    3. ``punct_ratio``  — punctuation <= 30% of tokens (exact integer
       cross-multiply; no float ratio at a decision boundary)
    4. ``stopword_floor`` — stopword count >= 1% of tokens (same)
    5. ``exact_canonical`` — doc is its md5(text) group's min-id
       canonical (the survivor exact dedup would keep)

    Output: stage_idx, stage, n_in, n_out, n_dropped — ``len(stages)+1``
    rows (stage 0 = ingest, n_in = n_out = corpus size).

    Scale: one scan computes every per-doc predicate; the only shuffle is
    the md5 window for stage 5 (same key as exact dedup — at 100 TB the
    hash group is the partitioner, no skew since hashes are uniform);
    counts map-side combine to a single row that is then unpivoted
    driver-free via ``stack``.
    """
    toks = ws_tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    punct = (
        F.length(F.col("text")) - F.length(F.regexp_replace(F.col("text"), _PUNCT, ""))
    ).cast("long")
    stop = _count_in(toks, STOPWORDS)
    canon = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    staged = documents.select(
        (F.col("n_chars") >= 100).alias("_s1"),
        (n_tokens >= 20).alias("_s2"),
        (punct * 10 <= n_tokens * 3).alias("_s3"),
        (stop * 100 >= n_tokens).alias("_s4"),
        (F.col("doc_id") == canon).alias("_s5"),
    )
    cum = staged.select(
        F.lit(1).alias("_c0"),
        *[
            F.when(
                F.expr(" AND ".join(f"_s{j}" for j in range(1, i + 1))), F.lit(1)
            ).otherwise(F.lit(0)).alias(f"_c{i}")
            for i in range(1, 6)
        ],
    )
    totals = cum.agg(*[F.sum(f"_c{i}").alias(f"n{i}") for i in range(6)])
    names = ["ingest", "min_chars", "min_tokens", "punct_ratio", "stopword_floor", "exact_canonical"]
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{names[i]}', n{max(i - 1, 0)}, n{i}" for i in range(6)
    )
    return totals.selectExpr(
        f"stack(6, {stack_args}) AS (stage_idx, stage, n_in, n_out)"
    ).select(
        "stage_idx", "stage", "n_in", "n_out", (F.col("n_in") - F.col("n_out")).alias("n_dropped")
    )


def doc_keywords(documents: DataFrame) -> DataFrame:
    """Per-document keyword extraction: the 3 terms with the highest
    tf-over-df salience — frequent in THIS doc, rare across the corpus —
    the retrieval/labeling primitive built on the same exploded-term pass
    as :func:`term_df_idf`.

    The score is an exact rational surfaced as integer ppm
    (score_ppm = tf·1e6 // doc_freq) so the top-k ranking has no float
    tie at a decision boundary (the idf-log variant would rank float
    scores; monotonicity per doc is identical when N is constant).
    Ties break on term ASC.  Keywords surface as one comma-joined string
    — arrays never reach a driver-checked surface.

    Scale: ONE corpus scan — tf is one shuffle on (doc_id, term)
    partial-aggregated map-side, and df falls out of tf for free as a
    per-term count window (tf has one row per (doc, term), so rows per
    term IS the document frequency — no second explode, no
    count-distinct state, no join); everything after the scan shuffles
    vocabulary-sized data only.
    """
    toks = F.regexp_extract_all(ascii_lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
    exploded = documents.select("doc_id", F.explode(toks).alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # doc_freq as a count window over tf — tf has exactly one row per
    # (doc, term), so rows-per-term IS the document frequency; expressing
    # it as a window instead of a groupBy+join keeps the whole operator a
    # single linear pipeline (one corpus scan, then vocab-sized shuffles)
    scored = tf.withColumn(
        "doc_freq", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).select("doc_id", "term", F.expr("(tf * 1000000) div doc_freq").alias("score_ppm"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score_ppm").desc(), F.col("term").asc())
    top = scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)
    return top.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "term"))), lambda s: s["term"]
            ),
            ",",
        ).alias("keywords"),
        F.max("score_ppm").alias("top_score_ppm"),
        F.count(F.lit(1)).alias("n_keywords"),
    )


def quality_calibration(documents: DataFrame) -> DataFrame:
    """Calibration table for the cheap composite quality score against the
    Gopher rule filter: per score decile, how many documents land there
    and what fraction survive the rules.  A well-calibrated score shows a
    monotone pass rate — the check a pipeline runs before trusting the
    cheap score as a pre-filter (to skip the costlier rule pass on the
    obvious keep/drop mass at 100 TB).

    Deciles are integer buckets of quality_score_ppm (1e6-capped scores
    fold into decile 9); counts and the ppm pass rate are integer-exact.

    Scale: the two per-doc feature passes share the corpus scan shape of
    :func:`text_quality` / :func:`gopher_quality`; the join key is doc_id
    (co-partitioned by the same hash) and the final rollup is 10 rows.
    """
    tq = text_quality(documents).select("doc_id", "quality_score_ppm")
    gq = gopher_quality(documents).select("doc_id", "passes")
    j = tq.join(gq, "doc_id")
    decile = F.least(
        F.lit(9).cast("long"), F.expr("(quality_score_ppm * 10) div 1000000")
    )
    return (
        j.select(decile.alias("score_decile"), "passes")
        .groupBy("score_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("passes"), 1).otherwise(0)).cast("long").alias("n_pass"),
        )
        .withColumn("pass_rate_ppm", F.expr("(n_pass * 1000000) div n_docs"))
    )
