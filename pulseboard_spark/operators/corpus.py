"""Corpus-construction operators for LLM training-data pipelines.

Beyond-reference surface (north star): the steps between "raw documents"
and "training batches" that the dedup/similarity/text modules don't cover:

* :func:`pack_documents` — concat-then-chunk sequence packing: assign each
  document its position in a stream of fixed-size token windows (what a
  pretraining loader does when it concatenates docs and slices context
  windows).  Packing is per-``source`` shard, so the window never sees more
  than one shard's rows — one shuffle on the shard key, no global order.
* :func:`scrub_pii` — regex redaction of emails / phones / URLs with
  per-doc redaction counts.  Patterns are character-class-only (no
  backrefs/lookahead), so Java regex (Spark) and RE2 (DuckDB) agree.
* :func:`weighted_sample` — per-row deterministic keep/drop where the keep
  percentage is a *column* (mixture weights by source/domain/quality tier).
  Same stable-hash contract as operators/sampling.py: a narrow filter, no
  shuffle, decisions never change as the corpus grows.
* :func:`decontaminate` — benchmark-overlap check: flag training docs that
  share any word n-gram shingle with a held-out evaluation set.  The join
  is on the shingle string (shuffle bounded by distinct-shingle mass; the
  eval side is a few % of the corpus and broadcasts at moderate scale).

All JVM-side (no UDFs); every output is mirrored verbatim in the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.operators.dedup import shingles
from pulseboard_spark.operators.sampling import hash_bucket
from pulseboard_spark.operators.text import ascii_lower, ws_tokens

PACK_BUDGET = 2048

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+"
URL_RE = "https?://[a-z0-9./_-]+"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _word_count(text_col: Column) -> Column:
    return F.size(F.regexp_extract_all(ascii_lower(text_col), F.lit("[a-z]+"), F.lit(0))).cast("long")


def pack_documents(
    documents: DataFrame, budget: int = PACK_BUDGET, shard: str = "source"
) -> DataFrame:
    """Sequence packing: documents are concatenated in doc_id order within
    each shard and sliced into ``budget``-token windows; each doc reports
    the window it starts in, its offset there, and the window it ends in
    (docs longer than the remaining window span chunks — exactly how a
    concat-and-chunk loader behaves).

    The running sum is a per-shard window frame: hash-partition on the
    shard key once, ordered scan within — at 100 TB each shard packs
    independently, so parallelism = shard count and no global sort exists.
    """
    n_tok = _word_count(F.col("text"))
    w = (
        Window.partitionBy(shard)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return (
        documents.select("doc_id", shard, n_tok.alias("n_tokens"))
        .withColumn("cum_tokens", cum)
        .select(
            "doc_id",
            shard,
            "n_tokens",
            "cum_tokens",
            F.floor(start / budget).cast("int").alias("pack_id"),
            (start % budget).cast("int").alias("pack_offset"),
            F.floor((cum - 1) / budget).cast("int").alias("pack_end"),
        )
    )


def scrub_pii(documents: DataFrame) -> DataFrame:
    """Redact emails → <EMAIL>, URLs → <URL>, phones → <PHONE> (in that
    order) and count each kind.  Counting happens before redaction on the
    original text; all three passes are codegen'd JVM regex — the 100 TB
    cost is one streaming pass over the text bytes, no shuffle at all."""
    t = F.col("text")
    n = lambda pat: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast("long")  # noqa: E731
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        "doc_id",
        n(EMAIL_RE).alias("n_emails"),
        n(URL_RE).alias("n_urls"),
        n(PHONE_RE).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def weighted_sample(df: DataFrame, key: str, pct_col: Column) -> DataFrame:
    """Deterministic mixture sampling: keep a row iff its stable hash
    bucket < ``pct_col`` (a per-row expression — e.g. a per-source weight).
    Narrow filter, zero shuffle; re-running on a grown corpus keeps every
    previously-kept row (stable sampling)."""
    return df.withColumn("target_pct", pct_col.cast("int")).filter(
        hash_bucket(F.col(key)) < F.col("target_pct")
    )


def decontaminate(documents: DataFrame) -> DataFrame:
    """Benchmark decontamination: the top 5% of docs by stable doc_id hash
    (buckets 95-99) form the held-out eval set; a training doc is
    contaminated if it shares any word shingle (``dedup.SHINGLE``-gram) with any eval
    doc.  Returns contaminated training docs with their shared-shingle
    count.

    Shape: shingle both sides (map-side explode), distinct eval shingles,
    equi-join on the shingle string, count per training doc.  The eval
    shingle set is a few percent of the corpus — Catalyst broadcasts it at
    moderate scale; at 100 TB the join shuffles on the shingle hash, which
    is the minimal-width key possible."""
    tagged = documents.withColumn("bucket", hash_bucket(F.col("doc_id")))
    train = tagged.filter(F.col("bucket") < 95)
    evals = tagged.filter(F.col("bucket") >= 95)
    train_sh = shingles(train.select("doc_id", "text"))
    eval_sh = shingles(evals.select("doc_id", "text")).select("s").distinct()
    return (
        train_sh.join(eval_sh, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
    )


LINE_TOKENS = 10


def doc_lines(documents: DataFrame) -> DataFrame:
    """Pseudo-line segmentation: whitespace tokens chunked ``LINE_TOKENS``
    at a time, joined back to a line string — (doc_id, line_no, line).

    The synthetic corpus ships no newlines, so fixed-token chunks stand in
    for lines; on a real corpus the chunker is ``split(text, '\\n')`` and
    everything downstream is unchanged.  Narrow (explode over the token
    array) — no shuffle; the token filter mirrors the oracle's
    ``list_filter(string_split(...))`` exactly."""
    toks = ws_tokens(ascii_lower(F.col("text")))
    base = documents.select("doc_id", toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    ).filter(F.col("_n") > 0)
    line_no = F.explode(
        F.sequence(F.lit(0), ((F.col("_n") - 1) / LINE_TOKENS).cast("int"))
    )
    return base.select("doc_id", line_no.alias("line_no"), "_t").select(
        "doc_id",
        "line_no",
        F.array_join(
            F.slice("_t", F.col("line_no") * LINE_TOKENS + 1, LINE_TOKENS), " "
        ).alias("line"),
    )


def line_dedup_stats(documents: DataFrame) -> DataFrame:
    """C4-style line-level dedup audit: per document, how many of its lines
    are corpus boilerplate (the same line appears in >= 2 distinct docs).

    C4 removes any line occurring >= 3 times in the corpus; this is the
    audit pass that sizes that removal before you commit to it.  Shape at
    100 TB: one shuffle on the line string for the distinct-doc frequency
    (map-side partial over (line, doc_id)), the join back is co-partitioned
    on the same key, and the final per-doc rollup shuffles line-count rows,
    never text.  Integer-exact surface (ppm via truncating div)."""
    lines = doc_lines(documents)
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    per_line = lines.join(freq, "line")
    return (
        per_line.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum((F.col("n_docs") >= 2).cast("long")).cast("long").alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_boilerplate",
            F.expr("(n_boilerplate * 1000000) div n_lines").alias("boilerplate_ppm"),
        )
    )


def boilerplate_lines(documents: DataFrame) -> DataFrame:
    """The boilerplate inventory itself: every line occurring in >= 2
    distinct documents, with its doc reach and total occurrence count —
    what a C4-style cleaner materializes as its removal list.  One shuffle
    on the line string; output is bounded by the duplicated-line mass."""
    lines = doc_lines(documents)
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def doc_repetition(documents: DataFrame) -> DataFrame:
    """Within-document repetition signals — the Gopher repetition family
    (Rae et al. 2021 §A1.1: documents dominated by repeated lines or a
    single n-gram are boilerplate/spam and poison LLM training):

    * ``dup_line_ppm``        — fraction of the doc's lines that are
      repeats of an earlier identical line in the SAME doc;
    * ``dup_line_char_ppm``   — fraction of line characters inside those
      repeats (chars beyond each line's first occurrence);
    * ``top_bigram_ppm``      — share of the doc's word-bigram instances
      taken by its single most frequent bigram.

    All surfaces are exact integer rationals (counts + truncating-div
    ppm) — no float at any decision boundary, so the DuckDB oracle
    replays them verbatim.

    Scale: ONE corpus scan — lines and bigrams explode together as
    kind-tagged ('L'/'B') units from the same token array (two separate
    aggregation subtrees would each rescan the text, doubling IO where
    text IS the mass at 100 TB); the per-(doc, kind, unit) count
    map-side combines, so shuffled rows are bounded by DISTINCT
    (doc, line|bigram) mass, never token mass; the per-doc rollup splits
    the kinds back out with conditional aggregates.  Output is |docs|
    rows; docs shorter than one line / two tokens surface
    zero-denominators as 0 ppm via the guarded div."""
    toks = ws_tokens(ascii_lower(F.col("text")))
    base = (
        documents.select("doc_id", toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") > 0)
    )
    units = F.expr(
        f"""
        concat(
          transform(sequence(0, (_n - 1) div {LINE_TOKENS}),
                    i -> struct('L' AS kind,
                                array_join(slice(_t, i * {LINE_TOKENS} + 1, {LINE_TOKENS}), ' ') AS k)),
          CASE WHEN _n >= 2
               THEN transform(slice(_t, 1, _n - 1),
                              (x, i) -> struct('B' AS kind, concat(x, ' ', _t[i + 1]) AS k))
               ELSE array() END
        )
        """
    )
    counts = (
        base.select("doc_id", F.explode(units).alias("e"))
        .groupBy("doc_id", F.col("e.kind").alias("kind"), F.col("e.k").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("_len", F.length("k").cast("long"))
    )
    is_l, is_b = F.col("kind") == "L", F.col("kind") == "B"
    return counts.groupBy("doc_id").agg(
        F.sum(F.when(is_l, F.col("c"))).alias("n_lines"),
        F.sum(F.when(is_l, F.col("c") - 1)).alias("n_dup_lines"),
        F.expr(
            "CASE WHEN sum(CASE WHEN kind = 'L' THEN c END) > 0"
            " THEN (sum(CASE WHEN kind = 'L' THEN c - 1 END) * 1000000)"
            " div sum(CASE WHEN kind = 'L' THEN c END) ELSE 0 END"
        ).alias("dup_line_ppm"),
        F.expr(
            "CASE WHEN sum(CASE WHEN kind = 'L' THEN c * _len END) > 0"
            " THEN (sum(CASE WHEN kind = 'L' THEN (c - 1) * _len END) * 1000000)"
            " div sum(CASE WHEN kind = 'L' THEN c * _len END) ELSE 0 END"
        ).alias("dup_line_char_ppm"),
        F.coalesce(F.sum(F.when(is_b, F.col("c"))), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.max(F.when(is_b, F.col("c"))), F.lit(0)).alias("top_bigram_n"),
        F.expr(
            "CASE WHEN coalesce(sum(CASE WHEN kind = 'B' THEN c END), 0) > 0"
            " THEN (max(CASE WHEN kind = 'B' THEN c END) * 1000000)"
            " div sum(CASE WHEN kind = 'B' THEN c END) ELSE 0 END"
        ).alias("top_bigram_ppm"),
    )


def source_length_bands(documents: DataFrame) -> DataFrame:
    """Per-source document-length envelope: lower-discrete P10/P50/P90 of
    ``n_chars`` plus count and total — the governance table that catches
    a feed shipping truncated or concatenated documents before those
    poison downstream packing/quality stages (the per-source companion of
    ``daily_value_bands``'s per-day envelope).

    Quantiles are the repo's cumulative-count discrete convention —
    actual data values, integer-exact on both engines.  Scale: the
    (source, n_chars) histogram collapses corpus mass before any window;
    cum/tot windows run over ≤ |sources|·|distinct lengths| rows.

    NULL ``n_chars`` rows are excluded: a document with no known length
    has nothing to band, and keeping the NULL group is engine-divergent
    (Spark windows order NULLS FIRST, DuckDB NULLS LAST — the cumulative
    counts shift every quantile; combined-fuzz find, r08, surfaced by
    restoring the text→n_chars consistency the fuzz had under-tested)."""
    hist = documents.filter(F.col("n_chars").isNotNull()).groupBy(
        "source", "n_chars"
    ).agg(
        F.count(F.lit(1)).alias("c")
    )
    wp = Window.partitionBy("source")
    cum = hist.withColumn("cum", F.sum("c").over(wp.orderBy("n_chars"))).withColumn(
        "tot", F.sum("c").over(wp)
    )
    return cum.groupBy("source").agg(
        F.max("tot").alias("n_docs"),
        F.sum(F.col("c") * F.col("n_chars")).alias("total_chars"),
        F.min(F.when(F.expr("cum * 10 >= tot"), F.col("n_chars"))).alias("p10_chars"),
        F.min(F.when(F.expr("cum * 2 >= tot"), F.col("n_chars"))).alias("p50_chars"),
        F.min(F.when(F.expr("cum * 10 >= tot * 9"), F.col("n_chars"))).alias("p90_chars"),
    )


def build_corpus(spark, sf_dir: str, out_dir: str) -> dict:
    """End-to-end corpus construction: the one-call pipeline a training
    team runs per snapshot, chaining the engine's stages in production
    order:

      1. Gopher-style quality gate (`text.gopher_quality`)
      2. Near-dup removal — keep cluster canonicals (`dedup.near_dup_clusters`)
      3. Benchmark decontamination (`decontaminate`: drop training docs
         sharing shingles with the held-out hash bucket)
      4. Deterministic 80/10/10 train/val/test assignment (`sampling.train_val_test_split`)
      5. Sequence packing per split into 256-token windows (`pack_documents`)
      6. Split-partitioned, sorted parquet write (`layout.write_partitioned`)

    Returns a manifest dict (per-stage survivor counts + per-split packed
    sequence counts) — the numbers a pipeline run is audited by.  Every
    stage is an already-oracle-checked operator; this function only
    sequences them, so the composite inherits their correctness and their
    physical plans (broadcast stats, capped explosions, zero-shuffle
    splits).
    """
    from pulseboard_spark.operators.dedup import near_dup_clusters
    from pulseboard_spark.operators.sampling import train_val_test_split
    from pulseboard_spark.operators.text import gopher_quality
    from pulseboard_spark.sources.layout import write_partitioned
    from pulseboard_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    passing = gopher_quality(docs).filter("passes").select("doc_id")
    docs_q = docs.join(passing, "doc_id")
    n_quality = docs_q.count()

    canonical = near_dup_clusters(docs).filter("is_canonical").select("doc_id")
    docs_d = docs_q.join(canonical, "doc_id")
    n_deduped = docs_d.count()

    contaminated = decontaminate(docs_d).select("doc_id")
    docs_c = docs_d.join(contaminated, "doc_id", "left_anti")
    n_clean = docs_c.count()

    assigned = train_val_test_split(docs_c, "doc_id")
    packed = pack_documents(assigned, budget=256, shard="split")
    write_partitioned(packed, out_dir, ["split"], sort_cols=["doc_id"])

    out = spark.read.parquet(out_dir)
    per_split = {
        r.split: r.n_seqs
        for r in out.groupBy("split")
        .agg((F.max("pack_end") + 1).alias("n_seqs"))
        .collect()
    }
    return {
        "n_raw": n_raw,
        "n_quality": n_quality,
        "n_deduped": n_deduped,
        "n_clean": n_clean,
        "packed_sequences": per_split,
    }


def ngram_novelty(documents: DataFrame) -> DataFrame:
    """Per-document corpus-novelty contribution: the share of the doc's
    distinct word-3-gram shingles FIRST introduced by it (owner = min
    doc_id over the whole corpus), in integer ppm.  The curation
    complement of near-dup removal — a doc whose shingles are all owned by
    earlier docs adds nothing even if no single earlier doc matches it
    (cross-doc template reuse that pairwise dedup can't see); the metric
    drives both dedup triage and data-mixture weighting.

    Shape: the distinct (doc, shingle) table (``dedup.shingles`` — the
    same definition the oracle's SHINGLES_CTE mirrors) flows through ONE
    corpus scan; ownership is ``min(doc_id) over (partition by s)`` — a
    window, NOT a groupBy+self-join, which would rescan the corpus and
    rebuild the pair table per branch (measured: 2 FileScans, zero reuse).
    The per-doc rollup is map-side combined.  Cost rides the pair-table
    cardinality exactly like MinHash — no new fact-sized structure at
    100 TB; a boilerplate mega-shingle skews its one window partition,
    the same hot-key profile (and remedy) as the LSH band buckets.
    """
    from pyspark.sql import Window

    sh = shingles(documents)
    owned = sh.withColumn("first_doc", F.min("doc_id").over(Window.partitionBy("s")))
    return (
        owned.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_shingles").alias("novelty_ppm"),
        )
    )


def pack_efficiency(documents: DataFrame) -> DataFrame:
    """Packing-efficiency rollup over :func:`pack_documents`: per source,
    how many context windows the corpus fills, how full they are
    (fill ppm of the ``PACK_BUDGET`` window), and how many documents
    straddle a window boundary — the loader-tuning table that decides whether the
    packing budget or the shard layout needs to change before a
    pretraining run burns compute on padding.

    All integer-exact: windows = the last token's window index + 1,
    fill = total tokens over windows·budget.  A shard whose documents
    are all token-free (digits/punctuation only) packs ZERO windows —
    the surface stays non-null (n_windows 0, fill_ppm 0) rather than
    leaking a divide-by-zero NULL.

    Scale: rides pack_documents' one shard-key shuffle; the rollup is
    |shards| rows."""
    budget = PACK_BUDGET
    packed = pack_documents(documents, budget=budget)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.greatest(F.max("pack_end").cast("long") + 1, F.lit(0).cast("long")).alias(
            "n_windows"
        ),
        F.expr(
            "CASE WHEN max(pack_end) >= 0"
            " THEN (CAST(sum(n_tokens) AS BIGINT) * 1000000)"
            f" div ((CAST(max(pack_end) AS BIGINT) + 1) * {budget})"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("fill_ppm"),
        F.sum((F.col("pack_end") > F.col("pack_id")).cast("long")).alias("n_spanning_docs"),
    )


#: :func:`mixture_plan`'s training-token budget and per-source repeat cap.
MIXTURE_TARGET_TOKENS = 112_000
MIXTURE_MAX_EPOCHS = 4


def mixture_plan(documents: DataFrame) -> DataFrame:
    """Token-budget mixture planner: split a total training-token budget
    across sources under a per-source repeat cap — the allocation table a
    pretraining run derives its per-source sampling weights from.

    Each source starts from an equal fair share (``MIXTURE_TARGET_TOKENS
    div n_sources``), clipped at ``MIXTURE_MAX_EPOCHS`` passes over what the source
    actually has; the budget the caps free up is then redistributed to
    the uncapped sources in one water-filling round (equal bonus, again
    clipped at each source's cap).  One round is exact when at most one
    cap binds per round and a close under-approximation otherwise — the
    caller iterates on the residual if it needs convergence; each round
    costs one |sources|-row pass, not a corpus scan.

    ``epochs_ppm`` is the resulting repeat factor (1e6 = one full pass).
    All integer arithmetic (``div``), so the surface is engine-exact.

    Scale: one map-side-combined shuffle reduces the corpus to one row
    per source; the fair-share / redistribution math runs as unpartitioned
    windows over that |sources|-row table — fine while source cardinality
    is bounded (thousands); a web-scale domain mixture would swap the
    windows for a broadcast twin of the three scalar totals."""
    target_tokens, max_epochs = MIXTURE_TARGET_TOKENS, MIXTURE_MAX_EPOCHS
    per = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(_word_count(F.col("text"))).cast("long").alias("avail_tokens"),
    )
    w = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tgt = F.lit(int(target_tokens)).cast("long")
    per = (
        per.withColumn("n_sources", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("fair_share", F.expr(f"CAST({int(target_tokens)} AS BIGINT) div n_sources"))
        .withColumn("cap", F.col("avail_tokens") * F.lit(int(max_epochs)))
        .withColumn("alloc1", F.least("fair_share", "cap"))
        .withColumn("leftover", tgt - F.sum("alloc1").over(w))
        .withColumn(
            "n_open",
            F.sum(
                F.when(F.col("cap") > F.col("alloc1"), F.lit(1)).otherwise(F.lit(0))
            ).over(w).cast("long"),
        )
    )
    bonus = F.when(
        F.col("n_open") > 0, F.expr("leftover div n_open")
    ).otherwise(F.lit(0).cast("long"))
    alloc = F.col("alloc1") + F.least(bonus, F.col("cap") - F.col("alloc1"))
    return per.select(
        F.col("source"),
        "n_docs",
        "avail_tokens",
        "fair_share",
        alloc.alias("alloc_tokens"),
    ).withColumn(
        "epochs_ppm",
        F.expr("(alloc_tokens * 1000000) div greatest(avail_tokens, 1)"),
    )


def doc_chunks(documents: DataFrame) -> DataFrame:
    """RAG-indexing chunk plan: split each document into overlapping
    token windows (64 wide, 48 apart — the standard
    sliding-window chunker an embedding index ingests).  Surfaces chunk
    METADATA plus a deterministic md5 of the chunk text (the join key an
    index builder / dedup pass uses), not the text itself — the driver
    surface stays narrow and scalar.

    Chunks start at every ``k·48 < n_tokens``, so every token is
    covered and the final chunk may be short: n_chunks =
    ``(n−1) div 48 + 1``.  Token-free docs emit nothing.

    Scale: one narrow pass — tokens, a per-row ``sequence`` explode, and
    row-local slicing/hashing; no shuffle at all (the chunker is the
    map side of whatever index build follows)."""
    toks = ws_tokens(ascii_lower(F.col("text")))
    base = documents.select("doc_id", toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    ).filter(F.col("_n") > 0)
    chunk_no = F.explode(
        F.sequence(F.lit(0), F.expr("(_n - 1) div 48"))
    )
    start = F.col("chunk_no") * 48
    piece = F.slice(F.col("_t"), start + 1, 64)
    return (
        base.select("doc_id", chunk_no.alias("chunk_no"), "_t", "_n")
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            start.cast("long").alias("start_token"),
            F.least(F.lit(64), F.col("_n") - start).cast("long").alias("n_tokens"),
            F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
        )
    )
