"""Deduplication operators over the ``documents`` table.

Beyond-reference surface mandated by the north star: the operations a
large-scale training-data pipeline needs.  All shuffle-friendly: shingling
explodes rows map-side, signatures are one groupBy, candidate generation is
a band-bucket self-join (the LSH trick that avoids the O(n²) cross join),
and only candidate pairs pay the exact-Jaccard verification join.

Scale posture (100 TB of documents):
  * shingle/signature stages are embarrassingly parallel, no driver state;
  * the band join's fan-out is bounded by bucket size — hot buckets (boiler-
    plate text) should be salted or capped (``max_bucket`` guard below);
  * exact verification joins only candidates, proportional to true-dup mass.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.operators.similarity import cosine_pairs_above
from pulseboard_spark.operators.text import ascii_lower, ws_tokens

N_HASHES = 8
N_BANDS = 4  # 2 hashes per band
SHINGLE = 3  # words per shingle
SIMHASH_BITS = 16
SIMHASH_HAMMING_MAX = 3
#: Near-dup verdict: exact shingle Jaccard at or above 80 % (basis points).
NEAR_DUP_BP = 8000


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact content dedup: md5 groups, canonical = min doc_id per group."""
    df = documents.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
    w_min = F.min("doc_id").over(Window.partitionBy("content_hash"))
    return df.withColumn("canonical_doc_id", w_min).withColumn(
        "is_duplicate", F.col("doc_id") != F.col("canonical_doc_id")
    )


def shingles(documents: DataFrame) -> DataFrame:
    """Distinct word ``SHINGLE``-gram shingles per doc (lowercased).

    Word shingles, not char shingles: on template-heavy / small-vocabulary
    corpora char n-grams are shared by unrelated documents, which floods
    every LSH band bucket and makes candidate generation quadratic (measured
    1.1M candidate pairs from 5k synthetic docs with char-5).  Word n-grams
    keep the shingle space discriminative — the standard choice in
    large-scale text dedup.  Everything JVM-side via split → explode →
    slice; docs shorter than ``SHINGLE`` words degrade to one short shingle.

    Zero-token docs (empty, whitespace-only, or NULL text) emit NO
    shingles: without the filter every empty document degrades to the
    single '' shingle, so all empty docs form one Jaccard-1.0 clique —
    at web scale (millions of empty docs) that clique alone makes the
    LSH candidate join quadratic, and the randomized-input oracle fuzz
    (tools/probes/oracle_fuzz.py, edges profile) showed the two engines
    additionally DISAGREED on the degenerate shingle ('' here vs NULL in
    DuckDB's array_to_string of an empty slice).  No tokens → no content
    → participates in no n-gram similarity surface, on both engines.
    """
    toks = ws_tokens(ascii_lower(F.col("text")))
    base = documents.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    idx = F.explode(F.sequence(F.lit(1), F.greatest(F.size("toks") - (SHINGLE - 1), F.lit(1))))
    return (
        base.select("doc_id", idx.alias("i"), "toks")
        .select("doc_id", F.concat_ws(" ", F.slice("toks", F.col("i"), SHINGLE)).alias("s"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """8-hash MinHash signature per doc from TWO md5 evaluations per
    shingle: each seed-prefixed 128-bit digest is sliced into four 8-hex
    (32-bit) chunks and the min is taken per chunk — 4× fewer digest
    computations than one md5 per hash, same engine-portability (md5 and
    ASCII substring compare are identical in Spark and DuckDB).  32-bit
    chunk collisions are irrelevant at per-doc-min granularity."""
    aggs = []
    for seed in range(2):
        h = F.md5(F.concat(F.lit(f"{seed}:"), F.col("s")))
        for c in range(4):
            aggs.append(F.min(F.substring(h, 1 + 8 * c, 8)).alias(f"h{4 * seed + c}"))
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_candidates(sig: DataFrame) -> DataFrame:
    """LSH banding: 4 bands × 2 hashes; docs sharing any band are candidates.

    Bands come from ONE pass over the signature table (explode of a
    4-element struct array) — a union of per-band selects would re-execute
    the whole signature aggregation once per band."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.concat(F.col(f"h{2*b}"), F.col(f"h{2*b+1}")).alias("band"),
            )
            for b in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("p")).select(
        "doc_id", "p.bi", "p.band"
    )
    a, c = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_dups(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs with exact Jaccard over shingle sets.

    |A∩B| via a shingle equi-join restricted to candidates; |A∪B| = |A|+|B|−∩.
    Output: doc_a, doc_b, n_common, n_union, jaccard_ppm — the Jaccard
    surfaces as integer parts-per-million (``∩·10⁶ div ∪``) because a
    rounded double of an exact rational is the cross-engine hash-drift
    class that failed round 1."""
    sh = shingles(documents)
    sh.cache()
    cand = minhash_candidates(minhash_signatures(sh))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sb.s") == F.col("sa.s")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("i").alias("n_common"),
            (F.col("na") + F.col("nb") - F.col("i")).alias("n_union"),
            F.expr("(i * 1000000) div (na + nb - i)").alias("jaccard_ppm"),
        )
    )


def _jaccard_at_least(threshold_bp: int):
    """∩/∪ ≥ bp/10⁴ as an exact integer cross-multiplication — the
    threshold decision must not ride on float division."""
    return F.col("n_common") * 10000 >= F.lit(int(threshold_bp)) * F.col("n_union")


def ngram_jaccard_dedup(documents: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Near-dup verdicts: pairs at/above the ``NEAR_DUP_BP`` Jaccard
    threshold with the canonical (min) id — the decision layer over minhash_near_dups.

    ``pairs``: precomputed minhash_near_dups output (the pair graph is the
    expensive shared stage; callers running several dedup decisions over one
    corpus materialize it once)."""
    if pairs is None:
        pairs = minhash_near_dups(documents)
    pairs = pairs.filter(_jaccard_at_least(NEAR_DUP_BP))
    return pairs.select(
        "doc_a", "doc_b", "jaccard_ppm", F.least("doc_a", "doc_b").alias("canonical_doc_id")
    )


def containment_pairs(documents: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Containment audit over the verified candidate-pair graph, flagging
    the asymmetric partial-duplicate class: pairs where the SMALLER
    document's shingles are ≥ 90 % contained in the larger's, yet
    symmetric Jaccard stays BELOW the near-dup threshold —
    the quote-expansion / excerpt / boilerplate-wrapper class that
    symmetric dedup structurally misses (a 100-word doc embedded in a
    10 000-word doc has Jaccard ≈ 1 %, containment ≈ 100 %).

    Containment = |A∩B| / min(|A|,|B|), decided by exact integer
    cross-multiplication like every threshold here.  Output: EVERY
    verified candidate pair oriented contained→container with both
    ratios in ppm, plus ``is_partial_dup`` marking the excerpt class —
    reporting the full graph (rather than only the flagged slice) keeps
    the audit informative even on corpora where the class is empty, and
    an extract-aware cleaner filters on the flag.

    Scale: rides the shared verified pair graph — candidate generation
    is still banded MinHash LSH (a contained doc shares its own shingle
    minima with the container, so candidates surface as long as the
    band collision fires; fully general containment search would swap
    the symmetric signature for a bottom-k sketch of the smaller side,
    the documented 100 TB extension).  The flag and ratio arithmetic are
    row-local on the pair table, but splitting min/max sides needs the
    per-doc shingle counts, which the pair surface doesn't carry — that
    re-derives the shingle aggregate (warm via minhash_near_dups'
    session cache; cold if ``pairs`` came from disk).  Surfacing n_a/n_b
    on the pair graph would make this fully row-local, at the cost of
    changing the driver-hashed dedup_minhash surface — deferred."""
    if pairs is None:
        pairs = minhash_near_dups(documents)
    # the symmetric pair surface carries n_common/n_union but not the
    # individual set sizes — join the per-doc shingle counts (a tiny
    # aggregate) to split min/max sides
    sh = shingles(documents)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    n_small = F.least(F.col("n_a"), F.col("n_b"))
    enriched = (
        pairs.select("doc_a", "doc_b", "n_common", "n_union", "jaccard_ppm")
        .join(na, "doc_a")
        .join(nb, "doc_b")
    )
    contained_id = F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    container_id = F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_b")).otherwise(
        F.col("doc_a")
    )
    is_partial = (F.col("n_common") * 10000 >= F.lit(9000) * n_small) & (
        F.col("n_common") * 10000 < F.lit(NEAR_DUP_BP) * F.col("n_union")
    )
    return enriched.select(
        contained_id.alias("contained_doc_id"),
        container_id.alias("container_doc_id"),
        F.expr("(n_common * 1000000) div least(n_a, n_b)").alias("containment_ppm"),
        "jaccard_ppm",
        is_partial.alias("is_partial_dup"),
    )


def split_leakage(
    documents: DataFrame, splits: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Train/eval contamination audit: near-dup pairs that STRADDLE the
    train/val/test split — the leak an LLM pipeline must catch before a
    benchmark number means anything (a test doc whose near-duplicate sits
    in train inflates eval; random splits leak precisely because dedup
    runs before splitting or not at all).

    ``splits``: (doc_id, split) assignment (e.g. sampling.
    train_val_test_split).  Output: one row per unordered split-pair
    class — split_a <= split_b lexicographically — with the verified
    near-dup pair count and the distinct-doc reach of those pairs; the
    cross-split rows (train/test, train/val, test/val) are the leakage,
    the diagonal rows are ordinary within-split redundancy for scale.

    Scale: rides the shared verified pair graph (the expensive stage,
    built once per corpus); two co-partitioned joins attach each side's
    split label; the class rollup is ≤ |splits|² rows and the doc-reach
    count shuffles (class, doc_id) pairs — bounded by 2·|pairs|, never
    by corpus mass.
    """
    if pairs is None:
        pairs = minhash_near_dups(documents)
    pairs = pairs.filter(_jaccard_at_least(NEAR_DUP_BP))
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("_sa"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("_sb"))
    classed = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
    )
    n_pairs = classed.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    reach = (
        classed.select("split_a", "split_b", F.col("doc_a").alias("doc_id"))
        .unionByName(classed.select("split_a", "split_b", F.col("doc_b").alias("doc_id")))
        .groupBy("split_a", "split_b")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_leaky_docs"))
    )
    return n_pairs.join(reach, ["split_a", "split_b"]).select(
        "split_a", "split_b", "n_pairs", "n_leaky_docs",
        (F.col("split_a") != F.col("split_b")).alias("is_cross_split"),
    )


def near_dup_clusters(
    documents: DataFrame, threshold_bp: int = NEAR_DUP_BP, pairs: DataFrame | None = None
) -> DataFrame:
    """Transitive near-dup clusters: connected components over the verified
    near-dup pair graph (the dedup decision a training-data pipeline
    actually applies — keep one canonical per cluster, not per pair;
    A⇆B and B⇆C collapse into one cluster even when A⇆C is below
    threshold).  Output: doc_id, cluster_id (min doc id), is_canonical.

    Reuses the identity CC operator — same min-label propagation, same
    scale posture (SCALE.md); isolated docs are their own cluster.

    ``pairs``: precomputed minhash_near_dups output (see
    ngram_jaccard_dedup)."""
    from pulseboard_spark.operators.identity import connected_components

    if pairs is None:
        pairs = minhash_near_dups(documents)
    pairs = pairs.filter(_jaccard_at_least(threshold_bp))
    nodes = documents.select(F.col("doc_id").alias("id"))
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def near_dup_clusters_incremental(
    documents: DataFrame, prior: DataFrame, delta_pairs: DataFrame
) -> DataFrame:
    """Fold a delta batch of verified near-dup pairs into a prior cluster
    map — the nightly-corpus-refresh shape: yesterday's (doc, cluster)
    labels + today's newly verified pairs, with the accumulated pair log
    never rescanned (identity.merge_components' star-edge contraction,
    applied to the dedup graph).  Output matches
    :func:`near_dup_clusters`: doc_id, cluster_id (min doc id),
    is_canonical — and must EQUAL the full recompute, which is how the
    registry query is oracle-checked (it shares `dedup_clusters`' SQL).
    """
    from pulseboard_spark.operators.identity import merge_components

    edges = (
        delta_pairs.filter(_jaccard_at_least(NEAR_DUP_BP))
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    comp = merge_components(
        prior.select(F.col("doc_id").alias("id"), F.col("cluster_id").alias("component")),
        documents.select(F.col("doc_id").alias("id")),
        edges,
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """16-bit SimHash per document over its distinct word-trigram shingles.

    Bit j of the fingerprint is the sign of the per-bit vote: each shingle
    votes +1 on bit j when hex nibble j of md5(shingle) has its high bit set
    ('8'..'f'), else −1 — an engine-portable stand-in for j independent
    hash bits (md5 is identical in Spark and DuckDB, and the lexicographic
    compare `nibble >= '8'` is pure ASCII).  Ties (vote sum 0) resolve to 1.
    Shingle features, not unigram tokens: on a small shared vocabulary every
    doc contains most words, so unigram fingerprints all collide.

    Fully map-side until one groupBy(doc_id) — no Python, no driver state;
    at 100 TB the shingle explode is the only fan-out and it prunes to
    distinct (doc, shingle) before the shuffle.
    """
    toks = shingles(documents)
    h = F.md5(F.col("s"))
    votes = [
        F.sum(F.when(F.substring(h, j + 1, 1) >= F.lit("8"), 1).otherwise(-1)).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*votes)
    fp = reduce(
        add,
        [F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(SIMHASH_BITS)],
    )
    return sums.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_dups(documents: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ ``SIMHASH_HAMMING_MAX``
    over the 16-bit fingerprints.

    Candidate generation is LSH banding on the two 8-bit halves — any pair
    within hamming ≤ 3 of a 16-bit code CAN disagree in both halves, so
    this is the standard recall/cost trade (documented approximation; with
    ≤ 3 flipped bits across 2 bands at least one band is clean whenever the
    flips cluster, and the oracle mirrors the same banding).  The half-join
    replaces the O(n²) all-pairs hamming scan with per-bucket joins.
    """
    fps = simhash_fingerprints(documents)
    halves = F.array(
        F.struct(F.lit(0).alias("bi"), (F.col("simhash") % 256).alias("band")),
        F.struct(F.lit(1).alias("bi"), F.floor(F.col("simhash") / 256).alias("band")),
    )
    bands = fps.select("doc_id", "simhash", F.explode(halves).alias("p")).select(
        "doc_id", "simhash", "p.bi", "p.band"
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )


def embedding_near_dups(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup pairs: cosine ≥ 0.35, each pair
    once (vec_a < vec_b), canonical = min id.

    Exact broadcast block kernel (``similarity.cosine_pairs_above``) — the
    right baseline for re-ranking and for oracle checks.  The 100 TB path
    swaps candidate generation for the random-hyperplane buckets in
    ``similarity.simhash_buckets`` and keeps this exact kernel as the
    per-bucket verifier (see ``similarity.ann_topk`` for the composed
    shape).  The synthetic embeddings have no true dups (max cosine ≈ 0.5),
    so the threshold marks the distribution's tail.
    """
    pairs = cosine_pairs_above(embeddings, 0.35)
    return pairs.withColumn("canonical_vec_id", F.least("vec_a", "vec_b"))


def _deletion_neighborhood(name_col: str):
    """Array of FastSS candidate keys for ``max_dist=1``: the string itself
    plus every single-character-deletion variant.  Any two strings at edit
    distance ≤ 1 share at least one key: a deletion pair shares the deleted
    variant, an insertion pair shares the shorter string itself, and a
    substitution pair shares the variant that deletes the edited position.
    All JVM-side (``transform``/``sequence``/``substring``) — no Python seam.
    """
    dels = (
        f"transform(sequence(1, length({name_col})), "
        f"i -> concat(substring({name_col}, 1, i - 1), "
        f"substring({name_col}, i + 1, length({name_col}) - i)))"
    )
    return F.array_distinct(F.concat(F.array(F.col(name_col)), F.expr(dels)))


def blocked_fuzzy_pairs(
    df: DataFrame,
    key: str,
    name: str,
    block: str,
    max_dist: int = 1,
    neighborhood: bool = False,
) -> DataFrame:
    """Fuzzy string-match pairs (edit distance ≤ ``max_dist``) within a
    blocking key — the classic entity-resolution primitive the hash-based
    dedups above can't express (a typo is invisible to exact/MinHash at
    short-string scale).

    Each pair reported once (``a_key < b_key``) with its distance.
    `levenshtein` is JVM-side in Spark and built into DuckDB, so the whole
    operator stays codegen'd — no Python seam.

    Scale: with ``neighborhood=False`` the self-join is quadratic WITHIN a
    block and linear across blocks — block choice is the knob, and
    composites like (nation, name-length, first-char) keep the hot block
    small ONLY when those attributes discriminate.  For uniform-prefix
    identifiers (TPC-H ``Customer#000000001``: constant first char,
    constant length, constant 9-char prefix) every such composite
    degenerates back to the base block and the hot block's n² survives.
    ``neighborhood=True`` (``max_dist=1`` only) is the scale path that
    doesn't depend on attribute luck: FastSS/SymSpell deletion-neighborhood
    keys — each row fans out to len+1 variants, the join key becomes
    (block, variant), and only true near-matches (plus a bounded set of
    dist-2 collisions, removed by the residual levenshtein filter) ever
    meet.  Worst block size is the near-dup cluster size, not the block's
    row count, so per-block cost is O(cluster²) instead of O(n_block²) —
    at 64× sf0.1 the nation block is ~38k rows (≈1.5 G pairs each) while
    the largest neighborhood block stays O(1) (measured in SCALE.md).
    The fan-out costs len+1 shuffle rows per input row — the standard
    SymSpell trade, linear and bounded by max name length.  Results are
    identical to the naive plan (pinned by the all-pairs DuckDB oracle).
    """
    # Spread the probe side: when `df` comes from a few (or one) parquet
    # file(s) and the block join broadcasts, the n² levenshtein work would
    # otherwise run on the scan's partition count — a broadcast join puts
    # no constraint on probe-side partitioning, so this shuffle (tiny: the
    # pre-explosion rows) buys full-cluster parallelism for the kernel.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if neighborhood:
        if max_dist != 1:
            raise ValueError("neighborhood blocking implements max_dist=1 only")
        # Spread the BASE rows round-robin BEFORE the fan-out (r10): the
        # scan of a small dim table is one file -> one partition, which
        # serialized the len+1 variant explode — for BOTH the probe side
        # and the broadcast build — onto a single task (measured: ~1.0 s
        # of the query was those two 1-task stages).  Moving |rows|
        # pre-explosion rows once parallelizes both, and the exploded
        # probe side then needs NO (blk, variant) exchange at all.
        nbr = df.repartition(n_parts).select(
            F.col(block).alias("blk"),
            F.col(key).alias("k"),
            F.col(name).alias("nm"),
            F.explode(_deletion_neighborhood(name)).alias("variant"),
        )
        a = nbr.select("blk", "variant", F.col("k").alias("a_key"), F.col("nm").alias("a_name"))
        b = nbr.select("blk", "variant", F.col("k").alias("b_key"), F.col("nm").alias("b_name"))
        pairs = (
            a.join(b, ["blk", "variant"])
            .where(F.col("a_key") < F.col("b_key"))
            # a pair can share several variants (equal strings share them
            # all) — dedup BEFORE the levenshtein so the kernel runs once
            .select("blk", "a_key", "b_key", "a_name", "b_name")
            .distinct()
        )
        return (
            # threshold'd levenshtein (r11): the banded DP computes only the
            # 2·max_dist+1 diagonal and bails out early, O(len·k) instead of
            # O(len²) per pair, returning -1 when the distance exceeds the
            # threshold — for kept rows (0 ≤ dist ≤ max_dist) it returns the
            # exact distance, so the output is unchanged.
            pairs.withColumn("dist", F.levenshtein("a_name", "b_name", int(max_dist)))
            .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
            .select(F.col("blk").alias(block), "a_key", "b_key", "dist")
        )
    a = df.select(
        F.col(block).alias("blk"),
        F.col(key).alias("a_key"),
        F.col(name).alias("a_name"),
    ).repartition(n_parts)
    b = df.select(
        F.col(block).alias("blk"),
        F.col(key).alias("b_key"),
        F.col(name).alias("b_name"),
    )
    return (
        a.join(b, "blk")
        .where(F.col("a_key") < F.col("b_key"))
        # same banded-DP threshold as the neighborhood path (r11)
        .withColumn("dist", F.levenshtein("a_name", "b_name", int(max_dist)))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(F.col("blk").alias(block), "a_key", "b_key", "dist")
    )


def cross_source_overlap(documents: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Near-duplicate leakage between sources: for every (source, source)
    pair, how many verified near-dup document pairs cross it — the
    contamination audit a training pipeline runs before mixing corpora
    (a high off-diagonal count means two "independent" sources share
    content; a high diagonal means a source self-duplicates).

    Built on the same verified pair graph as :func:`ngram_jaccard_dedup`
    (MinHash-banded candidates → exact-Jaccard verify at ``NEAR_DUP_BP``),
    so the scale posture is unchanged: banded candidate generation, never
    all-pairs.  The source pair is ordered lexicographically (src_a <=
    src_b) so each unordered pair surfaces once.

    Output: src_a, src_b, n_pairs, n_docs (distinct documents of that
    source pair touched by a crossing near-dup edge).
    """
    if pairs is None:
        pairs = minhash_near_dups(documents)
    pairs = pairs.filter(_jaccard_at_least(NEAR_DUP_BP))
    src = documents.select("doc_id", "source")
    tagged = (
        pairs.select("doc_a", "doc_b")
        .join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.least("_sa", "_sb").alias("src_a"),
            F.greatest("_sa", "_sb").alias("src_b"),
        )
    )
    docs_touched = tagged.select(
        "src_a", "src_b", F.col("doc_a").alias("doc_id")
    ).union(tagged.select("src_a", "src_b", F.col("doc_b").alias("doc_id")))
    n_docs = docs_touched.groupBy("src_a", "src_b").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return (
        tagged.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .join(n_docs, ["src_a", "src_b"])
        .select("src_a", "src_b", "n_pairs", "n_docs")
    )


def cluster_size_histogram(documents: DataFrame, clusters: DataFrame | None = None) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters of size 1
    (unique docs), 2, 3, … the verified pair graph produces — the one
    table that says whether dedup is removing onesie-twosie noise or
    collapsing giant boilerplate families, and sizes the corpus shrink
    before :func:`near_dup_clusters` is applied.

    ``clusters``: a precomputed :func:`near_dup_clusters` output (the
    registry passes its memoized cluster silver — never re-run the CC
    fixpoint for a histogram).

    Scale: two tiny rollups over the |docs|-row cluster table
    (cluster → size, size → count)."""
    if clusters is None:
        clusters = near_dup_clusters(documents)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).cast("long").alias("n_docs"),
    )


def lsh_recall_audit(documents: DataFrame) -> DataFrame:
    """Measured recall of the banded MinHash candidate generator, per
    0.1-wide Jaccard band: on a stable 10 % hash sample of the corpus, compute EXACT
    all-pairs Jaccard (every pair sharing ≥1 shingle — zero-overlap pairs
    are never dedup-relevant) and check which of those pairs the 4×2 LSH
    banding actually surfaces.  The output — (jaccard band, true pairs,
    caught pairs, recall ppm) — is the tuning table for the banding
    scheme: recall should be ~1 above the dedup threshold and is ALLOWED
    to fall off below it (that miss rate is the whole point of banding).

    Scale: the sample is a deterministic hash slice (the doc_hash_sample
    contract), so the audit costs O(sample²) worst case but in practice
    the shingle equi-join only touches pairs with shared shingles; the
    sample shingle table is cached once and feeds the exact pairs, the
    sizes, and the signature aggregate."""
    from pulseboard_spark.operators.sampling import hash_bucket

    sample = (
        documents.withColumn("_b", hash_bucket(F.col("doc_id")))
        .filter(F.col("_b") < 10)
        .select("doc_id", "text")
    )
    sh = shingles(sample)
    sh.cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter_all = (
        sa.join(
            sb,
            (F.col("sa.s") == F.col("sb.s"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    exact = (
        inter_all.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("(i * 1000000) div (na + nb - i)").alias("jaccard_ppm"),
        )
    )
    caught = (
        minhash_candidates(minhash_signatures(sh))
        .select("doc_a", "doc_b")
        .withColumn("_c", F.lit(1))
    )
    joined = exact.join(caught, ["doc_a", "doc_b"], "left")
    return (
        joined.groupBy(
            F.expr("jaccard_ppm div 100000").alias("jaccard_band")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("long").alias("n_caught"),
        )
        .withColumn(
            "recall_ppm", F.expr("(n_caught * 1000000) div n_pairs")
        )
    )
