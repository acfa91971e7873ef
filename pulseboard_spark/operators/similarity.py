"""Embedding similarity search over the ``embeddings`` table.

Brute-force cosine top-k as the exact baseline (oracle-checked), plus an
LSH-bucketed variant as the 100 TB scale path.

The exact kernel is a **block-nested numpy join**: the small side (the
index) is broadcast to executors as (ids, matrix, norms, labels) parts and
each Arrow batch of query vectors is scored against every part with
vectorized float64 math — the classic brute-force ANN layout.  Scores are
bit-identical to a dimension-major fold (``_seq_gram``), the exact
left-fold order of a sequential ``aggregate`` and of the DuckDB oracle's
``list_dot_product`` (``_gram6``: BLAS plus a rounding-boundary audit).
The query side streams (mapInPandas over arbitrarily many partitions);
the index is one part under the broadcast ceiling and hash slices above
it (:func:`_index_parts`): the same kernel runs per part, and the union
is re-ranked once — or candidates are cut first with ``simhash_buckets``.

The Catalyst higher-order-function kernel (``_dot``) is kept for
composition inside plain Column expressions (LSH scale path) where the
pair count is already bucket-bounded.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulseboard_spark.functions.core import duck_round
from pulseboard_spark.session import local_df, plan_probe


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(embeddings: DataFrame) -> DataFrame:
    v = _as_double(F.col("embedding"))
    return embeddings.withColumn("v", v).withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _seq_gram(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """All-pairs dot products with dimension-major accumulation.

    ``C[i, j] = ((0 + A[i,0]·B[j,0]) + A[i,1]·B[j,1]) + …`` — the same FP
    operation order as a sequential left fold over the zipped vectors, so
    the result is bit-identical to ``aggregate(zip_with(a, b, *), 0.0, +)``
    and DuckDB's ``list_dot_product``.  d rank-1 updates of an n×m block:
    still vectorized C-speed, just not BLAS-reassociated.
    """
    C = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    if A.size == 0 or B.size == 0:  # empty side: 0×m / n×0 — nothing to fold
        return C
    # Cache-blocked over B rows: the d rank-1 updates re-touch the whole
    # (n, m) accumulator each pass, so an unblocked fold streams
    # d × n × m × 8 B of traffic through DRAM (16 TB for one 128k-vector
    # top-k — measured 4.8 s per 62-row block).  A ~1k-column block keeps
    # the accumulator and temp L2-resident (~4× faster, measured) while
    # C[i, j] still accumulates in the identical j-order — bit-identical
    # results, only the memory layout of the walk changes.
    blk = 1024
    tmp = np.empty((A.shape[0], min(blk, B.shape[0])), dtype=np.float64)
    for lo in range(0, B.shape[0], blk):
        Bb = B[lo : lo + blk]
        Cb = C[:, lo : lo + Bb.shape[0]]
        t = tmp[:, : Bb.shape[0]]
        for j in range(A.shape[1]):
            np.multiply(A[:, j][:, None], Bb[:, j][None, :], out=t)
            Cb += t
    return C


def _seq_norms(M: np.ndarray) -> np.ndarray:
    n = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(M.shape[1]):
        n += M[:, j] * M[:, j]
    return np.sqrt(n)


def _safe_norms(M: np.ndarray) -> np.ndarray:
    """Norms with zeros replaced by 1 — an all-zero vector scores cosine
    0.0 everywhere instead of NaN.  Every scored block uses it (index
    parts, IVF cells, LSH buckets, the queries themselves): the guard is
    part of the scoring contract, and a block that skipped it would
    return different rows for the same table depending on which physical
    path scored it."""
    n = _seq_norms(M)
    return np.where(n == 0, 1.0, n)


#: Rounding-boundary audit margin for :func:`_gram6`, in round-to-6 units
#: (1e-4 ⇒ cosines within 1e-10 of a ½·1e-6 rounding boundary are
#: recomputed with the exact fold).  The real BLAS-vs-fold divergence is
#: bounded by ~2·d·u·‖a‖‖b‖/(nₐ·n_b) ≈ 1.5e-14 in cosine units (u = 2⁻⁵³,
#: d = 64; Cauchy-Schwarz on the |a|·|b| fold, norms identical on both
#: paths), so the margin is ~10⁴× the bound while flagging only ~2e-4 of
#: pairs for the (cheap, d-op) exact recompute.
_GRAM6_AUDIT_TOL = 1e-4


def _gram6(A: np.ndarray, M: np.ndarray, nb: np.ndarray | None = None) -> np.ndarray:
    """Rounded cosine block — bit-identical to
    ``np.round(_seq_gram(A, M) / (na[:, None] * nb[None, :]), 6)`` but
    computed with BLAS (guide §4.2: ~9× on this host; the fold's d rank-1
    passes were the dominant task-time term of every broadcast kernel at
    the 16× tier).

    Exactness argument: the fold and the matmul differ by at most
    ~2·d·u·‖a‖‖b‖, so after the shared norm division the two cosines sit
    within ~1.5e-14 of each other — they can only ROUND differently when
    the value lies within that distance of a half-ulp-of-1e-6 boundary.
    Every entry within :data:`_GRAM6_AUDIT_TOL`·1e-6 of a boundary (a
    ~10⁴× safety margin) is recomputed with the exact sequential fold and
    divided by the identical norm product, so the array handed to
    ``np.round`` carries fold semantics wherever rounding could possibly
    disagree; everywhere else the boundary gap proves round(BLAS) ==
    round(fold).  NaN/±inf propagate identically on both paths (audit
    comparisons are False for NaN, and both paths yield the same NaN).
    """
    na = _safe_norms(A)
    if nb is None:
        nb = _safe_norms(M)
    if A.size == 0 or M.size == 0:
        return np.zeros((A.shape[0], M.shape[0]), dtype=np.float64)
    D = (A @ M.T) / (na[:, None] * nb[None, :])
    y = D * 1e6
    risky = np.abs(y - np.rint(y)) >= 0.5 - _GRAM6_AUDIT_TOL
    if risky.any():
        ii, jj = np.nonzero(risky)
        Af, Mf = A[ii], M[jj]
        dots = np.zeros(len(ii), dtype=np.float64)
        for j in range(A.shape[1]):  # the exact left fold, j-major
            dots += Af[:, j] * Mf[:, j]
        D[ii, jj] = dots / (na[ii] * nb[jj])
    return np.round(D, 6)


def _topk_order(row: np.ndarray, ids: np.ndarray, k: int, keep: np.ndarray) -> np.ndarray:
    """The ONE selection contract: (cosine desc, neighbor id asc), masked
    by ``keep``, truncated to k.

    O(n) candidate cut before the sort: only elements whose (already
    rounded) score ties or beats the k-th largest can appear in the
    top-k, so ``np.partition`` finds that threshold and the O(n log n)
    lexsort runs on the survivors only — at 128k neighbors per query the
    full-row lexsort was ~¼ of the exact-knn runtime.  Ties AT the
    threshold are all kept, so id-ordered tie-breaking sees every
    contender and the selection is exactly the unpartitioned ordering."""
    if k <= 0:  # degenerate selection: np.partition's kth would be out of bounds
        return np.empty(0, dtype=np.int64)
    idx = np.flatnonzero(keep)
    vals = row[idx]
    if idx.size > 4 * k + 64:
        kth = np.partition(vals, idx.size - k)[idx.size - k]
        cand = vals >= kth
        idx, vals = idx[cand], vals[cand]
    order = np.lexsort((ids[idx], -vals))[:k]
    return idx[order]


#: Ceiling for one driver-collected index part: ~200k × (64-dim f64 + id +
#: norm) ≈ 110 MB — the same order as Spark's own broadcast-join comfort
#: zone.  An index above it is hash-sliced into parts of at most this many
#: rows (:func:`_index_parts`) instead of OOMing the driver at 100× scale.
MAX_BROADCAST_INDEX_ROWS = 200_000

#: Rows per local-iterator fetch of the sliced index build: the driver JVM
#: holds one fetch whole while it streams to Python, so a fetch is bounded
#: like one default-ceiling part, not by the whole index.
_FETCH_ROWS = 200_000

#: Probe-side chunk for cogrouped cell kernels: bounds each task's score
#: matrix at ~CHUNK × |cell| doubles regardless of how many queries probe
#: the cell (at full probe that is ALL of them).
_SCORE_CHUNK = 4096

#: Per-task score-matrix budget (float64 cells) for EVERY gram-matrix
#: kernel: the query side is re-chunked so each `_seq_gram` block tops out
#: at ~64 MB (plus one same-shape temp inside the fold).  Without this an
#: Arrow batch of 10k query rows against a ceiling-sized 200k-row index
#: plans a 16 GB matrix PER TASK — tools/probes/amplified_bench.py at 128k
#: vectors (well inside the broadcast ceiling) had 32 concurrent workers
#: OOM-kill the local[32] JVM.  The fixed `_SCORE_CHUNK` alone is not
#: enough either: 4096 probe rows against a skewed 100k-member cell is a
#: 3.3 GB block, so cell kernels take min(_SCORE_CHUNK, budget).
_BLOCK_ELEMS = 8_000_000


def _chunk_step(m_rows: int, cap: int | None = None) -> int:
    """Query rows per gram block so rows × ``m_rows`` ≤ `_BLOCK_ELEMS`."""
    step = max(1, _BLOCK_ELEMS // max(m_rows, 1))
    return min(step, cap) if cap else step


def _query_chunks(pdf: pd.DataFrame, m_rows: int, cap: int | None = None):
    step = _chunk_step(m_rows, cap)
    for lo in range(0, len(pdf), step):
        yield pdf.iloc[lo : lo + step]


def _budgeted(batches, m_rows: int):
    """Re-chunk an Arrow batch iterator to the score-matrix budget — the
    one-line guard every broadcast block kernel runs its loop over."""
    for pdf in batches:
        yield from _query_chunks(pdf, m_rows)


def _index_too_big(index_df: DataFrame) -> bool:
    limit = MAX_BROADCAST_INDEX_ROWS
    # LIMIT-probe: one early-stopping job, nothing shipped to the driver
    # but the single count (collecting limit+1 Row objects just for len()
    # would move ~limit rows driver-side on every call)
    return plan_probe(
        index_df,
        f"guard:{limit}",
        lambda: index_df.select(F.lit(1).alias("one")).limit(limit + 1).count() > limit,
    )


def _index_cols(labeled: bool) -> list[str]:
    return ["vec_id", "embedding"] + (["label"] if labeled else [])


def _slice_arrays(rows, sizes: dict, labeled: bool, slice_of=lambda r: 0) -> list:
    """File index rows, as they stream in, into per-slice arrays
    preallocated from ``sizes`` ({slice: n_rows}); returns (ids, M,
    labels-or-None) per slice in slice order.  Only arrays are kept, so a
    streamed input never has more than one batch of Row objects alive."""
    ids = {s: np.empty(n, np.int64) for s, n in sizes.items()}
    labels = {s: np.empty(n, np.int64) for s, n in sizes.items()} if labeled else {}
    M: dict = {}
    fill = dict.fromkeys(sizes, 0)
    for r in rows:
        s = slice_of(r)
        i = fill[s]
        fill[s] = i + 1
        ids[s][i] = r[0]
        if s not in M:
            M[s] = np.empty((sizes[s], len(r[1])), dtype=np.float64)
        M[s][i] = r[1]
        if labeled:
            labels[s][i] = r[2]
    # an empty index must keep a 2-D shape: (0,)-shaped M breaks every kernel
    empty = np.zeros((0, 0), dtype=np.float64)
    return [(ids[s], M.get(s, empty), labels.get(s)) for s in sorted(sizes)]


def _part(sc, ids, M, labels):
    """Broadcast one index part: (ids, M, norms, labels-or-None)."""
    return sc.broadcast((ids, M, _safe_norms(M), labels))


def _index_parts(index_df: DataFrame, labeled: bool = False) -> list:
    """The index side as a list of broadcast parts — the only index builder.

    At or under :data:`MAX_BROADCAST_INDEX_ROWS` (the LIMIT-probe verdict
    of :func:`_index_too_big`) the whole index is ONE part; above it the
    rows are hash-sliced on ``vec_id`` into parts targeting 3/4 fill, so
    xxhash imbalance stays under the ceiling, and empty slices are
    dropped.  The sliced build reads the index twice whatever the part
    count: an id-hash pass sizes the slices, and one local-iterator pass
    files each row into its slice's arrays.  Part membership cannot affect
    results: every index row is scored against every query exactly once
    whichever part holds it.

    Memoized per session plan (:func:`~pulseboard_spark.session.plan_probe`,
    tag carries the ceiling): repeated queries share one collect and one
    executor broadcast per part.  The driver holds every part for the
    session (~100 MB per ceiling-sized part) — the honest bound on the
    exact kernels is driver memory, a few million index rows; beyond that
    exact all-pairs is the wrong tool and the IVF/LSH approximate paths
    are the answer."""
    ceiling = MAX_BROADCAST_INDEX_ROWS

    def build():
        sc = index_df.sparkSession.sparkContext
        df = index_df.select(*_index_cols(labeled))
        if not _index_too_big(index_df):
            rows = df.collect()
            return [_part(sc, *p) for p in _slice_arrays(rows, {0: len(rows)}, labeled)]
        # the id hashes alone (one Arrow job) size every slice; numpy's %
        # by a positive divisor is non-negative, exactly Spark's pmod
        h = df.select(F.xxhash64("vec_id").alias("h")).toPandas()["h"].to_numpy()
        n_parts = max(2, math.ceil(len(h) / max(ceiling * 3 // 4, 1)))
        sizes = {s: int(c) for s, c in enumerate(np.bincount(h % n_parts)) if c}
        # then one pass streams each row into its slice's arrays
        sliced = df.withColumn("_slice", F.pmod(F.xxhash64("vec_id"), F.lit(n_parts)))
        rows = sliced.coalesce(max(1, math.ceil(len(h) / _FETCH_ROWS))).toLocalIterator()
        return [_part(sc, *p) for p in _slice_arrays(rows, sizes, labeled, slice_of=lambda r: r[-1])]

    return plan_probe(index_df, f"index:{ceiling}:{labeled}", build)


def _batch_matrix(series: pd.Series) -> np.ndarray:
    return np.array([list(v) for v in series], dtype=np.float64)


_TOPK_SCHEMA = {
    False: "vec_id bigint, neighbor_id bigint, cosine double, rank bigint",
    True: "vec_id bigint, label bigint, neighbor_id bigint, neighbor_label bigint, "
    "cosine double, rank bigint",
}

_PAIRS_SCHEMA = "vec_a bigint, vec_b bigint, cosine double"


def _topk_block(pdf: pd.DataFrame, ids, M, norms, labels, k: int) -> pd.DataFrame:
    """The ONE top-k block kernel: score a query frame against one index
    block (:func:`_gram6`) and keep each query's top-k (:func:`_topk_order`),
    self excluded — with ``labels``, different-label neighbors only.
    ``rank`` is the position within this block; callers scoring several
    blocks re-rank the union with :func:`_merge_topk`."""
    A = _batch_matrix(pdf["embedding"])
    a_ids = pdf["vec_id"].to_numpy(np.int64)
    a_lbl = pdf["label"].to_numpy(np.int64) if labels is not None else None
    C = _gram6(A, M, nb=norms)
    qi, nj, rank = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for i in range(A.shape[0]):
        keep = ids != a_ids[i]
        if labels is not None:
            keep &= labels != a_lbl[i]
        order = _topk_order(C[i], ids, k, keep)
        qi.append(np.full(order.size, i, dtype=np.int64))
        nj.append(order)
        rank.append(np.arange(1, order.size + 1, dtype=np.int64))
    qi, nj = np.concatenate(qi), np.concatenate(nj)
    out = {"vec_id": a_ids[qi]}
    if labels is not None:
        out["label"] = a_lbl[qi]
    out["neighbor_id"] = ids[nj]
    if labels is not None:
        out["neighbor_label"] = labels[nj]
    out["cosine"] = C[qi, nj]
    out["rank"] = np.concatenate(rank)
    return pd.DataFrame(out)


def _pairs_block(pdf: pd.DataFrame, ids, M, norms, threshold: float, canonical: bool):
    """The ONE threshold block kernel: every (query, index) pair whose
    rounded cosine reaches ``threshold``; ``canonical`` keeps only
    vec_a < vec_b, so over a self-join each unordered pair is emitted
    once — in the part holding vec_b — and a union of parts needs no
    dedup."""
    A = _batch_matrix(pdf["embedding"])
    a_ids = pdf["vec_id"].to_numpy(np.int64)
    C = _gram6(A, M, nb=norms)
    hit = C >= threshold
    if canonical:
        hit &= a_ids[:, None] < ids[None, :]
    ii, jj = np.nonzero(hit)
    return pd.DataFrame({"vec_a": a_ids[ii], "vec_b": ids[jj], "cosine": C[ii, jj]})


def _scan(queries: DataFrame, parts: list, rows_fn, schema: str) -> DataFrame:
    """Stream ``queries`` past every index part: one mapInPandas per part,
    its batches re-chunked to the score budget, each chunk handed to
    ``rows_fn(pdf, ids, M, norms, labels)``; the per-part outputs are
    unioned (one part: no union)."""
    out = None
    for part in parts:

        def block(batches, b=part):
            ids, M, norms, labels = b.value
            for pdf in _budgeted(batches, M.shape[0]):
                yield rows_fn(pdf, ids, M, norms, labels)

        scanned = queries.mapInPandas(block, schema=schema)
        out = scanned if out is None else out.unionByName(scanned)
    return out


def _merge_topk(cand: DataFrame, k: int, labeled: bool = False) -> DataFrame:
    """The ONE (cosine desc, neighbor_id asc) merge: re-rank the union of
    per-block top-k candidates to the global top-k.  Lossless: a global
    top-k member is by definition inside its own block's top-k."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    cols = ["vec_id", "label", "neighbor_id", "neighbor_label"] if labeled else ["vec_id", "neighbor_id"]
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(*cols, "cosine", "rank")
    )


def _exact_topk(embeddings: DataFrame, k: int, parts: list, labeled: bool = False) -> DataFrame:
    cand = _scan(
        embeddings.select(*_index_cols(labeled)),
        parts,
        lambda pdf, *part: _topk_block(pdf, *part, k),
        _TOPK_SCHEMA[labeled],
    )
    return cand if len(parts) == 1 else _merge_topk(cand, k, labeled)


def cosine_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self-pairs excluded).

    Deterministic selection: rank on (cosine rounded to 6, neighbor id) —
    the rounding makes the ordering engine-portable, the id breaks ties.
    Output: vec_id, neighbor_id, cosine, rank.

    Physical shape: broadcast the index matrix, stream query batches
    through a numpy block kernel (see module docstring) — no cross join,
    no per-pair expression evaluation, top-k selected inside the batch so
    only k rows per query ever leave the kernel.  Above the broadcast
    ceiling the index is several parts (:func:`_index_parts`): each part
    emits at most k candidates per query and one window merges them —
    same exact answer, one bounded broadcast per part.  (An earlier
    over-ceiling route, full-probe IVF, replicated every query to every
    cell — ~√n data amplification that OOMed the 64x-amplified tier at
    128k vectors.)
    """
    return _exact_topk(embeddings, k, _index_parts(embeddings))


def cosine_pairs_above(embeddings: DataFrame, threshold: float) -> DataFrame:
    """All pairs (vec_a < vec_b) with rounded cosine ≥ threshold — the
    exact kernel behind embedding-cosine near-dup.  Same index parts and
    query scan as :func:`cosine_topk`; the canonical a<b mask emits each
    pair once, so the per-part union needs no merge."""
    return _scan(
        embeddings.select("vec_id", "embedding"),
        _index_parts(embeddings),
        lambda pdf, ids, M, norms, _labels: _pairs_block(pdf, ids, M, norms, threshold, True),
        _PAIRS_SCHEMA,
    )


#: Held-out split of the embedding table: ``vec_id % EVAL_MOD == 0`` is
#: the eval/query set of :func:`embedding_decontamination` and the PQ search.
EVAL_MOD = 10


def embedding_decontamination(embeddings: DataFrame) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the n-gram `corpus.decontaminate`: vectors with ``vec_id % EVAL_MOD
    == 0`` form the held-out eval set; a training vector is contaminated
    when its cosine to ANY eval vector reaches 0.35 (paraphrased
    eval leakage that shares no n-gram).  Returns contaminated training
    vectors with their closest-eval cosine and the match count.

    Physical shape: the eval set (a few percent) is the index — its parts
    built over the EVAL side only (scoring all-pairs over the full table
    and filtering after would waste ~5× the compute on train×train and
    eval×eval cosines nobody reads); training vectors stream through the
    threshold block kernel, and each (train, eval) pair is seen in
    exactly one part, so the union needs no dedup.
    """
    evals = embeddings.filter(F.col("vec_id") % EVAL_MOD == 0)
    train = embeddings.filter(F.col("vec_id") % EVAL_MOD != 0)
    hits = _scan(
        train.select("vec_id", "embedding"),
        _index_parts(evals),
        lambda pdf, ids, M, norms, _labels: _pairs_block(pdf, ids, M, norms, 0.35, False),
        _PAIRS_SCHEMA,
    )
    return hits.groupBy(F.col("vec_a").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("cosine").alias("max_eval_cosine"),
    )


def label_knn_accuracy(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Diagnostic: per-label majority agreement of the top-k neighbors —
    a cheap quality signal for the ANN variants against the exact kernel."""
    topk = cosine_topk(embeddings, k)
    lbl = embeddings.select("vec_id", "label")
    j = (
        topk.join(lbl.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "n_label"), "neighbor_id")
        .join(lbl, "vec_id")
        # agreement is only assessable when BOTH endpoints carry a label;
        # the top-k pool itself stays label-free (a null-label vector is
        # still someone's nearest neighbor) — only the pair is excluded.
        # Without this, Spark's NULL == NULL comparison makes n_same a
        # nullable sum (float64 image) while the oracle's CASE yields 0
        # (oracle-fuzz nulls profile).
        .filter(F.col("label").isNotNull() & F.col("n_label").isNotNull())
    )
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.sum((F.col("label") == F.col("n_label")).cast("long")).alias("n_same"),
        )
        # integer ppm — rounded doubles of exact rationals drift across
        # engines at hash time (round-1 failure class)
        .select("label", "pairs", "n_same", F.expr("(n_same * 1000000) div pairs").alias("same_label_rate_ppm"))
    )


def ivf_index(embeddings: DataFrame) -> tuple[DataFrame, "object"]:
    """IVF coarse quantizer: deterministic k-means cells over the corpus.

    Returns ``(assigned, centroids_bc)`` — the inverted lists as an
    (vec_id, embedding, cell) DataFrame, plus the centroid matrix broadcast
    ((ids, C, norms), an exact index part's layout without labels).

    Construction is Spark-shaped end to end:

    * **init**: the ≈√n vectors with smallest md5(vec_id) — a
      deterministic hash-sample (no driver RNG), same trick as the LSH
      planes.  √n cells is the classic IVF balance point (√n cells × √n
      vectors/cell).
    * **two Lloyd rounds**: assign = broadcast-centroid argmax
      inside an Arrow-batched kernel (cells are broadcast-class by
      construction: √n of them); update = per-cell mean via grouped
      applyInPandas (one shuffle on cell, ~√n groups).  Members are
      averaged in vec_id order so centroids are bit-deterministic.

    At 100 TB the assign pass stays embarrassingly parallel (centroids
    broadcast once per round) and the update shuffle moves one d-vector
    per input row — the train set would be a sample, and the final
    assignment one extra pass.  Cell ids are argmax indices into the
    hash-ordered seed list, stable across runs.
    """
    n_cells = max(int(embeddings.count() ** 0.5), 1)

    seeds = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells)
        .collect()
    )
    sc = embeddings.sparkSession.sparkContext
    if not seeds:
        # Empty corpus (an empty slice is routine at warehouse scale):
        # a zero-cell index — downstream kNN probes nothing and returns
        # empty, instead of the 1-D seed matrix crashing the norm kernel.
        C = np.zeros((0, 1))
        cent_bc = sc.broadcast((np.arange(0), C, _safe_norms(C)))
        empty = (
            embeddings.select("vec_id", "embedding")
            .withColumn("cell", F.lit(0).cast("bigint"))
            .limit(0)
        )
        return empty, cent_bc
    C = np.array([list(r[1]) for r in seeds], dtype=np.float64)
    cent_bc = sc.broadcast((np.arange(len(C)), C, _safe_norms(C)))

    def assign(batches):
        _ids, CM, cn = cent_bc.value
        for pdf in _budgeted(batches, CM.shape[0]):
            A = _batch_matrix(pdf["embedding"])
            an = _safe_norms(A)
            S = _seq_gram(A, CM) / (an[:, None] * cn[None, :])
            pdf = pdf.copy()
            pdf["cell"] = np.argmax(S, axis=1).astype(np.int64)  # first max wins: lowest cell id
            yield pdf[["vec_id", "embedding", "cell"]]

    schema = "vec_id bigint, embedding array<float>, cell bigint"
    base = embeddings.select("vec_id", "embedding")

    def mean_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        M = _batch_matrix(pdf["embedding"])
        return pd.DataFrame({"cell": [int(pdf["cell"].iloc[0])], "centroid": [M.mean(axis=0).tolist()]})

    for _ in range(2):
        assigned = base.mapInPandas(assign, schema=schema)
        rows = sorted(
            assigned.groupBy("cell").applyInPandas(mean_cell, schema="cell bigint, centroid array<double>").collect()
        )
        # empty cells keep their previous centroid (rows only cover non-empty)
        for cell, centroid in rows:
            C[cell] = centroid
        cent_bc = sc.broadcast((np.arange(len(C)), C, _safe_norms(C)))

    return base.mapInPandas(assign, schema=schema), cent_bc


#: IVF cells each query probes (of ≈√n); a value at or above the cell
#: count probes every cell, which makes :func:`ivf_topk` exact.
IVF_NPROBE = 5


def ivf_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k cosine via IVF: probe the ``IVF_NPROBE`` nearest
    cells, exact-rank inside them.  The scale path that avoids
    broadcasting the index entirely — candidate generation is a shuffle
    on cell id, and no driver collect.

    Physical shape: queries explode to (query, probe_cell) rows; a
    **cogrouped** applyInPandas on cell runs the exact numpy block kernel
    between the cell's probing queries and its member vectors, emitting at
    most k candidates per (query, cell); a final window keeps the global
    top-k.  Scoring/rounding/tie-break are identical to :func:`cosine_topk`,
    so at full probe the result is exactly the brute-force answer (pinned
    by test) — recall loss comes only from unprobed cells.
    """
    assigned, cent_bc = ivf_index(embeddings)
    nprobe = IVF_NPROBE

    def probe(batches):
        _ids, CM, cn = cent_bc.value
        npb = min(nprobe, CM.shape[0])
        for pdf in _budgeted(batches, CM.shape[0]):
            A = _batch_matrix(pdf["embedding"])
            an = _safe_norms(A)
            S = _seq_gram(A, CM) / (an[:, None] * cn[None, :])
            # nprobe best cells per query; stable argsort is deterministic
            # under ties
            order = np.argsort(-S, axis=1, kind="stable")[:, :npb]
            m = len(pdf)
            rep = np.repeat(np.arange(m), npb)
            emb = pdf["embedding"].to_numpy()
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), npb),
                "embedding": list(emb[rep]),  # one vectorized gather
                "cell": order.ravel().astype(np.int64),
            })

    probes = embeddings.select(*_index_cols(False)).mapInPandas(
        probe, schema="vec_id bigint, embedding array<float>, cell bigint"
    )

    def score_cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame()  # no rows, no columns: Spark reads an empty group
        M = _batch_matrix(right["embedding"])
        ids = right["vec_id"].to_numpy(np.int64)
        norms = _safe_norms(M)
        # chunk the probe side: at full probe the left frame holds every
        # query — chunking bounds the score matrix per task (budget-capped:
        # a skewed 100k-member cell would make 4096 fixed rows a 3 GB block)
        return pd.concat(
            [
                _topk_block(chunk, ids, M, norms, None, k)
                for chunk in _query_chunks(left, M.shape[0], cap=_SCORE_CHUNK)
            ],
            ignore_index=True,
        )

    cand = (
        probes.groupBy("cell")
        .cogroup(assigned.groupBy("cell"))
        .applyInPandas(score_cell, schema=_TOPK_SCHEMA[False])
    )
    return _merge_topk(cand, k)


def simhash_buckets(embeddings: DataFrame, n_planes: int = 8, seed: int = 0) -> DataFrame:
    """Scale path: random-hyperplane LSH buckets.

    Deterministic "random" hyperplanes: plane j's component for dimension i
    is derived from md5(j:i) — reproducible across engines and runs without
    a driver-side RNG.  Vectors sharing a bucket signature are candidate
    neighbors; expected bucket size n/2^planes keeps the per-bucket join
    quadratic cost bounded.

    ``seed`` selects an independent plane family (the multi-table LSH
    recall knob — :func:`ann_topk` with ``n_tables``>1 unions tables
    seeded 0..T-1).  Seed 0 keeps the historical md5("j:i") key exactly,
    so every pre-existing bucket assignment and recall record is
    bit-stable."""
    e = with_norm(embeddings)
    sig = None

    def plane_sign(key: str):
        # closure factory, NOT a default arg: pyspark derives the number of
        # lambda variables from the callable's arity, so `lambda _x, i,
        # key=key` would bind THREE higher-order variables and fail analysis
        return lambda _x, i: F.when(
            (F.conv(F.substring(F.md5(F.concat(F.lit(key), i.cast("string"))), 1, 6), 16, 10).cast("long") % 2) == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))

    for j in range(n_planes):
        key = f"{j}:" if seed == 0 else f"t{seed}:{j}:"
        # hash-derived ±1 pattern per dimension, folded against the vector
        proj = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.transform(F.col("v"), plane_sign(key)),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0"))
        sig = bit if sig is None else F.concat(sig, bit)
    return e.withColumn("bucket", sig).select("vec_id", "v", "norm", "bucket")


def ann_topk(embeddings: DataFrame, k: int = 5, n_planes: int = 6, n_tables: int = 1) -> DataFrame:
    """Approximate top-k: exact cosine ranking within LSH buckets only.

    Recall < 1 by construction (documented approximation); the exact twin
    is cosine_topk.  Physical shape: ONE shuffle on the bucket signature,
    then the same vectorized numpy block kernel as the exact path runs
    all-pairs INSIDE each bucket and emits k rows per query — no join, no
    window, no per-pair Catalyst expression evaluation (the earlier
    bucket self-join scored each pair with a per-row array fold: ~6×
    slower at sf0.1).  Scoring/rounding/tie-break identical to
    :func:`cosine_topk`, so results within a bucket are exact.

    ``n_tables`` is the standard multi-table LSH recall knob: T
    independent plane families (seeds 0..T-1) each produce per-bucket
    top-k lists, merged by (cosine desc, neighbor_id) over the union.
    Recall is deterministically monotone in T — a true top-k neighbor
    found by ANY table survives the merge, because at most k-1 corpus
    vectors outscore it (pinned by test).  Cost: T bucket shuffles plus
    one merge shuffle over ≤ n·k·T rows; n_tables=1 is byte-identical to
    the historical single-table output (no merge stage in the plan)."""
    if n_tables > 1:
        tables = [_ann_topk_single(embeddings, k, n_planes, seed=t) for t in range(n_tables)]
        u = tables[0]
        for t in tables[1:]:
            u = u.unionByName(t)
        # same (vec, neighbor) pair scores identically in every table, so
        # any-value dedupe is exact; re-rank with the one selection contract
        return _merge_topk(u.groupBy("vec_id", "neighbor_id").agg(F.max("cosine").alias("cosine")), k)
    return _ann_topk_single(embeddings, k, n_planes, seed=0)


def _ann_topk_single(embeddings: DataFrame, k: int, n_planes: int, seed: int) -> DataFrame:
    e = simhash_buckets(embeddings, n_planes, seed=seed).select(
        "vec_id", F.col("v").alias("embedding"), "bucket"
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        M = _batch_matrix(pdf["embedding"])
        ids = pdf["vec_id"].to_numpy(np.int64)
        norms = _safe_norms(M)
        # budget the query side against the whole bucket: a skewed bucket
        # (near-duplicate-heavy corpora collapse hyperplane signs) would
        # otherwise plan an unbounded |bucket|^2 matrix in one shot
        return pd.concat(
            [_topk_block(chunk, ids, M, norms, None, k) for chunk in _query_chunks(pdf, M.shape[0])],
            ignore_index=True,
        )

    return e.groupBy("bucket").applyInPandas(bucket_topk, schema=_TOPK_SCHEMA[False])


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean embedding (centroid) — the prototype/k-means-step
    primitive of embedding-space analysis, distributed.

    Shape at scale: `posexplode` turns the vectors into (label, dim, value)
    triples whose per-(label, dim) mean partial-aggregates map-side, so
    the shuffle carries |labels|·dim rows, never the fleet of vectors; the
    centroid is reassembled with an ordered collect over exactly `dim`
    rows per label.  Component values are quantized to integer micro-units
    (``round(v·10⁶)`` as BIGINT) at ingestion, so the sum, the mean
    (truncating integer division — Spark ``div`` ≡ DuckDB ``//`` on
    negatives too) and therefore the hash are exact on any engine — no
    float rounding survives to the surface (round-1 drift class).
    """
    triples = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        # duck_round(x, 0): half-away-from-zero, matching DuckDB round();
        # an exact .5 after f32→double·10⁶ is a measure-zero event but the
        # two engines must still agree on it
        duck_round(F.col("v").cast("double") * F.lit(1000000.0), 0).cast("long").alias("vu"),
    )
    per_dim = triples.groupBy("label", "pos").agg(
        F.sum("vu").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).select("label", "pos", F.expr("s div n").alias("m"), "n")
    # cache(): the centroid table is |labels| rows but costs a full corpus
    # posexplode to build, and TWO declared queries consume it in a session
    # (label_centroids itself and label_noise_suspects' broadcast side) —
    # CacheManager dedupes by canonical plan, so the consumers share one
    # build (same lifecycle convention as centroid_distances' per_dim /
    # doc_lm_score's lm_pair: lazy, materialized by the first action)
    return per_dim.groupBy("label").agg(
        F.min("n").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda x: x.m
        ).alias("centroid_micro"),
    ).cache()


def embedding_dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension embedding QA: n, mean, variance, min, max of every
    coordinate across the corpus — the table that catches dead dimensions
    (zero variance), saturated ones (extreme means), and scale drift
    between embedding-model versions before they poison ANN recall.

    All in integer micro-units (the ``label_centroids`` quantization):
    variance = (n·Σx² − (Σx)²) // n² in micro², computed in DECIMAL(38,0)
    / HUGEINT so nothing overflows int64 even at 1e9+ vectors where
    Σx² ≈ 1e21 — the same silent-wrap class the basket-lift fix closed.

    Scale: posexplode to (dim, value) triples, ONE map-side-combined
    rollup to exactly ``dim`` rows — no window, no second pass."""
    triples = embeddings.select(F.posexplode("embedding").alias("pos", "v")).select(
        "pos",
        duck_round(F.col("v").cast("double") * F.lit(1000000.0), 0)
        .cast("long")
        .alias("vu"),
    )
    dec = F.col("vu").cast("decimal(38,0)")
    return (
        triples.groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec).alias("_s"),
            F.sum(dec * F.col("vu")).alias("_ssq"),
            F.min("vu").alias("min_micro"),
            F.max("vu").alias("max_micro"),
        )
        .select(
            F.col("pos").alias("dim"),
            "n",
            F.expr("CAST(_s div n AS BIGINT)").alias("mean_micro"),
            F.expr("CAST((n * _ssq - _s * _s) div (n * n) AS BIGINT)").alias(
                "var_micro2"
            ),
            "min_micro",
            "max_micro",
        )
    )


def label_noise_suspects(embeddings: DataFrame) -> DataFrame:
    """Mislabel candidates: per label, the 10 vectors FURTHEST
    (squared euclidean) from their own label's centroid — the standard
    first-pass label-noise audit over an embedded training set.

    The centroid table (|labels|·dim) broadcasts back onto the vectors, so
    the fleet of embeddings is never shuffled for the distance — each row
    computes its distance in one ordered array fold.  Vector components
    and centroids live in integer micro-units (see :func:`label_centroids`),
    so the squared distance is an exact BIGINT in micro² — engine-exact
    hash and a deterministic (distance desc, vec_id) top-N.
    """
    cents = label_centroids(embeddings).select("label", "centroid_micro")
    qx = lambda x: duck_round(x.cast("double") * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    # square in DECIMAL(38,0), not BIGINT: a |component| ≳ 3e3 makes the
    # micro diff square past int64 and ANSI-crash the fold (oracle-fuzz
    # edges profile); the final long cast keeps the output schema and
    # fails loudly — in both engines — only when the distance itself
    # exceeds int64
    # quantize ONCE per element: HOF lambdas get no common-subexpression
    # elimination, so writing (qx(x) - y)·(qx(x) - y) inline evaluated the
    # duck_round quantization twice per component (r10: ~15% of the scan);
    # binding the diff to a lambda variable squares an already-computed
    # value — same types (decimal(38,0) · BIGINT), bit-identical result
    dist = F.aggregate(
        F.zip_with(
            F.transform("embedding", qx),
            F.col("centroid_micro"),
            lambda x, y: x - y,
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, d: acc + d.cast("decimal(38,0)") * d,
    ).cast("long")
    scored = embeddings.join(F.broadcast(cents), "label").select(
        "label", "vec_id", dist.alias("sq_dist_micro2")
    )
    w = Window.partitionBy("label").orderBy(F.desc("sq_dist_micro2"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 10)
    )


def hard_negatives(embeddings: DataFrame) -> DataFrame:
    """Hard-negative mining: per vector, the 3 most-similar vectors with a
    DIFFERENT label — the contrastive-training primitive (the negatives
    that actually teach the model something sit right at the decision
    boundary).

    Physical shape: the label-masked exact kernel of :func:`cosine_topk`
    over :func:`_index_parts` — one memoized broadcast part under the
    ceiling, hash-sliced parts plus one merge window above it; the query
    side streams, nothing else moves.  (r10, guide §2.4/§3.1: the
    full-probe IVF route it replaced replicated every query vector to
    every cell, a √n data amplification that shuffled ~80 MB of
    embeddings at bench scale; measured 2.1-3.1 s → ~0.6 s, same rows.)
    Scoring/rounding/tie-break are the one :func:`_topk_block` contract
    (``_gram6`` + ``_topk_order``) — pinned by TestHardNegatives and the
    DuckDB oracle.

    NULL-label vectors are excluded entirely: a query without a label has
    no "different label" to mine against, and a candidate without a label
    cannot be asserted different (the oracle mirrors the gate; the numpy
    kernel's None-vs-int mask diverged from SQL's NULL-strict <> under
    the oracle-fuzz nulls profile).
    """
    # Defense in depth: the registry loader already drops NULL embeddings,
    # but a direct caller with NULL-embedding rows would crash the numpy
    # kernels (list(None) TypeError — oracle-fuzz nulls profile); gate both
    # here to match the oracle's combined WHERE.
    embeddings = embeddings.filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    )
    return _exact_topk(embeddings, 3, _index_parts(embeddings, labeled=True), labeled=True)


def hard_negatives_broadcast(embeddings: DataFrame) -> DataFrame:
    """Broadcast-kernel twin of :func:`hard_negatives` — exact and fast for
    broadcast-class inputs, but collects the whole table to the driver:
    kept as the equivalence oracle for the memoized index parts, NOT the
    declared query path.

    Same block kernel as :func:`cosine_topk` with a label mask inside the
    batch: similarity never leaves the kernel for same-label pairs.
    Selection is deterministic on (cosine rounded to 6 desc, neighbor_id).
    """
    # own (unmemoized) one-part collect so the twin stays an independent
    # index build
    rows = embeddings.select(*_index_cols(True)).collect()
    sc = embeddings.sparkSession.sparkContext
    parts = [_part(sc, *p) for p in _slice_arrays(rows, {0: len(rows)}, True)]
    return _exact_topk(embeddings, 3, parts, labeled=True)


def embedding_norm_outliers(embeddings: DataFrame) -> DataFrame:
    """Embedding-table QA: per label, robust (median/MAD) outlier stats
    over the squared L2 norm — degenerate vectors (zero, clipped,
    mis-scaled, fp-overflowed) show up as norm outliers long before any
    downstream similarity job notices them.

    The squared norm is a LEFT-TO-RIGHT double fold over the vector
    (``F.aggregate`` — JVM-side, no Python seam), rounded at 6 places
    with DuckDB semantics (:func:`duck_round`) — the exact op sequence
    the oracle's ``list_dot_product(v, v)`` performs, so the surface is
    engine-identical like the cosine kernels above.  Everything after
    that is :func:`~pulseboard_spark.operators.mlprep.mad_outliers` on
    (label, sqnorm): one histogram pass, discrete medians, integer
    outlier counts.

    Output: label, n_vecs, med_sqnorm, mad_sqnorm, n_outliers,
    outlier_frac_bp.
    """
    from pulseboard_spark.operators.mlprep import mad_outliers

    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    vals = embeddings.select(
        F.col("label").alias("type"), duck_round(sq, 6).alias("value")
    )
    out = mad_outliers(vals)
    return out.select(
        F.col("type").alias("label"),
        F.col("n_values").alias("n_vecs"),
        F.col("median_value").alias("med_sqnorm"),
        F.col("mad_value").alias("mad_sqnorm"),
        "n_outliers",
        "outlier_frac_bp",
    )


# --- Product quantization (PQ) ----------------------------------------------
#
# The memory-bound end of the ANN ladder: IVF (above) prunes WHICH vectors a
# query scores; PQ shrinks WHAT is stored per vector — d float32s become m
# one-byte codes (64 dims -> 8 bytes at the defaults, 32x), so a 100 TB
# embedding corpus compresses to ~3 TB of codes that fit hot in executor
# memory while the raw vectors stay in cold parquet.  Search is asymmetric
# distance computation (ADC): one small lookup table per (query, subspace),
# then a gather-sum over the codes — no floats from the corpus touched at
# query time.  Jegou et al., "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011) — public method, reimplemented Spark-first.


#: PQ shape: ``PQ_M`` subspaces of ``PQ_K`` codes each (one byte per
#: code), trained with ``PQ_ITERS`` Lloyd rounds.
PQ_M = 8
PQ_K = 256
PQ_ITERS = 2


def pq_train_codebooks(embeddings: DataFrame) -> np.ndarray:
    """Train the (m, k, d/m) PQ codebooks (m = ``PQ_M``, k = ``PQ_K``) —
    deterministic k-means per subspace, same recipe as
    :func:`ivf_index`: seeds are the ``k`` vectors with smallest
    md5(vec_id) (no driver RNG), ``PQ_ITERS`` Lloyd rounds assign
    distributed (broadcast codebooks, Arrow kernel) and update via
    per-(subspace, code) means averaged in vec_id order so every centroid
    is bit-deterministic.

    Scale: each round is one pass over the corpus plus a shuffle whose
    payload is exactly one subvector per (row, subspace) — the same bytes
    a d-dim shuffle would move, split m ways; the m·k codebook table is
    driver-size (m·k·d/m = k·d doubles) by construction.  On 100 TB the
    train pass runs on a hash-sample (caller passes ``embeddings.sample``)
    and only the final assignment sweeps the full corpus.
    """
    m, k = PQ_M, PQ_K
    seeds = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .collect()
    )
    if not seeds:
        # Empty corpus: degenerate (m, k, 1) codebook — assignment and
        # search over zero rows never slice it, and pq_topk's empty-query
        # early return produces the empty result.
        return np.zeros((m, k, 1))
    S = np.array([list(r[1]) for r in seeds], dtype=np.float64)
    d = S.shape[1]
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    dsub = d // m
    # C[j] = centroids of subspace j, initialised from the seed slices
    C = np.stack([S[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    if len(seeds) < k:  # tiny corpus: fewer seeds than codes — tile
        reps = -(-k // len(seeds))
        C = np.tile(C, (1, reps, 1))[:, :k, :]
    sc = embeddings.sparkSession.sparkContext
    base = embeddings.select("vec_id", "embedding")

    for _ in range(PQ_ITERS):
        cb = sc.broadcast(C)

        def subassign(batches):
            CB = cb.value
            for pdf in batches:
                A = _batch_matrix(pdf["embedding"])
                ids = pdf["vec_id"].to_numpy(np.int64)
                out = []
                for j in range(m):
                    X = A[:, j * dsub : (j + 1) * dsub]
                    # ||x-c||^2 = ||x||^2 - 2<x,c> + ||c||^2; argmin over
                    # codes — first min wins, ties resolve to lowest code
                    D = (
                        (X * X).sum(axis=1)[:, None]
                        - 2.0 * X @ CB[j].T
                        + (CB[j] * CB[j]).sum(axis=1)[None, :]
                    )
                    code = np.argmin(D, axis=1).astype(np.int64)
                    out.append(
                        pd.DataFrame(
                            {
                                "vec_id": ids,
                                "j": np.full(len(ids), j, dtype=np.int64),
                                "code": code,
                                "sub": list(X),
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        assigned = base.mapInPandas(
            subassign, schema="vec_id bigint, j bigint, code bigint, sub array<double>"
        )

        def mean_code(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id")
            M = np.stack(pdf["sub"].to_numpy())
            return pd.DataFrame(
                {
                    "j": [int(pdf["j"].iloc[0])],
                    "code": [int(pdf["code"].iloc[0])],
                    "centroid": [M.mean(axis=0).tolist()],
                }
            )

        rows = sorted(
            assigned.groupBy("j", "code")
            .applyInPandas(mean_code, schema="j bigint, code bigint, centroid array<double>")
            .collect()
        )
        C = C.copy()  # empty codes keep their previous centroid
        for j, code, centroid in rows:
            C[j][code] = centroid
    return C


def pq_assign_codes(embeddings: DataFrame, C: np.ndarray) -> DataFrame:
    """Assign every vector its m PQ codes (vec_id, codes array<int>) —
    one broadcast of the codebooks, one Arrow-batched pass, no shuffle."""
    m, _k, dsub = C.shape
    cb = embeddings.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        CB = cb.value
        for pdf in batches:
            A = _batch_matrix(pdf["embedding"])
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                X = A[:, j * dsub : (j + 1) * dsub]
                D = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * X @ CB[j].T
                    + (CB[j] * CB[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(D, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(np.int64), "codes": list(codes)}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id bigint, codes array<bigint>"
    )


def pq_codes(embeddings: DataFrame, C: np.ndarray | None = None) -> DataFrame:
    """Registry surface for the PQ code table: vec_id, codes as a
    comma-joined string (arrays never reach a driver-checked surface —
    round-2 Class B), n_bytes = m (one byte per code at k<=256).
    ``C``: pre-trained codebooks (callers running several PQ queries over
    one corpus train once and share — see the registry's _pq cache)."""
    if C is None:
        C = pq_train_codebooks(embeddings)
    codes = pq_assign_codes(embeddings, C)
    return codes.select(
        "vec_id",
        F.array_join("codes", ",").alias("codes"),
        F.lit(int(C.shape[0])).cast("long").alias("n_bytes"),
    )


def pq_topk(
    embeddings: DataFrame, topk: int = 10, C: np.ndarray | None = None
) -> DataFrame:
    """PQ/ADC approximate top-k: vectors with ``vec_id % EVAL_MOD == 0``
    are the query set (same held-out convention as
    :func:`embedding_decontamination`); every corpus vector is a
    candidate via its 8-byte code only.

    Physical shape — the INVERSE of the broadcast-index kernels above,
    which is the point: there the *index* had to fit somewhere hot; here
    the corpus side stays distributed as codes (32x smaller than raw)
    and only the QUERY slice broadcasts.  Per partition the kernel
    builds each query's (m × k) ADC lookup table once, scores the
    partition's codes with a gather-sum (no corpus floats touched),
    keeps a partial top-k, and a final |queries|·topk-row window merge
    picks the global winners — ties broken by neighbor_id, so output is
    deterministic given the (deterministic) codebooks.

    Approximate by construction → rows-only driver check; recall against
    the exact kernel and bit-determinism are pinned by
    ``tests/test_operators.py::TestPq``.
    """
    if C is None:
        C = pq_train_codebooks(embeddings)
    dsub = C.shape[2]
    codes = pq_assign_codes(embeddings, C)
    queries = embeddings.filter(F.col("vec_id") % EVAL_MOD == 0)
    if _index_too_big(queries):
        raise ValueError(
            "pq_topk query slice exceeds the broadcast ceiling — raise EVAL_MOD "
            "or pre-sample the query set; the codes side scales, the query "
            "broadcast is the documented bound"
        )
    q_rows = queries.select("vec_id", "embedding").collect()
    if not q_rows:  # empty query slice: empty result, like the sibling
        # embedding_decontamination — not a kernel crash
        return local_df(
            embeddings.sparkSession,
            [], "vec_id bigint, neighbor_id bigint, adc_dist double, rank bigint"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64).reshape(len(q_rows), -1)
    sc = embeddings.sparkSession.sparkContext
    # T[q, j, c] = ||Q[q, j-slice] - C[j, c]||^2, built once and broadcast
    T = np.stack(
        [
            (
                (Q[:, j * dsub : (j + 1) * dsub] ** 2).sum(axis=1)[:, None]
                - 2.0 * Q[:, j * dsub : (j + 1) * dsub] @ C[j].T
                + (C[j] ** 2).sum(axis=1)[None, :]
            )
            for j in range(C.shape[0])
        ],
        axis=1,
    )
    t_bc = sc.broadcast((qids, T))

    def partial(batches):
        ids_q, TT = t_bc.value
        # budgeted over the corpus side: D is |queries| × |batch rows|
        for pdf in _budgeted(batches, len(ids_q)):
            if not len(pdf):
                continue
            CM = np.stack(pdf["codes"].to_numpy())  # (n, m)
            nids = pdf["vec_id"].to_numpy(np.int64)
            # D[q, n] = sum_j TT[q, j, CM[n, j]] — gather-sum, no corpus floats
            D = np.zeros((len(ids_q), len(nids)))
            for j in range(CM.shape[1]):
                D += TT[:, j, CM[:, j]]
            keep = min(topk + 1, len(nids))  # +1: self may be in-partition
            part = np.argpartition(D, keep - 1, axis=1)[:, :keep]
            qq, nn, dd = [], [], []
            for qi in range(len(ids_q)):
                sel = part[qi]
                mask = nids[sel] != ids_q[qi]
                qq.append(np.full(mask.sum(), ids_q[qi], dtype=np.int64))
                nn.append(nids[sel][mask])
                dd.append(D[qi, sel][mask])
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(qq),
                    "neighbor_id": np.concatenate(nn),
                    "adc_dist": np.concatenate(dd),
                }
            )

    parts = codes.mapInPandas(
        partial, schema="vec_id bigint, neighbor_id bigint, adc_dist double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    return (
        parts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("vec_id", "neighbor_id", duck_round(F.col("adc_dist"), 6).alias("adc_dist"), "rank")
    )


def pq_topk_rerank(embeddings: DataFrame, C: np.ndarray | None = None) -> DataFrame:
    """IVFADC+R-style two-stage search: the PQ/ADC pass
    (:func:`pq_topk`) produces a 50-deep candidate set from
    codes alone, then ONLY those candidates' raw vectors are fetched
    (a join against the corpus — at 100 TB this touches
    |queries|·50 rows of cold parquet, not the corpus) and
    re-ranked by exact L2 distance as a pure Catalyst expression
    (``zip_with``/``aggregate`` left fold — JVM-side, no Python seam in
    the re-rank stage).  Recall is then bounded by shortlist coverage
    rather than code resolution — the standard production ANN shape.

    Output: vec_id, neighbor_id, l2_dist (round-6), rank ≤ 10.
    Approximate (shortlist may miss true neighbors) → rows-only driver
    check; recall and determinism pinned by ``TestPq``.
    """
    cand = pq_topk(embeddings, topk=50, C=C).select("vec_id", "neighbor_id")
    qvec = embeddings.select(
        F.col("vec_id").alias("vec_id"), _as_double(F.col("embedding")).alias("_qv")
    )
    nvec = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("_nv")
    )
    dist = F.aggregate(
        F.zip_with("_qv", "_nv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("l2_dist").asc(), F.col("neighbor_id").asc())
    return (
        cand.join(qvec, "vec_id")
        .join(nvec, "neighbor_id")
        .withColumn("l2_dist", duck_round(dist, 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("vec_id", "neighbor_id", "l2_dist", "rank")
    )


def label_cohesion(embeddings: DataFrame) -> DataFrame:
    """Embedding-space label geometry: for every label pair a <= b, the
    cosine between the two labels' mean UNIT vectors — the separation
    matrix a team reads before trusting labels for training (off-diagonal
    near 1 ⇒ two labels are not separable in this space; the diagonal's
    ``sqnorm_a_micro2`` doubles as the concentration measure: the squared
    resultant length of a label's unit vectors, low ⇒ diffuse class).

    Exact and engine-portable by construction — the same micro-integer
    quantization as ``label_centroids``: unit-normalized elements are
    quantized at 1e-6 (duck_round ties-away), per-(label, dim) means are
    integer ``div``s, and the pairwise dot/sq-norms are integer sums; the
    only float is the final cosine, one division + sqrt of the same
    integers on both engines, round-6.

    Scale: O(n·d) — one positional explode (rows never pair up), one
    shuffle to (label, dim) [|L|·d rows], and the label-pair join runs on
    that tiny table broadcast.  No all-pairs stage at any size.
    """
    d = F.aggregate(
        F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    normed = (
        embeddings.select("label", "vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("_n", F.sqrt(d))
        .withColumn("nrm", F.when(F.col("_n") == 0, F.lit(1.0)).otherwise(F.col("_n")))
    )
    triples = normed.select(
        "label",
        F.posexplode("v").alias("pos", "x"),
        F.col("nrm"),
    ).select(
        "label",
        "pos",
        duck_round(F.col("x") / F.col("nrm") * F.lit(1000000.0), 0).cast("long").alias("vu"),
    )
    # cache(): per_dim is |L|·d rows but costs a full corpus explode to
    # build, and BOTH join sides consume it — AQE does not stitch the two
    # subtrees into one reused exchange (same rationale as mad_outliers'
    # histogram cache; lazy, CacheManager-deduped)
    per_dim = (
        triples.groupBy("label", "pos")
        .agg(F.expr("sum(vu) div count(1)").alias("m"), F.count(F.lit(1)).alias("n"))
        .cache()
    )
    a = per_dim.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"), F.col("n").alias("n_a")
    )
    b = per_dim.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb"), F.col("n").alias("n_b")
    )
    pairs = (
        a.join(F.broadcast(b), "pos")
        .where(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.sum(F.col("ma") * F.col("mb")).alias("dot_micro2"),
            F.sum(F.col("ma") * F.col("ma")).alias("sqnorm_a_micro2"),
            F.sum(F.col("mb") * F.col("mb")).alias("sqnorm_b_micro2"),
        )
    )
    cos = F.when(
        (F.col("sqnorm_a_micro2") == 0) | (F.col("sqnorm_b_micro2") == 0), F.lit(0.0)
    ).otherwise(
        F.col("dot_micro2")
        / F.sqrt(F.col("sqnorm_a_micro2").cast("double") * F.col("sqnorm_b_micro2").cast("double"))
    )
    return pairs.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        "dot_micro2",
        "sqnorm_a_micro2",
        "sqnorm_b_micro2",
        duck_round(cos, 6).alias("centroid_cos"),
    )


def embedding_pca(embeddings: DataFrame) -> DataFrame:
    """Distributed PCA spectrum of the embedding cloud — the variance
    audit behind whitening, dimensionality choices, and PQ subspace
    design: if the top-8 of 64 components explain ~95 % of variance, the
    table is effectively low-rank and every distance-based op downstream
    (ANN, dedup, cohesion) is easier than its dimension suggests.

    The tall-skinny pattern: executors reduce the corpus to d×d partial
    Gram matrices and a d-vector partial sum (one Arrow pass, one row of
    d² doubles per partition — for d = 64 that is 32 KB/partition);
    the driver sums partials in partition order, forms the covariance,
    and eigensolves the 64×64 symmetric matrix locally.  The corpus is
    never shuffled and the driver never sees a data row — only
    O(partitions · d²) bytes of sufficient statistics, the same
    communication shape as a 1000-executor cluster job.

    Output (8 rows, the top-8 components): component, eigenvalue, explained_bp (basis points of
    total variance), cum_explained_bp.  Approximate at the float level
    (partial-sum order differs from a serial pass) → rows-only driver
    check; spectrum pinned against a single-machine NumPy reference by
    ``TestPca``.
    """
    d_probe = embeddings.select(F.size("embedding").alias("d")).first()
    if d_probe is None:
        return local_df(
            embeddings.sparkSession,
            [], "component bigint, eigenvalue double, explained_bp bigint, cum_explained_bp bigint"
        )
    d = int(d_probe[0])

    def partial(batches):
        G = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            A = _batch_matrix(pdf["embedding"])
            G += A.T @ A
            s += A.sum(axis=0)
            n += len(pdf)
        if n:
            yield pd.DataFrame(
                {"g": [G.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    parts = embeddings.select("embedding").mapInPandas(
        partial, schema="g array<double>, s array<double>, n bigint"
    ).collect()
    if not parts:
        return local_df(
            embeddings.sparkSession,
            [], "component bigint, eigenvalue double, explained_bp bigint, cum_explained_bp bigint"
        )
    G = np.zeros((d, d))
    s = np.zeros(d)
    n = 0
    for row in parts:
        G += np.array(row["g"]).reshape(d, d)
        s += np.array(row["s"])
        n += row["n"]
    mu = s / n
    cov = G / n - np.outer(mu, mu)
    evals = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(evals.sum()) or 1.0
    k = min(8, d)
    rows = []
    cum = 0.0
    for i in range(k):
        cum += float(evals[i])
        rows.append(
            (
                i,
                float(evals[i]),
                int(evals[i] / total * 10000),
                int(cum / total * 10000),
            )
        )
    return local_df(
        embeddings.sparkSession,
        rows, "component bigint, eigenvalue double, explained_bp bigint, cum_explained_bp bigint"
    )


def centroid_distances(embeddings: DataFrame) -> DataFrame:
    """Pairwise squared-L2 distance between label centroids — the
    inter-class margin matrix of the embedding space.  Labels whose
    centroids sit close are the confusable pairs (cf.
    :func:`knn_label_agreement`'s instance-level view); a margin that
    shrinks between embedding-model versions is regression signal before
    any classifier is retrained.

    Same integer micro-unit quantization as :func:`label_centroids`
    (``duck_round(v·10⁶)`` per component, truncating-div mean), so the
    distance Σ(mᵃ−mᵇ)² in micro² is integer-exact on both engines; the
    per-pair sum rides DECIMAL(38,0) (diff² ≈ 10¹² per dim — int64-safe
    at this dim count, but the decimal route keeps it safe at any).

    Scale: the centroid table is |labels|·dim rows — the |labels|²·dim
    pairwise expansion joins on ``pos`` with the tiny side broadcast;
    the corpus itself is touched once by the centroid aggregate."""
    triples = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        duck_round(F.col("v").cast("double") * F.lit(1000000.0), 0).cast("long").alias("vu"),
    )
    per_dim = (
        triples.groupBy("label", "pos")
        .agg(F.sum("vu").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("label", "pos", F.expr("s div n").alias("m"))
    )
    a = per_dim.select(F.col("label").alias("label_a"), "pos", F.col("m").alias("ma"))
    b = per_dim.select(F.col("label").alias("label_b"), "pos", F.col("m").alias("mb"))
    j = a.join(F.broadcast(b), "pos").filter(F.col("label_a") < F.col("label_b"))
    d = F.col("ma") - F.col("mb")
    # cast BEFORE the multiply: d*d in BIGINT overflows (ANSI error) once a
    # per-dim centroid diff exceeds ~3e9 micro (oracle-fuzz edges profile);
    # the decimal square keeps the sum exact to 1e38, and the final BIGINT
    # cast fails loudly in BOTH engines when the output itself is out of
    # int64 domain (per-dim centroid diff ≳ 3.8e8 micro)
    return j.groupBy("label_a", "label_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum(d.cast("decimal(38,0)") * d).cast("long").alias("l2sq_micro2"),
    )
