"""Similarity search over the ``embeddings`` table (SURVEY §2.10
north-star; grounded in the reference's dense-vector machinery —
``feature_vector`` assembly ``Talent_Opportunity_Platform/
Elastic_indexing.py:257-258`` and cosine_similarity usage
``Keyword.py:25-28,82-89``).

Two paths:

- **brute-force cosine top-k** — the exactness baseline. The query set
  is collected once (top-k queries are usually few); the corpus never
  shuffles before the final k-rows-per-query window. Dot products and
  norms run in one Arrow/NumPy kernel per corpus batch, as a sequential
  left fold over the dimensions (the operation order of ``dot`` and
  ``l2_norm``), vectorized across every (query, corpus row) pair.
- **LSH-bucketed top-k (random hyperplanes)** — the scale path: corpus
  and queries are hashed to sign-pattern buckets; only same-bucket pairs
  are scored. Recall < 1 by design; multi-probe (flip one bit) trades
  recall for cost. At 100 TB the bucket key becomes the shuffle/partition
  key and each bucket is a small local problem.

Numeric contract: RANKING paths (top-k) run in double precision with
explicit left-fold accumulation so the DuckDB oracle (sequential
list_dot_product over DOUBLE[]) matches bit-for-bit after round(…, 6)
with the id tiebreak; ADMISSION paths (near-pair thresholds) decide
membership in exact integer arithmetic on the 1e-6 direction lattice
(`lattice_unit_prep` / `lattice_cosine_admit`) — no float appears in
any pair-membership decision.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "as_double",
    "dot",
    "l2_norm",
    "cosine",
    "int_dot",
    "pair_dot_pandas_long",
    "lattice_unit_prep",
    "lattice_cosine_admit",
    "lattice_sim",
    "cosine_topk",
    "knn_vote",
    "int8_quantize",
    "cosine_near_pairs",
    "embedding_near_dedup",
    "embedding_near_dedup_bucketed",
    "lsh_topk",
    "ivf_topk",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "kmeans_lattice_refine",
    "contrastive_batches",
]

# The 1e-6 direction lattice (sim_kmeans_refine's grid): pair-ADMISSION
# decisions quantize each vector's unit direction to integer micros and
# compare cross-multiplied exact integers, so threshold membership is a
# pure function of the data — no engine's dot-product accumulation order
# or round() implementation can flip a pair in or out (the residual
# round-then-filter class FLOATS.md scoped in round 10).
LATTICE_SCALE = 1_000_000
# ‖q‖² for a unit direction is ~LATTICE_SCALE² = 1e12; the 10× cap keeps
# the decimal admission products strictly under 10^38 (d ≤ √(na·nb) by
# Cauchy-Schwarz, so d²·1e12 < 1e13·1e13·1e12 = 1e38). Structural — a
# breach means the input was not normalized, and the admit guard raises.
_LATTICE_NN_CAP = 10**13

# Memoized cache registry for lattice_unit_prep(cache=True): one
# persisted prep PER DISTINCT (input plan, params), looked up by
# semanticHash and verified with sameSemantics before reuse (r10
# advice's memoization option). Each lattice/classifier query
# re-invocation used to add another session-lifetime MEMORY_AND_DISK
# copy — across a 50-query sweep over the same parquet that
# accumulates; with memoization the sweep's repeated invocations share
# ONE prep per corpus. Eviction (beyond the cap, oldest first) is
# reserved for genuinely distinct inputs piling up: NOT merely a
# recompute — unpersisting a prep that an un-executed plan still
# references dissolves the materialization boundary and re-inlines the
# interpreted quantize/fold tree into per-PAIR expressions (the 4.5×
# trap tests/test_plans.py ceilings; a plain FIFO tripped it the first
# session it ran, three preps deep). Cap 4 distinct corpora in flight
# keeps that path effectively unreachable in any real sweep.
# Reuse caveat (same class as Spark's own CacheManager, which already
# dedupes persists by canonicalized plan): re-reading a path whose
# files changed mid-session reuses the stale prep — rewrite-in-place
# corpora should pass cache=False.
# Cap 24 (was 16/8/4): the registry now serves ELEVEN operator
# families — lattice preps, ngram_sh, verbatim_starts, tfidf_tf (the
# r12 persist-routing consolidations), minhash_sh, minhash_cand,
# simhash_sig, tpch_q15_revenue (the r13 sweep that retired the last
# raw persists; one minhash_near_dedup call alone occupies 2 slots),
# plus cls_feats, dsir_feats, bp_chunks (the r14 shared-prep additions;
# r14 ADVICE flagged the inventory drift) — and the cap must stay ≥
# the worst-case LIVE slot count or a composite sweep that builds every
# prep before executing would LRU-unpersist a prep an un-executed
# returned plan still references, re-inlining the interpreted
# quantize/shingle tree per pair (the documented 4.5× unpersist trap
# below). Worst case: 11 families, two of which can hold 2 live slots
# each (minhash sh+cand; lattice preps keyed per vec column) ≈ 13-15 —
# 24 keeps the safety margin the r13 resize had. Slots are
# ≤corpus-projection size, so session growth stays bounded.
_PREP_CACHE_CAP = 24
_PREP_CACHE: list[tuple[int | None, DataFrame, tuple, DataFrame]] = []
# One lock for every registry mutation: concurrent lattice consumers
# (overlapping streaming foreachBatch threads both call
# lattice_unit_prep(cache=True)) used to race the unguarded
# len-check/pop(0) eviction — a pop between another thread's check and
# pop raises IndexError and fails the QUERY, not just the memo (r11
# advice). The lock covers lookup+LRU-refresh and insert+evict; the
# JVM-side persist/unpersist calls inside stay cheap (they register,
# not materialize).
_PREP_CACHE_LOCK = __import__("threading").Lock()


def _memoized_persist(src: DataFrame, params: tuple, out: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    try:
        h = src.semanticHash()
    except Exception:  # noqa: BLE001 — hashing is an optimization, never a gate
        h = None
    if h is not None:
        with _PREP_CACHE_LOCK:
            for entry in list(_PREP_CACHE):
                eh, esrc, eparams, eprep = entry
                if eh == h and eparams == params:
                    try:
                        if not esrc.sameSemantics(src):
                            continue
                        # liveness check: a session-level clearCache() (the
                        # bench does one between queries; so does the driver
                        # harness) uncaches the relation UNDERNEATH the
                        # registry — handing out a stale entry would quietly
                        # re-inline the quantize tree per pair (the 4.5×
                        # trap; caught as an order-dependent plan-test red).
                        # Stale entries are dropped and rebuilt fresh.
                        if eprep.storageLevel == StorageLevel.NONE:
                            _PREP_CACHE.remove(entry)
                            continue
                        # LRU refresh: a hit is as fresh as a build
                        _PREP_CACHE.remove(entry)
                        _PREP_CACHE.append(entry)
                        return eprep
                    except Exception:  # noqa: BLE001
                        pass
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    if h is None:
        # unhashable source: the entry could never be matched, so
        # registering it would only burn a cache slot and prematurely
        # evict a live shared prep (end-of-round review). Persist
        # unregistered — the pre-memoization per-invocation behavior.
        return out
    evicted: list[DataFrame] = []
    with _PREP_CACHE_LOCK:
        _PREP_CACHE.append((h, src, params, out))
        while len(_PREP_CACHE) > _PREP_CACHE_CAP:
            evicted.append(_PREP_CACHE.pop(0)[3])
    for prep in evicted:
        try:
            prep.unpersist()
        except Exception:  # noqa: BLE001 — a dead session must not poison the next query
            pass
    return out


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic accumulation order.

    Interpreted (F.aggregate is not codegen'd) and evaluated per pair:
    ``cosine_topk`` runs the same fold vectorized in NumPy instead."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product over lattice vectors — integer addition is
    associative, so unlike the float folds there is no accumulation-order
    caveat at all; any engine computing these products gets the same
    integer."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pair_dot_pandas_long(a: Column, b: Column) -> Column:
    """Arrow-batched int64 dot product per row pair — the vectorized twin
    of ``int_dot`` for candidate-verify joins. Because the operands are
    integers, the einsum result is EXACT and identical to the sequential
    fold (no ulp class): the lattice makes the fast path the exact path.
    int64 overflow is impossible under the ``_LATTICE_NN_CAP`` norm bound
    (every partial sum is ≤ √(na·nb) < 1e13).

    NULL-SAFE BY CONSTRUCTION (r10 advice): a NULL array, or an array
    carrying NULL elements (a malformed embedding-service row whose
    lattice point would be nn = 0 anyway), maps to d = 0 — excluded by
    every admission threshold exactly like a zero vector — instead of
    crashing ``np.stack``/``astype`` inside the Arrow worker. The
    callers also pre-filter pair inputs on nn > 0, but robustness must
    not depend on the optimizer pushing that conjunct below this UDF:
    a persist barrier between the ``withColumn('d')`` and the admission
    filter would otherwise re-expose a streaming crash-loop."""

    @F.pandas_udf("long")
    def _pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        if not n:
            return pd.Series([], dtype="int64")
        out = np.zeros(n, dtype=np.int64)
        idx = np.flatnonzero(va.notna().to_numpy() & vb.notna().to_numpy())
        if len(idx):
            try:
                A = np.stack(va.iloc[idx].to_numpy())
                B = np.stack(vb.iloc[idx].to_numpy())
                # dtype kind gates the fast path: Arrow delivers an array
                # with NULL ELEMENTS as float64-with-NaN, which astype
                # would cast to int64 garbage silently; shape equality
                # gates einsum's size-1 broadcasting of ragged rows
                if (
                    A.ndim == 2
                    and A.shape == B.shape
                    and A.dtype.kind in "iu"
                    and B.dtype.kind in "iu"
                ):
                    out[idx] = np.einsum(
                        "ij,ij->i",
                        A.astype(np.int64, copy=False),
                        B.astype(np.int64, copy=False),
                    )
                else:
                    raise ValueError("degenerate batch")
            except (TypeError, ValueError):
                # element-level NULLs or ragged lengths: salvage row by
                # row (degenerate-batch path — the vectorized kernel
                # stays the hot path for clean batches)
                for i in idx:
                    try:
                        x = np.asarray(va.iat[i])
                        y = np.asarray(vb.iat[i])
                        if (
                            x.ndim == 1
                            and x.shape == y.shape
                            and x.dtype.kind in "iu"
                            and y.dtype.kind in "iu"
                        ):
                            out[i] = int(
                                x.astype(np.int64, copy=False)
                                @ y.astype(np.int64, copy=False)
                            )
                    except (TypeError, ValueError):
                        out[i] = 0
        return pd.Series(out)

    return _pair_dot(a, b)


def lattice_unit_prep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    scale: int = LATTICE_SCALE,
    cache: bool = False,
) -> DataFrame:
    """``(out_id, qv, nn)``: quantize each vector's UNIT DIRECTION to the
    1e-6 integer lattice (``qv[i] = round(xᵢ·scale / ‖x‖)`` as int64) and
    attach the exact integer norm² ``nn = Σ qv[i]²``. Normalizing first
    makes the admission-arithmetic overflow bound structural (nn ≈
    scale², whatever the input magnitudes) and is semantics-free for
    cosine, which only sees directions.

    Cross-engine exactness of the quantization itself: ‖x‖ is the same
    sequential square-fold + sqrt both engines run on identical doubles,
    so ``xᵢ·scale/‖x‖`` is bit-identical; and ``round(double)`` at scale
    0 cannot disagree between HALF_UP-on-decimal-string (Spark) and
    half-away-on-binary (DuckDB) because every k+0.5 with k < 2^51 is
    exactly representable — a double is either exactly on the boundary
    (both round away from zero) or strictly off it (both round the same
    way). Zero vectors map to the all-zero lattice point (guarded ÷1)
    and carry nn = 0, which ``lattice_cosine_admit`` excludes.

    The ``_LATTICE_NN_CAP`` overflow precondition is enforced HERE, once
    per vector (a breach raises loudly), so the per-pair admission
    never re-checks it — O(corpus) guard work instead of O(pairs).

    Plan note: ``_s`` is referenced twice in the quantizing projection
    (the zero guard), which keeps CollapseProject from re-inlining the
    norm fold into the per-element lambda — the O(dim²)-per-row trap.
    That guard does NOT survive joins: when the prep output feeds a
    pair join, column pruning and project collapse re-inline the
    interpreted transform/fold tree into expressions evaluated once per
    PAIR (measured 96 transform nodes and a 4.5× verify slowdown on the
    100× bucketed dedup). Callers that consume the prep from more than
    one side of a join pass ``cache=True``: the persisted relation is a
    hard materialization boundary (consumers see InMemoryTableScan
    attributes — nothing left to inline), and the quantization runs
    once per VECTOR, period. MEMORY_AND_DISK, ~(dim·8B + 16B) per row —
    the same persisted-signature-relation trade the MinHash path uses —
    MEMOIZED per (input plan, params) in ``_PREP_CACHE``, so repeated
    lattice-query invocations in one session share one prep per corpus
    instead of accumulating MEMORY_AND_DISK copies for the session
    lifetime (r10 advice). ``tests/test_plans.py`` pins the
    per-pair-inlining ceiling."""
    p = df.select(
        F.col(id_col).alias(out_id), as_double(vec_col).alias("_v")
    ).withColumn("_s", l2_norm(F.col("_v")))
    guarded = F.when(F.col("_s") == 0, F.lit(1.0)).otherwise(F.col("_s"))
    q = p.select(
        out_id,
        F.transform(
            "_v", lambda x: F.round(x * F.lit(float(scale)) / guarded).cast("long")
        ).alias("qv"),
    )
    nn = int_dot(F.col("qv"), F.col("qv"))
    # NULL input (a malformed vector, or a NULL element poisoning the
    # fold) maps to nn = 0 — excluded from every admission exactly like
    # a zero vector, so one bad row from an embedding service degrades
    # to "no pairs" instead of crash-looping a streaming micro-batch on
    # a misleading cap-breach message. Only a GENUINE over-cap norm
    # (non-null nn ≥ 1e13) raises.
    checked = (
        F.when(nn.isNull(), F.lit(0).cast("long"))
        .when(nn < F.lit(_LATTICE_NN_CAP), nn)
        .otherwise(
            F.raise_error(
                F.lit(
                    "lattice_unit_prep: lattice norm^2 >= 1e13 — quantization "
                    "scale too large for this dimensionality; the decimal "
                    "admission products would overflow"
                )
            ).cast("long")
        )
    )
    out = q.withColumn("nn", checked)
    if cache:
        out = _memoized_persist(df, (id_col, vec_col, out_id, scale), out)
    return out


def lattice_cosine_admit(
    d: Column, na: Column, nb: Column, threshold: float
) -> Column:
    """``cosine_on_the_lattice ≥ threshold`` as EXACT integer arithmetic:
    ``d ≥ 0 AND d²·10¹² ≥ t_micro²·na·nb`` evaluated in decimal(38,0)
    (DuckDB mirrors in HUGEINT). ``d = int_dot(qa, qb)``, ``na/nb`` the
    lattice norms² from ``lattice_unit_prep``. No float appears anywhere
    in the membership decision, so the pair set is deterministic at any
    scale — the fix FLOATS.md scoped for the round-then-filter admission
    class (``round(cos, 6) ≥ t`` flips when engines disagree in the last
    ulp near a 6-dp grid midpoint; expected once per ~1e9 pairs).

    Only ``0 < threshold ≤ 1`` is meaningful for near-duplicate
    admission; the squaring step is sign-guarded by ``d ≥ 0``. nn = 0
    (zero vectors) never admits — cosine is undefined there, and the old
    float path's NaN ≥ t artifact is gone by construction. The
    ``_LATTICE_NN_CAP`` overflow precondition is enforced per-vector by
    ``lattice_unit_prep`` (which raises), not re-checked per pair.

    Hot-path shape (adaptive-precision predicate, à la Shewchuk's
    robust geometry filters): a cheap double compare with a ±1e-9 guard
    band decides every pair provably away from the threshold — the
    double's worst-case relative error on this expression is ~4 ulps
    ≈ 4e-16, six orders under the band — and ONLY borderline pairs
    evaluate the decimal(38) comparison. Membership is therefore
    mathematically identical to the pure exact predicate on every pair,
    while the decimal arithmetic runs on ~zero of them. Measured 2.8×
    on the 100× bucketed-dedup verify vs the all-decimal form."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"lattice_cosine_admit: threshold must be in (0, 1], got {threshold}"
        )
    t_micro = int(round(threshold * 1e6))
    # band centers on the MICRO-GRID threshold the exact predicate uses
    # (t_micro/1e6), not the raw float — an off-grid threshold like
    # 0.4000004 rounds to the same t_micro as 0.4, and banding around
    # the unrounded float would mis-route pairs between the grid point
    # and the float to the wrong certain side
    t_eff = t_micro / 1e6
    sim = d.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
    surely_in = sim >= F.lit(t_eff + 1e-9)
    surely_out = sim < F.lit(t_eff - 1e-9)
    dd = d.cast("decimal(13,0)")
    lhs = dd * dd * F.lit(10**12).cast("decimal(13,0)")
    rhs = (
        F.lit(t_micro * t_micro).cast("decimal(13,0)")
        * na.cast("decimal(13,0)")
        * nb.cast("decimal(13,0)")
    )
    exact = lhs >= rhs
    return (
        (na > 0) & (nb > 0) & (d >= 0) & (surely_in | (~surely_out & exact))
    )


def lattice_sim(d: Column, na: Column, nb: Column) -> Column:
    """The emitted similarity for an admitted pair:
    ``round(d / (√na·√nb), 6)`` — every operand an exact integer < 2^53,
    so both engines run ONE identical IEEE cast/sqrt/mul/div sequence on
    identical values (FLOATS.md's identical-op-sequence class). The
    VALUE is display-tier; membership never depends on it."""
    return F.round(
        d.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))), 6
    )


# Query rows × corpus rows per cosine_topk kernel block: caps each of the
# block's float64 temporaries at 8 MB per Python worker.
_TOPK_BLOCK_CELLS = 1 << 20


def _fold_matrix(vecs) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """A list<double> Arrow column as ``(m, lens, clean, norms)``:
    ``m[j, i]`` is element j of row i, zero-padded to the longest row (a
    +0.0 term leaves a fold from 0.0 bit-unchanged); ``clean`` marks rows
    with no NULL and no NULL element; ``norms`` is ``l2_norm`` as the same
    left fold of x*x, NaN where Spark's is NULL."""
    n = len(vecs)
    lens = vecs.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = vecs.flatten()
    rows = np.repeat(np.arange(n), lens)
    pos = np.arange(len(flat)) - np.repeat(np.cumsum(lens) - lens, lens)
    holes = np.bincount(rows[flat.is_null().to_numpy(zero_copy_only=False)], minlength=n)
    clean = vecs.is_valid().to_numpy(zero_copy_only=False) & (holes == 0)
    keep = clean[rows]
    m = np.zeros((int(lens.max(initial=0)), n))
    m[pos[keep], rows[keep]] = flat.to_numpy(zero_copy_only=False)[keep]
    acc = np.zeros(n)
    for row in m:
        acc += row * row
    return m, lens, clean, np.where(clean, np.sqrt(acc), np.nan)


def _topk_kernel(batches, qids, qm, qlens, qclean, qn, k: int):
    """``mapInArrow`` body of ``cosine_topk``. Per corpus batch and query
    it emits every row whose sim is not finite (NULL fold, zero norm,
    NaN) and every row whose unrounded sim is within 2e-6 of the batch's
    k-th best: ``round(…, 6)`` moves a sim by at most 5e-7, so any row
    further below ranks behind k rows under (rounded sim desc,
    neighbor_id asc), and the output is a superset of the local top k."""
    import pyarrow as pa

    qid_np = qids.to_numpy(zero_copy_only=False)
    for b in batches:
        b = b.filter(b.column(0).is_valid())
        if not b.num_rows or not len(qids):
            continue
        cids, n = b.column(0), b.num_rows
        cid_np = cids.to_numpy(zero_copy_only=False)
        cm, clens, cclean, cn = _fold_matrix(b.column(1))
        step, kk = max(1, _TOPK_BLOCK_CELLS // n), min(max(k, 1), n)
        acc, prod = np.empty((min(step, len(qids)), n)), np.empty((min(step, len(qids)), n))
        for lo in range(0, len(qids), step):
            hi = min(lo + step, len(qids))
            dot = acc[: hi - lo]
            dot.fill(0.0)
            for j in range(min(len(qm), len(cm))):  # dot()'s left fold, per pair
                np.multiply(qm[j, lo:hi, None], cm[j], out=prod[: hi - lo])
                dot += prod[: hi - lo]
            has_dot = qclean[lo:hi, None] & cclean & (qlens[lo:hi, None] == clens)
            with np.errstate(all="ignore"):
                sim = np.where(has_dot, dot, np.nan) / (qn[lo:hi, None] * cn)
            pair, finite = qid_np[lo:hi, None] != cid_np, np.isfinite(sim)
            best = np.where(finite & pair, sim, -np.inf)
            kth = np.partition(best, -kk, axis=1)[:, -kk, None]
            qi, ci = np.nonzero(pair & np.where(finite, best >= kth - 2e-6, True))
            yield pa.RecordBatch.from_arrays(
                [qids.take(qi + lo), cids.take(ci), pa.array(dot[qi, ci], mask=~has_dot[qi, ci]),
                 pa.array(qn[qi + lo], mask=~qclean[qi + lo]), pa.array(cn[ci], mask=~cclean[ci])],
                names=["query_id", "neighbor_id", "dot", "qn", "cn"],
            )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself), ranked by ``round(sim, 6)`` desc
    then ``neighbor_id`` asc.

    The query side is collected once as a double matrix (the bound of a
    broadcast join). ``_topk_kernel`` scores each corpus Arrow batch
    against it with the folds of ``dot``/``l2_norm`` in the same IEEE
    operation order (bit-identical to them and to DuckDB's sequential
    ``list_dot_product``) and emits only a superset of each query's
    local top k. ``round(try_divide(dot, qn * cn), 6)`` and the
    ``row_number`` window stay in Spark SQL, so rounding and NULL
    ordering are exactly those of the per-pair SQL form. A zero-norm
    query or corpus vector gives its pairs a NULL sim that ranks last
    (DuckDB's double division gives NULL for x / 0.0 as well), not a
    divide-by-zero error that fails the whole query under ANSI."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>")
    ).toArrow()
    q = q.filter(q.column(0).is_valid())
    qids = q.column(0).combine_chunks()
    qm, qlens, qclean, qn = _fold_matrix(q.column(1).combine_chunks())
    schema = (
        f"query_id {queries.schema[id_col].dataType.simpleString()}, "
        f"neighbor_id {corpus.schema[id_col].dataType.simpleString()}, "
        "dot double, qn double, cn double"
    )
    scored = corpus.select(id_col, F.col(vec_col).cast("array<double>")).mapInArrow(
        lambda it: _topk_kernel(it, qids, qm, qlens, qclean, qn, k), schema
    )
    sim = F.round(F.try_divide(F.col("dot"), F.col("qn") * F.col("cn")), 6)
    return _rank_topk(scored.select("query_id", "neighbor_id", sim.alias("sim")), k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k tail every ranking path shares: ``row_number`` per
    query over (sim desc, neighbor_id asc), first k rows kept."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a,b), a<b, with
    lattice cosine ≥ threshold. Membership is decided by
    ``lattice_cosine_admit`` — exact integer arithmetic over the 1e-6
    direction lattice, so the pair set cannot drift between engines or
    accumulation orders. Quadratic verify — pair with ``lsh_topk``-style
    bucketing as the candidate generator when the corpus is large.

    Zero/NULL vectors (nn = 0) are filtered BEFORE the pair join — the
    admission excludes them anyway, so this is semantics-free, but it
    keeps the quadratic join free of degenerate rows without relying on
    the optimizer pushing the admission's nn conjuncts below the Arrow
    dot UDF (r10 advice).

    ``cache=False`` opts out of the memoized prep registry: the memo is
    keyed on the LOGICAL plan, so a corpus whose files are rewritten
    in place mid-session would silently reuse the stale prep (r11
    advice — same reuse caveat as Spark's own CacheManager)."""
    prep = lattice_unit_prep(df, id_col, vec_col, "vec_id", cache=cache).filter(
        F.col("nn") > 0
    )
    a = prep.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("nn").alias("na")
    )
    b = prep.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("nn").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        # Arrow int64 kernel, not the interpreted fold: exact either way
        # (integer addition is associative), but the UDF output is an
        # attribute the admission's multiple references cannot re-inline
        .withColumn("d", pair_dot_pandas_long(F.col("qa"), F.col("qb")))
        .filter(lattice_cosine_admit(F.col("d"), F.col("na"), F.col("nb"), threshold))
        .select(
            "id_a", "id_b", lattice_sim(F.col("d"), F.col("na"), F.col("nb")).alias("sim")
        )
    )


def embedding_near_dedup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate resolution: every vector is assigned
    the min id among its cosine-≥-threshold neighborhood (itself included,
    self-sim = 1.0) as ``canonical_id``; rows with ``canonical_id < id``
    are the near-dups to drop. One pass, no transitive closure — same
    single-link-depth-1 semantics both engines can express.

    This exact variant verifies all pairs (quadratic) and is the oracle
    baseline; at corpus scale swap the candidate generator for the
    ``lsh_bucket``/``ivf_topk`` cell join so only same-bucket pairs are
    scored.

    Admission runs on the 1e-6 direction lattice (exact integers), and
    the unordered a<b half-matrix is computed once then symmetrized —
    half the quadratic work of the old directed join, same neighborhood
    semantics. Self-pairs are added unconditionally (self-cosine = 1),
    which also pins the zero-vector contract: a zero embedding has no
    admissible neighbors (cosine undefined) but still appears as its own
    canonical — the bucketed variant behaves identically.

    The pair-join sides pre-filter nn > 0 (semantics-free: the admission
    excludes nn = 0; the self-pair union below still sees EVERY id, so
    zero vectors keep their own-canonical row) — null-row robustness of
    the Arrow dot must not depend on predicate pushdown (r10 advice).

    ``cache=False`` opts out of the memoized prep registry for
    rewrite-in-place corpora (r11 advice — see cosine_near_pairs)."""
    prep = lattice_unit_prep(df, id_col, vec_col, "vec_id", cache=cache)
    nz = prep.filter(F.col("nn") > 0)
    a = nz.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("nn").alias("na")
    )
    b = nz.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("nn").alias("nb")
    )
    verified = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        # Arrow int64 kernel (exact, associative) — see cosine_near_pairs
        .withColumn("d", pair_dot_pandas_long(F.col("qa"), F.col("qb")))
        .filter(lattice_cosine_admit(F.col("d"), F.col("na"), F.col("nb"), threshold))
        .select("id_a", "id_b")
    )
    return _canonicalize_neighborhood(verified, prep.select("vec_id"))


def _canonicalize_neighborhood(verified: DataFrame, ids: DataFrame) -> DataFrame:
    """Shared tail of the exact and bucketed near-dedups: symmetrize the
    unordered verified pairs, add self-pairs for every id, and take the
    min-id canonical per neighborhood."""
    neighborhood = (
        verified.select(F.col("id_a").alias("vec_id"), F.col("id_b").alias("other_id"))
        .unionByName(
            verified.select(F.col("id_b").alias("vec_id"), F.col("id_a").alias("other_id"))
        )
        .unionByName(ids.select("vec_id", F.col("vec_id").alias("other_id")))
    )
    return (
        neighborhood.groupBy("vec_id")
        .agg(
            F.min("other_id").alias("canonical_id"),
            (F.count(F.lit(1)) - 1).alias("n_neighbors"),
        )
        .withColumn("is_dup", F.col("canonical_id") < F.col("vec_id"))
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a seeded LCG — no RNG
    state, reproducible across runs/executors."""
    vals = []
    x = (plane_idx * 2654435761 + 97) % 2147483647
    for _ in range(dim):
        x = (1103515245 * x + 12345) % 2147483647
        vals.append((x / 2147483647.0) * 2.0 - 1.0)
    return vals


def lsh_bucket(vec: Column, dim: int, planes: int = 8, band: int = 0) -> Column:
    """Random-hyperplane signature: ``planes`` sign bits → int bucket.
    ``band`` selects an independent plane family (banded LSH: a pair is a
    candidate if it collides in ANY band, driving miss probability down
    exponentially in the band count).

    Expression form (literal plane arrays + interpreted folds): fine for
    a few bands; for the full planes×bands signature use
    ``lsh_buckets_pandas`` — the expression tree grows as
    planes×bands×dim literals and its interpreted evaluation dominated
    the bucketed dedup's signature stage."""
    bucket = F.lit(0)
    for p in range(planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, band * planes + p)])
        bit = F.when(dot(vec, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def lsh_buckets_pandas(vec: Column, dim: int, planes: int, bands: int) -> Column:
    """All ``bands`` LSH buckets in ONE Arrow-batched matmul: X @ Hᵀ →
    sign bits → per-band bit-packed ints, returned as ``array<long>``
    (index = band). Identical values to ``lsh_bucket`` (same seeded
    hyperplanes, >= 0 sign convention; float64 matmul vs fold can
    differ only when a plane dot lands within a last-ulp of zero —
    different accumulation orders round to opposite signs there;
    measure-zero for real embeddings). The
    plane matrix is planes×bands×dim floats closed over driver-side —
    a codebook-sized broadcast, same contract as the IVF centroids."""
    import numpy as np
    import pandas as pd

    H = np.array(
        [_hyperplane(dim, i) for i in range(planes * bands)], dtype="float64"
    )  # (bands*planes, dim) — row b*planes+p
    weights = 1 << np.arange(planes, dtype="int64")

    @F.pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        if not n:
            return pd.Series([], dtype="object")
        # NULL-SAFE BY CONSTRUCTION (the pair_dot_pandas_long pattern,
        # r10 advice): this kernel signs RAW micro-batches in the
        # streaming ingest (incremental_dedup._embedding_batch_views has
        # no null pre-filter — the nn > 0 admission gate sits DOWNSTREAM
        # of candidate generation), so a malformed embedding-service row
        # (NULL vector, ragged length) must map to a NULL signature —
        # posexplode then drops it from every band — instead of
        # crash-looping the Arrow worker in np.stack/astype.
        out: list = [None] * n
        idx = np.flatnonzero(vs.notna().to_numpy())
        if len(idx):
            try:
                X = np.stack(vs.iloc[idx].to_numpy()).astype("float64")
                if X.ndim != 2 or X.shape[1] != H.shape[1]:
                    raise ValueError("degenerate batch")
                signs = (X @ H.T) >= 0  # n × bands*planes
                vals = (signs.reshape(len(X), bands, planes) * weights).sum(axis=2)
                for i, v in zip(idx, vals):
                    out[i] = v.tolist()
            except (TypeError, ValueError):
                # ragged/mixed batch: salvage row by row — the one-matmul
                # kernel stays the hot path for clean batches
                for i in idx:
                    try:
                        x = np.asarray(vs.iat[i], dtype="float64")
                        if x.ndim == 1 and x.shape[0] == H.shape[1]:
                            signs = (x @ H.T) >= 0
                            out[i] = (
                                (signs.reshape(bands, planes) * weights)
                                .sum(axis=1)
                                .tolist()
                            )
                    except (TypeError, ValueError):
                        pass
        return pd.Series(out, dtype="object")

    return _buckets(vec)


def embedding_near_dedup_bucketed(
    df: DataFrame,
    threshold: float,
    dim: int,
    planes: int = 8,
    bands: int = 8,
    max_bucket: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
) -> DataFrame:
    """The 100 TB-safe twin of ``embedding_near_dedup``: banded-LSH
    candidate generation → exact cosine verify on candidates only →
    canonical (min-id) assignment. Same output schema; near-dup recall
    governed by the band/plane trade (P[candidate] = 1-(1-p^planes)^bands
    where p = 1 - θ/π per hyperplane bit).

    ``planes`` sizes the bucket space (2^planes per band) and is the
    pruning knob: at planes=4 a random pair (p≈0.5) collides in a band
    with probability 0.5⁴ ≈ 6% — measured 81M candidates from 20k
    vectors at the 10× synthetic SF, i.e. all-pairs in disguise. The
    planes=8 default cuts that to 0.4% per band while true near-dups
    (p→1) still collide in ≥1 of 8 bands w.p. ~1. This operator is a
    DEDUP (near-identical vectors, threshold ≥ ~0.8); moderate-threshold
    similarity JOINS need band budgets LSH can't afford — use
    ``cosine_topk``/IVF for those.

    Scale shape: the exploded relation carries only (vec_id, band,
    bucket) — vectors are NOT replicated per band; candidate pairs join
    the vectors back for the verify. The shuffles key on (band, bucket)
    and vec_id; nothing is ever all-pairs. ``max_bucket`` purges
    degenerate hot buckets (the frequent-key quadratic trap — a bucket of
    B rows makes B² candidates); dropped buckets only lower recall, never
    correctness of emitted pairs."""
    v = df.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v"))
    # one Arrow matmul for the whole planes×bands signature (the
    # expression form built planes×bands literal-array folds whose
    # interpreted evaluation dominated this stage)
    sigs = v.select("vec_id", lsh_buckets_pandas(F.col("v"), dim, planes, bands).alias("bks"))
    buckets = sigs.select(
        "vec_id", F.posexplode("bks").alias("band", "bucket")
    )
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        buckets = (
            buckets.join(
                F.broadcast(sizes.filter(F.col("_n") > max_bucket)),
                ["band", "bucket"],
                "left_anti",
            )
        )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    # exact-integer lattice verify (same admission as the quadratic
    # baseline, so agreement on recalled pairs is bit-for-bit): the
    # pair dot runs as one Arrow einsum per batch — int64, hence exact.
    # nn > 0 pre-filter on the verify sides: semantics-free (admission
    # excludes nn = 0) and keeps null-row robustness off the optimizer;
    # the canonical tail below still unions EVERY id as its own row.
    # cache=False opt-out for rewrite-in-place corpora (r11 advice).
    prep = lattice_unit_prep(df, id_col, vec_col, "vec_id", cache=cache)
    nz = prep.filter(F.col("nn") > 0)
    va = nz.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("nn").alias("na")
    )
    vb = nz.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("nn").alias("nb")
    )
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("d", pair_dot_pandas_long(F.col("qa"), F.col("qb")))
        .filter(lattice_cosine_admit(F.col("d"), F.col("na"), F.col("nb"), threshold))
        .select("id_a", "id_b")
    )
    # symmetrize + self-pairs so the canonical assignment matches the
    # exact operator's neighborhood semantics (self-sim = 1.0)
    return _canonicalize_neighborhood(verified, v.select("vec_id"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only within matching hyperplane buckets.

    With 8 planes the corpus splits ~256 ways ⇒ ~256× less scoring than
    brute force at large N. ``multiprobe > 0`` additionally probes every
    single-bit-flip neighbor of the query's signature (+``planes`` buckets
    per query) — recall recovers toward brute force at linear extra cost,
    and only the (small) query side fans out. Driver-checked rows-only
    (approximate recall has no SQL oracle); unit tests assert bucket-match
    recall on planted neighbors."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    cb = c.withColumn("bucket", lsh_bucket(F.col("cv"), dim, planes)).withColumn(
        "cn", l2_norm(F.col("cv"))
    )
    qb = q.withColumn("bucket", lsh_bucket(F.col("qv"), dim, planes)).withColumn(
        "qn", l2_norm(F.col("qv"))
    )
    if multiprobe > 0:
        # probe the exact bucket plus every single-bit flip (Hamming 1)
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
        )
        qb = qb.withColumn("bucket", F.explode(F.array_distinct(probes)))
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6))
        .select("query_id", "neighbor_id", "sim")
    )
    return _rank_topk(scored, k)


def ivf_train(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    seed_hash: str = "xxhash64",
) -> list[list[float]]:
    """Coarse-quantizer training: ``n_cells`` corpus vectors chosen by
    xxhash64 order of their ids seed the codebook (deterministic k-means
    seeding); ``refine_iters`` distributed Lloyd iterations then move each
    centroid to the mean of its assigned cell — assignment is a NumPy
    pandas_udf map, the mean is one partial-agg groupBy of per-dimension
    sums, and the only driver transfer per iteration is the ``n_cells``
    centroid vectors. Empty cells keep their previous centroid. Seeding
    uses no RNG; refinement means are floating-point sums whose partition
    order may vary in the last ulp — harmless for cell assignment, which
    is why the oracle-facing default is ``refine_iters=0``.

    ``seed_hash="md5"`` orders the seeding by the md5 hex string of the
    id instead of xxhash64 — equally arbitrary-but-deterministic, and
    reproducible in DuckDB, which makes the whole unrefined IVF pipeline
    (seeding → assignment → nprobe scan → top-k) hash-checkable
    cross-engine. Collisions: full md5 over distinct ids is injective
    for any practical corpus, so the order is total."""
    h = (
        F.md5(F.col(id_col).cast("string"))
        if seed_hash == "md5"
        else F.xxhash64(F.col(id_col).cast("string"))
    )
    rows = (
        corpus.select(as_double(vec_col).alias("v"), h.alias("h"))
        .orderBy("h")
        .limit(n_cells)
        .collect()
    )
    cents = [list(r.v) for r in rows]
    for _ in range(refine_iters):
        assign = _cell_ranker(cents, 1)
        assigned = corpus.select(
            F.element_at(assign(as_double(vec_col)), 1).alias("cell"),
            as_double(vec_col).alias("v"),
        )
        dim = len(cents[0])
        sums = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(dim)],
        )
        new = {r["cell"]: [r[f"s{i}"] / r["n"] for i in range(dim)] for r in sums.collect()}
        cents = [new.get(i, c) for i, c in enumerate(cents)]
    return cents


def _cell_ranker(centroids: list[list[float]], nprobe: int):
    """pandas_udf: vector → its ``nprobe`` nearest centroid cells, as one
    NumPy matmul per Arrow batch. The codebook is tiny and closed over
    (broadcast with the serialized udf); an expression-tree formulation
    (n_cells folds of dim-length literal arrays per row) evaluates
    interpreted and dominates the operator's runtime."""
    from pyspark.sql.functions import pandas_udf

    cm = np.array(centroids, dtype=np.float64)
    cn = np.linalg.norm(cm, axis=1)
    cn[cn == 0] = 1.0

    @pandas_udf("array<int>")
    def rank_cells(vecs: pd.Series) -> pd.Series:
        vm = np.array([list(v) for v in vecs], dtype=np.float64)
        vn = np.linalg.norm(vm, axis=1)
        vn[vn == 0] = 1.0
        sims = (vm @ cm.T) / (vn[:, None] * cn[None, :])
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return rank_cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    seed_hash: str = "xxhash64",
) -> DataFrame:
    """IVF approximate top-k — the second ANN scale path beside
    ``lsh_topk``. Corpus vectors are assigned to their nearest-centroid
    cell (inverted lists = cell-partitioned corpus); each query probes its
    ``nprobe`` closest cells and scores only those lists. At 100 TB the
    cell id is the partition key: assignment is an embarrassingly parallel
    map, the probe join shuffles corpus rows once by cell, and per-cell
    scoring is a local problem ~``n_cells/nprobe``× smaller than brute
    force."""
    cents = ivf_train(
        corpus, n_cells, id_col, vec_col, refine_iters=refine_iters, seed_hash=seed_hash
    )
    assign_one = _cell_ranker(cents, 1)
    probe_n = _cell_ranker(cents, nprobe)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv"))
    c = c.withColumn("cell", F.element_at(assign_one(F.col("cv")), 1)).withColumn(
        "cn", l2_norm(F.col("cv"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    q = q.withColumn("cell", F.explode(probe_n(F.col("qv")))).withColumn(
        "qn", l2_norm(F.col("qv"))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6))
        .select("query_id", "neighbor_id", "sim")
    )
    return _rank_topk(scored, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-memory ANN path
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 4,
    seed_hash: str = "xxhash64",
) -> np.ndarray:
    """Train per-subspace codebooks for product quantization.

    The vector space is split into ``m`` contiguous subspaces; each gets
    its own ``n_codes``-centroid codebook (k-means on a driver-side
    sample). Deterministic by construction: the sample is the first
    ``sample`` vectors in xxhash64(id) order (no RNG), initial centroids
    are the first ``n_codes`` sample subvectors, and Lloyd iterations run
    in fixed numpy order. Empty clusters keep their previous centroid.

    ``seed_hash="md5"`` orders the sample by the md5 hex string of the id
    instead (same arbitrary-but-deterministic role, reproducible in
    DuckDB) — with ``iters=0`` the codebook is then a pure SELECTION of
    corpus subvectors, bit-exact cross-engine, which is what the
    ``sim_pq_topk_portable`` oracle runs (Lloyd means are
    order-dependent float sums with no portable SQL form, same
    reasoning as ``ivf_train``).

    Scale shape: training touches only a bounded sample (one
    ``limit(sample).collect()`` — ~1 MB for 2048×64 doubles); the
    resulting codebook is m×n_codes×(d/m) floats = d×n_codes values
    regardless of corpus size, broadcast with the encoding udf.

    Returns an ndarray of shape ``(m, n_codes, d // m)``.
    """
    h = (
        F.md5(F.col(id_col).cast("string"))
        if seed_hash == "md5"
        else F.xxhash64(F.col(id_col).cast("string"))
    )
    rows = (
        corpus.select(as_double(vec_col).alias("v"), h.alias("h"))
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    x = np.array([list(r.v) for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    if len(x) < n_codes:
        raise ValueError(
            f"pq_train: sample of {len(x)} vectors < n_codes={n_codes} — "
            "raise `sample`, or lower `n_codes` to at most the corpus size"
        )
    dsub = d // m
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[:n_codes].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(n_codes):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def _pq_encoder(books: np.ndarray):
    """pandas_udf: vector → its m-byte PQ code word (argmin centroid per
    subspace), one vectorized distance computation per Arrow batch. The
    codebook is closed over (tiny — see pq_train) and ships with the udf."""
    from pyspark.sql.functions import pandas_udf

    m, n_codes, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        vm = np.array([list(v) for v in vecs], dtype=np.float64)
        codes = np.empty((len(vm), m), dtype=np.int32)
        for j in range(m):
            xs = vm[:, j * dsub : (j + 1) * dsub]
            d2 = ((xs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each corpus vector to its PQ code word: ``(id, codes)``
    where ``codes`` is ``m`` small ints. This is the 100 TB story: a
    64-dim float64 embedding is 512 bytes; its m=8 code word is 8 — a
    64× smaller ANN working set that scans from memory where the raw
    vectors would spill. Encoding is an embarrassingly parallel map
    (no shuffle); the codes relation is what downstream search scans."""
    enc = _pq_encoder(books)
    return corpus.select(F.col(id_col), enc(as_double(vec_col)).alias("codes"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: np.ndarray | None = None,
) -> DataFrame:
    """PQ approximate cosine top-k via asymmetric distance computation
    (ADC): queries stay full-precision, corpus vectors are scored from
    their code words alone through per-query lookup tables.

    For query q and centroid c_{j,code}:  dot(q, x̂) = Σ_j LUT_dot[j, codes_j]
    and |x̂|² = Σ_j LUT_sq[j, codes_j], so scoring a corpus vector costs m
    table lookups — no float vector is ever read after encoding. Per Arrow
    batch the gather is one numpy fancy-index per subspace; each batch
    emits only its LOCAL top-k per query (k rows per query per batch cross
    the wire). The query set is a
    bounded collect; the corpus never shuffles before the final
    k-rows-per-query window."""
    if books is None:
        books = pq_train(corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col)
    m, n_codes, dsub = books.shape
    q_rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0] = 1.0
    # LUT_dot: (Q, m, n_codes); LUT_sq: (m, n_codes)
    lut_dot = np.einsum(
        "qjd,jcd->qjc", qm.reshape(len(qm), m, dsub), books
    )
    lut_sq = (books**2).sum(axis=2)

    encoded = pq_encode(corpus, books, id_col, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.array([list(c) for c in pdf["codes"]], dtype=np.int64)
            acc_dot = np.zeros((len(qids), len(ids)), dtype=np.float64)
            acc_sq = np.zeros(len(ids), dtype=np.float64)
            for j in range(m):
                acc_dot += lut_dot[:, j, codes[:, j]]
                acc_sq += lut_sq[j, codes[:, j]]
            norms = np.sqrt(acc_sq)
            norms[norms == 0] = 1.0
            sims = np.round(acc_dot / (qn[:, None] * norms[None, :]), 6)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                s = sims[qi]
                cand = np.nonzero(ids != qids[qi])[0]
                # PQ scores tie often (shared codewords reconstruct the
                # same sim) — local top-k must follow the global
                # (rounded sim desc, neighbor_id asc) contract so output
                # is partition-layout independent
                top = cand[np.lexsort((ids[cand], -s[cand]))[:k]]
                out_q.extend([qids[qi]] * len(top))
                out_n.extend(ids[top].tolist())
                out_s.extend(s[top].tolist())
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "sim": out_s})

    scored = encoded.mapInPandas(score, "query_id long, neighbor_id long, sim double")
    return _rank_topk(scored, k)


def _nearest_lattice(q: Column, cents: list[list[int]]) -> Column:
    """Index of the nearest centroid in exact integer arithmetic:
    squared L2 on the quantized lattice, ties to the lowest centroid
    index via struct-min ordering. Pure projection — one zip_with fold
    per centroid, no exchange."""
    arms = []
    for j, c in enumerate(cents):
        carr = F.array(*[F.lit(int(v)) for v in c])
        d = F.aggregate(
            F.zip_with(q, carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        arms.append(F.struct(d.alias("d"), F.lit(j).alias("c")))
    return F.array_min(F.array(*arms))


def kmeans_lattice_refine(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """k-means corpus clustering with EXACT, engine-portable Lloyd
    refinement — the SemDeDup-style "organize the corpus into semantic
    buckets" stage, built so the whole iterative algorithm is
    hash-checkable (``ivf_train``'s float refinement documents itself as
    oracle-facing only at ``refine_iters=0``; this retires that
    limitation the way the LTTB/FFD integer twins retired theirs).

    Determinism contract: embeddings are quantized to a 1e-6 integer
    lattice (round is half-away in every engine, the product/round chain
    is IEEE-exact); seeding is the md5 order of the ids (k medoids);
    every distance is an exact int64 sum of squared lattice diffs (≤2^48
    at any realistic dim·scale); refined centroids are
    ``round(sum/count)`` per dimension — the sums exact integers, the
    quotient one correctly-rounded double op — so centroids stay ON the
    lattice and every iteration remains exact. Empty clusters keep their
    previous centroid.

    Scale shape: assignment is a zero-exchange projection against k
    BROADCAST-LITERAL centroids; each iteration costs ONE (cluster, dim)
    partial-agg shuffle (k·dim keys) and a k·dim-row driver transfer —
    bounded by parameters, not data (the IVF/PQ codebook-collect
    argument). Emits (id, cluster, dist) under the final centroids."""
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long")
    )
    # pin the quantized corpus: the medoid collect, each iteration's
    # (cluster, dim) aggregate, and the returned frame would otherwise
    # each rescan + requantize the full embedding table (iters+2 scans)
    pts = corpus.select(F.col(id_col), q.alias("q")).localCheckpoint(eager=True)
    med_rows = (
        pts.select("q", F.md5(F.col(id_col).cast("string")).alias("h"), id_col)
        .orderBy("h", id_col)
        .limit(k)
        .collect()
    )
    cents = [list(r.q) for r in med_rows]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = pts.select(
            _nearest_lattice(F.col("q"), cents)["c"].alias("c"), "q"
        )
        sums = (
            assigned.select("c", F.posexplode("q").alias("i", "x"))
            .groupBy("c", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in sums:
            # round-half-away-from-zero computed ENTIRELY in integer
            # arithmetic: (2s+n)//(2n) on positive operands. A double
            # quotient here can misround near .5 boundaries (and
            # Python's round() is banker's); the oracle mirrors this
            # exact integer form, so the lattice contract has no
            # floating-point step at all.
            s, n = int(r["s"]), int(r["n"])
            v = (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))
            new.setdefault(r["c"], [0] * dim)[r["i"]] = v
        cents = [new.get(j, c) for j, c in enumerate(cents)]
    best = _nearest_lattice(F.col("q"), cents)
    return pts.select(
        F.col(id_col),
        best["c"].cast("long").alias("cluster"),
        best["d"].cast("long").alias("dist"),
    )


def contrastive_batches(
    corpus: DataFrame,
    batch_buckets: int | None = None,
    batch_size: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Contrastive-pair mining with IN-BATCH negatives — the data layout
    every contrastive embedding trainer (SimCLR/CLIP-style) consumes:
    vectors are dealt into deterministic md5 batches; within a batch each
    anchor gets its hardest POSITIVE (nearest same-label vector on the
    exact 1e-6 lattice — see :func:`kmeans_lattice_refine` for the
    portability argument) and counts every different-label batchmate as
    a negative. Anchors whose batch holds no same-label partner emit
    NULLs (the trainer drops or re-batches them; making that visible is
    the point).

    Scale shape: batching is a pure md5 projection; pairing is quadratic
    ONLY within a batch, so the INVARIANT is |batch| ≈ ``batch_size``
    (what a real trainer fixes), not the bucket count: by default the
    bucket count derives IN-PLAN from the corpus count — (n + B - 1)
    div B on a bounded driver-side count — keeping total
    pair work ≈ N·batch_size, linear in N (the round-7 300× probe
    caught the fixed-bucket form going quadratic: 122 s for 150 k
    vectors; the derived form is ~8 s). Pass ``batch_buckets`` to pin
    the count explicitly. Distances are evaluated on same-label pairs
    only (r14 — negatives are a pure count; see the inline comment);
    exchanges: the (batch, label)-keyed pair join, the anchor-keyed
    partial aggs, and batch-grained count joins, plus a metadata-cheap
    corpus count for the derivation.

    PRECONDITION: ``label_col`` must be non-null (r14 ADVICE). The
    positives-only pairing equi-joins on the label, so a NULL-label
    anchor would be dropped entirely while still counting toward its
    batchmates' ``_tot`` (i.e. as everyone's negative) — neither the
    pre-r14 form nor the DuckDB twin treats NULL that way. Filter or
    impute NULL labels upstream; the repo's callers derive the label
    with a total expression (pmod of an md5), which cannot be NULL."""
    if batch_buckets is None:
        # one bounded driver-side count — a column-less scan job, not a
        # footer read (parquet aggregate pushdown is off by default),
        # but O(splits) with no data movement, and it fires once per
        # call including plan-only callers; embedding the result as a
        # literal keeps the batching a pure projection instead of
        # threading a count subtree through the plan
        n = corpus.count()
        batch_buckets = max((n + batch_size - 1) // batch_size, 1)
    n_buckets = F.lit(int(batch_buckets))
    pts = corpus.select(
        F.col(id_col),
        F.col(label_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
        ).alias("q"),
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("batch"),
    )
    # r14 (guide §1.2 "don't compute things you throw away"): the lattice
    # distance is only ever CONSUMED for same-label (positive) pairs —
    # negatives are a pure count. The old single join formed every
    # in-batch pair and evaluated the interpreted 64-element
    # zip_with/aggregate fold on all of them; with L labels that is ~L×
    # more distance work than the result uses. Restructured:
    #   * positives: pair only on (batch, label) — the distance fold now
    #     runs on the same-label fraction alone;
    #   * negatives: per-(batch, label) counts; an anchor with label l in
    #     batch b has tot(b) − cnt(b, l) different-label batchmates.
    # Row-for-row identical: an anchor emits iff it has ≥1 batchmate
    # (tot ≥ 2), positives are NULL iff cnt(b, l) = 1, and the (d,
    # other_id) min is unchanged. The count relations are
    # (batch[, label])-grained — corpus_size/batch_size rows, so they
    # broadcast at bench scale but must NOT carry a broadcast hint (at
    # 100 TB they are millions of rows); the planner/AQE picks, and a
    # shuffle join on the batch key is scale-correct either way.
    cnt = pts.groupBy("batch", label_col).agg(F.count(F.lit(1)).alias("_cnt"))
    tot = cnt.groupBy("batch").agg(F.sum("_cnt").alias("_tot"))
    base = (
        pts.join(cnt, ["batch", label_col])
        .join(tot, "batch")
        .filter(F.col("_tot") >= 2)
        .select(
            F.col(id_col).alias("anchor_id"),
            (F.col("_tot") - F.col("_cnt")).cast("long").alias("n_negatives"),
        )
    )
    a = pts.select(
        F.col("batch"),
        F.col(label_col),
        F.col(id_col).alias("anchor_id"),
        F.col("q").alias("aq"),
    )
    b = pts.select(
        F.col("batch"),
        F.col(label_col),
        F.col(id_col).alias("other_id"),
        F.col("q").alias("bq"),
    )
    d = F.aggregate(
        F.zip_with(F.col("aq"), F.col("bq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pos = (
        a.join(b, ["batch", label_col])
        .filter(F.col("anchor_id") != F.col("other_id"))
        .select("anchor_id", "other_id", d.alias("d"))
        .groupBy("anchor_id")
        .agg(
            F.min_by("other_id", F.struct(F.col("d"), F.col("other_id"))).alias(
                "positive_id"
            ),
            F.min("d").alias("positive_dist"),
        )
    )
    return base.join(pos, "anchor_id", "left").select(
        "anchor_id", "positive_id", "positive_dist", "n_negatives"
    )


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector scalar quantization of an embedding column to 8-bit
    codes — the serving-side compression that cuts a float32 vector
    store 4× (and, stacked under PQ, what makes billion-vector ANN
    tiers fit in executor memory at 100 TB corpus scale). Each vector
    maps through its own [min, max] range: ``code = min(⌊(x−mn)·256 /
    (mx−mn)⌋, 255)``; a constant vector (mx = mn) quantizes to zeros
    instead of dividing by zero.

    Exactness contract: every step — float→double widening, one
    subtraction, one multiply, one divide, ``floor`` — is a correctly-
    rounded IEEE operation evaluated in the SAME order as the DuckDB
    twin, so codes are bit-identical cross-engine with no rounding-mode
    caveat (``floor``, unlike ``round``, has no half-way case). Range
    endpoints export as 1e-6 fixed-point FLOORS for the same reason.

    Scale shape: pure per-row expression work inside the scan stage —
    zero shuffles, whole-stage codegen, no UDF. Codes serialize as a
    CSV string (the harness canonicalizer hashes scalars, not arrays;
    a2's pattern)."""
    mnd = F.array_min(vec_col).cast("double")
    mxd = F.array_max(vec_col).cast("double")
    code = lambda x: F.least(  # noqa: E731
        F.floor(((x.cast("double") - mnd) * 256.0) / (mxd - mnd)), F.lit(255).cast("long")
    )
    codes = F.when(
        mxd == mnd,
        F.array_join(F.transform(vec_col, lambda x: F.lit("0")), ","),
    ).otherwise(F.array_join(F.transform(vec_col, lambda x: code(x).cast("string")), ","))
    return df.select(
        F.col(id_col),
        F.floor(mnd * 1e6).cast("long").alias("mn_fp"),
        F.floor(mxd * 1e6).cast("long").alias("mx_fp"),
        codes.alias("codes"),
    )


def knn_vote(
    topk: DataFrame,
    labels: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    label_col: str = "label",
) -> DataFrame:
    """Majority vote over a kNN result: join neighbor labels, count
    votes per (query, label), keep the argmax with the DETERMINISTIC
    tie-break (count desc, then smaller label). Shared by the
    `sim_knn_classify` query and its tests so the tie-break can't drift
    between the production path and its proof. ONE (query, label)
    partial agg; the rank runs on the vote table it produced."""
    from .joins import BROADCAST_GATE_BYTES

    # Broadcast labels keep the top-k window's query_id partitioning for the
    # vote agg and its rank (left alone, Spark may broadcast the top-k side:
    # two more exchanges). Gated on the optimizer's size estimate, which
    # also covers cached inputs, because labels grow with the corpus.
    size = int(str(labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size <= BROADCAST_GATE_BYTES:
        labels = F.broadcast(labels)
    labeled = topk.join(labels, neighbor_col)
    votes = labeled.groupBy(query_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    # asc_nulls_last pins the tie-break cross-engine: Spark's plain asc
    # sorts NULLs first while a SQL twin's ORDER BY sorts them last, so
    # a NULL neighbor label tied on votes would otherwise diverge
    wv = Window.partitionBy(query_col).orderBy(
        F.col("n_votes").desc(), F.col(label_col).asc_nulls_last()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            query_col,
            F.col(label_col).cast("long").alias("pred_label"),
            "n_votes",
        )
    )
