"""Distributed linear quality-classifier training — the CCNet/GPT-3
pipeline stage the heuristic filters feed into: train a linear model ON
the cluster to separate a target domain (e.g. wiki/reference text) from
raw web text, then score the whole corpus with it (public method:
Brown et al. 2020 §A / Wenzek et al. 2020 CCNet; the keyword machinery
this builds on mirrors the reference's CountVectorizer flow,
``Keyword.py:82-89``).

Algorithm: full-batch PERCEPTRON over hashed bag-of-words features, in
pure int64 — deliberately chosen over SGD/logistic because every
quantity (feature counts, margins, weight updates) is an exact integer
and the update is a plain sum over misclassified documents, so the
trained weights are independent of partition layout, execution order,
and engine: a DuckDB twin replays the full training loop bit-for-bit
(the same unrolled-iteration oracle technique as the batched BPE
trainer). Float SGD can never give that oracle.

Scale shape: features are computed once and persisted (the corpus never
re-tokenizes); each iteration is ONE broadcast join of the ≤(buckets+1)-
row weight table against the feature relation + a doc-keyed partial agg
(margins) + a bucket-keyed partial agg (updates) — both map-side
combinable; weights live driver-side between iterations (bounded
collect, the waterfill/kmeans codebook class). Iteration count is a
fixed unroll — convergence stopping would make the oracle unwritable.

Overflow headroom: |Δw[b]| per round ≤ total corpus token count C, so
|w| ≤ T·C and a document's margin ≤ doc_tokens · T · C. At C = 1e13
(a 100 TB corpus), T = 3, doc_tokens = 1e4: margin ≤ 3e17 < 2^63 — the
int64 contract holds through trillion-token corpora.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame
from .dedup import _md5_60bits
from .text import tokens

__all__ = [
    "hashed_features",
    "train_perceptron",
    "classifier_margins",
    "operating_curve",
    "confusion_by_group",
]

BIAS_BUCKET = -1


def hashed_features(
    docs: DataFrame,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, bucket, cnt)``: hashed bag-of-words features. Tokens
    are the repo-standard whitespace split of ``trim(lower(text))``;
    the bucket is the portable md5-60bit hash mod ``buckets`` (DuckDB
    re-derives it bit-for-bit), plus one BIAS feature (bucket −1,
    cnt 1) per document so the learned hyperplane has an offset."""
    # deliberately NOT _spread (r14, measured): the 64-bucket explode+md5
    # is light enough that the round-robin exchange of the raw text costs
    # more than the single-core hashing saves (0.88 s vs 0.60 s isolated
    # A/B at sf0.1); at 100 TB the scan is already well-split
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    feat = (
        tok.withColumn("bucket", (_md5_60bits(F.col("tok")) % F.lit(buckets)).cast("long"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    bias = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit(BIAS_BUCKET).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return feat.unionByName(bias)


def _feats_prepared(
    docs: DataFrame, buckets: int, id_col: str, text_col: str, cache: bool = True
) -> tuple[DataFrame, bool]:
    """Hashed features routed through the session-lifetime plan-keyed
    memo registry (r14): every classifier query both TRAINS (3
    iterations over the features) and SCORES (another full feature
    pass), so an unshared prep tokenized + md5-hashed the corpus twice
    per query. The registry dedupes on (docs plan, params) exactly like
    the minhash/simhash shared preps; a session-level clearCache()
    (bench/driver harness) invalidates entries, so every timed run
    still computes from parquet.

    Returns ``(feats, registry_owned)`` (r15, ADVICE): ``registry_owned``
    is True only when the relation is actually registered in the
    LRU-bounded registry (session lifetime, caller must NOT unpersist).
    With ``cache=False`` — the rewrite-in-place escape hatch the lattice
    preps already have — or when the plan is unhashable, the RAW
    unpersisted relation comes back and the caller manages any persist
    it needs for its own multi-pass consumption."""
    raw = hashed_features(docs, buckets, id_col, text_col)
    if not cache:
        return raw, False
    try:
        docs.semanticHash()
    except Exception:  # noqa: BLE001 — unhashable plan: registry can't serve it
        return raw, False
    from .similarity import _memoized_persist

    return (
        _memoized_persist(docs, ("cls_feats", buckets, id_col, text_col), raw),
        True,
    )


# Session-bounded memo for TRAINED perceptron weights (r15, the
# _BPE_VOCAB_MEMO discipline): the weights are a driver-local ≤65-tuple
# list, so caching the values themselves is exact and storage-trivial.
# Motivation: four classifier queries each replay the identical
# 3-iteration eager train loop (3 collects × ~0.5-1 s of fixed stage
# cost) on the same corpus before their own scoring/audit work — the
# weights are pure data once trained. Keyed like the vocab memo
# (semanticHash + sameSemantics + params, label keyed by its expression
# string), lock-guarded, capped. Bench protocol mirrors the BPE
# trainer's: bench.py clears this memo and runs the TRAIN query once
# cold (TRAINER_SINGLE_RUN), so the trainer-economics row stays honest
# while the score/curve/audit rows record the serving path. Same reuse
# caveat as every plan-keyed cache: a corpus rewritten in place
# mid-session would replay stale weights — such callers keep the
# default memo=False.
_WEIGHTS_MEMO_CAP = 4
_WEIGHTS_MEMO: list[tuple[int, DataFrame, tuple, tuple]] = []
_WEIGHTS_MEMO_LOCK = __import__("threading").Lock()

# Driver-built weight tables and curves (Arrow-built local frames).
_WEIGHT_SCHEMA = T.StructType([T.StructField(c, T.LongType()) for c in ("bucket", "wt")])
_CURVE_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("k", "threshold", "tp", "fp", "fn", "tn")]
)


def train_perceptron(
    docs: DataFrame,
    label: F.Column,
    iterations: int = 3,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache: bool = True,
    memo: bool = False,
) -> tuple[list[tuple[int, int]], list[int]]:
    """Train the perceptron; returns ``(weights, errors_per_iter)`` —
    ``weights`` the sorted nonzero (bucket, weight) pairs, ``errors``
    the misclassified-document count at the START of each iteration
    (the full-batch update uses iteration-start weights for every
    document, which is what makes the result order-independent).

    ``label`` is a Column evaluating to +1/−1 on ``docs``. Weights
    start at zero, so iteration 1's update is the class-conditional
    token-count difference — deterministic from the data alone.

    ``cache=False`` bypasses the session memo registry for the shared
    feature prep (per-call persist, released before returning) — the
    escape hatch for corpora rewritten in place mid-session (the
    ``lattice_unit_prep`` caveat, r13/r14 advice). ``memo=True``
    additionally serves the TRAINED WEIGHTS from the session vocab-memo
    when the same (docs plan, label, params) already trained — see
    ``_WEIGHTS_MEMO``."""
    spark = docs.sparkSession
    params = (iterations, buckets, id_col, text_col, str(label))
    h = None
    if memo:
        try:
            h = docs.semanticHash()
        except Exception:  # noqa: BLE001 — memo is an optimization, never a gate
            h = None
        if h is not None:
            with _WEIGHTS_MEMO_LOCK:
                for entry in list(_WEIGHTS_MEMO):
                    eh, esrc, eparams, eres = entry
                    if eh == h and eparams == params:
                        try:
                            if not esrc.sameSemantics(docs):
                                continue
                        except Exception:  # noqa: BLE001
                            continue
                        _WEIGHTS_MEMO.remove(entry)
                        _WEIGHTS_MEMO.append(entry)
                        return list(eres[0]), list(eres[1])
    # registry-managed persist (r14): shared with classifier_margins so
    # a train-then-score query computes the features once, not twice.
    # When the registry can't own it (cache=False / unhashable plan),
    # persist per call and release in the finally below — the old
    # pre-r14 lifecycle (r14 ADVICE: the fallback used to leak).
    feats, registry_owned = _feats_prepared(docs, buckets, id_col, text_col, cache)
    if not registry_owned:
        feats = feats.persist(StorageLevel.MEMORY_AND_DISK)
    labels = docs.select(
        F.col(id_col).alias("doc_id"), label.cast("long").alias("y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w: dict[int, int] = {}
    errors: list[int] = []
    try:
        for _ in range(iterations):
            if w:
                w_df = local_frame(
                    spark, [(int(b), int(v)) for b, v in w.items()], _WEIGHT_SCHEMA
                )
                margins = (
                    feats.join(F.broadcast(w_df), "bucket")
                    .groupBy("doc_id")
                    .agg(F.sum(F.col("cnt") * F.col("wt")).alias("margin"))
                )
            else:
                margins = labels.select("doc_id", F.lit(0).cast("long").alias("margin"))
            mis = (
                labels.join(margins, "doc_id", "left")
                .filter(F.col("y") * F.coalesce(F.col("margin"), F.lit(0)) <= 0)
                .select("doc_id", "y")
            )
            upd = (
                feats.join(mis, "doc_id")
                .groupBy("bucket")
                .agg(
                    F.sum(F.col("y") * F.col("cnt")).alias("dw"),
                    # (doc_id, bucket) is unique in feats (grouped counts
                    # + one bias row per doc), so a plain map-side-
                    # combinable count equals the distinct-doc count —
                    # no two-phase distinct aggregate on the hot loop
                    F.count(F.lit(1)).alias("n_mis"),
                )
                .collect()
            )
            errors.append(int(upd[0].n_mis) if upd else 0)
            # n_mis is per-bucket distinct docs; the true error count is
            # the bias bucket's (every doc carries exactly one bias row)
            for row in upd:
                if row.bucket == BIAS_BUCKET:
                    errors[-1] = int(row.n_mis)
                w[int(row.bucket)] = w.get(int(row.bucket), 0) + int(row.dw)
            w = {b: v for b, v in w.items() if v != 0}
            if not upd:
                break
    finally:
        # registry-owned feats (LRU-bounded, session lifetime) stay — an
        # unpersist would strand the entry other consumers in the same
        # query (classifier_margins) are about to hit. A per-call
        # persist (cache=False / unhashable plan) is released here.
        labels.unpersist()
        if not registry_owned:
            feats.unpersist()
    result = sorted(w.items())
    if memo and h is not None:
        with _WEIGHTS_MEMO_LOCK:
            _WEIGHTS_MEMO.append((h, docs, params, (list(result), list(errors))))
            while len(_WEIGHTS_MEMO) > _WEIGHTS_MEMO_CAP:
                _WEIGHTS_MEMO.pop(0)
    return result, errors


def classifier_margins(
    docs: DataFrame,
    weights: list[tuple[int, int]],
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache: bool = True,
) -> DataFrame:
    """Score every document under trained weights: ``(doc_id, margin,
    pred)`` with ``pred = margin > 0``. One broadcast join + one
    doc-keyed partial agg; margins are exact int64 (see module
    docstring for the headroom bound). Total over ALL documents — a doc
    whose every feature bucket carries zero weight (pruned from the
    nonzero table) scores margin 0, not a dropped row. ``cache=False``
    bypasses the shared-feature memo registry (scoring reads the
    features exactly once, so no per-call persist is needed) — the
    rewrite-in-place escape hatch."""
    spark = docs.sparkSession
    feats, _registry_owned = _feats_prepared(docs, buckets, id_col, text_col, cache)
    # Keep the BIAS bucket in the weight table even when its trained
    # weight pruned to zero (r14): every document carries exactly one
    # bias feature row, so the broadcast inner join then reaches EVERY
    # doc and the "total over all docs" contract holds from the
    # aggregate alone — the old corpus-keyed docs LEFT JOIN (a
    # SortMergeJoin + two Exchanges re-scanning the corpus) existed
    # only to re-attach docs whose every bucket pruned away. A zero
    # bias weight contributes 0 to the margin, so values are identical.
    wmap = {int(b): int(v) for b, v in weights}
    wmap.setdefault(BIAS_BUCKET, 0)
    w_df = local_frame(spark, sorted(wmap.items()), _WEIGHT_SCHEMA)
    return (
        feats.join(F.broadcast(w_df), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("wt")).cast("long").alias("margin"))
        .withColumn("pred", F.col("margin") > 0)
    )


def operating_curve(
    scored: DataFrame, labels: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Threshold operating curve for a trained classifier — the gate-
    tuning step between training and freezing a corpus filter: for each
    of ``n_bins − 1`` thresholds on an even integer grid across the
    observed margin range (``t_k = mn + (mx−mn)·k div n_bins``), the
    exact confusion counts of "keep where margin > t_k" against the
    labels. ``scored`` is ``classifier_margins`` output; ``labels`` is
    ``(doc_id, y)`` with y ∈ {+1, −1}.

    Scale shape: one 2-value min/max agg (bounded driver collect — the
    codebook class), then ONE corpus pass computing all 4·(n_bins−1)
    conditional sums in a single aggregate row (also a bounded collect:
    4·(n_bins−1) int64 cells), unpivoted driver-side to
    ``(k, threshold, tp, fp, fn, tn)`` — no global sort, no
    per-threshold rescan, nothing corpus-sized shuffles. Every count
    is an exact int64, so the curve hash-checks cross-engine. The
    scored join is persisted between the two actions (min/max collect,
    then the sum pass) so the upstream scoring plan — tokenization,
    hashed features, the margin aggregation — executes ONCE, not once
    per action; because BOTH actions run inside this function, the
    cache unpersists in ``finally`` before returning (r10 advice: the
    old lazy-stack tail pinned one cache per invocation for the session
    lifetime). An empty scored⋈labels input short-circuits to an empty
    curve — matching the SQL twin's GROUP-BY-over-nothing, instead of
    unpivoting one all-NULL global-agg row into 9 NULL-count rows."""
    if n_bins < 2:
        raise ValueError(f"operating_curve: n_bins must be >= 2, got {n_bins}")
    spark = scored.sparkSession
    j = scored.join(labels, "doc_id").select("margin", "y").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        mn, mx = j.agg(F.min("margin"), F.max("margin")).first()
        if mn is None:
            # empty join: no margins, no thresholds — the curve is empty
            # (the cross-engine degenerate case ADVICE r10 flagged)
            return local_frame(spark, [], _CURVE_SCHEMA)
        ts = [
            (k, int(mn) + ((int(mx) - int(mn)) * k) // n_bins)
            for k in range(1, n_bins)
        ]
        aggs = []
        for k, t in ts:
            pos = F.col("margin") > F.lit(t)
            aggs += [
                F.sum(F.when(pos & (F.col("y") > 0), 1).otherwise(0))
                .cast("long").alias(f"tp{k}"),
                F.sum(F.when(pos & (F.col("y") < 0), 1).otherwise(0))
                .cast("long").alias(f"fp{k}"),
                F.sum(F.when(~pos & (F.col("y") > 0), 1).otherwise(0))
                .cast("long").alias(f"fn{k}"),
                F.sum(F.when(~pos & (F.col("y") < 0), 1).otherwise(0))
                .cast("long").alias(f"tn{k}"),
            ]
        wide = j.agg(*aggs).first()
        rows = [
            (k, t, wide[f"tp{k}"], wide[f"fp{k}"], wide[f"fn{k}"], wide[f"tn{k}"])
            for k, t in ts
        ]
        return local_frame(spark, rows, _CURVE_SCHEMA)
    finally:
        j.unpersist()


def confusion_by_group(
    scored: DataFrame, labeled_docs: DataFrame, group_col: str
) -> DataFrame:
    """Per-group classifier audit — the multilingual-fairness check a
    corpus gate needs before deployment (does "quality" secretly mean
    "English"?): exact confusion counts and a 1e-6 fixed-point error
    rate per group under the trained verdict (``pred``).
    ``labeled_docs`` carries ``(doc_id, <group_col>, y)``. One
    group-keyed partial agg over the scored join; the error ratio uses
    ``micro_ratio`` so even the rate column is an exact integer."""
    from .text import micro_ratio

    j = scored.join(labeled_docs, "doc_id")
    return (
        j.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("pred") & (F.col("y") > 0), 1).otherwise(0))
            .cast("long").alias("tp"),
            F.sum(F.when(F.col("pred") & (F.col("y") < 0), 1).otherwise(0))
            .cast("long").alias("fp"),
            F.sum(F.when(~F.col("pred") & (F.col("y") > 0), 1).otherwise(0))
            .cast("long").alias("fn"),
            F.sum(F.when(~F.col("pred") & (F.col("y") < 0), 1).otherwise(0))
            .cast("long").alias("tn"),
        )
        .withColumn(
            "err_micro",
            micro_ratio(F.col("fp") + F.col("fn"), F.col("n_docs")),
        )
    )
