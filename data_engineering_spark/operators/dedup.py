"""Deduplication operators over ``documents`` (SURVEY §2.10 north-star:
exact, MinHash+LSH, SimHash, n-gram Jaccard).

Design for 100 TB:

- **exact_dedup** is a single hash-aggregate on a 128-bit fingerprint —
  the shuffle carries (fingerprint, doc_id) pairs only, never the text.
- **minhash_near_dedup** is the standard shingle → K minhashes → banded
  LSH pipeline. Candidate generation never compares all pairs: docs
  collide only within (band_id, band_hash) buckets, so the self-join is
  per-bucket. The verify step computes true Jaccard only for candidates.
- **simhash_near_dedup** reduces each doc to a 64-bit signature via one
  groupBy (map-side partial agg), then blocks on 16-bit sub-bands —
  Hamming-distance ≤ d pairs must agree on ≥1 of 4 bands.

All stages are DataFrame ops (explode / groupBy / join) with no
driver-side loops. The only Python in any plan is the two Arrow signature
builders (minhash band hashes and simhash bit votes — vectorized numpy
per batch, each with a zero-Python expression twin selectable via
``signature_impl="expr"``). Hash functions are xxhash64 (JVM, codegen'd)
or the multiply-shift family — these ops are rows-only checked by the
driver since DuckDB lacks them; semantics are unit-tested with planted
near-duplicates instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import memo
from .text import fingerprint, tokens

# Below this many total input bytes, a runtime broadcast of any verify-join
# side is harmless (the whole corpus fits in a single broadcast many times
# over), so minhash_near_dedup's "auto" mode leaves the joins to AQE.
_SMALL_CORPUS_BYTES = 4 << 20


def _md5_60bits(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative LONG — THE portable hash
    every oracle-checked dedup variant shares. Must stay bit-identical
    to the DuckDB idiom ``('0x' || substr(md5(x),1,15))::BIGINT``; the
    three portable pipelines (shingle fingerprints, minhash permutation
    family, simhash token hash) all route through this one expression so
    the cross-engine invariant lives in one place."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

__all__ = [
    "exact_dedup",
    "keep_best_dedup",
    "shingles",
    "shingle_hashes",
    "shingle_hashes_portable",
    "minhash_signature",
    "minhash_band_buckets",
    "minhash_near_dedup",
    "jaccard_verify_pairs",
    "simhash_signature",
    "simhash_signature_arrow",
    "simhash_near_dedup",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_exact",
    "verbatim_spans",
    "positional_grams",
    "merge_covered_spans",
    "contamination_spans",
    "canonical_assignment",
]


def _size_bytes(conf_value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128m', …)."""
    v = conf_value.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if v.endswith(suffix):
            v, mult = v[: -len(suffix)], m
            break
    return int(v) * mult


# moved to operators/joins.py (shared by every size-conditional hint);
# kept under the old private name for this module's call sites
from .joins import input_bytes as _input_bytes  # noqa: E402


# Per-partition byte budget for the densest _spread call sites — the
# portable-md5 minhash signature family, whose 32 seeded-md5
# permutations per shingle measure ~4x the work density of every other
# spread stage (r15 interleaved A/B: canonical_portable 5.9 vs 6.9 s,
# minhash_portable 3.7 vs 4.5 s, st_streaming_dedup 2.7 vs 3.3 s for
# 16 KB vs the 64 KB default; every NON-portable family preferred the
# default — simhash_portable 2.6 vs 3.4, ngram_jaccard 2.5 vs 3.4,
# boilerplate 1.2 vs 1.8, bpe_apply 1.5 vs 2.0).
_SPREAD_DENSE_BYTES = 16 << 10

# canonical_assignment's driver-side union-find gate: edge lists at or
# under this row count (a few MB collected — the codebook-collect class)
# resolve on the driver in one pass; larger pair logs keep the
# distributed propagation loop.
_CANONICAL_DRIVER_MAX_EDGES = 100_000


def _spread(df: DataFrame, per_partition_bytes: int | None = None) -> DataFrame:
    """Fan out CPU-heavy per-row work across cores.

    Text corpora often arrive as few large files (here: one parquet file
    per table), so the scan stage gets 1-2 tasks and every downstream
    projection serializes. A round-robin repartition makes the
    shingle/hash stages scale with cores — but ONLY when the input is
    under-split: a 100 TB corpus already scanning as thousands of tasks
    must not pay a full-data shuffle for nothing.

    The fan-out target is BYTES-AWARE, not a flat defaultParallelism
    (r15; r14 verdict #3): ``min(defaultParallelism, max(2, ceil(bytes /
    budget)))``. Fanning a tiny input straight to every core makes each
    downstream job pay full-width scheduling + exchange overhead that
    exceeds the compute it buys — the r14 scaling block measured five
    spread-adjacent queries running FASTER at 8 cores than 32, and the
    r15 interleaved A/B confirmed ~10 partitions beat 32 on this box
    for every non-portable spread family at sf0.1. The per-partition
    budget (``SPARK_GRAFT_SPREAD_PARTITION_BYTES``, default 64 KB of
    COMPRESSED parquet ≈ ~0.5 MB of raw text ≈ a healthy task of the
    md5/shingle work this guards) is deliberately far below
    maxPartitionBytes: _spread wraps the repo's most CPU-dense per-row
    stages, where work-per-byte is 2-3 orders above a plain scan.
    Call sites with measurably denser work pass ``per_partition_bytes``
    explicitly (``_SPREAD_DENSE_BYTES`` for the portable-md5 minhash
    family). On any real input the ``scan_tasks >= target`` guard makes
    the whole thing a no-op before the budget is ever consulted.

    The scan-task estimate is file metadata only — max(file count,
    total bytes / maxPartitionBytes), matching how FileSourceScanExec
    splits — so building a dedup query never forces plan analysis
    through the RDD API. Frames with no file source (in-memory test
    data) fall back to the RDD partition probe, which is cheap there."""
    import os

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    nbytes = _input_bytes(df)
    if nbytes is None:
        files = []
        try:
            files = df.inputFiles()
        except Exception:  # noqa: BLE001
            pass
        if files:
            # remote files: count alone (each file is ≥1 task); a corpus
            # of thousands of objects is already well-split
            scan_tasks = len(files)
        else:
            scan_tasks = df.rdd.getNumPartitions()
    else:
        max_split = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        scan_tasks = max(len(df.inputFiles()), -(-nbytes // max(max_split, 1)))
        budget = per_partition_bytes or int(
            os.environ.get("SPARK_GRAFT_SPREAD_PARTITION_BYTES", str(64 << 10))
        )
        target = min(target, max(2, -(-nbytes // max(budget, 1))))
    if scan_tasks >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text fingerprint.

    groupBy(md5) with min(id) — one shuffle of (hash, id). The reference's
    nearest analog is its set-based dedup accumulation
    (``Talent_Opportunity_Platform/BkupRs.py:66,183-189``), done here
    distributed."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def keep_best_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-aware exact dedup: within each normalized-text fingerprint
    cluster keep the HIGHEST-QUALITY document (id as the tie-break), not
    the lowest id — the survivor-selection rule a production corpus
    actually wants, since near-identical scrapes differ in boilerplate
    and truncation. Emits the survivor plus the cluster's bookkeeping
    (dup_count and the token count reclaimed by dropping the rest).

    Determinism: the ordering key is the EXACT int64 micro-quality
    (``operators/text.py:quality_micro`` — integer fixed point, never a
    rounded double: a cross-engine boundary flip on a float key would
    swap which duplicate survives, the round-8 token-budget failure
    class) paired with the unique id, so ``max(struct(micro, -id, ...))``
    is a total order — the struct max can never fall through to its
    payload fields. The emitted ``quality`` double is ``micro / 1e6``,
    one identical IEEE division in any engine.

    Distributed shape: all scoring happens in the scan stage; ONE
    fingerprint-keyed shuffle with partial aggregation carries
    (fp, 24-byte struct) — same exchange profile as ``exact_dedup``."""
    from .text import quality_micro

    base = df.select(
        fingerprint(text_col).alias("fp"),
        F.col(id_col),
        quality_micro(text_col).alias("qm"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
    )
    best = F.max(
        F.struct(
            F.col("qm").alias("q"),
            (-F.col(id_col)).alias("nid"),
            F.col("n_tokens").alias("nt"),
        )
    ).alias("best")
    return (
        base.groupBy("fp")
        .agg(
            best,
            F.count(F.lit(1)).cast("long").alias("dup_count"),
            F.sum("n_tokens").alias("cluster_tokens"),
        )
        .select(
            "fp",
            (-F.col("best.nid")).alias(id_col),
            (F.col("best.q") / F.lit(1000000.0)).alias("quality"),
            "dup_count",
            (F.col("cluster_tokens") - F.col("best.nt")).alias("dropped_tokens"),
        )
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles as strings ('a b c').

    Built by zipping ``n`` shifted slices of the token array rather than
    ``transform(sequence(...), i -> slice(toks, i+1, n))``: Catalyst's
    CollapseProject re-inlines the ``split()`` into every per-index slice,
    so the transform form re-tokenizes the document once per gram —
    O(tokens²) regex work per row (measured 3.4s → 0.6s for the
    repetition filter at sf0.1). The zip form evaluates the split once
    per shift: O(n · tokens). Gram strings are identical (``concat_ws``
    skips the nulls zip_with pads past the short slice, which also
    reproduces the old whole-document gram for docs shorter than ``n``)."""
    toks = tokens(col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct n-gram fingerprints as LONGS, built without materializing
    gram strings: token hashes are folded pairwise with ``xxhash64``
    across ``n`` shifted slices. Equal grams → equal fingerprints (and
    unequal collide only at xxhash64 odds), so joins/distincts on the
    result are equivalent to joining string shingles — minus the string
    churn, which measures ~1.5× of the gram stage at sf0.1 and is pure
    GC pressure at corpus scale. Short docs fold over the tokens they
    have (``xxhash64`` skips the nulls ``zip_with`` pads with), exactly
    mirroring ``shingles``'s concat_ws whole-doc gram."""
    toks = tokens(col)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    acc = F.slice(hs, 1, m)
    for j in range(1, n):
        acc = F.zip_with(acc, F.slice(hs, j + 1, m), lambda a, b: F.xxhash64(a, b))
    return F.array_distinct(acc)


def shingle_hashes_portable(col: Column | str, n: int = 3) -> Column:
    """Distinct n-gram fingerprints as LONGS from the first 60 bits of
    md5 over the gram STRING — the engine-portable twin of
    ``shingle_hashes`` (xxhash64 folds are Spark-specific; md5 is
    bit-identical in DuckDB: ``('0x' || substr(md5(g),1,15))::BIGINT``).
    ~2× the hash CPU of the fold form, paid only by the oracle-checked
    variant."""
    g = shingles(col, n)
    return F.transform(g, _md5_60bits)


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 32, n: int = 3
) -> DataFrame:
    """MinHash signature: per doc, min over shingles of xxhash64(seed_i,
    base_hash(shingle)) for each of ``num_hashes`` seeded hash functions.

    Pure projection — no explode, no shuffle: shingle fingerprints are
    hash-composed longs (``shingle_hashes`` — no gram strings built), and
    each of the K seeded hashes is an 8-byte rehash folded with
    ``array_min``. Per-doc work is K cheap long hashes per shingle, and
    the signature build adds zero exchanges (the old explode→groupBy
    shape shuffled every (doc, shingle) row)."""
    hs = shingle_hashes(text_col, n)
    base = _spread(df).select(F.col(id_col), hs.alias("hs"))
    cols = [
        F.array_min(F.transform(F.col("hs"), lambda h: F.xxhash64(F.lit(i), h))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return base.select(F.col(id_col), *cols)


def minhash_band_hashes_arrow(num_hashes: int = 32, bands: int = 8):
    """pandas_udf: shingle-hash array → ``bands`` band-bucket longs, all
    permutations evaluated in ONE vectorized numpy pass per Arrow batch.

    The permutation family is multiply-shift over the 64-bit shingle
    hashes (``perm_i(s) = A_i·s + B_i`` in uint64 wraparound, A_i odd) —
    a standard universal-hash minwise family with the same banding
    guarantees as the expression path's seeded xxhash64 rehashes, but
    ~num_hashes× cheaper: the expression form evaluates 32 separate
    array_min(transform(...)) passes over every shingle array, while
    this builder concatenates the batch's shingles once and takes
    ``minimum.reduceat`` per permutation. Constants derive from a fixed
    splitmix64 stream — no RNG state, identical on every executor."""
    from pyspark.sql.functions import pandas_udf

    rows_per_band = num_hashes // bands

    def _splitmix(seed: int) -> int:
        z = (seed + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    A = np.array([( _splitmix(2 * i) | 1) for i in range(num_hashes)], dtype=np.uint64)
    B = np.array([_splitmix(2 * i + 1) for i in range(num_hashes)], dtype=np.uint64)
    FNV = np.uint64(1099511628211)

    @pandas_udf("array<long>")
    def band_hashes(shsets: pd.Series) -> pd.Series:
        # null/empty shingle sets (null text, whitespace-only docs) have
        # no minhash by definition: emit an EMPTY band array so the
        # posexplode produces no bucket rows and they never pair — the
        # same end state as the expr path, whose null band hashes die in
        # the null-Jaccard verify filter. Mixing them into reduceat
        # would crash (trailing empty → out-of-range offset) or silently
        # borrow the next row's first hash (interior empty).
        vals = [None if s is None else np.asarray(s, dtype=np.int64) for s in shsets]
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vals), dtype=np.int64, count=len(vals)
        )
        valid = lens > 0
        n_valid = int(valid.sum())
        out: list[list[int]] = [[] for _ in range(len(vals))]
        if n_valid == 0:
            return pd.Series(out)
        flat = np.concatenate([v for v in vals if v is not None and len(v)]).view(np.uint64)
        vlens = lens[valid]
        offsets = np.zeros(n_valid, dtype=np.int64)
        np.cumsum(vlens[:-1], out=offsets[1:])
        minima = np.empty((num_hashes, n_valid), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(num_hashes):
                minima[i] = np.minimum.reduceat(A[i] * flat + B[i], offsets)
            bh = np.empty((bands, n_valid), dtype=np.uint64)
            for b in range(bands):
                acc = np.full(n_valid, np.uint64(0xCBF29CE484222325))
                for r in range(rows_per_band):
                    acc = (acc ^ minima[b * rows_per_band + r]) * FNV
                bh[b] = acc
        # reinterpret THEN transpose: a same-itemsize view on the
        # contiguous array works on every numpy (a view on the
        # transposed, non-contiguous array raises on numpy < 1.23)
        rows = bh.view(np.int64).T
        for pos, row in zip(np.nonzero(valid)[0], rows):
            out[pos] = row.tolist()
        return pd.Series(out)

    return band_hashes


def minhash_near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.6,
    max_bucket: int | None | str = "auto",
    verify_join: str = "auto",
    signature_impl: str = "arrow",
) -> DataFrame:
    """MinHash + banded LSH near-dedup → (id_a, id_b, jaccard) pairs.

    bands=8 × rows=4 over 32 hashes ⇒ collision prob ≈ 1-(1-s⁴)⁸ — steep
    around s≈0.6. Verified candidates only (true shingle Jaccard via
    array_intersect/union on the candidate pair's shingle sets).

    The shingle-set DataFrame is computed once and persisted (memory+disk):
    it feeds both the signature build and the verify joins — without the
    persist Spark recomputes the tokenize+shingle projection three times.
    At petabyte scale swap the persist for a checkpoint to cluster storage.

    Scale guards (pair output is inherently quadratic in CLUSTER size):

    - ``max_bucket`` drops LSH buckets holding more docs than the cap —
      a bucket that large is a boilerplate/exact-dup mega-cluster whose
      C(k,2) pair fan-out (5B pairs per band for k=100k) belongs to the
      cheap hash-groupBy ``exact_dedup`` pass that should run first, not
      to pairwise verification. Same policy as the n-gram blocker's
      bucket purge. ``None`` disables; the default ``"auto"`` applies
      1024 only when the corpus is big or unknowable: the guard pass is
      one extra agg+join whose cost at toy scale is pure fixed stage
      overhead (~1s of the r4 bench's 2.6s — the only r4 regression),
      while a sub-``_SMALL_CORPUS_BYTES`` corpus can't produce a pair
      fan-out big enough to matter even fully quadratic.
    - ``signature_impl`` picks the signature builder: ``"arrow"``
      (default) computes all permutations' minima and the band combine
      in one vectorized numpy pass per Arrow batch
      (``minhash_band_hashes_arrow`` — multiply-shift minwise family);
      ``"expr"`` keeps the pure-expression xxhash64 form (no Python in
      the plan, ~num_hashes interpreted passes per shingle array);
      ``"portable"`` swaps every hash for md5 (seeded-md5 permutations,
      md5 band folds over md5-60-bit shingle fingerprints) so a DuckDB
      oracle reproduces the WHOLE pipeline bit-exactly — the
      verification variant behind ``dedup_minhash_portable``. All
      feed the identical banded join + exact-Jaccard verify, so the
      VERIFIED output differs only where banding recall differs — the
      equality of both impls' pair sets on the driver corpus is asserted
      in tests.
    - ``verify_join`` controls the verify joins' strategy: both sides
      (candidate pairs, per-doc shingle sets) are data-sized, but they
      sit behind a join+distinct where the planner's size estimate
      collapses — left free, Spark picks a runtime broadcast that OOMs
      the driver once the corpus is real (reproduced at the 10x
      synthetic SF). But the forced SHUFFLE_HASH overpays at toy scale
      (the r4 bench's only regression, 1.6s→2.6s at sf0.1, was exactly
      this hint suppressing a genuinely-fine broadcast). ``"auto"``
      gates on the measured input bytes: corpora whose files total under
      ``_SMALL_CORPUS_BYTES`` leave the join to AQE (any runtime
      broadcast is provably tiny), larger or unknowable inputs get the
      hint. ``"shuffle_hash"`` / ``"none"`` force either way.
    """
    small_corpus: bool | None = None  # resolved lazily, probed at most once

    def _is_small() -> bool:
        nonlocal small_corpus
        if small_corpus is None:
            nbytes = _input_bytes(df)
            small_corpus = nbytes is not None and nbytes <= _SMALL_CORPUS_BYTES
        return small_corpus

    if verify_join == "auto":
        hint_verify = not _is_small()
    else:
        hint_verify = verify_join == "shuffle_hash"
    if max_bucket == "auto":
        max_bucket = None if _is_small() else 1024

    # Shingle sets are carried as hash-composed LONGS end to end (see
    # shingle_hashes): signatures only ever rehash them, and the verify
    # Jaccard over hash sets equals the string-set Jaccard at xxhash64
    # collision odds — while the persisted relation and the verify
    # shuffle ship 8-byte longs instead of ~50-char gram strings.
    shingle_fp = (
        shingle_hashes_portable if signature_impl == "portable" else shingle_hashes
    )
    # Both persists below go through the session memo: a raw per-call
    # persist is never unpersisted — the returned pairs depend on it —
    # so repeated invocations in a long-lived session would accumulate
    # dead cache entries. The memo bounds them and serves a same-plan
    # re-run from the cached relation.
    sh = _spread(
        df,
        # the md5 permutation family is the repo's densest spread stage
        # (see _SPREAD_DENSE_BYTES); the arrow/expr impls prefer the
        # default budget (r15 interleaved A/B: 1.48 vs 1.86 s)
        _SPREAD_DENSE_BYTES if signature_impl == "portable" else None,
    ).select(F.col(id_col), shingle_fp(text_col, n).alias("shset"))
    sh = memo.persisted("minhash_sh", sh)
    buckets = minhash_band_buckets(
        sh, id_col=id_col, num_hashes=num_hashes, bands=bands,
        signature_impl=signature_impl,
    )
    if max_bucket is not None:
        small = (
            buckets.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__bn__"))
            .filter(F.col("__bn__") <= max_bucket)
            .select("band", "bh")
        )
        # same (band, bh) keying as the self-join below — AQE reuses the
        # exchange, so the cap costs no extra corpus shuffle
        buckets = buckets.join(small, ["band", "bh"])
    left = buckets.alias("a")
    right = buckets.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    cand = memo.persisted("minhash_cand", cand)
    return jaccard_verify_pairs(
        cand, sh, id_col=id_col, threshold=threshold, hint_verify=hint_verify
    )


def minhash_band_buckets(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    signature_impl: str = "arrow",
) -> DataFrame:
    """Shingle sets → exploded LSH band buckets ``(id, band, bh)``.

    ``sh`` carries ``(id_col, shset)`` where ``shset`` is the hashed
    shingle array (``shingle_hashes`` for arrow/expr impls,
    ``shingle_hashes_portable`` for the md5 verification family). Shared
    by ``minhash_near_dedup`` (one-shot self-join) and the incremental
    streaming ingest (``streaming/incremental_dedup.py``), which joins a
    micro-batch's buckets against a persisted corpus index instead —
    identical bucket keying is what makes incremental ≡ one-shot.

    Signature build is a shuffle-free map over the shingle sets either
    way: the arrow default is one vectorized numpy pass per Arrow batch
    (ArrowEvalPython in the plan, no exchange); the expr form is K
    seeded rehashes folded with array_min (zero Python)."""
    rows_per_band = num_hashes // bands
    if signature_impl == "arrow":
        # one vectorized numpy pass computes every permutation's minimum
        # AND the band combine — the expression form below walks each
        # shingle array num_hashes times through interpreted transforms
        bh_udf = minhash_band_hashes_arrow(num_hashes, bands)
        buckets = sh.select(
            F.col(id_col), F.posexplode(bh_udf(F.col("shset"))).alias("band", "bh")
        )
    elif signature_impl == "portable":
        # Engine-portable permutation family: perm_i(s) = first 60 bits
        # of md5(f"{i}:{s}") over the decimal rendering of the portable
        # shingle fingerprint, band hash = md5 of the comma-joined
        # minima. No integer wraparound anywhere, so DuckDB reproduces
        # every stage verbatim (the oracle for `dedup_minhash_portable`).
        hs = sh.select(F.col(id_col), F.col("shset").alias("hs"))

        # The seed must be closed over with a SINGLE-parameter lambda: a
        # two-parameter lambda (the old `lambda h, i=i:` spelling) is
        # interpreted by F.transform as (element, INDEX) — the default
        # is discarded, `i` binds to the index Column, and the f-string
        # bakes that Column's auto-named repr into the seed. Seeds were
        # then stable within one plan but different per plan
        # construction: the one-shot oracle still passed (the VERIFIED
        # pair set is seed-insensitive at oracle SFs) but any two plans
        # disagreed on signatures — caught when the incremental replay
        # hashed each micro-batch under different "seeds" than the
        # corpus index.
        def _perm(i: int):
            pref = F.lit(f"{i}:")
            return lambda h: _md5_60bits(F.concat(pref, h.cast("string")))

        sig = hs.select(
            F.col(id_col),
            *[
                F.array_min(F.transform(F.col("hs"), _perm(i))).alias(f"mh{i}")
                for i in range(num_hashes)
            ],
        )
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
        buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
            id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
        )
    else:
        hs = sh.select(F.col(id_col), F.col("shset").alias("hs"))
        sig = hs.select(
            F.col(id_col),
            *[
                F.array_min(
                    F.transform(F.col("hs"), lambda h: F.xxhash64(F.lit(i), h))
                ).alias(f"mh{i}")
                for i in range(num_hashes)
            ],
        )

        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bh"),
            )
            for b in range(bands)
        ]
        buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
            id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
        )
    return buckets


def jaccard_verify_pairs(
    cand: DataFrame,
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    hint_verify: bool = False,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs → exact-Jaccard-verified
    ``(id_a, id_b, jaccard ≥ threshold)`` against the shingle relation
    ``sh`` = ``(id_col, shset)``. ``cand`` should be persisted by the
    caller when it also feeds other consumers.

    Semi-reduces the shingle relation to docs that are actually in a
    candidate pair before the pairwise joins: in the common low-dup
    regime this turns two full-corpus shuffles of the (wide) shingle
    arrays into one narrow id semi-join plus two joins over the tiny
    survivor set; in the high-dup regime it is never worse than the
    full shuffles it replaces."""
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_v = sh.join(cand_ids, id_col, "left_semi")
    sh_a = sh_v.withColumnRenamed(id_col, "id_a").withColumnRenamed("shset", "sh_a")
    sh_b = sh_v.withColumnRenamed(id_col, "id_b").withColumnRenamed("shset", "sh_b")
    if hint_verify:
        sh_a, sh_b = sh_a.hint("shuffle_hash"), sh_b.hint("shuffle_hash")
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        # round(n/d, 6) as a FILTER key is safe HERE (unlike the general
        # rounded-double-cut class): n, d are exact ints with d bounded
        # by shingle-set size, so the one correctly-rounded IEEE division
        # is bit-identical in both engines and the exact rational n/d is
        # either ≥ 1/(2e6·d) ≫ ulp away from every 6-dp midpoint or
        # EXACTLY on one (both engines then round away from zero on the
        # same double). FLOATS.md §historical-note carries the proof.
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash: per token hash, bit i votes +1/-1; sign of the sum
    is bit i of the signature. One explode + one groupBy (partial-agg
    friendly).

    ``portable=True`` swaps the token hash from xxhash64 to the first 60
    bits of md5 — ~2× more hash CPU, but bit-reproducible in any engine
    with md5 (DuckDB: ``('0x' || substr(md5(tok),1,15))::BIGINT``), which
    turns the whole near-dup pipeline into an oracle-checkable query
    (bits 60-63 vote all-negative on both sides, so they pack as 0)."""
    tok_hash = _md5_60bits(F.col("tok")) if portable else F.xxhash64(F.col("tok"))
    ex = _spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).select(
        F.col(id_col), tok_hash.alias("h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        # bits-1, not bits: the packing loop below skips the sign bit, so
        # a vote for it would only fatten the per-doc groupBy state by a
        # dead 8-byte long (r11 review; the portable callers already trim
        # the same way by passing bits=61)
        for i in range(bits - 1)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sig_terms = [
        F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(bits - 1)  # skip sign bit to stay in signed-long range
    ]
    sig = sig_terms[0]
    for term in sig_terms[1:]:
        sig = sig.bitwiseOR(term)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_signature_arrow(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Map-only SimHash via Arrow batches: pandas' C-level string hashing
    (``pd.util.hash_array``) + a NumPy bit-vote matrix with segment sums.

    The scale twin of ``simhash_signature``: the expression form shuffles
    64 vote longs per doc through a groupBy (~0.5 KB/doc — terabytes of
    shuffle on a trillion-doc corpus), while this one computes the
    signature inside the scan stage with ZERO shuffle and a codegen
    footprint of one projection. Signatures differ from the expr form
    (different token hash function) but the near-dup semantics are the
    same — agreement is tested on planted duplicates.

    Bit layout matches ``simhash_signature``: bits 0..62 from the vote
    signs, bit 63 always clear so the long stays non-negative."""
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    weights = (np.uint64(1) << np.arange(63, dtype=np.uint64))

    def sign(batches):
        for pdf in batches:
            toks = pdf[text_col].fillna("").str.lower().str.split()
            lens = toks.str.len().to_numpy(dtype=np.int64)
            sig = np.zeros(len(pdf), dtype=np.int64)
            total = int(lens.sum())
            if total:
                flat = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks if t]
                )
                h = pd.util.hash_array(flat)  # uint64, fixed key — deterministic
                bits = (
                    (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
                ).astype(np.int64) * 2 - 1
                starts = np.zeros(len(pdf), dtype=np.int64)
                starts[1:] = np.cumsum(lens)[:-1]
                nz = lens > 0
                # reduceat over nonzero-doc starts: empty docs contribute no
                # rows, so consecutive nonzero starts bound exact segments
                votes = np.add.reduceat(bits, starts[nz], axis=0)
                packed = ((votes[:, :63] > 0).astype(np.uint64) * weights).sum(
                    axis=1
                ).astype(np.int64)
                sig[nz] = packed
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sig})

    return _spread(df).select(id_col, text_col).mapInPandas(sign, schema=out_schema)


def simhash_near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    signature_impl: str = "expr",
    max_bucket: int | None | str = "auto",
) -> DataFrame:
    """SimHash near-dedup: block on 16-bit sub-bands (pigeonhole: hamming ≤ 3
    ⇒ at least one of 4 bands identical), verify with bit_count(a XOR b).

    ``signature_impl="arrow"`` swaps in the zero-shuffle Arrow signature
    builder (``simhash_signature_arrow``) — the 100 TB path.

    ``max_bucket`` purges (band, bh) buckets holding more docs than the
    cap before the self-join, mirroring minhash's guard: pair output is
    quadratic in cluster size, and a band shared by 100k docs is an
    exact-dup/boilerplate mega-cluster whose C(k,2) fan-out belongs to
    ``exact_dedup``, not pairwise verification (the 100× extreme-dup
    probe measured 48.5s purely writing those pairs). ``None`` disables;
    ``"auto"`` (default) caps at 1024 only for big/unknowable corpora —
    small ones skip the guard pass (same size gate as minhash).
    Recall on genuinely NEAR (not exact) duplicates is unaffected at any
    realistic cap — near-dup clusters are small."""
    if max_bucket == "auto":
        nbytes = _input_bytes(df)
        max_bucket = None if (nbytes is not None and nbytes <= _SMALL_CORPUS_BYTES) else 1024
    if signature_impl == "arrow":
        sig = simhash_signature_arrow(df, text_col, id_col)
    elif signature_impl == "portable":
        # bits=61: the 60-bit md5 token hash can never set bits 60-63,
        # so their votes are all -1 — computing them only fattens the
        # 8-byte-per-bit vote state through the groupBy. 61 keeps the
        # packing range(bits-1) = bits 0..59, exactly the SQL twin's
        # range(60); packed signatures are unchanged (the dropped bits
        # packed as 0 before).
        sig = simhash_signature(df, text_col, id_col, bits=61, portable=True)
    else:
        sig = simhash_signature(df, text_col, id_col)
    if max_bucket is not None:
        # the cap needs bucket counts AND the join — without a persist
        # the (CPU-heavy) signature build executes once per consumer.
        # The persisted relation is 16 bytes/doc, storage-trivial even
        # at corpus scale (measured: 30× sweep 9.4 s → 4.8 s). Held by
        # the session memo, like every shared-prep persist.
        sig = memo.persisted("simhash_sig", sig)
    bands = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    if max_bucket is not None:
        small = (
            bands.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("__bn__"))
            .filter(F.col("__bn__") <= max_bucket)
            .select("band", "bh")
        )
        # same (band, bh) keying as the self-join — AQE reuses the exchange
        bands = bands.join(small, ["band", "bh"])
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via the shared-shingle join: two docs
    pair iff they share ≥1 gram, the intersection is the count of shared
    distinct grams, and the union comes from per-doc gram counts —
    no blocking heuristic, no hashing, so DuckDB reproduces it verbatim
    (this is the oracle-checked baseline; ``ngram_jaccard_pairs`` with
    rarest-shingle blocking is the scale path). Work is quadratic only
    within shingle-sharing groups, which is exactly the frequent-gram
    trap the blocked variant's bucket purge exists for."""
    sh = df.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("g"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "g")
    b = sh.select(F.col(id_col).alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    block_keys: int = 4,
    max_bucket: int = 64,
    gram_impl: str = "xxhash",
    emit_counts: bool = False,
) -> DataFrame:
    """n-gram Jaccard near-dup with discriminative blocking: each doc is
    keyed by its ``block_keys`` RAREST shingles (by corpus document
    frequency), buckets larger than ``max_bucket`` are purged as
    non-discriminative, and only same-bucket pairs pay the true-Jaccard
    verify. Shingles (not tokens) as block keys matter twice over:
    blocking on a frequent key degenerates (one common token puts
    thousands of docs in a bucket and the candidate join goes quadratic —
    the first version of this operator did exactly that), and 3-gram
    phrases are rare enough that near-dups share their rarest ones (25/25
    recall vs the minhash ground truth at sf0.01). Verify compares
    xxhash64'd shingle arrays (long compares, not string compares). For
    corpora where minhash's probabilistic recall is unacceptable.

    ``gram_impl="portable"`` swaps the xxhash64 fingerprints for the raw
    gram STRINGS, so every step — gram sets, document frequencies, the
    (doc_freq, gram) rarest-key ranking, bucket purge, candidate join,
    exact Jaccard — is engine-portable and a DuckDB twin reproduces the
    whole blocking heuristic bit-exactly (tie-breaks order on the gram
    string both engines compare as plain bytes). String churn makes it
    ~1.5× the gram-stage CPU of the hashed path; paid only by the
    oracle-checked variant, same trade as the md5 minhash twin.

    ``emit_counts=True`` swaps the rounded-double ``jaccard`` column for
    the exact integer ``n_inter`` / ``n_union`` set sizes per pair, so
    consumers that re-bin pairs (the threshold-sweep calibration query)
    band on pure-integer arithmetic — ``(10*n_inter) div n_union`` —
    instead of re-deriving bands from a rounded double, which can flip
    at a band boundary when two engines round a tie differently. In this
    mode the threshold filter is the integer
    ``n_inter * K >= n_union * (K*threshold)`` equivalent when
    ``threshold > 0`` and skipped entirely at 0, and the jaccard double
    is never built — computing it alongside the counts doubled the
    array_intersect/array_union work per pair (measured 59 s → ~35 s at
    the 100× probe, the candidate stream's own cost)."""
    from pyspark.sql import Window

    gram = shingles(text_col, n) if gram_impl == "portable" else shingle_hashes(text_col, n)
    # persisted through the session memo: sh feeds the block-key stream
    # AND both verify-join sides (sh_a, sh_b) — without a persist the
    # tokenize+gram projection re-executes per consumer (the same
    # lineage blowup minhash_near_dedup's persist comment documents).
    sh = memo.persisted("ngram_sh", _spread(df).select(F.col(id_col), gram.alias("shset")))
    tok = sh.select(F.col(id_col), F.explode("shset").alias("blk"))
    freq = tok.groupBy("blk").agg(F.count(F.lit(1)).alias("doc_freq"))
    ranked = (
        tok.join(freq, "blk")
        .filter(F.col("doc_freq") <= max_bucket)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("doc_freq").asc(), F.col("blk"))
            ),
        )
        .filter(F.col("rn") <= block_keys)
        .select(id_col, "blk")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    paired = cand.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shset").alias("sh_a")), "id_a"
    ).join(sh.select(F.col(id_col).alias("id_b"), F.col("shset").alias("sh_b")), "id_b")
    if emit_counts:
        sized = paired.select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("n_union"),
        )
        if threshold > 0:
            # exact integer form of n_inter/n_union >= threshold at the
            # micro grid — no double enters the cut
            t_micro = int(round(threshold * 1e6))
            sized = sized.filter(
                F.col("n_inter") * F.lit(1000000) >= F.col("n_union") * F.lit(t_micro)
            )
        return sized
    return (
        paired.withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verbatim_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 8,
    min_span: int = 8,
    min_df: int = 2,
    gram_impl: str = "xxhash",
) -> DataFrame:
    """Cross-document VERBATIM SPAN extraction — the substring-level
    dedup surface (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): find, per document, the maximal token
    spans whose every ``gram``-token window also appears in ≥
    ``min_df``-1 OTHER documents. Document-level dedup (exact/minhash)
    misses these — two mostly-different pages sharing a 200-token
    quoted passage keep both copies; this emits the exact positions to
    cut. Emits (id, span_start, span_end, span_len), 1-based token
    positions, spans ≥ ``min_span`` tokens.

    Algorithm: positional ``gram``-token windows (zip-shift form —
    transform+slice re-inlines the tokenizer per index, the O(n²)
    CollapseProject trap ``shingles`` documents); a window is SHARED
    when its gram's distinct-document frequency ≥ ``min_df``
    (intra-document repeats do NOT count — this operator is strictly
    cross-document); each shared window covers token interval
    [s+1, min(s+gram, n)]; classic interval merge per document (order
    by start, running max of covered end over preceding rows, new
    island when start exceeds it, islands aggregated to spans). Docs
    shorter than ``gram`` fold their whole token string as one window
    (the corpus-wide fallback every gram operator here shares), so
    short exact dups still yield their full-doc span.

    Scale shape: THREE corpus-scaling exchanges — the distinct
    (gram, doc) df agg with map-side combine, the shared-gram join
    back (keyed on the gram; only the duplicated fraction survives),
    and the per-document interval-merge window (keyed on the doc id,
    state = one running max). Output is bounded by the duplicated
    token mass, not the corpus. ``gram_impl="xxhash"`` (default) folds
    positional 64-bit fingerprints instead of gram strings — the
    production path (~1.5× less gram-stage CPU/GC); ``"portable"``
    keeps strings so a SQL twin replays every stage (the registered
    oracle query's mode; equal spans unless xxhash64 collides)."""
    # persisted through the session memo: starts feeds the gram-df
    # aggregate AND the shared-gram join — without a persist the
    # positional-gram explode runs twice (r11 review).
    starts = memo.persisted(
        "verbatim_starts", positional_grams(df, text_col, id_col, gram, gram_impl)
    )
    gdf = (
        starts.select("g", id_col)
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("gram_df"))
    )
    shared = starts.join(
        gdf.filter(F.col("gram_df") >= min_df).select("g"), "g"
    ).select(id_col, "s0", "n_toks")
    return merge_covered_spans(shared, id_col, gram, min_span)


def positional_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 8,
    gram_impl: str = "xxhash",
) -> DataFrame:
    """``(id, n_toks, s0, g)``: every position's ``gram``-token window,
    zip-shift form (transform+slice would re-inline the tokenizer per
    index — the O(n²) CollapseProject trap ``shingles`` documents).
    Docs shorter than ``gram`` fold their whole token string as one
    window at s0 = 0 (the corpus-wide fold-what-you-have fallback).
    Shared by the within-corpus (``verbatim_spans``) and cross-corpus
    (``contamination_spans``) span extractors."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - (gram - 1), F.lit(1))
    if gram_impl == "portable":
        acc = F.slice(toks, 1, m)
        for j in range(1, gram):
            acc = F.zip_with(
                acc, F.slice(toks, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
            )
    else:
        hs = F.transform(toks, lambda t: F.xxhash64(t))
        acc = F.slice(hs, 1, m)
        for j in range(1, gram):
            acc = F.zip_with(acc, F.slice(hs, j + 1, m), lambda a, b: F.xxhash64(a, b))
    # _spread (r14): the gram-1 zip_with chain + posexplode is CPU-bound
    # per row and the bench corpus scans as ONE task — without the fan-
    # out the whole positional-gram stage (and the persist both span
    # extractors share) materializes single-core. No-op on a well-split
    # 100 TB scan. Values are row-local, so the result is unchanged.
    return _spread(df).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_toks"),
        F.posexplode(acc).alias("s0", "g"),
    )


def merge_covered_spans(
    shared: DataFrame, id_col: str, gram: int, min_span: int
) -> DataFrame:
    """Classic per-document interval merge over flagged gram windows
    (``(id, s0, n_toks)`` rows): order by start, running max of covered
    end over preceding rows, new island when the start clears it,
    islands aggregated to (span_start, span_end, span_len). ONE
    doc-keyed exchange; state = one running max."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("s0")
    end = F.least(F.col("s0") + F.lit(gram), F.col("n_toks"))
    run_end = F.max(end).over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        shared.withColumn(
            "new_island",
            (F.col("s0") > F.coalesce(run_end, F.lit(-1))).cast("int"),
        )
        .withColumn(
            "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    spans = islands.groupBy(id_col, "island").agg(
        (F.min("s0") + 1).cast("long").alias("span_start"),
        F.max(end).cast("long").alias("span_end"),
    )
    return spans.select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("span_len"),
    ).filter(F.col("span_len") >= min_span)


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 8,
    min_span: int = 8,
    gram_impl: str = "xxhash",
) -> DataFrame:
    """Cross-corpus VERBATIM CONTAMINATION spans — span-level
    decontamination: per corpus document, the maximal token spans whose
    every ``gram``-token window also appears in the BENCHMARK set, as
    exact 1-based cut positions. `ngram_decontaminate` answers *whether*
    a document overlaps an eval set (drop/keep); this answers *where* —
    the surgical alternative when dropping whole documents for one
    quoted test item is too blunt (the Lee et al. substring result
    applied train-vs-eval instead of train-vs-train).

    Scale shape: STRICTLY LIGHTER than the within-corpus variant — no
    corpus-wide gram-df aggregate at all. The benchmark's distinct gram
    set (benchmarks are MB-scale) aggregates on the tiny side and
    broadcasts into a LEFT SEMI against the corpus gram stream
    (curation.py:ngram_decontaminate's broadcast contract), so the only
    corpus-scaling exchange is the per-document interval-merge window.
    Same gram_impl trade as ``verbatim_spans``: xxhash positional
    fingerprints in production, strings for the SQL twin."""
    starts = positional_grams(corpus, text_col, id_col, gram, gram_impl)
    bench_g = (
        positional_grams(benchmark, text_col, id_col, gram, gram_impl)
        .select("g")
        .distinct()
    )
    shared = starts.join(F.broadcast(bench_g), "g", "left_semi").select(
        id_col, "s0", "n_toks"
    )
    return merge_covered_spans(shared, id_col, gram, min_span)


def canonical_assignment(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 5,
    reliable_checkpoints: bool = False,
) -> DataFrame:
    """Resolve near-dup PAIRS into per-document canonical ids (min id of
    the connected duplicate cluster) — the step that turns pair output
    (minhash/simhash/ngram) into a drop-list for a training corpus.

    Label propagation: every doc starts labeled with itself; each round
    every doc adopts the min label in its neighborhood, and the loop
    exits as soon as a round changes nothing (clusters in practice are
    shallow, so convergence usually lands well before ``max_rounds``);
    each round is two hash joins + a groupBy, all partitioned on doc id,
    plus a cheap changed-count action on the checkpointed labels.
    Edge lists at or under ``_CANONICAL_DRIVER_MAX_EDGES`` rows resolve
    driver-side instead (the same full-batch propagation over a bounded
    collect — identical rounds, convergence check and truncation error;
    one collect instead of 2 jobs per round). Iterative ⇒ rows-only
    checked; semantics unit-tested on planted chains.

    ``reliable_checkpoints=True`` writes each round's labels to the
    cluster checkpoint dir (``spark.sparkContext.setCheckpointDir``) via
    ``checkpoint()`` instead of executor-local ``localCheckpoint()`` —
    the fault-tolerant mode for long-running cluster jobs, where losing
    an executor mid-iteration must not restart the whole propagation."""
    from pyspark import StorageLevel

    if max_rounds < 1:
        raise ValueError(
            f"canonical_assignment: max_rounds must be >= 1, got {max_rounds}"
        )

    # Materialize the (tiny) edge list once: every propagation round joins
    # against it, and without the persist each round re-executes the whole
    # upstream candidate pipeline (minhash signatures included) — the
    # classic iterative-algorithm lineage blowup.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Size-gated driver-side resolve (r15, guide §1.2 — the distributed
    # loop pays 2 fixed-cost actions PER ROUND, ~1.9 s of pure job
    # overhead at bench scale): when the edge list is codebook-small
    # (the same bounded-collect class as the BPE merge table and kmeans
    # centroids — ≤100 k edges ≈ a few MB), collect it and run the SAME
    # full-batch min-label propagation on the driver, round for round:
    # identical updates (min over self + neighbors of the PREVIOUS
    # round's labels), identical changed-count convergence check, and
    # the identical non-convergence error when a chain outruns
    # ``max_rounds``. The distributed loop only flows labels across
    # edges whose BOTH endpoints are in ``ids`` (a neighbor outside
    # ``ids`` has no label row to adopt or donate), so the collected
    # edge set is semi-filtered to the ids-induced graph first. Docs in
    # no pair keep their own label (the final left join's coalesce). A
    # corpus whose pair log exceeds the gate (dup-heavy data at scale)
    # takes the distributed loop below, unchanged.
    n_edges = edges.count()
    if n_edges <= _CANONICAL_DRIVER_MAX_EDGES:
        spark = ids.sparkSession
        half = edges.filter(F.col("src") < F.col("dst"))
        ids_src = ids.select(F.col(id_col).alias("src"))
        both_in = half.join(ids_src, "src", "left_semi").join(
            ids.select(F.col(id_col).alias("dst")), "dst", "left_semi"
        )
        rows = both_in.select("src", "dst").collect()
        edges.unpersist()
        adj: dict = {}
        for r in rows:
            adj.setdefault(r.src, []).append(r.dst)
            adj.setdefault(r.dst, []).append(r.src)
        lbl = {u: u for u in adj}
        for _ in range(max_rounds):
            changed = 0
            new = {}
            for u, nbrs in adj.items():
                m = lbl[u]
                for v in nbrs:
                    lv = lbl[v]
                    if lv < m:
                        m = lv
                if m < lbl[u]:
                    changed += 1
                new[u] = m
            lbl = new
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"canonical_assignment: label propagation did not converge in "
                f"{max_rounds} rounds ({changed} labels still changing) — a "
                "duplicate chain is longer than max_rounds; raise max_rounds"
            )
        mapping = [(x, c) for x, c in lbl.items() if c != x]
        from pyspark.sql import types as T

        id_t = ids.schema[id_col].dataType
        lbl_df = spark.createDataFrame(
            mapping,
            T.StructType(
                [T.StructField("src", id_t), T.StructField("__lbl__", id_t)]
            ),
        )
        canon = F.coalesce(F.col("__lbl__"), F.col("src"))
        return (
            ids_src.join(F.broadcast(lbl_df), "src", "left")
            .select(
                F.col("src").alias(id_col),
                canon.alias("canonical_id"),
                (canon < F.col("src")).alias("is_dup"),
            )
        )
    labels = ids.select(F.col(id_col).alias("src"), F.col(id_col).alias("label"))
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst2"), edges.dst == F.col("dst2"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "src", "left")
            .select(
                "src",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
                # changed ⇔ a neighbor label undercut ours — computed in
                # the SAME projection (r14), so the convergence check is
                # a cheap filter-count over the checkpointed labels
                # instead of a full old⋈new labels join (one label-keyed
                # shuffle per round removed; at corpus scale that join
                # was itself corpus-sized)
                (
                    F.col("nbr_label").isNotNull()
                    & (F.col("nbr_label") < F.col("label"))
                ).alias("_chg"),
            )
        )
        # Each round references the previous labels twice (carry +
        # neighbor source); without truncation the logical plan doubles
        # per round and Catalyst analysis dominates runtime.
        new_labels = (
            new_labels.checkpoint() if reliable_checkpoints else new_labels.localCheckpoint()
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.select("src", "label")
        if changed == 0:
            break
    else:
        # the loop ran out of rounds with labels still moving: some
        # cluster's diameter exceeds max_rounds and the labels are NOT
        # canonical — a drop-list keyed on them would point survivors at
        # documents that are themselves dropped. Loud, not silent (r11
        # review): the fix is a larger max_rounds (label propagation
        # needs rounds ≥ cluster diameter; real near-dup clusters are
        # shallow, so hitting this means pathological chain data).
        edges.unpersist()
        raise RuntimeError(
            f"canonical_assignment: label propagation did not converge in "
            f"{max_rounds} rounds ({changed} labels still changing) — a "
            "duplicate chain is longer than max_rounds; raise max_rounds"
        )
    # checkpointed labels carry no lineage back to the edge list — safe to
    # release its storage before handing the result to the caller
    edges.unpersist()
    return labels.select(
        F.col("src").alias(id_col),
        F.col("label").alias("canonical_id"),
        (F.col("label") < F.col("src")).alias("is_dup"),
    )
