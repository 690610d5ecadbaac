"""Training-data curation operators: the pipeline stages a large-scale
LLM pretraining corpus build needs between "raw scrape" and "training
shards" — PII redaction, repetition-based quality filtering (the Gopher
rules' shape), deterministic stratified sampling, benchmark
decontamination, domain-mixture reweighting, and sequence packing.

These extend the reference's curation surface (the tokenize→clean→score
pipeline of ``Talent_Opportunity_Platform/Keyword.py:192-228`` stops at
keyword scoring) with the corpus-level stages that only matter at scale.

Scale notes (100 TB):

- Redaction / repetition / sampling are pure per-row projections — zero
  shuffle, linear in input splits, whole-stage codegen end to end.
- Decontamination broadcasts the *benchmark* gram set (benchmarks are
  MB-scale by definition) so the corpus is never shuffled for the probe;
  the only exchange is the per-doc hit count.
- Packing's oracle form is a global running sum (deterministic, used for
  parity at test scale); the scale path is per-partition first-fit
  packing (``pack_ffd``) — bins never cross partition boundaries, so
  packing parallelizes with splits and wastes at most one bin per
  partition tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import memo
from .dedup import shingle_hashes, shingles
from .text import tokens

__all__ = [
    "PII_PATTERNS",
    "pii_redact",
    "repetition_stats",
    "hash_bucket",
    "stratified_sample",
    "weighted_sample",
    "ngram_decontaminate",
    "mixture_weights",
    "mixture_temperature",
    "mixture_waterfill",
    "prefix_sum",
    "shard_shuffle",
    "token_budget_select",
    "chunk_sliding",
    "boilerplate_strip",
    "dsir_weights",
    "word_dropout",
    "unigram_nll",
    "pack_concat",
    "pack_ffd",
]

# Redaction patterns use the Java/RE2-common subset so the DuckDB oracle
# can run the byte-identical regex. Order matters: emails contain dots
# (would half-match the IP pattern) so they are redacted first.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d{1,2}-\d{3}-\d{4}", "<PHONE>"),
)


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII spans (emails, IPv4 addresses, phone numbers) and count
    them. Pure projection — regexp_replace replaces every match JVM-side;
    no UDF, no shuffle.

    ``n_pii`` counts each pattern on the PROGRESSIVELY REDACTED text —
    the matches the replace pass actually consumes — so a span covered
    by an earlier pattern is never double-counted (the r11 review's
    case: '1.2.3.4@example.com' redacts once as <EMAIL>, but counting
    every pattern against the original text also matched the embedded
    IP and reported 2 spans for 1 redaction)."""
    clean = F.col(text_col)
    n_pii = F.lit(0)
    for pat, token in PII_PATTERNS:
        n_pii = n_pii + F.size(F.regexp_extract_all(clean, F.lit(pat), F.lit(0)))
        clean = F.regexp_replace(clean, pat, token)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_pii.cast("int").alias("n_pii"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_token_frac: float = 0.6,
    max_dup_2gram_frac: float = 0.05,
) -> DataFrame:
    """Repetition-based quality filter (the shape of the Gopher rules):
    fraction of duplicate tokens and duplicate 2-grams, with a keep/drop
    verdict. All array expressions on the token list — per-row, zero
    shuffle (the SQL twin needs a window + two aggregates; the columnar
    form is strictly cheaper).

    The keep verdict compares exact integer micro ratios
    (``operators/text.py:micro_ratio``) against the thresholds in 1e-6
    fixed point — a rounded-double key flips cross-engine on boundary
    values, and a flip HERE changes which documents survive the corpus
    (the round-8 failure class). The emitted fracs are micro/1e6: one
    identical IEEE division in any engine."""
    from .text import micro_ratio

    toks = tokens(text_col)
    n = F.size(toks)
    n_grams = F.greatest(n - 1, F.lit(1))
    tok_micro = micro_ratio(n - F.size(F.array_distinct(toks)), n)
    g2_micro = micro_ratio(n_grams - F.size(shingles(text_col, 2)), n_grams)
    return df.select(
        F.col(id_col),
        (tok_micro / F.lit(1000000.0)).alias("dup_token_frac"),
        (g2_micro / F.lit(1000000.0)).alias("dup_2gram_frac"),
        (
            (tok_micro <= F.lit(int(round(max_dup_token_frac * 1e6))))
            & (g2_micro <= F.lit(int(round(max_dup_2gram_frac * 1e6))))
        ).alias("keep"),
    )


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from md5 of the key's string form.

    md5 (not xxhash64) so the assignment is bit-identical in any engine —
    the property that makes sampling decisions reproducible across reruns,
    backfills, and the DuckDB oracle. Uses the first 6 hex chars (24 bits
    of uniformity is plenty for percent-style rates)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 6), 16, 10)
        .cast("long")
        % buckets
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: int = 0,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its hash bucket
    falls under its stratum's rate (percent). Unlike ``df.sample``, the
    decision is a pure function of the row key — stable under retries,
    partial re-reads, and incremental appends, which is what a corpus
    mixing job actually needs. Filter is a projection: zero shuffle."""
    bucket = hash_bucket(id_col, buckets)
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    return df.withColumn("bucket", bucket).filter(F.col("bucket") < rate)


def ngram_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many distinct token
    ``n``-grams it shares with the benchmark set (the standard 8-13-gram
    overlap test applied before training).

    The benchmark's distinct gram set is aggregated and **broadcast** —
    benchmarks are MB-scale, the corpus is the 100 TB side, so the corpus
    is never shuffled for the probe. Grams are compared as xxhash64 longs
    (8 bytes instead of ~50-char strings through the join). The only
    exchange is the per-doc hit-count aggregate over matched rows.

    The final hit-count ⋈ corpus join is deliberately NOT hinted: ``hits``
    is O(contaminated docs) — with a dirty corpus at 100 TB, forcing a
    broadcast there is an executor OOM. AQE picks broadcast at runtime
    when the hit set really is small."""
    def grams(d: DataFrame) -> DataFrame:
        # hash-composed fingerprints: equal grams ⇒ equal longs, with no
        # gram-string materialization on the corpus side (see
        # dedup.shingle_hashes)
        return d.select(F.col(id_col), F.explode(shingle_hashes(text_col, n)).alias("g"))

    bench_grams = grams(bench).select("g").distinct()
    hits = (
        grams(corpus)
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def mixture_weights(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture reweighting: per stratum, its token share of the
    corpus and the sampling weight that would flatten the mixture to a
    uniform target. One partial-aggregated groupBy on a tiny key domain;
    the corpus-total join is a broadcast of one row. ``per`` feeds two
    consumers (total, the join's left side) — pinned with
    ``localCheckpoint`` exactly like ``mixture_temperature`` below, so
    the corpus-scale aggregation subtree plans (and scans) ONCE instead
    of once per consumer (r11 review)."""
    per = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    total = per.agg(
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_strata"),
    )
    return (
        per.join(F.broadcast(total))
        .select(
            strata_col,
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias("token_share"),
            F.round(
                (F.lit(1.0) / F.col("n_strata"))
                / (F.col("n_tokens") / F.col("total_tokens")),
                6,
            ).alias("weight"),
        )
    )


def pack_concat(
    df: DataFrame,
    capacity: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence packing by concatenation: documents are laid out
    in ``id_col`` order and the token stream is cut every ``capacity``
    tokens; each doc's bin is where its first token lands. Deterministic
    and SQL-expressible (running sum), so it serves as the packing oracle.

    The single global window is the documented test-scale baseline — at
    corpus scale use ``pack_ffd``, which packs each partition
    independently (bin ids are salted by partition, waste is bounded by
    one bin per partition)."""
    n = F.size(tokens(text_col))
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.floor((F.sum(n).over(w) - n) / capacity).cast("long").alias("bin_id"),
    )


def chunk_sliding(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking: split each document into
    ``window``-token chunks every ``stride`` tokens (overlap =
    window - stride) — the standard long-document → training-sequence
    fan-out. Pure array expressions (sequence → explode → slice), zero
    shuffle, fan-out proportional to document length."""
    t = tokens(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(t) - 1, F.lit(0)), F.lit(stride)
    )
    # whitespace-only text tokenizes to [''] — not a chunk
    df = df.filter(F.trim(F.col(text_col)) != "")
    ex = df.select(
        F.col(id_col),
        t.alias("__toks__"),
        F.explode(starts).alias("__start__"),
    )
    chunk = F.slice(F.col("__toks__"), F.col("__start__") + 1, window)
    return ex.select(
        F.col(id_col),
        (F.col("__start__") / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    ).filter(F.col("n_chunk_tokens") > 0)


def _hashed_ngram_stream(
    df: DataFrame, text_col: str, id_col: str, buckets: int
) -> DataFrame:
    """Per-doc bag of hashed n-gram features (unigrams + bigrams, WITH
    multiplicity — DSIR's bag-of-hashed-ngrams representation) as one
    exploded (id, bucket) stream. The fan-out happens inside the scan
    stage (array build + explode, no exchange); bucketing reuses the
    md5-based ``hash_bucket`` so the assignment is bit-identical in any
    engine."""
    toks = tokens(text_col)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m), lambda a, b: F.concat_ws(" ", a, b)
    )
    feats = F.transform(F.concat(toks, bigrams), lambda g: hash_bucket(g, buckets))
    return df.select(F.col(id_col), F.explode(feats).alias("b"))


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): fit
    bag-of-hashed-ngram unigram models on the ``target`` distribution (p)
    and the raw ``corpus`` (q), then score each corpus doc with its log
    importance weight  log w(x) = Σ_b c_b(x) · ln(p̂_b / q̂_b)  under
    add-one smoothing — the standard cheap proxy for "select raw data
    that looks like the curated target". Emits per corpus doc the feature
    count and ``logw_micro``, the weight in 1e-6 fixed point.

    Fixed-point contract: the per-BUCKET term ln(p_b+1) − ln(P+B) −
    ln(q_b+1) + ln(Q+B) is rounded to an integer micro-unit once, on the
    ≤``buckets``-row term table, and per-doc scores are exact INTEGER
    sums of those terms — order-independent under any partial-agg
    schedule (the repo's oracle-pitfall rule: never hash a rounded
    quotient of an order-nondeterministic float sum). Every ln argument
    is an exactly-representable integer, so both engines see identical
    doubles.

    Scale shape (100 TB): the corpus fans out to hashed features inside
    its scan; p/q statistics are partial-agg shuffles onto ≤``buckets``
    keys (the term table is parameter-bounded, NOT data-bounded, so its
    broadcast back is safe by construction); scoring is the feature
    stream joined to that broadcast plus ONE doc-keyed partial agg. The
    corpus is scanned twice (q-counts, scoring) — at scale, persist the
    q-count table per ingest batch instead of recomputing; ``target`` is
    the curated set and is small by definition."""
    # r14: the corpus feature stream is consumed TWICE (q-counts and the
    # scoring join) and its per-gram md5 fan-out is CPU-bound off an
    # under-split bench scan — _spread fans it across cores (isolated
    # A/B: one pass 1.83 -> 0.70 s at sf0.1; no-op on a well-split
    # scan), and the session memo shares the stream between the two
    # consumers exactly like the minhash/ngram shared preps.
    from .dedup import _spread

    feats = memo.persisted(
        "dsir_feats", _hashed_ngram_stream(_spread(corpus), text_col, id_col, buckets)
    )
    q = feats.groupBy("b").agg(F.count(F.lit(1)).alias("qc"))
    w = Window.partitionBy()
    # ONE pass over the target stream, ZERO eager side effects: the two
    # ≤`buckets`-row count tables FULL-outer join on b — both arrive
    # hash-partitioned on b from their groupBys, so the join reuses the
    # partitioning — and BOTH totals ride one global window over the
    # joined table: b is unique in each side, so every target bucket
    # appears exactly once and sum(pc) over the join IS the true target
    # mass P. Target-only rows are KEPT by the full join, so the
    # disjoint-bucket case still sees P (the r11 review's edge case),
    # and an empty target yields NULL (sum over zero non-null pc). The
    # r11 fix got the same semantics from a separate eager-
    # localCheckpoint branch — an extra materialization job at
    # PLAN-BUILD time per invocation, the curate_dsir_select 1.35×
    # bench line the r11 verdict priced; a first r12 form put a window
    # BETWEEN the target agg and the join, destroying the reusable
    # partitioning and tripping the plan-shuffle budget test.
    pcw = (
        _hashed_ngram_stream(target, text_col, id_col, buckets)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    term = (
        q.join(pcw, "b", "full")
        .select(
            "b",
            "qc",
            F.coalesce(F.col("pc"), F.lit(0)).alias("pc"),
            F.sum("qc").over(w).cast("double").alias("qt"),
            F.sum(F.col("pc")).over(w).cast("double").alias("pt"),
        )
        .filter(F.col("qc").isNotNull())
        .select(
            "b",
            F.round(
                (
                    F.log(F.col("pc") + F.lit(1))
                    - F.log(F.col("pt") + F.lit(float(buckets)))
                    - F.log(F.col("qc") + F.lit(1))
                    + F.log(F.col("qt") + F.lit(float(buckets)))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("t"),
        )
    )
    return (
        feats.join(F.broadcast(term), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("t").cast("long").alias("logw_micro"),
        )
    )


def word_dropout(
    df: DataFrame,
    rate_pct: int = 10,
    seed: str = "aug-v1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic word-dropout augmentation: drop each token with
    probability ``rate_pct``% — but the coin is md5(seed:id:position),
    not an RNG, so the augmented corpus is REPRODUCIBLE across reruns,
    retries, and engines (the property that makes augmented training
    data auditable; change ``seed`` to mint a fresh augmentation).
    Emits the augmented text (NULL when every token dropped), the drop
    count, and the original length.

    Pure projection — the per-token coin is an in-array md5 over
    (seed, id, 1-based position); zero shuffles at any scale."""
    toks = tokens(text_col)
    pref = F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"), F.lit(":"))
    kept = F.filter(
        toks,
        lambda x, i: hash_bucket(F.concat(pref, (i + 1).cast("string")), 100)
        >= rate_pct,
    )
    # Project the md5-coin filter ONCE (r14): inlined, `kept` is
    # referenced three times in the output projection and codegen
    # re-evaluates the whole per-token md5 filter per reference (the
    # BPE-trainer CollapseProject trap, §1 of OPTIMIZATION_r14.md);
    # CollapseProject keeps the two selects separate because the alias
    # has multiple non-cheap references. Measured 1.89 -> 0.94 s at
    # sf0.1; still a pure projection, zero shuffles.
    staged = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("__nt__"),
        kept.alias("__kept__"),
    )
    return staged.select(
        F.col(id_col),
        F.when(F.size("__kept__") > 0, F.concat_ws(" ", F.col("__kept__"))).alias(
            "aug_text"
        ),
        (F.col("__nt__") - F.size("__kept__")).cast("long").alias("n_dropped"),
        F.col("__nt__").alias("n_tokens"),
    )


def unigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document negative log-likelihood under the corpus unigram LM —
    the cheap stand-in for perplexity filtering (high NLL ⇒ rare-token
    soup; low ⇒ boilerplate). p(tok) = corpus_tf / corpus_total with no
    smoothing (every scored token occurs ≥1 time by construction).

    Emitted as ``nll_micro``: each token's -ln(p) is quantized to int64
    micros FIRST, then exactly integer-summed and integer-divided by the
    token count. The r11 review killed the old ``round(avg(double), 6)``
    form: the join scatters a doc's rows across token-hash partitions,
    so a double mean merges partials in shuffle-fetch arrival order —
    order-NONDETERMINISTIC even between two Spark runs, and never
    DuckDB's order (the dsir_weights docstring's forbidden class). With
    per-term quantization the only residual cross-engine exposure is
    one ln ulp per TERM straddling a 0.5-micro boundary (the accepted
    M2 class, FLOATS.md) — accumulation is exact and order-free.

    Two partial-agg shuffles (token frequencies, per-doc mean); the
    1-row corpus total rides as a broadcast. At 100 TB the frequency
    table is vocabulary-sized — cache/broadcast it per batch rather
    than recomputing (here it stays in-plan for oracle exactness)."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.broadcast(freq.agg(F.sum("cnt").cast("double").alias("total")))
    term = F.round(-F.log(F.col("cnt") / F.col("total")) * F.lit(1e6)).cast("long")
    return (
        tok.join(freq, "tok")
        .join(total)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum(term).alias("__nll_sum__"),
        )
        .select(
            id_col,
            "n_toks",
            F.expr("__nll_sum__ div n_toks").alias("nll_micro"),
        )
    )


def pack_ffd(
    df: DataFrame,
    capacity: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    partition_impl: str = "spark",
) -> DataFrame:
    """First-fit-decreasing sequence packing, parallel form: documents are
    hash-partitioned by id, each partition bin-packs its docs FFD into
    ``capacity``-token bins, and bin ids are namespaced by partition
    (``pid * 2^40 + local_bin``) so they never collide. No global
    coordination: packing quality loses at most the partition-tail bins
    versus a global pack, and the stage scales with splits. Oversized docs
    (> capacity tokens) get a dedicated bin each (the truncate/split
    policy is the caller's next stage).

    Arrow-batched ``applyInPandas`` keyed on ``spark_partition_id`` — the
    per-group state (open bins) is exactly the FFD algorithm's working
    set, bounded by docs-per-partition.

    The first-fit scan is O(docs x open bins), so packing one partition
    as a single FFD run is quadratic in partition size (measured 7x
    super-linear at the 10x synthetic SF). Docs are therefore packed in
    ``block``-doc chunks of the size-sorted order — bins never span
    blocks, bounding the scan at O(docs x block) = linear. The quality
    loss is the same partial-tail-bins argument the partition split
    already makes, applied once more.

    ``partition_impl="portable"`` swaps ``spark_partition_id`` (an
    execution artifact no other engine can reproduce) for the md5
    bucket of the doc id (:func:`hash_bucket` % ``num_partitions``).
    Identical algorithm, identical distribution shape (one group-key
    exchange), but the group assignment — and therefore every bin id —
    becomes a pure function of the data, so a DuckDB recursive CTE can
    replay the whole FFD recursion and hash-match the packing. Also the
    right choice whenever bin assignments must survive reruns/backfills
    (same reproducibility argument as the md5 split/sampler)."""
    import pandas as pd

    block = 4096

    if partition_impl not in ("spark", "portable"):
        # loud, not defaulted: silently falling back to spark_partition_id
        # would hand a caller who asked for reproducible bin ids
        # execution-artifact ids instead (r11 review; mirrors
        # mixture_waterfill's weighting-enum validation)
        raise ValueError(
            f"pack_ffd: unknown partition_impl {partition_impl!r} "
            "(expected 'spark' or 'portable')"
        )
    src = df.select(F.col(id_col), F.size(tokens(text_col)).alias("n_tokens"))
    if partition_impl == "portable":
        src = src.withColumn("pid", hash_bucket(id_col, num_partitions or 8))
    else:
        if num_partitions:
            src = src.repartition(num_partitions, id_col)
        src = src.withColumn("pid", F.spark_partition_id())

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", id_col], ascending=[False, True])
        pid = int(pdf["pid"].iloc[0]) if len(pdf) else 0
        assigned: list[int] = []
        bin_base = 0
        for start in range(0, len(pdf), block):
            bins: list[int] = []  # remaining capacity per local bin
            for t in pdf["n_tokens"].iloc[start : start + block]:
                t = int(t)
                for i, rem in enumerate(bins):
                    if rem >= t:
                        bins[i] = rem - t
                        assigned.append(bin_base + i)
                        break
                else:
                    bins.append(max(capacity - t, 0))
                    assigned.append(bin_base + len(bins) - 1)
            bin_base += len(bins)
        pdf = pdf.assign(bin_id=[(pid << 40) + b for b in assigned])
        return pdf[[id_col, "n_tokens", "bin_id"]]

    return src.groupBy("pid").applyInPandas(
        pack, schema=f"{id_col} long, n_tokens int, bin_id long"
    )


def weighted_sample(
    df: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets key = -ln(u) / w with u a hash-derived
    uniform in (0, 1]; the k smallest keys are a weight-proportional
    sample. Replacing the RNG with the md5-derived uniform keeps the
    sample a pure function of the row id — stable under retries,
    partition changes, and appends (an existing row's key never moves),
    which df.sample(weights=...) cannot promise.

    Distributed shape: the key is a projection; selection is a global
    top-k (TakeOrdered — k rows per partition cross the wire). Ranking
    uses the UNROUNDED key with an id tiebreak: at corpus scale the
    k-th key shrinks like k/(N·w̄), so absolute rounding before
    selection would quantize the whole top-k to ties and degrade the
    sample to lowest-doc-id; the emitted ``es_key`` column is rounded
    for cross-engine comparison only. Rows with NULL or non-positive
    weight carry no sampling mass and are excluded (Spark sorts NULLs
    first, DuckDB last — keeping them would also diverge the engines)."""
    u = (hash_bucket(id_col, 16777216).cast("double") + F.lit(1.0)) / F.lit(16777216.0)
    key = -F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es_raw__", key)
        .orderBy(F.col("__es_raw__").asc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("es_key", F.round(F.col("__es_raw__"), 6))
        .drop("__es_raw__")
    )


def mixture_temperature(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain-mixture weights: sampling probability
    p_s ∝ share_s^alpha — the multilingual/domain balancing rule (mT5's
    alpha-sampling) between "proportional" (alpha=1) and "uniform"
    (alpha=0) that up-samples small domains without flattening the
    mixture entirely. Emits, per stratum, its natural token share, the
    temperature-scaled sampling probability, and the boost factor
    (p_s / share_s) a sampler applies on top of natural frequency.

    Only ``alpha=0.5`` is offered cross-engine-checkable: share^0.5 is
    ``sqrt``, which IEEE 754 requires to be correctly rounded, so both
    engines produce bit-identical doubles; a general ``pow`` is only
    within-1-ulp in Java and could flake a rounded hash (the repo's
    oracle-pitfall notes). Other alphas work but are excluded from the
    oracle contract.

    Hash stability: the normalizer Z = Σ_s share_s^alpha is a float sum
    whose addition order Spark does not fix, so each sqrt is quantized
    to an exact integer (round(sqrt·1e9) — ~9 significant digits, far
    beyond the 6 emitted) and Z is summed in the integer domain; the
    final probabilities are single deterministic double divisions (the
    same order-stable fixed-point discipline as w5/ts_anomaly/a18).

    Distributed shape: one partial-aggregated groupBy on a tiny key
    domain scans the corpus; everything after operates on ≤|strata| rows
    (two 1-row broadcast joins). Zero corpus re-shuffles at any scale."""
    if alpha != 0.5:
        raise ValueError(
            "mixture_temperature: only alpha=0.5 (sqrt) is supported — "
            "general pow() is not cross-engine deterministic"
        )
    per = (
        df.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokens(text_col))).cast("long").alias("n_tokens"),
        )
        # per feeds three consumers (total, sq, z); without pinning,
        # Catalyst duplicates the corpus-agg subtree per consumer and the
        # corpus scans three times. Checkpointing the ≤|strata|-row result
        # makes the corpus scan exactly once at any scale.
        .localCheckpoint(eager=True)
    )
    total = per.agg(F.sum("n_tokens").cast("double").alias("total_tokens"))
    scaled = per.join(F.broadcast(total)).withColumn(
        "sq9",
        F.round(F.sqrt(F.col("n_tokens") / F.col("total_tokens")) * 1e9).cast("long"),
    )
    z = scaled.agg(F.sum("sq9").cast("double").alias("z9"))
    share = F.col("n_tokens") / F.col("total_tokens")
    p = F.col("sq9") / F.col("z9")
    return (
        scaled.join(F.broadcast(z))
        .select(
            strata_col,
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(p, 6).alias("temp_weight"),
            F.round(p / share, 6).alias("boost"),
        )
    )


def mixture_waterfill(
    df: DataFrame,
    budget_num: int = 3,
    budget_den: int = 5,
    strata_col: str = "lang",
    text_col: str = "text",
    rounds: int = 3,
    weighting: str = "inverse",
) -> DataFrame:
    """Budget allocation across domains under availability caps — the
    WATERFILL step between "what mixture do I want" (mixture_weights /
    mixture_temperature) and "freeze the dataset" (token_budget_select):
    split a total token budget (``budget_num/budget_den`` of the corpus)
    across strata by weight, cap each stratum at the tokens it actually
    HAS, and redistribute the overflow across the uncapped strata —
    repeated for ``rounds`` passes (a fixed unroll, like pagerank/BPE,
    so a SQL twin replays it CTE-for-CTE; each pass either settles a cap
    or changes nothing, so |strata| passes is exact convergence and 3
    covers real mixtures). Emits per stratum the availability, weight,
    allocation, and whether its cap binds.

    ``weighting="inverse"`` (default) sets w = max(1, 1e6 div n_docs) —
    the balance-toward-uniform upsampling where SMALL domains get large
    weights, over-ask their availability, cap out, and spill their
    overflow to the big domains: the configuration where redistribution
    actually fires (proportional ``"docs"`` weighting rarely caps — a
    domain's fair share of a sub-corpus budget rarely exceeds its own
    tokens). The max(1, ·) clamp matters at corpus scale: every domain
    with ≥ 1e6 documents weighs exactly 1 — uniform among the big
    domains, which IS the balance-toward-uniform limit — and it bounds
    the share arithmetic (pool ≤ |strata|·1e6, so the two-term product
    stays ≤ |strata|·1e12 ≪ int64 even with millions of strata);
    without it a 100 TB language floors to weight 0 and silently
    receives nothing.

    All arithmetic is exact int64. The proportional share
    ``rem * w / pool`` would overflow int64 at corpus scale (rem ~2.5e13
    tokens × w ~1e9 docs), so it is computed as the two-term exact
    decomposition ``(rem div pool)*w + ((rem mod pool)*w) div pool`` —
    every intermediate is ≤ rem + pool·w, safe while total docs stay
    below ~3e9 per engine-portability note (and the first term alone is
    ≤ rem). Floor-div leaves ≤|strata| tokens unallocated per pass —
    deterministic, documented, and immaterial against a token budget.

    Distributed shape: ONE partial-agg groupBy over the corpus produces
    the ≤|strata|-row state, which rides to the driver (a bounded
    collect in the codebook/offsets class — strata are languages or
    source domains, thousands at most); the waterfill itself is pure
    integer Python over those rows (a DataFrame formulation re-embeds
    the whole lineage in every pass's 1-row aggregate — 27 Exchange
    nodes for 3 passes when first written that way); the result returns
    as a literal frame with zero lineage."""
    if weighting not in ("inverse", "docs"):
        raise ValueError(f"mixture_waterfill: unknown weighting {weighting!r}")
    per = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens(text_col))).cast("long").alias("avail"),
    )
    rows = per.collect()  # bounded by |strata|
    state = sorted(
        (
            (
                r[strata_col],
                max(1, 1_000_000 // r["n_docs"]) if weighting == "inverse" else r["n_docs"],
                int(r["avail"]),
            )
            for r in rows
        ),
        # None-safe: a NULL stratum is a legal group (the DuckDB twin
        # groups it); sorting None against str raises TypeError
        key=lambda t: (t[0] is None, t[0] or ""),
    )
    budget = sum(a for _, _, a in state) * int(budget_num) // int(budget_den)
    alloc = {s: 0 for s, _, _ in state}
    capped = {s: False for s, _, _ in state}
    for _ in range(rounds):
        rem = budget - sum(alloc.values())
        pool = sum(w for s, w, _ in state if not capped[s])
        if rem <= 0 or pool <= 0:
            break
        for s, w, avail in state:
            if capped[s]:
                continue
            # exact two-term multiply-div — same overflow-safe form as
            # the SQL twin: (rem div pool)*w + ((rem%pool)*w) div pool
            share = (rem // pool) * w + ((rem % pool) * w) // pool
            alloc[s] += min(share, avail - alloc[s])
        for s, _, avail in state:
            capped[s] = alloc[s] >= avail
    out = [
        (s, avail, w, alloc[s], capped[s]) for s, w, avail in state
    ]
    return df.sparkSession.createDataFrame(
        out,
        f"{strata_col} string, avail_tokens long, weight_docs long, "
        "alloc_tokens long, capped boolean",
    )


def prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cum_sum",
    num_partitions: int | None = None,
    reliable_checkpoints: bool = False,
) -> DataFrame:
    """Distributed exact prefix sum over a totally ordered frame — the
    scale-correct replacement for ``sum().over(Window.orderBy(...))``,
    which moves EVERY row into one partition (Spark's own WindowExec
    warning). Three bounded steps instead:

    1. range-partition + sort on the order key, pinned with an eager
       ``localCheckpoint`` so later passes see the same boundaries
       (range sampling is otherwise re-drawn per action) and the sorted
       shuffle output is computed once;
    2. per-partition sums → running offsets: a driver pass over
       #partitions rows (bounded by cluster layout, not data — the same
       bounded-collect argument as the Misra-Gries candidate ledger);
    3. one in-order Arrow pass per partition (``mapInPandas``) carrying
       the running total from the partition's offset.

    ``value_col`` must be integral (cast to long): per-row prefix sums
    are then exact and independent of where the range boundaries fall,
    so the output is deterministic whenever ``order_cols`` is a total
    order (tie-break on the id column).

    Executor-loss semantics: ``localCheckpoint`` TRUNCATES lineage, so
    losing an executor that holds checkpointed blocks FAILS the job —
    never recomputes with re-drawn range boundaries (which would
    silently misalign the collected offsets; fail-stop is the safe
    default). For long cluster jobs pass ``reliable_checkpoints=True``
    to write the pinned partitioning to the cluster checkpoint dir
    (``sparkContext.setCheckpointDir``) instead, which survives
    executor loss with the SAME partition ids. Checkpoint files are
    only cleaned up when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
    :func:`~data_engineering_spark.session.get_spark`; create-time-only
    on other sessions).
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ordered = (
        df.withColumn(value_col, F.col(value_col).cast("long"))
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ordered = (
        ordered.checkpoint(eager=True)
        if reliable_checkpoints
        else ordered.localCheckpoint(eager=True)
    )
    part_sums = ordered.groupBy("_pid").agg(F.sum(value_col).alias("s")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(part_sums, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += int(row["s"] or 0)

    schema = T.StructType(
        list(ordered.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def running(pdf_iter):
        run: int | None = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            cum = pdf[value_col].astype("int64").cumsum() + run
            run = int(cum.iloc[-1])
            out = pdf.copy()
            out[out_col] = cum
            yield out

    return ordered.mapInPandas(running, schema=schema).drop("_pid")


def shard_shuffle(
    df: DataFrame,
    shard_size: int = 64,
    seed: str = "shuffle-v1",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global corpus shuffle → training-shard assignment:
    order the corpus by md5(seed:id) (a seeded pseudo-random but fully
    reproducible permutation — rerunning the job, or appending then
    re-sharding, yields the same order for the same keys), then cut the
    permutation into fixed-size shards. This is the "shuffle the corpus
    before training" step every pretraining pipeline runs; doing it with
    ``ORDER BY random()`` is non-reproducible, and doing it with a
    global ``row_number()`` window moves 100 TB into ONE partition.

    Built on :func:`prefix_sum`: range-partition on the md5 key, count
    within partitions, offset by a #partitions-row driver pass — the
    global rank is exact and the widest exchange is the range partition
    itself. Emits (id, shard, pos_in_shard)."""
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col), *keep_cols, h.alias("_h"), F.lit(1).alias("_one")
    )
    ranked = prefix_sum(base, [F.col("_h"), F.col(id_col)], "_one", out_col="_pos")
    idx = F.col("_pos") - F.lit(1)
    return ranked.select(
        id_col,
        # integral `div`, not double division — exact at any rank (a
        # double quotient goes inexact past 2^53, i.e. exactly the
        # regime this operator exists for)
        F.expr(f"(_pos - 1) div {int(shard_size)}").cast("long").alias("shard"),
        (idx % F.lit(shard_size)).cast("long").alias("pos_in_shard"),
        *keep_cols,
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy quality-first corpus selection under a token budget: rank
    documents by quality score (descending, id tie-break) and keep the
    longest prefix whose cumulative token count stays within ``budget``
    — the "best N billion tokens" dataset-freeze step of a training-data
    pipeline. Because cumulative tokens are monotone, the ``<= budget``
    filter IS the greedy prefix (no doc after the first overflow can
    re-enter), and the output size is bounded by the budget itself,
    not the corpus.

    The quality key is the shared EXACT int64 1e-6 fixed-point rational
    (:func:`..operators.text.quality_micro`) — no double ever enters the
    ranking, so Spark and any SQL twin rank (and hash) identical
    integers. A 6-dp double ``round`` here is NOT portable: JVM
    shortest-decimal half-up vs an engine's exact-binary rounding can
    flip a boundary micro, reorder the greedy prefix, and shift every
    downstream ``cum_tokens`` (driver round-8 red row). The cumulative
    count runs through :func:`prefix_sum`, so no single-partition window
    appears at any corpus size."""
    from .text import quality_micro

    scored = df.select(
        F.col(id_col),
        quality_micro(text_col).alias("quality_micro"),
        F.size(tokens(text_col)).cast("int").alias("n_tokens"),
    )
    cum = prefix_sum(
        scored,
        [F.col("quality_micro").desc(), F.col(id_col).asc()],
        "n_tokens",
        out_col="cum_tokens",
        num_partitions=num_partitions,
    )
    return cum.filter(F.col("cum_tokens") <= budget).select(
        id_col,
        "quality_micro",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "cum_tokens",
    )


def boilerplate_strip(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: int = 8,
    min_df: int = 3,
) -> DataFrame:
    """Corpus-frequent boilerplate removal (the CCNet/RefinedWeb stage):
    segment each document into non-overlapping ``block``-token blocks,
    count each block's document frequency, and strip blocks appearing in
    ``min_df``-or-more documents — headers, banners, and copied passages
    that per-document quality filters cannot see. Emits per doc the
    block counts and the cleaned text (NULL when everything was
    boilerplate — exact-dup clusters strip to nothing by construction).

    Distributed shape: segmentation is :func:`chunk_sliding` with
    stride = window (pure array fan-out, zero shuffle); doc frequency
    is a (doc, block)-distinct + block-keyed partial agg; the surviving
    boilerplate set is df-thresholded — tiny in natural corpora, so it
    rides back as a broadcast (``broadcast_if_small``-gated: in
    adversarial all-dup data AQE decides instead); reconstruction is
    ONE doc-keyed groupBy whose collect_list is bounded by the doc's
    own block count. Three corpus-scaling exchanges total, none wider
    than (id, block)."""
    from .joins import broadcast_if_small

    # r14: the block fan-out feeds BOTH the df-count aggregate and the
    # reconstruction join, and is CPU-bound off an under-split bench
    # scan — _spread fans it across cores (isolated A/B: one chunk pass
    # 1.16 -> 0.51 s, full operator 2.86 -> 1.95 s at sf0.1; no-op on a
    # well-split scan) and the session memo shares the fan-out
    # between the two consumers.
    from .dedup import _spread

    chunks = memo.persisted(
        "bp_chunks",
        chunk_sliding(_spread(df), window=block, stride=block,
                      text_col=text_col, id_col=id_col),
    )
    dfreq = (
        chunks.select(id_col, "chunk_text")
        .distinct()
        .groupBy("chunk_text")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bp = dfreq.filter(F.col("df") >= min_df).withColumn("is_bp", F.lit(True))
    marked = chunks.join(
        broadcast_if_small(bp.select("chunk_text", "is_bp")), "chunk_text", "left"
    ).withColumn("is_bp", F.coalesce(F.col("is_bp"), F.lit(False)))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("chunk_id"), F.col("chunk_text"), F.col("is_bp")))
    )
    clean = F.transform(
        F.filter(ordered, lambda x: ~x["is_bp"]), lambda x: x["chunk_text"]
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("is_bp").cast("long")).cast("long").alias("n_bp_blocks"),
        F.when(F.size(clean) > 0, F.concat_ws(" ", clean)).alias("clean_text"),
    )


def domain_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    priority=None,
) -> DataFrame:
    """Per-domain document cap — the web-corpus curation stage that
    bounds any single site's contribution (a handful of boilerplate-
    heavy domains otherwise dominate a crawl-scale corpus). Keeps the
    ``cap`` highest-priority documents per domain; ``priority`` is a
    list of ordering Columns (default: longest text first via
    ``n_chars`` desc), always id-tiebroken so the cut is deterministic.

    Scale shape: ONE domain-keyed window (rank within domain) over a
    pruned (id, domain, priority) projection — the text column never
    shuffles; survivors semi-join back to full rows at the caller's
    discretion. A viral domain is a hot window key: the per-key state
    is O(cap) (running rank, early-out), not O(group), and a two-phase
    refinement — per-partition local top-``cap`` per domain before the
    global window — bounds the shuffle itself at cap·partitions rows
    per domain, the same contract as TakeOrdered."""
    if priority is None:
        # default priority needs only n_chars → prune before the shuffle
        priority = [F.col("n_chars").desc()]
        df = df.select(id_col, domain_col, "n_chars")
    w = Window.partitionBy(domain_col).orderBy(*priority, F.col(id_col).asc())
    ranked = df.withColumn("domain_rank", F.row_number().over(w))
    return ranked.filter(F.col("domain_rank") <= cap)
