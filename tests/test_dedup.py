"""Semantic tests for the probabilistic dedup/similarity operators (the
rows-only checked ones): planted duplicates must be found, non-duplicates
must not collide."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineering_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dedup,
    ngram_jaccard_pairs,
    simhash_near_dedup,
    simhash_signature,
)
from data_engineering_spark.operators.similarity import cosine_near_pairs, cosine_topk, lsh_topk


@pytest.fixture(scope="module")
def planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    near = base.replace("lazy", "sleepy")  # one-token change → high jaccard
    other = (
        "completely different content about distributed query engines and "
        "columnar storage with vectorized execution and shuffle services"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, other),
        (5, "tiny doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_planted(planted):
    out = exact_dedup(planted).orderBy("doc_id").collect()
    # 1&2 collapse to one fingerprint with dup_count 2
    counts = {r.doc_id: r.dup_count for r in out}
    assert counts[1] == 2
    assert 2 not in counts  # kept min id only
    assert counts[4] == 1


def test_minhash_finds_near_dups(planted):
    pairs = {(r.id_a, r.id_b) for r in minhash_near_dedup(planted, threshold=0.5).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup found
    assert all({a, b} != {1, 4} and {a, b} != {3, 4} for a, b in pairs)  # no false pair with `other`


def test_minhash_bucket_cap_drops_mega_clusters(spark):
    """Boilerplate mega-clusters (bucket size > max_bucket) are excluded
    from quadratic pair generation — they're exact_dedup's job; normal
    clusters under the cap still pair up."""
    boiler = "identical boilerplate header repeated across the whole crawl " * 3
    pair = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun"
    )
    rows = [(i, boiler) for i in range(100)] + [(200, pair), (201, pair)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b) for r in minhash_near_dedup(df, max_bucket=50).collect()}
    assert (200, 201) in got
    assert all(a >= 200 for a, _ in got)  # no pairs from the capped cluster
    # uncapped keeps the full quadratic fan-out: C(100,2) boiler pairs
    n_all = minhash_near_dedup(df, max_bucket=None).count()
    assert n_all == 100 * 99 // 2 + 1


def test_simhash_bucket_cap_drops_mega_clusters(spark):
    """Same guard as minhash: a mega-cluster of exact dups must not pay
    C(k,2) pair output; planted near-dups under the cap still pair."""
    boiler = "identical boilerplate header repeated across the whole crawl " * 3
    pair = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun"
    )
    near = pair.replace("lazy", "sleepy")
    rows = [(i, boiler) for i in range(100)] + [(200, pair), (201, near)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b) for r in simhash_near_dedup(df, max_hamming=10, max_bucket=50).collect()}
    assert (200, 201) in got
    assert all(a >= 200 for a, _ in got)  # capped cluster emits no pairs
    n_all = simhash_near_dedup(df, max_hamming=10, max_bucket=None).count()
    assert n_all == 100 * 99 // 2 + 1


def test_minhash_verify_join_modes_agree(planted):
    """The auto/size-gated verify-join strategy is a plan choice only —
    forced shuffle_hash, forced none, and auto must emit identical pairs."""
    want = {(r.id_a, r.id_b) for r in minhash_near_dedup(planted, verify_join="auto").collect()}
    for mode in ("shuffle_hash", "none"):
        got = {(r.id_a, r.id_b) for r in minhash_near_dedup(planted, verify_join=mode).collect()}
        assert got == want, mode


def test_input_bytes_and_spread_estimate(spark, sf_dir):
    """_input_bytes reads file metadata only (no job) and matches the
    on-disk size; in-memory frames report None and fall back."""
    import os

    from data_engineering_spark.operators.dedup import _input_bytes

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _input_bytes(df) == os.path.getsize(f"{sf_dir}/documents.parquet")
    mem = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    assert _input_bytes(mem) is None


def test_simhash_near_dups(planted):
    out = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dedup(planted, max_hamming=10).collect()}
    assert (1, 2) in out and out[(1, 2)] == 0
    sigs = {r.doc_id: r.simhash for r in simhash_signature(planted).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_simhash_arrow_agrees_with_expr(planted):
    from data_engineering_spark.operators.dedup import simhash_signature_arrow

    sigs = {r.doc_id: r.simhash for r in simhash_signature_arrow(planted).collect()}
    assert sigs[1] == sigs[2]  # exact dup → identical signature
    assert sigs[1] != sigs[4]
    assert all(s >= 0 for s in sigs.values())  # bit 63 clear, like expr form
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dedup(
            planted, max_hamming=10, signature_impl="arrow"
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 0
    # near dup (one-token change) lands within the hamming budget too
    assert (1, 3) in out or (2, 3) in out
    assert all({a, b} != {1, 4} for a, b in out)


def test_ngram_jaccard_pairs(planted):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(planted, threshold=0.4).collect()}
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs and 0.4 <= pairs[(1, 3)] < 1.0


def test_ngram_jaccard_portable_agrees_with_hashed(spark, sf_dir):
    """The string-gram oracle twin and the xxhash64 production path must
    emit the same (pair, jaccard) set: set semantics (distinct grams,
    intersect/union sizes) are hash-invariant, and the blocking key order
    (doc_freq, gram) differs between them ONLY when two grams tie on
    doc_freq AND the hash order inverts the string order — which can
    swap which rarest-4 keys a doc blocks on but, on the planted corpus,
    must not change the verified pair set."""
    from data_engineering_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashed = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs).collect()
    }
    portable = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, gram_impl="portable").collect()
    }
    assert hashed == portable


def test_verbatim_spans_planted_positions(spark):
    """The extracted span must be the EXACT maximal shared region: two
    docs share a 10-token passage at different offsets; unique prefixes
    /suffixes must stay outside the span, intra-document repetition
    alone must NOT create a span (strictly cross-document), and a short
    exact dup yields its whole-doc span via the fallback gram."""
    from data_engineering_spark.operators.dedup import verbatim_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "one two three " + passage + " four five"),          # span at 4..13
        (2, passage + " six seven eight nine ten eleven"),       # span at 1..10
        (3, "rep rep rep rep rep rep rep rep rep rep"),          # intra-doc only
        (4, "tiny shared doc"),                                  # short dup pair
        (5, "tiny shared doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in verbatim_spans(df, min_span=3).collect()
    }
    assert spans[1] == (4, 13)
    assert spans[2] == (1, 10)
    assert 3 not in spans  # intra-doc repeats are not cross-document
    assert spans[4] == (1, 3) and spans[5] == (1, 3)  # whole-doc fallback


def test_verbatim_spans_hash_impl_agrees_with_portable(spark, sf_dir):
    """The xxhash64 positional-fingerprint production path and the
    string-gram oracle mode must emit identical span sets (equal grams →
    equal fingerprints; a divergence means a fold bug, not a collision,
    at these corpus sizes)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.dedup import verbatim_spans

    docs = load_table(spark, sf_dir, "documents")
    hashed = sorted(map(tuple, verbatim_spans(docs).collect()))
    portable = sorted(map(tuple, verbatim_spans(docs, gram_impl="portable").collect()))
    assert hashed == portable


def test_contamination_spans_planted_positions(spark):
    """Cross-corpus span decontamination: only the benchmark-quoted
    region is flagged, at its exact positions; corpus-internal overlap
    (two TRAIN docs sharing a passage absent from the benchmark) must
    NOT create a span — the predicate is membership in the benchmark
    gram set, not corpus df."""
    from data_engineering_spark.operators.dedup import contamination_spans

    quoted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train_dup = "red orange yellow green blue indigo violet pink"
    corpus = spark.createDataFrame(
        [
            (1, "one two three " + quoted + " four five"),  # quoted at 4..13
            (2, train_dup + " lead tail"),                  # train-internal only
            (3, train_dup + " other words"),                # train-internal only
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "intro words " + quoted + " outro")], "doc_id long, text string"
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in contamination_spans(corpus, bench, min_span=3).collect()
    }
    assert spans == {1: (4, 13)}


def test_contamination_spans_hash_agrees_with_portable(spark, sf_dir):
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.dedup import contamination_spans
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    c = docs.filter(F.col("doc_id") % 10 != 0)
    b = docs.filter(F.col("doc_id") % 10 == 0)
    hashed = sorted(map(tuple, contamination_spans(c, b).collect()))
    portable = sorted(
        map(tuple, contamination_spans(c, b, gram_impl="portable").collect())
    )
    assert hashed == portable and hashed


def test_threshold_sweep_blocked_vs_exact(spark, sf_dir):
    """Recall gate for the dedup_threshold_sweep re-base: the blocked
    candidate stream (rarest-4-gram blocking, what the production sweep
    bands) vs the EXACT all-pairs shared-gram join (the quadratic twin
    this test keeps out of the query registry). At the dedup-relevant
    bands (jaccard ≥ 0.5 — where a cutoff would actually land) blocking
    must recall every exact pair on the generated corpus; the low bands
    (0.2–0.5) are allowed partial recall — they exist to show the
    operating curve's shape, and the measured floor here documents how
    partial. Counting per band, not just totals, so a band-shifting bug
    can't hide inside aggregate recall."""
    from collections import Counter

    from data_engineering_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")

    def bands(rows):
        return Counter(
            min((10 * r.n_inter) // r.n_union, 9)
            for r in rows
            if 5 * r.n_inter >= r.n_union
        )

    blocked_pairs = ngram_jaccard_pairs(
        docs, threshold=0.0, gram_impl="portable", emit_counts=True
    ).collect()
    # the EXACT baseline via the same machinery with blocking disabled
    # (every gram a key, no bucket purge → candidates = every pair
    # sharing ≥1 gram, the shared-shingle join) so BOTH sides band on
    # the same exact integers — banding float jaccard here would flip on
    # exact tenths (0.6*10 == 5.999999999999999, int() → band 5)
    exact_pairs = ngram_jaccard_pairs(
        docs,
        threshold=0.0,
        gram_impl="portable",
        emit_counts=True,
        block_keys=10**9,
        max_bucket=10**9,
    ).collect()
    blocked_bands = bands(blocked_pairs)
    exact_bands = bands(exact_pairs)
    for band in range(5, 10):  # cutoff-relevant bands: full recall
        assert blocked_bands.get(band, 0) == exact_bands.get(band, 0), (
            band,
            blocked_bands,
            exact_bands,
        )
    for band in range(2, 5):  # curve-shape bands: candidates ⊆ exact
        assert blocked_bands.get(band, 0) <= exact_bands.get(band, 0)
    # and the stream is not degenerate: it sees most of the curve
    assert sum(blocked_bands.values()) >= 0.5 * sum(exact_bands.values())


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 1
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_order(vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 1), k=4)
    got = [(r.neighbor_id, r.rnk) for r in out.orderBy("rnk").collect()]
    assert got[0][0] == 2  # nearest is the near-identical vector
    assert got[-1][0] == 5  # farthest is the opposite vector


def test_cosine_near_pairs_threshold(vectors):
    pairs = {(r.id_a, r.id_b) for r in cosine_near_pairs(vectors, threshold=0.95).collect()}
    assert pairs == {(1, 2)}


def test_lattice_admission_boundary_is_exact(spark):
    """A pair whose lattice cosine sits EXACTLY on the threshold — the
    spot where the old round-then-filter admission could flip between
    engines — admits deterministically: ≥ includes equality, and one
    micro above the true cosine excludes. (0.6, 0.8) is an exact unit
    direction, so its lattice point is (600000, 800000) with nn = 1e12
    and d against the x-axis exactly 6e11: lattice cosine == 0.6 with
    no rounding anywhere."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8])], ["vec_id", "embedding"]
    )
    on_boundary = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.6).collect()}
    assert on_boundary == {(1, 2)}
    above = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.600001).collect()}
    assert above == set()


def test_lattice_admission_matches_duckdb_on_boundary(spark, tmp_path):
    """The generated oracle SQL admits the exact-boundary pair the same
    way the Spark operator does — cross-engine membership identity on
    the worst case, via the same registry SQL fragments the driver
    runs."""
    import duckdb

    from data_engineering_spark.queries_llm import (
        _LATTICE_SIM_SQL,
        _lattice_half_pairs_sql,
    )

    rows = [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pq = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{pq}/*.parquet'")
    sql = (
        f"WITH {_lattice_half_pairs_sql(0.6)} SELECT id_a, id_b, "
        f"{_LATTICE_SIM_SQL.format(d='d', na='na', nb='nb')} AS sim FROM adm"
    )
    got = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    want = {
        (r.id_a, r.id_b, r.sim)
        for r in cosine_near_pairs(df, threshold=0.6).collect()
    }
    assert got == want == {(1, 2, 0.6)}


def test_lattice_zero_vector_contract(spark):
    """Zero embeddings quantize to nn = 0 and are never admitted (the
    old float path evaluated 0/0 = NaN ≥ t as TRUE): no pair rows, but
    the vector still appears as its own canonical with 0 neighbors."""
    from data_engineering_spark.operators.similarity import embedding_near_dedup

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    assert cosine_near_pairs(df, threshold=0.5).count() == 0
    out = {r.vec_id: r for r in embedding_near_dedup(df, threshold=0.5).collect()}
    assert set(out) == {1, 2, 3}
    for vid in (1, 2, 3):
        assert out[vid].canonical_id == vid and out[vid].n_neighbors == 0
        assert not out[vid].is_dup


def test_lattice_null_vector_robustness(spark):
    """NULL embedding rows (and rows whose array carries NULL elements)
    degrade to 'no pairs' without crashing the Arrow dot kernel —
    independent of whether the optimizer pushes the admission's nn
    conjuncts below the UDF (the r10-advice robustness contract): the
    pair-join sides pre-filter nn > 0, AND pair_dot_pandas_long itself
    maps a bad row to d = 0."""
    from pyspark.sql import types as T

    from data_engineering_spark.operators.similarity import (
        embedding_near_dedup,
        pair_dot_pandas_long,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.001]),
            (3, None),  # embedding service emitted a NULL row
            (4, [None, 1.0]),  # ... or a NULL element
        ],
        schema,
    )
    pairs = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.9).collect()}
    assert pairs == {(1, 2)}
    out = {r.vec_id: r for r in embedding_near_dedup(df, threshold=0.9).collect()}
    # every id keeps a canonical row; the bad rows are their own canonical
    assert set(out) == {1, 2, 3, 4}
    assert out[2].canonical_id == 1 and out[2].is_dup
    for vid in (3, 4):
        assert out[vid].canonical_id == vid and out[vid].n_neighbors == 0

    # the UDF's own null path, exercised directly (no pre-filter to help):
    # null array / null element / ragged lengths all yield d = 0
    qschema = T.StructType(
        [
            T.StructField("qa", T.ArrayType(T.LongType())),
            T.StructField("qb", T.ArrayType(T.LongType())),
        ]
    )
    raw = spark.createDataFrame(
        [
            ([2, 3], [4, 5]),
            (None, [4, 5]),
            ([2, None], [4, 5]),
            ([2], [4, 5]),
        ],
        qschema,
    )
    got = [r.d for r in raw.select(
        pair_dot_pandas_long(F.col("qa"), F.col("qb")).alias("d")
    ).collect()]
    assert got == [23, 0, 0, 0]


def test_lattice_prep_cache_is_memoized_and_bounded(spark, tmp_path, monkeypatch):
    """The session memo holds one persisted lattice prep per plan: the
    same plan built again, or an equal plan built separately, hits the
    one handle; other params miss; past the cap the oldest handle is
    unpersisted; after clearCache() the rebuild is never uncached by the
    dead handle it replaces."""
    from pyspark import StorageLevel

    from data_engineering_spark import memo
    from data_engineering_spark.operators.similarity import lattice_unit_prep

    def prep(src, **kw):
        return memo.persisted(
            "lattice_prep", lattice_unit_prep(src, "vec_id", "embedding", "vec_id", **kw)
        )

    memo.clear()
    monkeypatch.setattr(memo, "CAP", 3)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    p1 = prep(df)
    p2 = prep(df)
    assert p1.storageLevel.useMemory and p2.storageLevel.useMemory
    assert memo.stats()["lattice_prep"] == {"hits": 1, "misses": 1, "evictions": 0}
    prep(df, scale=1000)  # other params: a miss
    assert memo.stats()["lattice_prep"]["misses"] == 2
    # two more distinct plans: four handles over a cap of three
    newest = [prep(df.filter(F.col("vec_id") >= -i)) for i in (1, 2)][-1]
    assert memo.stats()["lattice_prep"]["evictions"] == 1
    assert newest.storageLevel.useMemory
    assert p1.storageLevel == StorageLevel.NONE  # the oldest was unpersisted
    assert p1.count() == 2  # an evicted prep recomputes, never wrong

    # equal plans built separately share one handle
    memo.clear()
    path = str(tmp_path / "vecs")
    df.write.parquet(path)
    prep(spark.read.parquet(path))
    assert prep(spark.read.parquet(path)).storageLevel.useMemory
    assert memo.stats()["lattice_prep"] == {"hits": 1, "misses": 1, "evictions": 0}

    # clearCache() kills the handle underneath the memo; the rebuild is a
    # miss, and two more entries (which would evict a still-held dead
    # handle, and with it the rebuild's equal plan) leave it cached
    memo.clear()
    dead = prep(df)
    spark.catalog.clearCache()
    assert dead.storageLevel == StorageLevel.NONE
    rebuilt = prep(df)
    prep(df, scale=1000)
    prep(df, scale=2000)
    assert rebuilt.storageLevel.useMemory
    assert memo.stats()["lattice_prep"] == {"hits": 0, "misses": 4, "evictions": 0}
    memo.clear()


def test_lattice_admit_guards(spark):
    """threshold outside (0,1] is a ValueError; a lattice norm² at or
    above the 1e13 decimal-overflow cap fails loudly in the prep (once
    per vector) instead of silently dropping pairs."""
    from pyspark.sql import functions as F

    from data_engineering_spark.operators.similarity import (
        lattice_cosine_admit,
        lattice_unit_prep,
    )

    with pytest.raises(ValueError):
        lattice_cosine_admit(F.lit(1), F.lit(1), F.lit(1), 0.0)
    with pytest.raises(ValueError):
        lattice_cosine_admit(F.lit(1), F.lit(1), F.lit(1), 1.5)
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    # a unit direction at scale 1e8 has nn ≈ 1e16 — over the 1e13 cap
    bad = lattice_unit_prep(df, "vec_id", "embedding", "vec_id", scale=10**8)
    with pytest.raises(Exception, match="norm"):
        bad.collect()


def test_lsh_topk_recall_on_identical_bucket(vectors):
    # identical/near-identical vectors must share a hyperplane bucket
    out = lsh_topk(vectors, vectors.filter(F.col("vec_id") == 1), dim=4, k=3, planes=4)
    neigh = {r.neighbor_id for r in out.collect()}
    assert 2 in neigh


def test_embedding_near_dedup_canonical(vectors):
    from data_engineering_spark.operators.similarity import embedding_near_dedup

    out = {r.vec_id: r for r in embedding_near_dedup(vectors, threshold=0.95).collect()}
    assert out[2].canonical_id == 1 and out[2].is_dup
    assert out[1].canonical_id == 1 and not out[1].is_dup
    assert out[1].n_neighbors == 1 and out[2].n_neighbors == 1
    assert out[3].canonical_id == 3 and not out[3].is_dup
    assert out[5].canonical_id == 5  # opposite vector is not a neighbor


def test_ivf_topk_finds_planted_neighbor(spark):
    from data_engineering_spark.operators.similarity import ivf_topk

    # 40 corpus vectors in 4 well-separated directions + a near-dup of id 0
    rows = []
    for i in range(40):
        axis = i % 4
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 4) % 8] = 0.1 * ((i % 7) + 1)
        rows.append((i, v))
    q = [0.0] * 8
    q[0] = 1.0
    q[4] = 0.1
    rows.append((100, q))  # near corpus id 0's direction
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivf_topk(df, df.filter(F.col("vec_id") == 100), n_cells=4, nprobe=2, k=5)
    got = {r.neighbor_id for r in out.collect()}
    # the probed cells must contain same-direction vectors (axis 0)
    assert got & {0, 4, 8, 12, 16, 20}
    rnk1 = [r.neighbor_id for r in out.collect() if r.rnk == 1]
    assert rnk1 and rnk1[0] % 4 == 0


def _per_pair_topk(corpus, queries, k):
    """``cosine_topk`` in its per-pair SQL form — a broadcast nested-loop
    join scoring every pair with the ``dot``/``l2_norm`` folds, then the
    same window. The kernel must give exactly its rows and errors."""
    from pyspark.sql import Window

    from data_engineering_spark.operators.similarity import as_double, dot, l2_norm

    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), as_double("embedding").alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    sim = F.round(F.try_divide(dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")), 6)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


@pytest.fixture()
def conf(spark):
    """Set session confs for one test; the old values come back after."""
    old = {}

    def set_(key, value):
        old.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in old.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_topk_kernel_folds_match_python_left_fold():
    """The kernel's dot products and norms are bit-identical to a plain
    Python left fold from 0.0 (the op order of ``dot``/``l2_norm`` and
    DuckDB's list_dot_product); a BLAS matmul differs in the last ulp
    on 64-dim random data."""
    import math

    import pyarrow as pa

    from data_engineering_spark.operators.similarity import _fold_matrix, _topk_kernel

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rng = np.random.default_rng(5)
    q, c = rng.standard_normal((7, 64)).tolist(), rng.standard_normal((30, 64)).tolist()
    qm, qlens, qclean, qn = _fold_matrix(pa.array(q, pa.list_(pa.float64())))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(100, 130)), pa.array(c, pa.list_(pa.float64()))], names=["id", "v"]
    )
    out = pa.Table.from_batches(
        list(_topk_kernel(iter([batch]), pa.array(range(7)), qm, qlens, qclean, qn, k=30))
    ).to_pylist()
    assert len(out) == 7 * 30
    for r in out:
        qv, cv = q[r["query_id"]], c[r["neighbor_id"] - 100]
        assert r["dot"] == fold(qv, cv)
        assert r["qn"] == math.sqrt(fold(qv, qv)) and r["cn"] == math.sqrt(fold(cv, cv))


def test_cosine_topk_ties_across_batches_and_layouts(spark, conf):
    """Exact ties and 6-dp ties straddle the k boundary across Arrow
    batches: every layout gives the per-pair form's rows. Scaling a
    vector by 2 keeps its cosine bit-identical; (1, 0.9999995) beats
    (1, 1) unrounded but ties it after round(…, 6), so the smaller id
    must win whatever batch either lands in."""
    from data_engineering_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [2.0, 0.2])]
    rows += [(i, [float(1 + i % 2), float(1 + i % 2)]) for i in range(40, 3, -3)]
    rows += [(3, [1.0, 1.0]), (90, [1.0, 0.9999995]), (91, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2)
    for k in (1, 3, 4):
        want = _rows(_per_pair_topk(df, q, k))
        assert [r[1] for r in want if r[0] == 0] == [1, 2, 3, 4][:k]
        for batch in ("2", "10000"):
            conf("spark.sql.execution.arrow.maxRecordsPerBatch", batch)
            for parts in (1, 7):
                assert _rows(cosine_topk(df.repartition(parts), q, k)) == want, (k, batch, parts)


def test_cosine_topk_zero_norm_gives_null_sim_like_per_pair(spark, conf):
    """A zero-norm query or corpus vector gives its pairs a NULL sim
    that ranks last, under ANSI on and off, exactly the per-pair form's
    rows: one zero embedding must not fail every top-k query."""
    from data_engineering_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for ansi in ("true", "false"):
        conf("spark.sql.ansi.enabled", ansi)
        zero_q = _rows(cosine_topk(df, df.filter("vec_id = 3"), k=2))
        assert zero_q == [(3, 1, None, 1), (3, 2, None, 2)]
        for q in (df.filter("vec_id = 3"), df.filter("vec_id = 1"), df):
            want = _rows(_per_pair_topk(df, q, k=2))
            assert _rows(cosine_topk(df, q, k=2)) == want
        assert (1, 3, None, 2) in want  # the zero corpus vector ranks last


def test_cosine_topk_zero_vector_matches_duckdb_twin(spark, tmp_path):
    """A planted zero vector on both sides of ``sim_cosine_topk``: the
    Spark operator and the registry's DuckDB twin give the same rows,
    NULL sims ranked last."""
    import duckdb

    from data_engineering_spark.operators.similarity import cosine_topk
    from data_engineering_spark.registry import ORACLE
    from data_engineering_spark import queries_llm  # noqa: F401 — registers the twin

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(4).round(3).tolist()) for i in range(14)]
    rows[2], rows[12] = (2, [0.0] * 4), (12, [0.0] * 4)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{pq}/*.parquet'")
    want = sorted(con.execute(ORACLE["sim_cosine_topk"]).fetchall())
    got = _rows(cosine_topk(df, df.filter(F.col("vec_id") < 10), k=5))
    assert got == want
    assert [r[1:3] for r in got if r[0] == 2] == [(i, None) for i in (0, 1, 3, 4, 5)]
    assert not any(r[1] in (2, 12) for r in got)  # NULL sims rank behind every number


def test_cosine_topk_null_vectors_match_per_pair(spark, conf):
    """NULL vectors, NULL elements and ragged lengths give NULL sims
    that rank last, exactly the per-pair form's rows, in any layout."""
    from data_engineering_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.6, 0.8]),
            (3, None),
            (4, [None, 1.0]),
            (5, [1.0, 1.0, 1.0]),
            (6, [0.0, 2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    conf("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    for q in (df.filter("vec_id in (1, 3)"), df):
        want = _rows(_per_pair_topk(df, q, k=6))
        assert any(r[2] is None for r in want)
        for parts in (1, 3):
            assert _rows(cosine_topk(df.repartition(parts), q, k=6)) == want


def test_canonical_assignment_chain(spark, monkeypatch):
    """A duplicate chain 1-2, 2-3, plus pair 10-11: labels converge to the
    cluster min even though (1,3) was never a pair. The size gate is
    forced to 0 so the distributed loop runs (the driver path is proven
    against it by test_canonical_assignment_driver_matches_distributed)."""
    from data_engineering_spark.operators import dedup
    from data_engineering_spark.operators.dedup import canonical_assignment

    monkeypatch.setattr(dedup, "_CANONICAL_DRIVER_MAX_EDGES", 0)

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 50]], ["doc_id"])
    out = {r.doc_id: (r.canonical_id, r.is_dup) for r in canonical_assignment(pairs, ids).collect()}
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[3] == (1, True)  # transitive through 2
    assert out[10] == (10, False)
    assert out[11] == (10, True)
    assert out[50] == (50, False)  # untouched singleton


def test_canonical_assignment_raises_on_truncation(spark, monkeypatch):
    """A chain deeper than max_rounds must raise, never silently emit
    non-canonical labels (r11 review: a drop-list keyed on truncated
    labels points survivors at documents that are themselves dropped).
    The same chain converges — and certifies via the extra quiet
    round — once max_rounds covers its diameter. Runs the distributed
    loop (size gate forced to 0)."""
    import pytest as _pytest

    from data_engineering_spark.operators import dedup
    from data_engineering_spark.operators.dedup import canonical_assignment

    monkeypatch.setattr(dedup, "_CANONICAL_DRIVER_MAX_EDGES", 0)

    chain = [(i, i + 1) for i in range(1, 9)]  # diameter-8 path 1..9
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    ids = spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        canonical_assignment(pairs, ids, max_rounds=2)
    out = {
        r.doc_id: r.canonical_id
        for r in canonical_assignment(pairs, ids, max_rounds=10).collect()
    }
    assert all(v == 1 for v in out.values())


def test_lsh_multiprobe_recall_superset(spark, sf_dir):
    """Flip-1 multiprobe must find at least the neighbors the exact-bucket
    probe finds (and typically more)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    base = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, q, dim=64, k=50).collect()}
    probed = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, q, dim=64, k=50, multiprobe=1).collect()
    }
    assert base <= probed
    assert len(probed) >= len(base)


def test_ivf_train_refinement_moves_centroids(spark, sf_dir):
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import ivf_topk, ivf_train

    emb = load_table(spark, sf_dir, "embeddings")
    seeded = ivf_train(emb, n_cells=4)
    refined = ivf_train(emb, n_cells=4, refine_iters=1)
    assert len(seeded) == len(refined) == 4
    assert seeded != refined  # Lloyd step moved at least one centroid
    # refined codebook still drives a working probe
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 3), n_cells=4, nprobe=2, k=3)
    assert out.count() > 0


def test_winnow_fingerprints_shared_passage(spark):
    from data_engineering_spark.operators.text import winnow_fingerprints

    shared = "this exact shared paragraph appears verbatim in both documents and should collide"
    docs = spark.createDataFrame(
        [
            (1, "intro text one. " + shared + " tail a"),
            (2, "different opening words here! " + shared + " other ending"),
            (3, "zzqx unrelated material qqn entirely distinct phrasing kkw"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: set(r.fps)
        for r in docs.select("doc_id", winnow_fingerprints("text").alias("fps")).collect()
    }
    assert len(out[1] & out[2]) > 10  # shared passage → many common prints
    assert len(out[1] & out[3]) == 0  # unrelated → none


def test_shared_passage_pairs(spark):
    """Docs sharing a verbatim paragraph pair up; unrelated docs don't."""
    from data_engineering_spark.operators.text import winnow_fingerprints

    shared = "the identical boilerplate disclaimer paragraph that appears in many documents"
    docs = spark.createDataFrame(
        [
            (1, "unique intro alpha. " + shared),
            (2, shared + " plus completely different content beta"),
            (3, "no overlap here gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    fps = docs.select("doc_id", F.explode(winnow_fingerprints("text")).alias("fp")).distinct()
    a, b = fps.alias("a"), fps.alias("b")
    pairs = {
        (r.id_a, r.id_b): r.n
        for r in (
            a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    assert pairs.get((1, 2), 0) >= 8
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bucketed_embedding_dedup_agrees_on_planted_dups(spark):
    """The banded-LSH bucketed dedup must resolve planted near-identical
    duplicates exactly like the quadratic baseline: near-dup pairs have
    per-hyperplane collision probability ≈ 1, so banding recall on REAL
    duplicates is ~1 even though borderline-similarity recall is the
    probabilistic trade."""
    import random

    from data_engineering_spark.operators.similarity import (
        embedding_near_dedup,
        embedding_near_dedup_bucketed,
    )

    rng = random.Random(7)
    dim = 64
    rows = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
    # plant 10 near-duplicates of the first 10 vectors (tiny perturbation)
    for i in range(10):
        v = [x + rng.gauss(0, 0.001) for x in rows[i][1]]
        rows.append((100 + i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {r.vec_id: r for r in embedding_near_dedup(df, threshold=0.9).collect()}
    buck = {
        r.vec_id: r
        for r in embedding_near_dedup_bucketed(df, threshold=0.9, dim=dim).collect()
    }
    assert set(exact) == set(buck)
    for vid in exact:
        assert buck[vid].canonical_id == exact[vid].canonical_id, vid
        assert buck[vid].is_dup == exact[vid].is_dup, vid
    # every planted clone resolved to its original
    for i in range(10):
        assert buck[100 + i].canonical_id == i and buck[100 + i].is_dup


def test_bucketed_dedup_hot_bucket_purge(spark):
    """max_bucket purges degenerate buckets instead of going quadratic;
    emitted pairs stay exact-verified."""
    from data_engineering_spark.operators.similarity import embedding_near_dedup_bucketed

    # 50 identical vectors — every band collapses to one hot bucket
    rows = [(i, [1.0] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in embedding_near_dedup_bucketed(
        df, threshold=0.9, dim=8, max_bucket=10
    ).collect()}
    # all buckets purged → no candidates → everyone is their own canonical
    assert all(not r.is_dup for r in out.values())
    out2 = {r.vec_id: r for r in embedding_near_dedup_bucketed(
        df, threshold=0.9, dim=8, max_bucket=None
    ).collect()}
    assert all(r.canonical_id == 0 for r in out2.values())


def test_ivf_refined_finds_planted_neighbor(spark):
    """refine_iters=1 (the registered default) keeps planted-neighbor
    recall: one Lloyd iteration moves centroids but near-identical vectors
    stay co-assigned."""
    import random

    from data_engineering_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    rows.append((999, [x + rng.gauss(0, 0.001) for x in rows[0][1]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = ivf_topk(
        df, df.filter(F.col("vec_id") == 0), n_cells=4, nprobe=2, k=3, refine_iters=1
    )
    assert 999 in {r.neighbor_id for r in out.collect()}


def test_canonical_assignment_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """reliable_checkpoints=True runs the propagation through cluster
    checkpoint() storage (fault-tolerant mode) with identical results.
    Only the distributed loop checkpoints, so the size gate is forced
    to 0."""
    from data_engineering_spark.operators import dedup
    from data_engineering_spark.operators.dedup import canonical_assignment

    monkeypatch.setattr(dedup, "_CANONICAL_DRIVER_MAX_EDGES", 0)

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    # chain 1-2-3 and pair 5-6: transitive closure must label 3 → 1
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (5, 6, 0.9)], ["id_a", "id_b", "sim"]
    )
    out = {
        r.doc_id: r.canonical_id
        for r in canonical_assignment(pairs, ids, reliable_checkpoints=True).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_canonical_assignment_driver_matches_distributed(spark, monkeypatch):
    """Both sides of the edge-count gate give identical output on one
    graph: a long chain, a star, a cycle, a pair whose endpoint is not
    in ``ids`` (no label flows through it) and an untouched singleton."""
    from data_engineering_spark.operators import dedup
    from data_engineering_spark.operators.dedup import canonical_assignment

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)]  # chain 10..16
        + [(20, j) for j in (21, 22, 23)]  # star
        + [(30, 31), (31, 32), (32, 30)]  # cycle
        + [(41, 40), (40, 99)],  # 99 is not an id
        ["id_a", "id_b"],
    )
    ids = spark.createDataFrame(
        [(i,) for i in [*range(10, 17), 20, 21, 22, 23, 30, 31, 32, 40, 41, 50]], ["doc_id"]
    )

    def run():
        return sorted(map(tuple, canonical_assignment(pairs, ids, max_rounds=8).collect()))

    driver = run()
    monkeypatch.setattr(dedup, "_CANONICAL_DRIVER_MAX_EDGES", 0)
    distributed = run()
    assert driver == distributed
    assert {r[0]: r[1] for r in driver}[16] == 10


def test_pq_topk_finds_planted_neighbor(spark):
    """PQ scoring from code words alone must still rank a same-direction
    vector first on well-separated clusters."""
    from data_engineering_spark.operators.similarity import pq_topk

    rows = []
    for i in range(40):
        axis = i % 4
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 4) % 8] = 0.1 * ((i % 7) + 1)
        rows.append((i, v))
    q = [0.0] * 8
    q[0] = 1.0
    q[4] = 0.1
    rows.append((100, q))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pq_topk(df, df.filter(F.col("vec_id") == 100), m=4, n_codes=8, k=5)
    got = out.collect()
    assert len(got) == 5
    rnk1 = [r.neighbor_id for r in got if r.rnk == 1]
    assert rnk1 and rnk1[0] % 4 == 0  # nearest is an axis-0 vector


def test_pq_encode_deterministic_and_compact(spark, sf_dir):
    """Same corpus → identical codebooks and codes across invocations
    (no RNG anywhere); code words are m ints in [0, n_codes)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import pq_encode, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = pq_train(emb, m=8, n_codes=16)
    b2 = pq_train(emb, m=8, n_codes=16)
    assert b1.shape == (8, 16, 8)
    assert (b1 == b2).all()
    codes = pq_encode(emb, b1).limit(50).collect()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)


def test_pq_recall_beats_chance(spark, sf_dir):
    """PQ@5 recall vs exact top-5 must be far above the ~1% random-pair
    floor on the driver corpus (measured ~0.34 at m=16 on the isotropic
    sf0.01 embeddings — the quantizer's worst-case data shape)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.similarity import cosine_topk, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, q, m=16, n_codes=16, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.3


def test_canonical_assignment_matches_union_find(spark):
    """Randomized graphs: label propagation's fixpoint must equal the
    union-find (true connected components) min-id labeling."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        edges = sorted(
            {tuple(sorted(rng.sample(range(n), 2))) for _ in range(rng.randint(10, 50))}
        )
        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {i: find(i) for i in range(n)}

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        from data_engineering_spark.operators.dedup import canonical_assignment

        got = {
            r.doc_id: r.canonical_id
            for r in canonical_assignment(pairs, ids, max_rounds=60).collect()
        }
        assert got == expected, f"seed {seed}"


def test_minhash_arrow_signature_agrees_with_expr(spark, sf_dir):
    """The vectorized multiply-shift band hasher and the expression
    xxhash64 path must produce the SAME verified pair set on the driver
    corpus (both are exact-Jaccard-verified; only banding recall could
    differ, and it doesn't here)."""
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.dedup import minhash_near_dedup

    docs = load_table(spark, sf_dir, "documents")
    expr = {(r.id_a, r.id_b, r.jaccard)
            for r in minhash_near_dedup(docs, signature_impl="expr").collect()}
    arrow = {(r.id_a, r.id_b, r.jaccard)
             for r in minhash_near_dedup(docs, signature_impl="arrow").collect()}
    assert expr == arrow
    assert len(arrow) > 0


def test_minhash_arrow_tolerates_null_and_empty_text(spark):
    """Null-text and whitespace-only docs must not crash the arrow
    signature builder (regression: reduceat over a trailing empty set
    raised IndexError; None raised TypeError) and must never pair; both
    impls agree on the real pairs around them."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing outside"
    )
    rows = [(1, base), (2, base), (3, None), (4, "   "), (5, "short doc"), (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for impl in ("arrow", "expr"):
        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_near_dedup(df, threshold=0.5, signature_impl=impl).collect()
        }
        assert (1, 2) in pairs, impl
        assert all(3 not in p and 6 not in p and 4 not in p for p in pairs), impl


def test_pq_train_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from data_engineering_spark.operators.similarity import pq_train

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, n_codes=2, sample=4)


def test_pq_train_rejects_sample_smaller_than_codebook(spark):
    """A sample with fewer vectors than n_codes must raise a clear error,
    not a numpy broadcast failure in the centroid seeding (ADVICE r5)."""
    import pytest as _pytest

    from data_engineering_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="n_codes"):
        pq_train(df, m=2, n_codes=4, sample=2)


def test_portable_minhash_seeds_are_plan_independent(spark, sf_dir):
    """Regression for the two-parameter-lambda seed bug: inside
    F.transform, `lambda h, i=i:` binds i to the array-INDEX column
    (the default is discarded) and the seed f-string bakes in that
    Column's auto-generated repr — seeds were stable within one plan
    but different on every plan construction, so any two independently
    built portable plans (e.g. a streaming micro-batch vs the corpus
    index it probes) disagreed on every signature. Assert the seeded
    minimum equals the md5 ground truth computed in plain Python, which
    also pins bit-exactness to the DuckDB twin's
    ('0x' || substr(md5(i || ':' || s), 1, 15))::BIGINT idiom."""
    import hashlib

    from pyspark.sql import functions as F

    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.operators.dedup import (
        minhash_band_buckets,
        shingle_hashes_portable,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull()).limit(5)
    sh = docs.select("doc_id", shingle_hashes_portable("text").alias("shset"))
    rows = {r.doc_id: r.shset for r in sh.collect()}

    def md5_60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def band_hash(shset, band, rows_per_band=4):
        minima = [
            min(md5_60(f"{i}:{s}") for s in shset)
            for i in range(band * rows_per_band, (band + 1) * rows_per_band)
        ]
        return hashlib.md5(",".join(str(m) for m in minima).encode()).hexdigest()

    # two INDEPENDENT plan constructions must agree with the ground
    # truth (under the bug each construction had its own "seeds")
    for _ in range(2):
        bk = minhash_band_buckets(sh, signature_impl="portable")
        got = {
            (r.doc_id, r.band): r.bh
            for r in bk.collect()
            if rows.get(r.doc_id)
        }
        for (doc_id, band), bh in got.items():
            assert bh == band_hash(rows[doc_id], band), (doc_id, band)


@pytest.mark.parametrize("n_batches", [2, 3, 5])
def test_incremental_replay_is_batching_invariant(spark, n_batches):
    """The central incremental-dedup invariant, pinned across batch
    counts on a planted corpus: ANY micro-batching must emit exactly
    the one-shot (n=1) pair set, for both modalities. This is the
    invariant that exposed the plan-dependent portable-seed bug — keep
    it exercised at more than one split."""
    from data_engineering_spark.streaming.incremental_dedup import (
        incremental_embedding_replay,
        incremental_minhash_replay,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "a completely different document about spark query optimization",
        "yet another text concerning distributed joins and shuffles here",
        "korean analytics pipelines ingest documents daily at scale now",
    ]
    rows = []
    for i in range(20):
        t = base[i % 4]
        if i >= 16:  # planted near-dups: one token changed
            t = t.replace(t.split()[0], "THE", 1)
        rows.append((i, t))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    one = incremental_minhash_replay(docs, n_batches=1, max_bucket=None)
    multi = incremental_minhash_replay(docs, n_batches=n_batches, max_bucket=None)
    assert one.count() > 0  # planted dups make the invariant non-vacuous
    assert multi.count() == one.count()
    assert multi.exceptAll(one).count() == 0

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(20, 16))
    vecs[16:] = vecs[:4] + rng.normal(scale=0.01, size=(4, 16))  # near-dups
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    eone = incremental_embedding_replay(emb, dim=16, n_batches=1, threshold=0.9, max_bucket=None)
    emulti = incremental_embedding_replay(emb, dim=16, n_batches=n_batches, threshold=0.9, max_bucket=None)
    assert eone.count() > 0
    assert emulti.count() == eone.count()
    assert emulti.exceptAll(eone).count() == 0


def test_kmeans_lattice_refine_improves_and_is_layout_independent(spark):
    import math

    from data_engineering_spark.operators.similarity import kmeans_lattice_refine

    # two tight planted blobs + noise points; 2 seeded medoids
    rows = []
    for i in range(20):
        rows.append((i, [1.0 + (i % 3) * 0.01, 0.0, 0.0, 0.0]))
    for i in range(20, 40):
        rows.append((i, [0.0, 1.0 + (i % 3) * 0.01, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    base = kmeans_lattice_refine(df, k=2, iters=0).collect()
    ref = kmeans_lattice_refine(df, k=2, iters=1).collect()
    # refinement must not increase total within-cluster cost
    assert sum(r["dist"] for r in ref) <= sum(r["dist"] for r in base)
    # after refinement the two blobs separate perfectly
    by_cluster = {}
    for r in ref:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    assert sorted(len(v) for v in by_cluster.values()) == [20, 20]
    blobs = [set(range(20)), set(range(20, 40))]
    assert sorted(by_cluster.values(), key=min) == blobs

    # assignment is a pure function of the data, not the layout
    again = kmeans_lattice_refine(df.repartition(7), k=2, iters=1).collect()
    assert {(r["vec_id"], r["cluster"], r["dist"]) for r in again} == {
        (r["vec_id"], r["cluster"], r["dist"]) for r in ref
    }


def test_contrastive_batches_in_batch_semantics(spark):
    from data_engineering_spark.operators.similarity import contrastive_batches

    # batch_buckets=1 → everything shares one batch; label 9 is a singleton
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.1, 0.0], 0),    # nearest same-label to 1
        (3, [0.9, 0.0], 0),
        (4, [0.0, 1.0], 1),
        (5, [0.0, 1.1], 1),
        (6, [5.0, 5.0], 9),    # no same-label partner
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["anchor_id"]: r for r in contrastive_batches(df, batch_buckets=1).collect()}
    assert got[1]["positive_id"] == 2
    assert got[1]["positive_dist"] == 100_000**2  # 0.1 on the 1e-6 lattice
    assert got[1]["n_negatives"] == 3  # ids 4, 5, 6
    assert got[4]["positive_id"] == 5 and got[4]["n_negatives"] == 4
    # singleton label: visible NULL positive, negatives still counted
    assert got[6]["positive_id"] is None and got[6]["positive_dist"] is None
    assert got[6]["n_negatives"] == 5


def test_filtered_knn_prefilter_semantics(spark, sf_dir):
    """Pre-filter kNN: every returned neighbor REALLY satisfies the
    predicate (checked against the source table, not the query's own
    echoed literal) and each query still gets k of them (post-filtering
    a plain top-k would not)."""
    import __spark_entry__  # noqa: F401
    from data_engineering_spark.catalog import load_table
    from data_engineering_spark.registry import QUERIES

    rows = QUERIES["sim_filtered_knn"](spark, sf_dir).collect()
    assert rows
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    assert all(labels[r["neighbor_id"]] == 1 for r in rows)
    from collections import Counter
    per_query = Counter(r["query_id"] for r in rows)
    assert all(v == 5 for v in per_query.values())
    assert len(per_query) == 10


def test_corpus_overlap_kmv_bounds(spark):
    """KMV Jaccard estimator: identical halves → exactly 1.0, disjoint
    halves → exactly 0 (the boundary cases hold for ANY hash family),
    and the sketch is deterministic run to run."""
    from pyspark.sql import functions as F

    from data_engineering_spark.operators.dedup import shingle_hashes_portable

    def estimate(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sh = df.select(
            (F.col("doc_id") % 2).alias("side"),
            F.explode(shingle_hashes_portable("text")).alias("h"),
        )
        pres = sh.groupBy("h").agg(
            F.max((F.col("side") == 0).cast("int")).alias("ina"),
            F.max((F.col("side") == 1).cast("int")).alias("inb"),
        )
        kmv = pres.orderBy("h").limit(256)
        r = kmv.agg(
            F.count(F.lit(1)).alias("n_kmv"), F.sum(F.col("ina") * F.col("inb")).alias("j")
        ).collect()[0]
        return r.j, r.n_kmv

    # i//2 pairs each even doc with the next odd doc on identical text,
    # so both sides carry the same shingle set
    same = [(i, f"alpha beta gamma delta epsilon zeta theta iota word{i // 2}")
            for i in range(8)]
    j, n = estimate(same)
    assert j == n  # identical shingle sets on both sides → J = 1

    disjoint = [
        (i, " ".join(f"even{i}w{k}" for k in range(6)) if i % 2 == 0
         else " ".join(f"odd{i}w{k}" for k in range(6)))
        for i in range(8)
    ]
    j, n = estimate(disjoint)
    assert j == 0 and n > 0


def test_lattice_null_embedding_degrades_not_raises(spark):
    """A NULL vector (or a NULL element poisoning the fold) quantizes to
    nn = 0 — excluded from every admission like a zero vector — instead
    of tripping the cap guard's raise with a misleading message (which
    would crash-loop a streaming micro-batch on one malformed row)."""
    from data_engineering_spark.operators.similarity import (
        cosine_near_pairs,
        lattice_unit_prep,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.5, None]), (4, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    prep = {r.vec_id: r.nn for r in lattice_unit_prep(df, "vec_id", "embedding", "vec_id").collect()}
    assert prep[2] == 0 and prep[3] == 0 and prep[1] > 0
    pairs = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.9).collect()}
    assert pairs == {(1, 4)}  # the malformed rows pair with nothing


def test_embedding_store_migrates_pre_lattice_schema(spark):
    """A vector store written by the pre-quantize-on-write sink
    (columns vec_id, v) is re-derived to (qv, nn) on read — the ingest
    against old state emits the same pairs as against freshly-written
    state."""
    from data_engineering_spark.operators.similarity import as_double
    from data_engineering_spark.streaming.incremental_dedup import (
        batch_embedding_buckets,
        ingest_embedding_batch,
    )

    old_rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])]
    new_rows = [(3, [1.0, 0.001, 0.0, 0.0])]  # near-dup of stored id 1
    old_store = spark.createDataFrame(old_rows, ["vec_id", "embedding"]).select(
        "vec_id", as_double("embedding").alias("v")
    )
    batch = spark.createDataFrame(new_rows, ["vec_id", "embedding"])
    v_new, bk_new = batch_embedding_buckets(batch, dim=4)
    # index for the stored vectors, derived the same way the sink would
    _, bk_old = batch_embedding_buckets(
        spark.createDataFrame(old_rows, ["vec_id", "embedding"]), dim=4
    )
    pairs, _ = ingest_embedding_batch(
        v_new, bk_new, bk_old, old_store, threshold=0.9, max_bucket=None
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 3)}


def test_lsh_buckets_pandas_null_and_ragged_rows_drop_cleanly(spark):
    """The banded-signature kernel signs RAW streaming micro-batches, so
    a NULL or ragged embedding must yield a NULL signature (posexplode
    drops it from every band) instead of crash-looping the Arrow worker
    — the pair_dot null-safety class (r13 similarity re-pass). Valid
    rows in the same batch keep byte-identical signatures."""
    from pyspark.sql import functions as F

    from data_engineering_spark.operators.similarity import lsh_buckets_pandas

    clean = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [-1.0] * 8)], "vec_id long, v array<double>"
    )
    dirty = spark.createDataFrame(
        [(1, [1.0] * 8), (7, None), (8, [2.0, 3.0]), (2, [-1.0] * 8)],
        "vec_id long, v array<double>",
    )

    def sigs(df):
        return {
            r.vec_id: r.bks
            for r in df.select(
                "vec_id", lsh_buckets_pandas(F.col("v"), 8, 4, 2).alias("bks")
            ).collect()
        }

    got_clean, got_dirty = sigs(clean), sigs(dirty)
    assert got_dirty[1] == got_clean[1] and got_dirty[2] == got_clean[2]
    assert got_dirty[7] is None and got_dirty[8] is None
    # posexplode semantics: the malformed rows vanish from the bands
    exploded = dirty.select(
        "vec_id", F.posexplode(lsh_buckets_pandas(F.col("v"), 8, 4, 2))
    )
    assert {r.vec_id for r in exploded.collect()} == {1, 2}


def test_near_dedup_rewrite_in_place_reads_fresh(spark, tmp_path):
    """A corpus rewritten in place gives fresh pairs under the session
    memo: through Spark's own overwrite with no further step, and from
    outside Spark after ``spark.catalog.refreshByPath``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    other = (
        "completely different content about distributed query engines and "
        "columnar storage with vectorized execution and shuffle services"
    )
    path = str(tmp_path / "corpus")

    def pairs():
        out = minhash_near_dedup(spark.read.parquet(path), threshold=0.5)
        return sorted((r.id_a, r.id_b) for r in out.collect())

    spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    ).write.parquet(path)
    assert pairs() == [(1, 2)]
    spark.createDataFrame(
        [(1, base), (2, other), (3, base)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(path)
    assert pairs() == [(1, 3)]
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()), "text": [other, base, base]}),
        os.path.join(path, "part-0.parquet"),
    )
    spark.catalog.refreshByPath(path)
    assert pairs() == [(2, 3)]