"""The session memo across its consumers: every persisted family and the
classifier-weights value, built twice on the same input, miss once and
then hit, and the memo never holds two handles to one cached relation."""

from __future__ import annotations

import itertools

from pyspark import StorageLevel
from pyspark.sql import functions as F

from data_engineering_spark import memo


def _families(spark, sf_dir):
    from data_engineering_spark.operators.classify import classifier_margins
    from data_engineering_spark.operators.curation import boilerplate_strip, dsir_weights
    from data_engineering_spark.operators.dedup import (
        minhash_near_dedup,
        ngram_jaccard_pairs,
        simhash_near_dedup,
        verbatim_spans,
    )
    from data_engineering_spark.operators.nlp import tfidf_keywords
    from data_engineering_spark.operators.similarity import (
        cosine_near_pairs,
        embedding_near_dedup,
        embedding_near_dedup_bucketed,
    )
    from data_engineering_spark.queries_relational import tpch_q15_top_supplier

    text = "the quick brown fox jumps over the lazy dog while the cat watches the birds"
    docs = spark.createDataFrame(
        [(i, f"{text} {i % 3}", "en" if i % 2 else "de") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    # (memo kinds the call persists, the call)
    return [
        (["lattice_prep"], lambda: cosine_near_pairs(vecs)),
        (["lattice_prep"], lambda: embedding_near_dedup(vecs)),
        (["lattice_prep"], lambda: embedding_near_dedup_bucketed(vecs, 0.9, dim=2)),
        (["minhash_sh", "minhash_cand"], lambda: minhash_near_dedup(docs)),
        # at this size the "auto" gate would skip the persist
        (["simhash_sig"], lambda: simhash_near_dedup(docs, max_bucket=1024)),
        (["ngram_sh"], lambda: ngram_jaccard_pairs(docs)),
        (["verbatim_starts"], lambda: verbatim_spans(docs)),
        (["tfidf_tf"], lambda: tfidf_keywords(docs, "doc_id", "text")),
        (["cls_feats"], lambda: classifier_margins(docs, [(0, 1)])),
        (["dsir_feats"], lambda: dsir_weights(docs, docs.filter(F.col("doc_id") < 2))),
        (["bp_chunks"], lambda: boilerplate_strip(docs)),
        (["tpch_q15_revenue"], lambda: tpch_q15_top_supplier(spark, sf_dir)),
    ]


def test_persisted_families_miss_once_then_hit(spark, sf_dir):
    for kinds, make in _families(spark, sf_dir):
        memo.clear()
        for want in ({"hits": 0, "misses": 1}, {"hits": 1, "misses": 1}):
            make()
            got = memo.stats()
            assert {k: got[k] for k in kinds} == {
                k: dict(want, evictions=0) for k in kinds
            }, kinds
    memo.clear()


def test_memo_holds_one_handle_per_cached_relation(spark, sf_dir):
    memo.clear()
    families = _families(spark, sf_dir)
    for _ in range(2):
        for _, make in families:
            make()
    live = [
        e[1] for e in memo._entries if e[2] is None and e[1].storageLevel != StorageLevel.NONE
    ]
    # one per family, except that the three lattice callers share one
    # prep and ngram_jaccard_pairs' shingle sets are minhash's relation
    assert len(live) == 10
    assert memo.stats()["ngram_sh"] == {"hits": 2, "misses": 0, "evictions": 0}
    assert not [(a, b) for a, b in itertools.combinations(live, 2) if a.sameSemantics(b)]
    memo.clear()


def test_classifier_weights_value_trains_once(spark):
    from data_engineering_spark.queries_extra import _cls_weights

    docs = spark.createDataFrame(
        [(i, f"theorem proof lemma v{i % 3}", "en") for i in range(6)]
        + [(i, f"buy cheap pills w{i % 3}", "de") for i in range(6, 12)],
        "doc_id long, text string, lang string",
    )
    memo.clear()
    w = _cls_weights(docs)
    assert isinstance(w, tuple) and w
    assert _cls_weights(docs) is w
    assert memo.stats()["cls_weights"] == {"hits": 1, "misses": 1, "evictions": 0}
    memo.clear()


def test_concurrent_callers_lose_no_update(spark, monkeypatch):
    """More threads than cores hit, miss and evict through the one lock:
    every call is counted once, the cap holds, and no two held handles
    alias one cached relation."""
    import sys
    import threading

    monkeypatch.setattr(memo, "CAP", 6)
    srcs = [spark.range(10).filter(F.col("id") > i) for i in range(4)]
    errors = []

    def work(t):
        try:
            for j in range(6):
                src = srcs[(t + j) % len(srcs)]
                memo.value("v", src, (), lambda: (t, j))
                memo.persisted("p", src.select((F.col("id") * ((t + j) % 3)).alias("x")))
        except Exception as exc:  # noqa: BLE001 — reported by the assertion below
            errors.append(exc)

    memo.clear()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads) and not errors, errors
    st = memo.stats()
    assert sum(st[k]["hits"] + st[k]["misses"] for k in ("v", "p")) == 2 * 8 * 6
    assert len(memo._entries) <= memo.CAP
    handles = [e[1] for e in memo._entries if e[2] is None]
    assert not [(a, b) for a, b in itertools.combinations(handles, 2) if a.sameSemantics(b)]
    memo.clear()
