"""UDF/NLP layer (SURVEY §2.10 UD1-UD3, UD5): the reference's
collect-to-driver NLP re-expressed as Arrow-vectorized executor-side UDFs.

The reference collects all rows to the driver and loops
(``Talent_Opportunity_Platform/Keyword.py:192-228``) — single process,
1200s-per-row timeouts. Here:

- UD1 tokenizer → pure-Spark regex pipeline (no UDF at all);
  a pandas_udf variant shows the Arrow pattern for real analyzers
  (pynori / any HF tokenizer would slot into ``tokenize_pandas``).
- UD2 keyword extraction → ``applyInPandas`` grouped-map keyed by the
  group id: each group is scored on an executor; errors degrade to a
  (key, None, None) row exactly like the reference's fallback
  (``Keyword.py:219,224``).
- UD3 sentence embedding → deterministic hash-based embedding pandas_udf
  (the SentenceTransformer model isn't in this container — the *operator
  shape* is what's engine-relevant: text column in, fixed-dim
  array<float> out, Arrow batches, no driver hop).
- UD5 doc-shaping → ``to_json(struct(...))``, no UDF needed.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf, udtf

from .. import memo
from .text import tokens

__all__ = [
    "tokenize_pandas",
    "keyword_extract",
    "embed_text",
    "doc_to_json",
    "tfidf_keywords",
    "SplitSentences",
    "split_sentences",
    "subword_vocab",
    "subword_vocab_from_words",
    "subword_encode_words",
]

_WORD_RE = re.compile(r"[A-Za-z0-9가-힣]+")


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize_pandas(texts: pd.Series) -> pd.Series:
    """UD1 — analyzer-shaped tokenizer as an Arrow-batched pandas_udf
    (stand-in for pynori's ``do_analysis`` term extraction,
    ``pynori_test.py:4-27``; swap the body for a real morphological
    analyzer — the Spark plumbing is identical)."""
    return texts.map(lambda t: _WORD_RE.findall(t.lower()) if isinstance(t, str) else [])


_EMBED_DIM = 16


@pandas_udf(T.ArrayType(T.DoubleType()))
def embed_text(texts: pd.Series) -> pd.Series:
    """UD3 — sentence-embedding operator shape (``Keyword.py:25-28``):
    text → fixed-dim float vector, executed as Arrow batches on
    executors. Deterministic feature-hashing embedding (no model
    download): token → bucket via stable hash, L2-normalized counts.
    Stored as float64: the vote sums are small exact integers and the
    norm is one IEEE sqrt, so values are bit-identical to any engine
    doing the same math — which is what lets the registry query carry a
    full DuckDB oracle (a float32 cast loses that: rounding a stored
    float32 at 5dp flips vs float64 math ~1/80k values at sf0.1)."""

    def embed(t: str) -> list[float]:
        vec = [0.0] * _EMBED_DIM
        if isinstance(t, str):
            for tok in _WORD_RE.findall(t.lower()):
                h = hash_token(tok)
                vec[h % _EMBED_DIM] += 1.0 if (h >> 8) % 2 == 0 else -1.0
        norm = math.sqrt(sum(x * x for x in vec)) or 1.0
        return [x / norm for x in vec]

    return texts.map(embed)


def hash_token(tok: str) -> int:
    """Stable (non-PYTHONHASHSEED) token hash — FNV-1a 32-bit."""
    h = 2166136261
    for ch in tok.encode("utf-8"):
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h


KEYWORD_SCHEMA = T.StructType(
    [
        T.StructField("group_id", T.LongType()),
        T.StructField("keyword", T.StringType()),
        T.StructField("kw_rank", T.LongType()),
    ]
)


def keyword_extract(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 3,
    analyzer: str = "simple",
) -> DataFrame:
    """UD2 — grouped keyword extraction via ``applyInPandas``
    (``Keyword.py:192-228``'s collect-and-loop distributed: one Arrow
    group per key on an executor). TF scoring with a stopword-ish filter;
    per-group failure degrades to a (key, None, None) row like the
    reference's error fallback.

    ``analyzer="korean"`` swaps in the morphological normalizer
    (``operators/korean.py``) so josa-inflected forms of the same noun
    (학교/학교에서/학교의) score as one keyword — the role pynori's
    ``KoreanAnalyzer`` plays in ``Keyword.py:95-102``. Korean content
    words are frequently 2 syllables, so that path keeps len > 1 tokens
    (the simple path's len > 2 stopword-ish floor is tuned for Latin)."""
    if analyzer == "korean":
        from .korean import analyze_korean

        def toks(t: str) -> list[str]:
            return [w for w in analyze_korean(t) if len(w) > 1]

    else:

        def toks(t: str) -> list[str]:
            return [w for w in _WORD_RE.findall(t.lower()) if len(w) > 2]

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf[group_col].iloc[0]
        try:
            counts: Counter = Counter()
            for t in pdf[text_col]:
                if isinstance(t, str):
                    counts.update(toks(t))
            top = counts.most_common()
            top.sort(key=lambda kv: (-kv[1], kv[0]))  # deterministic tie-break
            rows = [(gid, w, i + 1) for i, (w, _) in enumerate(top[:top_k])]
            if not rows:
                rows = [(gid, None, None)]
        except Exception:  # noqa: BLE001 — mirror reference fallback Keyword.py:219
            rows = [(gid, None, None)]
        return pd.DataFrame(rows, columns=["group_id", "keyword", "kw_rank"])

    return df.groupBy(group_col).applyInPandas(extract, schema=KEYWORD_SCHEMA)


def tfidf_keywords(df: DataFrame, id_col: str, text_col: str, top_k: int = 3) -> DataFrame:
    """Pure-DataFrame TF-IDF keyword extraction — the no-UDF twin of
    ``keyword_extract`` (explode → doc-frequency join → window top-k).
    Preferable at scale: stays in Tungsten, no Arrow hop."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).filter(
        F.length("tok") > 2
    )
    # tf feeds BOTH the document-frequency aggregate and the score join —
    # persist it or the tokenize+explode pipeline executes twice. Held by
    # the session memo: a raw persist here would pin one session-lifetime
    # cache copy per invocation.
    tf = memo.persisted(
        "tfidf_tf", tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    # Corpus size rides along as a broadcast 1-row aggregate instead of a
    # driver-side df.count(): one plan, one job, no extra action.
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).alias("n_docs")))
    # tf has exactly one row per (doc, token), so document frequency is a
    # plain count(*) — cheaper partial agg than countDistinct.
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "tok")
        .join(n_docs)
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= top_k)
        .select(F.col(id_col), F.col("tok").alias("keyword"), "kw_rank", "tfidf")
    )


def doc_to_json(df: DataFrame, id_col: str, index_name: str) -> DataFrame:
    """UD5 — the per-row ``{_index,_id,_source}`` doc-shaping generator
    (``Elastic_indexing.py:194-201``) as ``to_json(struct(*))`` — pure
    expression, no generator, no driver."""
    payload_cols = [c for c in df.columns]
    return df.select(
        F.lit(index_name).alias("_index"),
        F.col(id_col).cast("string").alias("_id"),
        F.to_json(F.struct(*payload_cols)).alias("_source"),
    )


@udtf(returnType="sent_no: int, sentence: string")
class SplitSentences:
    """[UDTF surface] Python table function: text → one row per sentence
    (naive ./!/? splitting — swap the body for a real segmenter; the
    lateral-join plumbing is the point). Complements the UDF
    (tokenize_pandas) and grouped-map (keyword_extract) shapes so all
    three Python extension points are exercised."""

    def eval(self, text: str):  # noqa: D102
        if text:
            norm = text.replace("!", ".").replace("?", ".")
            for i, part in enumerate(norm.split(".")):
                s = part.strip()
                if s:
                    yield i, s


_SPLIT_VIEW_SEQ = __import__("itertools").count()
# Ring size bounds the catalog footprint (r12 advice: the unbounded
# per-call names grew one catalog entry per micro-batch in a long-lived
# streaming foreachBatch caller). Slot names are THREAD-SCOPED (r13
# end-of-round review): within one thread, reuse after 16 calls is safe
# because ``spark.sql`` analyzes EAGERLY — Dataset.ofRows asserts
# analysis before this function returns, and analysis INLINES the temp
# view's plan into the returned DataFrame, so a later call cannot
# rebind an earlier result (pinned by test_split_sentences_view_ring).
# But ACROSS threads (two streaming queries' foreachBatch workers) a
# shared counter could wrap the ring while a stalled thread sits
# between createOrReplaceTempView and its spark.sql analysis — the
# silent-rebind class again, merely improbable. The thread ident in the
# name makes cross-thread clobbering structurally impossible; catalog
# growth stays bounded at 16 × live threads.
_SPLIT_VIEW_RING = 16


def split_sentences(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Lateral-join the SplitSentences UDTF against a document table.

    The input registers under a RING of view names: with the old fixed
    name, a second call replaced the view while the first call's
    DataFrame could still be un-analyzed, silently rebinding the first
    result to the SECOND input (r12 nlp review); the r12 fix's
    per-call names then leaked one catalog entry per call (r12 advice).
    The THREAD-SCOPED ring gives all three: cross-thread clobbering is
    structurally impossible (the ident is in the name), within-thread
    reuse is rebind-safe (eager analysis), and catalog growth is
    bounded at ring × live threads for long-lived callers."""
    import threading

    spark = df.sparkSession
    spark.udtf.register("split_sentences_udtf", SplitSentences)
    view = (
        f"__split_sentences_in_{threading.get_ident()}_"
        f"{next(_SPLIT_VIEW_SEQ) % _SPLIT_VIEW_RING}"
    )
    df.createOrReplaceTempView(view)
    return spark.sql(
        f"""SELECT d.{id_col}, s.sent_no, s.sentence
            FROM {view} d, LATERAL split_sentences_udtf(d.{text_col}) s"""
    )


def subword_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 24,
    max_len: int = 4,
) -> list[str]:
    """Frequency-derived subword vocabulary: the ``vocab_size`` highest-
    weight substrings (length 2..``max_len``) of the corpus's words,
    weighted by word occurrence count, ties broken by the substring
    itself so the cutoff is deterministic in any engine.

    Scale shape — everything after the first aggregation is
    VOCABULARY-bounded, not corpus-bounded: one partial-agg shuffle
    produces (distinct word, count); the substring explode fans out over
    distinct words only (≤ |vocab| · max_len² rows, regardless of corpus
    size); the top-N is a TakeOrdered; and the returned list is
    ``vocab_size`` strings — a bounded driver transfer in the same class
    as the PQ/IVF codebook collects. A real deployment would persist the
    list and reuse it across runs (training the vocabulary is a once-
    per-corpus step, like any tokenizer's).

    Callers that already hold the (word, count) frame should pass it to
    :func:`subword_vocab_from_words` instead — this wrapper exists for
    the raw-corpus entry point and pays the word-count aggregation
    itself."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return subword_vocab_from_words(words, vocab_size=vocab_size, max_len=max_len)


def subword_vocab_from_words(
    words_df: DataFrame,
    vocab_size: int = 24,
    max_len: int = 4,
    word_col: str = "word",
    weight_col: str = "wc",
) -> list[str]:
    """Vocabulary selection from a precomputed (distinct word, weight)
    frame — the substring explode, weighting, and deterministic top-N of
    :func:`subword_vocab` without re-aggregating the corpus. Queries
    that already build the word-count frame for their own output reuse
    it here, so the corpus is scanned once per job, not once per
    consumer."""
    subs = (
        words_df.select(
            F.col(word_col).alias("word"),
            F.col(weight_col).alias("wc"),
            F.explode(F.sequence(F.lit(1), F.length(word_col))).alias("s"),
        )
        .select(
            "word", "wc", "s", F.explode(F.sequence(F.lit(2), F.lit(max_len))).alias("l")
        )
        .filter(F.col("s") + F.col("l") - 1 <= F.length("word"))
        .select(F.expr("substring(word, s, l)").alias("sub"), "wc")
        .groupBy("sub")
        .agg(F.sum("wc").alias("weight"))
    )
    top = subs.orderBy(F.col("weight").desc(), F.col("sub")).limit(vocab_size)
    return [r["sub"] for r in top.collect()]


def subword_encode_words(
    words_df: DataFrame, vocab: list[str], word_col: str = "word"
) -> DataFrame:
    """Greedy longest-match-first subword segmentation (the WordPiece
    decode rule) of each DISTINCT word against a fixed vocabulary: at
    every position take the longest vocabulary substring starting there,
    falling back to the single character when nothing matches — total,
    deterministic, and a pure function of (word, vocab), which is what
    lets a DuckDB recursive CTE replay it token by token.

    The vocabulary rides the Arrow UDF closure (it is vocab_size
    strings — broadcast-by-closure, no join), and the input is the
    distinct-words frame, so a 100 TB corpus pays the Python loop once
    per VOCABULARY entry, not once per token occurrence — dictionary-
    encode first, join back after, the same trick every columnar engine
    plays. Swap ``vocab`` for a trained BPE/WordPiece list to get a real
    tokenizer; the greedy rule is exactly WordPiece's."""
    vset = set(vocab)
    mx = max((len(v) for v in vocab), default=1)

    @pandas_udf(T.ArrayType(T.StringType()))
    def enc(ws: pd.Series) -> pd.Series:
        out = []
        for word in ws:
            if not isinstance(word, str):
                # NULL-safe by construction (the pair_dot precedent,
                # r10 advice): a NULL word segments to an empty token
                # list instead of crashing the Arrow worker with
                # len(None) — robustness must not depend on upstream
                # tokenizers never emitting NULL
                out.append([])
                continue
            toks: list[str] = []
            p, n = 0, len(word)
            while p < n:
                t = word[p]
                for l in range(min(mx, n - p), 1, -1):
                    if word[p : p + l] in vset:
                        t = word[p : p + l]
                        break
                toks.append(t)
                p += len(t)
            out.append(toks)
        return pd.Series(out)

    return words_df.withColumn("subtokens", enc(word_col))
