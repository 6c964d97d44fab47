"""Retrieval post-processing pipeline — ports of the reference's search
result shaping (SURVEY.md §2.2 P5/P6/P11, §2.4 A2, §2.5 W2-W4).

The reference applies these to ≤k Python dicts after FAISS search
(/root/reference/statschat/generative/cloud_llm.py:126-299). Here they are
DataFrame transformations so the same pipeline composes on any scale —
either on the collected top-k (tiny) or pushed over a full result relation.
Note the score-sense inversion: FAISS L2 distance (lower=better, threshold
``<=``) vs BM25 (higher=better, threshold ``>=``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from statschat_ke_spark.functions.refops import time_decay
from statschat_ke_spark.index.query import doc_u_asc


def score_threshold(results: DataFrame, min_score: float) -> Column | DataFrame:
    """P5 — similarity-threshold filter (cloud_llm.py:153; main.toml:19's
    threshold 2.0 on L2 distance maps to a BM25 floor, sense inverted)."""
    return results.filter(F.col("score") >= min_score)


def relative_score_filter(results: DataFrame, ratio: float = 1.5) -> DataFrame:
    """P6 — keep docs whose score is within ``ratio`` of the best
    (cloud_llm.py:185-196; distance ``<= 1.5×best`` becomes
    ``>= best/ratio`` for similarity scores).

    The global max comes from a scalar aggregate broadcast back onto the
    relation — NOT an unpartitioned window, which would funnel the whole
    relation through a single task when applied corpus-wide (the query path
    applies this to collected ≤k rows, but the operator must also hold at
    full-relation scale)."""
    best = results.agg(F.max("score").alias("_best"))
    return (
        results.crossJoin(F.broadcast(best))
        .filter(F.col("score") >= F.col("_best") / F.lit(ratio))
        .drop("_best")
    )


def dedup_first_wins(results: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """A2 — first-wins dedup by composite key. Implements the *intended*
    semantics of the reference's ``deduplicator`` (generative/utils.py:4-21;
    its ``signatures`` list is never appended — a documented no-op bug we
    fix rather than reproduce). Called with keys=["title","date"] at
    cloud_llm.py:269."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        results.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def decay_rerank(results: DataFrame, latest_w: Column, now: Column) -> DataFrame:
    """W2 — multiply score by the logistic time-decay coefficient and
    re-sort (cloud_llm.py:271-279). BM25 sense: decayed = score / coef
    becomes score * coef⁻¹? The reference divides distance by decay
    (smaller=better); for similarity we multiply by the decay coefficient
    so recent docs (coef→~1.5^w) rank higher, preserving the reference's
    recency-boost intent."""
    return (
        results.withColumn(
            "score", F.col("score") * time_decay(F.col("date"), latest_w, now)
        )
        .orderBy(F.desc("score"), doc_u_asc())
    )


def rank_and_head(results: DataFrame, k_contexts: int) -> DataFrame:
    """W3+W4 — rank enumeration + head-n context selection
    (cloud_llm.py:185-196, main.toml:18 k_contexts=5).

    Global top-k FIRST (``orderBy().limit(k)`` → TakeOrderedAndProject:
    per-partition partial top-k, no total sort, no single-task funnel),
    THEN the rank window over the surviving ≤k rows — the unpartitioned
    row_number touches k rows, never the relation."""
    topk = results.orderBy(F.desc("score"), doc_u_asc()).limit(k_contexts)
    w = W.orderBy(F.desc("score"), doc_u_asc())
    return topk.withColumn("doc_num", F.row_number().over(w))


def round_scores(results: DataFrame, digits: int = 2) -> DataFrame:
    """P11 — display rounding (cloud_llm.py:285-286); applied LAST, never
    before comparison/sorting."""
    return results.withColumn("score", F.round("score", digits))


def search_pipeline(
    results: DataFrame,
    *,
    min_score: float,
    latest_weight: float,
    now: Column,
    k_contexts: int = 5,
    ratio: float = 1.5,
) -> DataFrame:
    """The full make_query post-retrieval sequence (cloud_llm.py:235-299):
    threshold → dedup(title,date) → decay rerank → relative filter →
    rank+head → rounding."""
    r = score_threshold(results, min_score)
    r = dedup_first_wins(r, ["title", "date"], [F.desc("score"), doc_u_asc()])
    r = decay_rerank(r, F.lit(latest_weight), now)
    r = relative_score_filter(r, ratio)
    r = rank_and_head(r, k_contexts)
    return round_scores(r)
