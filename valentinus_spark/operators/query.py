"""Standalone top-k similarity operators over any DataFrame with an
embedding column (the collection API delegates here conceptually; these
take raw DataFrames so they compose with arbitrary relational plans).

Physical shape: ``orderBy(score).limit(k)`` compiles to
``TakeOrderedAndProject`` — each partition keeps a k-row heap, the driver
merges heaps. No global sort, no full shuffle; at 1000 executors the
network moves only ``k × n_partitions`` rows. (Reference: single-threaded
full scan, embeddings.rs:357-372.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valentinus_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_distance,
    topk_score,
)


def cosine_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int,
    id_col: str = "id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    pred: Column | None = None,
    keep_positive_only: bool = True,
) -> DataFrame:
    """Top-k most similar rows to a literal query vector.

    ``metric`` ∈ {cosine, dot}; ``pred`` is an optional pre-filter (the
    compiled metadata predicate — applied BEFORE scoring, exactly the
    reference's filter-then-score order, embeddings.rs:361-365, but pushed
    to the scan by Catalyst). NaN scores never rank and
    ``keep_positive_only`` is the reference's ``score > 0`` keep-rule,
    both through ``topk_score`` as in ``EmbeddingCollection.cosine_query``."""
    score = (
        dot(vec_col, query_vector)
        if metric == "dot"
        else cosine_similarity(vec_col, query_vector)
    )
    out = df
    if pred is not None:
        out = out.filter(pred)
    return (
        out.withColumn("similarity", F.explode(topk_score(score, keep_positive_only)))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
    )


def nearest_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 1,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN by L2 (reference nearest_query is k=1, embeddings.rs:386-417)."""
    return (
        df.withColumn("distance", l2_distance(vec_col, query_vector))
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
    )
