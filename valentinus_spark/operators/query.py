"""Top-k similarity over any DataFrame with an embedding column: the one
builder of each query kind. ``EmbeddingCollection.cosine_query`` and
``nearest_query_df`` are these builders over the collection's table.

Physical shape: ``orderBy(score).limit(k)`` compiles to
``TakeOrderedAndProject`` — each partition keeps a k-row heap, the driver
merges heaps. No global sort, no full shuffle; at 1000 executors the
network moves only ``k × n_partitions`` rows. (Reference: single-threaded
full scan, embeddings.rs:357-372.)

The scoring column is a prepared kernel (``functions/vector.py``), built
once per query kind; a call only binds its query vector as the column
``_q``, which Catalyst folds into one array literal.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valentinus_spark.functions.vector import (
    QUERY_COL,
    literal_vector,
    prepared_kernel,
    unit_vector,
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
    *,
    columns: Sequence[str] | None = None,
    ordered: bool = True,
    quantized: bool = False,
) -> DataFrame:
    """Top-k most similar rows to a literal query vector.

    ``metric`` ∈ {cosine, dot}; ``pred`` is an optional pre-filter (the
    compiled metadata predicate — applied BEFORE scoring, exactly the
    reference's filter-then-score order, embeddings.rs:361-365, but pushed
    to the scan by Catalyst). NaN scores never rank and
    ``keep_positive_only`` is the reference's ``score > 0`` keep-rule,
    both through ``topk_score``.

    ``k <= 0`` keeps every match; ``ordered=False`` skips the ranking
    (the reference's first-k in storage order). ``columns``: the output
    columns in order, ``similarity`` among them (default: ``df``'s, then
    ``similarity``). ``quantized``: ``vec_col`` holds
    ``quantize_embedding`` structs."""
    qv = [float(x) for x in query_vector]
    metric = "dot" if metric == "dot" else "cosine"
    kernel = prepared_kernel(metric, vec_col, quantized=quantized, keep_positive_only=keep_positive_only)
    out = _scored(df, qv if metric == "dot" else unit_vector(qv), pred, kernel, "similarity", columns)
    if ordered:
        out = out.orderBy(F.desc("similarity"), F.asc(id_col))
    return out.limit(k) if k > 0 else out


def nearest_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 1,
    id_col: str = "id",
    vec_col: str = "embedding",
    *,
    columns: Sequence[str] | None = None,
    quantized: bool = False,
) -> DataFrame:
    """Exact k-NN by L2 (reference nearest_query is k=1, embeddings.rs:386-417).
    ``columns`` and ``quantized`` as in :func:`cosine_topk`, with
    ``distance`` for ``similarity``."""
    qv = [float(x) for x in query_vector]
    out = _scored(df, qv, None, prepared_kernel("l2", vec_col, quantized=quantized), "distance", columns)
    return out.orderBy(F.asc("distance"), F.asc(id_col)).limit(k)


def _scored(df, qv, pred, kernel, name, columns) -> DataFrame:
    """``df`` filtered by ``pred`` and projected to ``columns``, the
    prepared ``kernel`` as ``name``, reading ``qv`` bound as ``QUERY_COL``."""
    names = df.columns
    if any(c.lower() == QUERY_COL for c in names):
        raise ValueError(f"input column {QUERY_COL!r} would shadow the query vector")
    keep = columns or [*(c for c in names if c != name), name]
    if pred is not None:
        df = df.filter(pred)
    return df.withColumn(QUERY_COL, literal_vector(qv)).select(
        *(kernel if c == name else F.col("`" + c.replace("`", "``") + "`") for c in keep)
    )
