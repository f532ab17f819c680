"""valentinus_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of kn0sys/valentinus (an embedded vector
database), rebuilt Spark-first for 100 TB scale.

The reference (`/root/reference`, Rust) stores named *collections* of
(document, metadata, embedding) rows in LMDB and supports metadata-filtered
cosine top-k scans and exact nearest-neighbor queries
(reference: embeddings.rs:218-475). Here a collection is a Parquet-backed
DataFrame, the metadata filter spec compiles to a Catalyst ``Column``
predicate, similarity math runs JVM-side, and embedding generation is an
Arrow-batched pandas UDF — so every operator is partition-parallel and
optimizer-visible instead of a single-threaded full-blob scan.

Public API (mirrors reference `pub` items, SURVEY.md §2.5):

- :class:`~valentinus_spark.collection.EmbeddingCollection` —
  ``new / save / find / delete / fetch_collection_keys / cosine_query /
  nearest_query`` (reference embeddings.rs:240-475)
- :class:`~valentinus_spark.embed.HashEmbedder` /
  :class:`~valentinus_spark.embed.OnnxEmbedder` — pluggable embedders
  (reference onnx.rs:35-132, ModelType embeddings.rs:116-125)
- :func:`~valentinus_spark.filters.compile_filters` — metadata WHERE
  compiler (reference md2f.rs)
- :mod:`~valentinus_spark.operators` — dedup / similarity / text-analysis
  operators beyond the reference surface (BASELINE.json north star)
"""

import importlib

__version__ = "0.1.0"

# public name -> defining module, imported on first access (PEP 562): the
# worker daemon (valentinus_spark._daemon) runs under this package, and
# every forked Python worker inherits what the daemon imported
_EXPORTS = {
    "EmbeddingCollection": "collection",
    "CollectionCatalog": "collection",
    "HashEmbedder": "embed",
    "OnnxEmbedder": "embed",
    "get_embedder": "embed",
    "ValentinusError": "errors",
    "compile_filters": "filters",
    "get_spark": "session",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
