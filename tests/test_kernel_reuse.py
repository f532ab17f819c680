"""Prepared scoring kernels (functions/vector.py::prepared_kernel): a
handle's queries reuse each kind's kernel and bind only their own query
vector. Every answer is checked against numpy, on plain and quantized
collections, before and after writes on the same handle."""

import math

import numpy as np
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from valentinus_spark.collection import EmbeddingCollection
from valentinus_spark.embed import HashEmbedder
from valentinus_spark.functions import vector
from valentinus_spark.functions.vector import unit_vector
from valentinus_spark.operators.query import cosine_topk

DIM = 16
WORDS = "alpha beta gamma delta eps zeta eta theta iota kappa".split()


def _docs(start, n):
    rng = np.random.default_rng(start)
    docs = [" ".join(rng.choice(WORDS, size=rng.integers(2, 7))) for _ in range(n)]
    docs[1] = docs[0]  # an exact duplicate: equal scores, ranked by id
    meta = [{"Year": 2000 + (start + i) % 4} for i in range(n)]
    return docs, meta, [f"d{start + i:03d}" for i in range(n)]


def _rows(spark, start, n):
    docs, meta, ids = _docs(start, n)
    return spark.createDataFrame(
        [(i, d, {k: str(v) for k, v in m.items()}) for i, d, m in zip(ids, docs, meta)],
        "id string, document string, metadata map<string,string>",
    )


def _stored(col):
    """(ids, float64 vectors, years) of the handle's current rows, vectors
    as the queries see them (dequantized like ``dequantize_embedding``)."""
    if "embedding" in col.df.columns:
        rows = col.df.select("id", "embedding", "metadata").collect()
        vecs = [np.asarray(r["embedding"], dtype=np.float32) for r in rows]
    else:
        rows = col.df.select("id", "embedding_q", "metadata").collect()
        vecs = [
            (np.asarray(r["embedding_q"]["q"], dtype=np.float64)
             * np.float64(np.float32(r["embedding_q"]["scale"]))).astype(np.float32)
            for r in rows
        ]
    return (
        [r["id"] for r in rows],
        np.asarray(vecs, dtype=np.float64),
        [int(r["metadata"]["Year"]) for r in rows],
    )


def _fold(values) -> float:
    """Left-to-right double sum, the order Spark's ``aggregate`` adds in:
    equal rows score bit-equal, so exact ties are exact here too."""
    acc = 0.0
    for v in values:
        acc += v
    return acc


def _expect(col, text, metric, k, year=None):
    """Top-k as (score, id): ranked and cut by the left-fold scores (the
    keep-rule score > 0 for cosine and dot, l2 ascending, exact ties by
    id), each score checked against numpy to 1e-12."""
    ids, mat, years = _stored(col)
    q = np.asarray(col.embedder.embed_texts([text])[0], dtype=np.float64)
    if metric == "l2":
        ref = np.sqrt(((mat - q) ** 2).sum(axis=1))
        scores = [math.sqrt(_fold((x - y) * (x - y) for x, y in zip(a, q))) for a in mat.tolist()]
    elif metric == "dot":
        ref = mat @ q
        scores = [_fold(x * y for x, y in zip(a, q)) for a in mat.tolist()]
    else:
        norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
        ref = np.divide(mat @ q, norms, out=np.zeros(len(ids)), where=norms > 0)
        u = unit_vector(q.tolist())
        scores = []
        for a in mat.tolist():
            n = math.sqrt(_fold(x * x for x in a))
            scores.append(_fold(x * y for x, y in zip(a, u)) / n if n > 0 else 0.0)
    np.testing.assert_allclose(scores, ref, rtol=0, atol=1e-12)
    keep = [
        (s, i) for i, s, y in zip(ids, scores, years)
        if (year is None or y == year) and (metric == "l2" or s > 0)
    ]
    keep.sort(key=lambda t: (t[0] if metric == "l2" else -t[0], t[1]))
    return keep[:k]


def _check(got, want):
    """``got`` as (id, score) against ``want`` as (score, id)."""
    assert [i for i, _ in got] == [i for _, i in want]
    np.testing.assert_allclose([s for _, s in got], [s for s, _ in want], rtol=0, atol=1e-12)


def _query(col, text, metric, k, year=None):
    f_where = None if year is None else [{"Year": {"eq": year}}]
    got = col.cosine_query(text, num_results=k, f_where=f_where, metric=metric).collect()
    _check([(r["id"], r["similarity"]) for r in got], _expect(col, text, metric, k, year))


def _nearest(col, text, k):
    got = col.nearest_query_df(text, k=k).collect()
    _check([(r["id"], r["distance"]) for r in got], _expect(col, text, "l2", k))


def _many(col, texts, metric, k):
    got = col.cosine_query_many(texts, num_results=k, metric=metric).collect()
    for qid, text in enumerate(texts):
        mine = [(r["id"], r["similarity"]) for r in got if r["qid"] == qid]
        _check(mine, _expect(col, text, metric, k))


def _round(col):
    """At least six queries with different vectors, filters, k and both
    metrics, plus the other two query kinds, all on one handle."""
    _query(col, "alpha beta", "cosine", 5)
    _query(col, "gamma delta eps", "dot", 7, year=2001)
    _query(col, "zeta alpha", "cosine", 3, year=2002)
    _query(col, "theta", "dot", 10)
    _query(col, "iota kappa beta", "cosine", 40, year=2003)
    _query(col, "eta eta gamma", "cosine", 1)
    _nearest(col, "beta gamma", 4)
    _nearest(col, "kappa", 1)
    _many(col, ["alpha", "delta zeta"], "cosine", 4)
    _many(col, ["eps theta", "beta"], "dot", 3)


@pytest.mark.parametrize("quantize", [False, True], ids=["float", "quantized"])
def test_one_handle_answers_every_query_like_numpy(spark, fresh_warehouse, quantize):
    docs, meta, ids = _docs(0, 40)
    col = EmbeddingCollection.new(
        spark, docs, meta, ids, "reuse", embedder=HashEmbedder(dim=DIM)
    ).save(promote_keys={"Year": "int"}, quantize=quantize)
    col = EmbeddingCollection.find(spark, view=col.view)
    _round(col)
    col.append(_rows(spark, 100, 15))
    _round(col)
    col.upsert(_rows(spark, 5, 10))  # d005..d014 replaced
    _round(col)
    col.compact_safe()
    _round(col)
    assert col.df.count() == 55


def test_union_of_two_queries_of_one_handle(spark, fresh_warehouse):
    docs, meta, ids = _docs(0, 30)
    col = EmbeddingCollection.new(
        spark, docs, meta, ids, "unioned", embedder=HashEmbedder(dim=DIM)
    ).save()
    a = col.cosine_query("alpha beta", num_results=4)
    b = col.cosine_query("theta iota", num_results=4, metric="dot")
    both = sorted((r["id"], r["similarity"]) for r in a.unionByName(b).collect())
    apart = sorted((r["id"], r["similarity"]) for r in a.collect() + b.collect())
    assert both == apart
    _check(
        [(r["id"], r["similarity"]) for r in b.collect()], _expect(col, "theta iota", "dot", 4)
    )


def test_second_query_builds_no_kernel(spark, fresh_warehouse, monkeypatch):
    """The count of kernel-building calls: the first query of each kind
    builds its kernel, every later one (new vector, filter, k) none."""
    calls = []
    for name in ("aggregate", "zip_with", "filter"):
        real = getattr(F, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(F, name, counted)
    monkeypatch.setattr(vector, "_prepared", (None, {}))
    docs, meta, ids = _docs(0, 20)
    col = EmbeddingCollection.new(
        spark, docs, meta, ids, "counted", embedder=HashEmbedder(dim=DIM)
    ).save(promote_keys={"Year": "int"})
    for first, second in [
        (lambda: col.cosine_query("alpha", num_results=3),
         lambda: col.cosine_query("beta gamma", num_results=5, f_where=[{"Year": {"eq": 2001}}])),
        (lambda: col.nearest_query_df("alpha", k=1), lambda: col.nearest_query_df("kappa", k=3)),
        (lambda: col.cosine_query_many(["alpha"], num_results=2),
         lambda: col.cosine_query_many(["beta", "eta"], num_results=3)),
    ]:
        calls.clear()
        first()
        assert calls, "the first query of a kind builds its kernel"
        calls.clear()
        df = second()
        assert calls == []
        assert df.count() > 0


def test_cosine_topk_refuses_a_column_named_like_the_query(spark):
    df = spark.createDataFrame([("a", [1.0, 0.0], 1)], "id string, embedding array<double>, _Q int")
    with pytest.raises(ValueError, match="_q"):
        cosine_topk(df, [1.0, 0.0], k=1)


def test_kernel_cache_starts_empty_for_a_new_gateway(spark, monkeypatch):
    """Columns hold JVM references: a cache filled under one gateway is not
    served under another."""
    kernel = vector.prepared_kernel("cosine")
    assert vector.prepared_kernel("cosine") is kernel
    key = ("cosine", "embedding", vector.QUERY_COL, False, True)
    monkeypatch.setattr(vector, "_prepared", (object(), {key: "stale"}))
    assert isinstance(vector.prepared_kernel("cosine"), Column)
