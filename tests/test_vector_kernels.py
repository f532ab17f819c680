"""Vector kernels (functions/vector.py): the one-node query literal, the
driver-normalized literal query and the bound folds, checked against the
written-out formula and numpy."""

import json
import math
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from valentinus_spark.functions.vector import (
    cosine_similarity,
    l2_normalize,
    literal_vector,
    quantize_embedding,
    unit_vector,
)
from valentinus_spark.operators.query import cosine_topk

EDGE_VALUES = [
    0.0, -0.0, 1.0, -1.0, 0.1, 1 / 3, math.pi,
    5e-324, -5e-324,  # smallest subnormal
    2.2250738585072009e-308,  # largest subnormal
    2.2250738585072014e-308,  # smallest normal
    1.7976931348623157e308, -1.7976931348623157e308,
    1e-300, 123456789.123456789,
    float("nan"), float("inf"), float("-inf"),
]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _written_out_cosine(a, b):
    """The formula as written before the kernels bound their folds: |a|
    and |b| folded in the zero test and again in the divisor."""
    a = a.cast("array<double>")
    b = b.cast("array<double>")

    def norm(v):
        return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))

    d = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    denom = norm(a) * norm(b)
    return F.when(denom > 0, d / denom).otherwise(F.lit(0.0))


def test_literal_vector_is_bit_identical_to_per_element_lits(spark):
    old = F.array(*[F.lit(float(v)) for v in EDGE_VALUES])
    row = spark.range(1).select(old.alias("old"), literal_vector(EDGE_VALUES).alias("new")).first()
    assert [_bits(x) for x in row["new"]] == [_bits(x) for x in row["old"]]
    assert [_bits(x) for x in row["new"]] == [_bits(float(v)) for v in EDGE_VALUES]


def test_unit_vector():
    rng = np.random.default_rng(5)
    for _ in range(5):
        u = unit_vector(rng.standard_normal(37).tolist())
        assert math.sqrt(sum(x * x for x in u)) == pytest.approx(1.0, abs=1e-15)
    assert unit_vector([3, 4]) == [0.6, 0.8]
    assert unit_vector([0.0, -0.0]) == [0.0, 0.0]
    assert unit_vector([5e-324, 5e-324]) == [0.0, 0.0]  # norm underflows to 0
    nan = unit_vector([float("nan"), 1.0])
    assert math.isnan(nan[0]) and nan[1] == 1.0
    assert math.isnan(unit_vector([float("inf"), 1.0])[0])


@pytest.fixture(scope="module")
def vec_rows(spark):
    rng = np.random.default_rng(11)
    dim = 24
    mat = rng.standard_normal((40, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(40)]
    rows += [
        (40, [0.0] * dim),  # zero row
        (41, [float("nan")] + [1.0] * (dim - 1)),  # NaN row
        (42, [float("inf")] + [1.0] * (dim - 1)),  # Inf row
        (43, None),  # NULL row
    ]
    q = rng.standard_normal(dim).tolist()
    df = spark.createDataFrame(
        [(i, v, q) for i, v in rows], "id int, embedding array<float>, qvec array<double>"
    )
    return df, q, dim


def _close(x, y) -> bool:
    """Within 1e-12, or both NULL, or both NaN."""
    if x is None or y is None:
        return x is y
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return abs(x - y) <= 1e-12


def test_cosine_list_and_column_queries_agree(vec_rows):
    """A list query (normalized on the driver) and a column query (|b|
    folded per row) agree with the written-out formula within 1e-12 and
    keep its zero-row, NaN-row, Inf-row and NULL-row values."""
    df, q, _ = vec_rows
    rows = df.select(
        "id",
        _written_out_cosine(F.col("embedding"), F.col("qvec")).alias("ref"),
        cosine_similarity("embedding", q).alias("list"),
        cosine_similarity(F.col("embedding"), F.col("qvec")).alias("column"),
    ).collect()
    for r in rows:
        assert _close(r["list"], r["ref"]) and _close(r["column"], r["ref"]), r
    by_id = {r["id"]: r for r in rows}
    for form in ("list", "column"):
        assert by_id[40][form] == 0.0  # zero row
        assert math.isnan(by_id[41][form])  # NaN row passes through
        assert math.isnan(by_id[42][form])  # Inf row: inf/inf
        assert by_id[43][form] == 0.0  # NULL row


def test_cosine_list_query_matches_numpy(vec_rows):
    df, q, _ = vec_rows
    rows = df.filter(F.col("id") < 40).select("id", "embedding", cosine_similarity("embedding", q).alias("c")).collect()
    qn = np.asarray(q)
    for r in rows:
        a = np.asarray(r["embedding"], dtype=np.float64)
        assert r["c"] == pytest.approx(float(a @ qn / (np.linalg.norm(a) * np.linalg.norm(qn))), abs=1e-12)


@pytest.mark.parametrize("kind", ["zero", "nan", "inf", "overflow", "subnormal"])
def test_cosine_degenerate_queries(vec_rows, kind):
    """A zero query, or one whose norm underflows to 0, scores every
    finite row 0.0; a NaN or Inf query scores NaN; a query whose norm
    overflows scores 0.0. List and column queries give the written-out
    formula's values, except that a list query scores a zero row 0.0
    even where the query is NaN or Inf."""
    df, _, dim = vec_rows
    q = {
        "zero": [0.0] * dim,
        "nan": [float("nan")] + [1.0] * (dim - 1),
        "inf": [float("inf")] + [1.0] * (dim - 1),
        "overflow": [1e200] * dim,
        "subnormal": [5e-324] * dim,
    }[kind]
    rows = df.select(
        "id",
        cosine_similarity("embedding", q).alias("list"),
        cosine_similarity("embedding", literal_vector(q)).alias("column"),
        _written_out_cosine(F.col("embedding"), literal_vector(q)).alias("ref"),
    ).collect()
    for r in rows:
        if r["id"] != 40:
            assert _close(r["list"], r["column"]) and _close(r["list"], r["ref"]), (kind, r)
        if r["id"] < 41:
            want = math.nan if kind in ("nan", "inf") and r["id"] != 40 else 0.0
            assert _close(r["list"], want), (kind, r)


def test_cosine_query_plan_holds_query_as_one_literal(spark, fresh_warehouse):
    """The query vector enters the plan as one literal (no CreateArray of
    dim children; the prepared kernel's ``_q`` column folded into it),
    each row is scored once (no keep-rule filter for Catalyst to push
    below the projection with the kernel inlined), and the top-k is the
    plan's root, merged on the driver: no shuffle."""
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    dim = 48
    col = EmbeddingCollection.new(
        spark, [f"doc {i} words" for i in range(6)], [{"Year": 2000 + i} for i in range(6)],
        None, "planlit", embedder=HashEmbedder(dim=dim),
    ).save(promote_keys={"Year": "int"})
    # a first query prepares the kernel: the plan below binds a new vector to it
    col.cosine_query("words", num_results=1).collect()
    df = col.cosine_query("doc words", num_results=3, f_where=[{"Year": {"gte": 2001}}])
    assert df.count() > 0
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    assert not re.search(r"array\(-?\d", analyzed)  # no CreateArray of literals
    qv = [float(x) for x in col.embedder.embed_texts(["doc words"])[0]]
    assert analyzed.count(json.dumps(unit_vector(qv))) == 1
    optimized = qe.optimizedPlan().toString()
    assert "from_json" not in optimized  # constant-folded to one array literal
    assert optimized.count("zip_with(") == 1
    assert "_q#" not in optimized  # the bound query column is inlined
    assert len(re.findall(r"\[(?:[-\d.E]+,){%d}[-\d.E]+\]" % (dim - 1), optimized)) == 1
    physical = qe.executedPlan().toString()
    assert "TakeOrderedAndProject" in physical.splitlines()[0]
    assert "Exchange" not in physical


def test_cosine_topk_never_ranks_nan_first(spark):
    df = spark.createDataFrame(
        [
            ("good", [1.0, 0.0]),
            ("nan", [float("nan"), 0.0]),
            ("inf", [float("inf"), 0.0]),
            ("neg", [-1.0, 0.0]),
        ],
        "id string, embedding array<double>",
    )
    q = [1.0, 0.0]

    def top(metric, positive):
        return [
            (r["id"], r["similarity"])
            for r in cosine_topk(df, q, k=5, metric=metric, keep_positive_only=positive).collect()
        ]

    # dot: +Inf is a real (reference) score and ranks; NaN never does
    assert top("dot", True) == [("inf", math.inf), ("good", 1.0)]
    assert top("dot", False) == [("inf", math.inf), ("good", 1.0), ("neg", -1.0)]
    # cosine: the Inf row scores inf/inf = NaN and is dropped too
    assert top("cosine", True) == [("good", 1.0)]
    assert top("cosine", False) == [("good", 1.0), ("neg", -1.0)]


def test_bound_folds_match_written_out_forms(vec_rows):
    """l2_normalize and quantize_embedding bind their fold (the norm, the
    scale) once instead of re-running it inside the per-element lambda;
    the values are unchanged, NULL and zero rows included."""
    df, _, _ = vec_rows
    a = F.col("embedding").cast("array<double>")
    n = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    old_norm = F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)
    mx = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(mx > 0, mx / 127.0).otherwise(F.lit(1.0))
    old_q = F.struct(
        F.transform("embedding", lambda x: F.round(x.cast("double") / scale).cast("tinyint")).alias("q"),
        scale.cast("float").alias("scale"),
    )
    # NaN and Inf components cannot round to tinyint (ANSI raises)
    rows = df.filter(~F.col("id").isin(41, 42)).select(
        "id",
        l2_normalize("embedding").alias("n_new"), old_norm.alias("n_old"),
        quantize_embedding("embedding").alias("q_new"), old_q.alias("q_old"),
    ).collect()
    for r in rows:
        if r["n_old"] is None:
            assert r["n_new"] is None, r["id"]
        else:
            assert [_bits(x) for x in r["n_new"]] == [_bits(x) for x in r["n_old"]], r["id"]
        assert r["q_new"] == r["q_old"], r["id"]
