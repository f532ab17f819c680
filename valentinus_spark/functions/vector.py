"""Vector algebra as JVM-side Catalyst expressions (no Python in the hot
path).

The reference's only scalar computation is the raw dot product inside its
scan loop (embeddings.rs:365: ``Σ qᵢ·cᵢ``) and KdTree L2 distance
(embeddings.rs:402-408). Here each is a composition of ``zip_with`` +
``aggregate`` over ``array<float>`` columns, so a cosine scan runs on the
executors over columnar Parquet input instead of the reference's
single-threaded deserialized-blob loop.

All functions accept a column (array<numeric>) and either another column or
a Python list (the broadcast-query-vector case: the driver embeds the query
once and ships it as a literal into every task, embeddings.rs:343-349 ≈
literal_vector).

Per-row cost. In Spark 4.1 ``zip_with`` and ``aggregate`` are
``CodegenFallback``: they run interpreted, element by element, and Catalyst
does not de-duplicate a subexpression that appears twice around or inside
them. So each array fold written into an expression is one more pass over
the row's elements at run time. The kernels therefore fold each array once
and bind the result as the argument of ``aggregate``'s finish lambda
instead of writing it twice, and anything that depends only on the query
is done on the driver: a literal query is normalized there
(``unit_vector``), so a cosine row costs |a| and the dot product and no
per-query scalar enters the plan (a ``double`` literal outside a lambda is
inlined into the generated Java, so every new query would compile anew).

Prepared kernels. A query's plan differs from the previous query's only
in its vector, and building a kernel is most of the client's work: each
``F.*`` call and Python lambda is a Py4J round trip, ~20 ms per cosine
kernel. So ``prepared_kernel`` builds each query kind's scoring column once
(per metric, vector column and query-vector column) over a query-vector
COLUMN, ``_q`` (``QUERY_COL``), and hands the same ``Column`` to every
request. A request binds its vector by projecting ``literal_vector(q)`` as
``_q`` below the kernel (``operators/query.py``); CollapseProject and
ConstantFolding then inline it, so the optimized plan holds one array
literal, exactly as if the kernel had been built around it.
``cosine_query_many`` scores against the ``qvec`` column of its probe table
with the same kernels.

Accumulation is double-precision left-fold regardless of input element
type, matching DuckDB's list_dot_product closely enough that results agree
to ~1e-12 (the correctness harness rounds to 4 decimals).
"""

from __future__ import annotations

import json
import math
from typing import Sequence

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

# the column a prepared kernel reads its query vector from
QUERY_COL = "_q"


def literal_vector(values: Sequence[float]) -> Column:
    """A query vector as an array<double> literal (broadcast to all tasks).

    Built as ONE plan node: a JSON string literal read by ``from_json``,
    which constant folding turns into a single array literal. The obvious
    ``F.array(*[F.lit(v) ...])`` costs a Py4J round trip per element (385
    calls, ~190 ms at dim 384, paid on every query) and leaves a
    ``CreateArray`` of ``dim`` children in the plan. Python's float repr
    round-trips exactly and Spark's JSON reader accepts ``NaN`` and
    ``±Infinity``, so the values are bit-identical to ``F.lit``'s,
    including ``-0.0`` and subnormals."""
    return F.from_json(F.lit(json.dumps([float(v) for v in values])), "array<double>")


def unit_vector(values: Sequence[float]) -> list[float]:
    """``values / |values|``, computed on the driver, once per query.

    A norm of 0 (all zeros, or one that underflows) gives the zero vector,
    which scores every finite row 0.0; a NaN component keeps the vector
    as it is, and it scores NaN. An Inf component makes the norm Inf and
    its own entry Inf/Inf = NaN, so such a query scores NaN too: the
    values the written-out dot/(|a||b|) gives, except that a zero row
    scores 0.0 against any query."""
    values = [float(v) for v in values]
    norm = math.sqrt(sum(v * v for v in values))
    if norm > 0:
        return [v / norm for v in values]
    return [0.0] * len(values) if norm == 0 else values


def _col(v: Column | str | Sequence[float]) -> Column:
    """A vector operand as a Column: a column name or a literal vector."""
    if isinstance(v, Column):
        return v
    return F.col(v) if isinstance(v, str) else literal_vector(v)


def _sum_sq(a: Column, finish=None) -> Column:
    """Σ x² of an array<double>, optionally passed to ``finish``."""
    if finish is None:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x, finish)


def _let(value: Column, body) -> Column:
    """``body(v)`` with ``value`` computed once and bound to ``v``: an
    ``aggregate`` over an empty array evaluates its zero argument
    (``value``) once per row and hands it to the finish lambda. Written
    out twice, a value would be computed twice; inside a per-element
    lambda, once per element."""
    return F.aggregate(F.array(), value, lambda acc, x: acc, body)


def dot(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Raw dot product (reference embeddings.rs:365)."""
    return F.aggregate(
        F.zip_with(_col(a).cast("array<double>"), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def finite_score(c: Column | str) -> Column:
    """True when a double score is finite. Spark's float total order
    treats NaN as GREATER than +Infinity and ``NaN > 0`` as true, so a
    single garbage embedding (NaN/Inf components, or magnitudes whose
    dot product overflows) would rank FIRST in every similarity-desc
    top-k unless excluded. Both bound checks are false for NaN under
    the same total order, so this one predicate screens NaN and ±Inf."""
    c = F.col(c) if isinstance(c, str) else c
    dmax = 1.7976931348623157e308
    return (c >= F.lit(-dmax)) & (c <= F.lit(dmax))


def finite_embedding(a: Column | str) -> Column:
    """True when every component is finite AND the squared norm stays in
    double range — a [1e300, ...] vector has finite components but an
    overflowing second moment that turns Gram/covariance accumulation
    non-finite (breeze SVD then fails to converge). One aggregate
    covers both: any NaN/Inf component or an overflowing norm² makes
    the sum non-finite."""
    a = F.col(a) if isinstance(a, str) else a
    return finite_score(_sum_sq(a.cast("array<double>")))


def cosine_similarity(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """True cosine = dot/(|a||b|). The reference calls its raw dot "cosine"
    (embeddings.rs:334-372) — that is only cosine for pre-normalized
    vectors; ``dot()`` is the compat mode (SURVEY.md §7.4.2).

    Zero vectors (e.g. empty documents) and NULL rows score 0.0, never a
    division by zero (ANSI mode errors on x/0); a NaN component gives NaN.

    A literal query ``b`` is normalized on the driver (``unit_vector``)
    and scored by ``unit_cosine``: |b| depends only on the query, so
    folding it in the plan would repeat it on every row, and as a scalar
    literal it would be inlined into generated code that then compiles
    for every new query. A row then costs one fold for |a| and the dot
    product; the written-out formula folds |a| and |b| twice each (zero
    test, divisor). A column ``b`` has |b| folded once per row and bound
    as ``aggregate``'s finish argument, as |a| is."""
    if not isinstance(b, (Column, str)):
        return unit_cosine(a, unit_vector(b))
    b = _col(b)
    return F.when(b.isNull(), F.lit(0.0)).otherwise(
        _sum_sq(b.cast("array<double>"), lambda n2: _cosine_by(_col(a), b, F.sqrt(n2)))
    )


def unit_cosine(a: Column | str, u: Column | str | Sequence[float]) -> Column:
    """Cosine of ``a`` to a vector ``u`` of norm 1 (or 0, which scores
    0.0): dot(a, u)/|a|, with |a| folded once. For queries the driver has
    normalized, e.g. by ``unit_vector``."""
    return _cosine_by(_col(a), _col(u), None)


def _cosine_by(a: Column, b: Column, b_norm: Column | None) -> Column:
    """dot(a, b)/(|a|·b_norm), 0.0 where that divisor is 0 or ``a`` is
    NULL; ``b_norm=None`` for a unit ``b``. |a| is folded once and bound
    as the finish lambda's argument, used twice (zero test, divisor)."""

    def finish(n2: Column) -> Column:
        denom = F.sqrt(n2) if b_norm is None else F.sqrt(n2) * b_norm
        return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))

    return F.when(a.isNull(), F.lit(0.0)).otherwise(
        _sum_sq(a.cast("array<double>"), finish)
    )


def topk_score(score: Column, positive_only: bool = True) -> Column:
    """``[score]``, or ``[]`` for a row a similarity-desc top-k must not
    return; explode it (``F.explode``) into the ranked column.

    Spark's float order puts NaN above +Infinity and takes ``NaN > 0`` as
    true, so a NaN score (a NaN component, or an Inf row under cosine)
    would rank first; it is dropped. ``positive_only`` adds the reference's
    keep-rule ``score > 0`` (embeddings.rs:366, where Rust's ``NaN > 0.0``
    is false); +Inf stays, as in the reference.

    An array to explode rather than a value to filter on: Catalyst pushes
    a filter on a computed column below the projection with the
    expression inlined, so the kernel would run in the filter and again in
    the projection, and a filter placed above the top-k instead stops
    ``TakeOrderedAndProject`` from being the plan's root, which adds a
    shuffle stage. The explode drops the row where the score is computed,
    once."""

    def keep(s: Column) -> Column:
        ok = ~F.isnan(s)
        return (s > 0) & ok if positive_only else ok

    return F.filter(F.array(score), keep)


def l2_distance(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Euclidean distance (reference KdTree metric, embeddings.rs:402-408)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_col(a).cast("array<double>"), _col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding column (so raw dot ≡ cosine). The norm
    is bound as the finish lambda's argument: written into the
    ``transform`` lambda it would be folded again for every element."""
    a = F.col(a) if isinstance(a, str) else a
    a = a.cast("array<double>")

    def finish(n2: Column) -> Column:
        n = F.sqrt(n2)
        return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)

    return _sum_sq(a, finish)


def zorder_key(*cols, bits: int = 16):
    """Z-order (Morton) interleave of numeric columns — a single sort key
    that clusters rows on BOTH dimensions at once, so range predicates on
    either column skip row groups after ``save(sort_by=[zorder_key(...)])``
    (single-column sort_by only prunes its own column; Delta's OPTIMIZE
    ZORDER BY is this same trick as a service).

    Columns are rank-normalized to [0, 2^bits) by the caller or passed as
    already-bounded non-negative ints; interleaving is pure Catalyst bit
    arithmetic (shiftleft/bitwise or), no UDF."""
    from pyspark.sql import functions as F

    out = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for i, c in enumerate(cols):
            col = F.col(c) if isinstance(c, str) else c
            src_bit = F.shiftright(col.cast("long"), bit).bitwiseAND(F.lit(1))
            out = F.shiftleft(out, 1).bitwiseOR(src_bit)
    return out


def quantize_embedding(a: Column | str):
    """Scalar int8 quantization of a float vector: per-vector max-abs
    scale, values rounded to [-127, 127]. Returns a struct
    (q: array<tinyint>, scale: float) — 4x smaller on disk and in
    shuffle than float32, ~8x than the double it widens to in compute.
    For cosine ranking the scale CANCELS (cos(q·s) = cos(q)), so
    approximate search over quantized vectors needs no dequantization
    at all; dequantize only to recover absolute magnitudes.

    The scale is bound by ``_let``: written into the ``transform`` lambda,
    its max-abs fold would run again for every element (O(dim²) per row)."""
    a = F.col(a) if isinstance(a, str) else a
    mx = F.aggregate(
        a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = F.when(mx > 0, mx / 127.0).otherwise(F.lit(1.0))

    def body(s: Column) -> Column:
        q = F.transform(a, lambda x: F.round(x.cast("double") / s).cast("tinyint"))
        return F.struct(q.alias("q"), s.cast("float").alias("scale"))

    return _let(scale, body)


def dequantize_embedding(qs: Column | str) -> Column:
    """Inverse of quantize_embedding: struct(q, scale) → array<float>."""
    from pyspark.sql import functions as F

    qs = F.col(qs) if isinstance(qs, str) else qs
    return F.transform(
        qs["q"], lambda x: (x.cast("double") * qs["scale"]).cast("float")
    )


# (JVM gateway, {kernel key: Column}): a Column holds references into the
# JVM it was built in, so a new gateway starts an empty cache
_prepared: tuple[object, dict] = (None, {})


def prepared_kernel(
    metric: str,
    vec_col: str = "embedding",
    query_col: str = QUERY_COL,
    quantized: bool = False,
    keep_positive_only: bool = True,
) -> Column:
    """The scoring column of one query kind, built once and then reused.

    ``metric="cosine"`` scores ``vec_col`` against the unit vectors
    (``unit_vector``) in ``query_col``, ``"dot"`` against raw vectors;
    both give ``similarity`` through ``F.explode(topk_score(...))``, so a
    row the keep-rule rejects vanishes. ``metric="l2"`` gives
    ``distance``. ``quantized``: ``vec_col`` holds ``quantize_embedding``
    structs, dequantized in the kernel."""
    global _prepared
    gateway = SparkContext._gateway
    if _prepared[0] is not gateway:
        _prepared = (gateway, {})
    key = (metric, vec_col, query_col, quantized, keep_positive_only)
    kernel = _prepared[1].get(key)
    if kernel is None:
        vec = dequantize_embedding(vec_col) if quantized else F.col(vec_col)
        if metric == "l2":
            kernel = l2_distance(vec, query_col).alias("distance")
        else:
            score = dot(vec, query_col) if metric == "dot" else unit_cosine(vec, query_col)
            kernel = F.explode(topk_score(score, keep_positive_only)).alias("similarity")
        _prepared[1][key] = kernel
    return kernel
