"""Property-based tests (hypothesis): the filter compiler against a pure
Python evaluator, and JVM vector algebra against numpy — randomized
inputs, exact semantics."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hypo_budget import hypo_examples
from pyspark.sql import functions as F

from valentinus_spark.filters import compile_filters
from valentinus_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_distance,
    l2_normalize,
)

# ---------------------------------------------------------------------------
# filter compiler vs python oracle
# ---------------------------------------------------------------------------

KEYS = ["Year", "Rating", "Model"]
OPS_NUM = ["eq", "gt", "gte", "lt", "lte"]

spec_strategy = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(KEYS),
            st.sampled_from(OPS_NUM),
            st.integers(min_value=-5, max_value=15),
        ),
        st.tuples(
            st.sampled_from(KEYS), st.just("eq"), st.sampled_from(["a", "b", "7"])
        ),
        st.tuples(
            st.sampled_from(KEYS),
            st.just("in"),
            st.lists(st.integers(min_value=-5, max_value=15), min_size=1, max_size=4),
        ),
    ),
    min_size=1,
    max_size=3,
)

row_strategy = st.lists(
    st.dictionaries(
        st.sampled_from(KEYS),
        st.one_of(
            st.integers(min_value=-5, max_value=15).map(str), st.sampled_from(["a", "b"])
        ),
        max_size=3,
    ),
    min_size=1,
    max_size=8,
)


def py_eval(meta: dict, key: str, op: str, value) -> bool:
    """Reference semantics of one compiled predicate, in python."""
    if key not in meta:
        return False
    raw = meta[key]
    if isinstance(value, str):
        return op == "eq" and raw == value
    try:
        num = int(raw)
    except ValueError:
        return False  # try_cast → NULL → false
    if op == "in":
        return num in value
    return {
        "eq": num == value,
        "gt": num > value,
        "gte": num >= value,
        "lt": num < value,
        "lte": num <= value,
    }[op]


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(specs=spec_strategy, rows=row_strategy)
def test_filter_compiler_matches_python(spark, specs, rows):
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id long, metadata map<string,string>"
    )
    json_specs = [{k: {op: v}} for k, op, v in specs]
    got = {r["id"] for r in df.filter(compile_filters(json_specs)).collect()}
    expect = {
        i for i, m in enumerate(rows) if all(py_eval(m, k, op, v) for k, op, v in specs)
    }
    assert got == expect


# ---------------------------------------------------------------------------
# vector algebra vs numpy
# ---------------------------------------------------------------------------

vec_strategy = st.lists(
    st.floats(
        min_value=-100, max_value=100, allow_nan=False, allow_infinity=False, width=32
    ),
    min_size=2,
    max_size=16,
)


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=st.lists(st.tuples(vec_strategy, vec_strategy), min_size=1, max_size=5))
def test_vector_algebra_matches_numpy(spark, pairs):
    # pad to a common dim per example set
    dim = max(len(a) for a, _ in pairs)
    rows = []
    for i, (a, b) in enumerate(pairs):
        rows.append((i, (a + [0.0] * dim)[:dim], (b + [0.0] * dim)[:dim]))
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    out = df.select(
        "id",
        dot(F.col("a"), F.col("b")).alias("dot"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
        l2_distance(F.col("a"), F.col("b")).alias("l2"),
        l2_normalize(F.col("a")).alias("norm_a"),
    ).collect()
    for r in out:
        a = np.array(rows[r["id"]][1], dtype=np.float32).astype(np.float64)
        b = np.array(rows[r["id"]][2], dtype=np.float64)
        assert math.isclose(r["dot"], float(a @ b), rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(r["l2"], float(np.linalg.norm(a - b)), rel_tol=1e-9, abs_tol=1e-9)
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        expect_cos = float(a @ b / (na * nb)) if na > 0 and nb > 0 else 0.0
        assert math.isclose(r["cos"], expect_cos, rel_tol=1e-9, abs_tol=1e-9)
        if na > 0:
            np.testing.assert_allclose(np.array(r["norm_a"]), a / na, rtol=1e-9)
            assert math.isclose(
                float(np.linalg.norm(r["norm_a"])), 1.0, rel_tol=1e-9
            )


# ---------------------------------------------------------------------------
# as-of join vs python oracle (randomized)
# ---------------------------------------------------------------------------

events_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
)


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(left=events_strategy, right=events_strategy)
def test_asof_join_matches_python_oracle(spark, left, right):
    from valentinus_spark.operators.asof import asof_join

    lrows = [(i, k, ts) for i, (k, ts) in enumerate(left)]
    rrows = [(100 + j, k, ts, float(j)) for j, (k, ts) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "eid long, k long, ts long")
    rdf = spark.createDataFrame(rrows, "rid long, k long, ts long, v double")
    got = {
        r["eid"]: r["asof_rid"]
        for r in asof_join(
            ldf, rdf, key="k", ts="ts", value_cols=["rid", "v"], tie_break="rid"
        ).collect()
    }
    for eid, k, ts in lrows:
        cands = [(rts, rid) for rid, rk, rts, _ in rrows if rk == k and rts <= ts]
        expect = max(cands)[1] if cands else None
        assert got[eid] == expect, (eid, k, ts)


# ---------------------------------------------------------------------------
# range join vs python oracle (randomized geometry × bucket width)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 60)), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60), st.integers(0, 25)),
        min_size=1,
        max_size=15,
    ),
    bucket_width=st.sampled_from([1, 3, 16, 100]),
)
def test_range_join_matches_python_oracle(spark, points, intervals, bucket_width):
    from valentinus_spark.operators.range_join import range_join

    prows = [(i, k, ts) for i, (k, ts) in enumerate(points)]
    irows = [(100 + j, k, s, s + dur) for j, (k, s, dur) in enumerate(intervals)]
    pdf = spark.createDataFrame(prows, "pid long, k long, ts long")
    idf = spark.createDataFrame(irows, "iid long, k long, s long, e long")
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            pdf, idf, key="k", point_ts="ts", start="s", end="e",
            bucket_width=bucket_width,
        ).collect()
    }
    expect = {
        (pid, iid)
        for pid, pk, ts in prows
        for iid, ik, s, e in irows
        if pk == ik and s <= ts <= e
    }
    assert got == expect


# ---------------------------------------------------------------------------
# interval-overlap join vs python oracle (randomized geometry × bucket width)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60), st.integers(0, 25)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60), st.integers(0, 25)),
        min_size=1,
        max_size=15,
    ),
    bucket_width=st.sampled_from([1, 3, 16, 100]),
)
def test_interval_overlap_matches_python_oracle(spark, left, right, bucket_width):
    from valentinus_spark.operators.range_join import interval_overlap_join

    lrows = [(i, k, s, s + d) for i, (k, s, d) in enumerate(left)]
    rrows = [(100 + j, k, s, s + d) for j, (k, s, d) in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, s long, e long")
    rdf = spark.createDataFrame(rrows, "rid long, k long, s long, e long")
    out = interval_overlap_join(
        ldf, rdf, key="k", left_start="s", left_end="e",
        right_start="s", right_end="e", bucket_width=bucket_width,
    ).collect()
    got = [(r["lid"], r["rid"]) for r in out]
    expect = {
        (lid, rid)
        for lid, lk, ls, le in lrows
        for rid, rk, rs, re_ in rrows
        if lk == rk and ls <= re_ and rs <= le
    }
    assert set(got) == expect
    assert len(got) == len(expect)  # single emission per pair, any width


# ---------------------------------------------------------------------------
# mixture repeat counts: expectation and determinism under random factors
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    factor=st.sampled_from([0.0, 0.25, 0.5, 1.0, 1.75, 2.0, 3.5]),
    n_rows=st.integers(50, 200),
)
def test_mixture_repeat_expectation(spark, factor, n_rows):
    import hashlib

    from valentinus_spark.functions.text import mixture_repeat_count

    df = spark.createDataFrame(
        [(i, "g") for i in range(n_rows)], "doc_id long, source string"
    )
    got = {
        r["doc_id"]: r["n_repeat"]
        for r in df.select(
            "doc_id", mixture_repeat_count("doc_id", "source", {"g": factor})
        ).collect()
    }

    def bucket(k):
        return int(hashlib.sha256(f"v1{k}".encode()).hexdigest()[:8], 16)

    import math

    base, frac = int(math.floor(factor)), factor - math.floor(factor)
    thr = int(frac * 2**32)
    for i in range(n_rows):
        assert got[i] == base + (1 if bucket(i) < thr else 0), i


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join vs python brute force
# ---------------------------------------------------------------------------

VOCAB = [f"t{i}" for i in range(12)]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8),
    min_size=2,
    max_size=8,
)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=corpus_strategy, t=st.sampled_from([0.3, 0.5, 0.8, 0.9, 1.0]))
def test_setsim_matches_brute_force_on_random_corpora(spark, docs, t):
    from valentinus_spark.operators.setsim import set_similarity_join

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "did long, body string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_join(df, "did", "body", threshold=t).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(docs)}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and inter / union >= t:
                    want[(a, b)] = round(inter / union, 4)
    assert got == want


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=1, max_size=40
    ),
    nbins=st.sampled_from([1, 4, 8]),
)
def test_histogram_partitions_all_rows_into_covering_bins(spark, vals, nbins):
    from valentinus_spark.operators.profile import equi_width_histogram

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    h = equi_width_histogram(df, "v", n_bins=nbins).collect()
    assert sum(r["n_rows"] for r in h) == len(vals)
    assert all(0 <= r["bin"] < nbins for r in h)
    lo, hi = min(vals), max(vals)
    assert h[0]["lo"] == pytest.approx(round(lo, 6))
    assert h[-1]["hi"] == pytest.approx(round(hi, 6))


# ---------------------------------------------------------------------------
# URL normalization: idempotence + canonical-class collapse on random URLs
# ---------------------------------------------------------------------------

_host_label = st.from_regex(r"[a-z][a-z0-9]{0,6}", fullmatch=True)
_path_seg = st.from_regex(r"[A-Za-z0-9._~-]{1,6}", fullmatch=True)


@st.composite
def _url(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HTTPS", "hTtPs"]))
    host = ".".join(draw(st.lists(_host_label, min_size=1, max_size=3)))
    if draw(st.booleans()):
        host = host.upper()
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = "".join("/" + draw(_path_seg) for _ in range(draw(st.integers(0, 3))))
    trail = draw(st.sampled_from(["", "/"])) if path else ""
    q = draw(
        st.sampled_from(
            ["", "?keep=1", "?utm_source=x", "?utm_source=x&keep=1", "?a=1&utm_id=2&b=3"]
        )
    )
    frag = draw(st.sampled_from(["", "#f", "#sec-2"]))
    return f"{scheme}://{host}{port}{path}{trail}{q}{frag}"


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_url(), min_size=1, max_size=24))
def test_normalize_url_idempotent_on_random_urls(spark, urls):
    from valentinus_spark.functions.web import normalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = [r["n"] for r in df.select(normalize_url("u").alias("n")).collect()]
    df2 = spark.createDataFrame([(n,) for n in once], "u string")
    twice = [r["n"] for r in df2.select(normalize_url("u").alias("n")).collect()]
    assert once == twice
    # normalized form never keeps a fragment, tracking param, or
    # explicit default port
    for n in once:
        assert "#" not in n and "utm_" not in n
        assert ":80/" not in n + "/" or n.startswith("https")
        assert ":443/" not in n + "/" or n.startswith("http://")


# ---------------------------------------------------------------------------
# exact_quantiles vs sorted-list oracle on random multisets
# ---------------------------------------------------------------------------

@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=300
    ),
    st.lists(
        st.sampled_from([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_exact_quantiles_matches_sorted_oracle(spark, values, qs):
    from valentinus_spark.operators.profile import exact_quantiles

    df = spark.createDataFrame([(float(v),) for v in values], "v double")
    got = {
        r["q"]: r["value"]
        for r in exact_quantiles(df, "v", qs, n_ranges=7).collect()
    }
    s = sorted(float(v) for v in values)
    want = {q: s[max(1, math.ceil(q * len(s))) - 1] for q in qs}
    assert got == want


# ---- r5 operators: fuzzed invariants ----

_pair_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(old=_pair_strategy, delta=_pair_strategy)
def test_incremental_components_fuzz_equals_full(spark, old, delta):
    """For ANY split of a random pair set into (history, delta), merging
    the delta into CC(history) must equal CC(history ∪ delta)."""
    from valentinus_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    old_df = spark.createDataFrame(old, "id_a long, id_b long")
    delta_df = spark.createDataFrame(delta, "id_a long, id_b long")
    labeling = connected_components(old_df, "id_a", "id_b")
    inc = {
        (r["id"], r["cluster_id"])
        for r in incremental_components(labeling, delta_df).collect()
    }
    full = {
        (r["id"], r["cluster_id"])
        for r in connected_components(
            old_df.unionByName(delta_df), "id_a", "id_b"
        ).collect()
    }
    assert inc == full


_para_doc_strategy = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee "]), min_size=1, max_size=5),
    min_size=1,
    max_size=8,
)


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=_para_doc_strategy)
def test_dedup_paragraphs_fuzz_invariants(spark, docs):
    """Random paragraph lists: after dedup (a) every doc keeps a subset
    of its paragraphs in order, (b) each distinct trimmed paragraph
    survives exactly once corpus-wide, (c) the survivor is the min
    (doc, pos) occurrence."""
    from valentinus_spark.operators.dedup import dedup_paragraphs

    rows = [(i, "\n\n".join(paras)) for i, paras in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}

    # python oracle
    first_seen = {}
    for i, paras in enumerate(docs):
        for pos, p in enumerate(paras):
            key = p.strip()
            if key not in first_seen:
                first_seen[key] = (i, pos)
    for i, paras in enumerate(docs):
        expect = [
            p for pos, p in enumerate(paras) if first_seen[p.strip()] == (i, pos)
        ]
        r = got[i]
        assert r["n_paras"] == len(paras)
        assert r["n_kept"] == len(expect)
        assert r["clean_text"] == "\n\n".join(expect)


# ---------------------------------------------------------------------------
# winnowing: python-oracle equality + the detection guarantee, fuzzed
# ---------------------------------------------------------------------------


def _py_winnow_fps(text, k, w):
    import hashlib
    import re

    s = re.sub(r"\s+", " ", text.lower()).strip()
    if len(s) < k:
        return set()
    grams = [
        int(hashlib.sha256(s[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(s) - k + 1)
    ]
    wl = min(w, len(grams))
    out = set()
    for j in range(len(grams) - wl + 1):
        sl = grams[j : j + wl]
        mn = min(sl)
        out.add((j + (wl - 1 - sl[::-1].index(mn)) + 1, mn))
    return out


winnow_text = st.text(
    alphabet=st.sampled_from("abcdef \t\n"), min_size=0, max_size=60
)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(winnow_text, min_size=1, max_size=6),
    k=st.integers(min_value=2, max_value=6),
    w=st.integers(min_value=1, max_value=5),
)
def test_winnow_fingerprints_fuzz_matches_python(spark, texts, k, w):
    from valentinus_spark.operators.text_search import winnow_fingerprints

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(
            df, k=k, window=w, hash_fn="sha256"
        ).collect()
    }
    want = {
        (i, p, f) for i, t in rows for p, f in _py_winnow_fps(t, k, w)
    }
    assert got == want


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    prefix_a=winnow_text,
    prefix_b=winnow_text,
    shared=st.text(alphabet=st.sampled_from("ghijkl"), min_size=12, max_size=24),
)
def test_winnow_guarantee_fuzz(spark, prefix_a, prefix_b, shared):
    """Any substring of length >= window + k - 1 shared verbatim by two
    docs must yield >= 1 shared fingerprint VALUE (Schleimer et al. §2,
    the winnowing guarantee) — fuzzed over arbitrary flanking text.
    k=4, window=4: shared block of >= 7 normalized chars suffices; the
    generated block is >= 12 distinct-alphabet chars, margin included,
    and normalization cannot shrink it (no whitespace in the block)."""
    from valentinus_spark.operators.text_search import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, prefix_a + " " + shared), (2, prefix_b + " " + shared)],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=4, window=4, hash_fn="sha256").collect()
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a & b, "winnowing guarantee violated: shared block left no common fingerprint"


# ---------------------------------------------------------------------------
# skyline window plan vs brute-force dominance (randomized)
# ---------------------------------------------------------------------------


@settings(
    max_examples=hypo_examples(25),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # price grid (ties!)
            st.integers(min_value=0, max_value=8),   # size grid
        ),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_2d_equals_brute_force_dominance(spark, pts):
    """The sort-based window skyline must equal quadratic NOT-EXISTS
    dominance on arbitrary tie-heavy inputs (the driver oracle proves
    this per-fixture; hypothesis proves it across the input space)."""
    from valentinus_spark.operators import skyline_2d

    df = spark.createDataFrame(
        [(float(p), s) for p, s in pts], ["price", "size"]
    )
    got = {(r.price, r.size) for r in skyline_2d(df, "price", "size").collect()}
    uniq = {(float(p), s) for p, s in pts}
    want = {
        (p, s)
        for (p, s) in uniq
        if not any(
            (q[0] <= p and q[1] >= s and (q[0] < p or q[1] > s))
            for q in uniq
        )
    }
    assert got == want


@settings(
    max_examples=hypo_examples(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_quantile_normalize_preserves_global_multiset_rank_bounds(spark, vals):
    """Normalized values always come from the corpus value set, and a
    group identical to the corpus maps every value to itself."""
    from valentinus_spark.operators import quantile_normalize

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in vals], ["g", "v"]
    )
    out = quantile_normalize(df, "g", "v").collect()
    corpus = sorted(float(v) for _, v in vals)
    lo, hi = corpus[0], corpus[-1]
    for r in out:
        assert lo <= r.mean_normalized <= hi + 1e-9


# ---------------------------------------------------------------------------
# iterative graph operators vs pure-python references (randomized)
# ---------------------------------------------------------------------------


def _py_ktruss(edges, k):
    """Reference k-truss: iterate support-count + prune to fixpoint."""
    cur = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        adj = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        support = {
            e: len(adj[e[0]] & adj[e[1]]) for e in cur
        }
        nxt = {e for e in cur if support[e] >= k - 2}
        if nxt == cur:
            return {e: support[e] for e in cur}
        cur = nxt


@settings(
    max_examples=hypo_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    und=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=3, max_value=5),
)
def test_k_truss_matches_python_fixpoint(spark, und, k):
    from valentinus_spark.operators import k_truss

    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.node_a, r.node_b): r.support for r in k_truss(df, k=k).collect()
    }
    want = _py_ktruss(und, k)
    assert got == want


def _py_bfs(edges, sources):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    d = 0
    while frontier:
        d += 1
        nxt = set()
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = d
                    nxt.add(m)
        frontier = nxt
    return dist


@settings(
    max_examples=hypo_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    und=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_bfs_distances_match_python_bfs(spark, und):
    from valentinus_spark.operators import bfs_distances

    src = und[0][0]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.dist for r in bfs_distances(df, [src], max_iters=20).collect()}
    assert got == _py_bfs(und, [src])


# ---------------------------------------------------------------------------
# nonparametric tests vs pure-python replicas (randomized)
# ---------------------------------------------------------------------------


@settings(
    max_examples=hypo_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=9), min_size=2, max_size=40
    )
)
def test_runs_test_counts_match_python(spark, xs):
    from valentinus_spark.operators import runs_test

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(xs)], ["t", "v"]
    )
    r = runs_test(df, "t", "v").collect()[0]
    sv = sorted(xs)
    n = len(sv)
    med = (sv[(n + 1) // 2 - 1] + sv[n // 2]) / 2.0
    signs = [1 if v > med else 0 for v in xs if v != med]
    runs = sum(
        1 for i, s in enumerate(signs) if i == 0 or signs[i - 1] != s
    )
    assert r.n_above == sum(signs)
    assert r.n_below == len(signs) - sum(signs)
    assert r.runs == runs


@settings(
    max_examples=hypo_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=4,
        max_size=50,
    )
)
def test_moods_median_margins_match_python(spark, rows):
    from valentinus_spark.operators import moods_median_test

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], ["g", "v"]
    )
    r = moods_median_test(df, "g", "v").collect()[0]
    sv = sorted(v for _, v in rows)
    n = len(sv)
    med = (sv[(n + 1) // 2 - 1] + sv[n // 2]) / 2.0
    kept = [(g, v) for g, v in rows if v != med]
    assert r.n == len(kept)
    # k counts groups that still have at least one off-median value
    # (all-on-median groups vanish from the 2xk table entirely)
    if kept:
        assert r.k == len({g for g, _ in kept})
    # chi2 replay when well-defined
    groups = sorted({g for g, _ in kept})
    if kept and r.chi2 is not None:
        ta = sum(1 for _, v in kept if v > med)
        tb = sum(1 for _, v in kept if v < med)
        nn = ta + tb
        chi2 = 0.0
        for g in groups:
            a = sum(1 for gg, v in kept if gg == g and v > med)
            b = sum(1 for gg, v in kept if gg == g and v < med)
            ea = (a + b) * ta / nn
            eb = (a + b) * tb / nn
            chi2 += round((a - ea) ** 2 / ea + (b - eb) ** 2 / eb, 12)
        assert r.chi2 == pytest.approx(round(chi2, 6), abs=1e-6)


@settings(
    max_examples=hypo_examples(15),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=200),  # id (may repeat; dedup below)
            st.integers(min_value=0, max_value=5),    # score grid (ties!)
            st.booleans(),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_average_precision_matches_python_with_ties(spark, rows):
    from valentinus_spark.operators import average_precision

    uniq = {}
    for i, s, y in rows:
        uniq[i] = (float(s), 1 if y else 0)
    data = [(i, s, y) for i, (s, y) in uniq.items()]
    df = spark.createDataFrame(data, ["id", "score", "label"])
    r = average_precision(df, "score", "label", "id").collect()[0]
    ranked = sorted(data, key=lambda t: (-t[1], t[0]))
    cum = 0
    terms = []
    for k, (_, _, y) in enumerate(ranked, start=1):
        cum += y
        if y:
            terms.append(round(cum / k, 12))
    n_pos = sum(y for _, _, y in data)
    if n_pos == 0:
        assert r.average_precision is None
    else:
        assert r.average_precision == pytest.approx(
            round(sum(terms) / n_pos, 6), abs=1e-6
        )


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # block
            st.integers(min_value=0, max_value=20),  # value grid
        ),
        min_size=3,
        max_size=36,
    )
)
def test_friedman_matches_python_tie_corrected(spark, vals):
    """Blocks get one value per treatment t1..t3 (from consecutive
    triples); python replay of the tie-corrected general form."""
    from valentinus_spark.operators import friedman_test

    rows = []
    by_block = {}
    for i in range(0, len(vals) - 2, 3):
        b = i // 3
        trip = [float(vals[i][1]), float(vals[i + 1][1]), float(vals[i + 2][1])]
        by_block[b] = trip
        for j, v in enumerate(trip):
            rows.append((b, f"t{j}", v))
    if not rows:
        return
    df = spark.createDataFrame(rows, ["b", "t", "v"])
    r = friedman_test(df, "b", "t", "v").collect()[0]
    # python: average ranks within each block
    import collections

    rj = collections.defaultdict(float)
    sum_r2 = 0.0
    for trip in by_block.values():
        order = sorted(trip)
        for j, v in enumerate(trip):
            lo = order.index(v) + 1
            hi = len(order) - order[::-1].index(v)
            rank = (lo + hi) / 2.0
            rj[j] += rank
            sum_r2 += rank * rank
    n, k = len(by_block), 3
    num = (k - 1) * (sum(x * x for x in rj.values()) - n * n * k * (k + 1) ** 2 / 4.0)
    den = sum_r2 - n * k * (k + 1) ** 2 / 4.0
    assert r.n_blocks == n and r.k == k
    if den > 0:
        assert r.chi2 == pytest.approx(round(num / den, 6), abs=1e-6)
    else:
        assert r.chi2 is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.lists(
                st.sampled_from(["x", "y", "z", "w", "q"]),
                min_size=1,
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_source_tv_distance_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators import source_tv_distance

    rows = [(g, " ".join(ws)) for g, ws in docs]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r.source: r for r in source_tv_distance(df).collect()}
    corpus = Counter(w for _, ws in docs for w in ws)
    ct = sum(corpus.values())
    for g in {g for g, _ in docs}:
        cg = Counter(w for gg, ws in docs if gg == g for w in ws)
        gt = sum(cg.values())
        tv = 0.5 * sum(
            abs(cg.get(w, 0) / gt - c / ct) for w, c in corpus.items()
        )
        assert out[g].n_tokens == gt
        assert out[g].tv_distance == pytest.approx(round(tv, 6), abs=1e-6)


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=0, max_value=6),  # value grid (ties!)
        ),
        min_size=2,
        max_size=40,
    )
)
def test_kruskal_wallis_matches_python_tie_corrected(spark, rows):
    """Pooled average ranks + tie correction replayed in python; the
    Spark side 9-dp-pins each R_g^2/n_g term before the DECIMAL sum,
    so the replica pins identically."""
    from collections import Counter

    from valentinus_spark.operators import kruskal_wallis

    df = spark.createDataFrame(
        [(f"g{g}", float(v)) for g, v in rows], ["g", "v"]
    )
    r = kruskal_wallis(df, "g", "v").collect()[0]
    cnt = Counter(v for _, v in rows)
    below, rank = 0, {}
    for v in sorted(cnt):
        rank[v] = below + (cnt[v] + 1) / 2.0
        below += cnt[v]
    groups = sorted({g for g, _ in rows})
    n = len(rows)
    s = sum(
        round(
            sum(rank[v] for gg, v in rows if gg == g) ** 2
            / sum(1 for gg, _ in rows if gg == g),
            9,
        )
        for g in groups
    )
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    ties = sum(t**3 - t for t in cnt.values())
    div = 1.0 - ties / (n**3 - n) if n > 1 else 0.0
    assert r.n == n and r.k == len(groups) and r.dof == len(groups) - 1
    assert r.h == pytest.approx(round(h, 6), abs=1e-6)
    if div > 0:
        assert r.h_tied == pytest.approx(round(h / div, 6), abs=1e-6)
    else:  # all values equal -> tie divisor 0 -> NULL, not a crash
        assert r.h_tied is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # ordered group 0<1<2
            st.integers(min_value=0, max_value=6),  # value grid (ties!)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_jonckheere_terpstra_matches_python_pair_count(spark, rows):
    """J replayed as the literal ordered-pair count (< counts 1, ties
    count 1/2); mean/variance from the stated no-tie moments. One
    non-empty group must yield Var=0 -> z NULL."""
    import itertools
    import math

    from valentinus_spark.operators import jonckheere_terpstra

    df = spark.createDataFrame(
        [(f"g{g}", float(v)) for g, v in rows], ["g", "v"]
    )
    r = jonckheere_terpstra(df, "g", "v").collect()[0]
    by_g = {}
    for g, v in rows:
        by_g.setdefault(f"g{g}", []).append(v)
    names = sorted(by_g)
    j = 0.0
    for ga, gb in itertools.combinations(names, 2):
        for xa in by_g[ga]:
            for xb in by_g[gb]:
                j += 1.0 if xa < xb else (0.5 if xa == xb else 0.0)
    n = len(rows)
    sn2 = sum(len(v) ** 2 for v in by_g.values())
    sn23 = sum(len(v) ** 2 * (2 * len(v) + 3) for v in by_g.values())
    mean_j = (n * n - sn2) / 4.0
    var_j = (n * n * (2 * n + 3) - sn23) / 72.0
    assert r.n == n and r.k == len(names)
    assert r.j_stat == pytest.approx(j, abs=1e-9)
    assert r.mean_j == pytest.approx(round(mean_j, 6), abs=1e-6)
    if var_j > 0:
        assert r.z == pytest.approx(
            round((j - mean_j) / math.sqrt(var_j), 6), abs=1e-6
        )
    else:
        assert r.z is None and r.p_value is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=20),
        min_size=3,
        max_size=36,
    ),
    partial=st.booleans(),
)
def test_page_trend_matches_python_and_drops_incomplete(spark, vals, partial):
    """L = sum j*R_j from within-block average ranks replayed in
    python; an extra INCOMPLETE block (2 of 3 treatments) must be
    listwise-dropped and not move the statistic."""
    import math

    from valentinus_spark.operators import page_trend_test

    blocks = {}
    rows = []
    for i in range(0, len(vals) - 2, 3):
        b = i // 3
        trip = [float(vals[i]), float(vals[i + 1]), float(vals[i + 2])]
        blocks[b] = trip
        for j, v in enumerate(trip):
            rows.append((b, j + 1, v))
    if partial:  # incomplete block: treatments 1,2 only
        rows.append((9999, 1, 3.0))
        rows.append((9999, 2, 1.0))
    df = spark.createDataFrame(rows, ["b", "j", "v"])
    r = page_trend_test(df, "b", "j", "v").collect()[0]
    rj = {1: 0.0, 2: 0.0, 3: 0.0}
    for trip in blocks.values():
        order = sorted(trip)
        for j, v in enumerate(trip):
            lo = order.index(v) + 1
            hi = len(order) - order[::-1].index(v)
            rj[j + 1] += (lo + hi) / 2.0
    n, k = len(blocks), 3
    l_stat = sum(j * rjv for j, rjv in rj.items())
    mean_l = n * k * (k + 1) ** 2 / 4.0
    var_l = n * k * k * (k + 1) * (k * k - 1) / 144.0
    assert r.n_blocks == n and r.k == k
    assert r.l_stat == pytest.approx(l_stat, abs=1e-9)
    if n > 0 and var_l > 0:
        assert r.z == pytest.approx(
            round((l_stat - mean_l) / math.sqrt(var_l), 6), abs=1e-6
        )


@settings(
    max_examples=hypo_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # day offset
            st.integers(min_value=0, max_value=23),  # hour (intra-day)
            st.integers(min_value=-5, max_value=5),  # value grid (ties!)
        ),
        min_size=2,
        max_size=30,
    )
)
def test_mann_kendall_matches_python(spark, pts):
    """S / var_s / z / tau replayed in python over the same 9-dp daily
    means (integer values -> the decimal-exact daily sum and the float
    division agree bit-for-bit)."""
    import datetime
    from collections import defaultdict

    from valentinus_spark.operators import mann_kendall_trend

    rows = [
        (datetime.datetime(2024, 1, 1 + d, h), float(v)) for d, h, v in pts
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    r = mann_kendall_trend(df, "ts", "value").collect()[0]
    per_day = defaultdict(list)
    for d, _, v in pts:
        per_day[d].append(v)
    means = [
        round(sum(vs) / len(vs), 9) for _, vs in sorted(per_day.items())
    ]
    n = len(means)
    s = sum(
        (means[j] > means[i]) - (means[j] < means[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(means).values()
    )
    var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    assert r.n_days == n
    assert r.s_stat == s
    assert r.var_s == pytest.approx(round(var_s, 6), abs=1e-6)
    if n >= 2:
        assert r.tau == pytest.approx(
            round(s / (n * (n - 1) / 2.0), 6), abs=1e-6
        )
    else:
        assert r.tau is None
    if n >= 2 and var_s > 0:
        import math

        z = (
            0.0
            if s == 0
            else (s - 1) / math.sqrt(var_s)
            if s > 0
            else (s + 1) / math.sqrt(var_s)
        )
        assert r.z == pytest.approx(round(z, 6), abs=1e-6)
    else:
        assert r.z is None


@settings(
    max_examples=hypo_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=-10, max_value=10),
        ),
        min_size=2,
        max_size=20,
        unique_by=lambda t: t[0],  # one event per day: mean = value
    )
)
def test_theil_sen_matches_python(spark, pts):
    """Median pairwise slope + median residual intercept replayed in
    python with the operator's exact rank conventions (rounded-slope
    order, (slope, ta, tb) tie-break, two-middles average)."""
    import datetime

    from valentinus_spark.operators import theil_sen_trend

    if len({d for d, _ in pts}) < 2:
        return
    rows = [(datetime.datetime(2024, 1, 1 + d, 12), float(v)) for d, v in pts]
    df = spark.createDataFrame(rows, ["ts", "value"])
    r = theil_sen_trend(df, "ts", "value").collect()[0]
    lo = min(d for d, _ in pts)
    series = sorted((d - lo, float(v)) for d, v in pts)
    slopes = sorted(
        (round((vb - va) / (tb - ta), 9), ta, tb)
        for i, (ta, va) in enumerate(series)
        for tb, vb in series[i + 1 :]
    )
    c = len(slopes)
    mids = [slopes[(c + 1) // 2 - 1][0], slopes[c // 2][0]]
    slope = round(sum(mids) / 2.0, 9)
    resid = sorted(
        (round(v - slope * t, 9), t) for t, v in series
    )
    nd = len(series)
    rmids = [resid[(nd + 1) // 2 - 1][0], resid[nd // 2][0]]
    assert r.n_days == nd and r.n_pairs == c
    assert r.slope == pytest.approx(round(slope, 6), abs=1e-6)
    assert r.intercept == pytest.approx(
        round(sum(rmids) / 2.0, 6), abs=1e-6
    )


@settings(
    max_examples=hypo_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-3, max_value=20),  # negatives dropped
        ),
        min_size=1,
        max_size=30,
    )
)
def test_gini_matches_python(spark, rows):
    """G from the sorted-rank formula replayed in python; negative
    values are dropped by the operator's filter, zero-total groups
    yield NULL."""
    from valentinus_spark.operators import gini_coefficient

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], ["g", "v"]
    )
    out = {r.g: r for r in gini_coefficient(df, "g", "v").collect()}
    for g in {g for g, _ in rows}:
        xs = sorted(v for gg, v in rows if gg == g and v >= 0)
        if not xs:
            assert g not in out
            continue
        n, tot = len(xs), sum(xs)
        assert out[g].n == n and out[g].total == tot
        if tot > 0:
            gini = (
                2.0 * sum((i + 1) * x for i, x in enumerate(xs))
                - (n + 1) * tot
            ) / (n * tot)
            assert out[g].gini == pytest.approx(round(gini, 6), abs=1e-6)
        else:
            assert out[g].gini is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # before
            st.integers(min_value=0, max_value=8),  # after (zeros + ties)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_wilcoxon_signed_rank_matches_python(spark, pairs):
    """W+/W-/z replayed in python: zero differences drop, |d| average
    ranks on the exact half grid, tie-corrected variance."""
    import math
    from collections import Counter

    from valentinus_spark.operators import wilcoxon_signed_rank

    df = spark.createDataFrame(
        [(float(b), float(a)) for b, a in pairs], ["before", "after"]
    )
    r = wilcoxon_signed_rank(df, "before", "after").collect()[0]
    ds = [a - b for b, a in pairs if a != b]
    cnt = Counter(abs(d) for d in ds)
    below, rank = 0, {}
    for v in sorted(cnt):
        rank[v] = below + (cnt[v] + 1) / 2.0
        below += cnt[v]
    w_plus = sum(rank[abs(d)] for d in ds if d > 0)
    n = len(ds)
    ties = sum(t**3 - t for t in cnt.values())
    var_w = n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0
    assert r.n_pairs == len(pairs) and r.n_nonzero == n
    assert r.w_plus == pytest.approx(w_plus, abs=1e-9)
    assert r.w_minus == pytest.approx(n * (n + 1) / 2.0 - w_plus, abs=1e-9)
    if var_w > 0:
        assert r.z == pytest.approx(
            round((w_plus - n * (n + 1) / 4.0) / math.sqrt(var_w), 6),
            abs=1e-6,
        )
    else:
        assert r.z is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group
            st.integers(min_value=0, max_value=8),  # integer values ->
        ),                                          # half-grid medians
        min_size=2,
        max_size=30,
    )
)
def test_levene_brown_forsythe_matches_python(spark, rows):
    """Median-centered ANOVA F replayed in python with the operator's
    exact conventions: floor-rank two-middle medians, 9-dp-pinned
    per-group R^2/n terms, F NULL when k<2 or zero within spread."""
    from fractions import Fraction

    from valentinus_spark.operators import levene_test

    df = spark.createDataFrame(
        [(f"g{g}", float(v)) for g, v in rows], ["g", "v"]
    )
    r = levene_test(df, "g", "v").collect()[0]
    groups = sorted({g for g, _ in rows})
    n, k = len(rows), len(groups)
    s1s, s2s, sb_terms, ngs = [], [], [], []
    for g in groups:
        xs = sorted(v for gg, v in rows if gg == g)
        ng = len(xs)
        med = Fraction(xs[(ng + 1) // 2 - 1] + xs[ng // 2], 2)
        zs = [abs(Fraction(v) - med) for v in xs]
        s1, s2 = sum(zs), sum(z * z for z in zs)
        s1s.append(s1)
        s2s.append(s2)
        ngs.append(ng)
        sb_terms.append(round(float(s1) ** 2 / ng, 9))
    S = float(sum(s1s))
    sb = sum(sb_terms)
    ss_between = sb - S * S / n
    ss_within = float(sum(s2s)) - sb
    assert r.n == n and r.k == k
    assert r.dof_between == k - 1 and r.dof_within == n - k
    if k >= 2 and ss_within > 0:
        f = (ss_between / (k - 1)) / (ss_within / (n - k))
        assert r.f_stat == pytest.approx(round(f, 6), abs=1e-5)
    else:
        assert r.f_stat is None


@settings(
    max_examples=hypo_examples(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # subject
            st.integers(min_value=0, max_value=2),  # treatment
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cochran_q_matches_python(spark, rows):
    """Q from the incidence matrix replayed in python (duplicates
    collapse via distinct; all-concordant subjects -> denom 0 -> NULL)."""
    from valentinus_spark.operators import cochran_q

    df = spark.createDataFrame(
        [(f"s{s}", f"t{t}") for s, t in rows], ["s", "t"]
    )
    r = cochran_q(df, "s", "t").collect()[0]
    inc = {(s, t) for s, t in rows}
    treatments = sorted({t for _, t in inc})
    subjects = sorted({s for s, _ in inc})
    k = len(treatments)
    cj = {t: sum(1 for s2, t2 in inc if t2 == t) for t in treatments}
    ri = {s: sum(1 for s2, t2 in inc if s2 == s) for s in subjects}
    n_tot = sum(ri.values())
    denom = k * n_tot - sum(v * v for v in ri.values())
    assert r.n_subjects == len(subjects) and r.k == k and r.dof == k - 1
    if denom > 0:
        num = sum(round((cj[t] - n_tot / k) ** 2, 9) for t in treatments)
        assert r.q == pytest.approx(
            round(k * (k - 1) * num / denom, 6), abs=1e-6
        )
    else:
        assert r.q is None


@settings(
    max_examples=hypo_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    day_hits=st.lists(
        st.integers(min_value=0, max_value=7),  # event day offsets
        min_size=1,
        max_size=40,
    )
)
def test_permutation_entropy_matches_python(spark, day_hits):
    """Order-3 ordinal patterns over the ZERO-FILLED day spine replayed
    in python: positional tie-break ranks, 12-dp-pinned -p*ln(p) terms,
    /ln(6) normalization; NULL below 3 spine days."""
    import datetime
    import math
    from collections import Counter
    from decimal import Decimal

    from valentinus_spark.operators import permutation_entropy

    rows = [(datetime.datetime(2024, 3, 1 + d, 6),) for d in day_hits]
    df = spark.createDataFrame(rows, ["ts"])
    r = permutation_entropy(df, "ts").collect()[0]
    lo, hi = min(day_hits), max(day_hits)
    cnt = Counter(day_hits)
    series = [cnt.get(d, 0) for d in range(lo, hi + 1)]
    n_days = len(series)
    wins = [
        (series[i], series[i + 1], series[i + 2])
        for i in range(n_days - 2)
    ]
    assert r.n_days == n_days and r.n_windows == len(wins)
    if not wins:
        assert r.perm_entropy is None
        return
    pats = Counter(
        ((y < x) + (z < x)) * 9 + ((x <= y) + (z < y)) * 3 + ((x <= z) + (y <= z))
        for x, y, z in wins
    )
    assert r.n_patterns == len(pats)
    n = len(wins)
    h = float(
        sum(
            Decimal(str(round(-(c / n) * math.log(c / n), 12)))
            for c in pats.values()
        )
    ) / math.log(6)
    assert r.perm_entropy == pytest.approx(round(h, 6), abs=1e-6)


@settings(
    max_examples=hypo_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # day offset
            st.integers(min_value=-8, max_value=8),  # value
        ),
        min_size=1,
        max_size=30,
    ),
    delta=st.sampled_from([0.0, 0.005, 0.5]),
    lam=st.sampled_from([0.5, 3.0]),
)
def test_page_hinkley_matches_python(spark, pts, delta, lam):
    """The running-mean PH fold replayed in python over the same 9-dp
    daily means — identical IEEE op order, so equality is exact up to
    the final 6-dp rounding."""
    import datetime
    from collections import defaultdict

    from valentinus_spark.operators import page_hinkley

    rows = [
        (datetime.datetime(2024, 5, 1 + d, 9), float(v)) for d, v in pts
    ]
    df = spark.createDataFrame(rows, ["ts", "value"])
    got = {
        str(r.day): r
        for r in page_hinkley(df, "ts", "value", delta=delta, lam=lam).collect()
    }
    per_day = defaultdict(list)
    for d, v in pts:
        per_day[d].append(v)
    days = sorted(per_day)
    s = m_inc = m_dec = min_inc = max_dec = 0.0
    for t, d in enumerate(days, start=1):
        x = round(sum(per_day[d]) / len(per_day[d]), 9)
        s += x
        mean = s / t
        m_inc += x - mean - delta
        m_dec += x - mean + delta
        min_inc = min(min_inc, m_inc)
        max_dec = max(max_dec, m_dec)
        ph_inc, ph_dec = m_inc - min_inc, max_dec - m_dec
        key = f"2024-05-{1 + d:02d}"
        row = got[key]
        assert row.x == pytest.approx(x, abs=1e-12)
        assert row.ph_inc == pytest.approx(round(ph_inc, 6), abs=1e-9)
        assert row.ph_dec == pytest.approx(round(ph_dec, 6), abs=1e-9)
        assert row.alarm == (
            round(ph_inc, 6) > lam or round(ph_dec, 6) > lam
        )
    assert len(got) == len(days)


# ---------------------------------------------------------------------------
# portable sketches vs exact python replicas of the same hash families
# ---------------------------------------------------------------------------

import hashlib

from valentinus_spark.operators.sketches import (
    bloom_build,
    bloom_might_contain,
    count_min_estimate,
    count_min_sketch,
    hll_estimate,
    hll_registers,
    kmv_distinct,
)


def _sha60_py(v) -> int:
    """Python replica of functions/text.py sha_hash60 (first 15 hex chars
    of sha256 of the string form)."""
    return int(hashlib.sha256(str(v).encode()).hexdigest()[:15], 16)


def _cm_slice_py(v, j: int) -> int:
    """Python replica of sketches._sha_slice: 15-hex slice (j%4) of
    sha256((j//4) || ':' || value)."""
    digest = hashlib.sha256(f"{j // 4}:{v}".encode()).hexdigest()
    off = 15 * (j % 4)
    return int(digest[off : off + 15], 16)


sketch_vals = st.lists(st.integers(min_value=0, max_value=999_983), min_size=1, max_size=40)


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=sketch_vals, k=st.sampled_from([4, 8, 16]))
def test_kmv_distinct_matches_python_replica(spark, vals, k):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    row = kmv_distinct(df, "v", k=k).collect()[0]
    hashes = sorted({_sha60_py(v) for v in vals})
    n = min(k, len(hashes))
    assert row.n_seen == n
    if len(hashes) < k:
        exp = float(n)  # degenerates to the exact count
    else:
        exp = (k - 1) / ((hashes[k - 1] + 1) / float(1 << 60))
    assert row.est_distinct == pytest.approx(exp, abs=2e-4, rel=1e-9)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=sketch_vals,
    probes_extra=st.lists(st.integers(min_value=1_000_000, max_value=2_000_000), max_size=5),
    depth=st.sampled_from([2, 4]),
    width=st.sampled_from([16, 64]),
)
def test_count_min_matches_python_replica(spark, vals, probes_extra, depth, width):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sketch = count_min_sketch(df, "v", depth=depth, width=width)
    # cell-for-cell replica of the sketch itself
    got_cells = {(r.row, r.bucket): r.cnt for r in sketch.collect()}
    exp_cells: dict = {}
    for v in vals:
        for j in range(depth):
            cell = (j, _cm_slice_py(v, j) % width)
            exp_cells[cell] = exp_cells.get(cell, 0) + 1
    assert got_cells == exp_cells
    # point estimates: == python-replica min, and >= the true count
    probe_vals = sorted(set(vals) | set(probes_extra))
    probes = spark.createDataFrame([(v,) for v in probe_vals], "v long")
    got_est = {
        r.v: r.est_count
        for r in count_min_estimate(sketch, probes, "v", depth=depth, width=width).collect()
    }
    true = {v: vals.count(v) for v in probe_vals}
    for v in probe_vals:
        exp = min(
            exp_cells.get((j, _cm_slice_py(v, j) % width), 0) for j in range(depth)
        )
        assert got_est[v] == exp
        assert got_est[v] >= true[v]  # CM never underestimates


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=sketch_vals,
    absent=st.lists(st.integers(min_value=1_000_000, max_value=2_000_000), max_size=6),
    k=st.sampled_from([2, 4]),
    m=st.sampled_from([64, 256]),
)
def test_bloom_filter_matches_python_replica(spark, vals, absent, k, m):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    bloom = bloom_build(df, "v", k=k, m=m)
    got_bits = {r.bit for r in bloom.collect()}
    exp_bits = {_cm_slice_py(v, j) % m for v in vals for j in range(k)}
    assert got_bits == exp_bits
    probe_vals = sorted(set(vals) | set(absent))
    probes = spark.createDataFrame([(v,) for v in probe_vals], "v long")
    got = {
        r.v: r.might_contain
        for r in bloom_might_contain(probes, bloom, "v", k=k, m=m).collect()
    }
    members = set(vals)
    for v in probe_vals:
        exp = all(_cm_slice_py(v, j) % m in exp_bits for j in range(k))
        assert got[v] == exp
        if v in members:
            assert got[v] is True  # a Bloom filter has NO false negatives


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=sketch_vals, p=st.sampled_from([4, 6]))
def test_hll_registers_and_estimate_match_python_replica(spark, vals, p):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    regs = hll_registers(df, "v", p=p)
    got_regs = {r.idx: r.rho for r in regs.collect()}
    w = 60 - p
    exp_regs: dict = {}
    for v in vals:
        h = _sha60_py(v)
        idx, rest = h >> w, h & ((1 << w) - 1)
        rho = (w + 1) if rest == 0 else (w + 1) - rest.bit_length()
        exp_regs[idx] = max(exp_regs.get(idx, 0), rho)
    assert got_regs == exp_regs
    row = hll_estimate(regs, p).collect()[0]
    m = 1 << p
    scale = 1 << (w + 1)
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    s = sum(1 << (w + 1 - rho) for rho in exp_regs.values()) + (m - len(exp_regs)) * scale
    raw = (alpha * m * m * scale) / s
    v_empty = m - len(exp_regs)
    exp = m * math.log(m / v_empty) if (raw <= 2.5 * m and v_empty > 0) else raw
    assert row.m_seen == len(exp_regs)
    assert row.est_distinct == pytest.approx(exp, abs=2e-4, rel=1e-9)


# ---------------------------------------------------------------------------
# heavy hitters: exact phi-heavy set, invariant to partitioning
# ---------------------------------------------------------------------------

from valentinus_spark.operators.sketches import heavy_hitters


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=60),
    phi=st.sampled_from([0.1, 0.2, 0.35]),
    parts=st.sampled_from([1, 3, 7]),
)
def test_heavy_hitters_exact_and_partition_invariant(spark, vals, phi, parts):
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(parts)
    got = {r.value: (r.n, r.freq) for r in heavy_hitters(df, "v", phi=phi).collect()}
    n = len(vals)
    exp = {
        v: (c, round(c / n, 6))
        for v in set(vals)
        if (c := vals.count(v)) > phi * n
    }
    assert got == exp  # two-pass MG: candidates vary, the OUTPUT never does


# ---------------------------------------------------------------------------
# markov transitions vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.funnel import kaplan_meier, markov_transitions


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # user
            st.integers(min_value=0, max_value=5),   # ts (ties likely)
            st.sampled_from(["a", "b", "c"]),        # state
        ),
        min_size=2,
        max_size=30,
    )
)
def test_markov_transitions_match_python(spark, events):
    rows = [(u, t, s, i) for i, (u, t, s) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_type string, event_id long"
    )
    got = {
        (r.prev_state, r.state): (r.n_transitions, r.p)
        for r in markov_transitions(df).collect()
    }
    per_user: dict = {}
    for u, t, s, i in rows:
        per_user.setdefault(u, []).append((t, i, s))
    counts: dict = {}
    for seq in per_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    src_tot: dict = {}
    for (a, _), c in counts.items():
        src_tot[a] = src_tot.get(a, 0) + c
    assert set(got) == set(counts)
    for key, c in counts.items():
        assert got[key][0] == c
        assert got[key][1] == pytest.approx(c / src_tot[key[0]], abs=1e-12)


# ---------------------------------------------------------------------------
# kaplan-meier survival vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    spans=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10),  # first-event day offset
            st.integers(min_value=0, max_value=10),  # extra days to last event
        ),
        min_size=1,
        max_size=12,
    ),
    horizon=st.sampled_from([0, 1, 3]),
)
def test_kaplan_meier_matches_python(spark, spans, horizon):
    rows = []
    for u, (a, extra) in enumerate(spans):
        rows.append((u, f"2024-03-{1 + a:02d}"))
        rows.append((u, f"2024-03-{1 + a + extra:02d}"))
    df = spark.createDataFrame(rows, "user_id long, ts string")
    got = {
        r.t_days: (r.n_risk, r.n_churned, r.survival)
        for r in kaplan_meier(df, churn_horizon_days=horizon).collect()
    }
    edge = max(a + extra for a, extra in spans)
    per_t: dict = {}
    for a, extra in spans:
        t, churned = extra, (edge - (a + extra)) > horizon
        ex, d = per_t.get(t, (0, 0))
        per_t[t] = (ex + 1, d + int(churned))
    n = len(spans)
    before, s, pinned = 0, 1.0, False
    exp: dict = {}
    for t in sorted(per_t):
        ex, d = per_t[t]
        n_risk = n - before
        before += ex
        if d == 0:
            continue
        if d >= n_risk:
            pinned = True
        else:
            s *= 1.0 - d / n_risk
        exp[t] = (n_risk, d, 0.0 if pinned else s)
    assert set(got) == set(exp)
    for t, (n_risk, d, surv) in exp.items():
        assert got[t][0] == n_risk and got[t][1] == d
        assert got[t][2] == pytest.approx(surv, abs=2e-6)


# ---------------------------------------------------------------------------
# funnel counts / cohort retention / debounce vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.funnel import (
    cohort_retention,
    debounce_events,
    funnel_counts,
)

funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),      # user
        st.sampled_from(["s1", "s2", "s3", "x"]),   # event type
        st.integers(min_value=0, max_value=20),     # ts
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(events=funnel_events)
def test_funnel_counts_match_python_min_time_chaining(spark, events):
    df = spark.createDataFrame(events, "user_id long, event_type string, ts_us long")
    steps = ["s1", "s2", "s3"]
    got = {r.step_no: r.n_users for r in funnel_counts(df, steps).collect()}
    per_user: dict = {}
    for u, e, t in events:
        per_user.setdefault(u, []).append((e, t))
    # zero-count steps are emitted (funnel_counts contract, 0e79346)
    exp: dict = {i: 0 for i in range(1, len(steps) + 1)}
    for u, evs in per_user.items():
        prev_t = None
        for i, s in enumerate(steps, start=1):
            cand = [
                t for e, t in evs if e == s and (prev_t is None or t > prev_t)
            ]
            if not cand:
                break
            prev_t = min(cand)
            exp[i] += 1
    assert got == exp


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(events=funnel_events)
def test_cohort_retention_matches_python(spark, events):
    day_us = 5  # tiny "day" so small ts values cross boundaries
    df = spark.createDataFrame(events, "user_id long, event_type string, ts_us long")
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in cohort_retention(df, day_us=day_us).collect()
    }
    days_per_user: dict = {}
    for u, _, t in events:
        days_per_user.setdefault(u, set()).add(t // day_us)
    exp: dict = {}
    for days in days_per_user.values():
        c = min(days)
        for d in days:
            key = (c, d - c)
            exp[key] = exp.get(key, 0) + 1
    assert got == exp


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # key
            st.integers(min_value=0, max_value=30),  # ts (unique-ified below)
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    gap=st.sampled_from([1, 3, 7]),
)
def test_debounce_events_match_python(spark, events, gap):
    df = spark.createDataFrame(events, "k long, ts long")
    got = sorted((r.k, r.ts) for r in debounce_events(df, ["k"], "ts", gap).collect())
    per_key: dict = {}
    for k, t in events:
        per_key.setdefault(k, []).append(t)
    exp = []
    for k, ts in per_key.items():
        ts.sort()
        prev = None
        for t in ts:
            if prev is None or t - prev > gap:
                exp.append((k, t))
            prev = t
    assert got == sorted(exp)


# ---------------------------------------------------------------------------
# SCD2 fold / CDC merge / attribution vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.funnel import attribution
from valentinus_spark.operators.scd import apply_cdc, scd2_apply

scd_batches = st.lists(
    st.dictionaries(
        st.integers(min_value=1, max_value=4),                      # key
        st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),     # attr (nullable)
        min_size=1,
        max_size=4,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=scd_batches)
def test_scd2_apply_fold_matches_python(spark, batches):
    schema = "k long, a string, effective_from long, effective_to long"
    cur = spark.createDataFrame([], schema)
    rows: list = []  # python twin: (k, a, ef, et)
    for ts, batch in enumerate(batches, start=1):
        upd = spark.createDataFrame(list(batch.items()), "k long, a string")
        cur = scd2_apply(cur, upd, "k", ["a"], ts).localCheckpoint()
        open_by_key = {r[0]: i for i, r in enumerate(rows) if r[3] is None}
        for k, v in batch.items():
            if k not in open_by_key:
                rows.append((k, v, ts, None))
            else:
                i = open_by_key[k]
                if rows[i][1] != v:  # null-safe: None == None is unchanged
                    rows[i] = (rows[i][0], rows[i][1], rows[i][2], ts)
                    rows.append((k, v, ts, None))
    nkey = lambda t: tuple((x is None, x if x is not None else 0) for x in t)  # noqa: E731
    got = sorted((tuple(r) for r in cur.collect()), key=nkey)
    assert got == sorted(rows, key=nkey)


cdc_changes = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),       # key
        st.sampled_from(["I", "U", "D"]),            # op
        st.integers(min_value=0, max_value=5),       # seq (ties exercise op order)
        st.sampled_from(["p", "q", "r"]),            # attr
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda t: (t[0], t[1], t[2]),  # (key, op, seq) unique → net row deterministic
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    snap=st.dictionaries(
        st.integers(min_value=1, max_value=6), st.sampled_from(["a", "b"]), max_size=5
    ),
    changes=cdc_changes,
)
def test_apply_cdc_matches_python(spark, snap, changes):
    snapshot = spark.createDataFrame(
        list(snap.items()) or [], "k long, a string"
    )
    chg = spark.createDataFrame(changes or [], "k long, op string, seq long, a string")
    got = sorted((r.k, r.a) for r in apply_cdc(snapshot, chg, "k").collect())
    net: dict = {}
    for k, op, seq, a in changes:
        if k not in net or (seq, op) > (net[k][0], net[k][1]):
            net[k] = (seq, op, a)
    exp = {k: a for k, a in snap.items() if k not in net}
    for k, (_, op, a) in net.items():
        if op != "D":
            exp[k] = a
    assert got == sorted(exp.items())


attr_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),                     # user
        st.integers(min_value=1, max_value=14),                    # day of month
        st.sampled_from(["purchase", "ad", "email", "search"]),    # type
        st.integers(min_value=1, max_value=50),                    # value
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(events=attr_events, window_days=st.sampled_from([2, 7]))
def test_attribution_matches_python(spark, events, window_days):
    import datetime as dt

    rows = [
        (u, dt.date(2024, 3, d), ty, float(v)) for u, d, ty, v in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts date, event_type string, value double"
    )
    got = {
        r.channel: (r.n_touches, r.first_touch, r.last_touch, r.linear)
        for r in attribution(df, window_days=window_days).collect()
    }
    # same-instant conversions merge, value-summed (operator contract)
    merged: dict = {}
    for u, cd, cty, cv in events:
        if cty == "purchase":
            merged[(u, cd)] = merged.get((u, cd), 0.0) + cv
    exp: dict = {}
    for (u, cd), cv in merged.items():
        touches = [
            (td, ty)
            for tu, td, ty, _ in events
            if tu == u and ty != "purchase" and td < cd and td >= cd - window_days
        ]
        if not touches:
            continue
        k = len(touches)
        tmin, tmax = min(t for t, _ in touches), max(t for t, _ in touches)
        for td, ch in touches:
            n, fst, lst, lin = exp.get(ch, (0, 0.0, 0.0, 0.0))
            exp[ch] = (
                n + 1,
                fst + (cv if td == tmin else 0.0),
                lst + (cv if td == tmax else 0.0),
                lin + cv / k,
            )
    assert set(got) == set(exp)
    for ch, (n, fst, lst, lin) in exp.items():
        g = got[ch]
        assert g[0] == n
        assert g[1] == pytest.approx(fst, abs=1e-4)
        assert g[2] == pytest.approx(lst, abs=1e-4)
        assert g[3] == pytest.approx(lin, abs=1e-4)


# ---------------------------------------------------------------------------
# session paths / activity streaks vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.funnel import activity_streaks, session_paths


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=5000),   # ts seconds (ties allowed)
            st.sampled_from(["a", "b", "c"]),           # type
        ),
        min_size=1,
        max_size=30,
    ),
    gap_minutes=st.sampled_from([5, 30]),
    max_steps=st.sampled_from([2, 4]),
)
def test_session_paths_match_python(spark, events, gap_minutes, max_steps):
    rows = [(u, t, ty, i) for i, (u, t, ty) in enumerate(events)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string, event_id long")
    got = {
        r.path: r.n_sessions
        for r in session_paths(
            df, gap_minutes=gap_minutes, max_steps=max_steps, topk=1000
        ).collect()
    }
    gap = gap_minutes * 60
    per_user: dict = {}
    for u, t, ty, i in rows:
        per_user.setdefault(u, []).append((t, i, ty))
    exp: dict = {}
    for seq in per_user.values():
        seq.sort()
        sessions: list = []
        prev_t = None
        for t, _, ty in seq:
            if prev_t is None or t - prev_t > gap:
                sessions.append([])
            sessions[-1].append(ty)
            prev_t = t
        for s in sessions:
            path = ">".join(s[:max_steps])
            exp[path] = exp.get(path, 0) + 1
    assert got == exp


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    days=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),    # user
            st.integers(min_value=1, max_value=20),   # day of month (dupes fine)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_activity_streaks_match_python(spark, days):
    import datetime as dt

    rows = [(u, dt.date(2024, 4, d)) for u, d in days]
    df = spark.createDataFrame(rows, "user_id long, ts date")
    got = [
        (r.user, r.active_days, r.n_streaks, r.longest_streak, r.streak_start)
        for r in activity_streaks(df, top_n=100).collect()
    ]
    per_user: dict = {}
    for u, d in days:
        per_user.setdefault(u, set()).add(d)
    exp = []
    for u, ds in per_user.items():
        sds = sorted(ds)
        islands: list = []
        for d in sds:
            if islands and d == islands[-1][-1] + 1:
                islands[-1].append(d)
            else:
                islands.append([d])
        longest = max(len(i) for i in islands)
        start = min(i[0] for i in islands if len(i) == longest)
        exp.append(
            (u, len(sds), len(islands), longest, dt.date(2024, 4, start))
        )
    exp.sort(key=lambda r: (-r[3], r[0]))
    assert got == exp


# ---------------------------------------------------------------------------
# hierarchy closure / subtree rollup vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.hierarchy import ancestor_closure, subtree_rollup

# a parent-pointer forest: node i's parent is some node < i (or absent)
forest = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
    min_size=2,
    max_size=14,
)


def _forest_edges(parents):
    return [
        (i, p % i) for i, p in enumerate(parents) if p is not None and i > 0
    ]


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(parents=forest)
def test_ancestor_closure_matches_python(spark, parents):
    edges = _forest_edges(parents)
    if not edges:
        return
    df = spark.createDataFrame(edges, "child long, parent long")
    got = sorted((r.node, r.anc) for r in ancestor_closure(df, max_depth=16).collect())
    up = {c: p for c, p in edges}
    exp = []
    for c in up:
        a = up[c]
        while True:
            exp.append((c, a))
            if a not in up:
                break
            a = up[a]
    assert got == sorted(set(exp))


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    parents=forest,
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=14),
)
def test_subtree_rollup_matches_python(spark, parents, vals):
    n = min(len(parents), len(vals))
    parents, vals = parents[:n], vals[:n]
    edges = _forest_edges(parents)
    if not edges:
        return
    edf = spark.createDataFrame(edges, "child long, parent long")
    vdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "node long, value double"
    )
    got = {
        r.node: (r.subtree_n, r.subtree_sum) for r in subtree_rollup(edf, vdf).collect()
    }
    up = {c: p for c, p in edges}
    exp = {i: (1, float(v)) for i, v in enumerate(vals)}
    for c in range(n):
        a = up.get(c)
        while a is not None:
            if a in exp:
                cnt, s = exp[a]
                exp[a] = (cnt + 1, s + vals[c])
            a = up.get(a)
    assert set(got) == set(exp)
    for k, (cnt, s) in exp.items():
        assert got[k][0] == cnt
        assert got[k][1] == pytest.approx(s, abs=1e-6)


# ---------------------------------------------------------------------------
# PMI collocations vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.collocations import pmi_collocations


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=10,
    ),
    min_count=st.sampled_from([1, 2, 3]),
)
def test_pmi_collocations_match_python(spark, docs, min_count):
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = {
        (r.token_a, r.token_b): (r.pair_count, r.count_a, r.count_b, r.pmi)
        for r in pmi_collocations(df, min_count=min_count).collect()
    }
    token_lists = [d.split() for d in docs if d.split()]
    uni: dict = {}
    for ts in token_lists:
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
    total_tokens = sum(uni.values())
    pairs: dict = {}
    for ts in token_lists:
        for a, b in zip(ts, ts[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
    total_pairs = sum(pairs.values())
    exp = {}
    for (a, b), pc in pairs.items():
        if pc >= min_count and uni[a] >= min_count and uni[b] >= min_count:
            pmi = math.log2(
                (pc / total_pairs) / ((uni[a] / total_tokens) * (uni[b] / total_tokens))
            )
            exp[(a, b)] = (pc, uni[a], uni[b], pmi)
    assert set(got) == set(exp)
    for k, (pc, ca, cb, pmi) in exp.items():
        g = got[k]
        assert g[:3] == (pc, ca, cb)
        assert g[3] == pytest.approx(pmi, abs=1e-12)


# ---------------------------------------------------------------------------
# association rules vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.collocations import association_rules


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),             # basket
            st.sampled_from(["i1", "i2", "i3", "i4"]),         # item
        ),
        min_size=1,
        max_size=30,
    ),
    min_support=st.sampled_from([1, 2]),
)
def test_association_rules_match_python(spark, rows, min_support):
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r.antecedent, r.consequent): (
            r.pair_baskets, r.baskets_a, r.baskets_b, r.support, r.confidence, r.lift
        )
        for r in association_rules(
            df, "basket", "item", min_support_count=min_support
        ).collect()
    }
    baskets: dict = {}
    for b, i in set(rows):
        baskets.setdefault(b, set()).add(i)
    item_counts: dict = {}
    for items in baskets.values():
        for i in items:
            item_counts[i] = item_counts.get(i, 0) + 1
    total = len(baskets)
    pair_counts: dict = {}
    for items in baskets.values():
        for a in items:
            for b in items:
                if a != b:
                    pair_counts[(a, b)] = pair_counts.get((a, b), 0) + 1
    exp = {}
    for (a, b), pc in pair_counts.items():
        ca, cb = item_counts[a], item_counts[b]
        if pc >= min_support and ca >= min_support and cb >= min_support:
            exp[(a, b)] = (
                pc, ca, cb, pc / total, pc / ca, (pc / ca) / (cb / total)
            )
    assert set(got) == set(exp)
    for k, (pc, ca, cb, sup, conf, lift) in exp.items():
        g = got[k]
        assert g[:3] == (pc, ca, cb)
        assert g[3] == pytest.approx(sup, abs=1e-12)
        assert g[4] == pytest.approx(conf, abs=1e-12)
        assert g[5] == pytest.approx(lift, abs=1e-12)


# ---------------------------------------------------------------------------
# BPE encode vs python replay-in-training-order replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.tokenizer import bpe_encode, learn_bpe

bpe_corpus = st.lists(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6), min_size=1, max_size=6
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=bpe_corpus, n_merges=st.sampled_from([1, 4, 10]))
def test_bpe_encode_equals_merge_replay(spark, docs, n_merges):
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    merges = learn_bpe(df, n_merges)
    got = [
        r.bpe_tokens
        for r in bpe_encode(df, merges).orderBy("text").collect()
    ]

    def replay(word):
        syms = list(word)
        for a, b in merges:  # replay in training order
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    exp = []
    for d in sorted(docs):
        toks: list = []
        for w in d.split():
            toks.extend(replay(w))
        exp.append(toks)
    assert got == exp
    # lossless: tokens concatenate back to the original words
    for d, toks in zip(sorted(docs), got):
        assert "".join(toks) == d.replace(" ", "")


# ---------------------------------------------------------------------------
# unigram-LM Viterbi encode vs brute-force segmentation search
# ---------------------------------------------------------------------------

from valentinus_spark.operators.tokenizer import unigram_encode

unigram_vocab = st.dictionaries(
    st.text(alphabet="ab", min_size=1, max_size=3),
    st.sampled_from([-1.0, -2.0, -2.5, -3.0, -4.5]),
    min_size=1,
    max_size=10,
)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vocab=unigram_vocab,
    words=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=7), min_size=1, max_size=5
    ),
)
def test_unigram_encode_matches_bruteforce_viterbi(spark, vocab, words):
    UNK = -100.0
    docs = [" ".join(words)]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = unigram_encode(df, vocab).collect()[0].unigram_tokens

    def segmentations(w):
        if not w:
            yield ()
            return
        for i in range(1, len(w) + 1):
            piece = w[:i]
            if piece in vocab or i == 1:
                for rest in segmentations(w[i:]):
                    yield (piece,) + rest

    def best_seg(w):
        best = None
        for seg in segmentations(w):
            score = 0.0
            for p in seg:  # left-to-right accumulation, same as the dp
                score += vocab.get(p, UNK)
            cand = (score, -len(seg), seg)
            if best is None or (cand[0], cand[1]) > (best[0], best[1]) or (
                (cand[0], cand[1]) == (best[0], best[1]) and seg < best[2]
            ):
                best = cand
        return list(best[2])

    exp: list = []
    for w in words:
        exp.extend(best_seg(w))
    assert got == exp


# ---------------------------------------------------------------------------
# Bradley-Terry MM fit vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.preference import bt_ranking


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    prefs=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C", "D"]),
            st.sampled_from(["A", "B", "C", "D"]),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=20,
    ),
    iters=st.sampled_from([3, 10]),
)
def test_bt_ranking_matches_python_mm(spark, prefs, iters):
    df = spark.createDataFrame(prefs, "winner string, loser string")
    got = {
        r.item: (r.theta, r.wins, r.n_comparisons)
        for r in bt_ranking(df, iters=iters).collect()
    }
    ordered: dict = {}
    for w, l in prefs:
        ordered[(w, l)] = ordered.get((w, l), 0) + 1
    sym: dict = {}
    for (w, l), n in ordered.items():
        sym[(w, l)] = sym.get((w, l), 0) + n
        sym[(l, w)] = sym.get((l, w), 0) + n
    items = sorted({i for i, _ in sym})
    wins = {i: 0 for i in items}
    for (w, _), n in ordered.items():
        wins[w] += n
    theta = {i: 1.0 for i in items}
    for _ in range(iters):
        raw = {}
        for i in items:
            d = sum(
                n / max(theta[i] + theta[j], 1e-12)
                for (a, j), n in sym.items()
                if a == i
            )
            raw[i] = wins[i] / d
        tot = sum(raw[i] for i in items)
        theta = {i: round(raw[i] / tot, 9) for i in items}
    ncmp = {i: sum(n for (a, _), n in sym.items() if a == i) for i in items}
    assert set(got) == set(items)
    for i in items:
        assert got[i][1] == wins[i]
        assert got[i][2] == ncmp[i]
        assert got[i][0] == pytest.approx(theta[i], abs=2e-6)


# ---------------------------------------------------------------------------
# Elo batched ratings vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.preference import elo_ratings


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    matches=st.lists(
        st.tuples(
            st.sampled_from(["A", "B", "C"]),
            st.sampled_from(["A", "B", "C"]),
            st.integers(min_value=1, max_value=4),  # round
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=20,
    ),
    k_factor=st.sampled_from([16.0, 32.0]),
)
def test_elo_ratings_match_python(spark, matches, k_factor):
    df = spark.createDataFrame(matches, "winner string, loser string, round long")
    got = {
        r.item: (r.rating, r.wins, r.losses, r.n_matches)
        for r in elo_ratings(df, k_factor=k_factor).collect()
    }
    counts: dict = {}
    for w, l, r in matches:
        counts[(r, w, l)] = counts.get((r, w, l), 0) + 1
    items = sorted({w for _, w, _ in counts} | {l for _, _, l in counts})
    rt = {i: 1500.0 for i in items}
    for rnd in sorted({r for r, _, _ in counts}):
        delta = {i: 0.0 for i in items}
        for (r, w, l), n in counts.items():
            if r != rnd:
                continue
            ew = 1.0 / (1.0 + 10.0 ** ((rt[l] - rt[w]) / 400.0))
            delta[w] += k_factor * n * (1.0 - ew)
            delta[l] -= k_factor * n * (1.0 - ew)
        rt = {i: round(rt[i] + delta[i], 9) for i in items}
    wins = {i: sum(n for (_, w, _), n in counts.items() if w == i) for i in items}
    losses = {i: sum(n for (_, _, l), n in counts.items() if l == i) for i in items}
    assert set(got) == set(items)
    for i in items:
        assert got[i][1] == wins[i]
        assert got[i][2] == losses[i]
        assert got[i][3] == wins[i] + losses[i]
        assert got[i][0] == pytest.approx(round(rt[i], 4), abs=2e-4)


# ---------------------------------------------------------------------------
# Neyman allocation vs python replica + budget invariants
# ---------------------------------------------------------------------------

from valentinus_spark.operators.mixture import neyman_allocation


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=30,
    ),
    total_n=st.sampled_from([1, 5, 12, 50]),
)
def test_neyman_allocation_matches_python(spark, rows, total_n):
    df = spark.createDataFrame(
        [(s, float(v)) for s, v in rows], "s string, v double"
    )
    got = {
        r.s: (r.n_rows, r.stddev, r.weight, r.alloc)
        for r in neyman_allocation(df, "s", "v", total_n).collect()
    }
    strata: dict = {}
    for s, v in rows:
        strata.setdefault(s, []).append(float(v))
    stats = {}
    for s, vs in strata.items():
        n = len(vs)
        sx, sxx = sum(vs), sum(v * v for v in vs)
        var = max(sxx / n - (sx / n) ** 2, 0.0)
        stats[s] = (n, math.sqrt(var))
    tot = sum(n * sd for n, sd in stats.values())
    totn = sum(n for n, _ in stats.values())
    # all-zero-variance corpora fall back to proportional allocation
    w = {
        s: (n * sd / tot if tot > 0 else n / totn)
        for s, (n, sd) in stats.items()
    }
    exact = {s: round(w[s] * float(total_n), 6) for s in stats}
    floor = {s: int(math.floor(exact[s])) for s in stats}
    frac = {s: round(exact[s] - floor[s], 6) for s in stats}
    order = sorted(stats, key=lambda s: (-frac[s], s))
    deficit = total_n - sum(floor.values())
    alloc0 = {
        s: floor[s] + (1 if i < deficit else 0) for i, s in enumerate(order)
    }
    alloc1 = {s: min(alloc0[s], stats[s][0]) for s in stats}
    surplus = sum(alloc0[s] - alloc1[s] for s in stats)
    alloc = {}
    room_before = 0
    for s in order:
        room = stats[s][0] - alloc1[s]
        extra = max(min(surplus - room_before, room), 0)
        alloc[s] = alloc1[s] + extra
        room_before += room
    assert set(got) == set(stats)
    total_rows = sum(n for n, _ in stats.values())
    assert sum(a for _, _, _, a in got.values()) == min(total_n, total_rows)
    for s in stats:
        n, sd = stats[s]
        g = got[s]
        assert g[0] == n
        assert 0 <= g[3] <= n  # never over-draws a stratum
        assert g[1] == pytest.approx(round(sd, 6), abs=2e-6)
        assert g[2] == pytest.approx(round(w[s], 6), abs=2e-6)
        assert g[3] == alloc[s]


# ---------------------------------------------------------------------------
# temperature mixture weights vs python replica (incl. cap waterfill)
# ---------------------------------------------------------------------------

from valentinus_spark.operators.mixture import temperature_mixture_weights


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),
            st.integers(min_value=1, max_value=1000),
        ),
        min_size=1,
        max_size=20,
    ),
    tau=st.sampled_from([1.0, 2.0, 3.5]),
    cap=st.sampled_from([None, 0.5, 0.9]),
)
def test_temperature_mixture_weights_match_python(spark, rows, tau, cap):
    df = spark.createDataFrame(rows, "source string, n_chars long")
    n_strata = len({s for s, _ in rows})
    if cap is not None and cap * n_strata < 1.0 - 1e-9:
        return  # infeasible cap — guarded by assert_true, tested elsewhere
    got = {
        r.source: (r.n_rows, r.n_size, r.p_raw, r.p_target, r.repeat_factor)
        for r in temperature_mixture_weights(df, tau=tau, cap=cap).collect()
    }
    agg: dict = {}
    for s, c in rows:
        n, sz = agg.get(s, (0, 0))
        agg[s] = (n + 1, sz + c)
    total = sum(sz for _, sz in agg.values())
    praw = {s: sz / total for s, (_, sz) in agg.items()}
    scaled = {s: praw[s] ** (1.0 / tau) for s in agg}
    tot_s = sum(scaled.values())
    pt = {s: scaled[s] / tot_s for s in agg}
    if cap is not None:
        capped = {s for s in agg if pt[s] > cap}
        cap_mass = cap * len(capped)
        free_mass = sum(pt[s] for s in agg if s not in capped)
        pt = {
            s: cap if s in capped else pt[s] * (1.0 - cap_mass) / free_mass
            for s in agg
        }
    assert set(got) == set(agg)
    # targets always sum to 1 (the waterfill conserves mass)
    assert sum(v[3] for v in got.values()) == pytest.approx(1.0, abs=1e-4)
    for s, (n, sz) in agg.items():
        g = got[s]
        assert g[0] == n and g[1] == sz
        assert g[2] == pytest.approx(praw[s], abs=2e-6)
        assert g[3] == pytest.approx(pt[s], abs=2e-6)
        assert g[4] == pytest.approx(pt[s] / praw[s], abs=2e-4)


# ---------------------------------------------------------------------------
# exact ROC-AUC vs brute-force pair counting
# ---------------------------------------------------------------------------

from valentinus_spark.operators.quality import roc_auc


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10).map(lambda v: v / 10.0),  # score
            st.booleans(),                                                    # label
        ),
        min_size=2,
        max_size=40,
    )
)
def test_roc_auc_matches_bruteforce_pairs(spark, rows):
    if not any(y for _, y in rows) or all(y for _, y in rows):
        return  # needs both classes; the operator filters these out
    df = spark.createDataFrame(rows, "score double, label boolean")
    r = roc_auc(df, "score", "label").collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    exp = (wins + ties / 2) / (len(pos) * len(neg))
    assert r.n_pos == len(pos) and r.n_neg == len(neg)
    assert r.auc == pytest.approx(exp, abs=2e-6)
    assert 0.0 <= r.auc <= 1.0


# ---------------------------------------------------------------------------
# triangle count / k-core / label propagation vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.graph import k_core, label_propagation, triangle_count

rand_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ),
    min_size=1,
    max_size=25,
)


def _und(edges):
    return {frozenset(e) for e in edges if e[0] != e[1]}


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges)
def test_triangle_count_matches_bruteforce(spark, edges):
    und = _und(edges)
    if not und:
        return
    df = spark.createDataFrame(list(edges), "src long, dst long")
    r = triangle_count(df).collect()[0]
    nodes = {v for e in und for v in e}
    tri = 0
    ns = sorted(nodes)
    adj = {v: set() for v in nodes}
    for e in und:
        a, b = tuple(e)
        adj[a].add(b)
        adj[b].add(a)
    for i, a in enumerate(ns):
        for b in ns[i + 1:]:
            if b not in adj[a]:
                continue
            for c in ns:
                if c > b and c in adj[a] and c in adj[b]:
                    tri += 1
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (len(nodes), len(und), tri)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges, k=st.sampled_from([2, 3]))
def test_k_core_matches_python_peeling(spark, edges, k):
    und = _und(edges)
    if not und:
        return
    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r.id: r.degree for r in k_core(df, k).collect()}
    es = set(und)
    while True:
        deg: dict = {}
        for e in es:
            for v in e:
                deg[v] = deg.get(v, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            break
        es = {e for e in es if not (e & drop)}
    deg = {}
    for e in es:
        for v in e:
            deg[v] = deg.get(v, 0) + 1
    exp = {v: d for v, d in deg.items() if d >= k}
    assert got == exp


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges, rounds=st.sampled_from([1, 4]))
def test_label_propagation_matches_python(spark, edges, rounds):
    und = _und(edges)
    if not und:
        return
    sym = [(a, b) for e in und for a, b in (tuple(e), tuple(reversed(tuple(e))))]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, rounds=rounds).collect()}
    nodes = {v for e in und for v in e}
    labels = {v: v for v in nodes}
    for _ in range(rounds):
        votes: dict = {v: {} for v in nodes}
        for s, d in sym:  # neighbor votes: src's label lands on dst
            votes[d][labels[s]] = votes[d].get(labels[s], 0) + 1
        for v in nodes:  # one self-vote
            votes[v][labels[v]] = votes[v].get(labels[v], 0) + 1
        labels = {
            v: min(votes[v].items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for v in nodes
        }
    assert got == labels


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction / clustering coefficient vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.graph import adamic_adar, clustering_coefficient


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges)
def test_adamic_adar_matches_python(spark, edges):
    und = _und(edges)
    if not und:
        return
    sym = [(a, b) for e in und for a, b in (tuple(e), tuple(reversed(tuple(e))))]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        (r.node_a, r.node_b): (r.common_neighbors, r.aa_score)
        for r in adamic_adar(df, k=1000).collect()
    }
    adj: dict = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    exp = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if b in adj[a]:
                continue
            common = adj[a] & adj[b]
            common = {z for z in common if len(adj[z]) >= 2}
            if not common:
                continue
            score = sum(round(1.0 / math.log(len(adj[z])), 6) for z in common)
            exp[(a, b)] = (len(common), round(score, 4))
    assert got == exp


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges)
def test_clustering_coefficient_matches_python(spark, edges):
    und = _und(edges)
    if not und:
        return
    df = spark.createDataFrame(list(edges), "src long, dst long")
    r = clustering_coefficient(df).collect()[0]
    adj: dict = {}
    for e in und:
        a, b = tuple(e)
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = (
        sum(
            1
            for a in adj
            for b in adj[a]
            if a < b
            for c in adj[a] & adj[b]
            if c > b
        )
    )
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    assert r.n_triangles == tri and r.n_wedges == wedges
    if wedges:
        assert r.transitivity == pytest.approx(3.0 * tri / wedges, abs=2e-6)
        assert r.transitivity <= 1.0 + 1e-9
    else:
        assert r.transitivity is None


# ---------------------------------------------------------------------------
# pagerank / personalized pagerank vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.graph import pagerank, personalized_pagerank


def _pr_python(sym, iters, damping, seeds=None):
    out: dict = {}
    for s, d in sym:
        out.setdefault(s, []).append(d)
    nodes = sorted(out)
    n = len(nodes)
    if seeds is None:
        rank = {v: 1.0 / n for v in nodes}
        tele = {v: (1.0 - damping) / n for v in nodes}
    else:
        rank = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
        tele = {
            v: ((1.0 - damping) / len(seeds) if v in seeds else 0.0)
            for v in nodes
        }
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for u in nodes:
            share = rank[u] / len(out[u])
            for v in out[u]:
                contrib[v] += share
        rank = {v: round(tele[v] + damping * contrib[v], 9) for v in nodes}
    return rank


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges, iters=st.sampled_from([2, 8]))
def test_pagerank_matches_python(spark, edges, iters):
    und = _und(edges)
    if not und:
        return
    sym = [(a, b) for e in und for a, b in (tuple(e), tuple(reversed(tuple(e))))]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=iters).collect()}
    exp = _pr_python(sym, iters, 0.85)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=rand_edges, iters=st.sampled_from([2, 8]))
def test_personalized_pagerank_matches_python(spark, edges, iters):
    und = _und(edges)
    if not und:
        return
    sym = [(a, b) for e in und for a, b in (tuple(e), tuple(reversed(tuple(e))))]
    nodes = sorted({v for e in und for v in e})
    seeds = nodes[: max(1, len(nodes) // 3)]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r.node: r.rank
        for r in personalized_pagerank(df, seeds, iterations=iters).collect()
    }
    exp = _pr_python(sym, iters, 0.85, seeds=set(seeds))
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)


# ---------------------------------------------------------------------------
# HITS hubs/authorities vs python replica (decimal-exact per-round sums)
# ---------------------------------------------------------------------------

from valentinus_spark.operators.graph import hits


def _rhu(x: float, n: int) -> float:
    """Replica of Spark's F.round on double: HALF_UP on the shortest
    decimal representation (BigDecimal.valueOf semantics)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-n), rounding=decimal.ROUND_HALF_UP
        )
    )


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=6)
        ),
        min_size=1,
        max_size=20,
    ),
    iters=st.sampled_from([1, 4]),
)
def test_hits_matches_python(spark, edges, iters):
    import decimal

    dedges = sorted({e for e in edges})
    df = spark.createDataFrame(dedges, "src long, dst long")
    got = {r.node: (r.hub, r.auth) for r in hits(df, iterations=iters).collect()}
    nodes = sorted({v for e in dedges for v in e})
    n = len(nodes)
    D = decimal.Decimal
    hub = {v: D(repr(_rhu(1.0 / n, 9))) for v in nodes}
    auth = {v: D(repr(_rhu(1.0 / n, 9))) for v in nodes}
    for _ in range(iters):
        araw = {v: D(0) for v in nodes}
        for s, d in dedges:
            araw[d] += hub[s]
        atot = sum(araw.values())
        auth = {
            v: D(repr(_rhu(float(araw[v]) / float(atot), 9))) if atot > 0 else D(0)
            for v in nodes
        }
        hraw = {v: D(0) for v in nodes}
        for s, d in dedges:
            hraw[s] += auth[d]
        htot = sum(hraw.values())
        hub = {
            v: D(repr(_rhu(float(hraw[v]) / float(htot), 9))) if htot > 0 else D(0)
            for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v][0] == pytest.approx(_rhu(float(hub[v]), 6), abs=2e-6)
        assert got[v][1] == pytest.approx(_rhu(float(auth[v]), 6), abs=2e-6)


# ---------------------------------------------------------------------------
# adjusted Rand / Brier+log-loss / Welch t vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import adjusted_rand_index, brier_log_loss
from valentinus_spark.operators.experiment import welch_means_test


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3), st.integers(min_value=0, max_value=3)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_adjusted_rand_index_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "la long, lb long")
    r = adjusted_rand_index(df, "la", "lb").collect()[0]
    n = len(rows)
    c2 = lambda c: c * (c - 1) // 2  # noqa: E731
    cells: dict = {}
    ca: dict = {}
    cb: dict = {}
    for a, b in rows:
        cells[(a, b)] = cells.get((a, b), 0) + 1
        ca[a] = ca.get(a, 0) + 1
        cb[b] = cb.get(b, 0) + 1
    sij = sum(c2(c) for c in cells.values())
    sa = sum(c2(c) for c in ca.values())
    sb = sum(c2(c) for c in cb.values())
    assert (r.n, r.clusters_a, r.clusters_b) == (n, len(ca), len(cb))
    if n < 2:
        assert r.ari is None
        return
    expected = sa * sb / c2(n)
    den = (sa + sb) / 2 - expected
    if den == 0.0:
        assert r.ari is None
    else:
        assert r.ari == pytest.approx((sij - expected) / den, abs=2e-6)
        # identical partitions (up to relabeling) always score 1
        if all(
            (a1 == a2) == (b1 == b2)
            for i, (a1, b1) in enumerate(rows)
            for a2, b2 in rows[i + 1:]
        ):
            assert r.ari == pytest.approx(1.0, abs=1e-6)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20).map(lambda v: v / 20.0),
            st.booleans(),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_brier_log_loss_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "p double, y boolean")
    r = brier_log_loss(df, "p", "y").collect()[0]
    eps = 1e-15
    n = len(rows)
    bs = sum(round((min(1 - eps, max(eps, p)) - float(y)) ** 2, 12) for p, y in rows)
    ls = sum(
        round(
            -(
                float(y) * math.log(min(1 - eps, max(eps, p)))
                + (1.0 - float(y)) * math.log(1.0 - min(1 - eps, max(eps, p)))
            ),
            12,
        )
        for p, y in rows
    )
    assert r.n == n and r.n_pos == sum(1 for _, y in rows if y)
    assert r.brier == pytest.approx(bs / n, abs=2e-6)
    assert r.log_loss == pytest.approx(ls / n, abs=2e-6)
    assert 0.0 <= r.brier <= 1.0


def _phi_upper_py(z: float) -> float:
    t = 1.0 / (1.0 + 0.2316419 * z)
    poly = t * (
        0.319381530
        + t * (-0.356563782 + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429)))
    )
    return math.exp(-z * z / 2.0) / 2.5066282746310002 * poly


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_welch_means_test_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(a, float(v)) for a, v in rows], "arm long, value double"
    )
    r = welch_means_test(df, "arm", "value").collect()[0]
    a = [float(v) for arm, v in rows if arm == 0]
    b = [float(v) for arm, v in rows if arm == 1]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    ma = sum(a) / len(a) if a else None
    mb = sum(b) / len(b) if b else None
    if ma is not None:
        assert r.mean_a == pytest.approx(ma, abs=2e-6)
    if mb is not None:
        assert r.mean_b == pytest.approx(mb, abs=2e-6)
    if len(a) < 2 or len(b) < 2:
        assert r.t is None and r.p_value is None
        return
    va = (sum(v * v for v in a) - len(a) * ma * ma) / (len(a) - 1)
    vb = (sum(v * v for v in b) - len(b) * mb * mb) / (len(b) - 1)
    sa2, sb2 = va / len(a), vb / len(b)
    se2 = sa2 + sb2
    if se2 <= 0:
        assert r.t is None
        return
    t = (mb - ma) / math.sqrt(se2)
    assert r.t == pytest.approx(t, abs=2e-6)
    dof = se2 * se2 / (
        (sa2 * sa2 / (len(a) - 1) if len(a) > 1 else 0.0)
        + (sb2 * sb2 / (len(b) - 1) if len(b) > 1 else 0.0)
    )
    assert r.dof == pytest.approx(dof, abs=2e-5)
    assert r.p_value == pytest.approx(
        min(1.0, 2.0 * _phi_upper_py(abs(t))), abs=2e-6
    )


# ---------------------------------------------------------------------------
# nDCG@k vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import ndcg_at_k


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    judged=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # query
            st.integers(min_value=0, max_value=9),   # doc
            st.integers(min_value=0, max_value=5),   # score (ties likely)
            st.integers(min_value=0, max_value=3),   # graded relevance
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),  # one judgment per (query, doc)
    ),
    k=st.sampled_from([2, 5, 10]),
)
def test_ndcg_at_k_matches_python(spark, judged, k):
    df = spark.createDataFrame(judged, "q long, doc long, score long, rel long")
    got = {
        r.q: (r.n_judged, r.dcg, r.idcg, r.ndcg)
        for r in ndcg_at_k(df, "q", "doc", "score", "rel", k=k).collect()
    }
    per_q: dict = {}
    for q, d, s, rel in judged:
        per_q.setdefault(q, []).append((d, s, rel))
    assert set(got) == set(per_q)
    for q, rows in per_q.items():
        by_score = sorted(rows, key=lambda t: (-t[1], t[0]))
        by_ideal = sorted(rows, key=lambda t: (-t[2], t[0]))
        dcg = sum(
            (2.0 ** rel - 1.0) / math.log2(i + 2)
            for i, (_, _, rel) in enumerate(by_score[:k])
        )
        idcg = sum(
            (2.0 ** rel - 1.0) / math.log2(i + 2)
            for i, (_, _, rel) in enumerate(by_ideal[:k])
        )
        g = got[q]
        assert g[0] == len(rows)
        assert g[1] == pytest.approx(dcg, abs=2e-6)
        assert g[2] == pytest.approx(idcg, abs=2e-6)
        if idcg > 0:
            assert g[3] == pytest.approx(dcg / idcg, abs=2e-6)
            assert g[3] <= 1.0 + 1e-9  # DCG never beats the ideal ordering
        else:
            assert g[3] is None


# ---------------------------------------------------------------------------
# Fleiss' kappa vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import fleiss_kappa


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ratings=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # item
            st.integers(min_value=1, max_value=4),          # rater
            st.sampled_from(["yes", "no", "maybe"]),        # category
        ),
        min_size=2,
        max_size=16,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_fleiss_kappa_matches_python(spark, ratings):
    df = spark.createDataFrame(ratings, "item long, rater long, cat string")
    r = fleiss_kappa(df, "item", "cat").collect()[0]
    per_item: dict = {}
    for i, _, c in ratings:
        per_item.setdefault(i, {})
        per_item[i][c] = per_item[i].get(c, 0) + 1
    m = max(sum(cs.values()) for cs in per_item.values())
    kept = {i: cs for i, cs in per_item.items() if sum(cs.values()) == m}
    dropped = len(per_item) - len(kept)
    assert (r.n_items, r.n_raters, r.n_dropped) == (len(kept), m, dropped)
    if m < 2:
        # per-item agreement is undefined at m == 1 — the operator
        # returns NULL p_bar/kappa instead of an ANSI divide-by-zero
        assert r.p_bar is None and r.kappa is None
        return
    pbar = sum(
        sum(n * (n - 1) for n in cs.values()) / (m * (m - 1))
        for cs in kept.values()
    ) / len(kept)
    nc: dict = {}
    for cs in kept.values():
        for c, n in cs.items():
            nc[c] = nc.get(c, 0) + n
    pe = sum((n / (len(kept) * m)) ** 2 for n in nc.values())
    assert r.p_bar == pytest.approx(pbar, abs=2e-6)
    assert r.p_e == pytest.approx(pe, abs=2e-6)
    if pe < 1.0:
        assert r.kappa == pytest.approx((pbar - pe) / (1.0 - pe), abs=2e-5)
        assert r.kappa <= 1.0 + 1e-9
    else:
        assert r.kappa is None


# ---------------------------------------------------------------------------
# mutual information / Krippendorff's alpha vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import krippendorff_alpha, mutual_information


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]), st.sampled_from(["p", "q"])
        ),
        min_size=1,
        max_size=30,
    )
)
def test_mutual_information_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    r = mutual_information(df, "a", "b").collect()[0]
    n = len(rows)

    def ent(counts):
        return -sum(c / n * math.log2(c / n) for c in counts)

    ca: dict = {}
    cb: dict = {}
    cab: dict = {}
    for a, b in rows:
        ca[a] = ca.get(a, 0) + 1
        cb[b] = cb.get(b, 0) + 1
        cab[(a, b)] = cab.get((a, b), 0) + 1
    ha, hb, hab = ent(ca.values()), ent(cb.values()), ent(cab.values())
    mi = max(0.0, ha + hb - hab)
    assert r.n == n
    assert r.h_a == pytest.approx(ha, abs=2e-6)
    assert r.h_b == pytest.approx(hb, abs=2e-6)
    assert r.h_ab == pytest.approx(hab, abs=2e-6)
    assert r.mi == pytest.approx(mi, abs=2e-6)
    # information inequalities
    assert r.mi <= min(ha, hb) + 1e-6
    if ha > 0 and hb > 0:
        assert r.nmi == pytest.approx(mi / math.sqrt(ha * hb), abs=2e-6)
        assert -1e-9 <= r.nmi <= 1.0 + 1e-6
    else:
        assert r.nmi is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ratings=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),          # item
            st.integers(min_value=1, max_value=4),          # rater
            st.sampled_from(["a", "b", "c"]),               # category
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_krippendorff_alpha_matches_python(spark, ratings):
    df = spark.createDataFrame(ratings, "item long, rater long, cat string")
    r = krippendorff_alpha(df, "item", "cat").collect()[0]
    per_item: dict = {}
    for i, _, c in ratings:
        per_item.setdefault(i, {})
        per_item[i][c] = per_item[i].get(c, 0) + 1
    pairable = {i: cs for i, cs in per_item.items() if sum(cs.values()) >= 2}
    dropped = len(per_item) - len(pairable)
    assert r.n_dropped == dropped
    assert r.n_items == len(pairable)
    if not pairable:
        assert r.alpha is None
        return
    nvals = sum(sum(cs.values()) for cs in pairable.values())
    assert r.n_values == nvals
    dosum = sum(
        (m * m - sum(c * c for c in cs.values())) / (m - 1)
        for cs in pairable.values()
        for m in [sum(cs.values())]
    )
    d_o = dosum / nvals
    nc: dict = {}
    for cs in pairable.values():
        for c, x in cs.items():
            nc[c] = nc.get(c, 0) + x
    d_e = sum(x * (nvals - x) for x in nc.values()) / (nvals * (nvals - 1))
    assert r.d_o == pytest.approx(d_o, abs=2e-6)
    assert r.d_e == pytest.approx(d_e, abs=2e-6)
    if d_e > 0:
        assert r.alpha == pytest.approx(1.0 - d_o / d_e, abs=2e-5)
        assert r.alpha <= 1.0 + 1e-9
    else:
        assert r.alpha is None


# ---------------------------------------------------------------------------
# Spearman rho / Kendall tau-b vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import rank_correlation


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # score a (ties likely)
            st.integers(min_value=0, max_value=6),  # score b
        ),
        min_size=2,
        max_size=20,
    )
)
def test_rank_correlation_matches_python(spark, rows):
    data = [("g", float(a), float(b)) for a, b in rows]
    df = spark.createDataFrame(data, "g string, sa double, sb double")
    r = rank_correlation(df, "g", "sa", "sb").collect()[0]
    n = len(rows)

    def avg_ranks(vals):
        order = sorted(range(n), key=lambda i: vals[i])
        ranks = [0.0] * n
        i = 0
        while i < n:
            j = i
            while j < n and vals[order[j]] == vals[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2.0  # mean of positions i+1..j
            for t in range(i, j):
                ranks[order[t]] = avg
            i = j
        return ranks

    a = [x for x, _ in rows]
    b = [y for _, y in rows]
    ra, rb = avg_ranks(a), avg_ranks(b)
    ma, mb = sum(ra) / n, sum(rb) / n
    cov = sum(x * y for x, y in zip(ra, rb)) - n * ma * mb
    va = sum(x * x for x in ra) - n * ma * ma
    vb = sum(y * y for y in rb) - n * mb * mb
    assert r.n == n
    if va > 1e-12 and vb > 1e-12:
        assert r.spearman_rho == pytest.approx(cov / math.sqrt(va * vb), abs=2e-6)
        assert abs(r.spearman_rho) <= 1.0 + 1e-9
    else:
        assert r.spearman_rho is None
    s = n0 = n1 = n2 = 0
    for i in range(n):
        for j in range(i + 1, n):
            da, db = a[i] - a[j], b[i] - b[j]
            n0 += 1
            if da == 0:
                n1 += 1
            if db == 0:
                n2 += 1
            if da != 0 and db != 0:
                s += (1 if da * db > 0 else -1)
    den = math.sqrt((n0 - n1) * (n0 - n2))
    if den > 0:
        assert r.kendall_tau == pytest.approx(s / den, abs=2e-6)
        assert abs(r.kendall_tau) <= 1.0 + 1e-9
    else:
        assert r.kendall_tau is None


# ---------------------------------------------------------------------------
# rank-biased overlap vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import rbo_overlap


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # score a (ties → id break)
            st.integers(min_value=0, max_value=8),  # score b
        ),
        min_size=1,
        max_size=15,
    ),
    k=st.sampled_from([3, 10]),
    p=st.sampled_from([0.5, 0.9]),
)
def test_rbo_overlap_matches_python(spark, rows, k, p):
    data = [(i, float(a), float(b)) for i, (a, b) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, sa double, sb double")
    r = rbo_overlap(df, "id", "sa", "sb", k=k, p=p).collect()[0]
    order_a = sorted(range(len(rows)), key=lambda i: (-rows[i][0], i))
    order_b = sorted(range(len(rows)), key=lambda i: (-rows[i][1], i))
    rbo = 0.0
    for d in range(1, k + 1):
        top_a, top_b = set(order_a[:d]), set(order_b[:d])
        rbo += p ** (d - 1) * len(top_a & top_b) / d
    rbo *= 1.0 - p
    assert (r.k, r.p) == (k, p)
    assert r.rbo == pytest.approx(rbo, abs=2e-6)
    assert 0.0 <= r.rbo <= 1.0 + 1e-9


# ---------------------------------------------------------------------------
# ROUGE-n clipped overlap vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.evaluation import rouge_n_pairs

rouge_text = st.lists(
    st.sampled_from(["the", "cat", "sat", "mat"]), min_size=0, max_size=8
).map(" ".join)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(rouge_text, rouge_text), min_size=1, max_size=6
    ),
    n=st.sampled_from([1, 2]),
)
def test_rouge_n_matches_python(spark, pairs, n):
    data = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(data, "pid long, ta string, tb string")
    got = {
        r.pid: (r.overlap, r.n_a, r.n_b, r.precision, r.recall, r.f1)
        for r in rouge_n_pairs(df, "pid", "ta", "tb", n=n).collect()
    }

    def grams(text):
        toks = text.split()
        if not toks:
            return {}
        if len(toks) <= n:  # house shingle semantics: whole short text
            return {" ".join(toks): 1}
        out: dict = {}
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i : i + n])
            out[g] = out.get(g, 0) + 1
        return out

    assert set(got) == set(range(len(pairs)))
    for i, (a, b) in enumerate(pairs):
        ga, gb = grams(a), grams(b)
        na, nb = sum(ga.values()), sum(gb.values())
        ov = sum(min(c, gb.get(g, 0)) for g, c in ga.items())
        prec = ov / na if na > 0 else None
        rec = ov / nb if nb > 0 else None
        if prec is None or rec is None:
            f1 = None
        elif prec + rec > 0:
            f1 = 2 * prec * rec / (prec + rec)
        else:
            f1 = 0.0
        g = got[i]
        assert g[:3] == (ov, na, nb)
        for gv, ev in zip(g[3:], (prec, rec, f1)):
            if ev is None:
                assert gv is None
            else:
                assert gv == pytest.approx(ev, abs=2e-6)
        if ov == na == nb and na > 0:
            assert g[5] == pytest.approx(1.0, abs=1e-9)  # identical sides


# ---------------------------------------------------------------------------
# two-sample KS test vs python replica (incl. empty-group degenerate)
# ---------------------------------------------------------------------------

from valentinus_spark.operators.validate import ks_test


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "other"]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_ks_test_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    r = ks_test(df, "g", "v", "a", "b").collect()[0]
    a = sorted(float(v) for g, v in rows if g == "a")
    b = sorted(float(v) for g, v in rows if g == "b")
    assert (r.n_a, r.n_b) == (len(a), len(b))
    if not a or not b:
        # one side empty: D undefined — NULL, never an ANSI
        # divide-by-zero (hypothesis-found crash)
        assert r.d_stat is None and r.p_value is None
        return
    xs = sorted(set(a) | set(b))
    d = max(
        abs(
            sum(1 for v in a if v <= x) / len(a)
            - sum(1 for v in b if v <= x) / len(b)
        )
        for x in xs
    )
    assert r.d_stat == pytest.approx(d, abs=2e-6)
    na, nb = len(a), len(b)
    p = min(1.0, 2.0 * math.exp(-2.0 * d * d * na * nb / (na + nb)))
    assert r.p_value == pytest.approx(p, abs=2e-6)
    assert 0.0 <= r.d_stat <= 1.0


# ---------------------------------------------------------------------------
# chi-squared / Wasserstein-1 vs python replicas (incl. degenerates)
# ---------------------------------------------------------------------------

from valentinus_spark.operators.validate import chi_squared, wasserstein_1d


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]), st.sampled_from(["p", "q"])
        ),
        min_size=1,
        max_size=30,
    )
)
def test_chi_squared_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_squared(df, "a", "b").collect()[0]
    n = len(rows)
    cab: dict = {}
    na: dict = {}
    nb: dict = {}
    for a, b in rows:
        cab[(a, b)] = cab.get((a, b), 0) + 1
        na[a] = na.get(a, 0) + 1
        nb[b] = nb.get(b, 0) + 1
    chi2 = n * (
        sum(c * c / (na[a] * nb[b]) for (a, b), c in cab.items()) - 1.0
    )
    # equals the textbook cell sum, zero cells included
    chi2_cells = sum(
        (cab.get((a, b), 0) - na[a] * nb[b] / n) ** 2 / (na[a] * nb[b] / n)
        for a in na
        for b in nb
    )
    assert abs(chi2 - chi2_cells) < 1e-6
    assert r.n == n and r.dof == (len(na) - 1) * (len(nb) - 1)
    assert r.chi2 == pytest.approx(chi2, abs=2e-5)
    mink = min(len(na), len(nb)) - 1
    if mink > 0:
        assert r.cramers_v == pytest.approx(
            math.sqrt(max(chi2, 0.0) / (n * mink)), abs=2e-6
        )
    else:
        assert r.cramers_v is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "other"]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_wasserstein_1d_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    r = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
    a = sorted(float(v) for g, v in rows if g == "a")
    b = sorted(float(v) for g, v in rows if g == "b")
    assert (r.n_a, r.n_b) == (len(a), len(b))
    if not a or not b:
        assert r.w1 is None  # empty group: NULL, never an ANSI 0/0
        return
    xs = sorted(set(a) | set(b))
    w1 = sum(
        abs(
            sum(1 for v in a if v <= x) / len(a)
            - sum(1 for v in b if v <= x) / len(b)
        )
        * (nx - x)
        for x, nx in zip(xs, xs[1:])
    )
    assert r.w1 == pytest.approx(w1, abs=2e-6)
    assert r.w1 >= 0.0


# ---------------------------------------------------------------------------
# Cohen's kappa / PSI drift vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.profile import cohens_kappa, psi_drift


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.sampled_from(["x", "y", "w"]),  # 'w'/'z' exercise disjoint cats
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cohens_kappa_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    n = len(rows)
    po = sum(1 for a, b in rows if a == b) / n
    na: dict = {}
    nb: dict = {}
    for a, b in rows:
        na[a] = na.get(a, 0) + 1
        nb[b] = nb.get(b, 0) + 1
    pe = sum(na.get(c, 0) / n * nb.get(c, 0) / n for c in set(na) | set(nb))
    assert r.n == n
    assert r.po == pytest.approx(po, abs=2e-6)
    assert r.pe == pytest.approx(pe, abs=2e-6)  # 0, not NULL, on disjoint cats
    if pe < 1.0:
        assert r.kappa == pytest.approx((po - pe) / (1.0 - pe), abs=2e-5)
        assert r.kappa <= 1.0 + 1e-9
    else:
        assert r.kappa is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ref=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=30),
    cur=st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=30),
    n_bins=st.sampled_from([2, 5]),
)
def test_psi_drift_matches_python(spark, ref, cur, n_bins):
    rdf = spark.createDataFrame([(float(v),) for v in ref], "v double")
    cdf = spark.createDataFrame(
        [(float(v),) for v in cur] or [], "v double"
    )
    rows = psi_drift(rdf, cdf, "v", n_bins=n_bins).collect()
    # replicate Spark's percentile (linear interpolation on sorted values)
    s = sorted(float(v) for v in ref)
    cuts = []
    for i in range(1, n_bins):
        q = i / n_bins
        pos = q * (len(s) - 1)
        lo = int(math.floor(pos))
        hi = min(lo + 1, len(s) - 1)
        cuts.append(s[lo] + (pos - lo) * (s[hi] - s[lo]))

    def bin_of(v):
        return sum(1 for c in cuts if v > c)

    nref: dict = {}
    ncur: dict = {}
    for v in ref:
        nref[bin_of(v)] = nref.get(bin_of(v), 0) + 1
    for v in cur:
        ncur[bin_of(v)] = ncur.get(bin_of(v), 0) + 1
    bins = sorted(set(nref) | set(ncur))
    assert [r.bin for r in rows] == bins
    tr, tc = len(ref), len(cur)
    for row in rows:
        er, ec = nref.get(row.bin, 0), ncur.get(row.bin, 0)
        p_ref = (er + 1.0) / (tr + n_bins)
        p_cur = (ec + 1.0) / (tc + n_bins)
        assert (row.n_ref, row.n_cur) == (er, ec)
        assert row.p_ref == pytest.approx(p_ref, abs=2e-6)
        assert row.p_cur == pytest.approx(p_cur, abs=2e-6)
        assert row.psi_term == pytest.approx(
            (p_cur - p_ref) * math.log(p_cur / p_ref), abs=2e-6
        )
        assert row.psi_term >= -1e-9  # each PSI term is non-negative


# ---------------------------------------------------------------------------
# Benford first-digit profile vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.profile import benford_profile


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=-100, max_value=99999).map(lambda v: v / 100.0),
        min_size=0,
        max_size=30,
    )
)
def test_benford_profile_matches_python(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals] or [], "v double")
    rows = benford_profile(df, "v", decimals=2).collect()
    assert [r.digit for r in rows] == list(range(1, 10))  # always all nine
    counts = {d: 0 for d in range(1, 10)}
    for v in vals:
        if v <= 0:
            continue
        units = int(_rhu(v * 100, 0))
        d = int(str(units)[0])
        if 1 <= d <= 9:
            counts[d] += 1
    tot = sum(counts.values())
    for r in rows:
        assert r.n == counts[r.digit]
        if tot == 0:
            assert r.observed_frac is None and r.chi2_term is None
            continue
        obs = counts[r.digit] / tot
        exp = math.log10(1.0 + 1.0 / r.digit)
        assert r.observed_frac == pytest.approx(obs, abs=2e-6)
        assert r.expected_frac == pytest.approx(exp, abs=2e-6)
        assert r.chi2_term == pytest.approx(
            tot * (obs - exp) ** 2 / exp, abs=2e-5
        )
        assert r.chi2_term >= -1e-9


def test_benford_profile_nonfinite_and_huge_magnitudes(spark):
    # NaN/+Inf sort above 0 in Spark's total order, and finite values
    # past ~9.2e16 overflow the scaled-bigint digit path — neither may
    # crash, non-finites are excluded, huge finites keep their lead
    # digit (via the scientific-notation string fallback)
    vals = [
        float("nan"), float("inf"), float("-inf"),
        3.7e19, 9.9e307, 123.0, 0.0, -5.0,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = benford_profile(df, "v", decimals=2).collect()
    counts = {r.digit: r.n for r in rows}
    assert sum(counts.values()) == 3
    assert counts[3] == 1 and counts[9] == 1 and counts[1] == 1


# ---------------------------------------------------------------------------
# capture-recapture / HHI concentration vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.profile import capture_recapture, hhi_concentration


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25),
)
def test_capture_recapture_matches_python(spark, a, b):
    adf = spark.createDataFrame([(v,) for v in a] or [], "k long")
    bdf = spark.createDataFrame([(v,) for v in b] or [], "k long")
    r = capture_recapture(adf, bdf, "k").collect()[0]
    sa, sb = set(a), set(b)
    m = len(sa & sb)
    assert (r.n_a, r.n_b, r.m_overlap) == (len(sa), len(sb), m)
    chapman = (len(sa) + 1) * (len(sb) + 1) / (m + 1) - 1
    assert r.chapman_estimate == pytest.approx(chapman, abs=2e-4)
    assert r.chapman_estimate >= max(len(sa), len(sb)) - 1e-9 or m > 0
    if m > 0:
        assert r.lincoln_petersen == pytest.approx(
            len(sa) * len(sb) / m, abs=2e-4
        )
    else:
        assert r.lincoln_petersen is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]), st.sampled_from(["a", "b", "c", "d"])
        ),
        min_size=1,
        max_size=30,
    )
)
def test_hhi_concentration_matches_python(spark, rows):
    df = spark.createDataFrame(rows, "g string, cat string")
    got = {
        r.g: (r.n, r.n_categories, r.hhi, r.hhi_normalized, r.effective_categories)
        for r in hhi_concentration(df, "g", "cat").collect()
    }
    per_g: dict = {}
    for g, c in rows:
        per_g.setdefault(g, {})
        per_g[g][c] = per_g[g].get(c, 0) + 1
    assert set(got) == set(per_g)
    for g, cs in per_g.items():
        n = sum(cs.values())
        k = len(cs)
        hhi = sum((c / n) ** 2 for c in cs.values())
        res = got[g]
        assert res[0] == n and res[1] == k
        assert res[2] == pytest.approx(hhi, abs=2e-6)
        # HHI bounds, with slack for the operator's 6-dp rounding
        # (hhi = 1/3 rounds DOWN to 0.333333, below the exact bound)
        assert 1.0 / k - 1e-6 <= res[2] <= 1.0 + 1e-6
        if k > 1:
            assert res[3] == pytest.approx(
                (hhi - 1.0 / k) / (1.0 - 1.0 / k), abs=2e-5
            )
        assert res[4] == pytest.approx(1.0 / hhi, abs=2e-5)


# ---------------------------------------------------------------------------
# Theil-T / Atkinson-1 inequality vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.profile import theil_atkinson_inequality


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-2, max_value=40),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_theil_atkinson_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    got = {
        r.g: (r.n, r.n_dropped, r.theil_t, r.atkinson_1)
        for r in theil_atkinson_inequality(df, "g", "v").collect()
    }
    per_g: dict = {}
    for g, v in rows:
        per_g.setdefault(g, []).append(float(v))
    assert set(got) == set(per_g)  # all-nonpositive groups still emit a row
    for g, vs in per_g.items():
        pos = [v for v in vs if v > 0]
        dropped = len(vs) - len(pos)
        res = got[g]
        assert res[0] == len(pos) and res[1] == dropped
        if not pos:
            assert res[2] is None and res[3] is None
            continue
        mu = sum(pos) / len(pos)
        theil = sum(v / mu * math.log(v / mu) for v in pos) / len(pos)
        atkinson = 1.0 - math.exp(
            sum(math.log(v) for v in pos) / len(pos) - math.log(mu)
        )
        assert res[2] == pytest.approx(theil, abs=2e-6)
        assert res[3] == pytest.approx(atkinson, abs=2e-6)
        assert res[2] >= -1e-9 and -1e-9 <= res[3] <= 1.0  # index bounds


# ---------------------------------------------------------------------------
# Good-Turing/Chao1 vocab + JS divergence vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.quality import good_turing_vocab, js_divergence

small_docs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2"]),
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5"]), min_size=1, max_size=8).map(
            " ".join
        ),
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=small_docs)
def test_good_turing_vocab_matches_python(spark, docs):
    df = spark.createDataFrame(docs, "g string, text string")
    got = {
        r.g: (r.n_tokens, r.vocab, r.n1, r.n2, r.p_unseen, r.chao1)
        for r in good_turing_vocab(df, "g").collect()
    }
    per_g: dict = {}
    for g, text in docs:
        for t in text.split():
            per_g.setdefault(g, {})
            per_g[g][t] = per_g[g].get(t, 0) + 1
    assert set(got) == set(per_g)
    for g, fs in per_g.items():
        n = sum(fs.values())
        v = len(fs)
        n1 = sum(1 for f in fs.values() if f == 1)
        n2 = sum(1 for f in fs.values() if f == 2)
        res = got[g]
        assert res[:4] == (n, v, n1, n2)
        assert res[4] == pytest.approx(n1 / n, abs=2e-6)
        chao1 = v + n1 * (n1 - 1) / (2 * (n2 + 1))
        assert res[5] == pytest.approx(chao1, abs=2e-5)
        assert res[5] >= v - 1e-9  # Chao1 lower-bounds total vocab


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=small_docs)
def test_js_divergence_matches_python(spark, docs):
    groups = {g for g, _ in docs}
    if len(groups) < 2:
        return
    df = spark.createDataFrame(docs, "g string, text string")
    rows = js_divergence(df, "g").collect()
    per_g: dict = {}
    for g, text in docs:
        for t in text.split():
            per_g.setdefault(g, {})
            per_g[g][t] = per_g[g].get(t, 0) + 1
    vocab = sorted({t for fs in per_g.values() for t in fs})
    gn = {g: sum(fs.values()) for g, fs in per_g.items()}
    rel = {
        g: {t: _rhu(per_g[g].get(t, 0) / gn[g], 9) for t in vocab}
        for g in per_g
    }
    assert len(rows) == 1
    r = rows[0]
    ga, gb = sorted(groups)
    assert (r.group_a, r.group_b) == (ga, gb)
    js = 0.0
    for t in vocab:
        p, q = rel[ga][t], rel[gb][t]
        m = (p + q) / 2.0
        term = 0.0
        if p > 0:
            term += p * (math.log(p / m) / math.log(2))
        if q > 0:
            term += q * (math.log(q / m) / math.log(2))
        js += round(term / 2.0, 12)
    assert r.js_bits == pytest.approx(js, abs=2e-6)
    assert -1e-9 <= r.js_bits <= 1.0 + 1e-6  # JS in bits is bounded by 1


# ---------------------------------------------------------------------------
# BM25 top-k vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.text_search import bm25_topk


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    terms=st.lists(
        st.sampled_from(["alpha", "beta", "gamma"]), min_size=1, max_size=2, unique=True
    ),
)
def test_bm25_topk_matches_python(spark, docs, terms):
    k1, b = 1.2, 0.75
    data = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = [(r.doc_id, r.score) for r in bm25_topk(df, terms, k=100).collect()]
    toks = {i: d.split() for i, d in data}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    dfreq = {
        t: sum(1 for ts in toks.values() if t in ts) for t in terms
    }
    exp = {}
    for i, ts in toks.items():
        score = 0.0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            idf = math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            score += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * len(ts) / avgdl)
            )
        if score > 0:
            exp[i] = score
    assert {i for i, _ in got} == set(exp)
    for i, s in got:
        assert s == pytest.approx(exp[i], abs=2e-6)
        assert s >= 0.0  # Lucene-style idf never goes negative
    # ordering: score desc, id asc
    assert got == sorted(got, key=lambda t: (-t[1], t[0]))


# ---------------------------------------------------------------------------
# linkage candidate blocking vs python replica
# ---------------------------------------------------------------------------

from valentinus_spark.operators.linkage import candidate_pairs

link_names = st.lists(
    st.lists(
        st.sampled_from(["ann", "bob", "carol", "smith", "jones"]),
        min_size=1,
        max_size=3,
    ).map(" ".join),
    min_size=1,
    max_size=12,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(names=link_names, band=st.sampled_from([2, 4]))
def test_candidate_pairs_match_python_blocking(spark, names, band):
    data = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(data, "id long, name string")
    got = sorted(
        (r.id_a, r.id_b) for r in candidate_pairs(df, "id", "name", band=band).collect()
    )
    keys: dict = {}
    for i, n in data:
        norm = " ".join(n.split()).lower()
        if not norm:
            continue
        toks = norm.split(" ")
        lb = len(norm) // band
        for scheme, tok in enumerate((toks[0], toks[-1])):
            k = f"{tok}#{lb}"
            if len(k) > 1:
                keys.setdefault((scheme, k), []).append(i)
    exp = set()
    for ids in keys.values():
        for x in ids:
            for y in ids:
                if x < y:
                    exp.add((x, y))
    assert got == sorted(exp)
    # recall witness: identical names always become candidates
    for i, n in data:
        for j, m2 in data:
            if i < j and n.strip() and " ".join(n.split()).lower() == " ".join(m2.split()).lower():
                assert (i, j) in exp and (i, j) in set(got)


# ---------------------------------------------------------------------------
# lexical diversity / char entropy vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.quality import char_entropy, lexical_diversity


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=small_docs)
def test_lexical_diversity_matches_python(spark, docs):
    df = spark.createDataFrame(docs, "g string, text string")
    got = {
        r.g: (r.n_tokens, r.vocab, r.ttr, r.hapax_frac, r.yule_k)
        for r in lexical_diversity(df, "g").collect()
    }
    per_g: dict = {}
    for g, text in docs:
        for t in text.split():
            per_g.setdefault(g, {})
            per_g[g][t] = per_g[g].get(t, 0) + 1
    assert set(got) == set(per_g)
    for g, fs in per_g.items():
        n = sum(fs.values())
        v = len(fs)
        hapax = sum(1 for f in fs.values() if f == 1)
        res = got[g]
        assert res[:2] == (n, v)
        assert res[2] == pytest.approx(v / n, abs=2e-6)
        assert res[3] == pytest.approx(hapax / v, abs=2e-6)
        if n >= 2:
            yule = 1e4 * (sum(f * f for f in fs.values()) - n) / (n * n)
            assert res[4] == pytest.approx(yule, abs=2e-5)
        else:
            assert res[4] is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=20), min_size=1, max_size=8
    )
)
def test_char_entropy_matches_python(spark, texts):
    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chars, r.distinct_chars, r.entropy)
        for r in char_entropy(df).collect()
    }
    exp = {}
    for i, t in data:
        if not t:
            continue  # empty docs are dropped
        counts: dict = {}
        for c in t:
            counts[c] = counts.get(c, 0) + 1
        n = len(t)
        h = math.log2(n) - sum(c * math.log2(c) for c in counts.values()) / n
        exp[i] = (n, len(counts), h)
    assert set(got) == set(exp)
    for i, (n, k, h) in exp.items():
        assert got[i][:2] == (n, k)
        assert got[i][2] == pytest.approx(h, abs=2e-4)
        # 4-dp output rounding can push the value ≤ 5e-5 past log2(n)
        assert -1e-9 <= got[i][2] <= math.log2(max(n, 2)) + 1e-4


# ---------------------------------------------------------------------------
# A/B panel: two-proportion z, SRM chi2, McNemar, BH-FDR vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.experiment import (
    bh_fdr,
    mcnemar_test,
    srm_check,
    two_proportion_test,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1), st.booleans()),
        min_size=1,
        max_size=30,
    )
)
def test_two_proportion_matches_python(spark, rows):
    df = spark.createDataFrame(
        [(a, int(s)) for a, s in rows], "arm long, success long"
    )
    r = two_proportion_test(df, "arm", "success").collect()[0]
    na = sum(1 for a, _ in rows if a == 0)
    nb = sum(1 for a, _ in rows if a == 1)
    sa = sum(1 for a, s in rows if a == 0 and s)
    sb = sum(1 for a, s in rows if a == 1 and s)
    assert (r.n_a, r.n_b) == (na, nb)
    if na == 0 or nb == 0:
        assert r.z is None and r.p_value is None
        return
    pa, pb = sa / na, sb / nb
    pool = (sa + sb) / (na + nb)
    assert r.p_a == pytest.approx(pa, abs=2e-6)
    assert r.p_b == pytest.approx(pb, abs=2e-6)
    if 0 < pool < 1:
        se = math.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
        z = (pb - pa) / se
        assert r.z == pytest.approx(z, abs=2e-5)
        assert r.p_value == pytest.approx(
            min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
        )
    else:
        assert r.z is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    arms=st.lists(st.integers(min_value=0, max_value=2), min_size=1, max_size=30)
)
def test_srm_check_matches_python(spark, arms):
    df = spark.createDataFrame([(a,) for a in arms], "arm long")
    rows = srm_check(df, "arm").collect()
    counts: dict = {}
    for a in arms:
        counts[a] = counts.get(a, 0) + 1
    k, tot = len(counts), len(arms)
    assert [r.arm for r in rows] == sorted(counts)
    for r in rows:
        exp_n = tot / k
        assert r.n == counts[r.arm]
        assert r.expected_n == pytest.approx(exp_n, abs=2e-6)
        assert r.chi2_term == pytest.approx(
            (counts[r.arm] - exp_n) ** 2 / exp_n, abs=2e-5
        )
    # chi2 total is 0 iff the split is exactly uniform
    total = sum(r.chi2_term for r in rows)
    if len({counts[a] for a in counts}) == 1:
        assert total == pytest.approx(0.0, abs=1e-9)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1), st.integers(min_value=0, max_value=1)),
        min_size=1,
        max_size=30,
    )
)
def test_mcnemar_matches_python(spark, pairs):
    df = spark.createDataFrame(pairs, "before long, after long")
    r = mcnemar_test(df, "before", "after").collect()[0]
    n00 = sum(1 for b, a in pairs if (b, a) == (0, 0))
    n01 = sum(1 for b, a in pairs if (b, a) == (0, 1))
    n10 = sum(1 for b, a in pairs if (b, a) == (1, 0))
    n11 = sum(1 for b, a in pairs if (b, a) == (1, 1))
    assert (r.n, r.n_00, r.n_01, r.n_10, r.n_11) == (
        len(pairs), n00, n01, n10, n11,
    )
    if n01 + n10 == 0:
        assert r.chi2 is None and r.p_value is None
        return
    z = (n01 - n10) / math.sqrt(n01 + n10)
    assert r.chi2 == pytest.approx(z * z, abs=2e-5)
    assert r.p_value == pytest.approx(
        min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
    )


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ps=st.lists(
        st.integers(min_value=0, max_value=100).map(lambda v: v / 100.0),
        min_size=1,
        max_size=15,
    ),
    alpha=st.sampled_from([0.05, 0.1]),
)
def test_bh_fdr_matches_python(spark, ps, alpha):
    data = [(f"t{i:02d}", p) for i, p in enumerate(ps)]
    df = spark.createDataFrame(data, "test string, p double")
    rows = bh_fdr(df, "test", "p", alpha=alpha).collect()
    m = len(ps)
    order = sorted(data, key=lambda t: (t[1], t[0]))
    kstar = max(
        (k for k in range(1, m + 1) if order[k - 1][1] <= k * alpha / m),
        default=0,
    )
    qraw = [order[k - 1][1] * m / k for k in range(1, m + 1)]
    q = qraw[:]
    for k in range(m - 2, -1, -1):
        q[k] = min(q[k], q[k + 1])
    got = {r.test: (r.rank, r.reject, r.q_value) for r in rows}
    assert [r.test for r in rows] == [t for t, _ in order]
    for k, (t, p) in enumerate(order, start=1):
        g = got[t]
        assert g[0] == k
        assert g[1] == (k <= kstar)
        assert g[2] == pytest.approx(min(1.0, q[k - 1]), abs=2e-6)
    # monotone q-values in rank order
    qs = [got[t][2] for t, _ in order]
    assert qs == sorted(qs)


# ---------------------------------------------------------------------------
# paired t / sign test vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.experiment import paired_t_test, sign_test

paired_rows = st.lists(
    st.tuples(
        st.integers(min_value=-20, max_value=20),
        st.integers(min_value=-20, max_value=20),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=paired_rows)
def test_paired_t_matches_python(spark, pairs):
    df = spark.createDataFrame(
        [(float(b), float(a)) for b, a in pairs], "before double, after double"
    )
    r = paired_t_test(df, "before", "after").collect()[0]
    n = len(pairs)
    ds = [a - b for b, a in pairs]
    assert r.n == n
    assert r.mean_before == pytest.approx(sum(b for b, _ in pairs) / n, abs=2e-6)
    assert r.mean_after == pytest.approx(sum(a for _, a in pairs) / n, abs=2e-6)
    md = sum(ds) / n
    assert r.mean_diff == pytest.approx(md, abs=2e-6)
    if n < 2:
        assert r.t is None
        return
    var = (sum(d * d for d in ds) - n * md * md) / (n - 1)
    if var <= 0:
        assert r.t is None  # constant differences: no inference
        return
    t = md / math.sqrt(var / n)
    assert r.t == pytest.approx(t, abs=2e-5)
    assert r.p_value == pytest.approx(
        min(1.0, 2.0 * _phi_upper_py(abs(t))), abs=2e-6
    )


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs=paired_rows)
def test_sign_test_matches_python(spark, pairs):
    df = spark.createDataFrame(
        [(float(b), float(a)) for b, a in pairs], "before double, after double"
    )
    r = sign_test(df, "before", "after").collect()[0]
    sp = sum(1 for b, a in pairs if a > b)
    sm = sum(1 for b, a in pairs if a < b)
    assert (r.n_pairs, r.n_nonzero, r.s_plus, r.s_minus) == (
        len(pairs), sp + sm, sp, sm,
    )
    if sp + sm == 0:
        assert r.z is None and r.p_value is None
        return
    nn = sp + sm
    z = (sp - nn / 2.0) / math.sqrt(nn / 4.0)
    assert r.z == pytest.approx(z, abs=2e-6)
    assert r.p_value == pytest.approx(
        min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
    )


# ---------------------------------------------------------------------------
# robust z-score / winsorize / quantile discretize vs python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.profile import (
    quantile_discretize,
    robust_zscore,
    winsorize,
)


def _pct_py(vals, q):
    """Spark F.percentile replica: linear interpolation on sorted values."""
    s = sorted(vals)
    pos = q * (len(s) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (pos - lo) * (s[hi] - s[lo])


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=30),
    threshold=st.sampled_from([2.0, 3.5]),
)
def test_robust_zscore_matches_python(spark, vals, threshold):
    data = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "id long, v double")
    got = {
        r.id: (r.robust_z, r.is_outlier)
        for r in robust_zscore(df, "v", threshold=threshold).collect()
    }
    med = _pct_py([v for _, v in data], 0.5)
    mad = _pct_py([abs(v - med) for _, v in data], 0.5)
    for i, v in data:
        z = 0.6745 * (v - med) / mad if mad > 0 else 0.0
        assert got[i][0] == pytest.approx(z, abs=2e-6)
        assert got[i][1] == (abs(got[i][0]) > threshold)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=30),
    band=st.sampled_from([(0.1, 0.9), (0.25, 0.75)]),
)
def test_winsorize_matches_python(spark, vals, band):
    lo, hi = band
    data = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "id long, v double")
    got = {r.id: r.v_wins for r in winsorize(df, "v", lo=lo, hi=hi).collect()}
    plo = _pct_py([v for _, v in data], lo)
    phi = _pct_py([v for _, v in data], hi)
    for i, v in data:
        assert got[i] == pytest.approx(min(max(v, plo), phi), abs=2e-9)
        assert plo - 1e-9 <= got[i] <= phi + 1e-9  # clamped into the band


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-20, max_value=20), min_size=1, max_size=25),
    n_bins=st.sampled_from([2, 4, 10]),
)
def test_quantile_discretize_matches_python(spark, vals, n_bins):
    data = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, "id long, v double")
    got = {r.id: r.bin for r in quantile_discretize(df, "v", n_bins=n_bins).collect()}
    # exact_quantiles uses the disc convention: smallest value whose
    # cumulative count reaches ceil(q*n) — NOT interpolation
    s = sorted(v for _, v in data)
    cuts = sorted(
        s[max(1, math.ceil(i / n_bins * len(s))) - 1] for i in range(1, n_bins)
    )
    for i, v in data:
        exp = sum(1 for c in cuts if v > c)
        assert got[i] == exp
        assert 0 <= got[i] <= n_bins - 1
    # equal values always land in the same bin (determinism under ties)
    by_val: dict = {}
    for i, v in data:
        by_val.setdefault(v, set()).add(got[i])
    assert all(len(bins) == 1 for bins in by_val.values())


# ---------------------------------------------------------------------------
# sketch merge / overlap algebra vs exact python replicas
# ---------------------------------------------------------------------------

from valentinus_spark.operators.sketches import (
    _hll_alpha,
    ams_f2_estimate,
    cm_join_size,
    hll_merge_estimate,
    hll_overlap,
    kmv_hashes,
    kmv_merge_estimate,
    kmv_overlap,
)


def _kmv_est_py(hashes: set, k: int) -> tuple[int, float]:
    """(n_seen, est_distinct) of the k-smallest-hash estimator."""
    s = sorted(hashes)[:k]
    if len(s) < k:
        return len(s), float(len(s))
    return k, (k - 1) / ((s[k - 1] + 1) / float(1 << 60))


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(a=sketch_vals, b=sketch_vals, k=st.sampled_from([4, 8]))
def test_kmv_merge_equals_union_sketch(spark, a, b, k):
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    merged = kmv_merge_estimate(
        kmv_hashes(da, "v", k=k), kmv_hashes(db, "v", k=k), k=k
    ).collect()[0]
    n_exp, est_exp = _kmv_est_py({_sha60_py(v) for v in a + b}, k)
    assert merged.n_seen == n_exp
    assert merged.est_distinct == pytest.approx(est_exp, abs=2e-4, rel=1e-9)
    # mergeability: identical to sketching the concatenated input directly
    direct = kmv_distinct(da.union(db), "v", k=k).collect()[0]
    assert (merged.n_seen, merged.est_distinct) == (
        direct.n_seen,
        direct.est_distinct,
    )


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(a=sketch_vals, b=sketch_vals, k=st.sampled_from([4, 8]))
def test_kmv_overlap_matches_theta_replica(spark, a, b, k):
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    got = kmv_overlap(kmv_hashes(da, "v", k=k), kmv_hashes(db, "v", k=k), k=k).collect()[0]
    ha = set(sorted({_sha60_py(v) for v in a})[:k])
    hb = set(sorted({_sha60_py(v) for v in b})[:k])
    surv = sorted(ha | hb)[:k]
    n_union = len(surv)
    nboth = sum(1 for h in surv if h in ha and h in hb)
    if n_union < k:
        est_union = float(n_union)
        frac = nboth / n_union
    else:
        est_union = (k - 1) / ((surv[k - 1] + 1) / float(1 << 60))
        frac = nboth / k
    assert got.n_union_seen == n_union
    assert got.est_union == pytest.approx(est_union, abs=2e-4, rel=1e-9)
    assert got.est_intersection == pytest.approx(est_union * frac, abs=2e-4, rel=1e-9)
    assert got.est_jaccard == pytest.approx(frac, abs=2e-4)
    # exact when the union fits in the sketch
    if len(ha | hb) < k:
        assert got.est_union == float(len(set(a) | set(b)))
        assert got.est_intersection == float(len(set(a) & set(b)))


def _hll_regs_py(vals, p: int) -> dict:
    w = 60 - p
    regs: dict = {}
    for v in vals:
        h = _sha60_py(v)
        idx, rest = h >> w, h & ((1 << w) - 1)
        rho = (w + 1) if rest == 0 else (w + 1) - rest.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


def _hll_est_py(regs: dict, p: int) -> float:
    m, w = 1 << p, 60 - p
    scale = 1 << (w + 1)
    s_total = sum(1 << (w + 1 - rho) for rho in regs.values()) + (m - len(regs)) * scale
    raw = (_hll_alpha(m) * m * m * scale) / s_total
    v = m - len(regs)
    if raw <= 2.5 * m and v > 0:
        return m * math.log(m / v)
    return raw


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(a=sketch_vals, b=sketch_vals, p=st.sampled_from([4, 6]))
def test_hll_merge_is_lossless_union(spark, a, b, p):
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    ra, rb = hll_registers(da, "v", p=p), hll_registers(db, "v", p=p)
    got = hll_merge_estimate(ra, rb, p).collect()[0]
    regs = _hll_regs_py(a + b, p)
    assert got.m_seen == len(regs)
    assert got.est_distinct == pytest.approx(_hll_est_py(regs, p), abs=2e-4, rel=1e-9)
    # lossless: merged estimate == sketching the concatenated input
    direct = hll_estimate(hll_registers(da.union(db), "v", p=p), p).collect()[0]
    assert (got.m_seen, got.est_distinct) == (direct.m_seen, direct.est_distinct)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(a=sketch_vals, b=sketch_vals, p=st.sampled_from([4, 6]))
def test_hll_overlap_matches_inclusion_exclusion_replica(spark, a, b, p):
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    got = hll_overlap(da, db, "v", p=p).collect()[0]
    ea = round(_hll_est_py(_hll_regs_py(a, p), p), 4)
    eb = round(_hll_est_py(_hll_regs_py(b, p), p), 4)
    eu = round(_hll_est_py(_hll_regs_py(a + b, p), p), 4)
    inter = max(0.0, round(ea + eb - eu, 4))
    assert got.est_a == pytest.approx(ea, abs=2e-4)
    assert got.est_b == pytest.approx(eb, abs=2e-4)
    assert got.est_union == pytest.approx(eu, abs=2e-4)
    assert got.est_intersection == pytest.approx(inter, abs=2e-4)
    assert got.est_jaccard == pytest.approx(
        inter / eu if eu > 0 else 0.0, abs=2e-4
    )


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=sketch_vals,
    b=sketch_vals,
    depth=st.sampled_from([2, 4]),
    width=st.sampled_from([16, 64]),
)
def test_cm_join_size_matches_inner_product_replica(spark, a, b, depth, width):
    da = spark.createDataFrame([(v,) for v in a], "v long")
    db = spark.createDataFrame([(v,) for v in b], "v long")
    got = cm_join_size(
        count_min_sketch(da, "v", depth=depth, width=width),
        count_min_sketch(db, "v", depth=depth, width=width),
    ).collect()[0]
    prods = []
    for j in range(depth):
        ca: dict = {}
        cb: dict = {}
        for v in a:
            bkt = _cm_slice_py(v, j) % width
            ca[bkt] = ca.get(bkt, 0) + 1
        for v in b:
            bkt = _cm_slice_py(v, j) % width
            cb[bkt] = cb.get(bkt, 0) + 1
        prods.append(sum(ca[bkt] * cb.get(bkt, 0) for bkt in ca))
    assert got.est_join_size == min(prods)
    # CM inner product never underestimates the true equi-join size
    true_join = sum(a.count(v) * b.count(v) for v in set(a))
    assert got.est_join_size >= true_join


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
    shape=st.sampled_from([(4, 4), (3, 8)]),
)
def test_ams_f2_matches_median_of_means_replica(spark, vals, shape):
    from fractions import Fraction

    n_means, per_mean = shape
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = ams_f2_estimate(df, "v", n_means=n_means, per_mean=per_mean).collect()[0]
    total = n_means * per_mean

    def sign(v, j):
        digest = hashlib.sha256(f"ams{j // 64}:{v}".encode()).hexdigest()
        return 1 if int(digest[j % 64], 16) >= 8 else -1

    z = [sum(sign(v, j) for v in vals) for j in range(total)]
    means = [
        Fraction(sum(z[j] ** 2 for j in range(g * per_mean, (g + 1) * per_mean)), per_mean)
        for g in range(n_means)
    ]
    s = sorted(means)
    est = float((s[(n_means - 1) // 2] + s[n_means // 2]) / 2)
    counts: dict = {}
    for v in vals:
        counts[v] = counts.get(v, 0) + 1
    f2 = float(sum(c * c for c in counts.values()))
    assert got.n_rows == len(vals)
    assert got.n_estimators == total
    assert got.f2_estimate == pytest.approx(est, abs=2e-4, rel=1e-9)
    assert got.f2_exact == f2
    assert got.rel_error == pytest.approx(abs(est - f2) / f2, abs=2e-6)


# ---------------------------------------------------------------------------
# day-series monitors / forecasters vs python replicas
# ---------------------------------------------------------------------------

import datetime as _dt

day_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=-8, max_value=8),
    ),
    min_size=1,
    max_size=15,
    unique_by=lambda t: t[0],  # one event per day: daily mean = value, exact
)


def _series_df(spark, pts):
    rows = [
        (_dt.datetime(2024, 1, 1) + _dt.timedelta(days=d), float(v))
        for d, v in pts
    ]
    return spark.createDataFrame(rows, ["ts", "value"]), [
        float(v) for _, v in sorted(pts)
    ], [d for d, _ in sorted(pts)]


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    season=st.sampled_from([2, 3]),
    holdout=st.sampled_from([3, 5]),
)
def test_seasonal_naive_eval_matches_python(spark, events, season, holdout):
    from valentinus_spark.operators import seasonal_naive_eval

    rows = [
        (k, _dt.datetime(2024, 1, 1) + _dt.timedelta(days=d)) for k, d in events
    ]
    df = spark.createDataFrame(rows, ["source", "ts"])
    got = {
        r.source: (r.n_scored, r.mae, r.rmse, r.smape)
        for r in seasonal_naive_eval(
            df, "source", "ts", season=season, holdout_days=holdout
        ).collect()
    }
    lo = min(d for _, d in events)
    hi = max(d for _, d in events)
    exp = {}
    for key in {k for k, _ in events}:
        counts = {d: 0 for d in range(lo, hi + 1)}
        for k, d in events:
            if k == key:
                counts[d] += 1
        scored = [
            (counts[d], counts[d - season])
            for d in range(lo + season, hi + 1)
            if (hi - d) < holdout
        ]
        if not scored:
            continue
        errs = [x - p for x, p in scored]
        smape_terms = [
            2.0 * abs(x - p) / (x + p) if (x + p) > 0 else 0.0 for x, p in scored
        ]
        exp[key] = (
            len(scored),
            sum(abs(e) for e in errs) / len(errs),
            math.sqrt(sum(e * e for e in errs) / len(errs)),
            sum(smape_terms) / len(smape_terms),
        )
    assert set(got) == set(exp)
    for key, (n, mae, rmse, smape) in exp.items():
        assert got[key][0] == n
        assert got[key][1] == pytest.approx(mae, abs=2e-6)
        assert got[key][2] == pytest.approx(rmse, abs=2e-6)
        assert got[key][3] == pytest.approx(smape, abs=2e-6)


def _acf_py(day_offsets, max_lag):
    """(n, [ (n_pairs, acf|None) per lag 1..max_lag ]) replica of
    acf_profile over the dense zero-filled day spine."""
    lo, hi = min(day_offsets), max(day_offsets)
    xs = [0] * (hi - lo + 1)
    for d in day_offsets:
        xs[d - lo] += 1
    n = len(xs)
    mean = sum(xs) / n
    e = [round(x - mean, 6) for x in xs]
    den = sum(v * v for v in e)
    out = []
    for lag in range(1, max_lag + 1):
        if n > lag:
            num = sum(e[t] * e[t - lag] for t in range(lag, n))
            acf = round(num / den, 6) if den > 0 else None
            out.append((n - lag, acf))
        else:
            out.append((0, None))
    return n, out


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    days=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=40),
    max_lag=st.sampled_from([3, 5]),
)
def test_acf_profile_matches_python(spark, days, max_lag):
    from valentinus_spark.operators import acf_profile

    rows = [(_dt.datetime(2024, 1, 1) + _dt.timedelta(days=d),) for d in days]
    df = spark.createDataFrame(rows, ["ts"])
    got = acf_profile(df, "ts", max_lag=max_lag).collect()
    _, exp = _acf_py(days, max_lag)
    assert [r.lag for r in got] == list(range(1, max_lag + 1))
    for r, (n_pairs, acf) in zip(got, exp):
        assert r.n_pairs == n_pairs
        if acf is None:
            assert r.acf is None
        else:
            assert r.acf == pytest.approx(acf, abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    days=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=40),
    max_lag=st.sampled_from([3, 6]),
)
def test_ljung_box_matches_python(spark, days, max_lag):
    from valentinus_spark.operators import ljung_box

    rows = [(_dt.datetime(2024, 1, 1) + _dt.timedelta(days=d),) for d in days]
    df = spark.createDataFrame(rows, ["ts"])
    r = ljung_box(df, "ts", max_lag=max_lag).collect()[0]
    n, acfs = _acf_py(days, max_lag)
    assert r.max_lag == max_lag and r.dof == max_lag
    if any(a is None for _, a in acfs) or any(p == 0 for p, _ in acfs):
        assert r.q_stat is None
        return
    assert r.n_days == n
    q = n * (n + 2.0) * sum(
        round(a * a / p, 12) for p, a in acfs
    )
    assert r.q_stat == pytest.approx(q, abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=-8, max_value=8),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    params=st.sampled_from([(0.5, 2.0, None), (0.25, 1.0, 3)]),
)
def test_cusum_changepoint_matches_python(spark, pts, params):
    from valentinus_spark.operators import cusum_changepoint

    k, h, baseline = params
    df, xs, offs = _series_df(spark, pts)
    got = cusum_changepoint(
        df, "ts", "value", k=k, h=h, baseline_days=baseline
    ).collect()
    ref = (
        xs
        if baseline is None
        else [x for d, x in zip(offs, xs) if d - offs[0] < baseline]
    )
    n = len(ref)
    mean = round(sum(ref) / n, 9)
    var = sum(v * v for v in ref) / n - (sum(ref) / n) ** 2
    sig = round(math.sqrt(var), 9) if var > 0 else 0.0
    sp = sm = 0.0
    assert len(got) == len(xs)
    for row, x in zip(got, xs):
        z = round((x - mean) / sig, 9) if sig > 0 else 0.0
        sp = max(0.0, sp + z - k)
        sm = max(0.0, sm - z - k)
        assert row.z == pytest.approx(z, abs=2e-6)
        assert row.cusum_pos == pytest.approx(sp, abs=2e-6)
        assert row.cusum_neg == pytest.approx(sm, abs=2e-6)
        assert row.alarm == (round(sp, 6) > h or round(sm, 6) > h)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=day_series, lam=st.sampled_from([0.2, 0.5]))
def test_ewma_chart_matches_python(spark, pts, lam):
    from valentinus_spark.operators import ewma_chart

    L = 3.0
    df, xs, _ = _series_df(spark, pts)
    got = ewma_chart(df, "ts", "value", lam=lam, L=L).collect()
    n = len(xs)
    mu = round(sum(xs) / n, 9)
    var = sum(v * v for v in xs) / n - (sum(xs) / n) ** 2
    sig = round(math.sqrt(var), 9) if var >= 0 else float("nan")
    e, p = mu, 1.0
    oml2 = (1.0 - lam) ** 2
    lfac = lam / (2.0 - lam)
    assert len(got) == n
    for row, x in zip(got, xs):
        e = lam * x + (1.0 - lam) * e
        p = p * oml2
        half = L * sig * math.sqrt(lfac * (1.0 - p))
        assert row.x == x
        assert row.ewma == pytest.approx(e, abs=2e-6)
        assert row.ucl == pytest.approx(mu + half, abs=2e-6)
        assert row.lcl == pytest.approx(mu - half, abs=2e-6)
        assert row.alarm == (
            round(e, 6) > round(mu + half, 6) or round(e, 6) < round(mu - half, 6)
        )


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=day_series, ab=st.sampled_from([(0.3, 0.1), (0.5, 0.3)]))
def test_holt_linear_matches_python(spark, pts, ab):
    from valentinus_spark.operators import holt_linear_forecast

    alpha, beta = ab
    df, xs, _ = _series_df(spark, pts)
    got = holt_linear_forecast(df, "ts", "value", alpha=alpha, beta=beta).collect()
    if len(xs) < 2:
        assert got == []
        return
    level, trend = xs[0], xs[1] - xs[0]
    assert len(got) == len(xs) - 1
    for row, x in zip(got, xs[1:]):
        f = level + trend
        new_level = alpha * x + (1.0 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1.0 - beta) * trend
        level = new_level
        assert row.x == x
        assert row.forecast == pytest.approx(f, abs=2e-6)
        assert row.abs_err == pytest.approx(abs(x - f), abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=day_series, period=st.sampled_from([3, 4]))
def test_holt_winters_matches_python(spark, pts, period):
    from valentinus_spark.operators import holt_winters_forecast

    aa, bb, gg = 0.3, 0.1, 0.2
    df, xs, _ = _series_df(spark, pts)
    got = holt_winters_forecast(
        df, "ts", "value", period=period, alpha=aa, beta=bb, gamma=gg
    ).collect()
    m = period
    if len(xs) < m + 1:
        assert got == []
        return
    level = xs[m - 1]
    trend = (xs[m - 1] - xs[0]) / (m - 1.0)
    seas = [xs[j] - level for j in range(m)]
    assert len(got) == len(xs) - m
    for i, (row, x) in enumerate(zip(got, xs[m:])):
        t = m + i
        ph = t % m
        f = level + trend + seas[ph]
        new_level = aa * (x - seas[ph]) + (1.0 - aa) * (level + trend)
        new_trend = bb * (new_level - level) + (1.0 - bb) * trend
        seas[ph] = gg * (x - new_level) + (1.0 - gg) * seas[ph]
        level, trend = new_level, new_trend
        assert row.x == x
        assert row.forecast == pytest.approx(f, abs=2e-6)
        assert row.abs_err == pytest.approx(abs(x - f), abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(pts=day_series, period=st.sampled_from([3, 4]))
def test_seasonal_decompose_matches_python(spark, pts, period):
    from valentinus_spark.operators import seasonal_decompose

    df, xs, _ = _series_df(spark, pts)
    got = seasonal_decompose(df, "ts", "value", period=period).collect()
    n = len(xs)
    half = period // 2
    trend = []
    for t in range(n):
        lo, hi = t - half, t + (period - half - 1)
        if lo >= 0 and hi < n:
            trend.append(round(sum(xs[lo : hi + 1]) / period, 9))
        else:
            trend.append(None)
    detr = [
        round(x - tr, 9) if tr is not None else None for x, tr in zip(xs, trend)
    ]
    slot_vals: dict = {}
    for t, d in enumerate(detr):
        if d is not None:
            slot_vals.setdefault(t % period, []).append(d)
    slot_mean = {
        s: round(sum(vs) / len(vs), 9) for s, vs in slot_vals.items()
    }
    if slot_mean:
        grand = round(sum(slot_mean.values()) / len(slot_mean), 9)
        seas = {s: round(v - grand, 9) for s, v in slot_mean.items()}
    else:
        seas = {}
    assert len(got) == n
    for t, row in enumerate(got):
        assert row.x == xs[t]
        if trend[t] is None:
            assert row.trend is None and row.remainder is None
        else:
            assert row.trend == pytest.approx(trend[t], abs=2e-6)
            assert row.remainder == pytest.approx(
                detr[t] - seas[t % period], abs=2e-6
            )
        s = seas.get(t % period)
        if s is None:
            assert row.seasonal is None
        else:
            assert row.seasonal == pytest.approx(s, abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=2,
        max_size=21,
        unique_by=lambda t: t[0],
    )
)
def test_seasonal_mann_kendall_matches_python(spark, pts):
    from collections import Counter, defaultdict

    from valentinus_spark.operators import seasonal_mann_kendall

    df, _, _ = _series_df(spark, pts)
    r = seasonal_mann_kendall(df, "ts", "value").collect()[0]
    by_season = defaultdict(list)
    for d, v in sorted(pts):
        day = _dt.date(2024, 1, 1) + _dt.timedelta(days=d)
        by_season[day.weekday()].append(float(v))
    s = 0
    var = 0.0
    for vs in by_season.values():
        s += sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(len(vs))
            for j in range(i + 1, len(vs))
        )
        ng = len(vs)
        tie = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vs).values())
        var += round((ng * (ng - 1) * (2 * ng + 5) - tie) / 18.0, 9)
    assert r.n_days == len(pts)
    assert r.n_seasons == len(by_season)
    assert r.s_stat == s
    assert r.var_s == pytest.approx(round(var, 6), abs=1e-6)
    if var > 0:
        z = (
            0.0
            if s == 0
            else (s - 1) / math.sqrt(var)
            if s > 0
            else (s + 1) / math.sqrt(var)
        )
        assert r.z == pytest.approx(round(z, 6), abs=1e-6)
        assert r.p_value == pytest.approx(
            min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
        )
    else:
        assert r.z is None and r.p_value is None


# ---------------------------------------------------------------------------
# experiment readouts vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),  # "c" must be filtered out
            st.integers(min_value=-4, max_value=4),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_mann_whitney_u_matches_python(spark, rows):
    from collections import Counter

    from valentinus_spark.operators import mann_whitney_u

    df = spark.createDataFrame(rows, ["g", "v"])
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    a = sorted(v for g, v in rows if g == "a")
    b = sorted(v for g, v in rows if g == "b")
    na, nb = len(a), len(b)
    assert (r.n_a, r.n_b) == (na, nb)
    allv = sorted(a + b)
    cnt = Counter(allv)
    rank = {}
    before = 0
    for v in sorted(cnt):
        rank[v] = before + (cnt[v] + 1) / 2.0
        before += cnt[v]
    rb = sum(rank[v] for v in b)
    u = rb - nb * (nb + 1) / 2.0
    if na and nb:
        assert r.u == pytest.approx(u, abs=1e-6)
    ties = sum(t**3 - t for t in cnt.values())
    nn = na + nb
    var = (
        na * nb / 12.0 * ((nn + 1.0) - ties / (nn * (nn - 1.0)))
        if nn > 1
        else 0.0
    )
    if na and nb and var > 0:
        z = (u - na * nb / 2.0) / math.sqrt(var)
        assert r.z == pytest.approx(z, abs=2e-6)
        assert r.p_value == pytest.approx(
            min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
        )
    else:
        assert r.z is None and r.p_value is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0, 1, 2]),  # arm 2 must be filtered out
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cuped_adjust_matches_python(spark, rows):
    from valentinus_spark.operators import cuped_adjust

    df = spark.createDataFrame(rows, ["arm", "y", "x"])
    got = {
        r.arm: r for r in cuped_adjust(df, "arm", "y", "x").collect()
    }
    kept = [(a, y, x) for a, y, x in rows if a in (0, 1)]
    assert set(got) == {a for a, _, _ in kept}
    if not kept:
        return
    N = len(kept)
    sy = sum(y for _, y, _ in kept)
    sx = sum(x for _, _, x in kept)
    sxy = sum(y * x for _, y, x in kept)
    sxx = sum(x * x for _, _, x in kept)
    syy = sum(y * y for _, y, _ in kept)
    mx, my = sx / N, sy / N
    varx = sxx / N - mx * mx
    vary = syy / N - my * my
    covxy = sxy / N - mx * my
    theta = covxy / varx if varx > 0 else None
    vr = (
        covxy * covxy / (varx * vary)
        if theta is not None and vary > 0
        else None
    )
    for arm in got:
        ys = [y for a, y, _ in kept if a == arm]
        xs = [x for a, _, x in kept if a == arm]
        n = len(ys)
        mean_raw = sum(ys) / n
        if theta is not None:
            mean_adj = mean_raw - theta * (sum(xs) / n - mx)
        else:
            mean_adj = mean_raw
        row = got[arm]
        assert row.n == n
        assert row.mean_raw == pytest.approx(mean_raw, abs=2e-6)
        assert row.mean_adj == pytest.approx(mean_adj, abs=2e-6)
        if theta is None:
            assert row.theta is None
        else:
            assert row.theta == pytest.approx(theta, abs=2e-6)
        if vr is None:
            assert row.var_reduction is None
        else:
            assert row.var_reduction == pytest.approx(vr, abs=2e-6)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0, 1]),
            st.sampled_from([0, 1]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_did_estimate_matches_python(spark, rows):
    from valentinus_spark.operators import did_estimate

    df = spark.createDataFrame(rows, ["arm", "period", "v"])
    r = did_estimate(df, "arm", "period", "v").collect()[0]
    cells = {}
    for a, p, v in rows:
        cells.setdefault((a, p), []).append(v)

    def mean(a, p):
        vs = cells.get((a, p))
        return sum(vs) / len(vs) if vs else None

    def von(a, p):
        vs = cells[(a, p)]
        n, m = len(vs), sum(vs) / len(vs)
        return (sum(v * v for v in vs) - n * m * m) / (n - 1.0) / n

    means = {c: mean(*c) for c in [(0, 0), (0, 1), (1, 0), (1, 1)]}
    for name, c in [
        ("mean_c_pre", (0, 0)),
        ("mean_c_post", (0, 1)),
        ("mean_t_pre", (1, 0)),
        ("mean_t_post", (1, 1)),
    ]:
        if means[c] is None:
            assert getattr(r, name) is None
        else:
            assert getattr(r, name) == pytest.approx(means[c], abs=1e-6)
    if all(m is not None for m in means.values()):
        did = (means[(1, 1)] - means[(1, 0)]) - (means[(0, 1)] - means[(0, 0)])
        assert r.did == pytest.approx(did, abs=2e-6)
        ok = all(len(cells[c]) >= 2 for c in means)
        if ok:
            se = math.sqrt(sum(von(*c) for c in means))
            assert r.se == pytest.approx(se, abs=2e-6)
            if se > 0:
                assert r.z == pytest.approx(did / se, abs=2e-6)
        else:
            assert r.se is None and r.z is None
    else:
        assert r.did is None and r.se is None and r.z is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.sampled_from([0, 1]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=25,
    ),
    sigma2=st.sampled_from([None, 2.0]),
)
def test_msprt_matches_python(spark, rows, sigma2):
    from valentinus_spark.operators import msprt_test

    tau = 0.5
    data = [
        (_dt.datetime(2024, 1, 1) + _dt.timedelta(days=d), a, float(v))
        for d, a, v in rows
    ]
    df = spark.createDataFrame(data, ["ts", "arm", "value"])
    got = msprt_test(df, "ts", "arm", "value", tau=tau, sigma2=sigma2).collect()
    if sigma2 is None:
        vs = [v for _, _, v in rows]
        n = len(vs)
        if n > 1:
            s, ss = sum(vs), sum(v * v for v in vs)
            s2 = round((ss - n * (s / n) * (s / n)) / (n - 1.0), 9)
        else:
            s2 = 1.0
    else:
        s2 = sigma2
    days = sorted({d for d, _, _ in rows})
    assert [r.day for r in got] == [
        _dt.date(2024, 1, 1) + _dt.timedelta(days=d) for d in days
    ]
    tau2 = tau * tau
    cna = cnb = 0
    csa = csb = 0.0
    best = None
    for row, d in zip(got, days):
        cna += sum(1 for dd, a, _ in rows if dd == d and a == 0)
        cnb += sum(1 for dd, a, _ in rows if dd == d and a == 1)
        csa += sum(v for dd, a, v in rows if dd == d and a == 0)
        csb += sum(v for dd, a, v in rows if dd == d and a == 1)
        assert (row.n_a, row.n_b) == (cna, cnb)
        if cna and cnb:
            y = csb / cnb - csa / cna
            v = s2 * (1.0 / cna + 1.0 / cnb)
            assert row.mean_diff == pytest.approx(y, abs=2e-6)
            if v > 0:
                llr = round(
                    0.5 * math.log(v / (v + tau2))
                    + y * y * tau2 / (2.0 * v * (v + tau2)),
                    9,
                )
                best = llr if best is None else max(best, llr)
                assert row.log_lr == pytest.approx(llr, abs=2e-6)
                assert row.p_always_valid == pytest.approx(
                    min(1.0, math.exp(-best)), abs=2e-6
                )
            else:
                assert row.log_lr is None
        else:
            assert row.log_lr is None and row.p_always_valid is None


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            st.integers(min_value=-8, max_value=8),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_james_stein_matches_python(spark, rows):
    from valentinus_spark.operators import james_stein_means

    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r.g: r for r in james_stein_means(df, "g", "v").collect()}
    groups = sorted({g for g, _ in rows})
    assert sorted(got) == groups
    m, ssw, n = {}, {}, {}
    for g in groups:
        vs = [v for gg, v in rows if gg == g]
        n[g] = len(vs)
        s1, s2 = sum(vs), sum(v * v for v in vs)
        m[g] = round(s1 / n[g], 9)
        ssw[g] = round(s2 - s1 * s1 / n[g], 9)
    k, ntot = len(groups), len(rows)
    grand = round(sum(m.values()) / k, 9)
    s2pool = (
        round(sum(ssw.values()) / (ntot - k), 9) if ntot > k else None
    )
    S = sum(round((m[g] - grand) ** 2, 9) for g in groups)
    for g in groups:
        if k >= 4 and S > 0 and s2pool is not None:
            vi = s2pool / n[g]
            w = max(0.0, 1.0 - (k - 3.0) * vi / S)
        else:
            w = 1.0
        shrunk = grand + w * (m[g] - grand)
        row = got[g]
        assert row.n == n[g]
        assert row.raw_mean == pytest.approx(m[g], abs=2e-6)
        assert row.shrunk_mean == pytest.approx(shrunk, abs=2e-6)
        assert row.shrink_weight == pytest.approx(w, abs=2e-6)


# ---------------------------------------------------------------------------
# corpus profile / readability vs python replicas
# ---------------------------------------------------------------------------

import re as _re


def _norm_py(text: str) -> str:
    return _re.sub(r"\s+", " ", text.lower()).strip()


def _toks_py(text: str) -> list:
    t = _norm_py(text)
    return t.split(" ") if t else []


def _syl_py(w: str) -> int:
    return max(1, len(_re.findall(r"[aeiouy]+", w.lower())))


word_pool = ["the", "cat", "sat", "extraordinary", "7", "xyzq", "mat.", "ran!"]
doc_strategy = st.lists(
    st.lists(st.sampled_from(word_pool), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=doc_strategy)
def test_flesch_readability_matches_python(spark, docs):
    from valentinus_spark.operators import flesch_readability

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r for r in flesch_readability(df).collect()}
    exp_ids = {i for i, d in enumerate(docs) if _toks_py(d)}
    assert set(got) == exp_ids
    for i in exp_ids:
        toks = _toks_py(docs[i])
        nw = len(toks)
        ns = max(1, len(_re.findall(r"[.!?]+", docs[i])))
        syl = sum(_syl_py(w) for w in toks)
        r = got[i]
        assert (r.n_words, r.n_sentences, r.n_syllables) == (nw, ns, syl)
        wps, spw = nw / ns, syl / nw
        assert r.fre == pytest.approx(206.835 - 1.015 * wps - 84.6 * spw, abs=2e-4)
        assert r.fk_grade == pytest.approx(0.39 * wps + 11.8 * spw - 15.59, abs=2e-4)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=doc_strategy)
def test_fog_smog_matches_python(spark, docs):
    from valentinus_spark.operators import fog_smog_readability

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r for r in fog_smog_readability(df).collect()}
    exp_ids = {i for i, d in enumerate(docs) if _toks_py(d)}
    assert set(got) == exp_ids
    for i in exp_ids:
        toks = _toks_py(docs[i])
        nw = len(toks)
        ns = max(1, len(_re.findall(r"[.!?]+", docs[i])))
        nc = sum(1 for w in toks if _syl_py(w) >= 3)
        r = got[i]
        assert (r.n_words, r.n_sentences, r.n_complex) == (nw, ns, nc)
        fog = 0.4 * (nw / ns + 100.0 * nc / nw)
        smog = 1.0430 * math.sqrt(nc * 30.0 / ns) + 3.1291
        assert r.fog == pytest.approx(fog, abs=2e-4)
        assert r.smog == pytest.approx(smog, abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=doc_strategy, k=st.sampled_from([3, 100]))
def test_zipf_profile_matches_python(spark, docs, k):
    from collections import Counter

    from valentinus_spark.operators import zipf_profile

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    r = zipf_profile(df, "text", k=k).collect()[0]
    # word_frequencies(letters_only=True): [a-z]+ runs of the lowercased
    # text — digits/punctuation never enter the vocabulary
    cnt = Counter(w for d in docs for w in _re.findall(r"[a-z]+", d.lower()))
    top = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))[:k]
    n = len(top)
    assert r.n_top == n
    if n == 0:
        return
    xs = [math.log(i + 1) for i in range(n)]
    ys = [math.log(f) for _, f in top]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    denom = n * sxx - sx * sx
    if denom == 0:
        assert r.slope is None and r.intercept is None
        return
    slope = (n * sxy - sx * sy) / denom
    assert r.slope == pytest.approx(slope, abs=2e-4)
    assert r.intercept == pytest.approx((sy - slope * sx) / n, abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(st.sampled_from(word_pool[:6]), min_size=1, max_size=8).map(
                " ".join
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_heaps_law_matches_python(spark, groups):
    from valentinus_spark.operators import heaps_law

    rows = [(g, i, t) for i, (g, t) in enumerate(groups)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {r.lang: r for r in heaps_law(df, "lang").collect()}
    exp_langs = {g for g, t in groups if _toks_py(t)}
    assert set(got) == exp_langs
    for lang in exp_langs:
        docs = [(i, _toks_py(t)) for i, (g, t) in enumerate(groups) if g == lang]
        docs = [(i, tk) for i, tk in docs if tk]
        docs.sort()
        seen: set = set()
        N = V = 0
        xs, ys = [], []
        for _, tk in docs:
            N += len(tk)
            V += len(set(tk) - seen)
            seen |= set(tk)
            xs.append(round(math.log10(N), 12))
            ys.append(round(math.log10(V), 12))
        n = len(docs)
        r = got[lang]
        assert (r.n_docs, r.n_tokens, r.vocab) == (n, N, V)
        mx, my = sum(xs) / n, sum(ys) / n
        varx = sum(x * x for x in xs) - n * mx * mx
        if n >= 2 and varx > 1e-12:
            beta = (sum(x * y for x, y in zip(xs, ys)) - n * mx * my) / varx
            assert r.beta == pytest.approx(beta, abs=2e-5)
            assert r.k == pytest.approx(10.0 ** (my - beta * mx), abs=2e-5)
        else:
            assert r.beta is None and r.k is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=doc_strategy)
def test_term_burstiness_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators import term_burstiness

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [
        (r.term, r.df, r.total_tf, r.mean_tf, r.vmr)
        for r in term_burstiness(df, min_df=1, topk=50).collect()
    ]
    D = len(docs)
    per_doc = [Counter(_toks_py(d)) for d in docs]
    terms = sorted({t for c in per_doc for t in c})
    exp = []
    for t in terms:
        cs = [c[t] for c in per_doc if t in c]
        dfreq, tot, sc2 = len(cs), sum(cs), sum(c * c for c in cs)
        if D < 2:
            continue
        mu = tot / D
        var = (sc2 - D * mu * mu) / (D - 1.0)
        exp.append((t, dfreq, tot, round(mu, 6), round(var / mu, 6)))
    exp.sort(key=lambda e: (-e[4], e[0]))
    exp = exp[:50]
    assert [(g[0], g[1], g[2]) for g in got] == [(e[0], e[1], e[2]) for e in exp]
    for g, e in zip(got, exp):
        assert g[3] == pytest.approx(e[3], abs=2e-6)
        assert g[4] == pytest.approx(e[4], abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_tail_index_matches_python_hill(spark, rows):
    from valentinus_spark.operators import tail_index

    min_tail, frac = 2, 0.25
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r.g: r
        for r in tail_index(df, "g", "v", tail_frac=frac, min_tail=min_tail).collect()
    }
    assert set(got) == {g for g, _ in rows}
    for g in got:
        xs = sorted((float(v) for gg, v in rows if gg == g), reverse=True)
        n = len(xs)
        m = min(max(min_tail, int(frac * n)), n - 1)
        r = got[g]
        assert (r.n, r.m) == (n, m)
        if m + 1 <= n and m >= 0:
            xmin = xs[m]
            assert r.x_min == xmin
            s = sum(round(math.log(x / xmin), 12) for x in xs[:m])
            if n > min_tail and s > 0:
                assert r.alpha == pytest.approx(m / s, abs=2e-6)
            else:
                assert r.alpha is None
        else:
            assert r.x_min is None and r.alpha is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=-5, max_value=20),
        ),
        min_size=1,
        max_size=30,
    ),
    n_tiles=st.sampled_from([4, 10]),
)
def test_decile_concentration_matches_python(spark, rows, n_tiles):
    from valentinus_spark.operators import decile_concentration

    df = spark.createDataFrame(rows, ["unit", "v"])
    got = decile_concentration(df, "unit", "v", n_tiles=n_tiles).collect()
    totals: dict = {}
    for u, v in rows:
        totals[u] = totals.get(u, 0) + v
    units = sorted(totals.items(), key=lambda t: (-t[1], t[0]))
    nu = len(units)
    base, rem = divmod(nu, n_tiles)
    tiles: dict = {}
    pos = 0
    for t in range(1, n_tiles + 1):
        size = base + (1 if t <= rem else 0)
        if size == 0:
            continue
        tiles[t] = units[pos : pos + size]
        pos += size
    tot = sum(totals.values())
    assert [r.tile for r in got] == sorted(tiles)
    cum = 0
    for r in got:
        members = tiles[r.tile]
        tv = sum(v for _, v in members)
        cum += tv
        assert r.n_units == len(members)
        assert r.tile_value == pytest.approx(float(tv), abs=1e-9)
        if tot != 0:
            assert r.value_share == pytest.approx(tv / tot, abs=2e-6)
            assert r.cum_share == pytest.approx(cum / tot, abs=2e-6)
        else:
            assert r.value_share is None and r.cum_share is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(st.sampled_from(word_pool[:6]), min_size=0, max_size=8).map(
                " ".join
            ),
        ),
        min_size=1,
        max_size=10,
    ),
    vocab_size=st.sampled_from([2, 4]),
)
def test_vocab_coverage_matches_python(spark, groups, vocab_size):
    from collections import Counter

    from valentinus_spark.operators import vocab_coverage

    rows = [(g, t) for g, t in groups]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {
        r.lang: r
        for r in vocab_coverage(df, vocab_size=vocab_size, group_col="lang").collect()
    }
    per_group: dict = {}
    for g, t in groups:
        if not _norm_py(t):
            continue
        per_group.setdefault(g, Counter()).update(_toks_py(t))
    assert set(got) == set(per_group)
    global_cnt = Counter()
    for c in per_group.values():
        global_cnt.update(c)
    vocab = {
        w
        for w, _ in sorted(global_cnt.items(), key=lambda t: (-t[1], t[0]))[
            :vocab_size
        ]
    }
    for g, c in per_group.items():
        r = got[g]
        n_tok = sum(c.values())
        covered = sum(v for w, v in c.items() if w in vocab)
        assert r.n_tokens == n_tok
        assert r.n_types == len(c)
        assert r.covered_tokens == covered
        assert r.oov_types == sum(1 for w in c if w not in vocab)
        assert r.oov_rate == pytest.approx(1.0 - covered / n_tok, abs=2e-4)


# ---------------------------------------------------------------------------
# ranking fusion / evaluation panels vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lists=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=12),
                st.integers(min_value=0, max_value=8),
            ),
            min_size=1,
            max_size=8,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=3,
    ),
    topk=st.sampled_from([3, 10]),
)
def test_rrf_fuse_matches_python(spark, lists, topk):
    from valentinus_spark.operators import rrf_fuse

    k0 = 60
    dfs = [
        spark.createDataFrame(rows, ["doc_id", "score"]) for rows in lists
    ]
    got = [
        (r.doc_id, r.rrf_score, r.n_lists)
        for r in rrf_fuse(dfs, "doc_id", k0=k0, topk=topk).collect()
    ]
    scores: dict = {}
    nlists: dict = {}
    for rows in lists:
        ranked = sorted(rows, key=lambda t: (-t[1], t[0]))
        for rank, (doc, _) in enumerate(ranked, start=1):
            scores[doc] = scores.get(doc, 0.0) + 1.0 / (k0 + rank)
            nlists[doc] = nlists.get(doc, 0) + 1
    exp = sorted(
        ((d, round(s, 6), nlists[d]) for d, s in scores.items()),
        key=lambda t: (-t[1], t[0]),
    )[:topk]
    assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cands=st.lists(
        st.tuples(
            st.sampled_from([0, 1]),  # qid
            st.tuples(
                st.integers(min_value=-3, max_value=3),
                st.integers(min_value=-3, max_value=3),
                st.integers(min_value=0, max_value=3),
            ),
            st.integers(min_value=1, max_value=63),  # similarity numerator
        ),
        min_size=1,
        max_size=10,
        unique_by=(lambda t: (t[0], t[2]),),  # unique similarity per query
    ),
    k=st.sampled_from([2, 4]),
    lam=st.sampled_from([0.5, 1.0]),
)
def test_mmr_rerank_is_greedy_optimal_per_step(spark, cands, k, lam):
    """Validates the greedy invariant from the operator's own pick
    order (tie order inside applyInPandas groups is not pinned):
    every reported score equals the MMR formula for that pick AND is
    the step maximum over the remaining candidates."""
    import numpy as np

    from valentinus_spark.operators import mmr_rerank

    rows = [
        (q, i, [float(a) for a in v], s / 64.0)
        for i, (q, v, s) in enumerate(cands)
    ]
    df = spark.createDataFrame(rows, "qid int, id long, embedding array<float>, similarity double")
    got = mmr_rerank(df, k=k, lam=lam).collect()
    by_q: dict = {}
    for q, i, v, s in rows:
        by_q.setdefault(q, {})[i] = (np.array(v, dtype=np.float64), s)
    out_by_q: dict = {}
    for r in got:
        out_by_q.setdefault(r.qid, []).append(r)
    assert set(out_by_q) == set(by_q)
    for q, picks in out_by_q.items():
        picks.sort(key=lambda r: r.mmr_rank)
        pool = by_q[q]
        assert [p.mmr_rank for p in picks] == list(
            range(1, min(k, len(pool)) + 1)
        )
        maxsim = {i: -1.0 for i in pool}
        chosen: set = set()
        for p in picks:
            mmr = {}
            for i, (v, rel) in pool.items():
                if i in chosen:
                    continue
                pen = 0.0 if maxsim[i] < 0 else maxsim[i]
                mmr[i] = lam * rel - (1 - lam) * pen
            assert p.id in mmr
            assert p.mmr_score == pytest.approx(mmr[p.id], abs=1e-9)
            assert mmr[p.id] >= max(mmr.values()) - 1e-9
            chosen.add(p.id)
            pv = pool[p.id][0]
            pn = np.linalg.norm(pv) or 1.0
            for i, (v, _) in pool.items():
                n2 = np.linalg.norm(v) or 1.0
                maxsim[i] = max(maxsim[i], float(v @ pv / (n2 * pn)))


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_rank_normalize_matches_percent_rank(spark, rows):
    from valentinus_spark.operators import rank_normalize

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["g", "score", "id"])
    got = {r.id: r.pct_rank for r in rank_normalize(df, "g", "score").collect()}
    for g in {g for g, _ in rows}:
        vals = sorted(v for gg, v in rows if gg == g)
        n = len(vals)
        for i, (gg, v) in enumerate(rows):
            if gg != g:
                continue
            if n == 1:
                exp = 0.0
            else:
                exp = vals.index(v) / (n - 1)  # ties share the min rank
            assert got[i] == pytest.approx(exp, abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-10, max_value=10), min_size=1, max_size=20),
    bits=st.sampled_from([2, 4]),
)
def test_rank_scale_matches_percent_rank(spark, vals, bits):
    from valentinus_spark.operators.layout import rank_scale

    data = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(data, ["id", "v"])
    got = {r.id: r.v_scaled for r in rank_scale(df, "v", bits=bits).collect()}
    s = sorted(vals)
    n = len(vals)
    for i, v in data:
        pr = 0.0 if n == 1 else s.index(v) / (n - 1)
        exp = min(math.floor(pr * (1 << bits)), (1 << bits) - 1)
        assert got[i] == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["q1", "q2"]),
            st.integers(min_value=0, max_value=10),
            st.sampled_from([0, 1]),
        ),
        min_size=1,
        max_size=20,
    ),
    k=st.sampled_from([3, 5]),
)
def test_map_mrr_matches_python(spark, rows, k):
    from valentinus_spark.operators import map_mrr

    data = [(q, i, s, r) for i, (q, s, r) in enumerate(rows)]
    df = spark.createDataFrame(data, ["q", "id", "score", "rel"])
    got = {
        r.query: r for r in map_mrr(df, "q", "id", "score", "rel", k=k).collect()
    }
    assert set(got) == {q for q, _, _ in rows}
    for q in got:
        judged = sorted(
            ((s, i, r) for qq, i, s, r in data if qq == q),
            key=lambda t: (-t[0], t[1]),
        )
        n_rel = sum(r for _, _, r in judged)
        row = got[q]
        assert (row.n_judged, row.n_rel) == (len(judged), n_rel)
        if n_rel == 0:
            assert row.ap_at_k is None and row.rr is None
            continue
        cr = 0
        ap_sum = 0.0
        first = None
        for rank, (_, _, rel) in enumerate(judged, start=1):
            cr += rel
            if rel:
                if first is None:
                    first = rank
                if rank <= k:
                    ap_sum += round(cr / rank, 12)
        assert row.ap_at_k == pytest.approx(ap_sum / min(n_rel, k), abs=2e-6)
        assert row.rr == pytest.approx(1.0 / first, abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # score twentieths
            st.sampled_from([0, 1]),
        ),
        min_size=1,
        max_size=25,
    ),
    n_bins=st.sampled_from([4, 10]),
)
def test_calibration_curve_matches_python(spark, rows, n_bins):
    from valentinus_spark.operators import calibration_curve

    data = [(s / 20.0, y) for s, y in rows]
    df = spark.createDataFrame(data, "score double, label int")
    got = {r.bin: r for r in calibration_curve(df, "score", "label", n_bins=n_bins).collect()}
    bins: dict = {}
    for s, y in data:
        b = min(math.floor(s * n_bins), n_bins - 1)
        bins.setdefault(b, []).append((s, y))
    assert set(got) == set(bins)
    for b, members in bins.items():
        r = got[b]
        ms = sum(s for s, _ in members) / len(members)
        pr = sum(y for _, y in members) / len(members)
        assert r.n_rows == len(members)
        assert r.bin_lo == pytest.approx(b / n_bins, abs=1e-12)
        assert r.bin_hi == pytest.approx((b + 1) / n_bins, abs=1e-12)
        assert r.mean_score == pytest.approx(ms, abs=1e-9)
        assert r.positive_rate == pytest.approx(pr, abs=1e-9)
        assert r.abs_gap == pytest.approx(abs(ms - pr), abs=1e-9)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.sampled_from([0, 1]),
        ),
        min_size=1,
        max_size=25,
    ),
    n_tiles=st.sampled_from([3, 5]),
)
def test_gain_lift_matches_python(spark, rows, n_tiles):
    from valentinus_spark.operators import gain_lift_chart

    data = [(s, y, i) for i, (s, y) in enumerate(rows)]
    df = spark.createDataFrame(data, ["score", "label", "id"])
    got = gain_lift_chart(df, "score", "label", "id", n_tiles=n_tiles).collect()
    ordered = sorted(data, key=lambda t: (-t[0], t[2]))
    n = len(ordered)
    base, rem = divmod(n, n_tiles)
    tiles: dict = {}
    pos = 0
    for t in range(1, n_tiles + 1):
        size = base + (1 if t <= rem else 0)
        if size == 0:
            continue
        tiles[t] = ordered[pos : pos + size]
        pos += size
    tot_pos = sum(y for _, y, _ in data)
    assert [r.tile for r in got] == sorted(tiles)
    cum = 0
    for r in got:
        members = tiles[r.tile]
        npos = sum(y for _, y, _ in members)
        cum += npos
        assert (r.n, r.n_pos) == (len(members), npos)
        if tot_pos > 0:
            assert r.cum_recall == pytest.approx(cum / tot_pos, abs=2e-6)
            lift = (npos / len(members)) / (tot_pos / n)
            assert r.lift == pytest.approx(lift, abs=2e-6)
        else:
            assert r.cum_recall is None and r.lift is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    cells=st.dictionaries(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # subject
            st.sampled_from(["i1", "i2", "i3"]),
        ),
        st.integers(min_value=0, max_value=6),
        min_size=1,
        max_size=15,
    )
)
def test_cronbach_alpha_matches_python(spark, cells):
    from valentinus_spark.operators import cronbach_alpha

    rows = [(s, i, float(v)) for (s, i), v in cells.items()]
    df = spark.createDataFrame(rows, ["subj", "item", "score"])
    r = cronbach_alpha(df, "subj", "item", "score").collect()[0]
    items = sorted({i for _, i in cells})
    k_total = len(items)
    subjects = sorted({s for s, _ in cells})
    complete = [
        s for s in subjects if all((s, i) in cells for i in items)
    ]
    assert r.n_subjects == len(complete)
    k_out = k_total if complete else 0
    assert r.k == k_out
    if not complete:
        assert r.alpha is None
        return
    item_vars = []
    for i in items:
        vs = [cells[(s, i)] for s in complete]
        n = len(vs)
        item_vars.append(
            round(sum(v * v for v in vs) / n - (sum(vs) / n) ** 2, 9)
        )
    tots = [sum(cells[(s, i)] for i in items) for s in complete]
    n = len(tots)
    vt = round(sum(t * t for t in tots) / n - (sum(tots) / n) ** 2, 9)
    if k_total >= 2 and vt > 0:
        alpha = k_total / (k_total - 1.0) * (1.0 - sum(item_vars) / vt)
        assert r.alpha == pytest.approx(alpha, abs=2e-6)
    else:
        assert r.alpha is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
            st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
            st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),
        ),
        min_size=0,
        max_size=20,
    )
)
def test_correlation_matrix_matches_python(spark, rows):
    from valentinus_spark.operators import correlation_matrix

    df = spark.createDataFrame(rows, "x int, y int, z int")
    cols = ["x", "y", "z"]
    got = {
        (r.col_a, r.col_b): r
        for r in correlation_matrix(df, cols).collect()
    }
    kept = [t for t in rows if all(v is not None for v in t)]
    n = len(kept)
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    for (ca, cb), r in got.items():
        assert r.n == n
        ia, ib = cols.index(ca), cols.index(cb)
        if n == 0:
            assert r.corr is None
            continue
        a = [t[ia] for t in kept]
        b = [t[ib] for t in kept]
        cov = sum(x * y for x, y in zip(a, b)) - sum(a) * sum(b) / n
        va = sum(x * x for x in a) - sum(a) ** 2 / n
        vb = sum(x * x for x in b) - sum(b) ** 2 / n
        if va > 0 and vb > 0:
            assert r.corr == pytest.approx(cov / math.sqrt(va * vb), abs=2e-6)
        else:
            assert r.corr is None


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_simpsons_screen_matches_python(spark, rows):
    from valentinus_spark.operators import simpsons_paradox_screen

    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r.g: r for r in simpsons_paradox_screen(df, "g", "x", "y").collect()}
    assert set(got) == {g for g, _, _ in rows}

    def corr(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        cov = sum(x * y for x, y in pts) - sx * sy / n
        vx = sum(x * x for x, _ in pts) - sx * sx / n
        vy = sum(y * y for _, y in pts) - sy * sy / n
        return cov / math.sqrt(vx * vy) if vx > 0 and vy > 0 else None

    pooled = corr([(x, y) for _, x, y in rows])
    pooled_r = round(pooled, 6) if pooled is not None else None
    for g, r in got.items():
        pts = [(x, y) for gg, x, y in rows if gg == g]
        c = corr(pts)
        assert r.n == len(pts)
        if c is None:
            assert r.corr is None and r.sign_reversed is None
        else:
            assert r.corr == pytest.approx(c, abs=2e-6)
            if pooled_r is None:
                assert r.pooled_corr is None and r.sign_reversed is None
            else:
                assert r.pooled_corr == pytest.approx(pooled_r, abs=2e-6)
                assert r.sign_reversed == (round(c, 6) * pooled_r < 0)


# ---------------------------------------------------------------------------
# privacy / release-audit family vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["x", "y"])),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=25,
    ),
    k=st.sampled_from([2, 3]),
)
def test_k_anonymity_matches_python(spark, rows, k):
    from collections import Counter

    from valentinus_spark.operators import (
        k_anonymity_stats,
        k_anonymity_violations,
    )

    df = spark.createDataFrame(rows, "zip string, age int")
    quasi = ["zip", "age"]
    groups = Counter(rows)
    viol = {
        (z, a): c for (z, a), c in groups.items() if c < k
    }
    got_v = {
        (r.zip, r.age): r.group_size
        for r in k_anonymity_violations(df, quasi, k).collect()
    }
    assert got_v == viol
    s = k_anonymity_stats(df, quasi, k).collect()[0]
    assert s.n_rows == len(rows)
    assert s.n_groups == len(groups)
    assert s.violating_groups == len(viol)
    assert s.rows_at_risk == sum(viol.values())
    assert s.min_group_size == min(groups.values())


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=25,
    ),
    l=st.sampled_from([2, 3]),
)
def test_l_diversity_matches_python(spark, rows, l):
    from valentinus_spark.operators import l_diversity_stats

    df = spark.createDataFrame(rows, ["zip", "salary"])
    s = l_diversity_stats(df, ["zip"], "salary", l).collect()[0]
    per_group: dict = {}
    for z, v in rows:
        per_group.setdefault(z, []).append(v)
    assert s.n_rows == len(rows)
    assert s.n_groups == len(per_group)
    viol = {z for z, vs in per_group.items() if len(set(vs)) < l}
    assert s.violating_groups == len(viol)
    assert s.rows_at_risk == sum(len(per_group[z]) for z in viol)
    assert s.min_diversity == min(len(set(vs)) for vs in per_group.values())


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b"])),
            st.integers(min_value=0, max_value=2),
        ),
        min_size=1,
        max_size=25,
    ),
    epsilon=st.sampled_from([0.5, 1.0]),
    clamp=st.booleans(),
)
def test_dp_group_counts_matches_hash_replay(spark, rows, epsilon, clamp):
    from collections import Counter

    from valentinus_spark.operators import dp_group_counts

    salt = "dp-v1"
    df = spark.createDataFrame(rows, "src string, bucket int")
    got = {
        (r.src, r.bucket): r.dp_count
        for r in dp_group_counts(
            df, ["src", "bucket"], epsilon=epsilon, salt=salt, clamp_nonneg=clamp
        ).collect()
    }
    counts = Counter(rows)
    assert set(got) == set(counts)

    def geom(tag, key):
        h32 = int(
            hashlib.sha256(f"{salt}:{tag}:{key}".encode()).hexdigest()[:8], 16
        )
        u = (h32 + 0.5) / 4294967296.0
        return math.floor(math.log(u) / -epsilon)

    for (src, bucket), n in counts.items():
        # concat_ws skips NULLs entirely
        parts = [p for p in (src, str(bucket)) if p is not None]
        key = "\x1f".join(parts)
        dp = n + geom("a", key) - geom("b", key)
        if clamp:
            dp = max(0, dp)
        assert got[(src, bucket)] == dp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=25,
    ),
    t=st.sampled_from([0.1, 0.3]),
)
def test_t_closeness_matches_python_emd(spark, rows, t):
    from collections import Counter

    from valentinus_spark.operators import t_closeness_stats

    df = spark.createDataFrame(rows, ["zip", "salary"])
    got = {r.zip: r for r in t_closeness_stats(df, ["zip"], "salary", t=t).collect()}
    per_group: dict = {}
    for z, v in rows:
        per_group.setdefault(z, Counter())[v] += 1
    assert set(got) == set(per_group)
    glob = Counter(v for _, v in rows)
    spine = sorted(glob)
    N, m = len(rows), len(spine)
    for z, cnt in per_group.items():
        n = sum(cnt.values())
        cum = 0.0
        s = 0.0
        for i, v in enumerate(spine):
            cum += round(cnt.get(v, 0) / n - glob[v] / N, 12)
            if i < m - 1:
                s += abs(cum)
        emd = round(s / (m - 1), 6) if m > 1 else 0.0
        r = got[z]
        assert r.n == n
        assert r.emd == pytest.approx(emd, abs=2e-6)
        assert r.exceeds_t == (r.emd > t)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=8), min_size=0, max_size=25),
    mode=st.sampled_from(["data", "grid"]),
    epsilon=st.sampled_from([0.5, 2.0]),
)
def test_dp_median_matches_hash_replay(spark, vals, mode, epsilon):
    from collections import Counter

    from valentinus_spark.operators.validate import dp_median

    salt = "dpmed-v1"
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    kwargs = {} if mode == "data" else {"grid_lo": 0.0, "grid_hi": 8.0, "grid_steps": 5}
    r = dp_median(df, "v", epsilon=epsilon, salt=salt, **kwargs).collect()[0]
    n = len(vals)
    if n == 0:
        assert r.n is None and r.true_median is None and r.dp_median is None
        return
    assert r.n == n
    s = sorted(vals)
    cnt = Counter(vals)
    distinct = sorted(cnt)
    # true median: floor-rank two-middles on the distinct cumulative grid
    lo_rank = (n + 1) // 2
    hi_rank = n // 2 + 1
    assert r.true_median == pytest.approx(
        (s[lo_rank - 1] + s[hi_rank - 1]) / 2.0, abs=1e-9
    )
    if mode == "data":
        cands = distinct
    else:
        cands = [0.0, 2.0, 4.0, 6.0, 8.0]
    u0 = (int(hashlib.sha256(salt.encode()).hexdigest()[:8], 16) + 0.5) / 4294967296.0
    weights = []
    for c in cands:
        below = sum(v for k_, v in cnt.items() if k_ < c) if mode == "grid" else sum(
            cnt[k_] for k_ in distinct if k_ < c
        )
        util = -abs(below - n / 2.0)
        weights.append(round(math.exp(epsilon * util / 2.0), 12))
    wtot = sum(weights)
    wcum = 0.0
    pick = None
    for c, w in zip(cands, weights):
        wcum += w
        if wcum >= u0 * wtot:
            pick = c
            break
    assert r.dp_median == pytest.approx(float(pick), abs=1e-9)
    assert r.epsilon == epsilon


# ---------------------------------------------------------------------------
# cleaning / validation / rollup utilities vs python replicas
# ---------------------------------------------------------------------------

line_pool = [
    "a good long sentence here.",
    "short one",
    "Buy NOW javascript click",
    "three words here!",
    'quoted line ends well"',
    "no punct but plenty of words in it",
    "",
    "lorem ipsum dolor sit.",
]


def _wc_py(line: str) -> int:
    norm = _re.sub(r"\s+", " ", line.strip())
    return 0 if norm == "" else len(norm.split(" "))


def _keep_py(line, min_words, req_punct, patterns):
    if _wc_py(line) < min_words:
        return False
    if req_punct and not _re.search(r'[.!?"]\s*$', line):
        return False
    return not any(p.lower() in line.lower() for p in patterns)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(line_pool), min_size=1, max_size=6).map(
            "\n".join
        ),
        min_size=1,
        max_size=8,
    ),
    min_words=st.sampled_from([2, 4]),
    req_punct=st.booleans(),
)
def test_clean_lines_matches_python(spark, docs, min_words, req_punct):
    from valentinus_spark.operators import clean_lines

    line_pats = ["javascript"]
    doc_pats = ["lorem ipsum"]
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in clean_lines(
            df,
            "text",
            min_words=min_words,
            require_terminal_punct=req_punct,
            drop_line_patterns=line_pats,
            drop_doc_patterns=doc_pats,
            min_kept_lines=1,
        ).collect()
    }
    for i, doc in enumerate(docs):
        lines = doc.split("\n")
        kept = [
            l for l in lines if _keep_py(l, min_words, req_punct, line_pats)
        ]
        doc_hit = any(
            any(p.lower() in l.lower() for l in lines) for p in doc_pats
        )
        if doc_hit or len(kept) < 1:
            assert i not in got
            continue
        r = got[i]
        assert r.text == "\n".join(kept)
        assert (r.n_lines, r.n_kept) == (len(lines), len(kept))
        assert r.n_chars_clean == len("\n".join(kept))


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(line_pool), min_size=1, max_size=6).map(
            "\n".join
        ),
        min_size=1,
        max_size=8,
    ),
    min_words=st.sampled_from([2, 4]),
)
def test_line_filter_stats_matches_python(spark, docs, min_words):
    from valentinus_spark.operators import line_filter_stats

    pats = ["javascript"]
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    r = line_filter_stats(
        df, "text", min_words=min_words, drop_line_patterns=pats
    ).collect()[0]
    total = short = nopunct = blocked = 0
    for doc in docs:
        for l in doc.split("\n"):
            total += 1
            if _wc_py(l) < min_words:
                short += 1
            elif not _re.search(r'[.!?"]\s*$', l):
                nopunct += 1
            elif any(p.lower() in l.lower() for p in pats):
                blocked += 1
    assert (
        r.total_lines,
        r.dropped_short,
        r.dropped_no_punct,
        r.dropped_blocklist,
    ) == (total, short, nopunct, blocked)
    assert r.kept_lines == total - short - nopunct - blocked


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        ),
        min_size=0,
        max_size=20,
    ),
    parents=st.lists(st.integers(min_value=0, max_value=2), max_size=3),
)
def test_validate_primitives_match_python(spark, rows, parents):
    from valentinus_spark.operators import (
        check_expectations,
        fk_violations,
        uniqueness_violations,
    )

    df = spark.createDataFrame(rows, "v int, k int")
    got = {
        r.check: r.n_violations
        for r in check_expectations(
            df, [("v_pos", F.col("v") > 0), ("k_notnull", F.col("k").isNotNull())]
        ).collect()
    }
    assert got["v_pos"] == sum(1 for v, _ in rows if not (v is not None and v > 0))
    assert got["k_notnull"] == sum(1 for _, k in rows if k is None)
    u = uniqueness_violations(df, ["v", "k"]).collect()[0]
    assert u.n_violations == len(rows) - len(set(rows))
    p = spark.createDataFrame([(x,) for x in parents], "pk int")
    f = fk_violations(df, p, "k", "pk").collect()[0]
    pset = set(parents)
    assert f.n_violations == sum(1 for _, k in rows if k not in pset)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=40)),
        min_size=0,
        max_size=30,
    )
)
def test_sequence_gaps_matches_python(spark, ids):
    from valentinus_spark.operators import sequence_gaps

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = [
        (r.gap_start, r.gap_end, r.n_missing)
        for r in sequence_gaps(df, "id").collect()
    ]
    s = sorted({i for i in ids if i is not None})
    exp = []
    for a, b in zip(s, s[1:]):
        if b > a + 1:
            exp.append((a + 1, b - 1, b - a - 1))
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_resample_ffill_matches_python(spark, events):
    from valentinus_spark.operators import resample_ffill

    interval = 10
    df = spark.createDataFrame(events, ["k", "ts", "v"])
    got = {
        (r.k, r.tick_us): r.value
        for r in resample_ffill(df, "k", "ts", "v", interval_us=interval).collect()
    }
    exp = {}
    for key in {k for k, _, _ in events}:
        obs = [(ts, v) for k, ts, v in events if k == key]
        t0 = min(ts for ts, _ in obs) // interval
        t1 = max(ts for ts, _ in obs) // interval
        for tick in range(t0, t1 + 1):
            cands = [(ts, v) for ts, v in obs if ts < (tick + 1) * interval]
            exp[(key, tick * interval)] = max(cands)[1] if cands else None
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-8, max_value=8),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_trailing_anomaly_matches_python(spark, events):
    from valentinus_spark.operators import trailing_anomaly

    window, min_obs, thr = 3, 2, 1.5
    data = [(u, ts, i, v) for i, (u, ts, v) in enumerate(events)]
    df = spark.createDataFrame(data, ["user_id", "ts", "event_id", "value"])
    got = {
        r.event_id: (r.n_obs, r.trail_z, r.is_anomaly)
        for r in trailing_anomaly(
            df, "user_id", "ts", "value", "event_id",
            window=window, min_obs=min_obs, threshold=thr,
        ).collect()
    }
    for user in {u for u, _, _, _ in data}:
        seq = sorted(
            ((ts, i, v) for u, ts, i, v in data if u == user),
            key=lambda t: (t[0], t[1]),
        )
        for pos, (_, i, v) in enumerate(seq):
            prev = [pv for _, _, pv in seq[max(0, pos - window) : pos]]
            n = len(prev)
            assert got[i][0] == n
            if n >= min_obs:
                s, s2 = sum(prev), sum(p * p for p in prev)
                var = (s2 - s * s / n) / (n - 1)
                z = round((v - s / n) / math.sqrt(var), 4) if var > 1e-9 else 0.0
            else:
                z = 0.0
            assert got[i][1] == pytest.approx(z, abs=2e-4)
            assert got[i][2] == (abs(got[i][1]) > thr)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2", "k3"]),
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    use_value=st.booleans(),
)
def test_decayed_popularity_matches_python(spark, events, use_value):
    from valentinus_spark.operators import decayed_popularity

    hl = 2
    rows = [
        (k, _dt.datetime(2024, 1, 1) + _dt.timedelta(days=d), float(v))
        for k, d, v in events
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = [
        (r.k, r.n_events, r.decayed_score)
        for r in decayed_popularity(
            df, "k", "ts", "v" if use_value else None, half_life_days=hl
        ).collect()
    ]
    ref = max(d for _, d, _ in events)
    daily: dict = {}
    for k, d, v in events:
        key = (k, d)
        n, sv = daily.get(key, (0, 0.0))
        daily[key] = (n + 1, sv + (v if use_value else 1.0))
    scores: dict = {}
    counts: dict = {}
    for (k, d), (n, sv) in daily.items():
        w = round(math.exp(-(math.log(2.0) / hl) * (ref - d)), 12)
        scores[k] = scores.get(k, 0.0) + sv * w
        counts[k] = counts.get(k, 0) + n
    exp = sorted(
        ((k, counts[k], round(s, 4)) for k, s in scores.items()),
        key=lambda t: (-t[2], t[0]),
    )
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert g[2] == pytest.approx(e[2], abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # customer
            st.integers(min_value=0, max_value=20),  # day offset
            st.integers(min_value=1, max_value=100),  # amount
        ),
        min_size=1,
        max_size=25,
    ),
    n_tiles=st.sampled_from([3, 5]),
)
def test_rfm_segments_match_python(spark, orders, n_tiles):
    from valentinus_spark.operators import rfm_segments

    rows = [
        (c, _dt.date(2024, 1, 1) + _dt.timedelta(days=d), float(a))
        for c, d, a in orders
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate date, o_totalprice double"
    )
    got = {r.o_custkey: r for r in rfm_segments(df, n_tiles=n_tiles).collect()}
    per: dict = {}
    for c, d, a in orders:
        last, freq, mon = per.get(c, (-1, 0, 0.0))
        per[c] = (max(last, d), freq + 1, mon + a)
    ref = max(last for last, _, _ in per.values())
    custs = sorted(per)
    assert sorted(got) == custs

    def ntile_map(order_key):
        ranked = sorted(custs, key=order_key)
        n = len(ranked)
        base, rem = divmod(n, n_tiles)
        out = {}
        pos = 0
        for t in range(1, n_tiles + 1):
            size = base + (1 if t <= rem else 0)
            for c in ranked[pos : pos + size]:
                out[c] = t
            pos += size
        return out

    r_map = ntile_map(lambda c: (-(ref - per[c][0]), c))
    f_map = ntile_map(lambda c: (per[c][1], c))
    m_map = ntile_map(lambda c: (per[c][2], c))
    for c in custs:
        r = got[c]
        assert r.recency_days == ref - per[c][0]
        assert r.frequency == per[c][1]
        assert r.monetary == pytest.approx(per[c][2], abs=1e-9)
        assert (r.r_score, r.f_score, r.m_score) == (r_map[c], f_map[c], m_map[c])
        assert r.rfm == f"{r_map[c]}{f_map[c]}{m_map[c]}"


# ---------------------------------------------------------------------------
# deterministic sampling / sharding / packing vs exact hash replays
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["web", "code"]),
            st.integers(min_value=1, max_value=50),
        ),
        min_size=1,
        max_size=20,
    ),
    budgets=st.tuples(
        st.integers(min_value=0, max_value=120),
        st.integers(min_value=0, max_value=120),
    ),
)
def test_token_budget_sample_matches_hash_replay(spark, docs, budgets):
    from valentinus_spark.operators import token_budget_sample

    salt = "v1"
    rows = [(src, i, tok) for i, (src, tok) in enumerate(docs)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_tokens"])
    bdf = spark.createDataFrame(
        [("web", budgets[0]), ("code", budgets[1])],
        ["source", "budget_tokens"],
    )
    got = {
        r.doc_id for r in token_budget_sample(df, bdf, "source").collect()
    }
    exp = set()
    for src, budget in [("web", budgets[0]), ("code", budgets[1])]:
        members = sorted(
            ((i, tok) for s, i, tok in rows if s == src),
            key=lambda t: hashlib.sha256(
                f"{salt}\x1f{t[0]}".encode()
            ).hexdigest(),
        )
        cum = 0
        for i, tok in members:
            cum += tok
            if cum <= budget:
                exp.add(i)
    assert got == exp


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.lists(st.sampled_from(word_pool[:5]), min_size=0, max_size=6).map(
                " ".join
            ),
            st.booleans(),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_dsir_matches_python(spark, docs):
    from valentinus_spark.operators import dsir_importance_weights

    salt, B = "dsir-v1", 8
    rows = [(i, t, tg) for i, (t, tg) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {
        r.doc_id: (r.n_grams, r.dsir_logw)
        for r in dsir_importance_weights(
            df, F.col("tgt"), n_buckets=B, salt=salt
        ).collect()
    }

    def buckets(text):
        toks = _toks_py(text)
        grams = list(toks)
        grams += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [
            int(
                hashlib.sha256(f"{salt}:{g}".encode()).hexdigest()[:15], 16
            )
            % B
            for g in grams
        ]

    feats: dict = {}
    for i, t, tg in rows:
        bs = buckets(t)
        if not bs:
            continue
        for b in bs:
            feats[(i, tg, b)] = feats.get((i, tg, b), 0) + 1
    assert set(got) == {i for (i, _, _) in feats}
    rc: dict = {}
    tc: dict = {}
    for (i, tg, b), c in feats.items():
        rc[b] = rc.get(b, 0) + c
        if tg:
            tc[b] = tc.get(b, 0) + c
    R, T = sum(rc.values()), sum(tc.values())
    lr = {
        b: round(
            math.log((tc.get(b, 0) + 1.0) / (T + B))
            - math.log((rc[b] + 1.0) / (R + B)),
            6,
        )
        for b in rc
    }
    for i in got:
        cs = {b: c for (ii, _, b), c in feats.items() if ii == i}
        n_grams = sum(cs.values())
        logw = round(sum(c * lr[b] for b, c in cs.items()), 4)
        assert got[i][0] == n_grams
        assert got[i][1] == pytest.approx(logw, abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
def test_gumbel_sample_key_matches_hash_replay(spark, rows):
    from valentinus_spark.operators import gumbel_sample_key

    salt = "dsir-g1"
    rows = [(i, float(lw)) for i, lw in rows]
    df = spark.createDataFrame(rows, "id long, logw double")
    got = {
        r.id: r.key
        for r in df.select(
            "id", gumbel_sample_key("logw", "id", salt=salt).alias("key")
        ).collect()
    }
    for i, lw in rows:
        h32 = int(hashlib.sha256(f"{salt}{i}".encode()).hexdigest()[:8], 16)
        u = (h32 + 0.5) / 4294967296.0
        assert got[i] == pytest.approx(
            round(lw - math.log(-math.log(u)), 4), abs=2e-4
        )


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["aa", "bb", "cc"]),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    n_shards=st.sampled_from([3, 8]),
)
def test_shard_and_release_manifests_match_hash_replay(spark, rows, n_shards):
    from valentinus_spark.operators import release_manifest, shard_manifest

    salt = "v1"
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df = df.withColumn("n_chars", F.length("text"))

    def shard_of(i):
        return (
            int(hashlib.sha256(f"{salt}{i}".encode()).hexdigest()[:8], 16)
            % n_shards
        )

    got_m = {
        r.shard: (r.n_rows, r.total_n_chars)
        for r in shard_manifest(df, "doc_id", n_shards, ("n_chars",), salt).collect()
    }
    exp_m: dict = {}
    for i, t in rows:
        s = shard_of(i)
        n, c = exp_m.get(s, (0, 0))
        exp_m[s] = (n + 1, c + len(t))
    assert got_m == exp_m
    got_r = {
        r.shard: (r.n_rows, r.n_chars, r.content_xor)
        for r in release_manifest(df, "doc_id", "text", n_shards, salt).collect()
    }
    exp_r: dict = {}
    for i, t in rows:
        s = shard_of(i)
        h60 = int(
            hashlib.sha256(f"{i}\x1f{t}".encode()).hexdigest()[:15], 16
        )
        n, c, x = exp_r.get(s, (0, 0, 0))
        exp_r[s] = (n + 1, c + len(t), x ^ h60)
    assert got_r == exp_r


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=20,
        unique=True,
    ),
    epoch=st.sampled_from([0, 3]),
    n_shards=st.sampled_from([2, 4]),
)
def test_epoch_shuffle_matches_hash_replay(spark, ids, epoch, n_shards):
    from valentinus_spark.operators import epoch_shuffle

    salt = "ep-v1"
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: (r.shard, r.position)
        for r in epoch_shuffle(df, "doc_id", epoch, n_shards, salt).collect()
    }
    hs = {
        i: int(
            hashlib.sha256(f"{salt}:{epoch}:{i}".encode()).hexdigest()[:15], 16
        )
        for i in ids
    }
    exp = {}
    for s in range(n_shards):
        members = sorted(
            (i for i in ids if hs[i] % n_shards == s),
            key=lambda i: (hs[i], i),
        )
        for pos, i in enumerate(members):
            exp[i] = (s, pos)
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[1],
    ),
    k=st.sampled_from([2, 5]),
)
def test_group_sample_k_matches_hash_replay(spark, rows, k):
    from valentinus_spark.operators import group_sample_k

    salt = "gsk-v1"
    df = spark.createDataFrame(rows, ["g", "key"])
    got = {(r.g, r.key) for r in group_sample_k(df, ["g"], "key", k, salt).collect()}
    exp = set()
    for g in {g for g, _ in rows}:
        members = sorted(
            (key for gg, key in rows if gg == g),
            key=lambda key: (
                int(hashlib.sha256(f"{salt}{key}".encode()).hexdigest()[:8], 16),
                key,
            ),
        )
        exp |= {(g, key) for key in members[:k]}
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.integers(min_value=0, max_value=30),
        min_size=1,
        max_size=25,
    ),
    budget=st.sampled_from([10, 16]),
)
def test_pack_assignments_match_python(spark, docs, budget):
    from valentinus_spark.operators import pack_assignments

    rows = [(i, tok) for i, tok in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = {
        r.doc_id: (r.token_start, r.token_end, r.pack_first, r.pack_last)
        for r in pack_assignments(df, "doc_id", "n_tokens", budget=budget).collect()
    }
    cum = 0
    for i, tok in rows:
        start, end = cum, cum + tok
        cum = end
        first = start // budget
        last = max((end - 1) // budget, first)
        assert got[i] == (start, end, first, last)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2000),
            st.integers(min_value=1, max_value=200),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    params=st.sampled_from([(64, 4), (50, 3)]),
)
def test_length_bucket_batches_match_python(spark, rows, params):
    from valentinus_spark.operators import length_bucket_batches

    width, bs = params
    df = spark.createDataFrame(rows, ["id", "length"])
    got = {
        (r.bucket, r.batch_no): (r.n_rows, r.max_len, r.padding_waste)
        for r in length_bucket_batches(df, "length", "id", width, bs).collect()
    }
    per_bucket: dict = {}
    for i, ln in rows:
        per_bucket.setdefault(ln // width, []).append((ln, i))
    exp = {}
    for b, members in per_bucket.items():
        members.sort()
        for bn in range((len(members) + bs - 1) // bs):
            batch = members[bn * bs : (bn + 1) * bs]
            mx = max(ln for ln, _ in batch)
            exp[(b, bn)] = (
                len(batch),
                mx,
                len(batch) * mx - sum(ln for ln, _ in batch),
            )
    assert got == exp


# ---------------------------------------------------------------------------
# text-search family vs python replicas
# ---------------------------------------------------------------------------

ts_pool = ["cat", "dog", "sat", "mat", "the", "on", "big"]
ts_docs = st.lists(
    st.lists(st.sampled_from(ts_pool), min_size=0, max_size=10).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=ts_docs, k=st.sampled_from([2, 4]))
def test_tfidf_keywords_matches_python(spark, docs, k):
    from collections import Counter

    from valentinus_spark.operators import tfidf_keywords

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got: dict = {}
    for r in tfidf_keywords(df, k=k).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    nonempty = {i: _toks_py(d) for i, d in enumerate(docs) if _toks_py(d)}
    assert set(got) == set(nonempty)
    N = len(nonempty)
    dfreq = Counter()
    for toks in nonempty.values():
        dfreq.update(set(toks))
    for i, toks in nonempty.items():
        dl = len(toks)
        cnt = Counter(toks)
        scored = sorted(
            (
                (
                    -round(
                        (c / dl) * math.log((N + 1.0) / (dfreq[t] + 1.0)), 6
                    ),
                    t,
                )
                for t, c in cnt.items()
            ),
        )[:k]
        exp = [(rank, t, -s) for rank, (s, t) in enumerate(scored, start=1)]
        rows = sorted(got[i])
        assert [(r[0], r[1]) for r in rows] == [(e[0], e[1]) for e in exp]
        for r, e in zip(rows, exp):
            assert r[2] == pytest.approx(e[2], abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=ts_docs,
    phrase=st.sampled_from(["cat sat", "the cat", "dog", "cat sat on"]),
)
def test_phrase_search_matches_python(spark, docs, phrase):
    from valentinus_spark.operators import phrase_search

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r.n_matches for r in phrase_search(df, phrase).collect()}
    words = phrase.split()
    exp = {}
    for i, d in enumerate(docs):
        toks = _toks_py(d)
        n = sum(
            1
            for j in range(len(toks) - len(words) + 1)
            if toks[j : j + len(words)] == words
        )
        if n:
            exp[i] = n
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=ts_docs)
def test_taxonomy_tags_matches_python(spark, docs):
    from valentinus_spark.operators import taxonomy_tags

    lexicon = {"animals": ["cat", "dog"], "furniture": ["mat", "cat"]}
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.doc_id, r.topic): (r.n_hits, r.n_keywords)
        for r in taxonomy_tags(df, lexicon).collect()
    }
    exp = {}
    for i, d in enumerate(docs):
        toks = _toks_py(d)
        for topic, kws in lexicon.items():
            hits = [t for t in toks if t in kws]
            if hits:
                exp[(i, topic)] = (len(hits), len(set(hits)))
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=ts_docs,
    terms=st.sampled_from([["cat"], ["cat", "dog"], ["cat", "zebra"]]),
    k=st.sampled_from([3, 10]),
)
def test_ql_topk_matches_python(spark, docs, terms, k):
    from collections import Counter

    from valentinus_spark.operators import ql_topk

    mu = 5.0
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [
        (r.doc_id, r.score) for r in ql_topk(df, terms, k=k, mu=mu).collect()
    ]
    qterms = sorted({t.lower() for t in terms})
    nonempty = {i: _toks_py(d) for i, d in enumerate(docs) if _toks_py(d)}
    ctot = sum(len(t) for t in nonempty.values())
    cf = Counter()
    for toks in nonempty.values():
        for t in toks:
            if t in qterms:
                cf[t] += 1
    exp = []
    for i, toks in nonempty.items():
        cnt = Counter(toks)
        if not any(cnt.get(t) for t in qterms):
            continue
        dl = len(toks)
        score = 0.0
        for t in qterms:
            tf = cnt.get(t, 0)
            num = tf + mu * cf.get(t, 0) / ctot
            if num > 0:
                score += math.log(num / (dl + mu))
        exp.append((i, round(score, 4)))
    exp.sort(key=lambda t: (-t[1], t[0]))
    exp = exp[:k]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="abc x", min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    pattern=st.sampled_from(["ab", "abc", "c xa", "xx"]),
)
def test_substring_search_matches_contains(spark, docs, pattern):
    from valentinus_spark.operators import substring_search

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [r.doc_id for r in substring_search(df, pattern).collect()]
    exp = sorted(
        i for i, d in enumerate(docs) if pattern.lower() in d.lower()
    )
    assert got == exp


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["cat", "dog", "sat", "mat", "the", "on", "and"]),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    topk=st.sampled_from([5, 30]),
)
def test_rake_keywords_matches_python(spark, docs, topk):
    from valentinus_spark.functions.text import ENGLISH_STOPWORDS
    from valentinus_spark.operators import rake_keywords

    stop = set(ENGLISH_STOPWORDS)
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [
        (r.phrase, r.score, r.n_occ) for r in rake_keywords(df, topk=topk).collect()
    ]
    occs = []  # (phrase, words)
    for d in docs:
        run: list = []
        for t in _toks_py(d) + ["\x00stop"]:
            if t == "" or t in stop or t == "\x00stop":
                if run:
                    occs.append((" ".join(run), list(run)))
                run = []
            else:
                run.append(t)
    freq: dict = {}
    deg: dict = {}
    for _, words in occs:
        for w in words:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(words)
    wscore = {w: round(deg[w] / freq[w], 9) for w in freq}
    per_phrase: dict = {}
    for phrase, words in occs:
        raw = sum(wscore[w] for w in words)
        sc, n = per_phrase.get(phrase, (-1.0, 0))
        per_phrase[phrase] = (max(sc, raw), n + 1)
    exp = sorted(
        ((p, round(sc, 6), n) for p, (sc, n) in per_phrase.items()),
        key=lambda t: (-t[1], t[0]),
    )[:topk]
    assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=2e-6)


# ---------------------------------------------------------------------------
# skew helpers / embedding hygiene vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-9, max_value=9),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    salt_count=st.sampled_from([1, 4]),
)
def test_salted_agg_equals_plain_agg(spark, rows, salt_count):
    from valentinus_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, ["k", "v", "w"])
    got = {
        r.k: (r.v_sum, r.w_max)
        for r in salted_agg(
            df, ["k"], {"v": "sum", "w": "max"}, salt_count
        ).collect()
    }
    # w_count via a second call (aggs is col->agg, one per col)
    got_c = {
        r.k: r.w_count
        for r in salted_agg(df, ["k"], {"w": "count"}, salt_count).collect()
    }
    exp = {}
    for k in {k for k, _, _ in rows}:
        vs = [(v, w) for kk, v, w in rows if kk == k]
        exp[k] = (
            sum(v for v, _ in vs),
            max(w for _, w in vs),
            len(vs),
        )
    assert set(got) == set(exp)
    for k, (s, m, c) in exp.items():
        assert got[k] == (s, m)
        assert got_c[k] == c


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fact=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=20,
    ),
    dim=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=0,
        max_size=8,
    ),
    how=st.sampled_from(["inner", "left"]),
    salt_count=st.sampled_from([1, 4]),
)
def test_salted_join_equals_plain_join(spark, fact, dim, how, salt_count):
    from collections import Counter

    from valentinus_spark.operators.skew import salted_join

    fdf = spark.createDataFrame(fact, "k int, x int")
    ddf = spark.createDataFrame(dim, "k int, y int")
    got = Counter(
        (r.k, r.x, r.y)
        for r in salted_join(fdf, ddf, "k", salt_count, how).collect()
    )
    exp = Counter()
    dmap: dict = {}
    for k, y in dim:
        dmap.setdefault(k, []).append(y)
    for k, x in fact:
        matches = dmap.get(k, [])
        if matches:
            for y in matches:
                exp[(k, x, y)] += 1
        elif how == "left":
            exp[(k, x, None)] += 1
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=15,
    ),
    n_ids=st.sampled_from([10, 7]),
    stride=st.sampled_from([None, 1, 3]),
)
def test_contrastive_triplets_match_python(spark, pairs, n_ids, stride):
    from valentinus_spark.operators import contrastive_triplets

    pairs = [(a % n_ids, b % n_ids) for a, b in pairs]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = [
        (r.anchor, r.positive, r.negative)
        for r in contrastive_triplets(df, n_ids, stride=stride).collect()
    ]
    s = stride if stride is not None else n_ids // 2 + 1
    exp = []
    for a, b in pairs:
        neg = (a + s) % n_ids
        if neg == b:
            neg = (neg + 1) % n_ids
        if neg == a:
            neg = (neg + 1) % n_ids
        if neg == b:
            neg = (neg + 1) % n_ids
        exp.append((a, b, neg))
    assert sorted(got) == sorted(exp)
    for a, b, n in got:
        assert n != a and n != b


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=2,
        max_size=10,
    ),
    pos_pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=4,
    ),
    k=st.sampled_from([2, 3]),
)
def test_hard_negatives_match_python(spark, corpus, pos_pairs, k):
    from valentinus_spark.operators import hard_negatives

    n = len(corpus)
    vecs = {i: [float(a), float(b), 1.0] for i, (a, b) in enumerate(corpus)}
    cdf = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    anchors = spark.createDataFrame([(0,)], "anchor_id long")
    pos = [(a % n, b % n) for a, b in pos_pairs]
    pdf = spark.createDataFrame(pos or [(0, 0)], "id_a long, id_b long")
    got = [
        (r.negative_id, r.similarity, r.rank)
        for r in hard_negatives(
            cdf, anchors, pdf, k=k, sim_decimals=4
        ).collect()
    ]

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return d / (nu * nv) if nu > 0 and nv > 0 else 0.0

    excl = {0}
    for a, b in pos:
        if a == 0:
            excl.add(b)
        if b == 0:
            excl.add(a)
    scored = sorted(
        (
            (-round(cos(vecs[i], vecs[0]), 4), i)
            for i in vecs
            if i not in excl
        ),
    )[:k]
    exp = [(i, -s, rank) for rank, (s, i) in enumerate(scored, start=1)]
    assert [(g[0], g[2]) for g in got] == [(e[0], e[2]) for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=2e-4)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 4]),
)
def test_kcenter_coreset_matches_python_greedy(spark, pts, k):
    from valentinus_spark.operators import kcenter_coreset

    vecs = {i: [float(a), float(b)] for i, (a, b) in enumerate(pts)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = [
        (r.rank, r.vec_id, r.min_dist)
        for r in sorted(kcenter_coreset(df, k).collect(), key=lambda r: r.rank)
    ]

    def l2(u, v):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(u, v)))

    sel = [(1, 0, 0.0)]
    dist = {i: float("inf") for i in vecs if i != 0}
    cur = 0
    for rank in range(2, k + 1):
        if not dist:
            break
        for i in dist:
            dist[i] = min(dist[i], l2(vecs[i], vecs[cur]))
        best = min(dist, key=lambda i: (-dist[i], i))
        sel.append((rank, best, dist[best]))
        cur = best
        del dist[best]
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in sel]
    for g, e in zip(got, sel):
        assert g[2] == pytest.approx(e[2], abs=1e-9)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=-4, max_value=4),
            st.integers(min_value=-4, max_value=4),
            st.integers(min_value=-4, max_value=4),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_embedding_mean_and_abtt_match_python(spark, vecs):
    from valentinus_spark.operators import embedding_mean, remove_top_components

    rows = [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mu = embedding_mean(df)
    n = len(rows)
    exp_mu = [sum(v[d] for _, v in rows) / n for d in range(3)]
    for a, b in zip(mu, exp_mu):
        assert a == pytest.approx(b, abs=1e-9)
    comp = [1.0, 0.0, 0.0]
    out = {
        r.vec_id: list(r.embedding)
        for r in remove_top_components(
            df, [comp], mean=mu, renormalize=False
        ).collect()
    }
    for i, v in rows:
        centered = [x - m for x, m in zip(v, mu)]
        proj = sum(x * c for x, c in zip(centered, comp))
        exp = [x - proj * c for x, c in zip(centered, comp)]
        for a, b in zip(out[i], exp):
            assert a == pytest.approx(b, abs=1e-9)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(
        st.tuples(st.integers(min_value=-4, max_value=4), st.integers(min_value=1, max_value=4)),
        min_size=1,
        max_size=8,
    ),
    b=st.lists(
        st.tuples(st.integers(min_value=-4, max_value=4), st.integers(min_value=1, max_value=4)),
        min_size=1,
        max_size=8,
    ),
)
def test_embedding_drift_matches_python(spark, a, b):
    from valentinus_spark.operators import embedding_drift

    da = spark.createDataFrame(
        [([float(x), float(y)],) for x, y in a], "embedding array<double>"
    )
    db = spark.createDataFrame(
        [([float(x), float(y)],) for x, y in b], "embedding array<double>"
    )
    r = embedding_drift(da, db).collect()[0]
    na, nb = len(a), len(b)
    ma = [sum(v[d] for v in a) / na for d in range(2)]
    mb = [sum(v[d] for v in b) / nb for d in range(2)]
    va = [sum(v[d] ** 2 for v in a) / na - ma[d] ** 2 for d in range(2)]
    vb = [sum(v[d] ** 2 for v in b) / nb - mb[d] ** 2 for d in range(2)]
    assert (r.n_a, r.n_b) == (na, nb)
    dot_m = sum(x * y for x, y in zip(ma, mb))
    norm_a = math.sqrt(sum(x * x for x in ma))
    norm_b = math.sqrt(sum(x * x for x in mb))
    if norm_a > 0 and norm_b > 0:
        assert r.mean_cosine == pytest.approx(dot_m / (norm_a * norm_b), abs=1e-9)
    assert r.mean_l2_gap == pytest.approx(
        math.sqrt(sum((x - y) ** 2 for x, y in zip(ma, mb))), abs=1e-9
    )
    ratios = [vb[d] / va[d] for d in range(2) if va[d] > 0]
    if ratios:
        assert r.var_ratio_mean == pytest.approx(
            sum(ratios) / len(ratios), abs=1e-9
        )
    else:
        assert r.var_ratio_mean is None


# ---------------------------------------------------------------------------
# dedup extras / n-gram language models vs python replicas
# ---------------------------------------------------------------------------


def _shingles_py(toks, n):
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=8).map(
                " ".join
            ),
        ),
        min_size=1,
        max_size=10,
    ),
    unit=st.sampled_from(["digest", "span"]),
)
def test_source_overlap_matches_python(spark, docs, unit):
    from valentinus_spark.operators import source_overlap

    df = spark.createDataFrame(docs, ["source", "text"])
    got = {
        (r.group_a, r.group_b): r.shared
        for r in source_overlap(df, unit=unit, n=3).collect()
    }
    units: dict = {}
    for g, t in docs:
        if unit == "digest":
            us = {_norm_py(t)}
        else:
            us = _shingles_py(_toks_py(t), 3)
        units.setdefault(g, set()).update(us)
    groups = sorted(units)
    exp = {}
    for i, a in enumerate(groups):
        for b in groups[i + 1 :]:
            shared = len(units[a] & units[b])
            if shared:
                exp[(a, b)] = shared
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    old=st.dictionaries(
        st.integers(min_value=0, max_value=8),
        st.sampled_from(["aa", "bb", "cc"]),
        max_size=8,
    ),
    new=st.dictionaries(
        st.integers(min_value=0, max_value=8),
        st.sampled_from(["aa", "bb", "cc"]),
        max_size=8,
    ),
)
def test_corpus_diff_matches_python(spark, old, new):
    from valentinus_spark.operators import corpus_diff

    odf = spark.createDataFrame(
        list(old.items()) or [(None, None)], "doc_id long, text string"
    ).filter(F.col("doc_id").isNotNull())
    ndf = spark.createDataFrame(
        list(new.items()) or [(None, None)], "doc_id long, text string"
    ).filter(F.col("doc_id").isNotNull())
    got = {r.doc_id: r.status for r in corpus_diff(odf, ndf).collect()}
    exp = {}
    for i in set(old) | set(new):
        if i not in old:
            exp[i] = "added"
        elif i not in new:
            exp[i] = "removed"
        elif _norm_py(old[i]) == _norm_py(new[i]):
            exp[i] = "unchanged"
        else:
            exp[i] = "modified"
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # cluster
            st.integers(min_value=0, max_value=5),  # quality
        ),
        min_size=1,
        max_size=20,
    )
)
def test_cluster_canonical_matches_python(spark, rows):
    from valentinus_spark.operators import cluster_canonical

    data = [(i, c, q) for i, (c, q) in enumerate(rows)]
    df = spark.createDataFrame(data, ["doc_id", "cluster_id", "quality"])
    got = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in cluster_canonical(
            df, [F.col("quality").desc(), F.col("doc_id")]
        ).collect()
    }
    for c in {c for _, c, _ in data}:
        members = sorted(
            ((i, q) for i, cc, q in data if cc == c),
            key=lambda t: (-t[1], t[0]),
        )
        canon = members[0][0]
        for i, _ in members:
            assert got[i] == (canon, i == canon)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_ngram_novelty_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators import ngram_novelty

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.novel_grams, r.novelty)
        for r in ngram_novelty(df, n=n).collect()
    }
    per_doc = {i: _shingles_py(_toks_py(d), n) for i, d in enumerate(docs)}
    dfreq = Counter()
    for gs in per_doc.values():
        dfreq.update(gs)
    assert set(got) == set(per_doc)
    for i, gs in per_doc.items():
        novel = sum(1 for g in gs if dfreq[g] == 1)
        assert got[i][0] == len(gs)
        assert got[i][1] == novel
        assert got[i][2] == pytest.approx(novel / len(gs), abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    top_v=st.sampled_from([None, 2]),
)
def test_unigram_logprob_matches_python(spark, docs, top_v):
    from collections import Counter

    from valentinus_spark.operators import unigram_logprob

    oov = -20.0
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.unigram_ce)
        for r in unigram_logprob(df, top_v=top_v, oov_logprob=oov).collect()
    }
    nonempty = {i: _toks_py(d) for i, d in enumerate(docs) if _toks_py(d)}
    assert set(got) == set(nonempty)
    corpus = Counter()
    for toks in nonempty.values():
        corpus.update(toks)
    if top_v is not None:
        kept = dict(
            sorted(corpus.items(), key=lambda t: (-t[1], t[0]))[:top_v]
        )
    else:
        kept = dict(corpus)
    total = sum(kept.values())
    lp = {w: math.log2(c / total) for w, c in kept.items()}
    for i, toks in nonempty.items():
        scores = [lp.get(t, oov) for t in toks]
        ce = round(-sum(scores) / len(scores), 4)
        assert got[i][0] == len(toks)
        assert got[i][1] == pytest.approx(ce, abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_bigram_logprob_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators import bigram_logprob

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.bigram_ce)
        for r in bigram_logprob(df).collect()
    }
    kept = {i: _toks_py(d) for i, d in enumerate(docs) if len(_toks_py(d)) >= 2}
    assert set(got) == set(kept)
    c2 = Counter()
    c1 = Counter()
    for toks in kept.values():
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
            c1[a] += 1
    for i, toks in kept.items():
        lps = [
            math.log2(c2[(a, b)] / c1[a]) for a, b in zip(toks, toks[1:])
        ]
        ce = round(-sum(lps) / len(lps), 4)
        assert got[i][0] == len(toks) - 1
        assert got[i][1] == pytest.approx(ce, abs=2e-4)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    )
)
def test_trigram_logprob_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators import trigram_logprob

    l3, l2, l1 = 0.6, 0.3, 0.1
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_trigrams, r.trigram_ce)
        for r in trigram_logprob(df).collect()
    }
    kept = {i: _toks_py(d) for i, d in enumerate(docs) if len(_toks_py(d)) >= 3}
    assert set(got) == set(kept)
    c3 = Counter()
    cctx = Counter()
    cb = Counter()
    cw = Counter()
    c1 = Counter()
    ntot = 0
    for toks in kept.values():
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            c3[(a, b, c)] += 1
            cctx[(a, b)] += 1
        for a, b in zip(toks, toks[1:]):
            cb[(a, b)] += 1
            cw[a] += 1
        for t in toks:
            c1[t] += 1
            ntot += 1
    for i, toks in kept.items():
        lps = []
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            p = (
                l3 * c3[(a, b, c)] / cctx[(a, b)]
                + l2 * cb[(b, c)] / cw[b]
                + l1 * c1[c] / ntot
            )
            lps.append(math.log2(p))
        ce = round(-sum(lps) / len(lps), 4)
        assert got[i][0] == len(toks) - 2
        assert got[i][1] == pytest.approx(ce, abs=2e-4)


# ---------------------------------------------------------------------------
# Gopher repetition gates / quality scoring / cohort LTV vs python replicas
# ---------------------------------------------------------------------------


def _rep_stats_py(text):
    from collections import Counter

    toks = _toks_py(text)
    n = len(toks)
    out = {"n_tokens": n}
    if n == 0:
        out.update(
            distinct_token_ratio=0.0,
            top_token_frac=0.0,
            top_2gram_frac=0.0,
            top_3gram_frac=0.0,
            dup_5gram_frac=0.0,
        )
        return out
    out["distinct_token_ratio"] = len(set(toks)) / n
    out["top_token_frac"] = max(Counter(toks).values()) / n
    for gn in (2, 3):
        grams = (
            [" ".join(toks)]
            if n <= gn
            else [" ".join(toks[i : i + gn]) for i in range(n - gn + 1)]
        )
        out[f"top_{gn}gram_frac"] = max(Counter(grams).values()) / len(grams)
    gd = (
        [" ".join(toks)]
        if n <= 5
        else [" ".join(toks[i : i + 5]) for i in range(n - 4)]
    )
    cnt = Counter(gd)
    out["dup_5gram_frac"] = sum(c for c in cnt.values() if c > 1) / len(gd)
    return out


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_match_python(spark, docs):
    from valentinus_spark.operators import repetition_stats

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for i, d in enumerate(docs):
        exp = _rep_stats_py(d)
        r = got[i]
        assert r.n_tokens == exp["n_tokens"]
        for key in (
            "distinct_token_ratio",
            "top_token_frac",
            "top_2gram_frac",
            "top_3gram_frac",
            "dup_5gram_frac",
        ):
            assert getattr(r, key) == pytest.approx(exp[key], abs=1e-9), key


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_quality_filter_consistent_with_stats_replica(spark, docs):
    from valentinus_spark.operators import quality_filter
    from valentinus_spark.operators.quality import DEFAULT_QUALITY_GATES

    gates = dict(DEFAULT_QUALITY_GATES)
    gates["n_tokens"] = (2, 100_000)  # small docs in play
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id for r in quality_filter(df, gates=gates).collect()}
    exp = set()
    for i, d in enumerate(docs):
        s = _rep_stats_py(d)
        ok = True
        for stat, (lo, hi) in gates.items():
            v = s[stat]
            if lo is not None and v < lo - 1e-9:
                ok = False
            if hi is not None and v > hi + 1e-9:
                ok = False
        if ok:
            exp.add(i)
    # gates sit on exact rational stats; 1e-9 slack only guards ==
    boundary = {
        i
        for i, d in enumerate(docs)
        if any(
            (lo is not None and abs(_rep_stats_py(d)[st_] - lo) < 1e-9)
            or (hi is not None and abs(_rep_stats_py(d)[st_] - hi) < 1e-9)
            for st_, (lo, hi) in gates.items()
        )
    }
    assert got - boundary == exp - boundary


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["the", "cat", "sat", "on", "a", "7.", "x;y"]),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_linear_quality_score_matches_python(spark, docs):
    from valentinus_spark.functions.text import ENGLISH_STOPWORDS
    from valentinus_spark.operators import linear_quality_score
    from valentinus_spark.operators.quality import (
        DEFAULT_SCORE_BIAS,
        DEFAULT_SCORE_WEIGHTS,
    )

    stop = set(ENGLISH_STOPWORDS)
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.quality_score, r.kept)
        for r in linear_quality_score(df).collect()
    }
    for i, d in enumerate(docs):
        t = d.strip()
        toks = t.split() if t else []
        n_chars = len(d)
        n_words = len(toks)
        n_punct = len(_re.findall(r"[\.,;:!\?'\"]", d))
        n_digit = len(_re.findall(r"[0-9]", d))
        n_stop = sum(1 for w in toks if w in stop)
        feats = {
            "avg_word_len": n_chars / n_words if n_words else 0.0,
            "punct_ratio": n_punct / n_chars if n_chars else 0.0,
            "digit_ratio": n_digit / n_chars if n_chars else 0.0,
            "stopword_ratio": n_stop / n_words if n_words else 0.0,
            "log_words": math.log1p(n_words),
        }
        z = DEFAULT_SCORE_BIAS + sum(
            w * feats[k] for k, w in DEFAULT_SCORE_WEIGHTS.items()
        )
        score = 1.0 / (1.0 + math.exp(-z))
        assert got[i][0] == pytest.approx(score, abs=1e-9)
        assert got[i][1] == (got[i][0] >= 0.5)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2", "u3"]),
            st.integers(min_value=0, max_value=6),  # day
            st.integers(min_value=0, max_value=50),  # value
        ),
        min_size=1,
        max_size=25,
    ),
    max_offset=st.sampled_from([3, 6]),
)
def test_cohort_ltv_matches_python(spark, events, max_offset):
    from valentinus_spark.operators import cohort_ltv

    day_us = 86_400_000_000
    rows = [(u, d * day_us + 5, float(v)) for u, d, v in events]
    df = spark.createDataFrame(rows, "user_id string, ts_us long, value double")
    got = {
        (r.cohort_day, r.day_offset): (r.cohort_size, r.cum_value, r.ltv_per_user)
        for r in cohort_ltv(df, max_offset=max_offset).collect()
    }
    first = {}
    for u, d, _ in events:
        first[u] = min(first.get(u, d), d)
    sizes: dict = {}
    for u, c in first.items():
        sizes[c] = sizes.get(c, 0) + 1
    daily: dict = {}
    for u, d, v in events:
        off = d - first[u]
        if off <= max_offset:
            key = (first[u], off)
            daily[key] = daily.get(key, 0.0) + v
    exp = {}
    for c, size in sizes.items():
        cum = 0.0
        for off in range(max_offset + 1):
            cum += daily.get((c, off), 0.0)
            exp[(c, off)] = (size, round(cum, 2), round(cum / size, 6))
    assert set(got) == set(exp)
    for k, (size, cum, ltv) in exp.items():
        assert got[k][0] == size
        assert got[k][1] == pytest.approx(cum, abs=1e-6)
        assert got[k][2] == pytest.approx(ltv, abs=2e-6)


# ---------------------------------------------------------------------------
# stylometry / span dedup / misc determinism vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    units=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=20, unique=True),
    n_arms=st.sampled_from([2, 5]),
)
def test_ab_assign_matches_hash_replay(spark, units, n_arms):
    from valentinus_spark.operators import ab_assign

    salt = "ab-v1"
    df = spark.createDataFrame([(u,) for u in units], "unit long")
    got = {
        r.unit: r.arm
        for r in df.select(
            "unit", ab_assign(F.col("unit"), n_arms, salt).alias("arm")
        ).collect()
    }
    for u in units:
        h = int(hashlib.sha256(f"{salt}:{u}".encode()).hexdigest()[:8], 16)
        assert got[u] == h % n_arms


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
            st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_agreement_matrix_matches_python(spark, rows):
    from collections import Counter

    from valentinus_spark.operators import agreement_matrix

    df = spark.createDataFrame(rows, "a string, b string")
    got = {
        (r.label_a, r.label_b): (r.n, r.frac)
        for r in agreement_matrix(df, "a", "b").collect()
    }
    kept = [(a, b) for a, b in rows if a is not None and b is not None]
    cnt = Counter(kept)
    assert set(got) == set(cnt)
    tot = len(kept)
    for k, n in cnt.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(n / tot, abs=2e-6)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=10).map(
                " ".join
            ),
        ),
        min_size=2,
        max_size=10,
    ),
    top_n=st.sampled_from([3, 50]),
)
def test_burrows_delta_matches_python(spark, docs, top_n):
    from collections import Counter

    from valentinus_spark.operators import burrows_delta

    df = spark.createDataFrame(docs, ["source", "text"])
    got = {
        (r.group_a, r.group_b): r.delta
        for r in burrows_delta(df, "source", top_n=top_n).collect()
    }
    freq: dict = {}
    for g, t in docs:
        for tok in _toks_py(t):
            freq[(g, tok)] = freq.get((g, tok), 0) + 1
    glob = Counter()
    for (g, tok), c in freq.items():
        glob[tok] += c
    top = [t for t, _ in sorted(glob.items(), key=lambda x: (-x[1], x[0]))[:top_n]]
    groups = sorted({g for g, _ in docs})
    gtot = {g: sum(c for (gg, _), c in freq.items() if gg == g) for g in groups}
    rel = {
        (g, t): round(freq.get((g, t), 0) / gtot[g], 9)
        for g in groups
        for t in top
    }
    z = {}
    for t in top:
        vals = [rel[(g, t)] for g in groups]
        gc = len(vals)
        mean = sum(vals) / gc
        var = sum(v * v for v in vals) / gc - mean * mean
        for g in groups:
            z[(g, t)] = (
                round((rel[(g, t)] - mean) / math.sqrt(var), 6) if var > 0 else 0.0
            )
    exp = {}
    for i, a in enumerate(groups):
        for b in groups[i + 1 :]:
            d = sum(abs(z[(a, t)] - z[(b, t)]) for t in top) / len(top)
            exp[(a, b)] = round(d, 6)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=2e-5)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    qs=st.sampled_from([[0.5], [0.1, 0.5, 0.9]]),
    k=st.sampled_from([4, 1024]),
)
def test_hash_sample_quantiles_match_python(spark, rows, qs, k):
    from valentinus_spark.operators.profile import hash_sample_quantiles

    salt = "hsq-v1"
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {
        r.q: r.quantile_value
        for r in hash_sample_quantiles(df, "v", "id", qs, k=k, salt=salt).collect()
    }
    sample_ids = sorted(
        (i for i, _ in rows),
        key=lambda i: (
            int(hashlib.sha256(f"{salt}{i}".encode()).hexdigest()[:8], 16),
            i,
        ),
    )[:k]
    vals = {i: v for i, v in rows}
    s = sorted(((vals[i], i) for i in sample_ids))
    n = len(s)
    for q in qs:
        exp = s[math.floor(q * (n - 1))][0]
        assert got[q] == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=20,
    ),
    band=st.sampled_from([(0.05, 0.95), (0.25, 0.75)]),
)
def test_relative_outlier_filter_matches_python(spark, rows, band):
    from valentinus_spark.operators import relative_outlier_filter

    lo, hi = band
    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["lang", "n_chars", "id"])
    got = {r.id for r in relative_outlier_filter(df, "lang", "n_chars", lo, hi).collect()}
    exp = set()
    for g in {g for g, _ in rows}:
        vals = sorted(v for gg, v in rows if gg == g)
        n = len(vals)
        for i, (gg, v) in enumerate(rows):
            if gg != g:
                continue
            pr = 0.0 if n == 1 else vals.index(v) / (n - 1)
            if lo <= pr <= hi:
                exp.add(i)
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_duplicated_span_stats_match_python(spark, docs):
    from valentinus_spark.operators import duplicated_span_stats

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.shared_spans, r.shared_frac)
        for r in duplicated_span_stats(df, n=n, max_df=None).collect()
    }
    per_doc = {
        i: _shingles_py(_toks_py(d), n)
        for i, d in enumerate(docs)
        if _toks_py(d)
    }
    assert set(got) == set(per_doc)
    dfreq: dict = {}
    for gs in per_doc.values():
        for g in gs:
            dfreq[g] = dfreq.get(g, 0) + 1
    for i, gs in per_doc.items():
        shared = sum(1 for g in gs if dfreq[g] > 1)
        assert got[i][0] == len(gs)
        assert got[i][1] == shared
        assert got[i][2] == pytest.approx(shared / len(gs), abs=2e-4)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:3]), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    )
)
def test_remove_duplicated_spans_matches_python(spark, docs):
    from valentinus_spark.operators import remove_duplicated_spans

    n = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in remove_duplicated_spans(df, n=n).collect()
    }
    toks = {i: _toks_py(d) for i, d in enumerate(docs)}
    occs: dict = {}  # span tuple -> [(id, pos)]
    for i, tk in toks.items():
        for p in range(len(tk) - n + 1):
            occs.setdefault(tuple(tk[p : p + n]), []).append((i, p))
    covered: dict = {}
    for span, where in occs.items():
        if len(where) <= 1:
            continue
        keeper = min(where)
        for i, p in where:
            if (i, p) == keeper:
                continue
            covered.setdefault(i, set()).update(range(p, p + n))
    assert set(got) == set(toks)
    for i, tk in toks.items():
        cov = covered.get(i, set())
        kept = [w for p, w in enumerate(tk) if p not in cov]
        assert got[i] == (len(tk), len(kept), " ".join(kept))


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="ab c.", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_compression_ratio_matches_python_zlib(spark, docs):
    import zlib

    from valentinus_spark.operators.quality import compression_ratio

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bytes, r.compression_ratio)
        for r in compression_ratio(df).collect()
    }
    for i, d in enumerate(docs):
        raw = d.encode()
        exp_ratio = (
            round(len(zlib.compress(raw, 6)) / len(raw), 6) if raw else None
        )
        assert got[i][0] == len(raw)
        if exp_ratio is None:
            assert got[i][1] is None
        else:
            assert got[i][1] == pytest.approx(exp_ratio, abs=1e-9)


# ---------------------------------------------------------------------------
# pair-generation joins (jaccard / simhash / containment / cosine / spatial)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=1, max_size=10).map(
            " ".join
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.7]),
)
def test_ngram_jaccard_pairs_match_bruteforce(spark, docs, threshold):
    from valentinus_spark.operators import ngram_jaccard_pairs

    n = 2
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, n=n, threshold=threshold, max_df=None
        ).collect()
    }
    sets = {i: _shingles_py(_toks_py(d), n) for i, d in enumerate(docs)}
    exp = {}
    ids = sorted(sets)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                exp[(a, b)] = j
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=2,
        max_size=8,
    ),
    max_hamming=st.sampled_from([3, 8]),
)
def test_simhash_pairs_sha_match_bruteforce(spark, docs, max_hamming):
    from valentinus_spark.operators import simhash_pairs

    bits = 60
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, max_hamming=max_hamming, hash_fn="sha256"
        ).collect()
    }

    def sim(text):
        votes = [0] * bits
        for t in _toks_py(text):
            h = _sha60_py(t)
            for b in range(bits):
                votes[b] += 1 if (h >> b) & 1 else -1
        out = 0
        for b in range(bits):
            if votes[b] > 0:
                out |= 1 << b
        return out

    hs = {i: sim(d) for i, d in enumerate(docs)}
    exp = {}
    ids = sorted(hs)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            d = bin(hs[a] ^ hs[b]).count("1")
            if d <= max_hamming:
                exp[(a, b)] = d
    assert got == exp


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    queries=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=5).map(
            " ".join
        ),
        min_size=1,
        max_size=4,
    ),
    corpus=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=10).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    threshold=st.sampled_from([0.6, 1.0]),
)
def test_set_containment_join_matches_bruteforce(spark, queries, corpus, threshold):
    from valentinus_spark.operators import set_containment_join

    qdf = spark.createDataFrame(list(enumerate(queries)), "qid long, text string")
    cdf = spark.createDataFrame(list(enumerate(corpus)), "cid long, text string")
    got = {
        (r.qid_q, r.cid_c): r.containment
        for r in set_containment_join(
            qdf, cdf, "qid", "text", "cid", "text", threshold=threshold
        ).collect()
    }
    exp = {}
    for qi, q in enumerate(queries):
        qs = set(_toks_py(q))
        if not qs:
            continue
        for ci, c in enumerate(corpus):
            cs = set(_toks_py(c))
            cont = len(qs & cs) / len(qs)
            if cont >= threshold:
                exp[(qi, ci)] = round(cont, 4)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=2e-4)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=8).map(
            " ".join
        ),
        min_size=2,
        max_size=7,
    )
)
def test_cosine_similarity_join_matches_bruteforce(spark, docs):
    from collections import Counter

    from valentinus_spark.operators.setsim import cosine_similarity_join

    threshold = 0.3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_similarity_join(df, threshold=threshold).collect()
    }
    tfs = {i: Counter(_toks_py(d)) for i, d in enumerate(docs) if _toks_py(d)}
    N = len(tfs)
    dfreq = Counter()
    for c in tfs.values():
        dfreq.update(set(c))
    unit = {}
    for i, c in tfs.items():
        w = {t: tf * math.log((N + 1.0) / (dfreq[t] + 1.0)) for t, tf in c.items()}
        nrm = math.sqrt(sum(v * v for v in w.values()))
        if nrm > 0:
            unit[i] = {t: v / nrm for t, v in w.items()}
    exp = {}
    ids = sorted(unit)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            shared = set(unit[a]) & set(unit[b])
            cos = sum(unit[a][t] * unit[b][t] for t in sorted(shared))
            if round(cos, 6) >= threshold:
                exp[(a, b)] = cos
    assert set(got) == set(exp)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(
        st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)),
        min_size=1,
        max_size=12,
    ),
    b=st.lists(
        st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)),
        min_size=1,
        max_size=12,
    ),
    radius=st.sampled_from([2.5, 5.0]),
)
def test_radius_join_matches_bruteforce(spark, a, b, radius):
    from collections import Counter

    from valentinus_spark.operators.range_join import radius_join

    adf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(a)], ["aid", "x", "y"]
    )
    bdf = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(b)], ["bid", "x", "y"]
    )
    got = Counter(
        (r.aid, r.bid) for r in radius_join(adf, bdf, radius, ["aid"], ["bid"]).collect()
    )
    exp = Counter()
    for i, (ax, ay) in enumerate(a):
        for j, (bx, by) in enumerate(b):
            if (ax - bx) ** 2 + (ay - by) ** 2 <= radius**2:
                exp[(i, j)] += 1
    assert got == exp


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=10,
    ),
    queries=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=3,
    ),
    k=st.sampled_from([2, 4]),
)
def test_brute_force_knn_join_matches_python(spark, corpus, queries, k):
    from valentinus_spark.operators.similarity import brute_force_knn_join

    cdf = spark.createDataFrame(
        [(i, [float(x), float(y), 1.0]) for i, (x, y) in enumerate(corpus)],
        "id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(x), float(y), 1.0]) for i, (x, y) in enumerate(queries)],
        "qid long, qvec array<double>",
    )
    got: dict = {}
    for r in brute_force_knn_join(cdf, qdf, k).collect():
        got.setdefault(r.qid, []).append((r.rank, r.id, r.similarity))

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return d / (nu * nv) if nu > 0 and nv > 0 else 0.0

    for qi, (qx, qy) in enumerate(queries):
        qv = [float(qx), float(qy), 1.0]
        scored = sorted(
            (
                (-cos([float(x), float(y), 1.0], qv), i)
                for i, (x, y) in enumerate(corpus)
            ),
        )[:k]
        exp = [(rank, i, -s) for rank, (s, i) in enumerate(scored, start=1)]
        rows = sorted(got[qi])
        assert [(r[0], r[1]) for r in rows] == [(e[0], e[1]) for e in exp]
        for r, e in zip(rows, exp):
            assert r[2] == pytest.approx(e[2], abs=1e-9)


# ---------------------------------------------------------------------------
# fightin' words / histogram quantiles / SCD2 time travel / incremental dedup
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.lists(st.sampled_from(ts_pool[:5]), min_size=1, max_size=8).map(
                " ".join
            ),
        ),
        min_size=2,
        max_size=10,
    ),
    top_k=st.sampled_from([2, 5]),
)
def test_fightin_words_matches_python(spark, docs, top_k):
    from hypothesis import assume

    from valentinus_spark.operators.quality import fightin_words

    # a single-distinct-token corpus degenerates the log-odds denominator
    # to an exact 0 (ANSI divide-by-zero) - out of the operator's domain
    assume(len({tok for _, t in docs for tok in _toks_py(t)}) >= 2)
    alpha = 0.01
    df = spark.createDataFrame(docs, ["source", "text"])
    got: dict = {}
    for r in fightin_words(df, top_k=top_k).collect():
        got.setdefault(r.source, []).append((r.term, r["count"], r.z_score))
    gc: dict = {}
    for g, t in docs:
        for tok in _toks_py(t):
            gc[(g, tok)] = gc.get((g, tok), 0) + 1
    cc: dict = {}
    for (g, tok), c in gc.items():
        cc[tok] = cc.get(tok, 0) + c
    ct = sum(cc.values())
    gt: dict = {}
    for (g, tok), c in gc.items():
        gt[g] = gt.get(g, 0) + c
    exp: dict = {}
    for (g, tok), c in gc.items():
        aw = alpha * cc[tok]
        a0 = alpha * ct
        delta = math.log((c + aw) / (gt[g] + a0 - c - aw)) - math.log(
            (cc[tok] - c + aw) / (ct - gt[g] + a0 - cc[tok] + c - aw)
        )
        var = 1.0 / (c + aw) + 1.0 / (cc[tok] - c + aw)
        exp.setdefault(g, []).append((tok, c, round(delta / math.sqrt(var), 6)))
    for g in exp:
        exp[g].sort(key=lambda t: (-t[2], t[0]))
        exp[g] = exp[g][:top_k]
    assert set(got) == set(exp)
    for g in exp:
        rows = sorted(got[g], key=lambda t: (-t[2], t[0]))
        assert [(r[0], r[1]) for r in rows] == [(e[0], e[1]) for e in exp[g]]
        for r, e in zip(rows, exp[g]):
            assert r[2] == pytest.approx(e[2], abs=2e-5)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
    qs=st.sampled_from([[0.5], [0.0, 0.25, 0.9, 1.0]]),
)
def test_histogram_quantiles_match_python(spark, vals, qs):
    from valentinus_spark.operators import histogram_quantiles

    n_bins = 4
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r.q: r.quantile_est for r in histogram_quantiles(df, "v", qs, n_bins).collect()}
    mn, mx = float(min(vals)), float(max(vals))
    width = (mx - mn) / n_bins
    bins: dict = {}
    for v in vals:
        b = 0 if mx == mn else min(n_bins - 1, math.floor((v - mn) * n_bins / (mx - mn)))
        bins[b] = bins.get(b, 0) + 1
    present = sorted(bins)
    total = len(vals)
    exp = {}
    for q in qs:
        target = q * (total - 1)
        below = 0
        for b in present:
            n = bins[b]
            last = below + n == total
            if (below <= target < below + n) or (q == 1.0 and last):
                lo = round(mn + b * width, 6)
                hi = round(mn + (b + 1) * width, 6)
                frac = (target - below) / n
                exp[q] = round(lo + (hi - lo) * frac, 6)
                break
            below += n
    assert set(got) == set(exp)
    for q in exp:
        assert got[q] == pytest.approx(exp[q], abs=2e-6)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key
            st.integers(min_value=0, max_value=10),  # from day
            st.one_of(st.none(), st.integers(min_value=0, max_value=12)),  # to day
        ),
        min_size=1,
        max_size=15,
    ),
    at=st.integers(min_value=0, max_value=12),
)
def test_scd2_snapshot_at_matches_python(spark, rows, at):
    from valentinus_spark.operators.scd import scd2_snapshot_at

    base = _dt.date(2024, 1, 1)
    data = [
        (
            i,
            k,
            base + _dt.timedelta(days=f),
            None if t is None else base + _dt.timedelta(days=t),
        )
        for i, (k, f, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "row_id long, key long, effective_from date, effective_to date"
    )
    at_day = base + _dt.timedelta(days=at)
    got = {r.row_id for r in scd2_snapshot_at(df, at_day).collect()}
    exp = {
        i
        for i, _, f, t in data
        if f <= at_day and (t is None or t > at_day)
    }
    assert got == exp


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    incoming=st.lists(
        st.lists(st.sampled_from(ts_pool[:3]), min_size=0, max_size=5).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    corpus=st.lists(
        st.lists(st.sampled_from(ts_pool[:3]), min_size=0, max_size=5).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_incremental_dedup_matches_python(spark, incoming, corpus):
    from valentinus_spark.operators import incremental_dedup

    idf = spark.createDataFrame(
        list(enumerate(incoming)), "doc_id long, text string"
    )
    cdf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = {r.doc_id for r in incremental_dedup(idf, cdf).collect()}
    seen = {_norm_py(t) for t in corpus}
    winners: dict = {}
    for i, t in enumerate(incoming):
        d = _norm_py(t)
        if d in seen:
            continue
        winners.setdefault(d, i)
    assert got == set(winners.values())


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    incoming=st.lists(
        st.lists(st.sampled_from(ts_pool[:3]), min_size=0, max_size=6).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    corpus=st.lists(
        st.lists(st.sampled_from(ts_pool[:3]), min_size=1, max_size=6).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    threshold=st.sampled_from([0.5, 0.9]),
)
def test_incremental_neardup_matches_python(spark, incoming, corpus, threshold):
    from valentinus_spark.operators import incremental_neardup

    n = 3
    idf = spark.createDataFrame(
        list(enumerate(incoming)), "doc_id long, text string"
    )
    cdf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = {
        r.doc_id
        for r in incremental_neardup(
            idf, cdf, n=n, threshold=threshold, max_df=None
        ).collect()
    }
    cor_sets = [
        _shingles_py(_toks_py(t), n) for t in corpus if _toks_py(t)
    ]
    exp = set()
    for i, t in enumerate(incoming):
        toks = _toks_py(t)
        if not toks:
            exp.add(i)  # unshingleable rows are never matched
            continue
        s = _shingles_py(toks, n)
        matched = any(
            len(s & c) / (len(s) + len(c) - len(s & c)) >= threshold
            for c in cor_sets
            if len(s & c) > 0
        )
        if not matched:
            exp.add(i)
    assert got == exp


# ---------------------------------------------------------------------------
# file-layout ops (manifests, pruning, compaction) vs on-disk truth
# ---------------------------------------------------------------------------

import shutil as _shutil
import tempfile as _tempfile


@settings(max_examples=hypo_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
    band=st.tuples(
        st.integers(min_value=0, max_value=50), st.integers(min_value=0, max_value=50)
    ),
)
def test_minmax_manifest_and_pruned_read_lossless(spark, vals, band):
    from collections import Counter

    from valentinus_spark.operators.layout import (
        file_minmax_manifest,
        prune_files,
        pruned_read,
        file_stats,
    )

    lo, hi = min(band), max(band)
    tmp = _tempfile.mkdtemp()
    try:
        path = f"{tmp}/t"
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "v"])
        df.repartition(3).write.parquet(path)
        # ground truth: which row landed in which file
        back = spark.read.parquet(path).select(
            F.input_file_name().alias("file"), "id", "v"
        ).collect()
        by_file: dict = {}
        for r in back:
            by_file.setdefault(r.file, []).append(r.v)
        stats = {r.file: r.n_rows for r in file_stats(spark, path).collect()}
        assert stats == {f: len(vs) for f, vs in by_file.items()}
        man = file_minmax_manifest(spark, path, ["v"])
        got_man = {r.file: (r.n_rows, r.min_v, r.max_v) for r in man.collect()}
        assert got_man == {
            f: (len(vs), min(vs), max(vs)) for f, vs in by_file.items()
        }
        kept = set(prune_files(man, "v", lo, hi))
        # every file holding a qualifying row must survive the prune
        for f, vs in by_file.items():
            if any(lo <= v <= hi for v in vs):
                assert f in kept
        got_rows = Counter(
            (r.id, r.v) for r in pruned_read(spark, path, man, "v", lo, hi).collect()
        )
        exp_rows = Counter(
            (i, v) for i, v in enumerate(vals) if lo <= v <= hi
        )
        assert got_rows == exp_rows
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


@settings(max_examples=hypo_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    probe=st.integers(min_value=0, max_value=40),
)
def test_bloom_manifest_and_pruned_read_lossless(spark, vals, probe):
    from collections import Counter

    from valentinus_spark.operators.layout import (
        bloom_prune_files,
        bloom_pruned_read,
        file_bloom_manifest,
    )

    k, m = 3, 64
    tmp = _tempfile.mkdtemp()
    try:
        path = f"{tmp}/t"
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "v"])
        df.repartition(3).write.parquet(path)
        back = spark.read.parquet(path).select(
            F.input_file_name().alias("file"), "v"
        ).collect()
        by_file: dict = {}
        for r in back:
            by_file.setdefault(r.file, set()).add(r.v)
        man = file_bloom_manifest(spark, path, "v", k=k, m=m)
        got_bits: dict = {}
        for r in man.collect():
            got_bits.setdefault(r.file, set()).add(r.bit)
        exp_bits = {
            f: {_cm_slice_py(v, j) % m for v in vs for j in range(k)}
            for f, vs in by_file.items()
        }
        assert got_bits == exp_bits
        kept = set(bloom_prune_files(spark, man, probe, k=k, m=m))
        probe_bits = {_cm_slice_py(probe, j) % m for j in range(k)}
        exp_kept = {
            f for f, bits in exp_bits.items() if probe_bits <= bits
        }
        assert kept == exp_kept
        for f, vs in by_file.items():
            if probe in vs:
                assert f in kept  # no false negatives
        got_rows = Counter(
            (r.id, r.v)
            for r in bloom_pruned_read(spark, path, man, "v", probe, k=k, m=m).collect()
        )
        exp_rows = Counter((i, v) for i, v in enumerate(vals) if v == probe)
        assert got_rows == exp_rows
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


@settings(max_examples=hypo_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=30),
    target=st.sampled_from([2, 4]),
    sorted_mode=st.booleans(),
)
def test_compact_small_files_preserves_rows(spark, vals, target, sorted_mode):
    from collections import Counter

    from valentinus_spark.operators.layout import compact_small_files, file_stats

    tmp = _tempfile.mkdtemp()
    try:
        src, dst = f"{tmp}/src", f"{tmp}/dst"
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "v"])
        df.repartition(7).write.parquet(src)
        out = compact_small_files(
            spark, src, dst, target, sort_cols=["v"] if sorted_mode else None
        )
        got = Counter((r.id, r.v) for r in out.collect())
        assert got == Counter((i, v) for i, v in enumerate(vals))
        n_files = file_stats(spark, dst).count()
        assert 1 <= n_files <= target
        if sorted_mode:
            # clustering restored: per-file [min,max] v-ranges come from
            # a range partitioning, so sorted file mins are non-overlapping
            back = spark.read.parquet(dst).select(
                F.input_file_name().alias("file"), "v"
            ).collect()
            by_file: dict = {}
            for r in back:
                by_file.setdefault(r.file, []).append(r.v)
            ranges = sorted((min(vs), max(vs)) for vs in by_file.values())
            for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
                assert hi1 <= lo2
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# contamination screens / BM25F vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    bench=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=6).map(
            " ".join
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_benchmark_contamination_matches_python(spark, corpus, bench):
    from valentinus_spark.operators.contamination import benchmark_contamination

    n = 3
    cdf = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination)
        for r in benchmark_contamination(cdf, bdf, n=n).collect()
    }

    def sh(text):
        toks = _toks_py(text)
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bench_sh = set()
    for t in bench:
        bench_sh |= sh(t)
    assert set(got) == set(range(len(corpus)))
    for i, t in enumerate(corpus):
        s = sh(t)
        hits = len(s & bench_sh)
        assert got[i][0] == len(s)
        assert got[i][1] == hits
        assert got[i][2] == pytest.approx(hits / len(s), abs=2e-4)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=8,
    ),
    bench=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=4,
    ),
    threshold=st.sampled_from([0.8, 0.95]),
)
def test_semantic_contamination_matches_python(spark, corpus, bench, threshold):
    from valentinus_spark.operators.contamination import semantic_contamination

    cdf = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(corpus)],
        "vec_id long, embedding array<double>",
    )
    bdf = spark.createDataFrame(
        [(i, [float(a), float(b)]) for i, (a, b) in enumerate(bench)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.max_cosine, r.contaminated)
        for r in semantic_contamination(cdf, bdf, threshold=threshold).collect()
    }

    def cos(u, v):
        d = u[0] * v[0] + u[1] * v[1]
        nu = math.sqrt(u[0] ** 2 + u[1] ** 2)
        nv = math.sqrt(v[0] ** 2 + v[1] ** 2)
        return d / (nu * nv) if nu * nv > 0 else 0.0

    for i, cv in enumerate(corpus):
        mx = round(max(cos(cv, bv) for bv in bench), 4)
        assert got[i][0] == pytest.approx(mx, abs=2e-4)
        assert got[i][1] == (got[i][0] >= threshold)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:5]), min_size=0, max_size=10).map(
            " ".join
        ),
        min_size=1,
        max_size=7,
    ),
    terms=st.sampled_from([["cat"], ["cat", "dog"]]),
)
def test_bm25f_topk_matches_python(spark, docs, terms):
    from collections import Counter

    from valentinus_spark.operators import bm25f_topk

    title_chars, tw, k1, b = 10, 2.0, 1.2, 0.75
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [
        (r.doc_id, r.score)
        for r in bm25f_topk(
            df, terms, k=10, title_chars=title_chars, title_weight=tw
        ).collect()
    ]
    fields = {}
    for i, d in enumerate(docs):
        if not d.strip():
            continue
        fields[i] = (_toks_py(d[:title_chars]), _toks_py(d[title_chars:]))
    n_docs = len(fields)
    if n_docs == 0:
        assert got == []
        return
    avgt = sum(len(t) for t, _ in fields.values()) / n_docs
    avgb = sum(len(bd) for _, bd in fields.values()) / n_docs
    tset = set(terms)
    per_doc_tf = {
        i: (
            Counter(w for w in t if w in tset),
            Counter(w for w in bd if w in tset),
        )
        for i, (t, bd) in fields.items()
    }
    dfreq = Counter()
    for i, (ct, cb) in per_doc_tf.items():
        for term in tset:
            if ct.get(term, 0) > 0 or cb.get(term, 0) > 0:
                dfreq[term] += 1
    exp = []
    for i, (ct, cb) in per_doc_tf.items():
        if not (sum(ct.values()) + sum(cb.values())):
            continue
        score = 0.0
        for term in sorted(tset):
            tft, tfb = ct.get(term, 0), cb.get(term, 0)
            if tft == 0 and tfb == 0:
                continue
            bt = (1 - b) + b * len(fields[i][0]) / avgt if avgt > 0 else 1.0
            bb = (1 - b) + b * len(fields[i][1]) / avgb if avgb > 0 else 1.0
            x = tw * tft / bt + tfb / bb
            idf = math.log((n_docs - dfreq[term] + 0.5) / (dfreq[term] + 0.5) + 1.0)
            score += round(idf * x / (k1 + x), 9)
        exp.append((i, round(score, 6)))
    exp.sort(key=lambda t: (-t[1], t[0]))
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], abs=2e-5)


# ---------------------------------------------------------------------------
# TextTiling segmentation / margin-based bitext mining vs python replicas
# ---------------------------------------------------------------------------


def _r6_py(x: float) -> float:
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(ts_pool[:4]), min_size=0, max_size=15).map(
            " ".join
        ),
        min_size=1,
        max_size=5,
    )
)
def test_texttiling_matches_python(spark, docs):
    from collections import Counter

    from valentinus_spark.operators.text_search import texttiling_boundaries

    bt = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got: dict = {}
    for r in texttiling_boundaries(df, block_tokens=bt).collect():
        got[(r.doc_id, r.gap)] = (r.sim, r.depth, r.is_boundary)
    exp: dict = {}
    for i, d in enumerate(docs):
        toks = _toks_py(d)
        if not toks:
            continue
        blocks: dict = {}
        for pos, t in enumerate(toks):
            blocks.setdefault(pos // bt, Counter())[t] += 1
        nb = len(blocks)
        if nb < 2:
            continue
        sims = []
        for g in range(nb - 1):
            a, b = blocks[g], blocks[g + 1]
            dot = sum(a[t] * b[t] for t in a if t in b)
            na = math.sqrt(sum(c * c for c in a.values()))
            nbn = math.sqrt(sum(c * c for c in b.values()))
            sims.append(_r6_py(dot / (na * nbn)))
        depths = []
        for g, s in enumerate(sims):
            prev = sims[g - 1] if g > 0 else s
            nxt = sims[g + 1] if g + 1 < len(sims) else s
            depths.append(_r6_py(max(0.0, prev - s) + max(0.0, nxt - s)))
        gc = len(depths)
        mean = sum(depths) / gc
        var = sum(v * v for v in depths) / gc - mean * mean
        cut = _r6_py(mean - (math.sqrt(var) if var > 0 else 0.0) / 2.0)
        for g, (s, dpt) in enumerate(zip(sims, depths)):
            exp[(i, g)] = (s, dpt, dpt > 0 and dpt > cut)
    assert set(got) == set(exp)
    for key, (s, dpt, bd) in exp.items():
        assert got[key][0] == pytest.approx(s, abs=2e-6)
        assert got[key][1] == pytest.approx(dpt, abs=2e-6)
        assert got[key][2] == bd


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    src=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=6,
    ),
    tgt=st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=1,
        max_size=6,
    ),
    threshold=st.sampled_from([1.0, 1.05]),
)
def test_margin_mine_matches_python(spark, src, tgt, threshold):
    from valentinus_spark.operators.similarity import margin_mine

    k = 2
    sdf = spark.createDataFrame(
        [(i, [float(a), float(b), 1.0]) for i, (a, b) in enumerate(src)],
        "src_id long, embedding array<double>",
    )
    tdf = spark.createDataFrame(
        [(i, [float(a), float(b), 1.0]) for i, (a, b) in enumerate(tgt)],
        "tgt_id long, embedding array<double>",
    )
    got = {
        (r.src_id, r.tgt_id): (r.cosine, r.margin)
        for r in margin_mine(sdf, tdf, k=k, threshold=threshold).collect()
    }

    sv = {i: [float(a), float(b), 1.0] for i, (a, b) in enumerate(src)}
    tv = {i: [float(a), float(b), 1.0] for i, (a, b) in enumerate(tgt)}

    def cos4(u, v):
        d = sum(x * y for x, y in zip(u, v))
        nu = math.sqrt(sum(x * x for x in u))
        nv = math.sqrt(sum(x * x for x in v))
        return round(d / (nu * nv), 4)

    def knn(corpus, q):
        return sorted(
            ((-cos4(corpus[c], q), c) for c in corpus),
        )[:k]

    fwd = set()
    ax = {}
    for x, qv in sv.items():
        nn = knn(tv, qv)
        ax[x] = sum(-s for s, _ in nn) / (2.0 * k)
        fwd |= {(x, y, -s) for s, y in nn}
    bwd = set()
    ay = {}
    for y, qv in tv.items():
        nn = knn(sv, qv)
        ay[y] = sum(-s for s, _ in nn) / (2.0 * k)
        bwd |= {(x, y, -s) for s, x in nn}
    cands = fwd | bwd
    margins = {
        (x, y): (c, round(c / (ax[x] + ay[y]), 4)) for x, y, c in cands
    }
    best_x: dict = {}
    best_y: dict = {}
    for (x, y), (_, m) in margins.items():
        if x not in best_x or (-m, y) < best_x[x][0]:
            best_x[x] = ((-m, y), y)
        if y not in best_y or (-m, x) < best_y[y][0]:
            best_y[y] = ((-m, x), x)
    exp = {
        (x, y): (c, m)
        for (x, y), (c, m) in margins.items()
        if best_x[x][1] == y and best_y[y][1] == x and m > threshold
    }
    assert set(got) == set(exp)
    for key, (c, m) in exp.items():
        assert got[key][0] == pytest.approx(c, abs=2e-4)
        assert got[key][1] == pytest.approx(m, abs=2e-4)


# ---------------------------------------------------------------------------
# media fingerprints vs pure-python replicas and invariances
# ---------------------------------------------------------------------------


def _dhash_py(pix, h, w):
    """Pure-python dhash replica over a row-major grayscale list."""
    gw, gh = 9, 8
    ys = [(i * h) // gh for i in range(gh + 1)]
    xs = [(j * w) // gw for j in range(gw + 1)]
    grid = []
    for i in range(gh):
        row = []
        for j in range(gw):
            y1 = max(ys[i + 1], ys[i] + 1)
            x1 = max(xs[j + 1], xs[j] + 1)
            cells = [
                pix[y * w + x] for y in range(ys[i], y1) for x in range(xs[j], x1)
            ]
            row.append(sum(cells) / len(cells))
        grid.append(row)
    out = 0
    for i in range(gh):
        for j in range(8):
            out = (out << 1) | int(grid[i][j + 1] > grid[i][j])
    return out & 0x7FFFFFFFFFFFFFFF


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    dims=st.tuples(
        st.integers(min_value=9, max_value=24), st.integers(min_value=9, max_value=24)
    ),
    data=st.data(),
    shift=st.integers(min_value=1, max_value=30),
)
def test_dhash_bits_matches_python_and_brightness_invariant(dims, data, shift):
    import numpy as np

    from valentinus_spark.operators.media_dedup import dhash_bits

    h, w = dims
    pix = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=200),
            min_size=h * w,
            max_size=h * w,
        )
    )
    arr = np.array(pix, dtype=np.uint8).reshape(h, w)
    got = dhash_bits(arr)
    assert got == _dhash_py([float(p) for p in pix], h, w)
    # neighbor comparisons are shift-invariant while unclipped
    assert dhash_bits((arr.astype(np.int64) + shift).clip(0, 255).astype(np.uint8)) == got if max(pix) + shift <= 255 else True
    # RGB image with equal channels == grayscale (BT.601 weights sum to 1)
    rgb = np.stack([arr, arr, arr], axis=2)
    assert dhash_bits(rgb) == got


def test_dhash_bits_rgb_equals_gray_where_float_luma_ties_flip():
    """Float BT.601 weights do not sum to exactly 1, so two equal grid
    cells of an equal-channel RGB image once compared unequal (the RGB
    hash read 1125899906842816 against 1125899906842752 for grayscale)."""
    import numpy as np

    from valentinus_spark.operators.media_dedup import dhash_bits

    arr = np.zeros((9, 10), dtype=np.uint8)
    for (y, x), v in {(1, 6): 3, (5, 0): 7, (7, 1): 2, (8, 1): 1, (8, 2): 3}.items():
        arr[y, x] = v
    got = dhash_bits(arr)
    assert got == _dhash_py([float(p) for p in arr.reshape(-1)], 9, 10) == 1125899906842752
    assert dhash_bits(np.stack([arr, arr, arr], axis=2)) == got


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    dims=st.tuples(
        st.integers(min_value=32, max_value=40), st.integers(min_value=32, max_value=40)
    ),
    data=st.data(),
    shift=st.integers(min_value=1, max_value=40),
)
def test_phash_bits_brightness_invariant_and_stable(dims, data, shift):
    import numpy as np

    from valentinus_spark.operators.media_dedup import phash_bits

    h, w = dims
    pix = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=180),
            min_size=h * w,
            max_size=h * w,
        )
    )
    arr = np.array(pix, dtype=np.uint8).reshape(h, w)
    got = phash_bits(arr)
    assert 0 <= got < (1 << 63)
    # DC-term drop => exact invariance under global brightness shifts
    shifted = (arr.astype(np.int64) + shift).clip(0, 255).astype(np.uint8)
    if int(arr.max()) + shift <= 255:
        assert phash_bits(shifted) == got
    # grayscale == equal-channel RGB
    assert phash_bits(np.stack([arr, arr, arr], axis=2)) == got
    # determinism
    assert phash_bits(arr.copy()) == got


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    samples=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=400
    ),
    gain=st.sampled_from([2.0, 10.0]),
    rate=st.sampled_from([8000, 44100]),
)
def test_audio_fingerprint_gain_invariant(samples, gain, rate):
    import numpy as np

    from valentinus_spark.operators.media_dedup import audio_fingerprint_bits

    s = np.array(samples, dtype=np.float64)
    got = audio_fingerprint_bits(s, rate)
    assert 0 <= got < (1 << 63)
    # energy COMPARISONS are invariant under any positive gain
    assert audio_fingerprint_bits(s * gain, rate) == got
    assert audio_fingerprint_bits(s.copy(), rate) == got


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=(1 << 63) - 1),
        min_size=2,
        max_size=12,
        unique=True,
    ),
    flips=st.lists(st.integers(min_value=0, max_value=62), max_size=4),
    max_bits=st.sampled_from([3, 6]),
)
def test_dhash_near_pairs_match_bruteforce(spark, hashes, flips, max_bits):
    from valentinus_spark.operators.media_dedup import dhash_near_pairs

    # plant one near pair: flip a few bits of the first hash
    planted = hashes[0]
    for b in flips:
        planted ^= 1 << b
    planted &= 0x7FFFFFFFFFFFFFFF
    all_h = list(enumerate(hashes + [planted]))
    df = spark.createDataFrame(all_h, "media_id long, dhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_near_pairs(df, max_bits=max_bits).collect()
    }
    exp = {}
    for x, (a, ha) in enumerate(all_h):
        for b_, hb in all_h[x + 1 :]:
            d = bin(ha ^ hb).count("1")
            if d <= max_bits:
                exp[(a, b_)] = d
    assert got == exp


# ---------------------------------------------------------------------------
# remaining helpers: two_sided_p, decayed_popularity_from_daily,
# hll_rolling_from_registers (closing the operator surface)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    zs=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-6, max_value=6, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_two_sided_p_matches_python(spark, zs):
    from valentinus_spark.operators import two_sided_p

    df = spark.createDataFrame(
        [(i, z) for i, z in enumerate(zs)], "id long, z double"
    )
    got = {
        r.id: r.p for r in df.select("id", two_sided_p(F.col("z")).alias("p")).collect()
    }
    for i, z in enumerate(zs):
        if z is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(
                min(1.0, 2.0 * _phi_upper_py(abs(z))), abs=2e-6
            )


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    daily=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=1, max_value=5),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    ),
    hl=st.sampled_from([2, 7]),
)
def test_decayed_popularity_from_daily_matches_python(spark, daily, hl):
    from valentinus_spark.operators import decayed_popularity_from_daily

    from decimal import Decimal

    rows = [
        (k, _dt.date(2024, 1, 1) + _dt.timedelta(days=d), n, Decimal(sv))
        for k, d, n, sv in daily
    ]
    df = spark.createDataFrame(rows, "_k string, _d date, _n long, _sv decimal(28,2)")
    got = [
        (r.k, r.n_events, r.decayed_score)
        for r in decayed_popularity_from_daily(df, "k", half_life_days=hl).collect()
    ]
    ref = max(d for _, d, _, _ in daily)
    scores: dict = {}
    counts: dict = {}
    for k, d, n, sv in daily:
        w = round(math.exp(-(math.log(2.0) / hl) * (ref - d)), 12)
        scores[k] = scores.get(k, 0.0) + sv * w
        counts[k] = counts.get(k, 0) + n
    exp = sorted(
        ((k, counts[k], round(s, 4)) for k, s in scores.items()),
        key=lambda t: (-t[2], t[0]),
    )
    assert [(g[0], g[1]) for g in got] == [(e[0], e[1]) for e in exp]
    for g, e in zip(got, exp):
        assert g[2] == pytest.approx(e[2], abs=2e-4)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=25,
    ),
    window_days=st.sampled_from([2, 3]),
)
def test_hll_rolling_from_registers_matches_python(spark, events, window_days):
    from valentinus_spark.operators import hll_rolling_from_registers
    from valentinus_spark.operators.sketches import hll_registers

    p = 4
    rows = [
        (_dt.date(2024, 1, 1) + _dt.timedelta(days=d), v) for d, v in events
    ]
    df = spark.createDataFrame(rows, "day date, v long")
    regs = hll_registers(df, "v", ["day"], p=p)
    got = {
        r.day: (r.m_seen, r.est_distinct)
        for r in hll_rolling_from_registers(regs, window_days, p).collect()
    }
    day_offsets = sorted({d for d, _ in events})
    span = [day_offsets[0], day_offsets[-1]]
    assert sorted(got) == [
        _dt.date(2024, 1, 1) + _dt.timedelta(days=d)
        for d in range(span[0], span[1] + 1)
    ]
    for d in range(span[0], span[1] + 1):
        day = _dt.date(2024, 1, 1) + _dt.timedelta(days=d)
        vals = [
            v
            for dd, v in events
            if d - window_days + 1 <= dd <= d
        ]
        if not vals:
            assert got[day] == (0, 0.0)
            continue
        rp = _hll_regs_py(vals, p)
        assert got[day][0] == len(rp)
        assert got[day][1] == pytest.approx(_hll_est_py(rp, p), abs=2e-4)


# ---------------------------------------------------------------------------
# graph fingerprints: symmetric edges + degree assortativity
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_symmetric_edges_and_assortativity_match_python(spark, pairs):
    from valentinus_spark.operators.graph import (
        degree_assortativity,
        symmetric_edges,
    )

    df = spark.createDataFrame(pairs, ["src", "dst"])
    sym = symmetric_edges(df)
    got_edges = {(r.src, r.dst) for r in sym.collect()}
    exp_edges = set()
    for a, b in pairs:
        if a != b:
            exp_edges |= {(a, b), (b, a)}
    assert got_edges == exp_edges
    r = degree_assortativity(sym).collect()[0]
    assert r.n_edges == len(exp_edges)
    if not exp_edges:
        assert r.r is None
        return
    deg: dict = {}
    for s, _ in exp_edges:
        deg[s] = deg.get(s, 0) + 1
    xs = [deg[s] for s, _ in exp_edges]
    ys = [deg[d] for _, d in exp_edges]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    varx = n * sum(x * x for x in xs) - sx * sx
    vary = n * sum(y * y for y in ys) - sy * sy
    if varx > 0 and vary > 0:
        rr = (n * sum(x * y for x, y in zip(xs, ys)) - sx * sy) / math.sqrt(
            varx * vary
        )
        assert r.r == pytest.approx(rr, abs=2e-6)
    else:
        assert r.r is None


# ---------------------------------------------------------------------------
# int8 quantize/dequantize vs python replica + roundtrip error bound
# ---------------------------------------------------------------------------

from valentinus_spark.functions.vector import (
    dequantize_embedding,
    quantize_embedding,
)


def _py_round_half_up(v: float) -> int:
    import math as _m

    return int(_m.floor(v + 0.5)) if v >= 0 else int(_m.ceil(v - 0.5))


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vec=st.lists(
        st.floats(
            min_value=-1e30,
            max_value=1e30,
            allow_nan=False,
            allow_infinity=False,
        ).filter(lambda v: v == 0.0 or abs(v) > 1e-30),
        min_size=1,
        max_size=16,
    )
)
def test_quantize_roundtrip_matches_python_and_bounds_error(spark, vec):
    df = spark.createDataFrame([(vec,)], "embedding array<double>")
    row = df.select(
        quantize_embedding("embedding").alias("qs")
    ).select(
        "qs", dequantize_embedding("qs").alias("deq")
    ).collect()[0]

    mx = max(abs(v) for v in vec)
    scale = mx / 127.0 if mx > 0 else 1.0
    expect_q = [_py_round_half_up(v / scale) for v in vec]
    assert list(row.qs.q) == expect_q  # exact int8 code parity
    assert all(-127 <= c <= 127 for c in row.qs.q)
    assert row.qs.scale == pytest.approx(scale, rel=1e-6)

    # roundtrip bound: half a quantization step plus float32 rounding
    # of the scale and the product
    bound = 0.5 * scale + 4e-7 * mx + 1e-37
    for orig, back in zip(vec, row.deq):
        assert abs(orig - back) <= bound


def test_quantize_zero_and_subnormal_vectors(spark):
    # all-zero: scale 1.0, exact roundtrip; sub-float32 magnitudes:
    # scale underflows float32 toward 0 — error still bounded by the
    # vector's own max-abs (never garbage, never a crash)
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1e-41, -5e-42])],
        "id long, embedding array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id", quantize_embedding("embedding").alias("qs")
        )
        .select("id", "qs", dequantize_embedding("qs").alias("deq"))
        .collect()
    }
    assert list(rows[1].deq) == [0.0, 0.0]
    for orig, back in zip([1e-41, -5e-42], rows[2].deq):
        assert abs(orig - back) <= 1e-41


# ---------------------------------------------------------------------------
# z-order (Morton) interleave vs python bit replica
# ---------------------------------------------------------------------------


def _zorder_py(vals, bits: int) -> int:
    """Replica of layout.zorder_value: column i contributes bit b of its
    value at output position b*n + i."""
    out = 0
    n = len(vals)
    for i, v in enumerate(vals):
        for b in range(bits):
            out |= ((v >> b) & 1) << (b * n + i)
    return out


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 21) - 1),
            st.integers(min_value=0, max_value=(1 << 21) - 1),
            st.integers(min_value=0, max_value=(1 << 21) - 1),
        ),
        min_size=1,
        max_size=10,
    ),
    bits=st.sampled_from([4, 16, 21]),
)
def test_zorder_interleave_matches_python(spark, rows, bits):
    from valentinus_spark.functions.vector import zorder_key
    from valentinus_spark.operators.layout import zorder_value

    mask = (1 << bits) - 1
    rows = [(a & mask, b & mask, c & mask) for a, b, c in rows]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    got = df.select(
        "x",
        "y",
        "z",
        zorder_value(["x", "y", "z"], bits=bits).alias("zv"),
        # zorder_key emits MSB-first with the LAST column in the lowest
        # lane — reversing the column order makes the two agree bit-exactly
        zorder_key("z", "y", "x", bits=bits).alias("zk"),
    ).collect()
    for r in got:
        exp = _zorder_py((r.x, r.y, r.z), bits)
        assert r.zv == exp
        assert r.zk == exp
        # coordinate-wise dominance → Morton dominance (range-prune soundness)
        assert _zorder_py((r.x, r.y, r.z), bits) >= _zorder_py(
            (r.x // 2, r.y // 2, r.z // 2), bits
        )


# ---------------------------------------------------------------------------
# rolling_fingerprint (winnowing-style min-sketch) vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abc dé€\n", max_size=24), min_size=1, max_size=6
    ),
    n=st.sampled_from([3, 8]),
    keep=st.sampled_from([2, 4]),
)
def test_rolling_fingerprint_sha_matches_python(spark, texts, n, keep):
    from valentinus_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.fp)
        for r in df.select(
            "doc_id",
            rolling_fingerprint("text", n=n, keep=keep, hash_fn="sha256").alias(
                "fp"
            ),
        ).collect()
    }
    for i, t in enumerate(texts):
        grams = (
            [t] if len(t) <= n else [t[j : j + n] for j in range(len(t) - n + 1)]
        )
        exp = sorted(_sha60_py(g) for g in grams)[:keep]
        assert got[i] == exp


# ---------------------------------------------------------------------------
# embedding_pca vs numpy eigendecomposition of the sample covariance
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-4, 4), st.integers(-4, 4), st.integers(-4, 4), st.integers(-4, 4)
        ),
        min_size=3,
        max_size=9,
    )
)
def test_embedding_pca_matches_numpy(spark, rows):
    from hypothesis import assume

    from valentinus_spark.operators.similarity import embedding_pca

    X = np.array(rows, dtype=float)
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / (len(rows) - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    assume(evals.sum() > 1e-9)

    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    comps, ratios = embedding_pca(df, k=2)
    exp_ratios = (evals[:2] / evals.sum()).tolist()
    for g, e in zip(ratios, exp_ratios):
        assert g == pytest.approx(e, abs=1e-6)
    # eigenvectors are only identified up to sign, and only when the
    # eigenvalue is simple — compare |cos| where the spectral gap allows
    for j in range(2):
        gap = min(
            abs(evals[j] - evals[j2]) for j2 in range(len(evals)) if j2 != j
        )
        if gap > 1e-3 * max(evals.sum(), 1.0):
            assert abs(float(np.dot(comps[j], evecs[:, j]))) == pytest.approx(
                1.0, abs=1e-6
            )


# ---------------------------------------------------------------------------
# knn_distance_outliers vs numpy brute force
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(-6, 6), st.integers(-6, 6), st.integers(-6, 6)),
        min_size=2,
        max_size=10,
    ),
    k=st.sampled_from([1, 3]),
    topn=st.sampled_from([4, 100]),
)
def test_knn_distance_outliers_match_bruteforce(spark, rows, k, topn):
    import math

    from valentinus_spark.operators.similarity import knn_distance_outliers

    df = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r.vec_id, r.kth_dist)
        for r in knn_distance_outliers(df, k=k, topn=topn).collect()
    ]

    kth = {}
    for i, a in enumerate(rows):
        ds = sorted(
            _rhu(math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b))), 4)
            for j, b in enumerate(rows)
            if j != i
        )
        kth[i] = ds[min(k, len(ds)) - 1]
    exp = sorted(kth.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
    assert got == exp


# ---------------------------------------------------------------------------
# matryoshka truncation-fidelity sweep vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(
            st.integers(1, 5),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
        ),
        min_size=3,
        max_size=8,
    ),
    queries=st.lists(
        st.tuples(
            st.integers(1, 5),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
            st.integers(-3, 3),
        ),
        min_size=1,
        max_size=3,
    ),
    k=st.sampled_from([2, 5]),
)
def test_matryoshka_fidelity_matches_python(spark, corpus, queries, k):
    import math

    from valentinus_spark.operators.similarity import matryoshka_fidelity

    cdf = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(corpus)],
        "vec_id long, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(queries)],
        "qid long, qvec array<double>",
    )
    got = {
        r.dim: (r.k, r.n_queries, r.mean_overlap)
        for r in matryoshka_fidelity(
            cdf, qdf, dims=[2, 4], k=k
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na * nb > 0 else 0.0

    def topset(dim):
        out = set()
        for qi, q in enumerate(queries):
            scored = sorted(
                (
                    (-_rhu(cos(c[:dim], q[:dim]), 4), ci)
                    for ci, c in enumerate(corpus)
                ),
            )[:k]
            out |= {(qi, ci) for _, ci in scored}
        return out

    full = topset(6)
    denom = len(queries) * min(k, len(corpus))
    assert len(full) == denom
    for dim in (2, 4, 6):
        matched = len(topset(dim) & full)
        assert got[dim] == (k, len(queries), _rhu(matched / denom, 6))


# ---------------------------------------------------------------------------
# textrank keywords vs python replica (co-occurrence graph + pagerank replay)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["the", "cat", "sat", "mat", "dog", "ran", "and"]),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    iters=st.sampled_from([2, 8]),
)
def test_textrank_keywords_matches_python(spark, docs, iters):
    from valentinus_spark.functions.text import ENGLISH_STOPWORDS
    from valentinus_spark.operators.text_search import textrank_keywords

    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = {
        r.word: r.rank
        for r in textrank_keywords(df, iterations=iters).collect()
    }

    und = set()
    for d in docs:
        toks = [t for t in _toks_py(d) if t and t not in ENGLISH_STOPWORDS]
        if len(toks) < 2:
            continue
        for a, b in zip(toks, toks[1:]):
            if a != b:
                und.add((a, b))
    sym = sorted({p for a, b in und for p in ((a, b), (b, a))})
    if not sym:
        assert got == {}
        return
    exp = {
        w: _rhu(r, 6) for w, r in _pr_python(sym, iters, 0.85).items()
    }
    assert set(got) == set(exp)
    for w in exp:
        assert got[w] == pytest.approx(exp[w], abs=1e-6)


# ---------------------------------------------------------------------------
# jaccard link prediction vs brute-force replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=24
    ),
    k=st.sampled_from([3, 100]),
)
def test_jaccard_link_prediction_matches_bruteforce(spark, edges, k):
    from hypothesis import assume

    from valentinus_spark.operators.graph import jaccard_link_prediction

    und = sorted({(a, b) for a, b in edges if a != b for a, b in [(min(a, b), max(a, b))]})
    assume(und)
    sym = sorted({p for a, b in und for p in ((a, b), (b, a))})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = [
        (r.node_a, r.node_b, r.common_neighbors, r.jaccard)
        for r in jaccard_link_prediction(df, k=k).collect()
    ]

    nbrs: dict = {}
    for a, b in sym:
        nbrs.setdefault(a, set()).add(b)
    adj = set(und)
    exp = []
    nodes = sorted(nbrs)
    for x, a in enumerate(nodes):
        for b in nodes[x + 1 :]:
            if (a, b) in adj:
                continue
            common = len(nbrs[a] & nbrs[b])
            if common == 0:
                continue
            j = _rhu(common / (len(nbrs[a]) + len(nbrs[b]) - common), 6)
            exp.append((a, b, common, j))
    exp.sort(key=lambda t: (-t[3], t[0], t[1]))
    assert got == exp[:k]


# ---------------------------------------------------------------------------
# pure-stdlib codec roundtrips on hypothesis-random content
# (fixed-image roundtrips live in test_imaging/test_audio/test_video;
# these fuzz the pixel/sample space)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 6),
    w=st.integers(1, 6),
    c=st.sampled_from([1, 3, 4]),
    data=st.data(),
)
def test_png_roundtrip_random_pixels(h, w, c, data):
    from valentinus_spark.imaging import decode_png, encode_png

    raw = data.draw(st.binary(min_size=h * w * c, max_size=h * w * c))
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, c)
    back = decode_png(encode_png(arr))
    assert back.shape == (h, w, c)
    assert np.array_equal(back, arr)


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(h=st.integers(1, 6), w=st.integers(1, 6), data=st.data())
def test_bmp_roundtrip_random_pixels(h, w, data):
    from valentinus_spark.imaging import decode_bmp, encode_bmp

    raw = data.draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    back = decode_bmp(encode_bmp(arr))
    assert back.shape == (h, w, 3)
    assert np.array_equal(back, arr)


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(h=st.integers(1, 6), w=st.integers(1, 6), data=st.data())
def test_gif_roundtrip_random_indices(h, w, data):
    from valentinus_spark.imaging import decode_gif, encode_gif

    raw = data.draw(st.binary(min_size=h * w, max_size=h * w))
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    back = decode_gif(encode_gif(arr))
    assert back.shape == (h, w, 4)
    # implicit grayscale palette: entry i = (i, i, i), opaque
    for ch in range(3):
        assert np.array_equal(back[:, :, ch], arr)
    assert np.all(back[:, :, 3] == 255)


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ints=st.lists(
        st.integers(min_value=-32767, max_value=32767), min_size=1, max_size=64
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_random_samples(ints, rate):
    from valentinus_spark.audio import decode_wav, encode_wav

    samples = np.array(ints, dtype=np.float64) / 32767.0
    back, got_rate = decode_wav(encode_wav(samples, sample_rate=rate))
    assert got_rate == rate
    # encode writes round(s*32767) as int16; decode divides by 32768 —
    # both steps are exact in float32, so the roundtrip is bit-precise
    exp = (np.array(ints, dtype=np.float64) / 32768.0).astype(np.float32)
    assert np.array_equal(back, exp)


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.sampled_from([2, 4, 6]),
    w=st.sampled_from([2, 4, 8]),
    nframes=st.integers(1, 4),
    data=st.data(),
)
def test_y4m_roundtrip_random_frames(h, w, nframes, data):
    from valentinus_spark.video import decode_y4m, encode_y4m

    frames = []
    for _ in range(nframes):
        raw = data.draw(st.binary(min_size=h * w, max_size=h * w))
        frames.append(np.frombuffer(raw, dtype=np.uint8).reshape(h, w))
    back, fps = decode_y4m(encode_y4m(frames, fps=(30, 1)))
    assert fps == (30, 1)
    assert len(back) == nframes
    for got, exp in zip(back, frames):
        assert np.array_equal(got, exp)


# ---------------------------------------------------------------------------
# deterministic bucketing family (stable_split / stratified_keep /
# mixture_repeat_count / weighted_sample_key / kfold_assign) vs
# python sha256 replicas
# ---------------------------------------------------------------------------


def _bucket_py(salt: str, key) -> int:
    """Replica of the family's sha256 bucket: first 8 hex chars of
    sha256(salt || str(key)) as an int in [0, 2^32)."""
    return int(hashlib.sha256((salt + str(key)).encode()).hexdigest()[:8], 16)


_keys_strategy = st.lists(
    st.one_of(
        st.integers(min_value=-(10**9), max_value=10**9),
        st.text(alphabet="abç0 -", max_size=12),
    ),
    min_size=1,
    max_size=12,
    # unique by the STRING image, not the raw value: every consumer
    # feeds str(k) into the frame and keys its python-replica dict on
    # that string, so int 0 and text "0" are the SAME key downstream —
    # plain unique=True let both in and the replica dict collapsed two
    # rows with different strata into one entry (found by a fresh
    # hypothesis draw [0, '', '0'] in the r9 round-end run; same
    # replica-bug class as the fe29cc6 linkage fix)
    unique_by=lambda k: str(k),
)


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=_keys_strategy,
    w_train=st.sampled_from([0.5, 0.8, 0.98]),
    w_val=st.sampled_from([0.01, 0.1]),
)
def test_stable_split_matches_python(spark, keys, w_train, w_val):
    from valentinus_spark.functions.text import stable_split

    weights = {"train": w_train, "val": w_val, "test": 1.0 - w_train - w_val}
    df = spark.createDataFrame([(str(k),) for k in keys], "key string")
    got = {
        r.key: r.split
        for r in df.select("key", stable_split("key", weights)).collect()
    }
    span = 2**32
    for k in keys:
        b = _bucket_py("v1", str(k))
        acc = 0.0
        exp = "test"
        for name, w in list(weights.items())[:-1]:
            acc += w
            if b < int(acc * span):
                exp = name
                break
        assert got[str(k)] == exp


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=_keys_strategy,
    rate_a=st.sampled_from([0.0, 0.25, 1.0]),
    rate_b=st.sampled_from([0.1, 0.9]),
)
def test_stratified_keep_and_mixture_repeat_match_python(
    spark, keys, rate_a, rate_b
):
    from valentinus_spark.functions.text import (
        mixture_repeat_count,
        stratified_keep,
    )

    rows = [(str(k), ["a", "b", "c"][i % 3]) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "key string, stratum string")
    rates = {"a": rate_a, "b": rate_b}
    factors = {"a": rate_a * 3, "b": rate_b}
    got = {
        r.key: (r.keep, r.n_repeat)
        for r in df.select(
            "key",
            stratified_keep("key", "stratum", rates, default_rate=0.5).alias(
                "keep"
            ),
            mixture_repeat_count(
                "key", "stratum", factors, default_factor=1.5
            ),
        ).collect()
    }
    span = 2**32
    for k, s in rows:
        b = _bucket_py("v1", k)
        rate = rates.get(s, 0.5)
        factor = factors.get(s, 1.5)
        base = math.floor(factor)
        exp_rep = base + (1 if b < int((factor - base) * span) else 0)
        assert got[k] == (b < int(rate * span), exp_rep)


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from([0.001, 0.5, 3.0, -1.0, 0.0]),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    k=st.sampled_from([2, 7]),
)
def test_weighted_sample_key_and_kfold_match_python(spark, rows, k):
    from valentinus_spark.functions.text import kfold_assign, weighted_sample_key

    df = spark.createDataFrame(rows, "key long, w double")
    got = {
        r.key: (r.sk, r.fold)
        for r in df.select(
            "key",
            weighted_sample_key("key", "w").alias("sk"),
            kfold_assign("key", k=k),
        ).collect()
    }
    for key, w in rows:
        u = (_bucket_py("ws-v1", key) + 1) / float(2**32)
        exp_sk = math.log(u) / w if w > 0 else None
        exp_fold = _bucket_py("cv-v1", key) % k
        sk, fold = got[key]
        assert fold == exp_fold
        if exp_sk is None:
            assert sk is None
        else:
            assert sk == pytest.approx(exp_sk, rel=1e-12)


# ---------------------------------------------------------------------------
# token_count (BPE-ish regex) and chunks_from_tokens vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab XY 01 .,!é \t\n", max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_token_count_matches_python_java_regex(spark, texts):
    from valentinus_spark.functions.text import token_count

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", token_count("text").alias("n")).collect()
    }
    # Java \s is ASCII-only ([ \t\n\x0B\f\r]); python \s is unicode-aware,
    # so the replica spells the class out (NBSP counts as a symbol)
    pat = _re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0b\f\r]")
    for i, t in enumerate(texts):
        assert got[i] == len(pat.findall(t))


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.sampled_from(["a", "bb", "ccc", "d"]), max_size=20),
    size=st.sampled_from([1, 3, 5]),
    data=st.data(),
)
def test_chunks_from_tokens_matches_python(spark, toks, size, data):
    from valentinus_spark.functions.text import chunks_from_tokens

    stride = data.draw(st.integers(min_value=1, max_value=size))
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = [
        (c.chunk_id, c.chunk)
        for c in df.select(
            chunks_from_tokens("toks", size=size, stride=stride).alias("ch")
        ).first()["ch"]
    ]
    k = len(toks)
    n_chunks = 1 if k <= size else math.ceil((k - size) / stride) + 1
    exp = [
        (i, " ".join(toks[i * stride : i * stride + size]))
        for i in range(n_chunks)
    ]
    assert got == exp
    # every token is covered by at least one chunk
    if toks:
        assert (n_chunks - 1) * stride + size >= k


# ---------------------------------------------------------------------------
# url_host vs component-level ground truth (not a regex replay)
# ---------------------------------------------------------------------------


_label = st.text(alphabet="abcXYZ09-", min_size=1, max_size=8)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    scheme=st.sampled_from(["http", "https", "ftp", "s3+x.y"]),
    labels=st.lists(_label, min_size=1, max_size=3),
    www=st.booleans(),
    userinfo=st.one_of(st.none(), st.sampled_from(["bob", "bob:pw"])),
    port=st.one_of(st.none(), st.integers(1, 65535)),
    tail=st.sampled_from(["", "/", "/p/q?x=1#f", "?q#f"]),
)
def test_url_host_matches_component_truth(
    spark, scheme, labels, www, userinfo, port, tail
):
    from valentinus_spark.functions.web import url_host

    host = ("www." if www else "") + ".".join(labels)
    url = (
        scheme
        + "://"
        + (userinfo + "@" if userinfo else "")
        + host
        + (f":{port}" if port else "")
        + tail
    )
    exp = ".".join(labels).lower() if www else host.lower()
    df = spark.createDataFrame([(url,)], "url string")
    assert df.select(url_host("url").alias("h")).first()["h"] == exp


# ---------------------------------------------------------------------------
# resize_nearest vs independent numpy constructions
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(h=st.integers(1, 6), w=st.integers(1, 6), data=st.data())
def test_resize_nearest_identity_upscale_downscale(h, w, data):
    from valentinus_spark.imaging import resize_nearest

    raw = data.draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    assert np.array_equal(resize_nearest(arr, w, h), arr)
    # exact 2x upscale is pixel replication
    up = resize_nearest(arr, 2 * w, 2 * h)
    assert np.array_equal(up, np.repeat(np.repeat(arr, 2, axis=0), 2, axis=1))
    # 1x1 downscale picks the top-left source pixel of the first cell
    assert np.array_equal(resize_nearest(arr, 1, 1)[0, 0], arr[0, 0])


# ---------------------------------------------------------------------------
# BPE encode → decode letter-stream roundtrip (learned merges, random corpus)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.text(alphabet="abcd AB.,7 ", min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    ),
    n_merges=st.sampled_from([0, 3, 10]),
)
def test_bpe_encode_decode_letter_stream_roundtrip(spark, docs, n_merges):
    from valentinus_spark.operators.tokenizer import (
        bpe_decode,
        bpe_encode,
        learn_bpe,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    merges = learn_bpe(df, n_merges)
    decoded = {
        r.doc_id: r.decoded
        for r in bpe_decode(bpe_encode(df, merges)).collect()
    }
    for i, t in enumerate(docs):
        # merges only concatenate, so decode restores the matched
        # letter stream exactly (word boundaries are not recoverable)
        assert decoded[i] == "".join(_re.findall("[a-zA-Z]+", t.lower()))


# ---------------------------------------------------------------------------
# bloom_semijoin: row-identical to the exact semi-join even when the
# filter is tiny (heavy false-positive pressure cannot leak rows)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fact=st.lists(st.integers(0, 40), min_size=1, max_size=25),
    dim=st.lists(st.integers(0, 40), min_size=0, max_size=10),
    m=st.sampled_from([16, 64, 1 << 16]),
)
def test_bloom_semijoin_identical_to_exact_semijoin(spark, fact, dim, m):
    from valentinus_spark.operators.sketches import bloom_semijoin

    fdf = spark.createDataFrame(
        [(i, k) for i, k in enumerate(fact)], "row_id long, fk long"
    )
    ddf = spark.createDataFrame([(k,) for k in dim], "dk long")
    got = sorted(
        (r.row_id, r.fk)
        for r in bloom_semijoin(fdf, ddf, "fk", "dk", k=2, m=m).collect()
    )
    exp = sorted((i, k) for i, k in enumerate(fact) if k in set(dim))
    assert got == exp


# ---------------------------------------------------------------------------
# column_profile vs python replica (ANSI try_cast semantics included)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(
                st.none(),
                st.sampled_from(["7", "-3.5", "junk", "", "1e2", " 4 "]),
            ),
            st.one_of(st.none(), st.integers(-5, 5).map(float)),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_column_profile_matches_python(spark, rows):
    from valentinus_spark.operators.profile import column_profile

    df = spark.createDataFrame(rows, "s string, d double")
    got = {
        r.column: (r.n, r.n_null, r.n_distinct, r.min_v, r.max_v)
        for r in column_profile(df, ["s", "d"]).collect()
    }

    def try_cast(v):
        if v is None:
            return None
        try:
            return float(v)
        except ValueError:
            return None

    for col, vals in (
        ("s", [try_cast(a) for a, _ in rows]),
        ("d", [b for _, b in rows]),
    ):
        nn = [v for v in vals if v is not None]
        exp = (
            len(rows),
            len(vals) - len(nn),
            len(set(nn)),
            min(nn) if nn else None,
            max(nn) if nn else None,
        )
        assert got[col] == exp


# ---------------------------------------------------------------------------
# poisson_bootstrap_ci vs python replica (sha weights + decimal folds)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 10**6),
            st.sampled_from([-2.5, 0.0, 1.0, 3.25, 10.125]),
        ),
        min_size=2,
        max_size=14,
        unique_by=lambda t: t[1],
    ),
    replicas=st.sampled_from([4, 16]),
)
def test_poisson_bootstrap_ci_matches_python(spark, rows, replicas):
    import decimal

    from valentinus_spark.operators.profile import POISSON1_CDF, poisson_bootstrap_ci

    alpha = 0.05
    df = spark.createDataFrame(rows, "grp string, rid long, val double")
    got = {
        r.grp: (r.n_replicas, r.boot_mean, r.ci_lo, r.ci_hi)
        for r in poisson_bootstrap_ci(
            df, "val", "rid", group_col="grp", replicas=replicas
        ).collect()
    }

    D = decimal.Decimal

    def pct(vals, p):
        """Spark percentile: linear interpolation at rank p*(n-1)."""
        s = sorted(vals)
        pos = p * (len(s) - 1)
        lo = int(math.floor(pos))
        hi = int(math.ceil(pos))
        return s[lo] + (pos - lo) * (s[hi] - s[lo])

    for grp in {g for g, _, _ in rows}:
        members = [(i, v) for g, i, v in rows if g == grp]
        means = []
        for rep in range(replicas):
            swv = D(0)
            sw = 0
            for rid, val in members:
                h32 = int(
                    hashlib.sha256(f"boot-v1{rep}:{rid}".encode()).hexdigest()[:8],
                    16,
                )
                u = (h32 + 0.5) / 4294967296.0
                w = sum(1 for c in POISSON1_CDF if u > c)
                swv += w * D(repr(val)).quantize(D("0.000001"))
                sw += w
            if sw > 0:
                means.append(_rhu(float(swv) / sw, 6))
        exp = (
            len(means),
            _rhu(float(sum(D(repr(m)) for m in means)) / len(means), 4),
            _rhu(pct(means, alpha / 2), 4),
            _rhu(pct(means, 1 - alpha / 2), 4),
        )
        assert got[grp][0] == exp[0]
        for g, e in zip(got[grp][1:], exp[1:]):
            assert g == pytest.approx(e, abs=2e-4)


# ---------------------------------------------------------------------------
# linkage_pairs vs brute-force blocked-levenshtein replica
# ---------------------------------------------------------------------------


def _lev_py(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    names=st.lists(
        st.text(alphabet="ab c", max_size=12), min_size=1, max_size=10
    ),
    max_dist=st.sampled_from([2, 8]),
)
def test_linkage_pairs_match_bruteforce(spark, names, max_dist):
    from valentinus_spark.operators.linkage import linkage_pairs

    band = 4
    df = spark.createDataFrame(
        list(enumerate(names)), "rec_id long, name string"
    )
    got = {
        (r.id_a, r.id_b): (r.edit_dist, r.name_sim)
        for r in linkage_pairs(
            df, "rec_id", "name", max_dist=max_dist, band=band
        ).collect()
    }

    norm = {
        i: _re.sub(r"\s+", " ", n.strip().lower())
        for i, n in enumerate(names)
    }
    norm = {i: n for i, n in norm.items() if n}

    def keys(n):
        # blocking is SCHEME-SCOPED (candidate_pairs joins on
        # (_scheme, _bkey)): pass 0 compares first-token keys with
        # first-token keys, pass 1 last with last. A bare key-set
        # intersection would also match record A's first token against
        # record B's LAST token — a pair the operator (and the
        # entity_linkage oracle) deliberately does not generate.
        toks = n.split(" ")
        lb = len(n) // band
        return {(0, f"{toks[0]}#{lb}"), (1, f"{toks[-1]}#{lb}")}

    exp = {}
    ids = sorted(norm)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            if not (keys(norm[a]) & keys(norm[b])):
                continue
            d = _lev_py(norm[a], norm[b])
            if d <= max_dist:
                exp[(a, b)] = (
                    d,
                    _rhu(1.0 - d / max(len(norm[a]), len(norm[b])), 4),
                )
    assert got == exp


# ---------------------------------------------------------------------------
# source-format roundtrips on hypothesis-random content (XML control-char
# stripping, JSONL, fixed-width, WARC)
# ---------------------------------------------------------------------------

_XML10_ILLEGAL_PY = _re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f￾￿]"
)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(
            alphabet="ab<>&\"'\x00\x08\x0b\x1f\t\n é]]>",
            max_size=20,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_xml_roundtrip_strips_illegal_keeps_rest(spark, tmp_path_factory, texts):
    from valentinus_spark.sources.xml_records import (
        read_xml_records,
        write_xml_records,
    )

    path = str(tmp_path_factory.mktemp("xmlfuzz"))
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    write_xml_records(
        df, path, ["doc_id", "text"], n_files=2, sort_cols=["doc_id"]
    )
    got = {
        int(r.doc_id): r.text
        for r in read_xml_records(spark, path, ["doc_id", "text"]).collect()
    }
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        # XML-1.0-illegal code points are stripped on write; everything
        # else (markup chars, entities, unicode, whitespace) round-trips
        assert got[i] == _XML10_ILLEGAL_PY.sub("", t)


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.text(alphabet='ab"\\\n\t é🙂', max_size=20),
            st.sampled_from(["en", "fr"]),
        ),
        min_size=1,
        max_size=8,
    ),
    compression=st.sampled_from([None, "gzip"]),
)
def test_jsonl_roundtrip_random_text(spark, tmp_path_factory, docs, compression):
    from valentinus_spark.sources.jsonl import read_documents_jsonl, write_jsonl

    path = str(tmp_path_factory.mktemp("jsonlfuzz"))
    df = spark.createDataFrame(
        [(f"d{i}", t, lang) for i, (t, lang) in enumerate(docs)],
        "id string, text string, lang string",
    )
    write_jsonl(df, path, n_files=2, compression=compression)
    got = {
        r.id: (r.document, r.metadata["lang"])
        for r in read_documents_jsonl(
            spark, path, meta_fields=["lang"]
        ).collect()
    }
    assert got == {f"d{i}": (t, lang) for i, (t, lang) in enumerate(docs)}


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.text(
                alphabet="abXY0-", max_size=8
            ),
            st.integers(-999, 9999),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_fixed_width_roundtrip_random_rows(spark, tmp_path_factory, rows):
    from valentinus_spark.sources.fixed_width import (
        read_fixed_width,
        write_fixed_width,
    )

    path = str(tmp_path_factory.mktemp("fwfuzz"))
    specs = [("name", 1, 8, "string"), ("qty", 9, 5, "int")]
    df = spark.createDataFrame(rows, "name string, qty int")
    write_fixed_width(df, path, specs, n_files=1)
    got = sorted(
        (r.name, r.qty)
        for r in read_fixed_width(spark, path, specs).collect()
    )
    # read trims the pad — empty strings come back as "" after trim
    assert got == sorted(rows)


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    recs=st.lists(
        st.tuples(st.binary(max_size=40), st.sampled_from([200, 404])),
        min_size=1,
        max_size=5,
    ),
    compression=st.sampled_from([None, "member"]),
)
def test_warc_roundtrip_random_payloads(recs, compression):
    from valentinus_spark.sources.warc import encode_warc, parse_warc_bytes

    records = [
        {
            "url": f"http://ex.com/{i}",
            "payload": body,
            "http_status": status,
        }
        for i, (body, status) in enumerate(recs)
    ]
    data = encode_warc(records, compression=compression)
    back = list(parse_warc_bytes(data))
    assert len(back) == len(recs)
    for i, ((body, status), rec) in enumerate(zip(recs, back)):
        assert rec["url"] == f"http://ex.com/{i}"
        assert rec["record_type"] == "response"
        assert rec["http_status"] == status
        assert rec["payload"] == body


# ---------------------------------------------------------------------------
# winnow_overlap_pairs vs brute-force replica over the fingerprint replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(winnow_text, min_size=2, max_size=6),
    min_shared=st.sampled_from([1, 2]),
    max_df=st.sampled_from([2, 100]),
)
def test_winnow_overlap_pairs_match_bruteforce(spark, texts, min_shared, max_df):
    from valentinus_spark.operators.text_search import winnow_overlap_pairs

    k, w = 4, 4
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.overlap)
        for r in winnow_overlap_pairs(
            df, k=k, window=w, min_shared=min_shared, max_df=max_df,
            hash_fn="sha256",
        ).collect()
    }

    fpsets = {
        i: {f for _, f in _py_winnow_fps(t, k, w)} for i, t in enumerate(texts)
    }
    dfreq: dict = {}
    for s in fpsets.values():
        for f in s:
            dfreq[f] = dfreq.get(f, 0) + 1
    kept = {f for f, c in dfreq.items() if 2 <= c <= max_df}
    exp = {}
    ids = sorted(fpsets)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            shared = len(fpsets[a] & fpsets[b] & kept)
            if shared >= min_shared:
                exp[(a, b)] = (
                    shared,
                    _rhu(
                        shared / (len(fpsets[a]) + len(fpsets[b]) - shared), 4
                    ),
                )
    assert got == exp


# ---------------------------------------------------------------------------
# source_token_kl vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(
                st.sampled_from(["the", "cat", "sat", "07", "x!"]),
                min_size=0,
                max_size=8,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_source_token_kl_matches_python(spark, rows):
    from valentinus_spark.operators.quality import source_token_kl

    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.source: (r.n_tokens, r.kl_bits)
        for r in source_token_kl(df).collect()
    }

    gc: dict = {}
    for g, t in rows:
        for tok in _toks_py(t):
            if tok:
                gc[(g, tok)] = gc.get((g, tok), 0) + 1
    cc: dict = {}
    for (g, tok), c in gc.items():
        cc[tok] = cc.get(tok, 0) + c
    ct = sum(cc.values())
    gt: dict = {}
    for (g, tok), c in gc.items():
        gt[g] = gt.get(g, 0) + c
    assert set(got) == set(gt)
    for g in gt:
        kl = sum(
            (c / gt[g]) * math.log2((c / gt[g]) / (cc[tok] / ct))
            for (gg, tok), c in gc.items()
            if gg == g
        )
        assert got[g][0] == gt[g]
        assert got[g][1] == pytest.approx(_rhu(kl, 4), abs=2e-4)


# ---------------------------------------------------------------------------
# apply_url_rules vs RFC-9309 longest-match python replay
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    urls=st.lists(
        st.tuples(
            st.sampled_from(["ex.com", "www.ex.com", "a.b", "Other.C"]),
            st.sampled_from(["", "/", "/a", "/a/b", "/ab", "/a?q=1", "/a#f"]),
        ),
        min_size=1,
        max_size=10,
    ),
    rules=st.lists(
        st.tuples(
            st.sampled_from(["ex.com", "a.b", "other.c"]),
            st.sampled_from(["", "/", "/a", "/a/", "/ab"]),
            st.booleans(),
        ),
        max_size=8,
        unique=True,
    ),
    default_allow=st.booleans(),
)
def test_apply_url_rules_matches_longest_match_replay(
    spark, urls, rules, default_allow
):
    from valentinus_spark.functions.web import apply_url_rules

    url_strs = [f"http://{h}{p}" for h, p in urls]
    udf_ = spark.createDataFrame(
        [(i, u) for i, u in enumerate(url_strs)], "uid long, url string"
    )
    rdf = spark.createDataFrame(
        rules or [("zz.none", "/", True)],
        "host string, path_prefix string, allow boolean",
    )
    got = {
        r.uid: r.allow
        for r in apply_url_rules(
            udf_, rdf, default_allow=default_allow
        ).collect()
    }
    eff_rules = rules or [("zz.none", "/", True)]
    for i, (h, p) in enumerate(urls):
        canon = h.lower()
        canon = canon[4:] if canon.startswith("www.") else canon
        path = p.split("?")[0].split("#")[0] or "/"
        cands = [
            (len(pfx), allow)
            for rh, pfx, allow in eff_rules
            if rh == canon and path.startswith(pfx)
        ]
        exp = max(cands)[1] if cands else default_allow
        assert got[i] == exp


# ---------------------------------------------------------------------------
# key_skew_profile vs python replica (NULL key is a group; nulls-first ties)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(
        st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=20,
    ),
    top_n=st.sampled_from([2, 10]),
)
def test_key_skew_profile_matches_python(spark, keys, top_n):
    from valentinus_spark.operators.skew import key_skew_profile

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = [
        (r.key, r.n_rows, r.share, r.hotness)
        for r in key_skew_profile(df, "k", top_n=top_n).collect()
    ]
    counts: dict = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    total = len(keys)
    nkeys = len(counts)
    exp = sorted(
        (
            (k, n, _rhu(n / total, 6), _rhu(n * nkeys / total, 4))
            for k, n in counts.items()
        ),
        key=lambda t: (-t[1], t[0] is not None, t[0] or ""),
    )[:top_n]
    assert got == exp


# ---------------------------------------------------------------------------
# connected components (large-star/small-star, distributed path forced)
# vs python union-find
# ---------------------------------------------------------------------------


def _uf_components(pairs):
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=24,
    )
)
def test_connected_components_star_distributed_matches_unionfind(spark, pairs):
    from valentinus_spark.operators.dedup import connected_components_star

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    # driver_threshold=0 forces the large-star/small-star rounds — the
    # 100 TB path, not the driver union-find shortcut
    got = {
        r.id: r.cluster_id
        for r in connected_components_star(df, driver_threshold=0).collect()
    }
    assert got == _uf_components(pairs)


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_docs=st.integers(1, 10),
    pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12
    ),
    method=st.sampled_from(["star", "minlabel"]),
)
def test_dedup_clusters_matches_unionfind(spark, n_docs, pairs, method):
    from valentinus_spark.operators.dedup import dedup_clusters

    pairs = [(a, b) for a, b in pairs if a < n_docs and b < n_docs]
    df = spark.createDataFrame([(i,) for i in range(n_docs)], "doc_id long")
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long") if pairs else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup_clusters(df, pdf, method=method).collect()
    }
    comp = _uf_components(pairs)
    cluster = {i: comp.get(i, i) for i in range(n_docs)}
    sizes: dict = {}
    for c in cluster.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert got == {i: (c, sizes[c]) for i, c in cluster.items()}


# ---------------------------------------------------------------------------
# minhash LSH pairs: exact precision (every emitted pair's Jaccard is
# real and >= threshold) and the identical-document recall guarantee
# ---------------------------------------------------------------------------


def _py_shingle_set(text, n):
    toks = _toks_py(text)
    if not toks:
        return None  # empty docs are dropped by the scan filter
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "cat", "sat", "dog", "ran", "big"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=7,
    ),
    threshold=st.sampled_from([0.5, 0.8]),
    dup_of=st.integers(0, 1),
)
def test_minhash_pairs_precision_and_identical_doc_recall(
    spark, texts, threshold, dup_of
):
    from valentinus_spark.operators.dedup import minhash_native_pairs

    # plant an exact duplicate of one existing doc
    texts = texts + [texts[dup_of]]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_native_pairs(
            df, threshold=threshold, hash_fn="sha256"
        ).collect()
    }
    shingles = {i: _py_shingle_set(t, 3) for i, t in enumerate(texts)}

    # precision 1.0: every emitted pair has a REAL Jaccard >= threshold
    # and the reported value is the exact set Jaccard
    for (a, b), j in got.items():
        assert a < b
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        exact = inter / (len(sa) + len(sb) - inter)
        assert j == pytest.approx(exact, abs=1e-12)
        assert exact >= threshold

    # recall guarantee: identical (normalized) docs share every shingle,
    # every signature, every band — the pair MUST surface with J = 1.0
    planted = len(texts) - 1
    if shingles[planted] is not None:
        key = (min(dup_of, planted), max(dup_of, planted))
        assert got.get(key) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# versioned table: random DML sequence (merge / delete / overwrite) vs a
# python dict replay; snapshots and the change feed must both agree
# ---------------------------------------------------------------------------


_merge_updates = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.one_of(st.none(), st.integers(0, 3)),
        st.booleans(),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda t: t[0],
)

_dml_op = st.one_of(
    st.tuples(
        st.just("merge"),
        _merge_updates,
        st.sampled_from(["update", "ignore"]),
        st.sampled_from(["insert", "ignore"]),
        st.booleans(),  # use delete_col
    ),
    st.tuples(st.just("delete"), st.integers(0, 3)),
)


@settings(max_examples=hypo_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    initial=st.lists(
        st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(0, 3))),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    ops=st.lists(_dml_op, min_size=1, max_size=4),
)
def test_versioned_dml_sequence_matches_dict_replay(
    spark, tmp_path_factory, initial, ops
):
    from valentinus_spark.sources.versioned import (
        commit_version,
        delete_where,
        merge_into,
        read_version,
        table_changes,
    )

    path = str(tmp_path_factory.mktemp("vseq"))
    df0 = spark.createDataFrame(initial, "k long, v long")
    v = commit_version(spark, path, df0, mode="overwrite")
    state = dict(initial)
    snapshots = {v: dict(state)}

    for op in ops:
        if op[0] == "merge":
            _, updates, wm, wnm, use_del = op
            udf = spark.createDataFrame(
                updates, "k long, v long, is_del boolean"
            )
            v = merge_into(
                spark,
                path,
                udf,
                on=["k"],
                when_matched=wm,
                when_not_matched=wnm,
                delete_col="is_del" if use_del else None,
            )
            for k, val, is_del in updates:
                if k in state:
                    if use_del and is_del:
                        del state[k]
                    elif wm == "update":
                        state[k] = val if val is not None else state[k]
                elif wnm == "insert":
                    state[k] = val
        else:
            _, cutoff = op
            v = delete_where(spark, path, f"v < {cutoff}")
            state = {
                k: val
                for k, val in state.items()
                if val is None or not (val < cutoff)
            }
        snapshots[v] = dict(state)

    for ver, snap in snapshots.items():
        got = {
            r.k: r.v for r in read_version(spark, path, version=ver).collect()
        }
        assert got == snap

    versions = sorted(snapshots)
    v_from, v_to = versions[0], versions[-1]
    old, new = snapshots[v_from], snapshots[v_to]
    changes = {}
    for r in table_changes(spark, path, v_from, v_to, keys=["k"]).collect():
        changes.setdefault(r._change_type, {})[r.k] = r.v
    exp_ins = {k: v2 for k, v2 in new.items() if k not in old}
    exp_del = {k: v1 for k, v1 in old.items() if k not in new}
    exp_upd = {k for k in old.keys() & new.keys() if old[k] != new[k]}
    assert changes.get("insert", {}) == exp_ins
    assert changes.get("delete", {}) == exp_del
    assert changes.get("update_preimage", {}) == {k: old[k] for k in exp_upd}
    assert changes.get("update_postimage", {}) == {k: new[k] for k in exp_upd}


# ---------------------------------------------------------------------------
# embedding near-dup: exact pairs vs brute force, and the LSH scale path
# must be row-identical to the exact operator (zero recall loss claim)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(1, 4), st.integers(-3, 3), st.integers(-3, 3)
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.5, 0.9, 0.95]),
)
def test_embedding_neardup_exact_and_lsh_agree_with_bruteforce(
    spark, vecs, threshold
):
    from valentinus_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(df, threshold=threshold).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs_lsh(df, threshold=threshold).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    exp = {}
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            c = cos(vecs[a], vecs[b])
            if c >= threshold:
                exp[(a, b)] = c
    # float-boundary pairs (cosine within 1e-9 of the threshold) may
    # legitimately differ between the normalized-dot and direct forms
    for key in set(exact) | set(exp):
        if key in exact and key in exp:
            assert exact[key] == pytest.approx(exp[key], abs=1e-9)
        else:
            c = cos(vecs[key[0]], vecs[key[1]])
            assert abs(c - threshold) < 1e-9
    # the documented LSH contract: identical pair set, identical scores
    assert set(lsh) == set(exact)
    for k_ in exact:
        assert lsh[k_] == pytest.approx(exact[k_], abs=1e-12)


# ---------------------------------------------------------------------------
# query.cosine_topk / nearest_topk vs brute force
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(st.integers(-3, 3), st.integers(-3, 3), st.integers(1, 4)),
        min_size=1,
        max_size=10,
    ),
    q=st.tuples(st.integers(-3, 3), st.integers(-3, 3), st.integers(1, 4)),
    k=st.sampled_from([1, 3]),
    metric=st.sampled_from(["cosine", "dot"]),
)
def test_query_topk_matches_bruteforce(spark, vecs, q, k, metric):
    from valentinus_spark.operators.query import cosine_topk, nearest_topk

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, embedding array<double>",
    )
    qv = [float(x) for x in q]
    got = [
        (r.id, r.similarity)
        for r in cosine_topk(df, qv, k, metric=metric).collect()
    ]

    def score(v):
        d = sum(x * y for x, y in zip(v, qv))
        if metric == "dot":
            return d
        den = math.sqrt(sum(x * x for x in v)) * math.sqrt(sum(x * x for x in qv))
        return d / den if den > 0 else 0.0

    scored = [(i, score(v)) for i, v in enumerate(vecs) if score(v) > 0]
    exp = sorted(scored, key=lambda t: (-t[1], t[0]))[:k]
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (gi, gs), (_, es) in zip(got, exp):
        assert gs == pytest.approx(es, abs=1e-12)

    near = [
        (r.id, r.distance) for r in nearest_topk(df, qv, k=k).collect()
    ]
    dists = [
        (i, math.sqrt(sum((x - y) ** 2 for x, y in zip(v, qv))))
        for i, v in enumerate(vecs)
    ]
    exp_near = sorted(dists, key=lambda t: (t[1], t[0]))[:k]
    assert [i for i, _ in near] == [i for i, _ in exp_near]
    for (_, gd), (_, ed) in zip(near, exp_near):
        assert gd == pytest.approx(ed, abs=1e-12)


# ---------------------------------------------------------------------------
# time rollup: merged partials over any split == one-shot rollup (the
# algebraic property that makes the materialization correct), vs replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 96),  # hours offset
            st.sampled_from(["click", "view"]),
            st.integers(-5, 100),
        ),
        min_size=1,
        max_size=16,
    ),
    split_at=st.integers(0, 96),
)
def test_time_rollup_merge_equals_oneshot_and_replica(spark, events, split_at):
    import datetime as _dt

    from valentinus_spark.operators.rollup import build_time_rollup, merged_rollup

    t0 = _dt.datetime(2024, 3, 1)
    rows = [
        (t0 + _dt.timedelta(hours=h, minutes=h % 60), k, float(v))
        for h, k, v in events
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    head = df.filter(F.col("ts") < t0 + _dt.timedelta(hours=split_at))
    tail = df.filter(F.col("ts") >= t0 + _dt.timedelta(hours=split_at))

    def as_map(frame):
        return {
            (r.bucket_start, r.key): (r.n, r.sum_value, r.min_value, r.max_value)
            for r in frame.collect()
        }

    oneshot = as_map(build_time_rollup(df))
    merged = as_map(merged_rollup(build_time_rollup(head), tail))
    assert merged == oneshot

    exp: dict = {}
    for (ts, k, v) in rows:
        b = ts.replace(minute=0, second=0)
        cur = exp.get((b, k))
        exp[(b, k)] = (
            (1, v, v, v)
            if cur is None
            else (cur[0] + 1, cur[1] + v, min(cur[2], v), max(cur[3], v))
        )
    assert oneshot == exp


# ---------------------------------------------------------------------------
# conformal interval calibration vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    errs=st.lists(
        st.one_of(st.none(), st.integers(0, 40).map(lambda x: x / 4.0)),
        min_size=0,
        max_size=16,
    ),
    alpha=st.sampled_from([0.1, 0.5]),
)
def test_conformal_interval_eval_matches_python(spark, errs, alpha):
    from valentinus_spark.operators.rollup import conformal_interval_eval

    rows = [(i, e) for i, e in enumerate(errs)]
    df = spark.createDataFrame(rows, "day long, abs_err double")
    got = conformal_interval_eval(df, alpha=alpha).first()

    vals = [e for _, e in rows if e is not None]
    # order_col is the day index; null errors drop before the split
    ordered = [e for _, e in sorted(rows) if e is not None]
    tot = len(ordered)
    n_cal = tot // 2
    cal, test = ordered[:n_cal], ordered[n_cal:]
    k = math.ceil((n_cal + 1) * (1 - alpha)) if n_cal else 0
    q = sorted(cal)[k - 1] if 1 <= k <= n_cal else None
    n_cov = sum(1 for e in test if q is not None and e <= q)
    assert got.n_cal == n_cal
    assert got.n_test == len(test)
    if q is None:
        assert got.q_hat is None
        assert got.coverage is None
    else:
        assert got.q_hat == pytest.approx(_rhu(q, 6), abs=1e-9)
        assert got.n_covered == n_cov
        if test:
            assert got.coverage == pytest.approx(
                _rhu(n_cov / len(test), 6), abs=1e-9
            )
        else:
            assert got.coverage is None


# ---------------------------------------------------------------------------
# PII counts / redaction vs python re replay of the shared pattern table
# ---------------------------------------------------------------------------


_pii_piece = st.one_of(
    st.sampled_from(
        [
            "plain words here",
            "bob.smith+x@ex-mail.co",
            "@not.an.email",
            "123-45-6789",
            "1234-45-6789",
            "10.0.255.3",
            "999.999.999.999",
            "+1-555-123-4567",
            "+421-555-123-4567",
            "555-123-4567",
            "x",
        ]
    )
)


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(pieces=st.lists(_pii_piece, min_size=1, max_size=6))
def test_pii_counts_and_redaction_match_python(spark, pieces):
    from valentinus_spark.functions.text import (
        PII_PATTERNS,
        pii_counts,
        redact_pii,
    )

    text = " ".join(pieces)
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        pii_counts("text").alias("c"), redact_pii("text").alias("r")
    ).first()

    exp_text = text
    for kind, pat in PII_PATTERNS.items():
        assert row.c[kind] == len(_re.findall(pat, text))
        exp_text = _re.sub(pat, f"<{kind.upper()}>", exp_text)
    assert row.r == exp_text
    # a redacted text has no remaining matches of any kind
    re_row = (
        spark.createDataFrame([(row.r,)], "text string")
        .select(pii_counts("text").alias("c"))
        .first()
    )
    assert all(re_row.c[k] == 0 for k in PII_PATTERNS)


# ---------------------------------------------------------------------------
# html_to_text vs constructed-document ground truth
# ---------------------------------------------------------------------------


_html_chunk = st.one_of(
    st.tuples(st.just("text"), st.sampled_from(["hello", "a b", "42", "x,y."])),
    st.tuples(
        st.just("entity"),
        st.sampled_from(
            [("&lt;tag&gt;", "<tag>"), ("&amp;lt;", "&lt;"), ("&quot;q&quot;", '"q"')]
        ),
    ),
    st.tuples(st.just("tag"), st.sampled_from(["<br>", "<div class='x'>", "</p>"])),
    st.tuples(
        st.just("script"),
        st.sampled_from(
            [
                "<script>var x = '<b>no</b>';</script>",
                "<STYLE type=css>.a { color: red }</STYLE>",
                "<!-- a <hidden> comment -->",
            ]
        ),
    ),
)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(chunks=st.lists(_html_chunk, min_size=0, max_size=8))
def test_html_to_text_matches_constructed_truth(spark, chunks):
    from valentinus_spark.functions.web import html_to_text

    html = []
    words = []
    for kind, payload in chunks:
        if kind == "text":
            html.append(payload)
            words.append(payload)
        elif kind == "entity":
            raw, decoded = payload
            html.append(raw)
            words.append(decoded)
        else:  # tag / script / style / comment — contributes no text
            html.append(payload)
    doc = " ".join(html)
    exp = _re.sub(r"\s+", " ", " ".join(words)).strip()
    got = (
        spark.createDataFrame([(doc,)], "html string")
        .select(html_to_text("html").alias("t"))
        .first()["t"]
    )
    assert got == exp


# ---------------------------------------------------------------------------
# versioned table: compaction is content-identical, vacuum drops exactly
# the unreferenced versions and keeps the survivors readable
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(5), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 20), st.integers(0, 5)),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    ),
    target_files=st.sampled_from([1, 3]),
    keep_last=st.sampled_from([1, 2]),
)
def test_compact_vacuum_preserve_latest_content(
    spark, tmp_path_factory, batches, target_files, keep_last
):
    from valentinus_spark.sources.versioned import (
        commit_version,
        compact_commit,
        list_versions,
        read_version,
        vacuum,
    )

    path = str(tmp_path_factory.mktemp("vcv"))
    all_rows = []
    for b in batches:
        commit_version(
            spark,
            path,
            spark.createDataFrame(b, "k long, v long"),
            mode="append",
        )
        all_rows += b

    v_compact = compact_commit(spark, path, target_files=target_files)
    got = sorted((r.k, r.v) for r in read_version(spark, path).collect())
    assert got == sorted(all_rows)  # compaction is content-identical

    removed = vacuum(path, keep_last=keep_last)
    vs = list_versions(path)
    assert len(vs) == keep_last
    assert vs[-1] == v_compact
    # the retained latest version still reads the full content
    got2 = sorted((r.k, r.v) for r in read_version(spark, path).collect())
    assert got2 == sorted(all_rows)
    import os as _os

    for f in removed:
        assert not _os.path.exists(f)


# ---------------------------------------------------------------------------
# hll_distinct: deterministic estimate within the advertised error band
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(0, 10**9), min_size=1, max_size=60),
    p=st.sampled_from([8, 12]),
)
def test_hll_distinct_within_error_band_and_deterministic(spark, vals, p):
    from valentinus_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    est1 = hll_distinct(df, "v", p=p).first()["est_distinct"]
    est2 = hll_distinct(
        df.repartition(7), "v", p=p
    ).first()["est_distinct"]
    assert est1 == est2  # order/partitioning independent
    true = len(set(vals))
    # ~1.04/sqrt(2^p) relative error; small cardinalities use the
    # linear-counting correction, so allow a floor of a few units
    assert abs(est1 - true) <= max(4.0, 6 * 1.04 / math.sqrt(2**p) * true)


# ---------------------------------------------------------------------------
# shard_assignment vs python sha replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(keys=_keys_strategy, n_shards=st.sampled_from([1, 7, 64]))
def test_shard_assignment_matches_python(spark, keys, n_shards):
    from valentinus_spark.operators.packing import shard_assignment

    df = spark.createDataFrame([(str(k),) for k in keys], "key string")
    got = {
        r.key: r.shard
        for r in df.select("key", shard_assignment("key", n_shards)).collect()
    }
    for k in keys:
        assert got[str(k)] == _bucket_py("v1", str(k)) % n_shards


# ---------------------------------------------------------------------------
# JPEG: flat-color images survive the lossy roundtrip within DC accuracy
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    r=st.integers(0, 255),
    g=st.integers(0, 255),
    b=st.integers(0, 255),
    subsample=st.booleans(),
)
def test_jpeg_flat_color_roundtrip_within_tolerance(h, w, r, g, b, subsample):
    from valentinus_spark.jpeg import decode_jpeg, encode_jpeg

    arr = np.zeros((h, w, 3), dtype=np.uint8)
    arr[:, :, 0], arr[:, :, 1], arr[:, :, 2] = r, g, b
    back = decode_jpeg(encode_jpeg(arr, subsample=subsample))
    assert back.shape == (h, w, 3)
    # a flat block is pure DC — quantization error stays within a few
    # levels per channel
    assert int(np.max(np.abs(back.astype(int) - arr.astype(int)))) <= 6


# ---------------------------------------------------------------------------
# exact dedup / deduplicate vs md5 replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.sampled_from(
            ["a doc", "A  DOC", " a doc ", "other", "", "  ", "x\ty"]
        ),
        min_size=1,
        max_size=10,
    )
)
def test_exact_dedup_and_deduplicate_match_md5_replica(spark, texts):
    from valentinus_spark.operators.dedup import deduplicate, exact_dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.content_hash: (r.kept_id, r.dup_count)
        for r in exact_dedup(df).collect()
    }
    clusters: dict = {}
    for i, t in enumerate(texts):
        digest = hashlib.md5(_norm_py(t).encode()).hexdigest()
        clusters.setdefault(digest, []).append(i)
    assert got == {
        d: (min(ids), len(ids)) for d, ids in clusters.items()
    }
    kept = sorted(r.doc_id for r in deduplicate(df).collect())
    assert kept == sorted(min(ids) for ids in clusters.values())


# ---------------------------------------------------------------------------
# text_quality / lang_id / encoding_artifacts vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                ["the", "cat", "7", "x.y,", "el", "que", "der", "und", "le", "THE"]
            ),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_text_quality_and_lang_id_match_python(spark, texts):
    from valentinus_spark.functions.text import (
        ENGLISH_STOPWORDS,
        LANG_STOPWORDS,
        lang_id,
        text_quality,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (r.q, r.lang)
        for r in df.select(
            "doc_id",
            text_quality("text").alias("q"),
            lang_id("text").alias("lang"),
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = t.strip().split() if t.strip() else []
        n_chars, n_words = len(t), len(toks)
        n_punct = len(_re.findall(r"[\.,;:!\?'\"]", t))
        n_digit = len(_re.findall(r"[0-9]", t))
        n_stop = sum(1 for w in toks if w in ENGLISH_STOPWORDS)
        q = got[i][0]
        assert (q.n_chars, q.n_words) == (n_chars, n_words)
        for gotv, num, den in (
            (q.avg_word_len, n_chars, n_words),
            (q.punct_ratio, n_punct, n_chars),
            (q.digit_ratio, n_digit, n_chars),
            (q.stopword_ratio, n_stop, n_words),
        ):
            if den == 0:
                assert gotv is None
            else:
                assert gotv == pytest.approx(num / den, abs=1e-12)
        # lang vote: argmax (votes, lang) over NORMALIZED tokens;
        # struct max breaks vote ties toward the LARGER lang code
        ntoks = _toks_py(t)
        votes = [
            (sum(1 for w in ntoks if w in words), lang)
            for lang, words in LANG_STOPWORDS.items()
        ]
        best = max(votes)
        assert got[i][1] == (best[1] if best[0] > 0 else "und")


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pieces=st.lists(
        st.sampled_from(
            [
                "plain",
                "\ufffd",
                "\u00c3\u00a9",
                "\u00e2\u0080\u0099",
                "\u00c2\u00a0",
                "\u0007",
                "\u001f",
                "ok\u0000ok",
                "caf\u00e9",
            ]
        ),
        min_size=1,
        max_size=8,
    )
)
def test_encoding_artifacts_match_python(spark, pieces):
    from valentinus_spark.functions.text import (
        ENCODING_ARTIFACT_PATTERNS,
        encoding_artifacts,
    )

    text = "".join(pieces)
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(encoding_artifacts("text").alias("a"))
        .first()["a"]
    )
    for kind, pat in ENCODING_ARTIFACT_PATTERNS.items():
        assert row[kind] == len(_re.findall(pat, text)), kind


# ---------------------------------------------------------------------------
# trigram index vs python replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abC d", max_size=12), min_size=1, max_size=6
    )
)
def test_build_trigram_index_matches_python(spark, texts):
    from valentinus_spark.operators.text_search import build_trigram_index

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.trigram)
        for r in build_trigram_index(df).collect()
    }
    exp = set()
    for i, t in enumerate(texts):
        lo = t.lower()
        if len(lo) >= 3:
            for j in range(len(lo) - 2):
                exp.add((i, lo[j : j + 3]))
    assert got == exp


# ---------------------------------------------------------------------------
# copurchase_edges / build_inverted_index vs python replicas
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 5), st.integers(1, 8)),
        min_size=1,
        max_size=20,
    )
)
def test_copurchase_edges_match_python(spark, rows):
    from valentinus_spark.operators.graph import copurchase_edges

    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {(r.src, r.dst) for r in copurchase_edges(df).collect()}
    orders: dict = {}
    for o, p in rows:
        orders.setdefault(o, set()).add(p)
    exp = {
        (a, b)
        for items in orders.values()
        for a in items
        for b in items
        if a != b
    }
    assert got == exp


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["the", "cat", "Sat", "x,"]), min_size=0, max_size=8
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_build_inverted_index_matches_python(spark, texts):
    from valentinus_spark.operators.text_search import build_inverted_index

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.term, r.doc_id, r.pos)
        for r in build_inverted_index(df).collect()
    }
    exp = {
        (tok, i, p + 1)
        for i, t in enumerate(texts)
        for p, tok in enumerate(_toks_py(t))
        if tok
    }
    assert got == exp


# ---------------------------------------------------------------------------
# ORC roundtrip on random rows (nulls, unicode, negatives)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-(10**9), 10**9),
            st.one_of(st.none(), st.text(alphabet="ab\u00e9 $", max_size=10)),
            st.one_of(st.none(), st.integers(-5, 5).map(float)),
        ),
        min_size=1,
        max_size=12,
    ),
    sort_mode=st.booleans(),
)
def test_orc_roundtrip_random_rows(spark, tmp_path_factory, rows, sort_mode):
    from valentinus_spark.sources.formats import read_orc, write_orc

    path = str(tmp_path_factory.mktemp("orcfuzz")) + "/t"
    df = spark.createDataFrame(rows, "k long, s string, v double")
    write_orc(df, path, n_files=2, sort_cols=["k"] if sort_mode else None)
    got = sorted(
        ((r.k, r.s, r.v) for r in read_orc(spark, path).collect()),
        key=lambda t: (t[0], t[1] or "", t[2] or 0.0),
    )
    assert got == sorted(
        rows, key=lambda t: (t[0], t[1] or "", t[2] or 0.0)
    )


# ---------------------------------------------------------------------------
# winnow_shared_spans: pair parity with winnow_overlap_pairs + span sanity
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(winnow_text, min_size=2, max_size=5),
    shared=st.text(alphabet=st.sampled_from("ghijkl"), min_size=0, max_size=20),
)
def test_winnow_shared_spans_pairs_and_bounds(spark, texts, shared):
    from valentinus_spark.operators.text_search import (
        winnow_overlap_pairs,
        winnow_shared_spans,
    )

    k, w, min_shared = 4, 4, 1
    # splice the shared block into the first two docs so pairs exist often
    texts = [texts[0] + " " + shared, shared + " " + texts[1]] + texts[2:]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(
            df, k=k, window=w, min_shared=min_shared, hash_fn="sha256"
        ).collect()
    }
    spans = winnow_shared_spans(
        df, k=k, window=w, min_shared=min_shared, hash_fn="sha256"
    ).collect()
    # the span report covers exactly the overlap-pair set
    assert {(r.id_a, r.id_b) for r in spans} == pairs
    norm_len = {i: len(_norm_py(t)) for i, t in enumerate(texts)}
    for r in spans:
        assert r.side in ("a", "b")
        doc = r.id_a if r.side == "a" else r.id_b
        assert 1 <= r.span_start <= r.span_end <= norm_len[doc]
        assert r.span_end - r.span_start + 1 >= k or norm_len[doc] < k
        assert r.n_fps >= 1


# ---------------------------------------------------------------------------
# PQ encode vs nearest-centroid replica (hand-made codebooks, no training)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(*[st.integers(-3, 3) for _ in range(4)]),
        min_size=1,
        max_size=8,
    ),
    data=st.data(),
)
def test_pq_encode_matches_nearest_centroid_replica(spark, vecs, data):
    from valentinus_spark.operators.similarity import pq_encode

    # m=2 subspaces of 2 dims, k=3 centroids each
    books = data.draw(
        st.lists(
            st.lists(
                st.tuples(st.integers(-2, 2), st.integers(-2, 2)).map(
                    lambda t: [float(t[0]), float(t[1])]
                ),
                min_size=3,
                max_size=3,
            ),
            min_size=2,
            max_size=2,
        )
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: list(r.pq_code) for r in pq_encode(df, books).collect()
    }
    for i, v in enumerate(vecs):
        exp = []
        for j in range(2):
            sv = v[2 * j : 2 * j + 2]
            dists = [
                (sum((a - b) ** 2 for a, b in zip(sv, c)), ci)
                for ci, c in enumerate(books[j])
            ]
            exp.append(min(dists)[1])
        assert got[i] == exp


# ---------------------------------------------------------------------------
# random projection: seed determinism, partitioning invariance, linearity
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(*[st.integers(-4, 4) for _ in range(6)]),
        min_size=1,
        max_size=6,
    ),
    alpha=st.sampled_from([2.0, -3.0]),
)
def test_random_projection_deterministic_and_linear(spark, vecs, alpha):
    from valentinus_spark.operators.similarity import random_projection

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def proj(frame):
        return {
            r.vec_id: list(r.rp_vec)
            for r in random_projection(frame, out_dim=3).collect()
        }

    p1 = proj(df)
    p2 = proj(df.repartition(5))
    assert set(p1) == set(p2) == set(range(len(vecs)))
    for i in p1:
        assert len(p1[i]) == 3
        for a, b in zip(p1[i], p2[i]):
            assert a == pytest.approx(b, abs=1e-6)  # seed + partition invariant
    scaled = spark.createDataFrame(
        [(i, [alpha * x for x in v]) for i, (_, v) in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    ps = proj(scaled)
    for i in p1:  # the map is linear: proj(alpha x) = alpha proj(x)
        for a, b in zip(ps[i], p1[i]):
            assert a == pytest.approx(alpha * b, rel=1e-5, abs=1e-5)


# ---------------------------------------------------------------------------
# label_cluster_stats vs python centroid/cosine replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(10), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(1, 4),
            st.integers(-3, 3),
            st.integers(-3, 3),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_label_cluster_stats_matches_python(spark, rows):
    from valentinus_spark.operators.similarity import label_cluster_stats

    df = spark.createDataFrame(
        [
            (i, lab, [float(x), float(y), float(z)])
            for i, (lab, x, y, z) in enumerate(rows)
        ],
        "vec_id long, label string, embedding array<double>",
    )
    got = {
        r.label: (r.n_vecs, r.avg_cos, r.min_cos)
        for r in label_cluster_stats(df).collect()
    }
    groups: dict = {}
    for lab, x, y, z in rows:
        groups.setdefault(lab, []).append((float(x), float(y), float(z)))
    for lab, members in groups.items():
        cent = [sum(c) / len(members) for c in zip(*members)]
        coss = []
        for v in members:
            d = sum(a * b for a, b in zip(v, cent))
            na = math.sqrt(sum(a * a for a in v))
            nb = math.sqrt(sum(b * b for b in cent))
            coss.append(d / (na * nb) if na * nb > 0 else 0.0)
        n, avg_c, min_c = got[lab]
        assert n == len(members)
        assert avg_c == pytest.approx(_rhu(sum(coss) / len(coss), 4), abs=2e-4)
        assert min_c == pytest.approx(_rhu(min(coss), 4), abs=2e-4)


# ---------------------------------------------------------------------------
# probe_media_header: correct container/dims for every encoder's output,
# ValueError on garbage — fuzzed content
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.sampled_from([2, 4, 6]),
    w=st.sampled_from([2, 4, 8]),
    data=st.data(),
)
def test_probe_media_header_identifies_all_containers(h, w, data):
    from valentinus_spark.audio import encode_wav
    from valentinus_spark.imaging import encode_bmp, encode_gif, encode_png
    from valentinus_spark.jpeg import encode_jpeg
    from valentinus_spark.multimodal import probe_media_header
    from valentinus_spark.video import encode_y4m

    raw = data.draw(st.binary(min_size=h * w * 3, max_size=h * w * 3))
    rgb = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    gray = rgb[:, :, 0]

    png = probe_media_header(encode_png(rgb))
    assert (png["container"], png["width"], png["height"]) == ("png", w, h)
    bmp = probe_media_header(encode_bmp(rgb))
    assert (bmp["container"], bmp["width"], bmp["height"], bmp["depth"]) == (
        "bmp", w, h, 24,
    )
    gif = probe_media_header(encode_gif(gray))
    assert (gif["container"], gif["width"], gif["height"]) == ("gif", w, h)
    jpg = probe_media_header(encode_jpeg(rgb))
    assert (jpg["container"], jpg["width"], jpg["height"]) == ("jpeg", w, h)
    wav = probe_media_header(encode_wav(gray.ravel() / 255.0, sample_rate=8000))
    assert (wav["container"], wav["width"]) == ("wav", 8000)
    y4m = probe_media_header(encode_y4m([gray]))
    assert (y4m["container"], y4m["width"], y4m["height"]) == ("y4m", w, h)

    junk = data.draw(st.binary(min_size=12, max_size=40))
    sigs = (b"\x89PNG", b"BM", b"GIF8", b"\xff\xd8", b"RIFF", b"YUV4")
    if not any(junk.startswith(s[:2]) for s in sigs):
        with pytest.raises(ValueError):
            probe_media_header(junk)


# ---------------------------------------------------------------------------
# end-to-end collection property: save -> find -> filtered cosine_query vs
# a full python replay (hash embedder + filter oracle + keep/order rules)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["red", "cat", "sat", "dog", "ran", "big"]),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    metas=row_strategy,
    spec=st.one_of(st.none(), spec_strategy),
    query=st.lists(
        st.sampled_from(["red", "cat", "sat", "dog"]), min_size=1, max_size=3
    ).map(" ".join),
    metric=st.sampled_from(["cosine", "dot"]),
    data=st.data(),
)
def test_collection_e2e_query_matches_python_replay(
    spark, tmp_path_factory, docs, metas, spec, query, metric, data
):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder
    from valentinus_spark.session import CONF_WAREHOUSE

    metas = (metas * ((len(docs) // len(metas)) + 1))[: len(docs)]
    f_where = (
        None if spec is None else [{k: {op: v}} for k, op, v in spec]
    )
    old_wh = spark.conf.get(CONF_WAREHOUSE)
    spark.conf.set(CONF_WAREHOUSE, str(tmp_path_factory.mktemp("e2e_wh")))
    try:
        name = "e2eprop"
        col = EmbeddingCollection.new(
            spark, docs, metas, None, name, embedder=HashEmbedder(dim=16)
        ).save()
        found = EmbeddingCollection.find(spark, view=f"view-{name}")
        got = [
            (r.id, r.similarity)
            for r in found.cosine_query(
                query, num_results=0, f_where=f_where, metric=metric
            ).collect()
        ]
    finally:
        spark.conf.set(CONF_WAREHOUSE, old_wh)

    emb = HashEmbedder(dim=16)
    dvecs = emb.embed_texts(docs)
    qv = emb.embed_texts([query])[0]

    exp = {}
    for i, d in enumerate(docs):
        meta = {k: str(v) for k, v in (metas[i] or {}).items()}
        if spec is not None and not all(
            py_eval(meta, k, op, v) for k, op, v in spec
        ):
            continue
        dv = [float(x) for x in dvecs[i]]
        qd = [float(x) for x in qv]
        s = sum(a * b for a, b in zip(dv, qd))
        if metric == "cosine":
            den = math.sqrt(sum(a * a for a in dv)) * math.sqrt(
                sum(a * a for a in qd)
            )
            s = s / den if den > 0 else 0.0
        if s > 0 and not math.isnan(s):
            exp[f"id{i}"] = s

    assert {i for i, _ in got} == set(exp)
    for i, s in got:
        assert s == pytest.approx(exp[i], abs=1e-6)
    # ordered=True contract: similarity desc, id asc on ties
    sims = [s for _, s in got]
    assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# IVF bucketed ANN: exact scores, rank discipline, and the planted
# identical-vector guarantee (same argmax bucket -> always found)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(8), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(st.integers(1, 4), st.integers(-3, 3), st.integers(-3, 3)),
        min_size=2,
        max_size=10,
    ),
    cents=st.lists(
        st.tuples(st.integers(-2, 2), st.integers(-2, 2), st.integers(1, 3)),
        min_size=2,
        max_size=4,
    ),
    planted=st.integers(0, 1),
    k=st.sampled_from([2, 5]),
    nprobe=st.sampled_from([1, 2]),
)
def test_bucketed_ann_exact_scores_and_planted_recall(
    spark, corpus, cents, planted, k, nprobe
):
    from valentinus_spark.operators.similarity import bucketed_ann_topk

    cdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
        "id long, embedding array<double>",
    )
    # one query = an exact copy of a corpus vector
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in corpus[planted]])],
        "qid long, qvec array<double>",
    )
    centroids = [[float(x) for x in c] for c in cents]
    rows = bucketed_ann_topk(
        cdf, qdf, centroids, k=k, nprobe=nprobe
    ).collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return d / den if den > 0 else 0.0

    qv = corpus[planted]
    assert len(rows) <= k
    sims = [r.similarity for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:  # every returned score is the TRUE cosine
        assert r.similarity == pytest.approx(
            cos(corpus[r.id], qv), abs=1e-9
        )
    # identical vector shares the query's argmax bucket: rank 1, sim 1
    top = [r for r in rows if r.rank == 1]
    assert top and top[0].similarity == pytest.approx(1.0, abs=1e-9)


# ---------------------------------------------------------------------------
# MLlib MinHash LSH pairs: verified-exact Jaccard on emitted candidates
# and the identical-document recall guarantee
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "cat", "sat", "dog", "ran", "big"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.5, 0.8]),
    dup_of=st.integers(0, 1),
)
def test_minhash_mllib_pairs_precision_and_identical_doc_recall(
    spark, texts, threshold, dup_of
):
    from valentinus_spark.operators.dedup import minhash_lsh_pairs

    texts = texts + [texts[dup_of]]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(df, threshold=threshold).collect()
    }
    shingles = {i: _py_shingle_set(t, 3) for i, t in enumerate(texts)}
    for (a, b), j in got.items():
        assert a < b
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        assert j == pytest.approx(inter / (len(sa) + len(sb) - inter), abs=1e-9)
        assert j >= threshold
    planted = len(texts) - 1
    key = (min(dup_of, planted), max(dup_of, planted))
    assert got.get(key) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# SemDeDup: pair precision, planted identical-vector recall, and
# keep-set consistency (dedup == min-id per component of its own pairs)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(6), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.tuples(st.integers(1, 4), st.integers(-3, 3), st.integers(-3, 3)),
        min_size=2,
        max_size=9,
    ),
    cents=st.lists(
        st.tuples(st.integers(-2, 2), st.integers(-2, 2), st.integers(1, 3)),
        min_size=2,
        max_size=3,
    ),
    threshold=st.sampled_from([0.9, 0.95]),
    dup_of=st.integers(0, 1),
)
def test_semantic_dedup_precision_recall_and_keepset(
    spark, corpus, cents, threshold, dup_of
):
    from valentinus_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    corpus = corpus + [corpus[dup_of]]  # planted exact duplicate
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<double>",
    )
    centroids = [[float(x) for x in c] for c in cents]
    pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(
            df, centroids=centroids, threshold=threshold
        ).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return d / den if den > 0 else 0.0

    for a, b in pairs:  # precision: every pair is a true near-dup
        assert a < b
        assert cos(corpus[a], corpus[b]) >= threshold - 1e-9
    planted = len(corpus) - 1  # identical vectors share any argmax cluster
    assert (min(dup_of, planted), max(dup_of, planted)) in pairs

    kept = sorted(
        r.vec_id
        for r in semantic_dedup(
            df, centroids=centroids, threshold=threshold
        ).collect()
    )
    comp = _uf_components(pairs)
    exp_kept = sorted(
        i for i in range(len(corpus)) if comp.get(i, i) == i
    )
    assert kept == exp_kept


# ---------------------------------------------------------------------------
# rank_scale: range, monotonicity, and the percent_rank replica
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=16),
    bits=st.sampled_from([4, 16]),
)
def test_rank_scale_matches_percent_rank_replica(spark, vals, bits):
    from valentinus_spark.operators.layout import rank_scale

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v long")
    got = {r.i: r.v_scaled for r in rank_scale(df, "v", bits=bits).collect()}
    n = len(vals)
    span = 1 << bits
    svals = sorted(vals)
    for i, v in enumerate(vals):
        # percent_rank = (rank-1)/(n-1); rank = 1 + #values strictly below
        pr = 0.0 if n == 1 else svals.index(v) / (n - 1)
        exp = min(int(math.floor(pr * span)), span - 1)
        assert got[i] == exp
        assert 0 <= got[i] < span
    # monotone: a larger value never gets a smaller scaled slot
    for i, v in enumerate(vals):
        for j, u in enumerate(vals):
            if v < u:
                assert got[i] <= got[j]


# ---------------------------------------------------------------------------
# finite_score / finite_embedding: NaN, +-Inf, and norm-overflow screens
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.sampled_from(
            [0.0, 1.5, -2.0, float("nan"), float("inf"), float("-inf"),
             1e308, 1e200, -1e154]
        ),
        min_size=1,
        max_size=8,
    )
)
def test_finite_guards_match_python(spark, vals):
    from valentinus_spark.functions.vector import finite_embedding, finite_score

    df = spark.createDataFrame(
        [(i, v, vals) for i, v in enumerate(vals)],
        "i long, s double, e array<double>",
    )
    got = {
        r.i: (r.fs, r.fe)
        for r in df.select(
            "i",
            finite_score("s").alias("fs"),
            finite_embedding("e").alias("fe"),
        ).collect()
    }
    n2 = 0.0
    for v in vals:
        n2 += v * v
    exp_fe = math.isfinite(n2)
    for i, v in enumerate(vals):
        assert got[i][0] == math.isfinite(v)
        assert got[i][1] == exp_fe


# ---------------------------------------------------------------------------
# multimodal byte decoders: randomized pixel/sample payload fuzz
# (r8 VERDICT item 8 — the header-only probe was covered, these drive
# the pixel/sample paths with random content, shapes, and corruption)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**32 - 1),
)
def test_png_roundtrip_random_pixels(h, w, c, seed):
    from valentinus_spark.imaging import decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == (h, w, c)
    np.testing.assert_array_equal(out, img)


def _png_filter_encode(img: np.ndarray, filters: list[int]) -> bytes:
    """Test-side PNG encoder applying a CHOSEN filter per scanline via
    the spec's forward formulas (T.81 §9) — independent of the product
    decoder's unfilter loop, so decode must invert every filter type."""
    import struct as _struct
    import zlib as _zlib

    h, w, c = img.shape
    color = {1: 0, 3: 2, 4: 6}[c]
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        f = filters[y % len(filters)]
        left = np.concatenate([np.zeros(c, dtype=np.int32), line[:-c]]) if stride > c else np.zeros(stride, dtype=np.int32)
        upleft = np.concatenate([np.zeros(c, dtype=np.int32), prev[:-c]]) if stride > c else np.zeros(stride, dtype=np.int32)
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - left
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = line - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, body):
        return (_struct.pack(">I", len(body)) + ctype + body
                + _struct.pack(">I", _zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(bytes(raw))) + chunk(b"IEND", b""))


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(2, 10),
    w=st.integers(2, 10),
    c=st.sampled_from([1, 3, 4]),
    filters=st.lists(st.integers(0, 4), min_size=1, max_size=5),
    seed=st.integers(0, 2**32 - 1),
)
def test_png_decode_inverts_every_filter_combination(h, w, c, filters, seed):
    """Randomized scanline-filter schedules built by an INDEPENDENT
    test-side encoder: the product decoder must recover the original
    pixels for any Sub/Up/Average/Paeth mix."""
    from valentinus_spark.imaging import decode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    out = decode_png(_png_filter_encode(img, filters))
    np.testing.assert_array_equal(out, img)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(h=st.integers(1, 10), w=st.integers(1, 11), seed=st.integers(0, 2**32 - 1))
def test_bmp_roundtrip_random_pixels_any_padding(h, w, seed):
    """BMP rows pad to 4-byte boundaries — random (incl. odd) widths
    must survive the round trip exactly."""
    from valentinus_spark.imaging import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(h=st.integers(1, 8), w=st.integers(1, 8), seed=st.integers(0, 2**32 - 1))
def test_gif_roundtrip_random_indices(h, w, seed):
    """Random palette-index frames: LZW encode/decode must reproduce the
    grayscale palette value in every RGB channel with alpha 255."""
    from valentinus_spark.imaging import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    idx = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_gif(encode_gif(idx))
    assert out.shape == (h, w, 4)
    for ch in range(3):
        np.testing.assert_array_equal(out[:, :, ch], idx)
    assert (out[:, :, 3] == 255).all()


@settings(max_examples=hypo_examples(12), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    h=st.integers(8, 24),
    w=st.integers(8, 24),
    subsample=st.booleans(),
    seed=st.integers(0, 2**32 - 1),
)
def test_jpeg_roundtrip_random_smooth_error_bounded(h, w, subsample, seed):
    """Lossy JPEG on random SMOOTH content (low-frequency, where
    quantization error is bounded): any dims — including non-MCU-aligned
    — must decode to the right shape with quantization-level error."""
    from valentinus_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    base = rng.integers(40, 216, (2, 2, 3))
    yy = np.linspace(0, 1, h)[:, None, None]
    xx = np.linspace(0, 1, w)[None, :, None]
    img = (
        base[0, 0] * (1 - yy) * (1 - xx) + base[0, 1] * (1 - yy) * xx
        + base[1, 0] * yy * (1 - xx) + base[1, 1] * yy * xx
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, subsample=subsample))
    assert out.shape == (h, w, 3)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 6 and err.max() < 40


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(1, 400),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**32 - 1),
)
def test_wav_roundtrip_random_samples_exact(n, rate, seed):
    """PCM16 quantization is the ONLY loss: decode(encode(x)) must equal
    round(clip(x)*32767)/32768 bit-for-bit, any length/rate."""
    from valentinus_spark.audio import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    x = rng.uniform(-1.2, 1.2, n)  # deliberately includes clipping range
    got, got_rate = decode_wav(encode_wav(x, rate))
    assert got_rate == rate and got.dtype == np.float32
    expect = (
        np.round(np.clip(x, -1.0, 1.0) * 32767.0).astype("<i2").astype(np.float32)
        / 32768.0
    )
    np.testing.assert_array_equal(got, expect)


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(n=st.integers(1, 300), seed=st.integers(0, 2**32 - 1))
def test_wav_decode_matches_stdlib_wave_module(n, seed):
    """Independent reference: the stdlib ``wave`` module reads the same
    bytes; samples and rate must agree exactly."""
    import io
    import wave

    from valentinus_spark.audio import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    data = encode_wav(rng.uniform(-1, 1, n), 16000)
    got, rate = decode_wav(data)
    with wave.open(io.BytesIO(data)) as wf:
        assert wf.getframerate() == rate == 16000
        assert wf.getnchannels() == 1 and wf.getsampwidth() == 2
        ref = np.frombuffer(
            wf.readframes(wf.getnframes()), dtype="<i2"
        ).astype(np.float32) / 32768.0
    np.testing.assert_array_equal(got, ref)


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(1, 120),
    n_ch=st.integers(2, 4),
    seed=st.integers(0, 2**32 - 1),
)
def test_wav_multichannel_downmix_matches_numpy(n, n_ch, seed):
    """Hand-built N-channel PCM16 WAV (test-side struct writer): the
    decoder's downmix must equal the per-frame numpy mean."""
    import struct as _struct

    from valentinus_spark.audio import decode_wav

    rng = np.random.default_rng(seed)
    frames = rng.integers(-32768, 32768, (n, n_ch), dtype=np.int16)
    raw = frames.astype("<i2").tobytes()
    fmt = _struct.pack("<HHIIHH", 1, n_ch, 8000, 8000 * 2 * n_ch, 2 * n_ch, 16)
    body = b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", len(raw)) + raw
    data = b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    got, rate = decode_wav(data)
    assert rate == 8000
    expect = (frames.astype(np.float32) / 32768.0).mean(axis=1)
    np.testing.assert_allclose(got, expect, rtol=0, atol=1e-7)


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    kind=st.sampled_from(["png", "gif", "bmp", "wav", "jpeg"]),
    mode=st.sampled_from(["truncate", "bitflip"]),
    frac=st.floats(0.02, 0.98),
    seed=st.integers(0, 2**32 - 1),
)
def test_corrupt_media_bytes_raise_documented_errors(kind, mode, frac, seed):
    """Random truncation / bit-flips anywhere in a valid payload: every
    decoder either still returns an ndarray or raises the DOCUMENTED
    ValueError/NotImplementedError — never a zlib/struct/numpy internal
    (this property found and fixed zlib.error, struct.error, IndexError
    and OverflowError leaks in the PNG/WAV/GIF/JPEG decoders)."""
    from valentinus_spark.audio import decode_wav, encode_wav
    from valentinus_spark.imaging import (
        decode_bmp,
        decode_gif,
        decode_png,
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from valentinus_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    enc = {
        "png": lambda: encode_png(img),
        "bmp": lambda: encode_bmp(img),
        "gif": lambda: encode_gif(rng.integers(0, 256, (5, 4), dtype=np.uint8)),
        "wav": lambda: encode_wav(rng.uniform(-1, 1, 64)),
        "jpeg": lambda: encode_jpeg(img),
    }[kind]()
    dec = {"png": decode_png, "bmp": decode_bmp, "gif": decode_gif,
           "wav": decode_wav, "jpeg": decode_jpeg}[kind]
    i = 2 + int(frac * (len(enc) - 3))
    if mode == "truncate":
        payload = enc[:i]
    else:
        b = bytearray(enc)
        b[i] ^= 0xFF
        payload = bytes(b)
    try:
        out = dec(payload)
    except (ValueError, NotImplementedError):
        return  # the documented failure contract
    # decoders may legitimately succeed (corruption in slack bytes)
    assert out is not None


# ---------------------------------------------------------------------------
# metadata filter compiler: promoted-column, strict-coercion and string-in
# paths vs the python evaluator (r8 VERDICT item 8 — the map path was
# propertied, these drive the remaining compiler branches)
# ---------------------------------------------------------------------------


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(specs=spec_strategy, rows=row_strategy)
def test_filter_compiler_promoted_columns_match_map_path(spark, specs, rows):
    """Promoted md_<key> columns (typed, parquet-pushable) must select
    EXACTLY the rows the map-path predicate selects — same semantics,
    different physical target."""
    from pyspark.sql.types import (
        MapType,
        StringType,
        StructField,
        StructType,
        LongType,
    )

    schema = StructType(
        [StructField("id", LongType()),
         StructField("metadata", MapType(StringType(), StringType()))]
    )
    df = spark.createDataFrame([(i, m) for i, m in enumerate(rows)], schema)
    # promote every key as its string column (the save(promote_keys=...)
    # shape); numeric compare then try_casts exactly like the map path
    for k in KEYS:
        df = df.withColumn("md_" + k, F.element_at("metadata", k))
    json_specs = [{k: {op: v}} for k, op, v in specs]
    got = {
        r["id"]
        for r in df.filter(
            compile_filters(json_specs, promoted_columns=df.columns)
        ).collect()
    }
    expect = {
        i for i, m in enumerate(rows)
        if all(py_eval(m, k, op, v) for k, op, v in specs)
    }
    assert got == expect


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    key=st.sampled_from(KEYS),
    op=st.sampled_from(["approx", "like", "neq", "between"]),
    value=st.one_of(st.integers(-5, 15), st.sampled_from(["a", "b"])),
    rows=row_strategy,
)
def test_filter_compiler_unknown_op_strict_raises_compat_coerces(
    spark, key, op, value, rows
):
    """Unknown ops: strict=True raises JsonError (our default);
    strict=False replays the reference's md2f.rs:25-34 coercion — eq for
    numeric values, never-match for non-eq string ops."""
    import pytest as _pytest

    from valentinus_spark.errors import JsonError

    spec = [{key: {op: value}}]
    with _pytest.raises(JsonError):
        compile_filters(spec)
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id long, metadata map<string,string>"
    )
    got = {
        r["id"] for r in df.filter(compile_filters(spec, strict=False)).collect()
    }
    if isinstance(value, str):
        expect = set()  # non-eq string ops never match (md2f.rs:196-199)
    else:
        expect = {i for i, m in enumerate(rows) if py_eval(m, key, "eq", value)}
    assert got == expect


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    key=st.sampled_from(KEYS),
    values=st.lists(st.sampled_from(["a", "b", "7", "-3"]), min_size=1, max_size=4),
    rows=row_strategy,
)
def test_filter_compiler_string_in_matches_python(spark, key, values, rows):
    """String in-lists (implemented for real here; documented-but-missing
    in the reference) match exact string membership, no numeric coercion."""
    df = spark.createDataFrame(
        [(i, m) for i, m in enumerate(rows)], "id long, metadata map<string,string>"
    )
    got = {
        r["id"]
        for r in df.filter(compile_filters([{key: {"in": values}}])).collect()
    }
    expect = {i for i, m in enumerate(rows) if m.get(key) in set(values)}
    assert got == expect


# ---------------------------------------------------------------------------
# r9 corpus panels vs pure-python replicas (dedup_threshold_curve,
# boilerplate_line_stats, script_profile, top_ngrams)
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta"]

doc_text = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join)


def _py_shingles(text: str, n: int = 3) -> set:
    toks = text.lower().split()
    if not toks:
        return set()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(doc_text, min_size=1, max_size=8),
    thresholds=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 1.0]), min_size=1, max_size=3
    ),
)
def test_threshold_curve_matches_python(spark, texts, thresholds):
    from valentinus_spark.operators.dedup import dedup_threshold_curve

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r.threshold: (r.n_pairs, r.n_docs_flagged, r.frac_docs_flagged)
        for r in dedup_threshold_curve(
            df, thresholds=tuple(thresholds), max_df=None
        ).collect()
    }
    sh = {i: _py_shingles(t) for i, t in enumerate(texts) if t.strip()}
    ids = sorted(sh)
    n_docs = len(ids)
    for t in sorted(set(thresholds)):
        pairs = []
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = sh[ids[x]], sh[ids[y]]
                inter = len(a & b)
                if inter and inter / len(a | b) >= t:
                    pairs.append((ids[x], ids[y]))
        flagged = {i for p in pairs for i in p}
        exp_frac = (
            round(len(flagged) / n_docs, 6) if n_docs else None
        )
        assert got[t] == (len(pairs), len(flagged), exp_frac), (
            f"t={t}: {got[t]} vs python {(len(pairs), len(flagged), exp_frac)}"
        )


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.lists(
                st.sampled_from(["header line", "body text", "footer note", "x"]),
                min_size=0,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=8,
    ),
    min_frac=st.sampled_from([0.3, 0.5, 0.9]),
)
def test_boilerplate_lines_matches_python(spark, docs, min_frac):
    import math as _math

    from valentinus_spark.operators.cleaning import boilerplate_line_stats

    rows = [(i, src, "\n".join(lines)) for i, (src, lines) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = {
        r.source: (
            r.n_docs,
            r.n_boilerplate_lines,
            r.n_docs_affected,
            r.boilerplate_occurrences,
        )
        for r in boilerplate_line_stats(df, min_frac=min_frac, min_df=2).collect()
    }
    # python replica
    by_src: dict = {}
    for i, (src, lines) in enumerate(docs):
        by_src.setdefault(src, {})[i] = {
            " ".join(l.lower().split()) for l in lines if l.strip()
        }
    exp = {}
    for src, dd in by_src.items():
        n_docs = len(dd)
        gate = max(2, _math.ceil(min_frac * n_docs))
        df_count: dict = {}
        for ls in dd.values():
            for l in ls:
                df_count[l] = df_count.get(l, 0) + 1
        boiler = {l: c for l, c in df_count.items() if c >= gate}
        affected = sum(1 for ls in dd.values() if ls & set(boiler))
        exp[src] = (n_docs, len(boiler), affected, sum(boiler.values()))
    assert got == exp


_SCRIPT_SAMPLES = {
    "latin": "ab",
    "cyrillic": "аб",
    "greek": "αβ",
    "cjk": "中文",
    "arabic": "اب",
    "hangul": "한글",
}


@settings(max_examples=hypo_examples(25), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    mix=st.lists(
        st.tuples(
            st.sampled_from(sorted(_SCRIPT_SAMPLES)), st.integers(0, 4)
        ),
        min_size=0,
        max_size=4,
    ),
    lang=st.sampled_from(["en", "ru", "zh", "xx", "ko"]),
)
def test_script_profile_matches_python(spark, mix, lang):
    from valentinus_spark.operators.quality import (
        LATIN_SCRIPT_LANGS,
        SCRIPT_RANGES,
        script_profile,
    )

    text = " ".join(_SCRIPT_SAMPLES[s] * k for s, k in mix)
    df = spark.createDataFrame([(1, lang, text)], "doc_id int, lang string, text string")
    row = script_profile(df, lang_col="lang").collect()[0]
    # python replica over the same codepoint ranges
    import re as _re

    names = [n for n, _ in SCRIPT_RANGES]
    counts = {
        n: len(_re.findall(f"[{rng}]", text)) for n, rng in SCRIPT_RANGES
    }
    for n in names:
        assert row[f"n_{n}"] == counts[n]
    if sum(counts.values()) == 0:
        exp_dom = "none"
    else:
        exp_dom = max(names, key=lambda n: (counts[n], -names.index(n)))
    assert row.dominant_script == exp_dom
    expected_script = (
        "latin"
        if lang in LATIN_SCRIPT_LANGS
        else {"ru": "cyrillic", "el": "greek", "ja": "cjk", "zh": "cjk",
              "ar": "arabic", "ko": "hangul"}.get(lang)
    )
    if expected_script is None:
        assert row.script_mismatch is None
    else:
        assert row.script_mismatch == (exp_dom != expected_script)


@settings(max_examples=hypo_examples(20), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["en", "de"]), doc_text),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
def test_top_ngrams_matches_python(spark, docs, k):
    from collections import Counter

    from valentinus_spark.operators.collocations import top_ngrams

    df = spark.createDataFrame(
        [(lang, t) for lang, t in docs], "lang string, text string"
    )
    got = [
        (r.lang, r.ngram, r.n_occurrences, r.rank)
        for r in top_ngrams(df, n=3, k=k).collect()
    ]
    by_lang: dict = {}
    for lang, t in docs:
        toks = t.lower().split()
        if len(toks) < 3:
            continue
        for i in range(len(toks) - 2):
            by_lang.setdefault(lang, Counter())[" ".join(toks[i : i + 3])] += 1
    exp = []
    for lang in sorted(by_lang):
        ranked = sorted(by_lang[lang].items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        exp += [(lang, g, c, i + 1) for i, (g, c) in enumerate(ranked)]
    assert got == exp


def _py_luhn(s: str) -> bool:
    total = 0
    for i, ch in enumerate(reversed(s), start=1):
        d = int(ch)
        if i % 2 == 1:
            total += d
        else:
            total += d * 2 if d * 2 < 10 else d * 2 - 9
    return total % 10 == 0


@settings(max_examples=hypo_examples(30), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    nums=st.lists(
        st.text(alphabet="0123456789", min_size=1, max_size=20),
        min_size=1,
        max_size=10,
    )
)
def test_luhn_valid_matches_python(spark, nums):
    from valentinus_spark.functions.text import luhn_valid

    df = spark.createDataFrame([(s,) for s in nums], "s string")
    got = {r.s: r.v for r in df.select("s", luhn_valid("s").alias("v")).collect()}
    for s in nums:
        assert got[s] is _py_luhn(s), s


@settings(max_examples=hypo_examples(15), deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["sa", "sb", "sc"]), doc_text),
        min_size=1,
        max_size=8,
    )
)
def test_source_cross_entropy_matches_python(spark, docs):
    import math
    from collections import Counter

    from valentinus_spark.operators.quality import source_cross_entropy

    df = spark.createDataFrame(docs, "source string, text string")
    got = {
        (r.eval_source, r.train_source): (r.n_shared_tokens, r.cross_entropy)
        for r in source_cross_entropy(df).collect()
    }
    cnt: dict = {}
    for src, t in docs:
        toks = t.lower().split()
        if toks:
            cnt.setdefault(src, Counter()).update(toks)
    tot = {s: sum(c.values()) for s, c in cnt.items()}
    vocab = len({w for c in cnt.values() for w in c})
    exp_pairs = {(e, t) for e in cnt for t in cnt}
    assert set(got) == exp_pairs
    for e in cnt:
        for t in cnt:
            shared = set(cnt[e]) & set(cnt[t])
            s = sum(
                round(cnt[e][w] / tot[e] * math.log(cnt[t][w] + 1), 12)
                for w in shared
            )
            exp = round(math.log(tot[t] + vocab) - s, 6)
            ns, ce = got[(e, t)]
            assert ns == len(shared)
            assert ce == pytest.approx(exp, abs=1e-9), (e, t)
