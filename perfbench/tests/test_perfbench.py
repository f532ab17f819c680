"""The benchmark's own tests: no Spark session, a few seconds in all.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the root of the checkout.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import generate  # noqa: E402
import oracle  # noqa: E402
from workloads import E2E_METRICS, LAYER_METRICS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ------------------------------------------------------------- generator


def test_same_seed_gives_identical_inputs():
    assert generate.corpus(5) == generate.corpus(5)
    assert generate.fingerprint(5) == generate.fingerprint(5)
    assert generate.fingerprint(5) != generate.fingerprint(6)


def test_inputs_identical_across_processes():
    """Byte-identical in a fresh interpreter with another hash seed."""
    code = f"import sys; sys.path.insert(0, {BENCH!r}); import generate; print(generate.fingerprint(5))"
    env = {**os.environ, "PYTHONHASHSEED": "123"}
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == generate.fingerprint(5)


def test_generated_shapes():
    rows = generate.corpus(1)
    ids = [r[0] for r in rows]
    assert len(rows) == generate.N_DOCS and ids == sorted(ids) and len(set(ids)) == len(ids)
    docs = [r[1] for r in rows]
    assert len(set(docs)) < len(docs)  # exact duplicates exist, so ties do
    combos = {(m["Year"], m["Lang"]) for _i, _d, m in rows}
    assert len(combos) == len(generate.YEARS) * len(generate.LANGS)  # ~1% selective filters
    ups = generate.upsert_batch(1, 0)
    assert len({u[0] for u in ups}) == len(ups) and set(u[0] for u in ups) <= set(ids)
    fresh = generate.append_batch(1, 0)
    assert not {a[0] for a in fresh} & set(ids)
    toks = " ".join(a[1] for a in fresh).split()
    assert sum(t.startswith("x") for t in toks) > 0.6 * len(toks)  # mostly first-seen


# --------------------------------------------------------------- metrics


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    names = [w["name"] for w in spec["workloads"]] + e2e + layer
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert set(e2e) == set(E2E_METRICS) and set(layer) == set(LAYER_METRICS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# ---------------------------------------------------------------- oracle


def _snapshot(n=400, dim=16, seed=0):
    rng = np.random.default_rng(seed)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    emb[10] = emb[3]  # exact ties
    emb[11] = emb[3]
    emb[20] = 0.0  # zero vector: similarity 0, never returned
    rows = {
        f"doc{i:04d}": ("", {"Year": str(2000 + i % 2), "Lang": "en" if i % 3 else "de"}, emb[i])
        for i in range(n)
    }
    return oracle.Snapshot.from_rows(rows), emb


def _loop_topk(snap, q, k, year=None, lang=None):
    """Reference answer by a plain loop (independent of the numpy path)."""
    out = []
    for i, rid in enumerate(snap.ids.tolist()):
        if (year is not None and snap.years[i] != year) or (lang is not None and snap.langs[i] != lang):
            continue
        a = snap.emb[i].tolist()
        na = math.sqrt(sum(x * x for x in a))
        nq = math.sqrt(sum(x * x for x in q))
        s = sum(x * y for x, y in zip(a, q)) / (na * nq) if na * nq > 0 else 0.0
        if s > 0:
            out.append((-s, rid))
    out.sort()
    return [r for _s, r in out[:k]], [-s for s, _r in out[:k]]


def test_oracle_accepts_the_reference_answer():
    snap, emb = _snapshot()
    for q in (emb[3].astype(np.float64), np.random.default_rng(1).normal(size=16)):
        for year, lang in ((None, None), (2001, "en")):
            ids, sims = _loop_topk(snap, q.tolist(), 10, year, lang)
            assert oracle.check_topk(snap, q, 10, ids, sims, year, lang) == []


def _planted(snap, q):
    ids, sims = _loop_topk(snap, q.tolist(), 10)
    assert ids[:3] == ["doc0003", "doc0010", "doc0011"]  # the exact tie
    outsider = next(i for i in snap.ids.tolist() if i not in ids)
    yield "outsider", ids[:-1] + [outsider], sims
    yield "similarity off by 1e-6", ids, [sims[0] + 1e-6] + sims[1:]
    yield "tie broken by the larger id", [ids[1], ids[0]] + ids[2:], sims
    yield "tie lost to a larger id", [ids[0], ids[2], ids[1]] + ids[3:], sims
    yield "row dropped", ids[:-1], sims[:-1]
    yield "duplicate row", ids[:-1] + [ids[0]], sims[:-1] + [sims[0]]
    yield "ranks swapped", ids[:3] + [ids[4], ids[3]] + ids[5:], sims[:3] + [sims[4], sims[3]] + sims[5:]


def test_planted_wrong_answers_fail():
    snap, emb = _snapshot()
    q = emb[3].astype(np.float64)
    for label, ids, sims in _planted(snap, q):
        assert oracle.check_topk(snap, q, 10, ids, sims), label
    ids, sims = _loop_topk(snap, q.tolist(), 10, 2001, "en")
    wrong_filter = next(i for i in snap.ids.tolist() if snap.years[snap.index[i]] == 2000)
    assert oracle.check_topk(snap, q, 10, ids[:-1] + [wrong_filter], sims, 2001, "en")


def test_distinct_vectors_at_equal_similarity_may_come_in_either_order():
    rows = {
        "a": ("", {"Year": "2000", "Lang": "en"}, np.array([1.0, 0.0, 0.0])),
        "b": ("", {"Year": "2000", "Lang": "en"}, np.array([0.0, 1.0, 0.0])),
        "c": ("", {"Year": "2000", "Lang": "en"}, np.array([1.0, 0.0, 0.0])),
    }
    snap = oracle.Snapshot.from_rows(rows)
    q = np.array([1.0, 1.0, 0.0])
    s = 1 / math.sqrt(2)
    assert oracle.check_topk(snap, q, 3, ["a", "b", "c"], [s, s, s]) == []
    assert oracle.check_topk(snap, q, 3, ["b", "a", "c"], [s, s, s]) == []
    assert oracle.check_topk(snap, q, 3, ["c", "b", "a"], [s, s, s])  # a, c identical
    assert oracle.check_topk(snap, q, 2, ["b", "c"], [s, s])  # c beats a only by id


def test_nearest_check():
    snap, emb = _snapshot()
    q = emb[3].astype(np.float64)
    assert oracle.check_nearest(snap, q, "doc0003", 0.0) == []
    assert oracle.check_nearest(snap, q, "doc0010", 0.0)  # exact tie: smallest id wins
    assert oracle.check_nearest(snap, q, "doc0004", float(np.linalg.norm(emb[4] - emb[3])))
    assert oracle.check_nearest(snap, q, "doc0003", 1e-6)


def test_final_state_check():
    expected = {"a": ("x", {"Year": "2000"}), "b": ("y", {"Year": "2001"})}
    stored = {"ids": ["a", "b"], "documents": ["x", "y"], "metadata": [{"Year": "2000"}, {"Year": "2001"}]}
    assert oracle.check_final_state(stored, expected) == []
    stale = {**stored, "documents": ["x", "old"]}
    assert oracle.check_final_state(stale, expected)
    dup = {"ids": ["a", "b", "b"], "documents": ["x", "y", "y"], "metadata": stored["metadata"] + [{"Year": "2001"}]}
    assert oracle.check_final_state(dup, expected)
    lost = {"ids": ["a"], "documents": ["x"], "metadata": [{"Year": "2000"}]}
    assert oracle.check_final_state(lost, expected)


def test_hash_embed_matches_the_program():
    sys.path.insert(0, ROOT)
    from valentinus_spark.embed import HashEmbedder

    texts = [r[1] for r in generate.corpus(2)[:200]] + ["", "Mixed CASE words"]
    got = HashEmbedder(dim=generate.DIM).embed_texts(texts)
    assert oracle.check_vectors("hash", got, oracle.hash_embed(texts, generate.DIM)) == []
    assert oracle.check_vectors("planted", got[::-1], oracle.hash_embed(texts, generate.DIM))
