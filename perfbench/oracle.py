"""Brute-force numpy oracle for the benchmark's correctness checks.

The checks run outside the timed phase. A snapshot is the table the program
should have answered from: ids, per-row ``Year``/``Lang`` and the embedding
matrix, read from the stored Parquet with pyarrow (not through Spark). Each
``check_*`` function returns a list of error strings; empty means correct.

Rules, shared with the program's documented semantics:

- cosine top-k keeps rows whose similarity is > 0 and not NaN, orders by
  similarity descending and breaks exact ties by id ascending;
- similarities must agree to ``TOL`` (1e-9);
- when two rows' similarities differ by less than ``TOL`` the program may
  order them either way: its summation order differs from BLAS, so two
  different vectors that tie exactly here may differ in the last bit there.
  Rows with identical vectors tie in any arithmetic and must follow the id
  rule;
- the 1-NN answer is the row with the smallest L2 distance, ties by id.

``hash_embed`` re-implements the hashing embedder from its specification
(sha256 of ``seed \\x1f token``, 60-bit prefix, bucket = v >> 1 mod dim,
sign = low bit) so stored and query vectors are checked independently of
the program's embedder code.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np

TOL = 1e-9
EMBED_TOL = 1e-6  # float32 vectors: one rounding step of a unit vector's component


@dataclass
class Snapshot:
    ids: np.ndarray  # str, sorted ascending
    years: np.ndarray  # int
    langs: np.ndarray  # str
    emb: np.ndarray  # float64 [n, dim]

    def __post_init__(self):
        self.norms = np.linalg.norm(self.emb, axis=1)
        self.index = {s: i for i, s in enumerate(self.ids.tolist())}

    def same_vector(self, a: str, b: str) -> bool:
        return bool(np.array_equal(self.emb[self.index[a]], self.emb[self.index[b]]))

    @classmethod
    def from_rows(cls, rows: dict[str, tuple[str, dict[str, str], np.ndarray]]) -> "Snapshot":
        """From ``{id: (document, metadata, vector)}``."""
        ids = sorted(rows)
        return cls(
            ids=np.array(ids),
            years=np.array([int(rows[i][1]["Year"]) for i in ids]),
            langs=np.array([rows[i][1]["Lang"] for i in ids]),
            emb=np.stack([rows[i][2] for i in ids]).astype(np.float64),
        )


def read_stored(path: str) -> dict:
    """The collection's Parquet files as plain columns (pyarrow, no Spark)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["id", "document", "metadata", "embedding"])
    n = table.num_rows
    flat = table.column("embedding").combine_chunks().flatten()
    emb = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float32)
    return {
        "ids": table.column("id").to_pylist(),
        "documents": table.column("document").to_pylist(),
        "metadata": [dict(m) for m in table.column("metadata").to_pylist()],
        "emb": emb.reshape(n, -1) if n else emb.reshape(0, 0),
    }


def snapshot_of(stored: dict) -> Snapshot:
    rows = {
        i: (d, m, e)
        for i, d, m, e in zip(stored["ids"], stored["documents"], stored["metadata"], stored["emb"])
    }
    return Snapshot.from_rows(rows)


def stored_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def user_bytes(ids, documents, metadata) -> int:
    """UTF-8 bytes of id + document + metadata keys and values."""
    total = 0
    for i, d, m in zip(ids, documents, metadata):
        total += len(i.encode()) + len(d.encode())
        total += sum(len(k.encode()) + len(v.encode()) for k, v in m.items())
    return total


def hash_embed(texts, dim: int, seed: int = 42) -> np.ndarray:
    out = np.zeros((len(texts), dim), dtype=np.float32)
    memo: dict[str, tuple[int, float]] = {}
    for r, text in enumerate(texts):
        for tok in text.lower().split():
            got = memo.get(tok)
            if got is None:
                v = int(hashlib.sha256(f"{seed}\x1f{tok}".encode()).hexdigest()[:15], 16)
                got = memo[tok] = ((v >> 1) % dim, 1.0 if v & 1 else -1.0)
            out[r, got[0]] += got[1]
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return np.divide(out, norms, out=out, where=norms > 0)


def check_vectors(label: str, got: np.ndarray, want: np.ndarray) -> list[str]:
    if got.shape != want.shape:
        return [f"{label}: vector shape {got.shape} != {want.shape}"]
    err = float(np.max(np.abs(got.astype(np.float64) - want.astype(np.float64)), initial=0.0))
    return [f"{label}: vectors differ by {err:.3g}"] if err > EMBED_TOL else []


def cosine_candidates(snap: Snapshot, qv: np.ndarray, year=None, lang=None):
    """Every row the cosine query keeps, ordered: ``(ids, sims)``."""
    q = np.asarray(qv, dtype=np.float64)
    mask = np.ones(len(snap.ids), dtype=bool)
    if year is not None:
        mask &= snap.years == year
    if lang is not None:
        mask &= snap.langs == lang
    denom = snap.norms[mask] * np.linalg.norm(q)
    dots = snap.emb[mask] @ q
    sims = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
    ids = snap.ids[mask]
    keep = sims > 0
    ids, sims = ids[keep], sims[keep]
    order = np.lexsort((ids, -sims))
    return ids[order], sims[order]


def check_topk(
    snap: Snapshot, qv, k: int, got_ids: list[str], got_sims: list[float], year=None, lang=None
) -> list[str]:
    """Check one cosine top-k answer against the oracle."""
    exp_ids, exp_sims = cosine_candidates(snap, qv, year, lang)
    want = min(k, len(exp_ids))
    errs: list[str] = []
    if len(got_ids) != want:
        return [f"returned {len(got_ids)} rows, want {want}"]
    if len(set(got_ids)) != len(got_ids):
        errs.append("duplicate ids in answer")
    sim_of = dict(zip(exp_ids.tolist(), exp_sims.tolist()))
    for j, (gid, gs) in enumerate(zip(got_ids, got_sims)):
        if gid not in sim_of:
            row = snap.index.get(gid)
            why = "unknown id" if row is None else "fails the filter or similarity > 0"
            errs.append(f"rank {j}: {gid} {why}")
            continue
        if abs(gs - exp_sims[j]) > TOL:
            errs.append(f"rank {j}: similarity {gs!r}, oracle {exp_sims[j]!r}")
        if abs(gs - sim_of[gid]) > TOL:
            errs.append(f"rank {j}: {gid} similarity {gs!r}, oracle {sim_of[gid]!r}")
    if errs or want == 0:
        return errs
    got_true = [sim_of[g] for g in got_ids]
    for j in range(want - 1):
        if got_true[j + 1] > got_true[j] + TOL:
            errs.append(f"ranks {j},{j + 1}: {got_ids[j]} before {got_ids[j + 1]} breaks the order")
    for j in range(want):
        for later in got_ids[j + 1 :]:
            if got_ids[j] > later and snap.same_vector(got_ids[j], later):
                errs.append(f"{got_ids[j]} before {later}: exact tie broken by the larger id")
    boundary = exp_sims[want - 1]
    chosen = set(got_ids)
    for eid, es in zip(exp_ids.tolist(), exp_sims.tolist()):
        if es < boundary - TOL:
            break
        if eid in chosen:
            continue
        if es > boundary + TOL:
            errs.append(f"{eid} (similarity {es!r}) missing from the top {k}")
        elif any(g > eid and snap.same_vector(g, eid) for g in got_ids):
            errs.append(f"{eid} loses an exact tie to a larger id")
    return errs


def check_nearest(snap: Snapshot, qv, got_id: str, got_dist: float) -> list[str]:
    """Check one exact 1-NN answer (L2 distance, ties by id)."""
    if not len(snap.ids):
        return ["empty snapshot"]
    d = np.sqrt(np.sum((snap.emb - np.asarray(qv, dtype=np.float64)) ** 2, axis=1))
    best = float(d.min())
    row = snap.index.get(got_id)
    if row is None:
        return [f"nearest: unknown id {got_id}"]
    errs = []
    if abs(got_dist - d[row]) > TOL:
        errs.append(f"nearest: {got_id} distance {got_dist!r}, oracle {d[row]!r}")
    if d[row] > best + TOL:
        errs.append(f"nearest: {got_id} at {d[row]!r}, oracle best {best!r}")
    first = min(i for i in snap.ids[d == d[row]].tolist() if snap.same_vector(i, got_id))
    if got_id != first:
        errs.append(f"nearest: exact tie broken to {got_id}, want {first}")
    return errs


def check_final_state(stored: dict, expected: dict[str, tuple[str, dict[str, str]]]) -> list[str]:
    """End-of-churn invariants: live row count, no duplicate id, and the
    latest write wins (document and metadata) for every id."""
    errs = []
    ids = stored["ids"]
    if len(ids) != len(expected):
        errs.append(f"live rows {len(ids)}, want {len(expected)}")
    seen: set[str] = set()
    dups = {i for i in ids if i in seen or seen.add(i)}
    if dups:
        errs.append(f"{len(dups)} duplicated ids, e.g. {sorted(dups)[0]}")
    stale = [
        i
        for i, d, m in zip(ids, stored["documents"], stored["metadata"])
        if i not in expected or expected[i] != (d, m)
    ]
    if stale:
        errs.append(f"{len(stale)} rows differ from the latest write, e.g. {stale[0]}")
    return errs
