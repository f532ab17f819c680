"""The workloads and the run that measures one of them.

One closed-loop client (this process) sends one request at a time to a
collection on ``local[nproc]``. A run: start the session, set the
collection up ``SETUP_REPS`` times (fresh warehouse each time) and keep the
last, warm the remaining request kinds, run the workload's fixed request
cycle until ``--seconds`` have passed, then check every answer against the
numpy oracle. A traced run also alternates traced and untraced requests,
reads Spark's counters per request kind and times each layer once more in a
probe phase after the checks.

Workloads (the request cycle repeats until the deadline):

- ``scan_search``: unfiltered ``cosine_query`` (k=10), exact
  ``nearest_query_df`` (k=1) and ``cosine_query_many`` batches. The vector
  kernel and the scan dominate.
- ``churn``: ``append`` and ``upsert`` batches between filtered
  ``cosine_query`` reads (k=10, ``Year eq`` + ``Lang eq``, about 1 % of
  rows), ``compact_safe`` after every ``COMPACT_EVERY`` writes. The write
  path dominates the run; the reads are the point-query path, where
  per-request fixed cost dominates.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
import traceback

import numpy as np

import generate
import oracle
from spans import NullTracer, SparkStats, Tracer

K = 10
SETUP_REPS = 5  # one cold, four warm: the median is the second-slowest warm one
COMPACT_EVERY = 2  # so each churn cycle (one append, one upsert) ends with one compact
# untimed passes of the cycle before timing: scan requests keep getting
# faster for about two passes (JIT of the per-row vector expressions)
WARM_PASSES = {"scan_search": 2, "churn": 1}
PROMOTE = {"Year": "int", "Lang": "string"}
CYCLES = {
    "scan_search": ["query", "nearest", "query", "nearest", "batch"],
    "churn": ["append"] + ["query"] * 4 + ["upsert"] + ["query"] * 4,
}
WRITES = ("append", "upsert", "compact")
E2E_METRICS = ("setup_s", "query_p50_ms", "ops_per_s", "stored_bytes_per_user_byte", "peak_rss_mb")
LAYER_METRICS = (
    "session.get_spark_s",
    "embed.query_ms",
    "embed.docs_per_s",
    "embed.memo_docs_per_s",
    "filters.compile_us",
    "collection.plan_ms",
    "collection.collect_ms",
    "collection.append_ms",
    "collection.upsert_ms",
    "collection.compact_ms",
    "catalog.find_ms",
    "catalog.resolve_ms",
    "vector.cosine_ns_per_row",
    "vector.l2_ns_per_row",
    "spark.jobs_per_query",
    "spark.tasks_per_query",
    "spark.executor_cpu_ms_per_query",
    "spark.input_rows_per_result",
    "spark.gc_ms_per_query",
    "spark.shuffle_bytes_per_query",
    "storage.bytes_written_per_user_byte",
    "storage.data_files",
    "trace.query_p50_ms",
    "trace.overhead_pct",
)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _files(path: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(root, f), path): os.path.getsize(os.path.join(root, f))
        for root, _dirs, names in os.walk(path)
        for f in names
    }


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_dir = run_dir
        self.tracer = Tracer() if traced else NullTracer()
        self.record: dict = {"workload": workload, "seed": seed, "sizes": generate.SIZES}
        self.ops: list[dict] = []  # timed requests, in order
        self.written = [0, 0]  # [created file bytes, user bytes] of every write
        self.expected: dict[str, tuple[str, dict[str, str]]] = {}  # churn model
        self.versions: list[dict[str, tuple[str, dict[str, str]]]] = []
        self.writes = {"append": 0, "upsert": 0}
        self.probe_ops: list[dict] = []

    # ---------------------------------------------------------------- inputs

    def generate(self) -> None:
        t0 = time.perf_counter()
        self.rows = generate.corpus(self.seed)
        self.queries = generate.queries(self.seed)
        self.record["generate_s"] = time.perf_counter() - t0

    # ---------------------------------------------------------------- set-up

    def start_session(self) -> None:
        from valentinus_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.stats = SparkStats(self.spark) if self.traced else None
        if self.traced:
            self.tracer.install()

    def _df(self, rows):
        from valentinus_spark.collection import COLLECTION_SCHEMA

        return self.spark.createDataFrame(rows, COLLECTION_SCHEMA)

    def _write(self, fn, rows) -> None:
        """One write, with the bytes it creates counted in traced runs."""
        before = _files(self.path) if self.traced and os.path.isdir(self.path) else {}
        fn()
        if self.traced:
            after = _files(self.path)
            self.written[0] += sum(s for f, s in after.items() if f not in before)
            self.written[1] += oracle.user_bytes(*zip(*rows)) if rows else 0

    def setup(self) -> None:
        from valentinus_spark import EmbeddingCollection, HashEmbedder
        from valentinus_spark.session import CONF_WAREHOUSE

        times = []
        for rep in range(SETUP_REPS):
            self.spark.conf.set(CONF_WAREHOUSE, os.path.join(self.run_dir, f"wh{rep}"))
            t0 = time.perf_counter()
            col = EmbeddingCollection.from_dataframe(
                self.spark, self._df(self.rows), "bench", embedder=HashEmbedder(dim=generate.DIM)
            )
            self.path = col.catalog.data_path(col.view)
            self._write(lambda: col.save(promote_keys=PROMOTE), self.rows)
            self.col = EmbeddingCollection.find(self.spark, view=col.view)
            self._first_query()
            times.append(time.perf_counter() - t0)
        self.setup_times = times
        if self.traced:
            self.tracer.trace_embedder(self.col.embedder)
        self.expected = {i: (d, m) for i, d, m in self.rows}
        # untimed passes of the cycle: JIT, Python workers, first writes
        warm = CYCLES[self.workload] * WARM_PASSES[self.workload]
        for j, kind in enumerate(warm):
            self._op(kind, len(self.queries) - 2 - j, "warm")

    def _first_query(self) -> None:
        text, year, lang = self.queries[-1]
        filt = None if self.workload == "scan_search" else self._filter(year, lang)
        self.col.cosine_query(text, num_results=K, f_where=filt).collect()

    @staticmethod
    def _filter(year: int, lang: str):
        return [{"Year": {"eq": year}}, {"Lang": {"eq": lang}}]

    # -------------------------------------------------------------- requests

    def _op(self, kind: str, i: int, phase: str = "timed") -> None:
        """Send request ``i`` of ``kind``; record latency and answer.

        ``phase``: "warm" (set-up, not recorded), "timed" (recorded; a
        traced run traces every other one) or "probe" (traced run only,
        recorded apart)."""
        col, qs = self.col, self.queries
        text, year, lang = qs[i % len(qs)]
        rec: dict = {"kind": kind, "i": i, "version": len(self.versions)}
        log = {"timed": self.ops, "probe": self.probe_ops}.get(phase)
        rec["traced"] = self.traced and (phase != "timed" or len(self.ops) % 2 == 0)
        tr = self.tracer
        if self.traced:
            tr.active = rec["traced"]
            self.spark.sparkContext.setJobGroup(kind if log is not None else "warm", kind)
        t0 = time.perf_counter()
        try:
            with tr.request(len(log) if log is not None else None), tr.span("request." + kind):
                if kind == "query":
                    filt = None if self.workload == "scan_search" else self._filter(year, lang)
                    rec["filter"] = None if filt is None else (year, lang)
                    df = col.cosine_query(text, num_results=K, f_where=filt)
                    with tr.span("collection.collect"):
                        rows = df.collect()
                    rec["answer"] = ([r["id"] for r in rows], [r["similarity"] for r in rows])
                elif kind == "nearest":
                    df = col.nearest_query_df(text, k=1)
                    with tr.span("collection.collect"):
                        rows = df.collect()
                    rec["answer"] = (rows[0]["id"], rows[0]["distance"]) if rows else None
                elif kind == "batch":
                    texts = [qs[(i + j) % len(qs)][0] for j in range(generate.BATCH_PROBES)]
                    rec["texts"] = texts
                    df = col.cosine_query_many(texts, num_results=K)
                    with tr.span("collection.collect"):
                        rows = df.collect()
                    rec["answer"] = [(r["qid"], r["id"], r["similarity"]) for r in rows]
                elif kind in ("append", "upsert"):
                    k = self.writes[kind]
                    self.writes[kind] += 1
                    batch = getattr(generate, kind + "_batch")(self.seed, k)
                    self._write(lambda: getattr(col, kind)(self._df(batch)), batch)
                    self._apply(batch)
                    if (self.writes["append"] + self.writes["upsert"]) % COMPACT_EVERY == 0:
                        rec["then_compact"] = True
                elif kind == "compact":
                    self._write(col.compact_safe, [])
            rec["ok"] = True
        except Exception:  # one failed request is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if self.traced:
            self.tracer.active = True
            self.spark.sparkContext.setJobGroup("idle", "idle")
        if log is not None:
            log.append(rec)
        if rec.pop("then_compact", False):
            self._op("compact", i, phase)

    def _apply(self, batch) -> None:
        for i, d, m in batch:
            self.expected[i] = (d, m)
        self.versions.append(dict(self.expected))

    def timed_phase(self) -> None:
        """The fixed cycle until the deadline, and on until every kind in
        it (and ``compact`` for churn) has answered once."""
        cycle = CYCLES[self.workload]
        need = set(cycle) | ({"compact"} if self.workload == "churn" else set())
        deadline = time.perf_counter() + self.seconds
        n = 0
        while time.perf_counter() < deadline or need - {op["kind"] for op in self.ops}:
            self._op(cycle[n % len(cycle)], n)
            n += 1

    # ----------------------------------------------------------------- check

    def check(self) -> list[str]:
        """Every timed answer against the oracle; churn's end state."""
        self.tracer.active = False
        errs: list[str] = []
        self.stored = stored = oracle.read_stored(self.path)
        emb = self.col.embedder
        texts = sorted({t for op in self.ops for t in self._texts(op)})
        qv = dict(zip(texts, emb.embed_texts(texts))) if texts else {}
        if texts:
            errs += oracle.check_vectors("query vectors", np.stack([qv[t] for t in texts]),
                                         oracle.hash_embed(texts, generate.DIM))
        errs += oracle.check_vectors("stored vectors", stored["emb"],
                                     oracle.hash_embed(stored["documents"], generate.DIM))
        if self.workload == "churn":
            errs += oracle.check_final_state(stored, self.expected)
            snap_of = self._model_snapshots(emb)
        else:
            snap_of = {0: oracle.snapshot_of(stored)}.__getitem__
        for op in self.ops:
            if not op["ok"] or op["kind"] in WRITES:
                continue
            bad = self._check_op(op, snap_of(op["version"]), qv)
            if bad:
                op["ok"] = False
                errs += [f"{op['kind']} #{op['i']}: {e}" for e in bad[:3]]
        return errs

    def _texts(self, op) -> list[str]:
        if op["kind"] == "batch":
            return op["texts"]
        if op["kind"] in ("query", "nearest"):
            return [self.queries[op["i"] % len(self.queries)][0]]
        return []

    def _model_snapshots(self, emb):
        """Churn reads see the table of their time: rebuild it from the
        write log, vectors from the program's embedder (checked above
        against the stored Parquet and the independent hash). Returns a
        lookup by version that holds one snapshot at a time (reads come
        in version order)."""
        needed = {op["version"] for op in self.ops if op["kind"] == "query"}
        states = [{i: (d, m) for i, d, m in self.rows}] + self.versions
        docs = sorted({d for v in needed for d, _m in states[v].values()})
        vec = dict(zip(docs, emb.embed_texts(docs)))

        @functools.lru_cache(maxsize=1)
        def snap_of(v: int) -> oracle.Snapshot:
            return oracle.Snapshot.from_rows({i: (d, m, vec[d]) for i, (d, m) in states[v].items()})

        return snap_of

    def _check_op(self, op, snap, qv) -> list[str]:
        kind, ans = op["kind"], op["answer"]
        if kind == "query":
            text = self._texts(op)[0]
            year, lang = op["filter"] or (None, None)
            return oracle.check_topk(snap, qv[text], K, ans[0], ans[1], year, lang)
        if kind == "nearest":
            if ans is None:
                return ["nearest: no answer"]
            return oracle.check_nearest(snap, qv[self._texts(op)[0]], *ans)
        errs = []
        for qid, text in enumerate(op["texts"]):
            got = [(i, s) for q, i, s in ans if q == qid]
            errs += oracle.check_topk(snap, qv[text], K, [g[0] for g in got], [g[1] for g in got])
        return errs

    # --------------------------------------------------------------- metrics

    def p50_ms(self, kind: str) -> float:
        """Median latency of ``kind``; a failed request counts at the time it took to fail."""
        return _median([op["ms"] for op in self.ops if op["kind"] == kind])

    def cycle_rate(self) -> float:
        """Requests per second of the fixed cycle, from each kind's median
        latency: where the deadline cuts the last cycle does not matter."""
        weights = {k: CYCLES[self.workload].count(k) for k in set(CYCLES[self.workload])}
        if self.workload == "churn":
            weights["compact"] = (weights["append"] + weights["upsert"]) / COMPACT_EVERY
        return sum(weights.values()) * 1e3 / sum(w * self.p50_ms(k) for k, w in weights.items())

    def end_to_end(self, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
        stored = self.stored
        user = oracle.user_bytes(stored["ids"], stored["documents"], stored["metadata"])
        return {
            "setup_s": (_median(self.setup_times), "s"),
            "query_p50_ms": (self.p50_ms("query"), "ms"),
            "ops_per_s": (self.cycle_rate(), "1/s"),
            "stored_bytes_per_user_byte": (oracle.stored_bytes(self.path) / user, "B/B"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def probe_layers(self) -> dict[str, tuple[float, str]]:
        """Traced run only, after the checks: time each layer directly and
        exercise the request kinds the workload does not send."""
        from pyspark.sql import functions as F
        from valentinus_spark.functions.vector import cosine_similarity, l2_distance

        out: dict[str, tuple[float, str]] = {}
        emb = type(self.col.embedder)(**self.col.embedder.config())  # untraced
        texts = [q[0] for q in self.queries[:64]]
        times = []
        for t in texts:
            t0 = time.perf_counter()
            emb.embed_texts([t])
            times.append(time.perf_counter() - t0)
        out["embed.query_ms"] = (_median(times) * 1e3, "ms")
        # churn's writes: each rep embeds documents not seen before, so
        # their first-seen tokens take the token memo's miss path
        times = []
        for rep in range(3):
            batch = [d for k in range(20) for _i, d, _m in generate.append_batch(self.seed, 10_000 + 20 * rep + k)]
            t0 = time.perf_counter()
            emb.embed_texts(batch)
            times.append(time.perf_counter() - t0)
        out["embed.docs_per_s"] = (len(batch) / _median(times), "docs/s")
        # the corpus ingest: Zipf words, all in the token memo after one pass
        batch = generate.embed_batch(self.seed)
        emb.embed_texts(batch)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            emb.embed_texts(batch)
            times.append(time.perf_counter() - t0)
        out["embed.memo_docs_per_s"] = (len(batch) / _median(times), "docs/s")

        frame = self.col.df.select("embedding").cache()
        rows = frame.count()
        qv = [float(x) for x in emb.embed_texts([texts[0]])[0]]

        def agg_s(expr) -> float:
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                frame.agg(F.sum(expr)).collect()
                ts.append(time.perf_counter() - t0)
            return _median(ts)

        base = agg_s(F.size("embedding"))
        out["vector.cosine_ns_per_row"] = ((agg_s(cosine_similarity("embedding", qv)) - base) / rows * 1e9, "ns")
        out["vector.l2_ns_per_row"] = ((agg_s(l2_distance("embedding", qv)) - base) / rows * 1e9, "ns")
        frame.unpersist()

        cycle = set(CYCLES[self.workload])
        extra = [k for k in ("nearest", "batch") if k not in cycle]
        if self.workload != "churn":
            extra += ["append", "upsert", "compact"]
        for kind in extra:
            self._op(kind, 0, "probe")
        return out

    def per_layer(self, probe: dict) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        ops = self.ops + self.probe_ops

        def span_ms(name):
            return _median(tr.durations(name)) * 1e3

        q = [op for op in self.ops if op["kind"] == "query" and op["ok"]]
        q_tr = [op["ms"] for op in q if op["traced"]]
        q_un = [op["ms"] for op in q if not op["traced"]]
        sq = self.stats.group("query")
        sb = self.stats.group("batch")
        n_q = max(1, sum(op["kind"] == "query" for op in ops))
        n_b = max(1, sum(op["kind"] == "batch" for op in ops))
        results = sum(len(op["answer"][0]) for op in q)
        files = _files(self.path)
        return {
            "session.get_spark_s": (self.session_s, "s"),
            **probe,
            "filters.compile_us": (_median(tr.durations("filters.compile")) * 1e6, "us"),
            "collection.plan_ms": (span_ms("collection.plan"), "ms"),
            "collection.collect_ms": (span_ms("collection.collect"), "ms"),
            "collection.append_ms": (span_ms("collection.append"), "ms"),
            "collection.upsert_ms": (span_ms("collection.upsert"), "ms"),
            "collection.compact_ms": (span_ms("collection.compact"), "ms"),
            "catalog.find_ms": (span_ms("catalog.find"), "ms"),
            "catalog.resolve_ms": (span_ms("catalog.resolve"), "ms"),
            "spark.jobs_per_query": (sq.get("jobs", 0) / n_q, "count"),
            "spark.tasks_per_query": (sq.get("tasks", 0) / n_q, "count"),
            "spark.executor_cpu_ms_per_query": (sq.get("cpu_ms", 0) / n_q, "ms"),
            "spark.input_rows_per_result": (sq.get("input_rows", 0) / max(1, results), "ratio"),
            "spark.gc_ms_per_query": (sq.get("gc_ms", 0) / n_q, "ms"),
            "spark.shuffle_bytes_per_query": (sb.get("shuffle_bytes", 0) / n_b, "B"),
            "storage.bytes_written_per_user_byte": (self.written[0] / max(1, self.written[1]), "B/B"),
            "storage.data_files": (float(sum(f.endswith(".parquet") for f in files)), "count"),
            "trace.query_p50_ms": (_median(q_tr), "ms"),
            "trace.overhead_pct": ((_median(q_tr) / _median(q_un) - 1) * 100, "%"),
        }
