"""Spans around the program's layers, recorded from the benchmark's side.

``Tracer.install`` wraps the public functions of each layer in place for
the rest of the process (the program's code is not edited): the embedder's ``embed_texts`` on one
collection's embedder, the filter compiler as the collection module calls
it, the collection's query and write methods, and the catalog. A span is
``(name, start, end, parent, request)``; spans stay in memory and
``dump`` writes them out when the run ends. ``NullTracer`` is the untraced
run: no wrapper is installed and client-side spans cost one call.

``SparkStats`` reads Spark's own counters for the jobs of one job group:
job ids from the status tracker, per-stage task metrics from Spark's
monitoring REST API on localhost.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from collections import defaultdict


class NullTracer:
    active = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def request(self, rid):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self):
        self.active = True  # off: wrappers call straight through, no span
        self.spans: list[tuple[str, float, float, int | None, object]] = []
        self._stack: list[int] = []
        self._request = None

    @contextlib.contextmanager
    def request(self, rid):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self._request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, r = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, r)

    def durations(self, name: str) -> list[float]:
        return [end - start for n, start, end, _p, _r in self.spans if n == name]

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            setattr(owner, attr, classmethod(self._wrap(raw.__func__, name)))
        else:
            setattr(owner, attr, self._wrap(raw, name))

    def install(self) -> None:
        from valentinus_spark import collection as col_mod

        ec, cat = col_mod.EmbeddingCollection, col_mod.CollectionCatalog
        self.patch(col_mod, "compile_filters", "filters.compile")
        for attr, name in [
            ("cosine_query", "collection.plan"),
            ("cosine_query_many", "collection.plan"),
            ("nearest_query_df", "collection.plan"),
            ("append", "collection.append"),
            ("upsert", "collection.upsert"),
            ("compact_safe", "collection.compact"),
            ("save", "collection.save"),
            ("find", "catalog.find"),
        ]:
            self.patch(ec, attr, name)
        self.patch(cat, "resolve", "catalog.resolve")

    def trace_embedder(self, embedder) -> None:
        """Span the client-side ``embed_texts`` of one embedder instance.

        The Arrow UDF pickles ``embedder.embed_texts``; the wrapper pickles
        as the plain method of an untraced copy, so executors never see it."""
        embedder.embed_texts = _TracedEmbed(self, embedder)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s[1] for s in self.spans), default=0.0)
        rows = [
            {"name": n, "start_ms": (s - t0) * 1e3, "end_ms": (e - t0) * 1e3, "parent": p, "request": r}
            for n, s, e, p, r in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f)


class _TracedEmbed:
    def __init__(self, tracer: Tracer, embedder):
        self.tracer = tracer
        self.plain = type(embedder)(**embedder.config())

    def __call__(self, texts):
        with self.tracer.span("embed.texts"):
            return self.plain.embed_texts(texts)

    def __reduce__(self):
        return getattr, (self.plain, "embed_texts")


class SparkStats:
    """Task metrics of the jobs in one job group, per Spark's status API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        url = self.sc.uiWebUrl or ""
        port = url.rsplit(":", 1)[-1] if url else ""
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}" if port else ""

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def group(self, group: str) -> dict[str, float]:
        """Sum of jobs, tasks, executor CPU, input rows, shuffle write and
        GC time over every job in ``group`` (0 where the UI is off)."""
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = defaultdict(float)
        out["jobs"] = float(len(job_ids))
        if not job_ids or not self.base:
            return dict(out)
        stage_ids: set[int] = set()
        for _ in range(50):  # the status store is fed asynchronously
            jobs = [j for j in self._get("/jobs") if j["jobId"] in job_ids]
            if len(jobs) == len(job_ids) and all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        for j in jobs:
            stage_ids.update(j["stageIds"])
        for s in self._get("/stages?status=complete"):
            if s["stageId"] not in stage_ids:
                continue
            out["tasks"] += s["numTasks"]
            out["cpu_ms"] += s["executorCpuTime"] / 1e6
            out["input_rows"] += s["inputRecords"]
            out["shuffle_bytes"] += s["shuffleWriteBytes"]
            out["gc_ms"] += s.get("jvmGcTime", 0)
        return dict(out)
