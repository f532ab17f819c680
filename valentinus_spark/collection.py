"""Collections: the reference's single data abstraction, Spark-first.

Reference model (embeddings.rs:218-236): a collection is parallel arrays
(documents, embeddings[n×dim], metadata JSON strings, ids) + a system key
``key-{uuid4}`` and human view name ``view-{name}``, serialized as ONE
bincode blob into LMDB chunks (embeddings.rs:285-306, database.rs:169-194);
every query deserializes the whole blob (embeddings.rs:545-569).

Here a collection is a Parquet table with schema::

    id: string, document: string,
    metadata: map<string,string>, embedding: array<float>

which removes the positional-identity fragility (reference resolves a row's
metadata by rposition on the document STRING, embeddings.rs:358) and gives
us, for free: columnar pruning (a filter-only query never reads the
embedding column), predicate pushdown, and partition-parallel scans. At the
100 TB design point a collection is just a big Parquet/Delta table —
row-group statistics prune metadata filters, and embedding scans
parallelize across every executor instead of one thread
(embeddings.rs:357-372).

The catalog (reference ``KeyViewIndexer`` under LMDB keys "keys"/"views",
embeddings.rs:128-142, database.rs:13-15) is a JSON manifest in the
warehouse dir — catalog METADATA is driver-side by design (same as Delta's
transaction log); the DATA plane never touches the driver.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from valentinus_spark.embed import Embedder, HashEmbedder, get_embedder
from valentinus_spark.errors import (
    BatchError,
    DatabaseError,
    NotFoundError,
    ViewNameError,
)
from valentinus_spark.filters import compile_filters
from valentinus_spark.functions.vector import (
    dequantize_embedding,
    prepared_kernel,
    quantize_embedding,
    unit_vector,
)
from valentinus_spark.operators.query import cosine_topk, nearest_topk
from valentinus_spark.session import warehouse_dir

# reference view-name gate (embeddings.rs:107-109)
VALID_NAME = re.compile(r"^[a-zA-Z0-9_]+$")

# index artifacts written next to a collection's data path (path + suffix)
ANN_SIDECARS = ("_ann", "_ann_model")
PQ_SIDECARS = ("_pq", "_pq_books.json")


def _write_table(
    df: DataFrame, path: str, partition_by: Sequence[str] | None, mode: str = "errorifexists"
) -> int:
    """Write ``df`` as Parquet in the collection's layout and return the
    rows written, observed on the write itself rather than counted by a
    second job."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode)
    if partition_by:
        # keep the Hive-partitioned layout — a flat write would drop files at
        # the table root and break partition pruning for every later read
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get["rows"]


def _read_table(spark: SparkSession, entry: dict, *files: str) -> DataFrame:
    """Read a collection's table (or just ``files`` of it) with the schema
    its catalog entry records: no schema-inference job. A legacy entry
    without one is inferred."""
    reader = spark.read
    if entry.get("schema"):
        reader = reader.schema(StructType.fromJson(entry["schema"]))
    if files:
        # basePath keeps Hive partition columns alive when reading leaf
        # files of a partitioned layout directly
        return reader.option("basePath", entry["path"]).parquet(*files)
    return reader.parquet(entry["path"])


def _local_frame(spark: SparkSession, qvs: list[list[float]], qid_type: str) -> DataFrame:
    """(qid, qvec) probe table as a LocalRelation: built through Arrow from
    pandas, so evaluating it runs no job and no Python task (a list
    argument becomes a Python RDD, one Python task per partition)."""
    import pandas as pd

    pdf = pd.DataFrame({"qid": range(len(qvs)), "qvec": qvs})
    return spark.createDataFrame(pdf, f"qid {qid_type}, qvec array<double>")


def _mark_indexes_stale(entry: dict) -> None:
    """Rows written after an index build are missing from the persisted
    LSH table and PQ codes: mark every built index stale so approximate
    queries refuse until it is rebuilt (every writer calls this)."""
    for flag in ("ann_index", "pq_index"):
        if entry.get(flag):
            entry[flag] = "stale"


class CosineQueryResult:
    """API-parity wrapper over a cosine_query result DataFrame (reference
    CosineQueryResult, embeddings.rs:145-177). ``.df`` exposes the plan for
    further relational composition; the getters collect (driver-side, like
    the reference's Vec accessors — use .df for big results)."""

    def __init__(self, df: DataFrame):
        self.df = df

    @classmethod
    def create(cls, df: DataFrame) -> "CosineQueryResult":  # embeddings.rs:154
        return cls(df)

    def get_docs(self) -> list[str]:  # embeddings.rs:160-163
        return [r[0] for r in self.df.select("document").collect()]

    def get_similarities(self) -> list[float]:  # embeddings.rs:165-168
        return [r[0] for r in self.df.select("similarity").collect()]

    def get_metadata(self) -> list[dict | None]:  # embeddings.rs:170-176
        return [r[0] for r in self.df.select("metadata").collect()]

COLLECTION_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("document", StringType(), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)


def _normalize_metadata(meta: Any) -> dict[str, str] | None:
    """Accept the reference's metadata shape — a list of single-key JSON
    object strings like ``['{"Year": 2017}', '{"Rating": 4}']``
    (embeddings.rs:610-613) — or a plain dict; canonicalize to
    map<string,string>."""
    if meta is None:
        return None
    if isinstance(meta, dict):
        return {str(k): str(v) for k, v in meta.items()}
    out: dict[str, str] = {}
    for entry in meta:
        obj = json.loads(entry) if isinstance(entry, str) else entry
        for k, v in obj.items():
            out[str(k)] = str(v)
    return out


class CollectionCatalog:
    """The keys/views catalog (reference KeyViewIndexer + kv index,
    embeddings.rs:481-539, database.rs:13-15)."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse or warehouse_dir(spark)
        os.makedirs(self.warehouse, exist_ok=True)
        self._manifest_path = os.path.join(self.warehouse, "manifest.json")

    def _read(self) -> dict[str, dict]:
        if not os.path.exists(self._manifest_path):
            return {}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write(self, manifest: dict[str, dict]) -> None:
        """Publish ``manifest`` by atomic rename of a temp file of this
        write's own: a shared temp name lets a concurrent writer rename or
        truncate another's half-written file."""
        tmp = f"{self._manifest_path}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            os.replace(tmp, self._manifest_path)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    @contextmanager
    def _locked(self):
        """Exclusive lock on the warehouse's ``manifest.json.lock``, held
        around each read-modify-write of the manifest so that concurrent
        writers, threads or processes, never drop each other's entries."""
        with open(self._manifest_path + ".lock", "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            yield  # closing the file releases the lock

    # ≈ fetch_collection_keys(views=False/True) (embeddings.rs:312-324)
    def list_keys(self) -> list[str]:
        return [m["key"] for m in self._read().values()]

    def list_views(self) -> list[str]:
        return list(self._read().keys())

    def resolve(self, view: str) -> dict:
        m = self._read()
        if view not in m:
            raise NotFoundError(f"no collection with view {view!r}")
        return m[view]

    def by_key(self, key: str) -> dict:
        for view, meta in self._read().items():
            if meta["key"] == key:
                return {**meta, "view": view}
        raise NotFoundError(f"no collection with key {key!r}")

    def add(self, view: str, entry: dict) -> None:
        with self._locked():
            m = self._read()
            m[view] = entry
            self._write(m)

    def remove(self, view: str) -> None:
        with self._locked():
            m = self._read()
            if view in m:
                del m[view]
                self._write(m)

    def data_path(self, view: str) -> str:
        return os.path.join(self.warehouse, "collections", view)


@dataclass
class EmbeddingCollection:
    """A named collection of (id, document, metadata, embedding) rows.

    Mirrors reference ``EmbeddingCollection`` (embeddings.rs:218-475); the
    underlying DataFrame is exposed as ``.df`` so the full relational
    surface (joins, aggs, SQL) composes with collection data — something
    the reference cannot do at all (SURVEY.md §2.4)."""

    spark: SparkSession
    df: DataFrame
    view: str
    key: str
    embedder: Embedder
    catalog: CollectionCatalog

    # ---------------- construction (S2, embeddings.rs:240-283) -----------

    @classmethod
    def new(
        cls,
        spark: SparkSession,
        documents: Sequence[str],
        metadata: Sequence[Any] | None,
        ids: Sequence[str] | None,
        name: str,
        embedder: Embedder | str = "hash",
        catalog: CollectionCatalog | None = None,
        **embedder_kwargs,
    ) -> "EmbeddingCollection":
        """Driver-list constructor (reference signature, embeddings.rs:240).
        For big data use :meth:`from_dataframe`."""
        n = len(documents)
        ids = list(ids) if ids is not None else [f"id{i}" for i in range(n)]  # embeddings.rs:615-618
        metadata = list(metadata) if metadata is not None else [None] * n
        if not (len(ids) == len(metadata) == n):
            raise ViewNameError(
                f"parallel inputs must align: {n} documents, {len(metadata)} metadata, {len(ids)} ids"
            )
        rows = [
            (str(i), d, _normalize_metadata(m))
            for i, d, m in zip(ids, documents, metadata)
        ]
        df = spark.createDataFrame(rows, COLLECTION_SCHEMA)
        return cls.from_dataframe(spark, df, name, embedder, catalog, **embedder_kwargs)

    @classmethod
    def from_dataframe(
        cls,
        spark: SparkSession,
        df: DataFrame,
        name: str,
        embedder: Embedder | str = "hash",
        catalog: CollectionCatalog | None = None,
        **embedder_kwargs,
    ) -> "EmbeddingCollection":
        """Spark-first constructor: any DataFrame with (id, document[,
        metadata][, embedding]) columns becomes a collection."""
        catalog = catalog or CollectionCatalog(spark)
        # view-name regex gate (embeddings.rs:107-109, 248-254)
        if not VALID_NAME.match(name):
            raise ViewNameError(
                f"invalid collection name {name!r} (must match ^[a-zA-Z0-9_]+$)"
            )
        view = f"view-{name}"  # embeddings.rs:271
        # uniqueness check (embeddings.rs:256-267)
        if view in catalog.list_views():
            raise ViewNameError(f"collection view {view!r} already exists")
        key = f"key-{uuid.uuid4()}"  # embeddings.rs:269-270
        if isinstance(embedder, str):
            embedder = get_embedder(embedder, **embedder_kwargs)
        if "metadata" not in df.columns:
            df = df.withColumn("metadata", F.lit(None).cast(MapType(StringType(), StringType())))
        return cls(spark=spark, df=df, view=view, key=key, embedder=embedder, catalog=catalog)

    # ---------------- save (S3, embeddings.rs:285-306) --------------------

    def save(
        self,
        promote_keys: Sequence[str] | dict[str, str] | None = None,
        partition_by: Sequence[str] | None = None,
        sort_by: Sequence[str] | None = None,
        quantize: bool = False,
    ) -> "EmbeddingCollection":
        """Embed all documents lacking vectors and persist as Parquet.

        Reference: compute embeddings for every doc, serialize whole struct,
        chunk-write (embeddings.rs:285-306). Here the embedding UDF runs
        partition-parallel on executors and Parquet handles layout; at
        cluster scale the write shards across executors with zero driver
        involvement.

        ``promote_keys``: metadata keys to ALSO write as top-level
        ``md_<key>`` columns — a list of keys (stored as string) or a
        ``{key: spark_type}`` dict for typed promotion. Parquet cannot
        push predicates into map elements, and a comparison on a string
        column only pushes its IsNotNull; a TYPED promoted column pushes
        the actual comparison and prunes row groups — promote the hot
        filter keys of a 100 TB collection as their real types.
        cosine_query uses promoted columns automatically.

        ``partition_by``: hive-partition the table on these columns (use a
        LOW-cardinality promoted key, e.g. ``md_Lang``) — an equality
        filter then prunes whole directories before any file is opened.
        ``sort_by``: sortWithinPartitions before writing, clustering
        row-group min/max stats so range predicates on those columns skip
        row groups. Both are layout hints, invisible to query semantics.

        ``quantize=True`` stores vectors int8-quantized (struct of
        array<tinyint> + scale — 4x smaller on disk and in every later
        shuffle); queries dequantize transparently, and cosine ranking
        is scale-invariant so recall loss is rounding-noise only."""
        from valentinus_spark.filters import PROMOTED_PREFIX

        df = self.df
        if "embedding" not in df.columns and "embedding_q" not in df.columns:
            df = df.withColumn("embedding", self.embedder.embed_col("document"))
        if quantize and "embedding" in df.columns:
            df = df.withColumn("embedding_q", quantize_embedding("embedding")).drop(
                "embedding"
            )
        promote = (
            promote_keys
            if isinstance(promote_keys, dict)
            else {k: "string" for k in promote_keys or []}
        )
        for key, dtype in promote.items():
            df = df.withColumn(
                PROMOTED_PREFIX + key,
                F.element_at("metadata", key).try_cast(dtype),
            )
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        path = self.catalog.data_path(self.view)
        n_rows = _write_table(df, path, partition_by)
        # partition columns come back last (and the reader makes every
        # column nullable); recorded so that no later read infers it again
        parts = list(partition_by or [])
        layout = StructType(
            [f for f in df.schema.fields if f.name not in parts] + [df.schema[c] for c in parts]
        )
        persisted = self.spark.read.schema(layout).parquet(path)
        self.catalog.add(
            self.view,
            {
                "key": self.key,
                "path": path,
                "embedder": self.embedder.name,
                # full recreate-config: find() must restore the SAME vector
                # space (seed, model_path, ...), not just name+dim
                "embedder_conf": self.embedder.config(),
                "dim": self.embedder.dim,
                # promotion spec: append() re-derives md_<key> columns for
                # new rows (they'd otherwise arrive NULL and both filters
                # and partitioning on the promoted column would miss them)
                "promoted": promote,
                # layout spec: append()/compact() re-apply it so the
                # Hive-partitioned directory structure survives rewrites
                "partition_by": parts,
                "schema": persisted.schema.jsonValue(),
                "n_rows": n_rows,
            },
        )
        self.df = persisted
        return self

    def _prepare_batch(self, df: DataFrame, entry: dict) -> DataFrame:
        """Incoming rows in the stored table's columns: embed documents that
        lack vectors (quantized like the table), derive the promoted
        ``md_<key>`` columns from the catalog's promotion spec, NULL-fill
        the rest."""
        from valentinus_spark.filters import PROMOTED_PREFIX

        if "metadata" not in df.columns:
            df = df.withColumn(
                "metadata", F.lit(None).cast(MapType(StringType(), StringType()))
            )
        if "embedding" not in df.columns and "embedding_q" not in df.columns:
            df = df.withColumn("embedding", self.embedder.embed_col("document"))
        if "embedding_q" in self.df.columns and "embedding_q" not in df.columns:
            df = df.withColumn("embedding_q", quantize_embedding("embedding")).drop(
                "embedding"
            )
        for pkey, ptype in (entry.get("promoted") or {}).items():
            pcol = PROMOTED_PREFIX + pkey
            if pcol not in df.columns:
                df = df.withColumn(
                    pcol, F.element_at("metadata", pkey).try_cast(ptype)
                )
        dtypes = dict(self.df.dtypes)
        for col_name in self.df.columns:
            if col_name not in df.columns:
                df = df.withColumn(col_name, F.lit(None).cast(dtypes[col_name]))
        return df.select(self.df.columns)

    def append(self, df: DataFrame) -> "EmbeddingCollection":
        """Batch-append rows to a SAVED collection: embed documents that
        lack vectors, append to the Parquet path in the saved layout,
        advance the manifest row count by the rows written. The batch twin
        of :meth:`stream_append`, which feeds its micro-batches through
        here; run compact() periodically if appends are small. Quantized
        collections quantize the new vectors the same way. One Spark job:
        the write."""
        return self._append(df)

    def _append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> "EmbeddingCollection":
        """``append``; ``txn=(app_id, version)`` makes it idempotent per
        writer, the way Delta's ``txnAppId``/``txnVersion`` do: a version
        the catalog already records for ``app_id`` is skipped, and the
        version is recorded in the same manifest write as the row count."""
        entry = self.catalog.resolve(self.view)  # raises if never saved
        if txn is not None and entry.get("txns", {}).get(txn[0], -1) >= txn[1]:
            return self
        written = _write_table(
            self._prepare_batch(df, entry), entry["path"], entry.get("partition_by"), mode="append"
        )
        self.df = _read_table(self.spark, entry)
        entry["n_rows"] = entry["n_rows"] + written if "n_rows" in entry else self.df.count()
        if txn is not None:
            entry.setdefault("txns", {})[txn[0]] = txn[1]
        _mark_indexes_stale(entry)
        self.catalog.add(self.view, entry)
        return self

    def upsert(self, df: DataFrame) -> "EmbeddingCollection":
        """Keyed MERGE into a SAVED collection: incoming rows REPLACE any
        stored row with the same ``id``; the rest insert. Embeds ONLY
        the incoming batch — survivors keep their stored vectors (at
        corpus scale, re-embedding 100 TB to revise 1% of it is the
        bug this method exists to avoid). The reference's only write
        paths are save-whole and delete-whole (embeddings.rs:285-306,
        SURVEY §2.4 extension surface); this is the Delta/Hudi
        copy-on-write MERGE pattern on the same Parquet layout.

        Incoming ids must be unique within the batch (latest-wins would
        be order-dependent under shuffle — strict-raise instead, the
        same posture as the filter compiler's unknown-op handling).

        Scale shape: one anti-join of the stored table against the
        batch ids (AQE broadcasts the id set when the batch is small)
        plus a full rewrite through a temp dir + atomic swap — the
        copy-on-write tradeoff. A deployment with file statistics would
        prune the rewrite to id-overlapping files; the merge semantics
        here are identical. ANN/PQ indexes are marked stale exactly as
        :meth:`append` does."""
        entry = self.catalog.resolve(self.view)  # raises if never saved
        dup = (
            df.groupBy("id").agg(F.count(F.lit(1)).alias("_n")).filter(F.col("_n") > 1)
        )
        if dup.limit(1).count() > 0:
            raise BatchError("upsert batch contains duplicate ids")
        batch = self._prepare_batch(df, entry)
        survivors = self.df.join(batch.select("id"), "id", "anti")
        path = entry["path"]
        tmp = path + ".upsert.tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        entry["n_rows"] = _write_table(
            survivors.unionByName(batch), tmp, entry.get("partition_by")
        )
        old = path + ".upsert.old"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        self.df = _read_table(self.spark, entry)
        _mark_indexes_stale(entry)
        self.catalog.add(self.view, entry)
        return self

    def to_view(self, name: str | None = None) -> str:
        """Register the collection as a temp view for spark.sql — the full
        SQL surface (joins, window functions, CTEs) over collection data,
        something the reference cannot offer at all (SURVEY.md §2.4).
        Returns the view name (default: the collection name without the
        ``view-`` prefix)."""
        name = name or self.view.removeprefix("view-")
        if not VALID_NAME.match(name):
            raise ViewNameError(f"invalid SQL view name {name!r}")
        self.df.createOrReplaceTempView(name)
        return name

    def compact(self, target_files: int | None = None) -> "EmbeddingCollection":
        """Rewrite the collection's Parquet layout with ``target_files``
        output files (default: session defaultParallelism).

        The small-files problem is the storage-side skew of streaming
        ingest: stream_append writes a file per micro-batch
        per partition, and a year of that makes every scan pay per-file
        open/footer costs. Periodic compaction is the standard fix (what
        Delta's OPTIMIZE does). Rewrites to a temp dir then swaps, so a
        failed compaction never loses data."""
        entry = self.catalog.resolve(self.view)
        path = entry["path"]
        n = target_files or self.spark.sparkContext.defaultParallelism
        tmp = path + ".compact.tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        _write_table(
            _read_table(self.spark, entry).repartition(n), tmp, entry.get("partition_by")
        )
        old = path + ".compact.old"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        self.df = _read_table(self.spark, entry)
        return self

    # ------------- concurrent-append-safe compaction + vacuum -------------

    def begin_compaction(self) -> dict:
        """Phase 1 of concurrent-append-safe compaction: snapshot the
        CURRENT data files. ``compact()`` above rewrites by directory
        swap, so an append that lands between its read and its swap is
        silently lost; the two-phase protocol instead pins the exact
        file list, and ``commit_compaction`` later touches ONLY those
        files — a writer appending mid-compaction is untouched (the
        same snapshot-isolation idea as Delta's OPTIMIZE, which
        conflicts-checks on files, not on the whole table)."""
        entry = self.catalog.resolve(self.view)
        path = entry["path"]
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet") and not n.startswith((".", "_")):
                    files.append(os.path.join(root, n))
        return {"path": path, "files": sorted(files), "token": uuid.uuid4().hex[:12]}

    def commit_compaction(
        self, plan: dict, target_files: int | None = None
    ) -> "EmbeddingCollection":
        """Phase 2: rewrite ONLY the files snapshotted by
        ``begin_compaction`` into ``target_files`` compacted files, move
        them into the table, then delete just the snapshotted originals.
        Files appended after the snapshot are never read, rewritten, or
        deleted — they simply coexist with the compacted output. On a
        single-node FS the per-file moves are atomic renames; an object
        store deployment would commit the same file list through a
        manifest/transaction log instead (the protocol is identical).
        A crash between move and delete leaves duplicate rows visible
        but loses nothing — re-running commit with the same plan
        converges (delete is idempotent on missing files); ``vacuum``
        clears an abandoned staging dir."""
        entry = self.catalog.resolve(self.view)
        path = entry["path"]
        snapshot = [f for f in plan["files"] if os.path.exists(f)]
        if not snapshot:
            return self
        n = target_files or self.spark.sparkContext.defaultParallelism
        tmp = f"{path}.compact-{plan['token']}"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        _write_table(
            _read_table(self.spark, entry, *snapshot).repartition(n),
            tmp,
            entry.get("partition_by"),
        )
        # move compacted part-files in (preserving partition subdirs),
        # names prefixed with the plan token so they cannot collide with
        # concurrent appends' part files
        for root, _dirs, names in os.walk(tmp):
            rel = os.path.relpath(root, tmp)
            dst_dir = path if rel == "." else os.path.join(path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in names:
                if not fname.endswith(".parquet") or fname.startswith((".", "_")):
                    continue
                os.rename(
                    os.path.join(root, fname),
                    os.path.join(dst_dir, f"compact-{plan['token']}-{fname}"),
                )
        # delete ONLY the snapshotted originals (idempotent on re-run)
        for f in snapshot:
            if os.path.exists(f):
                os.remove(f)
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
        shutil.rmtree(tmp)
        self.df = _read_table(self.spark, entry)
        return self

    def compact_safe(self, target_files: int | None = None) -> "EmbeddingCollection":
        """Concurrent-append-safe compaction in one call (begin+commit).
        Row-content-identical to ``compact()``; use this one when other
        writers may append while the rewrite runs."""
        return self.commit_compaction(self.begin_compaction(), target_files)

    def vacuum(self, dry_run: bool = False) -> DataFrame:
        """Remove orphaned storage artifacts of this collection and
        return the audit as a DataFrame ``(artifact, kind, action)``.

        Orphans accrue from crashed maintenance jobs: the swap dirs of
        ``compact()`` (``.compact.tmp``/``.compact.old``) and of
        ``upsert`` (``.upsert.tmp``/``.upsert.old``), abandoned two-phase
        staging dirs (``.compact-<token>``), and ANN/PQ index sidecars
        whose catalog flag was since dropped (an index rebuilt under a
        different name, or a manifest restored from backup). A swap dir
        is removed only while the collection's own path exists: a crash
        between a swap's two renames leaves the data ONLY in the swap
        dirs, and those are then kept (action ``kept``). LIVE index
        sidecars — ones the catalog still references — are never touched.
        Data files are never touched (duplicate-row repair after a crashed
        commit is ``compact_safe()``'s job, not vacuum's). ``dry_run=True``
        audits without deleting."""
        entry = self.catalog.resolve(self.view)
        path = entry["path"]
        base = os.path.dirname(path)
        name = os.path.basename(path)
        swaps = {
            name + suffix: kind
            for kind, op in (("swap_compaction_dir", "compact"), ("swap_upsert_dir", "upsert"))
            for suffix in (f".{op}.tmp", f".{op}.old")
        }
        found: list[tuple[str, str]] = []
        for d in sorted(os.listdir(base)):
            if d in swaps:
                found.append((d, swaps[d]))
            elif d.startswith(name + ".compact-"):
                found.append((d, "staged_compaction_dir"))
            elif d in [name + x for x in ANN_SIDECARS] and not entry.get(
                "ann_index"
            ):
                found.append((d, "orphan_ann_sidecar"))
            elif d in [name + x for x in PQ_SIDECARS] and not entry.get(
                "pq_index"
            ):
                found.append((d, "orphan_pq_sidecar"))
        live = os.path.exists(path)
        audit = []
        for d, kind in found:
            keep = d in swaps and not live
            audit.append((d, kind, "kept" if keep else "would_remove" if dry_run else "removed"))
            full = os.path.join(base, d)
            if keep or dry_run:
                continue
            if os.path.isdir(full):
                shutil.rmtree(full)
            else:
                os.remove(full)
        return self.spark.createDataFrame(audit, "artifact string, kind string, action string")

    # ---------------- load (S4, find, embeddings.rs:545-569) --------------

    @classmethod
    def find(
        cls,
        spark: SparkSession,
        key: str | None = None,
        view: str | None = None,
        catalog: CollectionCatalog | None = None,
    ) -> "EmbeddingCollection":
        """Load by key or view; key wins when both given (embeddings.rs:548-556)."""
        catalog = catalog or CollectionCatalog(spark)
        if key is not None:
            entry = catalog.by_key(key)
            view = entry["view"]
        elif view is not None:
            entry = catalog.resolve(view)
        else:
            raise NotFoundError("find() requires key or view")
        df = _read_table(spark, entry)
        conf = entry.get("embedder_conf")
        if conf is None:  # legacy entry: only name+dim were recorded
            conf = {"dim": entry.get("dim", 384)}
        embedder = get_embedder(entry.get("embedder", "hash"), **conf)
        return cls(
            spark=spark, df=df, view=view, key=entry["key"], embedder=embedder, catalog=catalog
        )

    # ---------------- catalog ops (S5/S6) ---------------------------------

    @classmethod
    def fetch_collection_keys(
        cls, spark: SparkSession, views: bool = False, catalog: CollectionCatalog | None = None
    ) -> list[str]:
        """≈ reference fetch_collection_keys (embeddings.rs:312-324)."""
        catalog = catalog or CollectionCatalog(spark)
        return catalog.list_views() if views else catalog.list_keys()

    @classmethod
    def delete(
        cls, spark: SparkSession, view_name: str, catalog: CollectionCatalog | None = None
    ) -> None:
        """Drop data + catalog entry (embeddings.rs:419-455)."""
        catalog = catalog or CollectionCatalog(spark)
        entry = catalog.resolve(view_name)  # raises NotFoundError if absent
        # data + the ANN/PQ sidecars build_*_index wrote next to it —
        # otherwise deleted collections orphan their index artifacts
        path = entry["path"]
        for p in [path] + [path + x for x in ANN_SIDECARS + PQ_SIDECARS]:
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        catalog.remove(view_name)

    # ---------------- accessors (embeddings.rs:457-475) -------------------

    def get_documents(self) -> list[str]:
        return [r[0] for r in self.df.select("document").collect()]

    def get_metadata(self) -> list[dict | None]:
        return [r[0] for r in self.df.select("metadata").collect()]

    def get_ids(self) -> list[str]:
        return [r[0] for r in self.df.select("id").collect()]

    def get_key(self) -> str:
        return self.key

    def get_view(self) -> str:
        return self.view

    # ---------------- queries (T4-T7) -------------------------------------

    def _vec_col(self) -> tuple[str, bool]:
        """The stored vector column, and whether it holds int8-quantized
        structs (save(quantize=True)) that queries dequantize."""
        names = self.df.columns
        if "embedding" in names:
            return "embedding", False
        if "embedding_q" in names:
            return "embedding_q", True
        raise NotFoundError("collection has no embeddings — save() first")

    def _vec(self):
        """Vector expression: the float column, or transparent dequantize
        of an int8-quantized collection."""
        name, quantized = self._vec_col()
        return dequantize_embedding(name) if quantized else F.col(name)

    def cosine_query(
        self,
        query_string: str,
        num_results: int = 0,
        f_where: Iterable[str | dict] | None = None,
        metric: str = "cosine",
        ordered: bool = True,
    ) -> DataFrame:
        """Metadata-filtered similarity scan (reference cosine_query,
        embeddings.rs:334-382), built by ``operators.query.cosine_topk``.

        Plan: filter(metadata predicate) → project(query vector as ``_q``)
        → generate(similarity, dropping rows the keep-rule rejects) →
        TakeOrdered(k). The scoring kernel is prepared once per query kind
        and reused; a query only binds its vector (normalized on the
        driver for cosine) as ``_q``, which Catalyst folds into one array
        literal. Catalyst pushes the compiled metadata predicate to the
        Parquet scan; each kept row is scored once (``topk_score``);
        TakeOrderedAndProject does a per-partition top-k then a driver
        merge — no shuffle.

        - ``metric="cosine"`` (default) = true cosine; ``metric="dot"`` =
          reference's raw dot (embeddings.rs:365; SURVEY.md §7.4.2).
        - ``ordered=True`` (default) = real top-k by similarity desc;
          ``ordered=False`` = reference compat: first-k in storage order,
          never sorted (embeddings.rs:373-381; SURVEY.md §7.4.1).
        - ``num_results=0`` → all matches (embeddings.rs:375).
        """
        vec_col, quantized = self._vec_col()
        return cosine_topk(
            self.df, self.embedder.embed_texts([query_string])[0], num_results,
            vec_col=vec_col, metric=metric, ordered=ordered, quantized=quantized,
            pred=compile_filters(f_where, promoted_columns=self.df.columns),
            columns=["id", "document", "similarity", "metadata"],
        )

    def cosine_query_many(
        self,
        query_strings: Sequence[str],
        num_results: int = 10,
        f_where: Iterable[str | dict] | None = None,
        metric: str = "cosine",
    ) -> DataFrame:
        """Batched cosine_query: one pass over the collection answers
        MANY queries (qid = position in ``query_strings``). The single-
        query API scans the table per call; a pipeline scoring hundreds
        of probes wants one scan with the query vectors broadcast and a
        per-qid window top-k (WindowGroupLimit: partial top-k map-side,
        no global sort). Same metadata filter and dot>0 keep-rule as
        cosine_query; returns (qid, id, document, similarity, metadata)
        ranked per qid."""
        if not query_strings:
            raise ValueError("query_strings must be non-empty")
        qvs = [[float(x) for x in v] for v in self.embedder.embed_texts(list(query_strings))]
        if metric != "dot":  # normalized here, once, not per row and probe
            qvs = [unit_vector(v) for v in qvs]
        queries = _local_frame(self.spark, qvs, "int")
        vec_col, quantized = self._vec_col()
        kernel = prepared_kernel(
            "dot" if metric == "dot" else "cosine", vec_col, "qvec", quantized
        )
        base = self.df.filter(
            compile_filters(f_where, promoted_columns=self.df.columns)
        )
        scored = base.crossJoin(F.broadcast(queries)).select(
            "qid", "id", "document", kernel, "metadata"
        )
        w = Window.partitionBy("qid").orderBy(F.desc("similarity"), F.asc("id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= num_results)
            .drop("rank")
            .orderBy("qid", F.desc("similarity"), F.asc("id"))
        )

    def cosine_query_result(self, *args, **kwargs) -> CosineQueryResult:
        """cosine_query returning the reference-shaped result container."""
        return CosineQueryResult(self.cosine_query(*args, **kwargs))

    @classmethod
    def federated_cosine_query(
        cls,
        spark: SparkSession,
        views: Sequence[str],
        query_string: str,
        num_results: int = 10,
        per_collection: int | None = None,
        f_where: Iterable[str | dict] | None = None,
        metric: str = "cosine",
        catalog: CollectionCatalog | None = None,
    ) -> DataFrame:
        """One query across MANY collections, merged into a global top-k
        with per-row provenance (``collection`` column).

        Reference users shard corpora into one collection per source /
        tenant / date and query each in a loop (the reference API is
        strictly single-collection, embeddings.rs:334); this federates
        the loop into ONE Spark job. The query string is embedded per
        collection with THAT collection's own embedder (federation must
        not assume a shared vector space — a hash-dim-64 collection and
        a MiniLM collection rank in their own spaces; cosine is
        magnitude-normalized so the scores are comparable as similarity
        ranks).

        Plan shape: each member contributes a filter→score→TakeOrdered
        top-``per_collection`` over its own parquet scan (all scans run
        in one job, partition-parallel, nothing shuffles); the union of
        C×k candidate rows (KB-sized) feeds one final TakeOrdered — the
        classic scatter-gather federation, 100 TB-safe because only
        per-collection winners travel."""
        if not views:
            raise ValueError("views must be non-empty")
        catalog = catalog or CollectionCatalog(spark)
        cap = per_collection or num_results
        parts = []
        for v in views:
            col = cls.find(spark, view=v, catalog=catalog)
            parts.append(
                col.cosine_query(
                    query_string, num_results=cap, f_where=f_where, metric=metric
                ).select(
                    F.lit(v).alias("collection"),
                    "id",
                    "document",
                    "similarity",
                    "metadata",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(
            F.desc("similarity"), F.asc("collection"), F.asc("id")
        ).limit(num_results)

    # ---------------- ANN index lifecycle (SURVEY.md §7.2 step 6) ---------

    def build_ann_index(
        self, bucket_length: float = 2.0, num_hash_tables: int = 3
    ) -> "EmbeddingCollection":
        """Persist a BucketedRandomProjectionLSH index for this collection.

        The structure the reference rebuilds on EVERY query
        (embeddings.rs:402-404, KdTree) becomes a one-time batch job: the
        fitted model and the hashed table are written next to the data, so
        approximate queries load them instead of scanning raw vectors. At
        cluster scale the hashed table is partition-parallel and the model
        is a few random hyperplanes (KB-sized)."""
        from valentinus_spark.operators.similarity import lsh_ann_index

        df = self.df
        if "embedding" not in df.columns:
            df = df.withColumn("embedding", self._vec())
        model, hashed = lsh_ann_index(
            df,
            id_col="id",
            bucket_length=bucket_length,
            num_hash_tables=num_hash_tables,
        )
        base = self.catalog.data_path(self.view)
        model.write().overwrite().save(base + "_ann_model")
        hashed.drop("_features").write.mode("overwrite").parquet(base + "_ann")
        entry = self.catalog.resolve(self.view)
        entry["ann_index"] = True
        entry["ann_params"] = {
            "bucket_length": bucket_length,
            "num_hash_tables": num_hash_tables,
        }
        self.catalog.add(self.view, entry)
        return self

    def rebuild_ann_index(self) -> "EmbeddingCollection":
        """Rebuild a stale LSH index (after append/stream append) with the
        parameters recorded at build time. At scale this is the periodic
        batch half of continuous ingest: stream appends rows, a scheduled
        job re-hashes the table (BASELINE.json: batch index build, not
        online index maintenance)."""
        entry = self.catalog.resolve(self.view)
        params = entry.get("ann_params") or {}
        return self.build_ann_index(**params)

    def build_pq_index(
        self, m: int = 8, k: int = 16, seed: int = 42
    ) -> "EmbeddingCollection":
        """Persist a product-quantization index: per-subspace codebooks
        (operators/similarity.py::pq_codebooks, trained on a seeded
        bounded sample) plus the m-code table for every row. Approximate
        queries then rank by asymmetric distance over the codes — the
        scan reads m nibbles per row instead of the float vectors — and
        re-rank the shortlist exactly. The byte-budget companion to the
        LSH index (bucket pruning); both go stale on append."""
        import json as _json

        from valentinus_spark.operators.similarity import pq_codebooks, pq_encode

        df = self.df
        if "embedding" not in df.columns:
            df = df.withColumn("embedding", self._vec())
        books = pq_codebooks(df, vec_col="embedding", m=m, k=k, seed=seed)
        codes = pq_encode(df, books, vec_col="embedding").select("id", "pq_code")
        base = self.catalog.data_path(self.view)
        codes.write.mode("overwrite").parquet(base + "_pq")
        with open(base + "_pq_books.json", "w") as f:
            _json.dump(books, f)
        entry = self.catalog.resolve(self.view)
        entry["pq_index"] = True
        entry["pq_params"] = {"m": m, "k": k, "seed": seed}
        self.catalog.add(self.view, entry)
        return self

    def nearest_query_pq(
        self, query_string: str, k: int = 1, shortlist_factor: int = 8
    ) -> DataFrame:
        """Approximate k-NN via the persisted PQ index: ADC shortlist
        over the codes table, exact cosine re-rank of just the
        shortlist (operators/similarity.py::pq_ann_topk_refined).
        Returns (id, document, similarity, metadata)."""
        import json as _json

        from valentinus_spark.operators.similarity import pq_ann_topk_refined

        entry = self.catalog.resolve(self.view)
        if not entry.get("pq_index"):
            raise NotFoundError(
                f"collection {self.view!r} has no PQ index — build_pq_index() first"
            )
        if entry.get("pq_index") == "stale":
            raise DatabaseError(
                f"PQ index of {self.view!r} is stale (rows were appended "
                "after it was built) — build_pq_index() again, or use the "
                "exact nearest_query_df()"
            )
        base = self.catalog.data_path(self.view)
        with open(base + "_pq_books.json") as f:
            books = _json.load(f)
        codes = self.spark.read.parquet(base + "_pq")
        df = self.df
        if "embedding" not in df.columns:
            df = df.withColumn("embedding", self._vec())
        corpus = df.join(codes, "id")
        qv = [float(x) for x in self.embedder.embed_texts([query_string])[0]]
        queries = _local_frame(self.spark, [qv], "long")
        out = pq_ann_topk_refined(
            corpus, queries, books, k=k, shortlist_factor=shortlist_factor,
            corpus_id="id", corpus_vec="embedding",
        )
        return (
            out.join(df.select("id", "document", "metadata"), "id")
            .select("id", "document", "similarity", "metadata")
            .orderBy(F.desc("similarity"), F.asc("id"))
        )

    def stream_append(self, docs_stream: DataFrame, checkpoint: str,
                      text_col: str = "document"):
        """Streaming twin of append(): every micro-batch of ``docs_stream``
        (id, document[, metadata] rows) goes through :meth:`append`, so it
        gets the saved layout, promoted columns, the row count and stale
        index marks like a batch append. Replays are exactly-once: the
        catalog records the last batch id appended per checkpoint, and a
        batch the stream replays after a failure is skipped. ``text_col``
        names the column to embed when it is not ``document``. Returns the
        StreamingQuery (trigger availableNow)."""
        self.catalog.resolve(self.view)  # raises if never saved
        app_id = os.path.abspath(checkpoint)

        def append_batch(batch: DataFrame, batch_id: int) -> None:
            if text_col != "document" and "embedding" not in batch.columns:
                batch = batch.withColumn("embedding", self.embedder.embed_col(text_col))
            self._append(batch, txn=(app_id, batch_id))

        return (
            docs_stream.writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def _load_ann(self):
        from pyspark.ml.feature import BucketedRandomProjectionLSHModel
        from pyspark.ml.functions import array_to_vector

        entry = self.catalog.resolve(self.view)
        if not entry.get("ann_index"):
            raise NotFoundError(
                f"collection {self.view!r} has no ANN index — build_ann_index() first"
            )
        if entry.get("ann_index") == "stale":
            raise DatabaseError(
                f"ANN index of {self.view!r} is stale (rows were appended "
                "after it was built) — rebuild_ann_index() first, or use the "
                "exact nearest_query_df()"
            )
        base = self.catalog.data_path(self.view)
        model = BucketedRandomProjectionLSHModel.load(base + "_ann_model")
        hashed = self.spark.read.parquet(base + "_ann").withColumn(
            "_features", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        return model, hashed

    def nearest_query_approx(self, query_string: str, k: int = 1) -> DataFrame:
        """Approximate k-NN via the persisted LSH index (probes only the
        query's hash buckets instead of scanning the collection)."""
        from pyspark.ml.linalg import Vectors

        model, hashed = self._load_ann()
        qv = [float(x) for x in self.embedder.embed_texts([query_string])[0]]
        nn = model.approxNearestNeighbors(hashed, Vectors.dense(qv), k)
        return nn.select(
            "id", "document", F.col("distCol").alias("distance"), "metadata"
        )

    def nearest_query(self, query_string: str) -> str:
        """Exact 1-NN by Euclidean distance; returns the row id.

        Reference builds a KdTree over the whole collection per query and
        returns a positional index (embeddings.rs:386-417). Brute-force
        orderBy(L2).limit(1) gives the identical answer and parallelizes;
        ids replace positional indexes (SURVEY.md §3.3)."""
        row = self.nearest_query_df(query_string, k=1).first()
        if row is None:
            raise NotFoundError(f"collection {self.view!r} is empty")
        return row["id"]

    def nearest_query_df(self, query_string: str, k: int = 1) -> DataFrame:
        """Exact k-NN by L2 as (id, document, distance, metadata), built by
        ``operators.query.nearest_topk``."""
        vec_col, quantized = self._vec_col()
        return nearest_topk(
            self.df, self.embedder.embed_texts([query_string])[0], k, vec_col=vec_col,
            quantized=quantized, columns=["id", "document", "distance", "metadata"],
        )
