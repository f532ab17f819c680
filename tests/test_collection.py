"""End-to-end collection lifecycle — the reference's own test scenarios
(SURVEY.md §5): cosine_etl_test (embeddings.rs:588-669) on the real
Tesla-review CSV (or, without the reference checkout, a synthetic CSV of
its layout, tests/data/car_reviews_sample.csv), nearest_test (embeddings.rs:671-719) under the hash
embedder with a numpy argmin-L2 oracle (FIXTURES.md F1/F2), plus catalog
semantics (create/save/find/delete/list, view-name gates)."""

import os
import shutil

import numpy as np
import pytest

from valentinus_spark.collection import CollectionCatalog, EmbeddingCollection
from valentinus_spark.embed import HashEmbedder
from valentinus_spark.errors import NotFoundError, ViewNameError
from valentinus_spark.sources.csv_ingest import read_review_csv

from conftest import REFERENCE_CSV


def test_cosine_etl_reference_scenario(spark, fresh_warehouse):
    """Reference cosine_etl_test (embeddings.rs:588-669): CSV → collection →
    save → filtered cosine top-10 → every row satisfies both predicates
    (strictly stronger than the reference's first-row-only assert,
    embeddings.rs:647-658) → unfiltered k=5 → delete."""
    docs = read_review_csv(spark, REFERENCE_CSV)
    assert docs.count() == 140  # 141 lines incl. header

    col = EmbeddingCollection.from_dataframe(
        spark, docs, "test_collection", embedder=HashEmbedder(dim=64)
    )
    col.save()

    found = EmbeddingCollection.find(spark, view="view-test_collection")
    res = found.cosine_query(
        "Find the best reviews.",
        num_results=10,
        f_where=[{"Year": {"eq": 2017}}, {"Rating": {"gt": 3}}],
    ).collect()
    assert len(res) == 10  # embeddings.rs:640
    for row in res:
        assert int(row["metadata"]["Year"]) == 2017  # embeddings.rs:647-652
        assert int(row["metadata"]["Rating"]) > 3  # embeddings.rs:653-658
        assert row["similarity"] > 0  # embeddings.rs:366

    unfiltered = found.cosine_query("Find the best reviews.", num_results=5)
    assert unfiltered.count() == 5  # embeddings.rs:665

    EmbeddingCollection.delete(spark, "view-test_collection")
    assert EmbeddingCollection.fetch_collection_keys(spark, views=True) == []
    with pytest.raises(NotFoundError):
        EmbeddingCollection.find(spark, view="view-test_collection")


def test_nearest_reference_scenario(spark, fresh_warehouse):
    """Reference nearest_test (embeddings.rs:671-719) — 10 topic sentences.
    Under the deterministic hash embedder the semantic assert becomes an
    exact argmin-L2 oracle vs numpy (FIXTURES.md F2)."""
    corpus = [
        "The latest iPhone model comes with impressive features and a powerful camera.",
        "Exploring the beautiful beaches and vibrant culture of Bali is a dream for many travelers.",
        "Einstein's theory of relativity revolutionized our understanding of space and time.",
        "Traditional Italian pizza is famous for its thin crust, fresh ingredients, and wood-fired ovens.",
        "The American Revolution had a profound impact on the birth of the United States as a nation.",
        "Regular exercise and a balanced diet are essential for maintaining good physical health.",
        "Leonardo da Vinci's Mona Lisa is considered one of the most iconic paintings in art history.",
        "Climate change poses a significant threat to the planet's ecosystems and biodiversity.",
        "Startup companies often face challenges in securing funding and scaling their operations.",
        "Beethoven's Symphony No. 9 is celebrated for its powerful choral finale, 'Ode to Joy.'",
    ]
    emb = HashEmbedder(dim=64)
    col = EmbeddingCollection.new(
        spark, corpus, None, None, "nearest_corpus", embedder=emb
    ).save()

    query = "Find me some delicious food!"
    got = col.nearest_query(query)

    qv = emb.embed_texts([query])[0]
    mat = emb.embed_texts(corpus)
    expect = int(np.argmin(np.linalg.norm(mat - qv, axis=1)))
    assert got == f"id{expect}"


def test_view_name_validation(spark, fresh_warehouse):
    # regex gate (embeddings.rs:107-109, 248-254)
    with pytest.raises(ViewNameError):
        EmbeddingCollection.new(spark, ["x"], None, None, "bad name!")
    # uniqueness gate (embeddings.rs:256-267)
    EmbeddingCollection.new(spark, ["x"], None, None, "dup", embedder=HashEmbedder(dim=8)).save()
    with pytest.raises(ViewNameError):
        EmbeddingCollection.new(spark, ["y"], None, None, "dup", embedder=HashEmbedder(dim=8))


def test_catalog_keys_views_and_find_by_key(spark, fresh_warehouse):
    c = EmbeddingCollection.new(
        spark, ["a", "b"], [{"k": 1}, {"k": 2}], ["i1", "i2"], "cat1",
        embedder=HashEmbedder(dim=8),
    ).save()
    keys = EmbeddingCollection.fetch_collection_keys(spark)
    views = EmbeddingCollection.fetch_collection_keys(spark, views=True)
    assert keys == [c.key] and views == ["view-cat1"]
    assert c.key.startswith("key-") and c.view == "view-cat1"  # embeddings.rs:269-271

    # find by key wins over view (embeddings.rs:548-556)
    by_key = EmbeddingCollection.find(spark, key=c.key)
    assert by_key.view == "view-cat1"
    assert sorted(by_key.get_ids()) == ["i1", "i2"]
    assert by_key.get_metadata()[0]["k"] in {"1", "2"}


def test_metadata_reference_shape_roundtrip(spark, fresh_warehouse):
    """Reference metadata arrives as lists of single-key JSON strings
    (embeddings.rs:610-613); canonicalized to one map."""
    col = EmbeddingCollection.new(
        spark,
        ["doc"],
        [['{"Year": 2017}', '{"Rating": 4}']],
        ["id0"],
        "meta_shape",
        embedder=HashEmbedder(dim=8),
    ).save()
    m = col.get_metadata()[0]
    assert m == {"Year": "2017", "Rating": "4"}


def test_cosine_query_result_wrapper(spark, fresh_warehouse):
    """Reference CosineQueryResult accessors (embeddings.rs:145-177)."""
    col = EmbeddingCollection.new(
        spark, ["alpha beta", "beta gamma", "delta"], [{"k": i} for i in range(3)],
        None, "cqr", embedder=HashEmbedder(dim=16),
    ).save()
    res = col.cosine_query_result("alpha beta", num_results=2)
    docs = res.get_docs()
    sims = res.get_similarities()
    metas = res.get_metadata()
    assert len(docs) == len(sims) == len(metas) == 2
    assert docs[0] == "alpha beta" and sims[0] > 0.99
    assert metas[0] == {"k": "0"}


def test_ann_index_lifecycle(spark, fresh_warehouse):
    """build_ann_index persists model + hashed table; approx query finds
    the exact NN (generous bucket length ⇒ single bucket on toy data)."""
    # topic token must hash to its own (bucket, sign) at this dim, or two
    # docs share an embedding and the exact NN is tie-ambiguous (under
    # the sha256 token hash, "7"/"23" and "1"/"15" collide at dim=128)
    corpus = [f"document about topic {i} with words {i}" for i in range(30)]
    col = EmbeddingCollection.new(
        spark, corpus, None, None, "annidx", embedder=HashEmbedder(dim=128)
    ).save()
    with pytest.raises(NotFoundError):
        col.nearest_query_approx("anything")
    col.build_ann_index(bucket_length=10.0, num_hash_tables=3)

    # reload through the catalog — index must survive find()
    found = EmbeddingCollection.find(spark, view="view-annidx")
    exact = found.nearest_query("document about topic 9 with words 9")
    approx = found.nearest_query_approx("document about topic 9 with words 9", k=1)
    assert approx.first()["id"] == exact == "id9"


def test_promoted_metadata_pushdown(spark, fresh_warehouse):
    """save(promote_keys=...) writes md_<key> columns; filtered queries
    target them and the predicate reaches the parquet scan."""
    col = EmbeddingCollection.new(
        spark,
        [f"doc {i}" for i in range(20)],
        [{"Year": 2015 + i % 4, "Rating": i % 5} for i in range(20)],
        None,
        "promoted",
        embedder=HashEmbedder(dim=16),
    ).save(promote_keys={"Year": "long"})

    found = EmbeddingCollection.find(spark, view="view-promoted")
    assert "md_Year" in found.df.columns
    q = found.cosine_query("doc 3", f_where=[{"Year": {"eq": 2017}}])
    rows = q.collect()
    assert rows and all(int(r["metadata"]["Year"]) == 2017 for r in rows)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # typed promotion: the COMPARISON itself reaches the scan, not just
    # IsNotNull (string-typed promotion only pushes the null check)
    assert "EqualTo(md_Year,2017)" in plan
    # same result through the map path (unpromoted key)
    q2 = found.cosine_query("doc 3", f_where=[{"Rating": {"gte": 2}}])
    assert all(int(r["metadata"]["Rating"]) >= 2 for r in q2.collect())


def test_save_persists_embeddings(spark, fresh_warehouse):
    col = EmbeddingCollection.new(
        spark, ["alpha beta", "gamma"], None, None, "persist1",
        embedder=HashEmbedder(dim=16),
    ).save()
    path = col.catalog.resolve("view-persist1")["path"]
    assert os.path.exists(path)
    re_read = spark.read.parquet(path)
    assert "embedding" in re_read.columns
    vecs = {r["id"]: r["embedding"] for r in re_read.collect()}
    expect = HashEmbedder(dim=16).embed_texts(["alpha beta"])[0]
    np.testing.assert_allclose(vecs["id0"], expect, rtol=1e-6)


def test_to_view_enables_sql(spark, fresh_warehouse):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    col = EmbeddingCollection.new(
        spark,
        documents=["alpha doc", "beta doc", "gamma doc"],
        metadata=[{"Year": y} for y in (2016, 2017, 2018)],
        ids=None,
        name="sqlable",
        embedder=HashEmbedder(dim=16),
    ).save(promote_keys={"Year": "long"})
    view = col.to_view()
    assert view == "sqlable"
    got = spark.sql(
        "SELECT id, md_Year FROM sqlable WHERE md_Year >= 2017 ORDER BY id"
    ).collect()
    assert [(r["id"], r["md_Year"]) for r in got] == [("id1", 2017), ("id2", 2018)]


def test_quantized_collection_lifecycle(spark, fresh_warehouse):
    import glob
    import os

    from valentinus_spark.collection import CollectionCatalog, EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    docs = [f"document about topic {i % 5} number {i}" for i in range(60)]
    meta = [{"Year": 2000 + i % 3} for i in range(60)]
    colf = EmbeddingCollection.new(
        spark, docs, meta, None, "floatcol", embedder=HashEmbedder(dim=64)
    ).save()
    colq = EmbeddingCollection.new(
        spark, docs, meta, None, "quantcol", embedder=HashEmbedder(dim=64)
    ).save(quantize=True)
    assert "embedding_q" in colq.df.columns and "embedding" not in colq.df.columns

    # quantized storage is materially smaller on DENSE vectors (the tiny
    # hash-embedded corpus above is zero-sparse, so floats compress too;
    # use the testdata's dense noise vectors for the size claim)
    import tempfile

    from valentinus_spark.functions.vector import quantize_embedding

    dense = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    d = tempfile.mkdtemp(prefix="vs_qsize_")
    dense.select("vec_id", "embedding").write.parquet(d + "/f")
    dense.select(
        "vec_id", quantize_embedding("embedding").alias("embedding_q")
    ).write.parquet(d + "/q")

    def dir_size(p):
        return sum(os.path.getsize(f) for f in glob.glob(p + "/*.parquet"))

    assert dir_size(d + "/q") < 0.5 * dir_size(d + "/f")

    # ranking agrees with the float collection on top-5
    top_f = [r["id"] for r in colf.cosine_query("topic 3", num_results=5).collect()]
    top_q = [r["id"] for r in colq.cosine_query("topic 3", num_results=5).collect()]
    assert len(set(top_f) & set(top_q)) >= 4
    # filtered path + nearest also work through dequantize
    assert colq.cosine_query("topic", num_results=3, f_where=[{"Year": {"eq": 2001}}]).count() == 3
    assert colq.nearest_query("document about topic 1 number 1") in {f"id{i}" for i in range(60)}


def test_batch_append(spark, fresh_warehouse):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    col = EmbeddingCollection.new(
        spark, ["first doc", "second doc"], [{"Year": 2020}, {"Year": 2021}],
        None, "appendable", embedder=HashEmbedder(dim=16),
    ).save()
    more = spark.createDataFrame(
        [("id2", "third doc", {"Year": "2022"})],
        "id string, document string, metadata map<string,string>",
    )
    col.append(more)
    assert col.df.count() == 3
    assert col.catalog.resolve("view-appendable")["n_rows"] == 3
    # appended row is embedded and queryable
    res = col.cosine_query("third doc", num_results=1)
    assert res.first()["id"] == "id2"


def test_batch_append_quantized(spark, fresh_warehouse):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    col = EmbeddingCollection.new(
        spark, ["alpha beta", "gamma delta"], None, None, "qappend",
        embedder=HashEmbedder(dim=16),
    ).save(quantize=True)
    col.append(spark.createDataFrame(
        [("id2", "epsilon zeta")], "id string, document string"))
    assert col.df.count() == 3
    assert "embedding_q" in col.df.columns and "embedding" not in col.df.columns
    assert col.cosine_query("epsilon zeta", num_results=1).first()["id"] == "id2"


def test_find_quantized_collection_queries_work(spark, fresh_warehouse):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    EmbeddingCollection.new(
        spark, ["findable doc one", "findable doc two"], None, None,
        "qfind", embedder=HashEmbedder(dim=16),
    ).save(quantize=True)
    found = EmbeddingCollection.find(spark, view="view-qfind")
    assert found.cosine_query("findable doc two", num_results=1).first()["id"] == "id1"
    assert found.nearest_query("findable doc one") == "id0"


def test_find_restores_embedder_config(spark, fresh_warehouse):
    """Regression: find() used to rebuild the embedder from name+dim only,
    so a non-default HashEmbedder seed silently produced a DIFFERENT vector
    space for query strings after reload."""
    col = EmbeddingCollection.new(
        spark, ["alpha beta", "gamma delta", "epsilon"], None, None,
        "seeded", embedder=HashEmbedder(dim=32, seed=7),
    ).save()
    found = EmbeddingCollection.find(spark, view="view-seeded")
    assert found.embedder.seed == 7 and found.embedder.dim == 32
    # query embedding matches the saved space: exact self-match at cosine 1
    top = found.cosine_query("alpha beta", num_results=1).first()
    assert top["id"] == "id0" and top["similarity"] > 0.999


def test_partitioned_append_preserves_layout(spark, fresh_warehouse):
    """Regression: append() on a partition_by collection used to write flat
    files at the table root, corrupting the Hive layout."""
    import glob

    col = EmbeddingCollection.new(
        spark,
        [f"doc {i}" for i in range(8)],
        [{"Lang": "en" if i % 2 else "de"} for i in range(8)],
        None,
        "parted",
        embedder=HashEmbedder(dim=8),
    ).save(promote_keys=["Lang"], partition_by=["md_Lang"])
    path = col.catalog.resolve("view-parted")["path"]
    col.append(spark.createDataFrame(
        [("id8", "doc 8", {"Lang": "fr"})],
        "id string, document string, metadata map<string,string>",
    ))
    # no data files at the root — everything lives under md_Lang=... dirs
    assert glob.glob(os.path.join(path, "*.parquet")) == []
    assert any("md_Lang=fr" in d for d in os.listdir(path))
    assert col.df.count() == 9
    # partition pruning still works after the append
    pruned = col.df.filter("md_Lang = 'fr'")
    assert pruned.count() == 1
    # compact() keeps the layout too
    col.compact(target_files=2)
    assert glob.glob(os.path.join(path, "*.parquet")) == []
    assert col.df.count() == 9


def test_ann_staleness_lifecycle(spark, fresh_warehouse):
    """save → build index → query ok → append → stale (query refuses) →
    rebuild → query ok again."""
    from valentinus_spark.errors import DatabaseError

    corpus = [f"topic {i} words {i}" for i in range(20)]
    col = EmbeddingCollection.new(
        spark, corpus, None, None, "stale1", embedder=HashEmbedder(dim=64)
    ).save()
    col.build_ann_index(bucket_length=10.0, num_hash_tables=3)
    assert col.nearest_query_approx("topic 3 words 3", k=1).first() is not None
    col.append(spark.createDataFrame(
        [("id20", "topic 20 words 20")], "id string, document string"))
    with pytest.raises(DatabaseError, match="stale"):
        col.nearest_query_approx("topic 3 words 3", k=1)
    col.rebuild_ann_index()
    got = col.nearest_query_approx("topic 20 words 20", k=1).first()
    assert got["id"] == "id20"


def test_delete_removes_ann_sidecars(spark, fresh_warehouse):
    """delete() removes the data and every index artifact next to it:
    the LSH table and model, the PQ codes and codebook file."""
    col = EmbeddingCollection.new(
        spark, [f"t {i}" for i in range(40)], None, None, "sidecars",
        embedder=HashEmbedder(dim=16),
    ).save()
    col.build_ann_index()
    col.build_pq_index(m=4, k=4)
    path = col.catalog.resolve("view-sidecars")["path"]
    sidecars = [path + x for x in ("_ann", "_ann_model", "_pq", "_pq_books.json")]
    assert all(os.path.exists(p) for p in sidecars)
    EmbeddingCollection.delete(spark, "view-sidecars")
    for p in [path] + sidecars:
        assert not os.path.exists(p)


def test_collections_in_one_warehouse_are_isolated(spark, fresh_warehouse):
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    a = EmbeddingCollection.new(
        spark, ["apple doc"], [{"K": 1}], None, "col_a", embedder=HashEmbedder(dim=8)
    ).save()
    b = EmbeddingCollection.new(
        spark, ["banana doc", "cherry doc"], None, None, "col_b",
        embedder=HashEmbedder(dim=8),
    ).save()
    assert a.df.count() == 1 and b.df.count() == 2
    views = set(EmbeddingCollection.fetch_collection_keys(spark, views=True))
    assert {"view-col_a", "view-col_b"} <= views
    # deleting one leaves the other intact and queryable
    EmbeddingCollection.delete(spark, "view-col_a")
    assert "view-col_a" not in set(EmbeddingCollection.fetch_collection_keys(spark, views=True))
    found = EmbeddingCollection.find(spark, view="view-col_b")
    assert found.cosine_query("banana", num_results=1).count() == 1


def test_pq_index_lifecycle(spark, fresh_warehouse):
    """PQ index on a collection: build persists codes + codebooks, the
    approximate query returns the exact 1-NN on a planted near-dup (the
    refined re-rank is exact over the shortlist), append marks the
    index stale and the query refuses until rebuild."""
    import pytest as _pytest

    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder
    from valentinus_spark.errors import DatabaseError

    emb = HashEmbedder(dim=32)
    docs = [f"document about topic number {i} with words {i * 7}" for i in range(60)]
    metas = [{"Year": 2000 + (i % 5)} for i in range(60)]
    col = EmbeddingCollection.new(
        spark, docs, metas, None, "pqcoll", embedder=emb
    ).save()
    col = col.build_pq_index(m=4, k=16)

    probe = docs[17]
    got = col.nearest_query_pq(probe, k=1).first()
    assert got["id"] == "id17" and got["similarity"] > 0.999

    # top-3 must match the exact brute-force ranking
    exact = [r["id"] for r in col.nearest_query_df(probe, k=3).collect()]
    approx = [r["id"] for r in col.nearest_query_pq(probe, k=3).collect()]
    assert approx == exact

    extra = spark.createDataFrame(
        [("idX", "a brand new appended document")], "id string, document string"
    )
    col.append(extra)
    with _pytest.raises(DatabaseError, match="stale"):
        col.nearest_query_pq(probe)
    col.build_pq_index(m=4, k=16)
    assert col.nearest_query_pq(probe, k=1).first()["id"] == "id17"


def test_stream_append_marks_pq_index_stale(spark, fresh_warehouse, tmp_path):
    """A stream append writes rows the PQ codes do not hold: like append
    and upsert it marks the index stale, so the approximate query refuses
    instead of silently missing the streamed rows."""
    from valentinus_spark.errors import DatabaseError

    emb = HashEmbedder(dim=32)
    docs = [f"document about topic number {i} with words {i * 7}" for i in range(40)]
    col = EmbeddingCollection.new(spark, docs, None, None, "pqstream", embedder=emb).save()
    col.build_pq_index(m=4, k=8)
    assert col.nearest_query_pq(docs[3], k=1).first()["id"] == "id3"

    src = str(tmp_path / "stream_in")
    spark.createDataFrame(
        [("idS", "a streamed document", None)],
        "id string, document string, metadata map<string,string>",
    ).write.parquet(src)
    stream = spark.readStream.schema("id string, document string, metadata map<string,string>").parquet(src)
    q = col.stream_append(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert col.catalog.resolve("view-pqstream")["pq_index"] == "stale"
    with pytest.raises(DatabaseError, match="stale"):
        col.nearest_query_pq(docs[3])


def test_cosine_query_many_matches_single_queries(spark, fresh_warehouse):
    """Batched multi-query scan must return, per qid, exactly the
    single-query cosine_query top-k (ids AND similarities), with the
    metadata filter applied identically."""
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    emb = HashEmbedder(dim=24)
    docs = [f"topic {i % 7} document number {i}" for i in range(40)]
    metas = [{"Year": 2000 + (i % 4)} for i in range(40)]
    col = EmbeddingCollection.new(spark, docs, metas, None, "manycoll", embedder=emb).save()

    probes = ["topic 3 document", "topic 5 document number 12", "unrelated words"]
    fw = [{"Year": {"gte": 2001}}]
    batched = col.cosine_query_many(probes, num_results=5, f_where=fw)
    by_qid = {}
    for r in batched.collect():
        by_qid.setdefault(r["qid"], []).append((r["id"], round(r["similarity"], 9)))
    for i, p in enumerate(probes):
        single = [
            (r["id"], round(r["similarity"], 9))
            for r in col.cosine_query(p, num_results=5, f_where=fw).collect()
        ]
        assert by_qid.get(i, []) == single, i

    import pytest as _pytest
    with _pytest.raises(ValueError):
        col.cosine_query_many([])


def test_federated_cosine_query_matches_per_collection_merge(spark, fresh_warehouse):
    """Scatter-gather federation: global top-k over N collections must
    equal the hand-merged union of per-collection top-k's, carry the
    right provenance, and embed the probe with EACH collection's own
    embedder (different dims per member)."""
    from valentinus_spark.collection import CollectionCatalog, EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    catalog = CollectionCatalog(spark)
    members = {}
    for ci, dim in [(0, 16), (1, 16), (2, 32)]:  # one member in another space
        docs = [f"shard {ci} topic {i % 5} document {i}" for i in range(20)]
        metas = [{"Year": 2000 + (i % 3)} for i in range(20)]
        members[f"view-fed{ci}"] = EmbeddingCollection.new(
            spark, docs, metas, None, f"fed{ci}", embedder=HashEmbedder(dim=dim),
            catalog=catalog,
        ).save()

    probe, k = "topic 3 document", 7
    got = EmbeddingCollection.federated_cosine_query(
        spark, sorted(members), probe, num_results=k, catalog=catalog
    ).collect()
    assert len(got) == k
    # provenance: each returned id must exist in the named member
    for r in got:
        assert r["id"] in set(members[r["collection"]].get_ids())
    # oracle: merge per-collection top-k by (sim desc, collection, id)
    expected = []
    for v, col in members.items():
        for r in col.cosine_query(probe, num_results=k).collect():
            expected.append((-r["similarity"], v, r["id"]))
    expected = [(v, i) for _s, v, i in sorted(expected)[:k]]
    assert [(r["collection"], r["id"]) for r in got] == expected

    # metadata filters apply inside every member
    filt = EmbeddingCollection.federated_cosine_query(
        spark, sorted(members), probe, num_results=20,
        f_where=[{"Year": {"eq": 2001}}], catalog=catalog,
    ).collect()
    assert filt
    for r in filt:
        assert r["metadata"]["Year"] == "2001"

    import pytest as _pytest
    with _pytest.raises(ValueError):
        EmbeddingCollection.federated_cosine_query(spark, [], probe)


def test_compact_safe_preserves_concurrent_append(spark, fresh_warehouse):
    """The two-phase compaction must not lose rows appended between
    begin (file snapshot) and commit (rewrite+swap) — the exact race
    the directory-swap compact() cannot survive. Content must be
    row-identical afterwards and the appended rows queryable."""
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    col = EmbeddingCollection.new(
        spark, [f"doc number {i}" for i in range(30)],
        [{"Batch": 0} for _ in range(30)], None, "safecompact",
        embedder=HashEmbedder(dim=16),
    ).save()
    before = {r["id"] for r in col.df.select("id").collect()}

    plan = col.begin_compaction()
    assert plan["files"]
    # concurrent writer lands between the phases
    col.append(spark.createDataFrame(
        [("late1", "late doc one", {"Batch": "1"}),
         ("late2", "late doc two", {"Batch": "1"})],
        "id string, document string, metadata map<string,string>",
    ))
    col.commit_compaction(plan, target_files=2)

    ids = [r["id"] for r in col.df.select("id").collect()]
    assert sorted(ids) == sorted(before | {"late1", "late2"})
    assert len(ids) == len(set(ids)), "compaction duplicated rows"
    # compacted layout actually shrank the snapshot's file count
    data_files = [
        f for f in os.listdir(col.catalog.resolve("view-safecompact")["path"])
        if f.endswith(".parquet")
    ]
    n_compacted = sum(1 for f in data_files if f.startswith("compact-"))
    assert 0 < n_compacted <= 2
    assert col.cosine_query("late doc two", num_results=1).first()["id"] == "late2"


def test_compact_safe_partitioned_layout_survives(spark, fresh_warehouse):
    """Two-phase compaction of a Hive-partitioned collection must keep
    the partition directories (and the partition column's values)."""
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    docs = [f"doc {i}" for i in range(12)]
    metas = [{"Lang": "en" if i % 2 else "de"} for i in range(12)]
    col = EmbeddingCollection.new(
        spark, docs, metas, None, "partcompact", embedder=HashEmbedder(dim=16)
    ).save(promote_keys=["Lang"], partition_by=["md_Lang"])
    before = {(r["id"], r["md_Lang"]) for r in col.df.select("id", "md_Lang").collect()}
    col.compact_safe(target_files=1)
    after = {(r["id"], r["md_Lang"]) for r in col.df.select("id", "md_Lang").collect()}
    assert after == before
    path = col.catalog.resolve("view-partcompact")["path"]
    assert sorted(d for d in os.listdir(path) if d.startswith("md_Lang=")) == [
        "md_Lang=de", "md_Lang=en",
    ]


def test_vacuum_removes_orphans_keeps_live_index(spark, fresh_warehouse):
    """vacuum(): abandoned swap/staging dirs and CATALOG-ORPHANED index
    sidecars go; live (catalog-referenced) sidecars and data stay."""
    from valentinus_spark.collection import EmbeddingCollection
    from valentinus_spark.embed import HashEmbedder

    col = EmbeddingCollection.new(
        spark, [f"doc {i} alpha beta" for i in range(10)], None, None,
        "vacuumable", embedder=HashEmbedder(dim=16),
    ).save()
    col.build_ann_index()  # LIVE sidecars — must survive
    path = col.catalog.resolve("view-vacuumable")["path"]
    os.makedirs(path + ".compact.tmp")
    os.makedirs(path + ".compact-deadbeef0000")
    open(path + "_pq_books.json", "w").write("{}")  # orphan: no pq_index flag

    dry = {r["artifact"]: r for r in col.vacuum(dry_run=True).collect()}
    assert all(r["action"] == "would_remove" for r in dry.values())
    assert os.path.exists(path + ".compact.tmp"), "dry_run must not delete"

    audit = {r["artifact"]: r["kind"] for r in col.vacuum().collect()}
    base = os.path.basename(path)
    assert audit == {
        base + ".compact.tmp": "swap_compaction_dir",
        base + ".compact-deadbeef0000": "staged_compaction_dir",
        base + "_pq_books.json": "orphan_pq_sidecar",
    }
    assert not os.path.exists(path + ".compact.tmp")
    assert not os.path.exists(path + "_pq_books.json")
    assert os.path.exists(path + "_ann"), "live ANN sidecar must survive vacuum"
    assert col.df.count() == 10
    # the live index still answers queries after vacuum
    assert col.nearest_query_approx("doc 3 alpha beta", k=1).count() == 1


# ---------------- write bookkeeping: recorded schema, observed row counts ----

_ROWS = "id string, document string, metadata map<string,string>"


@pytest.mark.parametrize(
    "layout",
    [
        {"promote_keys": {"Year": "int", "Lang": "string"}, "partition_by": ["md_Lang"]},
        {"quantize": True},
    ],
    ids=["partitioned", "quantized"],
)
def test_n_rows_matches_the_table_after_every_write(spark, fresh_warehouse, layout):
    """n_rows comes from an observation on each write (rows written by save
    and upsert, old count plus rows appended by append), not from counting
    the table again: it must still equal the table's row count."""
    docs = [f"document {i} about {i % 4}" for i in range(12)]
    metas = [{"Year": 2000 + i % 3, "Lang": "en" if i % 2 else "de"} for i in range(12)]
    col = EmbeddingCollection.new(
        spark, docs, metas, None, "counted", embedder=HashEmbedder(dim=16)
    ).save(**layout)

    def n_rows():
        n = col.catalog.resolve(col.view)["n_rows"]
        assert n == col.df.count() == EmbeddingCollection.find(spark, view=col.view).df.count()
        return n

    assert n_rows() == 12
    col.append(spark.createDataFrame(
        [("a1", "appended one", {"Year": "2001", "Lang": "en"}), ("a2", "appended two", None)], _ROWS
    ))
    assert n_rows() == 14
    col.upsert(spark.createDataFrame(
        [("id0", "replaced zero", {"Year": "2002", "Lang": "de"}), ("u1", "inserted", None)], _ROWS
    ))
    assert n_rows() == 15
    assert {r["id"]: r["document"] for r in col.df.collect()}["id0"] == "replaced zero"


def test_save_records_the_schema_spark_reads_back(spark, fresh_warehouse):
    col = EmbeddingCollection.new(
        spark, [f"doc {i}" for i in range(6)], [{"Year": 2000 + i % 2} for i in range(6)],
        None, "schemed", embedder=HashEmbedder(dim=8),
    ).save(promote_keys={"Year": "int"}, partition_by=["md_Year"])
    entry = col.catalog.resolve(col.view)
    inferred = spark.read.parquet(entry["path"]).schema
    assert entry["schema"] == inferred.jsonValue()
    assert col.df.schema == inferred
    assert EmbeddingCollection.find(spark, view=col.view).df.schema == inferred


def test_find_infers_the_schema_of_an_entry_without_one(spark, fresh_warehouse):
    """A catalog entry written before the schema was recorded still loads,
    queries and takes appends."""
    col = EmbeddingCollection.new(
        spark, [f"doc {i} words" for i in range(8)], [{"Year": 2000 + i % 2} for i in range(8)],
        None, "legacy", embedder=HashEmbedder(dim=8),
    ).save(promote_keys={"Year": "int"}, partition_by=["md_Year"])
    entry = col.catalog.resolve(col.view)
    del entry["schema"]
    col.catalog.add(col.view, entry)

    found = EmbeddingCollection.find(spark, view=col.view)
    assert found.df.schema == col.df.schema
    assert found.df.count() == 8
    top = found.cosine_query("doc 3 words", num_results=1, f_where=[{"Year": {"eq": 2001}}]).first()
    assert top["id"] == "id3"
    found.append(spark.createDataFrame([("n1", "new doc", {"Year": "2001"})], _ROWS))
    assert found.catalog.resolve(found.view)["n_rows"] == found.df.count() == 9


def test_append_runs_one_spark_job(spark, fresh_warehouse):
    """An append is its write: no schema-inference job for the re-read, no
    count jobs for the row count."""
    import uuid

    col = EmbeddingCollection.new(
        spark, [f"doc {i}" for i in range(10)], [{"Year": 2000 + i % 2} for i in range(10)],
        None, "onejob", embedder=HashEmbedder(dim=8),
    ).save(promote_keys={"Year": "int"}, partition_by=["md_Year"])
    batch = spark.createDataFrame([(f"n{i}", f"new doc {i}", {"Year": "2001"}) for i in range(5)], _ROWS)
    sc = spark.sparkContext
    group = f"append-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one append")
    try:
        col.append(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed by the listener bus
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert col.catalog.resolve(col.view)["n_rows"] == 15


def test_stream_append_keeps_saved_rows_and_replays_exactly_once(spark, fresh_warehouse, tmp_path):
    """Streamed micro-batches go through append(): the saved rows stay
    visible, the streamed row gets its promoted column and the row count,
    and a batch the stream replays is not appended twice."""
    docs = [f"saved document {i}" for i in range(10)]
    col = EmbeddingCollection.new(
        spark, docs, [{"Year": 2000 + i} for i in range(10)], None, "streamed",
        embedder=HashEmbedder(dim=16),
    ).save(promote_keys={"Year": "int"})
    src = str(tmp_path / "stream_in")
    spark.createDataFrame([("idS", "a streamed document", {"Year": "2024"})], _ROWS).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = col.stream_append(spark.readStream.schema(_ROWS).parquet(src), ckpt)
        q.awaitTermination(120)
        assert q.exception() is None

    def stored():
        found = EmbeddingCollection.find(spark, view=col.view)
        return {r["id"]: r for r in found.df.collect()}, found.catalog.resolve(col.view)["n_rows"]

    run_stream()
    rows, n_rows = stored()
    assert len(rows) == n_rows == 11
    assert rows["idS"]["md_Year"] == 2024
    assert rows["id3"]["md_Year"] == 2003
    assert col.cosine_query("a streamed document", num_results=1).first()["id"] == "idS"

    run_stream()  # same checkpoint, nothing new
    assert stored()[1] == 11 and len(stored()[0]) == 11
    # forget that batch 0 committed: the stream replays it, the catalog skips it
    for name in ("0", ".0.crc"):
        if os.path.exists(os.path.join(ckpt, "commits", name)):
            os.remove(os.path.join(ckpt, "commits", name))
    run_stream()
    rows, n_rows = stored()
    assert len(rows) == n_rows == 11


# ---------------- concurrent catalog writers, swap-dir leftovers ------------


def test_concurrent_catalog_adds_keep_every_entry(spark, fresh_warehouse):
    """Two threads x 50 ``add``s: each read-modify-write holds the lock and
    publishes through its own temp file, so the manifest stays parseable
    and no thread drops another's entries."""
    import json
    import threading

    catalog = CollectionCatalog(spark)
    errors = []

    def writer(t):
        try:
            for i in range(50):
                catalog.add(f"view-t{t}_{i}", {"key": f"key-{t}-{i}", "path": "p"})
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    with open(os.path.join(fresh_warehouse, "manifest.json")) as f:
        manifest = json.load(f)
    assert len(manifest) == 100
    assert sorted(catalog.list_views()) == sorted(f"view-t{t}_{i}" for t in range(2) for i in range(50))
    assert not [f for f in os.listdir(fresh_warehouse) if f.endswith(".tmp")]


def _swap_leftovers(spark, name):
    col = EmbeddingCollection.new(
        spark, [f"doc {i} alpha" for i in range(8)], None, None, name,
        embedder=HashEmbedder(dim=16),
    ).save()
    return col, col.catalog.resolve(f"view-{name}")["path"]


def test_vacuum_removes_upsert_swap_dirs_beside_the_live_table(spark, fresh_warehouse):
    col, path = _swap_leftovers(spark, "upsert_left")
    os.makedirs(path + ".upsert.tmp")
    os.makedirs(path + ".upsert.old")
    base = os.path.basename(path)
    audit = {(r["artifact"], r["kind"], r["action"]) for r in col.vacuum().collect()}
    assert audit == {
        (base + ".upsert.tmp", "swap_upsert_dir", "removed"),
        (base + ".upsert.old", "swap_upsert_dir", "removed"),
    }
    assert not os.path.exists(path + ".upsert.tmp")
    assert not os.path.exists(path + ".upsert.old")
    assert col.df.count() == 8


def test_vacuum_keeps_swap_dirs_that_hold_the_only_copy(spark, fresh_warehouse):
    """A crash between a swap's two renames leaves the table only in the
    swap dirs: vacuum reports them and deletes nothing."""
    col, path = _swap_leftovers(spark, "upsert_crash")
    shutil.copytree(path, path + ".upsert.tmp")
    os.rename(path, path + ".upsert.old")
    base = os.path.basename(path)
    audit = {(r["artifact"], r["kind"], r["action"]) for r in col.vacuum().collect()}
    assert audit == {
        (base + ".upsert.tmp", "swap_upsert_dir", "kept"),
        (base + ".upsert.old", "swap_upsert_dir", "kept"),
    }
    assert spark.read.parquet(path + ".upsert.old").count() == 8
    assert spark.read.parquet(path + ".upsert.tmp").count() == 8
