"""Declared read schemas: ``read_collection`` declares the manifest's
row shape and ``ivf_read`` the cells schema ``ivf_write`` recorded,
instead of inferring them from parquet footers on every read. These
tests pin that each declared schema equals what inference gives for
the files every writer leaves behind, so declaring changes no row and
no type."""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructType

from vector_databases___hydrate_chroma_db_collection_spark.operators.ann import (
    ivf_append,
    ivf_build,
    ivf_compact,
    ivf_read,
    ivf_upsert,
    ivf_write,
)
from vector_databases___hydrate_chroma_db_collection_spark.operators.hydrate import (
    HydrationConfig,
    hydrate,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.chroma_api import (
    collection_delete,
    collection_query,
    collection_query_ivf,
    collection_update,
    collection_upsert,
)
from vector_databases___hydrate_chroma_db_collection_spark.plans.collection import (
    collection_count,
    compact_collection,
    current_data_dir,
    export_collection,
    get_or_create_collection,
    import_collection,
    read_collection,
)

DOCS = [
    (1.0, "alpha red fox", [1.0, 0.0], 5.0),
    (2.0, "bravo red dog", [0.9, 0.1], 3.0),
    (3.0, "charlie blue cat", [0.0, 1.0], 3.0),
    (4.0, "delta blue fox", [0.1, 0.9], 1.0),
    (5.0, "echo green owl", [0.7, 0.7], 4.0),
]


def _hydrate(spark, root, n_buckets=None):
    df = spark.createDataFrame(
        DOCS, "uid double, body string, vec array<float>, stars double"
    )
    hydrate(
        spark,
        df,
        HydrationConfig(
            collection_name="s",
            root=str(root),
            id_col="uid",
            text_col="body",
            embedding_col="vec",
            metadata_col="stars",
            metadata_key="rating",
            n_buckets=n_buckets,
        ),
    )
    return str(root)


def _assert_declared_is_inferred(spark, root, name="s"):
    declared = read_collection(spark, root, name, include_bucket=True).schema
    inferred = spark.read.parquet(current_data_dir(root, name)).schema
    assert declared == inferred


def _mutate_and_check(spark, root):
    _assert_declared_is_inferred(spark, root)
    collection_upsert(
        spark, root, "s", ids=["2.0", "9.0"],
        embeddings=[[0.5, 0.5], [0.2, 0.8]],
        documents=["bravo again", "new nine"],
        metadatas=[{"rating": 2}, {"rating": 9}],
    )
    _assert_declared_is_inferred(spark, root)
    updates = spark.createDataFrame([("3.0", "charlie edited")], "id string, document string")
    assert collection_update(spark, root, "s", updates) == 1
    _assert_declared_is_inferred(spark, root)
    assert collection_delete(spark, root, "s", ids=["4.0"]) == 1
    _assert_declared_is_inferred(spark, root)
    compact_collection(spark, root, "s", target_partitions=1)
    _assert_declared_is_inferred(spark, root)
    assert sorted(r["id"] for r in read_collection(spark, root, "s").collect()) == [
        "1.0", "2.0", "3.0", "5.0", "9.0",
    ]


def test_declared_collection_schema_flat_lifecycle(spark, tmp_path):
    _mutate_and_check(spark, _hydrate(spark, tmp_path))


def test_declared_collection_schema_bucketed_lifecycle(spark, tmp_path):
    _mutate_and_check(spark, _hydrate(spark, tmp_path, n_buckets=3))


def test_declared_collection_schema_after_import(spark, tmp_path):
    src = _hydrate(spark, tmp_path / "src")
    snap = export_collection(spark, src, "s", str(tmp_path / "snap"))
    for n_buckets, name in ((None, "flat"), (2, "bucketed")):
        import_collection(
            spark, snap, str(tmp_path / "dst"), name=name, n_buckets=n_buckets
        )
        _assert_declared_is_inferred(spark, str(tmp_path / "dst"), name)


def test_empty_collection_reads_as_empty_frame(spark, tmp_path):
    """A created collection whose data dir holds no parquet yet reads
    as an empty frame in the declared schema (inference used to raise
    "Unable to infer schema" here); count and query agree."""
    root = str(tmp_path)
    for name, n_buckets in (("flat", None), ("bucketed", 2)):
        get_or_create_collection(root, name, 2, n_buckets=n_buckets)
        df = read_collection(spark, root, name)
        assert df.dtypes == [
            ("id", "string"),
            ("document", "string"),
            ("embedding", "array<float>"),
            ("metadata", "map<string,string>"),
        ]
        assert df.collect() == []
        assert collection_count(spark, root, name) == 0
        assert collection_query(spark, root, name, [1.0, 0.0]).collect() == []
    assert read_collection(
        spark, root, "bucketed", include_bucket=True
    ).dtypes[-1] == ("id_bucket", "int")


def _sidecar(idx):
    with open(os.path.join(idx, "ivf_index.json")) as f:
        return json.load(f)


def _assert_cells_schema(spark, idx):
    meta = _sidecar(idx)
    inferred = spark.read.parquet(os.path.join(idx, meta["location"])).schema
    assert StructType.fromJson(meta["cells_schema"]) == inferred
    assert ivf_read(spark, idx)[0].schema == inferred


def test_recorded_cells_schema_through_index_lifecycle(spark, tmp_path):
    root = _hydrate(spark, tmp_path)
    assigned, C = ivf_build(read_collection(spark, root, "s"), n_centroids=2, seed=7)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine")
    _assert_cells_schema(spark, idx)
    new = spark.createDataFrame(
        [("7.0", [0.3, 0.7]), ("8.0", [0.8, 0.2])], "id string, embedding array<float>"
    )
    assert ivf_append(spark, idx, new) == 2
    _assert_cells_schema(spark, idx)
    moved = spark.createDataFrame(
        [("1.0", [0.0, 1.0]), ("6.0", [0.6, 0.4])], "id string, embedding array<float>"
    )
    assert ivf_upsert(spark, idx, moved) == (1, 1)
    _assert_cells_schema(spark, idx)
    ivf_compact(spark, idx)
    _assert_cells_schema(spark, idx)
    assert ivf_read(spark, idx)[0].count() == 8


def test_sidecar_without_recorded_schema_serves_identical_rows(spark, tmp_path):
    """An index written before the cells schema was recorded infers it
    at read time and serves exactly the same rows."""
    root = _hydrate(spark, tmp_path)
    assigned, C = ivf_build(read_collection(spark, root, "s"), n_centroids=2, seed=7)
    idx = str(tmp_path / "ivf")
    ivf_write(assigned, C, idx, metric="cosine", source=(root, "s"))

    def serve(nprobe):
        return collection_query_ivf(
            spark, root, "s", [1.0, 0.2], n_results=3, index_path=idx,
            nprobe=nprobe, where={"rating": {"$gte": 3}},
            include_distance=True,
        ).collect()

    declared = [serve(1), serve(2)]
    meta = _sidecar(idx)
    del meta["cells_schema"]
    with open(os.path.join(idx, "ivf_index.json"), "w") as f:
        json.dump(meta, f)
    assert [serve(1), serve(2)] == declared
    assert ivf_read(spark, idx)[0].count() == 5
