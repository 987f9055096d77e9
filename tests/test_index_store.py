"""Persisted-index store: the lifecycle every index family shares
(drop, one-row meta, append under the stored bucket spec, compaction
swap) and the guard that keeps it in one module."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL

from customer_360_etl_pipeline_on_azure_cloud_spark.operators.dedup import (
    compact_minhash_index,
    minhash_lsh_join,
    read_minhash_index,
    write_minhash_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.operators.similarity import (
    append_ivf_index,
    compact_ivf_index,
    cosine_topk_ivf_indexed,
    read_ivf_index,
    read_ivfpq_index,
    write_ivf_index,
    write_ivfpq_index,
)
from customer_360_etl_pipeline_on_azure_cloud_spark.sources.tables import load_table
from customer_360_etl_pipeline_on_azure_cloud_spark.streaming.incremental import (
    run_foreach_batch,
    stream_file_source,
)

OPERATORS = (
    Path(__file__).resolve().parents[1]
    / "customer_360_etl_pipeline_on_azure_cloud_spark"
    / "operators"
)


def _in_micro_batch(spark, tmp_path, tag, df, fn):
    """Stream ``df`` from parquet files and call ``fn(batch_df)`` in
    each micro-batch, i.e. through the stream's own session."""
    src = tmp_path / f"{tag}_src"
    df.coalesce(1).write.parquet(str(src))
    stream = stream_file_source(spark, str(src), df.schema)
    run_foreach_batch(stream, str(tmp_path / f"{tag}_ckpt"), lambda b, _i: fn(b))


def test_compaction_keeps_rows_appended_in_a_micro_batch(spark, tmp_path):
    """Appends made through a micro-batch's session must survive a
    compaction run from the caller's session, whose cached file listing
    predates them; the compacted index must probe exactly like the
    appended one did inside the micro-batch."""
    docs = load_table(spark, SF_SMALL, "documents")
    emb = load_table(spark, SF_SMALL, "embeddings")
    mh, ivf = "t_store_mh_stream", "t_store_ivf_stream"
    base_docs = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    base_vecs = emb.filter(F.col("vec_id") % 5 != 0)
    new_vecs = emb.filter(F.col("vec_id") % 5 == 0)
    doc_probe = new_docs.filter(F.col("doc_id") < 200).collect()
    vec_probe = new_vecs.filter(F.col("vec_id") < 100).collect()

    write_minhash_index(base_docs, mh, num_buckets=4)
    write_ivf_index(base_vecs, ivf, n_centroids=4, num_buckets=4)
    # the caller's session resolves (and caches) the pre-append tables
    assert spark.table(f"{mh}_sig").count() == base_docs.count()
    assert spark.table(f"{ivf}_cells").count() == base_vecs.count()

    seen = {}

    def append_docs(batch):
        bs = batch.sparkSession
        write_minhash_index(batch, mh, num_buckets=4, mode="append")
        seen["sig"] = bs.table(f"{mh}_sig").count()
        seen["pairs"] = set(map(tuple, minhash_lsh_join(
            bs.createDataFrame(doc_probe, docs.schema),
            read_minhash_index(bs, mh),
        ).collect()))

    def append_vecs(batch):
        bs = batch.sparkSession
        append_ivf_index(batch, ivf)
        seen["cells"] = bs.table(f"{ivf}_cells").count()
        seen["top"] = sorted(map(tuple, cosine_topk_ivf_indexed(
            read_ivf_index(bs, ivf), bs.createDataFrame(vec_probe, emb.schema)
        ).collect()))

    _in_micro_batch(spark, tmp_path, "docs", new_docs, append_docs)
    _in_micro_batch(spark, tmp_path, "vecs", new_vecs, append_vecs)

    compact_minhash_index(spark, mh)
    compact_ivf_index(spark, ivf)
    assert seen["sig"] == docs.count()
    assert seen["cells"] == emb.count()
    assert spark.table(f"{mh}_sig").count() == seen["sig"]
    assert spark.table(f"{ivf}_cells").count() == seen["cells"]
    pairs = set(map(tuple, minhash_lsh_join(
        spark.createDataFrame(doc_probe, docs.schema),
        read_minhash_index(spark, mh),
    ).collect()))
    top = sorted(map(tuple, cosine_topk_ivf_indexed(
        read_ivf_index(spark, ivf), spark.createDataFrame(vec_probe, emb.schema)
    ).collect()))
    assert seen["pairs"] and pairs == seen["pairs"]
    assert seen["top"] and top == seen["top"]


def test_bad_build_argument_keeps_standing_index(spark):
    """A rebuild that fails on its arguments must leave the standing
    index readable with every row it had."""
    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 50)
    n = emb.count()

    write_ivf_index(emb, "t_store_ivf_keep", n_centroids=4, num_buckets=2)
    with pytest.raises(ValueError, match="centroid_fit"):
        write_ivf_index(emb, "t_store_ivf_keep", centroid_fit="bogus")
    assert read_ivf_index(spark, "t_store_ivf_keep").assignments.count() == n

    write_ivfpq_index(
        emb, "t_store_pq_keep", n_centroids=4, num_buckets=2,
        codebook_fit="sample",
    )
    with pytest.raises(ValueError, match="codebook_fit"):
        write_ivfpq_index(emb, "t_store_pq_keep", codebook_fit="bogus")
    assert read_ivfpq_index(spark, "t_store_pq_keep")[0].count() == n

    write_minhash_index(docs, "t_store_mh_keep", num_buckets=2)
    n_sig = read_minhash_index(spark, "t_store_mh_keep").sig.count()
    with pytest.raises(ValueError, match="divisible"):
        write_minhash_index(docs, "t_store_mh_keep", num_hashes=32, bands=5)
    assert read_minhash_index(spark, "t_store_mh_keep").sig.count() == n_sig


def test_index_lifecycle_lives_only_in_index_store():
    """Table drops and sweeps, bucket-count lookups and the compaction
    swap are written once, in operators/index_store.py."""
    markers = ("DESCRIBE FORMATTED", "RENAME TO", "hadoop.fs.Path",
               "autoBucketedScan")
    store = (OPERATORS / "index_store.py").read_text()
    assert all(m in store for m in markers)
    offenders = sorted(
        f"{p.name}: {m}"
        for p in OPERATORS.glob("*.py")
        if p.name != "index_store.py"
        for m in markers
        if m in p.read_text()
    )
    assert offenders == []
